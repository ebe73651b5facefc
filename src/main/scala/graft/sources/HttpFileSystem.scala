package graft.sources

import java.io.{EOFException, IOException, InputStream}
import java.net.{HttpURLConnection, URI, URL}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  FileSystem, Path, PositionedReadable, Seekable}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Minimal READ-ONLY Hadoop FileSystem over HTTP(S) range requests — the
  * Spark face of the reference's remote async readers
  * (rust/geoarrow-flatgeobuf/src/reader/async.rs:14,24-31,244: open a
  * URL, fetch the header, then fetch only the byte ranges the spatial
  * index selects). Production data lives on object stores with real
  * Hadoop connectors (s3a/gs/abfs, proven via MockFsSpec); this closes
  * the one remaining reference capability without a matching face — the
  * bare `https://…/file.fgb` demo path — so
  * `FlatGeobuf.read(spark, "http://host/file.fgb", bbox = …)` traverses
  * the Hilbert index over the wire, fetching candidate ranges only.
  *
  * Semantics: `getFileStatus` = HEAD (Content-Length, Last-Modified;
  * GET `Range: bytes=0-0` + Content-Range total as the fallback for
  * HEAD-less servers); `open` = a seekable stream whose positioned
  * reads fetch aligned blocks (`graft.http.blockBytes`, default 256 KB)
  * through a small per-stream LRU, so the FlatGeobuf reader's
  * header/index/feature `readFully` calls become a handful of range
  * GETs. Every mutating call throws. A URL is a FILE, never a
  * directory — `listStatus` answers the single status (object-store
  * listing has no HTTP analogue). Request/byte counters are
  * package-visible so specs can assert "only candidate ranges were
  * fetched". */
class HttpFileSystem extends FileSystem {
  protected def schemeName: String = "http"
  private var fsUri: URI = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    fsUri = URI.create(s"$schemeName://${name.getAuthority}")
  }

  override def getScheme: String = schemeName
  override def getUri: URI = fsUri

  private def urlOf(f: Path): URL = {
    val u = f.toUri
    new URI(schemeName, u.getAuthority, u.getPath,
      u.getQuery, u.getFragment).toURL
  }

  private def connect(u: URL): HttpURLConnection = {
    val c = u.openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(getConf.getInt("graft.http.connectTimeoutMs", 15000))
    c.setReadTimeout(getConf.getInt("graft.http.readTimeoutMs", 60000))
    c.setInstanceFollowRedirects(true)
    c
  }

  override def getFileStatus(f: Path): FileStatus = {
    val url = urlOf(f)
    val head = connect(url)
    head.setRequestMethod("HEAD")
    HttpFileSystem.requests.increment()
    val viaHead: Option[(Long, Long)] =
      try {
        val code = head.getResponseCode
        if (code == 404)
          // the Hadoop contract: absent files are FileNotFound, which
          // FileSystem.exists() (sibling probes: .shx/.prj/.dbf) catches
          throw new java.io.FileNotFoundException(s"$url: HTTP 404")
        val l = head.getContentLengthLong
        if (code < 400 && l >= 0) Some((l, math.max(0L, head.getLastModified)))
        else None // HEAD-less (405/501) or length-less server: fall back
      } finally head.disconnect()
    val (len, mtime) = viaHead.getOrElse {
      // one 1-byte ranged GET exposes the total through
      // Content-Range: bytes 0-0/TOTAL
      val get = connect(url)
      get.setRequestProperty("Range", "bytes=0-0")
      HttpFileSystem.requests.increment()
      try {
        val code = get.getResponseCode
        if (code == 404) throw new java.io.FileNotFoundException(s"$url: HTTP 404")
        if (code >= 400) throw new IOException(s"GET $url: HTTP $code")
        val cr = get.getHeaderField("Content-Range")
        if (cr != null && cr.contains("/"))
          (cr.substring(cr.indexOf('/') + 1).trim.toLong,
            math.max(0L, get.getLastModified))
        else if (get.getContentLengthLong >= 0 &&
                 get.getHeaderField("Content-Range") == null && code == 200)
          // no range support at all: the GET's own length is the total
          (get.getContentLengthLong, math.max(0L, get.getLastModified))
        else throw new IOException(
          s"$url: no Content-Length and no Content-Range — cannot size")
      } finally get.disconnect()
    }
    new FileStatus(len, false, 1, len, mtime, f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val len = getFileStatus(f).getLen
    val block = math.max(4096, getConf.getInt("graft.http.blockBytes", 262144))
    new FSDataInputStream(new HttpRangeStream(urlOf(f), len, block, connect))
  }

  override def listStatus(f: Path): Array[FileStatus] = Array(getFileStatus(f))

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"HttpFileSystem is read-only: $op is not supported")
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = readOnly("create")
  override def append(f: Path, bufferSize: Int,
                      progress: Progressable): FSDataOutputStream = readOnly("append")
  override def rename(src: Path, dst: Path): Boolean = readOnly("rename")
  override def delete(f: Path, recursive: Boolean): Boolean = readOnly("delete")
  override def mkdirs(f: Path, permission: FsPermission): Boolean = readOnly("mkdirs")

  private var wd = new Path("/")
  override def setWorkingDirectory(dir: Path): Unit = { wd = dir }
  override def getWorkingDirectory: Path = wd
}

/** The `https://` twin — same implementation, TLS scheme. */
class HttpsFileSystem extends HttpFileSystem {
  override protected def schemeName: String = "https"
}

object HttpFileSystem {
  /** Range/HEAD request count + fetched bytes — spec evidence that a bbox
    * read fetched ONLY header + index + candidate ranges. */
  private[graft] val requests = new java.util.concurrent.atomic.LongAdder
  private[graft] val fetchedBytes = new java.util.concurrent.atomic.LongAdder

  /** Install `fs.http.impl`/`fs.https.impl` on `conf` unless the user
    * already bound those schemes to something else. */
  private[graft] def install(conf: Configuration): Unit = {
    if (conf.get("fs.http.impl") == null)
      conf.set("fs.http.impl", classOf[HttpFileSystem].getName)
    if (conf.get("fs.https.impl") == null)
      conf.set("fs.https.impl", classOf[HttpsFileSystem].getName)
  }

  /** Before a reader touches an `http(s)://` path: install on the CONTEXT
    * hadoopConfiguration, which every session conf and every shipped conf
    * copies. It must run before the first filesystem access, because
    * Hadoop caches the filesystem it picks per scheme and authority. */
  private[sources] def installIfUrl(spark: org.apache.spark.sql.SparkSession,
                                    path: String): Unit = {
    val lower = path.toLowerCase(java.util.Locale.ROOT)
    if (lower.startsWith("http://") || lower.startsWith("https://"))
      install(spark.sparkContext.hadoopConfiguration)
  }
}

/** Seekable/PositionedReadable stream over ranged GETs with a per-stream
  * LRU of aligned blocks: the FlatGeobuf reader's small positioned reads
  * (magic, header, index, per-feature) coalesce into few block fetches,
  * and re-reads of the same region (size prefix then body) hit the
  * cache instead of the network. */
private[sources] class HttpRangeStream(
    url: URL, len: Long, blockBytes: Int,
    connect: URL => HttpURLConnection)
  extends InputStream with Seekable with PositionedReadable {

  private var pos = 0L
  private val cache = new java.util.LinkedHashMap[Long, Array[Byte]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Long, Array[Byte]]): Boolean =
      size() > 16
  }

  private def fetchBlock(blockIdx: Long): Array[Byte] = {
    val cached = cache.get(blockIdx)
    if (cached != null) return cached
    val start = blockIdx * blockBytes
    val end = math.min(len, start + blockBytes) - 1
    if (start > end) return Array.emptyByteArray
    val c = connect(url)
    c.setRequestProperty("Range", s"bytes=$start-$end")
    HttpFileSystem.requests.increment()
    try {
      val code = c.getResponseCode
      if (code >= 400) throw new IOException(s"GET $url [$start-$end]: HTTP $code")
      val in = c.getInputStream
      val want = (end - start + 1).toInt
      val buf =
        if (code == 206) {
          val b = new Array[Byte](want)
          var off = 0
          while (off < want) {
            val n = in.read(b, off, want - off)
            if (n < 0) throw new EOFException(s"$url: short range body at $start")
            off += n
          }
          b
        } else {
          // server ignored Range (200): take the slice out of the full body
          val all = in.readAllBytes()
          java.util.Arrays.copyOfRange(all, start.toInt,
            math.min(all.length.toLong, start + want).toInt)
        }
      HttpFileSystem.fetchedBytes.add(buf.length.toLong)
      cache.put(blockIdx, buf)
      buf
    } finally c.disconnect()
  }

  override def read(position: Long, buffer: Array[Byte], offset: Int, length: Int): Int = {
    if (position >= len) return -1
    val n = math.min(length.toLong, len - position).toInt
    var done = 0
    while (done < n) {
      val p = position + done
      val bi = p / blockBytes
      val block = fetchBlock(bi)
      val inBlock = (p - bi * blockBytes).toInt
      val take = math.min(n - done, block.length - inBlock)
      if (take <= 0) throw new EOFException(s"$url: read past data at $p")
      System.arraycopy(block, inBlock, buffer, offset + done, take)
      done += take
    }
    n
  }

  override def readFully(position: Long, buffer: Array[Byte], offset: Int, length: Int): Unit = {
    if (position + length > len)
      throw new EOFException(s"$url: readFully($position, $length) past EOF $len")
    val n = read(position, buffer, offset, length)
    if (n < length) throw new EOFException(s"$url: short readFully at $position")
  }

  override def readFully(position: Long, buffer: Array[Byte]): Unit =
    readFully(position, buffer, 0, buffer.length)

  override def seek(p: Long): Unit = {
    if (p < 0 || p > len) throw new EOFException(s"$url: seek($p) outside [0, $len]")
    pos = p
  }
  override def getPos: Long = pos
  override def seekToNewSource(targetPos: Long): Boolean = false

  override def read(): Int = {
    if (pos >= len) return -1
    val b = new Array[Byte](1)
    val n = read(pos, b, 0, 1)
    if (n <= 0) -1 else { pos += 1; b(0) & 0xff }
  }

  override def read(b: Array[Byte], off: Int, l: Int): Int = {
    if (pos >= len) return -1
    val n = read(pos, b, off, l)
    if (n > 0) pos += n
    n
  }

  override def available(): Int = math.min(Int.MaxValue.toLong, len - pos).toInt
}
