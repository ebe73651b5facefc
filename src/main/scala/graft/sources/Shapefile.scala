package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Coordinate, CoordinateXYM, CoordinateXYZM, Geometry, LinearRing, Polygon}

import graft.core.GeomOps

/** Shapefile (.shp + .dbf) reader — re-expression of the reference's legacy
  * driver (rust/geoarrow-old/src/io/shapefile/reader.rs:34): sequential
  * record decode of the ESRI shapefile pair, dBase III properties zipped
  * with geometry by record order.
  *
  * Format layout is the public ESRI whitepaper: .shp = 100-byte header +
  * [record# BE, length BE, shape] records; .dbf = 32-byte header + 32-byte
  * field descriptors + fixed-width ASCII records.
  *
  * Distribution model: one small file pair = one task; a file larger than
  * `spark.sql.files.maxPartitionBytes` splits into record-aligned byte
  * ranges via the .shx offset index ([[shxSplits]], planned by
  * [[RowFileSource.plan]] as FlatGeobuf and Arrow IPC are), and the
  * fixed-width .dbf maps the same record range to a byte range directly.
  * Many files also fan out across executors.
  */
object Shapefile {

  // ── .shp decode ───────────────────────────────────────────────────────

  /** ESRI nodata sentinel: any ordinate below -10^38 means "no value"
    * (whitepaper p.2); materialized as NaN so a nodata M never masquerades
    * as a real measure. */
  private def ord(v: Double): Double = if (v < -1e38) Double.NaN else v

  /** Decode one shape payload at `pos0`; `contentLen` (from the record
    * header) bounds the record so the OPTIONAL trailing M band is detected
    * by the bytes actually present, per the whitepaper ("optional" on every
    * Z and M type — writers legally omit it).
    *
    * Z bands decode for all Z types — the reference reader materializes
    * Dimension::XYZ for PointZ/MultipointZ/PolylineZ/PolygonZ
    * (rust/geoarrow-old/src/io/shapefile/reader.rs:100-230); M bands decode
    * to JTS measures on top (XYM/XYZM coordinate sequences → M-flagged ISO
    * WKB), which EXCEEDS the reference's XYZ-only materialization. */
  private def decodeShape(bb: ByteBuffer, pos0: Int, contentLen: Int): Geometry = {
    val f = GeomOps.factory
    var p = pos0
    val end = pos0 + contentLen
    def d(): Double = { val v = bb.getDouble(p); p += 8; v }
    def i(): Int = { val v = bb.getInt(p); p += 4; v }
    val shapeType = i()
    val zType = shapeType >= 11 && shapeType <= 18
    val mType = shapeType >= 21 && shapeType <= 28
    // one Z/M band = [min, max, v0..v(n-1)]; the range prefix is redundant
    // with the values so it's skipped, not validated
    def band(n: Int): Array[Double] = { p += 16; Array.fill(n)(ord(d())) }
    // xy block, then a required Z band on Z types, then the optional M band
    // on BOTH Z and M types when the record's remaining bytes hold it
    def coords(n: Int): Array[Coordinate] = {
      val xs = new Array[Double](n); val ys = new Array[Double](n)
      var j = 0
      while (j < n) { xs(j) = d(); ys(j) = d(); j += 1 }
      val zs = if (zType) band(n) else null
      val ms = if ((zType || mType) && end - p >= 16 + 8L * n) band(n) else null
      Array.tabulate(n) { j =>
        if (zs != null && ms != null) new CoordinateXYZM(xs(j), ys(j), zs(j), ms(j))
        else if (zs != null) new Coordinate(xs(j), ys(j), zs(j))
        else if (ms != null) new CoordinateXYM(xs(j), ys(j), ms(j))
        else new Coordinate(xs(j), ys(j))
      }
    }
    shapeType match {
      case 0 => f.createGeometryCollection() // null shape
      case 1 | 11 | 21 => // Point / PointZ / PointM
        val x = d(); val y = d()
        if (shapeType == 11) {
          val z = ord(d())
          if (end - p >= 8) f.createPoint(new CoordinateXYZM(x, y, z, ord(d())))
          else f.createPoint(new Coordinate(x, y, z))
        } else if (shapeType == 21) f.createPoint(new CoordinateXYM(x, y, ord(d())))
        else f.createPoint(new Coordinate(x, y))
      case 8 | 18 | 28 => // MultiPoint (+Z/M)
        p += 32 // bbox
        val n = i()
        f.createMultiPointFromCoords(coords(n))
      case 3 | 13 | 23 => // PolyLine (+Z/M)
        p += 32
        val numParts = i(); val numPoints = i()
        val parts = Array.fill(numParts)(i())
        val pts = coords(numPoints)
        val lines = partsToSlices(parts, numPoints).map { case (a, b) =>
          f.createLineString(pts.slice(a, b)) }
        if (lines.length == 1) lines.head else f.createMultiLineString(lines)
      case 5 | 15 | 25 => // Polygon (+Z/M): CW rings = shells, CCW = holes
        p += 32
        val numParts = i(); val numPoints = i()
        val parts = Array.fill(numParts)(i())
        val pts = coords(numPoints)
        val rings = partsToSlices(parts, numPoints).map { case (a, b) =>
          f.createLinearRing(pts.slice(a, b)) }
        assemblePolygons(rings)
      case other => throw new IllegalArgumentException(s"unsupported shape type $other")
    }
  }

  private def partsToSlices(parts: Array[Int], total: Int): Array[(Int, Int)] =
    parts.zipWithIndex.map { case (start, k) =>
      (start, if (k + 1 < parts.length) parts(k + 1) else total) }

  /** Ring assembly per the spec: clockwise rings are shells, counter-
    * clockwise rings are holes of the shell that contains them. */
  private def assemblePolygons(rings: Array[LinearRing]): Geometry = {
    val f = GeomOps.factory
    if (rings.length == 1) return f.createPolygon(rings.head)
    val isShell = rings.map(r => !org.locationtech.jts.algorithm.Orientation
      .isCCW(r.getCoordinateSequence))
    val shells = rings.zip(isShell).filter(_._2).map(_._1)
    val holes = rings.zip(isShell).filterNot(_._2).map(_._1)
    if (shells.isEmpty) return f.createPolygon(rings.head) // degenerate: treat first as shell
    val polys = shells.map { shell =>
      val shellPoly = f.createPolygon(shell)
      val mine = holes.filter(h => shellPoly.contains(f.createPoint(h.getCoordinateN(0))))
      f.createPolygon(shell, mine)
    }
    if (polys.length == 1) polys.head else f.createMultiPolygon(polys)
  }

  /** With `decode = false` the iterator walks record headers only and
    * yields nulls — a pruned-out geometry column costs a pointer walk, not
    * a JTS build (the dominant per-record cost on geometry-heavy files).
    * `sliced = true` means `bytes` is a record-aligned byte RANGE (from a
    * .shx split, no 100-byte header, records start at 0). */
  private def shpGeometries(bytes: Array[Byte], decode: Boolean = true,
                            sliced: Boolean = false): Iterator[Geometry] = {
    // record headers are big-endian, shape payloads little-endian: two views
    val be = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val (start, endExcl) =
      if (sliced) (0, bytes.length)
      else {
        require(be.getInt(0) == 9994, "not a shapefile (bad file code)")
        (100, math.min(be.getInt(24) * 2, bytes.length)) // length in 16-bit words
      }
    var p = start
    new Iterator[Geometry] {
      def hasNext: Boolean = p + 8 <= endExcl
      def next(): Geometry = {
        val contentLen = be.getInt(p + 4) * 2
        val g = if (decode) { decodedGeoms.increment(); decodeShape(le, p + 8, contentLen) } else null
        p += 8 + contentLen
        g
      }
    }
  }

  // ── .dbf decode ───────────────────────────────────────────────────────

  private case class DbfField(name: String, typ: Char, len: Int, dec: Int)

  private def dbfFields(bytes: Array[Byte]): (Seq[DbfField], Int, Int, Int) = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val numRecords = bb.getInt(4)
    val headerSize = bb.getShort(8) & 0xFFFF
    val recordSize = bb.getShort(10) & 0xFFFF
    val fields = ((32 until headerSize - 1 by 32).takeWhile(bytes(_) != 0x0D)).map { off =>
      val nameBytes = bytes.slice(off, off + 11).takeWhile(_ != 0)
      DbfField(new String(nameBytes, "ASCII").trim, bytes(off + 11).toChar,
        bytes(off + 16) & 0xFF, bytes(off + 17) & 0xFF)
    }
    (fields, numRecords, headerSize, recordSize)
  }

  private def dbfType(f: DbfField): DataType = f.typ match {
    case 'C' | 'D' => StringType
    case 'N' => if (f.dec == 0 && f.len < 10) IntegerType
                else if (f.dec == 0) LongType else DoubleType
    case 'F' => DoubleType
    case 'L' => BooleanType
    case other => StringType
  }

  // diagnostics (spec-proof of decode-level pruning; LongAdder — task
  // threads write contention-free, the test sums; same device as
  // FlatGeobuf.decodedPropValues)
  private[graft] val decodedPropValues = new java.util.concurrent.atomic.LongAdder
  private[graft] val decodedGeoms = new java.util.concurrent.atomic.LongAdder

  /** DBF records are fixed-width, so skipping a pruned-out column is free:
    * `wanted(i) = false` advances the offset without the String alloc +
    * numeric parse that dominate DBF decode. `wanted = null` decodes all. */
  private def decodeDbfRecord(bytes: Array[Byte], base: Int, fields: Seq[DbfField],
                              wanted: Array[Boolean]): Array[Any] = {
    var off = base + 1 // skip deletion flag
    fields.zipWithIndex.map { case (f, fi) =>
      if (wanted != null && !wanted(fi)) { off += f.len; null }
      else {
        val raw = new String(bytes, off, f.len, "ASCII").trim
        off += f.len
        decodedPropValues.increment()
        if (raw.isEmpty) null
        else f.typ match {
          case 'C' | 'D' => raw
          case 'N' if f.dec == 0 && f.len < 10 => raw.toInt
          case 'N' if f.dec == 0 => raw.toLong
          case 'N' | 'F' => raw.toDouble
          case 'L' => "YyTt".contains(raw.head)
          case _ => raw
        }
      }
    }.toArray[Any]
  }

  private def dbfRecords(bytes: Array[Byte],
                         wanted: Array[Boolean] = null): Iterator[Array[Any]] = {
    val (fields, numRecords, headerSize, recordSize) = dbfFields(bytes)
    (0 until numRecords).iterator.map(r =>
      decodeDbfRecord(bytes, headerSize + r * recordSize, fields, wanted))
  }

  // ── public API ────────────────────────────────────────────────────────

  private[graft] def resolveStatuses(spark: SparkSession, path: String)
      : Seq[(String, Long, Long)] =
    RowFileSource.list(spark, Format, Seq(path))

  /** One .shp pair = one task is wrong for a single large file. The .shx
    * sidecar is a fixed-width index (8 bytes per record: offset + content
    * length in 16-bit words, both BE), so a big .shp partitions into
    * record-aligned byte ranges sized to `maxPartitionBytes`. The
    * fixed-width .dbf maps the same record range to a byte range directly.
    * Returns (path, recStart, nRecs, shpByteStart, shpByteEndExcl);
    * recStart = -1 means whole file (one range, or no .shx to split by). */
  private def shxSplits(f: String, maxPartitionBytes: Long,
      conf: org.apache.hadoop.conf.Configuration): Seq[(String, Int, Int, Long, Long)] = {
    val shxP = new org.apache.hadoop.fs.Path(f.stripSuffix(".shp") + ".shx")
    val fs = shxP.getFileSystem(conf)
    if (!fs.exists(shxP)) return Seq(Format.whole(f))
    val shx = readAll(fs, shxP)
    val be = ByteBuffer.wrap(shx).order(ByteOrder.BIG_ENDIAN)
    val n = (shx.length - 100) / 8
    val groups = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int, Long, Long)]
    var gStart = 0
    var gByteStart = if (n > 0) be.getInt(100).toLong * 2 else 100L
    var acc = 0L
    var i = 0
    while (i < n) {
      val off = be.getInt(100 + 8 * i).toLong * 2
      val sz = 8L + be.getInt(104 + 8 * i).toLong * 2
      if (i > gStart && acc + sz > maxPartitionBytes) {
        groups += ((f, gStart, i - gStart, gByteStart, off))
        gStart = i; gByteStart = off; acc = 0L
      }
      acc += sz
      i += 1
    }
    if (gStart < n) {
      val lastEnd = be.getInt(100 + 8 * (n - 1)).toLong * 2 +
        8L + be.getInt(104 + 8 * (n - 1)).toLong * 2
      groups += ((f, gStart, n - gStart, gByteStart, lastEnd))
    }
    if (groups.length <= 1) Seq(Format.whole(f)) else groups.toSeq
  }

  /** Schema = DBF property columns (file order) + `geometry` WKB. A `.prj`
    * sidecar (ESRI/OGC WKT CRS text) stamps the geometry column's
    * `geoparquet.crs` field metadata — the same key the GeoParquet/FGB/
    * Arrow faces use, so a Shapefile→GeoParquet hop carries the CRS. The
    * reference leaves .prj to the caller (reader.rs:26-28 "Read this from
    * the `.prj` file ... with the same filename"); reading it here is the
    * engine doing that step for the user.
    *
    * Every consumer of `geoparquet.crs` treats the value as JSON (the
    * GeoParquet footer writer `readTree`s it; ArrowIpc JSON-parses with a
    * string fallback), so the WKT is stamped as a JSON STRING LITERAL, not
    * raw text — GeoArrow's metadata spec admits a plain-string crs (WKT2 /
    * authority:code), and a quoted string survives `readTree` everywhere.
    * GeoParquet 1.1 strictly wants PROJJSON objects; converting arbitrary
    * ESRI WKT to PROJJSON needs a CRS database we don't ship, so the
    * string form is the honest lossless carrier (readers that need PROJJSON
    * see a well-formed JSON string they can hand to PROJ). */
  private[sources] def schemaOf(fs: org.apache.hadoop.fs.FileSystem,
                                shpFile: String): StructType = {
    val dbp = new org.apache.hadoop.fs.Path(shpFile.stripSuffix(".shp") + ".dbf")
    val prj = new org.apache.hadoop.fs.Path(shpFile.stripSuffix(".shp") + ".prj")
    val geomMeta = {
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      if (fs.exists(prj)) {
        val wkt = new String(readAll(fs, prj), "UTF-8").trim
        // already-JSON .prj content (rare, e.g. a PROJJSON sidecar) passes
        // through verbatim; bare WKT is quoted into a JSON string literal —
        // the shared GeoParquet.crsJsonText contract
        if (wkt.nonEmpty) mb.putString("geoparquet.crs", GeoParquet.crsJsonText(wkt))
      }
      mb.build()
    }
    StructType(
      (if (fs.exists(dbp)) dbfFields(readAll(fs, dbp))._1
        .map(f => StructField(f.name, dbfType(f)))
      else Seq.empty) :+ StructField("geometry", BinaryType, nullable = true, geomMeta))
  }

  /** Zip geometries with property records, FAILING LOUDLY when the two
    * sides disagree in length: a plain `zip` stops at the shorter iterator,
    * so a truncated/corrupt .shp (or a .dbf with a different record count)
    * would silently drop rows AND leave the .dbf stream un-exhausted (its
    * close rides natural exhaustion). Checking both `hasNext`s every step
    * surfaces the mismatch at the first divergent record. */
  private def strictZip(f: String, geoms: Iterator[Geometry],
      props: Iterator[Array[Any]]): Iterator[(Geometry, Array[Any])] =
    new Iterator[(Geometry, Array[Any])] {
      def hasNext: Boolean = {
        val g = geoms.hasNext; val pr = props.hasNext
        require(g == pr, s"shp/dbf record-count mismatch in $f: " +
          (if (g) "more geometries than .dbf records" else "more .dbf records than geometries"))
        g
      }
      def next(): (Geometry, Array[Any]) = (geoms.next(), props.next())
    }

  /** Decode one .shp(+.dbf) pair to full-width rows. `wanted` indexes the
    * full schema (properties in file order, geometry LAST); pruned-out
    * slots stay null: DBF values skip their parse, a pruned geometry skips
    * the JTS build entirely. `wanted = null` decodes everything. Runs
    * task-side — opens its own FileSystem. */
  private[sources] def fileRows(f: String, wanted: Array[Boolean],
      conf: org.apache.hadoop.conf.Configuration): Iterator[Row] = {
    val fp = new org.apache.hadoop.fs.Path(f)
    // conf is REQUIRED (the session hadoop conf, shipped via
    // SerializableConfiguration): a bare new Configuration() here would
    // drop spark.hadoop.* overrides and credentials on s3a/hdfs
    val fsw = fp.getFileSystem(conf)
    val wantGeom = wanted == null || wanted(wanted.length - 1)
    val geoms = shpGeometries(readAll(fsw, fp), decode = wantGeom)
    val dbp = new org.apache.hadoop.fs.Path(f.stripSuffix(".shp") + ".dbf")
    val hasDbf = fsw.exists(dbp)
    val props: Iterator[Array[Any]] =
      if (hasDbf)
        dbfRecords(readAll(fsw, dbp), if (wanted == null) null else wanted.dropRight(1))
      else Iterator.continually(Array.empty[Any])
    // no .dbf → props is infinite, only plain zip terminates
    val zipped = if (hasDbf) strictZip(f, geoms, props) else geoms.zip(props)
    zipped.map { case (g, pr) =>
      Row.fromSeq(pr.toIndexedSeq :+ (if (g == null) null else GeomOps.write(g)))
    }
  }

  /** [[fileRows]] over one .shx-planned record range: reads ONLY the
    * range's .shp bytes and the matching fixed-width .dbf record slice —
    * a split task's IO is proportional to its range, not the file.
    * `recStart = -1` delegates to the whole-pair path. */
  private[sources] def fileRowsRange(f: String, recStart: Int, nRecs: Int,
      shpStart: Long, shpEnd: Long, wanted: Array[Boolean],
      conf: org.apache.hadoop.conf.Configuration): Iterator[Row] = {
    if (recStart < 0) return fileRows(f, wanted, conf)
    val fp = new org.apache.hadoop.fs.Path(f)
    val fsw = fp.getFileSystem(conf)
    val wantGeom = wanted == null || wanted(wanted.length - 1)
    val slice = readRange(fsw, fp, shpStart, (shpEnd - shpStart).toInt)
    val geoms = shpGeometries(slice, decode = wantGeom, sliced = true)
    val dbp = new org.apache.hadoop.fs.Path(f.stripSuffix(".shp") + ".dbf")
    val hasDbf = fsw.exists(dbp)
    val props: Iterator[Array[Any]] =
      if (hasDbf) {
        // ONE stream for header + record batches (object-store round trips
        // cost more than the positioned reads), and the slice decodes in
        // bounded batches: nRecs * recordSize can exceed Int range for wide
        // DBFs (recordSize up to 64 KiB), so no single whole-range array
        val in = fsw.open(dbp)
        var closed = false
        def closeIn(): Unit = if (!closed) { closed = true; in.close() }
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeIn()))
        try {
          val head = new Array[Byte](32)
          in.readFully(0, head)
          val hb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
          val headerSize = hb.getShort(8) & 0xFFFF
          val recordSize = math.max(1, hb.getShort(10) & 0xFFFF)
          val hdr = new Array[Byte](headerSize)
          in.readFully(0, hdr)
          val fields = dbfFields(hdr)._1
          val w = if (wanted == null) null else wanted.dropRight(1)
          val batchRecs = math.max(1, (16 << 20) / recordSize) // ≤16 MiB per batch
          // lifetime: the stream closes when the LAST batch is in memory,
          // on natural exhaustion, and (inside a task) at task completion;
          // a caller outside Spark that abandons mid-iteration leaks until
          // GC — acceptable for a private per-split decoder
          new Iterator[Array[Any]] {
            private var r = 0
            private var batch: Array[Byte] = null
            private var batchStart = 0
            private var batchRows = 0
            def hasNext: Boolean = { val h = r < nRecs; if (!h) closeIn(); h }
            def next(): Array[Any] = {
              if (batch == null || r >= batchStart + batchRows) {
                batchStart = r
                batchRows = math.min(batchRecs, nRecs - r)
                if (batch == null || batch.length != batchRows * recordSize)
                  batch = new Array[Byte](batchRows * recordSize)
                in.readFully(headerSize.toLong + (recStart.toLong + r) * recordSize, batch)
                if (r + batchRows >= nRecs) closeIn() // last batch is in memory
              }
              val out = decodeDbfRecord(batch, (r - batchStart) * recordSize, fields, w)
              r += 1
              out
            }
          }
        } catch { case e: Throwable => closeIn(); throw e }
      } else Iterator.continually(Array.empty[Any])
    // the sliced .dbf iterator is bounded by nRecs, so strictZip both
    // surfaces a truncated .shp range AND guarantees the stream's
    // natural-exhaustion close runs (the task listener is the backstop)
    val zipped =
      if (hasDbf) strictZip(s"$f[$recStart+$nRecs]", geoms, props)
      else geoms.zip(props)
    zipped.map { case (g, pr) =>
      Row.fromSeq(pr.toIndexedSeq :+ (if (g == null) null else GeomOps.write(g)))
    }
  }

  /** Read .shp(+.dbf) file(s) into a DataFrame (property columns +
    * `geometry` WKB). `path` may be a single .shp or a directory of them.
    * The scan of `spark.read.format("shapefile")`, so Catalyst prunes its
    * columns down to the decoder. */
  def read(spark: SparkSession, path: String): DataFrame =
    RowFileSource.read(spark, Format, Seq(path))

  /** Shapefile as a [[RowFileFormat]]; a split is [[shxSplits]]'
    * `(path, recStart, nRecs, shpByteStart, shpByteEndExcl)`. */
  private[graft] object Format extends RowFileFormat[(String, Int, Int, Long, Long)] {
    def name: String = "shapefile"
    def suffixes: Seq[String] = Seq(".shp")

    // schema from the first .dbf (driver side)
    def schemaOf(session: SparkSession, files: Seq[(String, Long, Long)]): StructType = {
      val f = files.head._1
      Shapefile.schemaOf(
        new org.apache.hadoop.fs.Path(f).getFileSystem(session.sessionState.newHadoopConf()), f)
    }

    def whole(path: String): (String, Int, Int, Long, Long) = (path, -1, -1, -1L, -1L)

    def probe(path: String, size: Long, maxPartitionBytes: Long,
              conf: org.apache.hadoop.conf.Configuration): Seq[(String, Int, Int, Long, Long)] =
      shxSplits(path, maxPartitionBytes, conf)

    def decode(split: (String, Int, Int, Long, Long), wanted: Array[Boolean],
               conf: org.apache.hadoop.conf.Configuration): Iterator[Row] = {
      val (f, rs, nr, bs, be) = split
      fileRowsRange(f, rs, nr, bs, be, wanted, conf)
    }
  }

  private def readAll(fs: org.apache.hadoop.fs.FileSystem,
                      p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val len = fs.getFileStatus(p).getLen.toInt
    val out = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, out) finally in.close()
    out
  }

  private def readRange(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path, start: Long, len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(start, out) finally in.close()
    out
  }
}

/** `spark.read.format("shapefile")`: the same scan as [[Shapefile.read]].
  * Catalyst's required-columns pushdown reaches the decoder, so a
  * pruned-out DBF column skips its fixed-width parse (offset hop only) and
  * a pruned-out geometry skips the JTS build entirely — on attribute-only
  * queries over geometry-heavy files that is most of the per-record cost.
  * The reference's legacy driver reads all columns unconditionally
  * (rust/geoarrow-old/src/io/shapefile/reader.rs:34); column selection is
  * the host engine's job there too. */
class ShapefileSource extends RowFileSource(Shapefile.Format)
