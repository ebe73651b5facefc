package graft

import java.net.InetSocketAddress
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources.{ArrowIpc, FlatGeobuf, FlatGeobufWriter}

/** Every read face of FlatGeobuf and Arrow IPC reads `http(s)://` URLs:
  * `format(...)` first, on a port no earlier read has touched, so no
  * filesystem is cached for it yet. The served files are written here. */
class HttpReadFacesSpec extends SparkTestBase {

  private def written(write: String => Unit, suffix: String): Array[Byte] = {
    val dir = Files.createTempDirectory("httpfaces").toString
    write(dir)
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(suffix)).head
    Files.readAllBytes(part.toPath)
  }

  /** Serves `bytes` at `/name` with HEAD and ranged GET on a fresh port. */
  private def withServer(name: String, bytes: Array[Byte])(body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/" + name, (ex: HttpExchange) => {
      try ex.getRequestMethod match {
        case "HEAD" =>
          ex.getResponseHeaders.set("Content-Length", bytes.length.toString)
          ex.sendResponseHeaders(200, -1)
        case "GET" =>
          Option(ex.getRequestHeaders.getFirst("Range")) match {
            case Some(r) if r.startsWith("bytes=") =>
              val Array(s, e) = r.stripPrefix("bytes=").split("-", 2)
              val start = s.toInt
              val end = if (e.isEmpty) bytes.length - 1 else math.min(e.toInt, bytes.length - 1)
              val slice = java.util.Arrays.copyOfRange(bytes, start, end + 1)
              ex.getResponseHeaders.set("Content-Range", s"bytes $start-$end/${bytes.length}")
              ex.sendResponseHeaders(206, slice.length.toLong)
              ex.getResponseBody.write(slice)
            case _ =>
              ex.sendResponseHeaders(200, bytes.length.toLong)
              ex.getResponseBody.write(bytes)
          }
        case _ => ex.sendResponseHeaders(405, -1)
      } finally ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/$name")
    finally server.stop(0)
  }

  /** Runs `body` with the http(s) schemes unbound on the context conf, as
    * in a session no http read has run in yet. */
  private def freshSchemes(body: => Unit): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.http.impl", "fs.https.impl")
    val saved = keys.map(k => k -> Option(hc.get(k)))
    keys.foreach(hc.unset)
    try body
    finally saved.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
  }

  private val points = "SELECT CAST(id AS INT) AS id, " +
    "ST_Point(CAST(id AS DOUBLE), CAST(id % 7 AS DOUBLE)) AS geometry FROM range(120)"

  test("format(\"flatgeobuf\") then FlatGeobuf.read over http") {
    val bytes = written(FlatGeobufWriter.write(spark.sql(points).coalesce(1), _), ".fgb")
    freshSchemes {
      withServer("a.fgb", bytes) { url =>
        val v2 = spark.read.format("flatgeobuf").load(url)
        assert(v2.select("id").collect().map(_.getInt(0)).sorted.toSeq == (0 until 120))
        assert(FlatGeobuf.read(spark, url).count() == 120)
        assert(FlatGeobuf.readBbox(spark, url, 10.0, 0.0, 19.0, 6.0).count() == 10)
      }
    }
  }

  test("format(\"arrowipc\") then ArrowIpc.read over http") {
    val bytes = written(ArrowIpc.write(spark.sql(points).coalesce(1), _), ".arrow")
    freshSchemes {
      withServer("a.arrow", bytes) { url =>
        val v2 = spark.read.format("arrowipc").load(url)
        assert(v2.select("id").collect().map(_.getInt(0)).sorted.toSeq == (0 until 120))
        val x = ArrowIpc.read(spark, url).selectExpr("sum(ST_X(geometry))").head().getDouble(0)
        assert(x == (0 until 120).sum.toDouble)
      }
    }
  }
}
