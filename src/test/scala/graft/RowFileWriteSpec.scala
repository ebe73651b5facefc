package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}

import graft.sources.{ArrowIpc, FlatGeobuf, FlatGeobufWriter, Shapefile, ShapefileWriter}

/** FlatGeobuf, Shapefile and Arrow IPC write their part-files with one
  * writer, and a write replaces this format's `part-*` files in the
  * directory: a rewrite with fewer partitions, another Arrow IPC wire format
  * or no Shapefile `.prj` leaves nothing of the earlier write, files that
  * are not this format's part-files stay, and each write runs one Spark
  * job. */
class RowFileWriteSpec extends SparkTestBase {

  private case class Face(name: String, exts: Seq[String], write: (DataFrame, String) => Unit,
                          read: String => DataFrame)

  private val faces = Seq(
    Face("flatgeobuf", Seq("fgb"), (df, p) => FlatGeobufWriter.write(df, p),
      p => FlatGeobuf.read(spark, p)),
    Face("shapefile", Seq("shp", "shx", "dbf"), (df, p) => ShapefileWriter.write(df, p),
      p => Shapefile.read(spark, p)),
    Face("arrowipc", Seq("arrow"), (df, p) => ArrowIpc.write(df, p),
      p => ArrowIpc.read(spark, p)))

  /** `rows` rows from `from` over `parts` partitions: (id, label, point). */
  private def frame(from: Long, rows: Long, parts: Int): DataFrame =
    spark.range(from, from + rows, 1, parts).selectExpr(
      "id", "CONCAT('label-', id) AS label",
      "ST_Point(CAST(id % 97 AS DOUBLE), CAST(id DIV 97 AS DOUBLE)) AS geometry")

  private def names(dir: String): Set[String] =
    new File(dir).list().toSet.filterNot(n => n.startsWith(".") || n.endsWith(".crc"))

  private def parts(n: Int, exts: Seq[String]): Set[String] =
    (for (p <- 0 until n; e <- exts) yield f"part-$p%05d.$e").toSet

  /** The `id`s of a read, sorted; a Shapefile reads narrow ids back as Int. */
  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.get(0).asInstanceOf[Number].longValue).toSeq.sorted

  private def tempDir(face: Face): String =
    Files.createTempDirectory(s"rowfilewrite-${face.name}").toString

  faces.foreach { face =>
    test(s"${face.name}: a 2-partition write over a 4-partition write leaves only its part-files") {
      val dir = tempDir(face)
      face.write(frame(0, 400, 4), dir)
      assert(names(dir) == parts(4, face.exts))
      face.write(frame(1000, 60, 2), dir)
      assert(names(dir) == parts(2, face.exts))
      assert(ids(face.read(dir)) == (1000L until 1060L))
    }

    test(s"${face.name}: a write leaves files that are not its part-files alone") {
      val dir = tempDir(face)
      val other = Seq("notes.txt", "part-00009.txt", "_SUCCESS")
      other.foreach(n => Files.write(new File(dir, n).toPath, Array[Byte](1, 2, 3)))
      face.write(frame(0, 40, 3), dir)
      face.write(frame(0, 40, 1), dir)
      assert(names(dir) == parts(1, face.exts) ++ other)
    }

    test(s"${face.name}: a write runs 1 Spark job") {
      val dir = tempDir(face)
      val df = frame(0, 200, 4)
      assert(SparkJobs.count(spark)(face.write(df, dir)) == 1)
      assert(SparkJobs.count(spark)(face.write(df, dir)) == 1)
      assert(ids(face.read(dir)) == (0L until 200L))
    }
  }

  test("arrowipc: a file-format write over a stream-format write leaves no .arrows file") {
    val dir = Files.createTempDirectory("rowfilewrite-arrows").toString
    ArrowIpc.write(frame(0, 120, 3), dir, streamFormat = true)
    assert(names(dir) == parts(3, Seq("arrows")))
    ArrowIpc.write(frame(500, 90, 3), dir)
    assert(names(dir) == parts(3, Seq("arrow")))
    assert(ids(ArrowIpc.read(spark, dir)) == (500L until 590L))
  }

  test("arrowipc: byte, short and decimal columns are written and read back equal") {
    val dir = Files.createTempDirectory("rowfilewrite-narrow").toString
    val df = frame(0, 300, 3).selectExpr("id",
      "CAST(id % 128 AS BYTE) AS b", "CAST(id * 97 % 32768 AS SHORT) AS s",
      "CAST(id * 1.25 - 100 AS DECIMAL(12, 2)) AS d",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id AS DECIMAL(38, 0)) END AS wide",
      "geometry")
    ArrowIpc.write(df, dir)
    val back = ArrowIpc.read(spark, dir)
    assert(back.schema.map(f => f.name -> f.dataType) == df.schema.map(f => f.name -> f.dataType))
    def rows(d: DataFrame): Seq[Row] = d.orderBy("id").collect().toSeq.map(r =>
      Row.fromSeq(r.toSeq.map { case g: Array[Byte] => g.toSeq; case v => v }))
    assert(rows(back) == rows(df))
  }

  test("shapefile: a write without prjWkt over one with it leaves no .prj file") {
    val dir = Files.createTempDirectory("rowfilewrite-prj").toString
    val wgs84 = "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\",SPHEROID[\"WGS 84\",6378137,298.257223563]]," +
      "PRIMEM[\"Greenwich\",0],UNIT[\"degree\",0.0174532925199433]]"
    ShapefileWriter.write(frame(0, 80, 2), dir, prjWkt = Some(wgs84))
    assert(names(dir) == parts(2, Seq("shp", "shx", "dbf", "prj")))
    ShapefileWriter.write(frame(0, 80, 2), dir)
    assert(names(dir) == parts(2, Seq("shp", "shx", "dbf")))
    val rows: Array[Row] = Shapefile.read(spark, dir).collect()
    assert(rows.length == 80)
  }
}
