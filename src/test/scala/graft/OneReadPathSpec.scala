package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExternalRDDScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.MetadataBuilder

import graft.sources.{ArrowIpc, FlatGeobuf, FlatGeobufWriter, Shapefile, ShapefileWriter}

/** FlatGeobuf, Shapefile and Arrow IPC have one read path each:
  * `X.read(...)` plans the same DataSource V2 scan as
  * `spark.read.format("x").load(...)` — the same rows, schema and field
  * metadata, a `BatchScanExec` in the executed plan, column pruning down
  * to the decoder, and a reader factory that ships the Hadoop conf as a
  * broadcast rather than inside itself. Every file here is written by the
  * spec. */
class OneReadPathSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val crs = """{"id":{"authority":"EPSG","code":4326}}"""

  /** 300 rows in 3 partitions: id, label, score, and a point geometry
    * whose field metadata carries a crs and a spherical edges stamp. */
  private def source(): DataFrame = {
    val md = new MetadataBuilder()
      .putString("geoparquet.crs", crs).putString("geoparquet.edges", "spherical").build()
    spark.sql("""
      SELECT CAST(id AS INT) AS id, CONCAT('r', id) AS label,
             CAST(id * 0.5 AS DOUBLE) AS score,
             ST_Point(CAST(id % 40 AS DOUBLE), CAST(id DIV 40 AS DOUBLE)) AS geometry
      FROM range(300)""").repartition(3)
      .withColumn("geometry", col("geometry").as("geometry", md))
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private lazy val fgbDir = { val d = tmp("onepath-fgb"); FlatGeobufWriter.write(source(), d); d }
  private lazy val arrowDir = { val d = tmp("onepath-arrow"); ArrowIpc.write(source(), d); d }
  private lazy val shpDir = {
    val d = tmp("onepath-shp")
    ShapefileWriter.write(source(), d, prjWkt = Some("""GEOGCS["WGS 84"]"""))
    d
  }

  /** (function read, format name, its directory) per format. */
  private def faces: Seq[(String => DataFrame, String, String)] = Seq(
    (p => FlatGeobuf.read(spark, p), "flatgeobuf", fgbDir),
    (p => Shapefile.read(spark, p), "shapefile", shpDir),
    (p => ArrowIpc.read(spark, p), "arrowipc", arrowDir))

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).sortBy(_.head.asInstanceOf[Number].longValue)

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  test("X.read equals format(x).load: rows, schema and field metadata") {
    faces.foreach { case (read, fmt, dir) =>
      val fn = read(dir)
      val v2 = spark.read.format(fmt).load(dir)
      assert(fn.schema == v2.schema, s"$fmt schema: ${fn.schema} vs ${v2.schema}")
      assert(fn.schema.fields.map(_.metadata).toSeq == v2.schema.fields.map(_.metadata).toSeq, fmt)
      val got = rowsOf(fn)
      assert(got.length == 300, fmt)
      assert(got == rowsOf(v2), s"$fmt rows differ")
    }
    // the stamps the writers carry survive on the geometry field
    val fgbGeom = FlatGeobuf.read(spark, fgbDir).schema("geometry").metadata
    assert(fgbGeom.getString("geoparquet.edges") == "spherical")
    val arrowGeom = ArrowIpc.read(spark, arrowDir).schema("geometry").metadata
    assert(arrowGeom.getString("geoparquet.edges") == "spherical")
    assert(arrowGeom.contains("geoparquet.crs"))
    assert(Shapefile.read(spark, shpDir).schema("geometry").metadata.contains("geoparquet.crs"))
  }

  test("X.read plans a BatchScanExec and no RDD scan") {
    faces.foreach { case (read, fmt, dir) =>
      val df = read(dir).select("id", "geometry")
      df.collect()
      val p = plan(df)
      assert(collect(p) { case s: BatchScanExec => s }.length == 1, s"$fmt:\n$p")
      assert(collect(p) {
        case s: RDDScanExec => s
        case s: ExternalRDDScanExec[_] => s
      }.isEmpty, s"$fmt:\n$p")
      assert(p.toString.contains("required=[id,geometry]"), s"$fmt:\n$p")
    }
  }

  test("ArrowIpc.read(p).select(\"id\") decodes no geometry") {
    ArrowIpc.decodedGeoms.reset()
    val ids = ArrowIpc.read(spark, arrowDir).select("id").collect().map(_.getInt(0)).sorted
    assert(ids.toSeq == (0 until 300))
    assert(ArrowIpc.decodedGeoms.sum() == 0)
    ArrowIpc.decodedGeoms.reset()
    assert(ArrowIpc.read(spark, arrowDir).select("geometry").collect().length == 300)
    assert(ArrowIpc.decodedGeoms.sum() == 300)
  }

  test("FlatGeobuf.read with a bbox prunes properties it does not return") {
    // points: the index's leaf boxes are the points, so the candidates are
    // the hits, and each decodes exactly one property value (id)
    val win = (10.5, 2.5, 20.5, 4.5) // x 11..20, y 3..4
    val expected = (for (y <- 3 to 4; x <- 11 to 20) yield y * 40 + x).sorted
    FlatGeobuf.decodedPropValues.reset()
    val got = FlatGeobuf.read(spark, fgbDir, bbox = Some(win)).select("id")
      .collect().map(_.getInt(0)).sorted
    assert(got.toSeq == expected)
    assert(FlatGeobuf.decodedPropValues.sum() == expected.length)
    // all columns, and the geometry alone, still refine by envelope
    val all = FlatGeobuf.readBbox(spark, fgbDir, win._1, win._2, win._3, win._4)
    assert(all.count() == expected.length)
    assert(all.select("geometry").collect().length == expected.length)
  }

  test("each scan's serialized reader factory is small: the conf is broadcast") {
    val ser = new org.apache.spark.serializer.JavaSerializer(spark.sparkContext.getConf)
      .newInstance()
    faces.foreach { case (read, fmt, dir) =>
      Seq(read(dir), spark.read.format(fmt).load(dir)).foreach { df =>
        val scan = collect(plan(df)) { case s: BatchScanExec => s }.head
        val bytes = ser.serialize(scan.scan.toBatch.createReaderFactory()).remaining()
        assert(bytes < 8 * 1024, s"$fmt reader factory is $bytes bytes")
      }
    }
  }

  test("format(x).load(a, b): the paths option decodes as a JSON array") {
    faces.foreach { case (_, fmt, dir) =>
      val base = tmp(s"onepath-paths-$fmt")
      val plain = new java.io.File(base, "plain")
      val back = new java.io.File(base, "back\\slash")
      Seq(plain, back).foreach { d =>
        d.mkdirs()
        new java.io.File(dir).listFiles().filterNot(_.getName.startsWith(".")).foreach { f =>
          Files.copy(f.toPath, new java.io.File(d, f.getName).toPath)
        }
      }
      assert(spark.read.format(fmt).load(back.getPath).count() == 300, fmt)
      val both = spark.read.format(fmt).load(plain.getPath, back.getPath)
      assert(both.count() == 600, fmt)
      assert(both.select("id").distinct().count() == 300, fmt)
    }
  }

  test("a directory with no data files fails with the format's suffixes") {
    val empty = tmp("onepath-empty")
    val e = intercept[IllegalArgumentException](ArrowIpc.read(spark, empty))
    assert(e.getMessage.contains("no .arrow/.arrows files under"), e.getMessage)
  }
}
