package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.GeoParquet

/** The work one `GeoParquet.read` does over a 3-part-file dataset: a cold
  * read opens each footer once and runs one Spark job (the scan), a warm
  * read opens no footer. Jobs are counted by job tag, so other work on the
  * shared session does not count. */
class GeoParquetReadWorkSpec extends SparkTestBase {

  private lazy val root = Files.createTempDirectory("gp_readwork").toString

  private def points(n: Int) = spark.range(n).toDF("id")
    .withColumn("geometry", call_function("st_point",
      (col("id") % 30).cast("double"), (col("id") / 30).cast("int").cast("double")))

  /** 300 points in three part-files of 100 rows each. */
  private def threeParts(name: String, encoding: String = "WKB", covering: Boolean = true): String = {
    val out = s"$root/$name"
    GeoParquet.write(points(300).repartition(3), out, encoding = encoding, covering = covering)
    assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet")) == 3)
    out
  }

  /** (Spark jobs, footer opens) of `body`. */
  private def work(body: => Unit): (Int, Long) = {
    GeoParquet.footerOpens.reset()
    var opens = 0L
    val jobs = SparkJobs.count(spark) { body; opens = GeoParquet.footerOpens.sum() }
    (jobs, opens)
  }

  /** A cold read runs exactly one job and opens each footer once; a warm
    * read runs one job and opens none. Returns the warm read's rows. */
  private def coldThenWarm(dir: String)(read: => DataFrame): Seq[org.apache.spark.sql.Row] = {
    GeoParquet.invalidateMetadataCache()
    assert(work(read.collect()) == ((1, 3L)), "cold read: (jobs, footer opens)")
    var rows: Seq[org.apache.spark.sql.Row] = Nil
    assert(work { rows = read.collect().toSeq } == ((1, 0L)), "warm read: (jobs, footer opens)")
    rows
  }

  test("plain read: one job, one footer open per part-file, none when warm") {
    val dir = threeParts("plain")
    val rows = coldThenWarm(dir)(GeoParquet.read(spark, dir))
    assert(rows.map(_.getAs[Long]("id")).sorted == (0L until 300L))
    assert(GeoParquet.read(spark, dir).schema("geometry").metadata
      .getString("geoparquet.encoding") == "WKB")
  }

  test("covering-bbox read: one job, one footer open per part-file, none when warm") {
    val dir = threeParts("covering")
    val box = Some((2.0, 1.0, 4.0, 3.0))
    val rows = coldThenWarm(dir)(GeoParquet.read(spark, dir, bbox = box))
    assert(rows.map(_.getAs[Long]("id")).sorted == Seq(32L, 33L, 34L, 62L, 63L, 64L, 92L, 93L, 94L))
    assert(GeoParquet.read(spark, dir, bbox = box).queryExecution.executedPlan.toString
      .contains("bbox.xmin"), "covering filters reach the scan")
  }

  test("native stats-prune read: one job, one footer open per part-file, none when warm") {
    val dir = threeParts("native", encoding = "point", covering = false)
    val box = Some((2.0, 1.0, 4.0, 3.0))
    val rows = coldThenWarm(dir)(GeoParquet.read(spark, dir, bbox = box))
    assert(rows.map(_.getAs[Long]("id")).sorted == Seq(32L, 33L, 34L, 62L, 63L, 64L, 92L, 93L, 94L))
    assert(GeoParquet.read(spark, dir, bbox = box).queryExecution.executedPlan.toString
      .contains("GeoParquet"), "the scan runs through GeoParquetFileFormat")
  }

  test("limit/offset read: row counts come from the footers already read") {
    val dir = threeParts("window")
    val rows = coldThenWarm(dir)(GeoParquet.read(spark, dir, limit = 120, offset = 90))
    assert(rows.length == 120)
    // an empty window keeps the dataset's columns and runs no job
    GeoParquet.invalidateMetadataCache()
    var empty: DataFrame = null
    assert(work { empty = GeoParquet.read(spark, dir, limit = 5, offset = 300); assert(empty.isEmpty) } ==
      ((0, 3L)))
    assert(empty.columns.toSeq == GeoParquet.read(spark, dir).columns.toSeq)
  }

  test("Hive-partitioned read: partition column inferred from the listing, no extra job") {
    val dir = s"$root/hive"
    GeoParquet.write(points(300).withColumn("k", col("id") % 3).repartition(1), dir,
      partitionBy = Seq("k"))
    val rows = coldThenWarm(dir)(GeoParquet.read(spark, dir))
    assert(rows.map(r => (r.getAs[Long]("id"), r.getAs[Int]("k"))).sorted ==
      (0L until 300L).map(i => (i, (i % 3).toInt)))
    assert(GeoParquet.read(spark, dir).where("k = 1").count() == 100)
  }

  test("mergeSchema: merged from the footers in hand, equal to Spark's merge, no merge job") {
    val dir = s"$root/merge"
    Seq("a" -> 0, "b" -> 1).foreach { case (extra, k) =>
      val tmp = s"$root/merge_$extra"
      GeoParquet.write(points(10).withColumn("id", col("id") + k * 100)
        .withColumn(extra, col("id") * 2).coalesce(1), tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      new java.io.File(dir).mkdirs()
      Files.move(part.toPath, new java.io.File(dir, f"part-$k%03d.parquet").toPath)
    }
    def bySchema(df: DataFrame): (Map[String, String], Seq[String]) = {
      val names = df.columns.sorted.toSeq
      (df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap,
        df.select(names.map(n => if (n == "geometry") hex(col(n)) else col(n)): _*)
          .collect().map(_.toString).sorted.toSeq)
    }
    // without mergeSchema the schema is the first part-file's, in sorted order
    assert(!GeoParquet.read(spark, dir).columns.contains("b"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      var got: DataFrame = null
      val (jobs, opens) = work { got = GeoParquet.read(spark, dir); got.collect() }
      assert(jobs == 1 && opens == 2, s"(jobs, footer opens) = ($jobs, $opens)")
      assert(got.columns.toSet == Set("id", "geometry", "bbox", "a", "b"))
      assert(bySchema(got) == bySchema(spark.read.option("mergeSchema", "true").parquet(dir)))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("an empty directory fails with a clear message") {
    val empty = Files.createTempDirectory("gp_readwork_empty").toString
    val e = intercept[IllegalArgumentException](GeoParquet.read(spark, empty))
    assert(e.getMessage.contains("no parquet part-files under"), e.getMessage)
  }
}
