package graft

import org.apache.spark.sql.functions._

import graft.sources.GeoParquet

/** Reader-level limit/offset for GeoParquet (round 20 — the reference's
  * pagination options, _parquet.pyi:134-135,153-154): exact window
  * contents over the dataset's stable row order, file selection at the
  * driver (footer-only), row-group short-circuit inside boundary files,
  * and the documented guards. */
class RowWindowSpec extends SparkTestBase {

  private lazy val (dir, perFile) = {
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      "rowwin_" + java.util.UUID.randomUUID().toString.take(8))
    base.mkdirs()
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 16 << 10) // many row groups per file
    try {
      // two files with CONTROLLED sort-order names: rows 0..4999 in
      // part-000, 5000..9999 in part-001; single sorted partition per
      // file preserves row order inside each
      Seq(0, 1).foreach { k =>
        val tmp = new java.io.File(base, s"tmp$k")
        val df = spark.range(k * 5000L, (k + 1) * 5000L).toDF("id")
          .withColumn("geometry", call_function("st_point",
            col("id").cast("double"), lit(0.0)))
          .withColumn("payload", concat(lit("row"), col("id")))
          .orderBy("id").coalesce(1)
        GeoParquet.write(df, tmp.getAbsolutePath)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(base, f"part-$k%03d.parquet").toPath)
        def rmr(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rmr); f.delete()
        }
        rmr(tmp)
      }
    } finally {
      if (prev == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", prev)
    }
    (base.getAbsolutePath, 5000L)
  }

  private def ids(limit: Long, offset: Long): Seq[Long] =
    GeoParquet.read(spark, dir, limit = limit, offset = offset)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted

  test("window contents are exact across files, groups, and boundaries") {
    assert(ids(limit = 5, offset = 0) == (0L until 5L))
    assert(ids(limit = 10, offset = 4995) == (4995L until 5005L),
      "window straddling the file boundary")
    assert(ids(limit = 7, offset = 7300) == (7300L until 7307L),
      "window inside the second file")
    assert(ids(limit = -1, offset = 9990) == (9990L until 10000L), "tail via offset only")
    assert(ids(limit = 3, offset = 0) == (0L until 3L))
    assert(ids(limit = 0, offset = 50).isEmpty, "limit 0")
    assert(ids(limit = 10, offset = 10000).isEmpty, "offset at EOF")
    assert(ids(limit = 10, offset = 99999).isEmpty, "offset past EOF")
    assert(ids(limit = 20000, offset = 0).length == 10000, "limit past EOF clamps")
    // payload column rides along and geometry decodes
    val r = GeoParquet.read(spark, dir, limit = 1, offset = 1234)
      .selectExpr("payload", "ST_X(geometry) AS x").head()
    assert(r.getString(0) == "row1234" && r.getDouble(1) == 1234.0)
  }

  test("file selection: a window inside one file never opens the other") {
    val df = GeoParquet.read(spark, dir, limit = 100, offset = 7000)
    assert(df.inputFiles.length == 1 && df.inputFiles.head.contains("part-001"),
      df.inputFiles.mkString(","))
  }

  test("row-group short-circuit: a small window decodes a fraction of the file") {
    val df = GeoParquet.read(spark, dir, limit = 100, offset = 7000)
    // metrics live on the executed Dataset's own queryExecution — collect
    // THIS df, not a derived projection
    val got = df.collect().map(_.getAs[Long]("id")).sorted
    assert(got.toSeq == (7000L until 7100L))
    // the SCAN emitted only the overlapping row groups' rows (the
    // _metadata trim filter sits above it) — far fewer than the file
    val scanRows = df.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    assert(scanRows > 0 && scanRows < perFile / 2,
      s"scan decoded $scanRows rows of a $perFile-row file for a 100-row window")
  }

  test("guards: bbox composition rejected, hive layout rejected") {
    intercept[IllegalArgumentException](
      GeoParquet.read(spark, dir, bbox = Some((0.0, 0.0, 1.0, 1.0)),
        limit = 5, offset = 2))
    intercept[IllegalArgumentException](
      GeoParquet.read(spark, dir, limit = 5, offset = -1))
    val pdir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "rowwin_part_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = spark.range(100).toDF("id")
      .withColumn("geometry", call_function("st_point",
        col("id").cast("double"), lit(0.0)))
      .withColumn("k", col("id") % 2)
    GeoParquet.write(df, pdir, partitionBy = Seq("k"))
    intercept[IllegalArgumentException](
      GeoParquet.read(spark, pdir, limit = 5, offset = 0))
  }
}
