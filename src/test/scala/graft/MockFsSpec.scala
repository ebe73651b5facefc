package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{ArrowIpc, FlatGeobuf, FlatGeobufWriter, GeoParquet}

/** End-to-end proof that every source speaks the Hadoop FileSystem API and
  * nothing is hardwired to the local `file:` scheme: GeoParquet, FlatGeobuf
  * and Arrow IPC each write AND read through the registry-resolved
  * `mockfs://` scheme ([[MockFs]]), the same resolution path an s3a/gs/abfs
  * URI takes on a real cluster. The MockFs open/create counters prove the
  * bytes genuinely flowed through the scheme. */
class MockFsSpec extends SparkTestBase {

  private lazy val base: String = {
    // register the scheme BEFORE the first FS resolution, on the conf every
    // sessionState.newHadoopConf() derives from
    spark.sparkContext.hadoopConfiguration.set("fs.mockfs.impl", classOf[MockFs].getName)
    "mockfs://" + Files.createTempDirectory("graft_mockfs").toString
  }

  test("GeoParquet writes, reads and bbox-prunes through a non-file scheme") {
    val dir = s"$base/pts"
    val df = spark.sql("""
      SELECT /*+ REPARTITION(3) */ id,
             ST_Point(CAST(id % 50 AS DOUBLE), CAST(CAST(id / 50 AS INT) AS DOUBLE)) AS geometry
      FROM range(2500)""")
    val c0 = MockFs.creates.get()
    GeoParquet.write(df, dir, crs = Some("""{"id":{"authority":"EPSG","code":4326}}"""))
    assert(MockFs.creates.get() > c0, "GeoParquet.write never created a file via mockfs://")

    val o0 = MockFs.opens.get()
    val meta = GeoParquet.metadata(spark, dir)
    assert(meta.exists(_.columns.head.bbox.contains((0.0, 0.0, 49.0, 49.0))))

    val full = GeoParquet.read(spark, dir)
    assert(full.count() == 2500)
    val boxed = GeoParquet.read(spark, dir, bbox = Some((10.0, 10.0, 19.0, 19.0)))
    assert(boxed.count() == 100)
    val plan = boxed.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), s"bbox pushdown lost via mockfs:\n$plan")
    assert(MockFs.opens.get() > o0, "GeoParquet.read never opened a file via mockfs://")
  }

  test("FlatGeobuf writes, reads, and index-traverses through a non-file scheme") {
    val out = s"$base/pts.fgb"
    val df = spark.sql(
      "SELECT id, ST_Point(CAST(id AS DOUBLE), CAST(id AS DOUBLE)) AS geometry FROM range(200)")
    val c0 = MockFs.creates.get()
    FlatGeobufWriter.write(df, out, index = true)
    assert(MockFs.creates.get() > c0, "FlatGeobufWriter never created a file via mockfs://")

    val o0 = MockFs.opens.get()
    val back = FlatGeobuf.read(spark, out)
    assert(back.count() == 200)
    // bbox read exercises the Hilbert-index traversal: header + index +
    // candidate feature ranges, all as seeks/reads on the mockfs stream
    val sub = FlatGeobuf.readBbox(spark, out, 50.0, 50.0, 59.0, 59.0)
    assert(sub.count() == 10)
    assert(MockFs.opens.get() > o0, "FlatGeobuf reads never opened via mockfs://")
  }

  test("Arrow IPC writes and reads through a non-file scheme") {
    val out = s"$base/pts.arrow"
    val df = spark.sql(
      "SELECT id, ST_Point(CAST(id AS DOUBLE), 0.0) AS geometry FROM range(100)")
    val c0 = MockFs.creates.get()
    ArrowIpc.write(df, out)
    assert(MockFs.creates.get() > c0, "ArrowIpc.write never created a file via mockfs://")

    val o0 = MockFs.opens.get()
    val back = ArrowIpc.read(spark, out)
    assert(back.count() == 100)
    val x = back.agg(avg(call_function("st_x", col("geometry")))).head().getDouble(0)
    assert(math.abs(x - 49.5) < 1e-9)
    assert(MockFs.opens.get() > o0, "ArrowIpc.read never opened via mockfs://")

    // Re-read: the split plan AND the wire-format flag are cached from the
    // first read and ride into the schema read and every task, so the
    // whole read costs exactly 1 open for the schema (the reader; no magic
    // probe) plus ONE open per task. On an object store those saved magic
    // probes are round trips.
    val o1 = MockFs.opens.get()
    val back2 = ArrowIpc.read(spark, out)
    val nTasks = back2.rdd.getNumPartitions
    assert(back2.count() == 100)
    assert(MockFs.opens.get() - o1 == nTasks + 1,
      s"expected ${nTasks + 1} opens (schema 1 + 1/task), got ${MockFs.opens.get() - o1}")
  }
}
