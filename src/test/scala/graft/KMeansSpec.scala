package graft

import graft.operators.KMeans

/** Deterministic k-means (round 19): blob recovery, exact determinism
  * across runs and partitionings (the integer-exact re-centroid step),
  * null/EMPTY exclusion, and the degenerate shapes. */
class KMeansSpec extends SparkTestBase {

  private def pts(xy: (Long, Double, Double)*) = {
    import spark.implicits._
    xy.toDF("id", "x", "y").selectExpr("id", "ST_Point(x, y) AS geom")
  }

  test("well-separated blobs recover exactly, labels stable across partitionings") {
    import spark.implicits._
    // 3 blobs of 30 points at (0,0), (100,0), (0,100); seeds = ids 0,1,2
    // land one per blob by construction
    val rows = (0 until 90).map { i =>
      val b = i % 3
      val (bx, by) = Seq((0.0, 0.0), (100.0, 0.0), (0.0, 100.0))(b)
      (i.toLong, bx + (i / 3) % 5 * 0.1, by + (i / 9) % 5 * 0.1)
    }
    val df = rows.toDF("id", "x", "y").selectExpr("id", "ST_Point(x, y) AS geom")
    val out = KMeans.cluster(df, "id", "geom", k = 3, iters = 5)
      .select("id", "cluster_id").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0 until 90).foreach(i => assert(out(i.toLong) == i % 3, s"id $i"))
    // repartitioned input yields the BIT-SAME labels (integer-exact sums)
    val out2 = KMeans.cluster(df.repartition(7), "id", "geom", k = 3, iters = 5)
      .select("id", "cluster_id").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == out2)
  }

  test("null and EMPTY geometries get null cluster; centroid used for non-points") {
    val df = spark.sql("""
      SELECT * FROM VALUES
        (0L, ST_Point(0.0, 0.0)),
        (1L, ST_GeomFromText('POLYGON ((99 -1, 101 -1, 101 1, 99 1, 99 -1))')),
        (2L, CAST(NULL AS BINARY)),
        (3L, ST_GeomFromText('POINT EMPTY')),
        (4L, ST_Point(0.5, 0.5)) AS t(id, geom)""")
    val out = KMeans.cluster(df, "id", "geom", k = 2, iters = 3)
      .select("id", "cluster_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(out(2L).isEmpty && out(3L).isEmpty, "null/EMPTY stay unclustered")
    // the polygon clusters by its centroid (100, 0) — with seeds (0,0)
    // and the polygon itself, it anchors the second cluster
    assert(out(1L).isDefined && out(0L).isDefined && out(4L) == out(0L))
    assert(out(1L) != out(0L))
  }

  test("degenerate shapes: k greater than n, single point, zero iterations") {
    val one = KMeans.cluster(pts((7, 3, 3)), "id", "geom", k = 5, iters = 2)
      .select("cluster_id").head().getInt(0)
    assert(one == 0)
    // iters = 0 assigns against the raw seeds
    val df = pts((0, 0, 0), (1, 10, 0), (2, 1, 0))
    val got = KMeans.cluster(df, "id", "geom", k = 2, iters = 0)
      .select("id", "cluster_id").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 0))
    intercept[IllegalArgumentException](KMeans.cluster(df, "id", "geom", k = 0))
  }
}
