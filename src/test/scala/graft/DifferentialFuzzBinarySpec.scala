package graft

/** Differential WKT fuzz vs DuckDB, BINARY kernels (round 18, extending
  * DifferentialFuzzSpec's unary pass): the same 1200-geometry corpus
  * ([[WktFuzzGen]]) paired via a co-prime stride (i ↔ probe of
  * (i+101) mod N, so every kind meets every kind), compared against
  * `src/test/resources/wkt_fuzz_binary_expected.csv` — produced by
  * `tools/wkt_fuzz_binary_oracle.py`, ALL math in DuckDB SQL.
  *
  * Kernels covered:
  *  - planar point→geometry ST_Distance (the oracle recomputes it from
  *    segment geometry: min point-segment distance + ray-cast parity for
  *    inside-polygon ⇒ 0 — a fully independent derivation of the JTS
  *    kernel the spatial joins and kNN rank by)
  *  - haversine / Andoyer / Vincenty probe distances (the kNN geodesic
  *    metrics; Vincenty is gated to hav < 12,000 km on BOTH sides — the
  *    near-antipodal tail needs unbounded iterations, and the oracle
  *    unrolls exactly 20)
  *  - planar ST_Azimuth (coincident probes gated to 0 on both sides)
  *  - ST_LineInterpolatePoint at a per-id fraction (linear referencing)
  *  - ST_Project spherical forward (destination point, lon normalized)
  *
  * Tolerance: 1e-9 relative (1e-6 absolute floor). Divergence allowlist:
  * NONE — every id/metric must agree.
  */
class DifferentialFuzzBinarySpec extends SparkTestBase {

  private val metricCols = Seq("pg_dist", "hav_d", "and_d", "vin_d", "az",
    "li_x", "li_y", "prj_x", "prj_y")

  test(s"${WktFuzzGen.N} geometry pairs match the DuckDB recomputation on all ${metricCols.length} binary metrics") {
    val res = getClass.getResourceAsStream("/wkt_fuzz_binary_expected.csv")
    assert(res != null, "fixture missing: run tools/wkt_fuzz_binary_oracle.py (see its docstring)")
    val lines = scala.io.Source.fromInputStream(res, "UTF-8").getLines().toVector
    assert(lines.head == s"# corpus_sha256=${WktFuzzGen.corpusHash}",
      s"corpus drifted from the fixture: regenerate with tools/wkt_fuzz_binary_oracle.py (${lines.head})")
    val header = lines(1).split(",").toSeq
    assert(header == ("id" +: metricCols), s"fixture columns $header")
    val expected: Map[Int, Array[Double]] = lines.drop(2).map { l =>
      val parts = l.split(",")
      parts(0).toInt -> parts.drop(1).map(_.toDouble)
    }.toMap
    assert(expected.size == WktFuzzGen.N)

    import spark.implicits._
    WktFuzzGen.all.zipWithIndex.map { case (w, i) => (i, w) }
      .toDF("id", "wkt").createOrReplaceTempView("fuzz_bin_wkts")
    val got = spark.sql(s"""
      WITH g AS (SELECT id, ST_GeomFromText(wkt) AS g FROM fuzz_bin_wkts),
      p AS (SELECT id, g, ST_Point(ST_XMin(g), ST_YMax(g)) AS pr FROM g),
      pairs AS (
        SELECT a.id, a.g, a.pr AS pi, b.pr AS pj,
               ST_X(a.pr) AS pxi, ST_Y(a.pr) AS pyi,
               ST_X(b.pr) AS pxj, ST_Y(b.pr) AS pyj
        FROM p a JOIN p b ON b.id = (a.id + 101) % ${WktFuzzGen.N})
      SELECT id,
        ST_Distance(pj, g) AS pg_dist,
        ST_DistanceSphere(pi, pj) AS hav_d,
        ST_DistanceSpheroid(pi, pj) AS and_d,
        CASE WHEN ST_DistanceSphere(pi, pj) < 12000000.0D
                  AND NOT (pxi = pxj AND pyi = pyj)
             THEN ST_DistanceVincenty(pi, pj) ELSE 0.0D END AS vin_d,
        CASE WHEN pxi = pxj AND pyi = pyj THEN 0.0D
             ELSE ST_Azimuth(pi, pj) END AS az,
        CASE WHEN id % 6 = 2
             THEN ST_X(ST_LineInterpolatePoint(g,
                    CAST(id * 37 % 97 AS DOUBLE) / 100.0 + 0.01))
             ELSE 0.0D END AS li_x,
        CASE WHEN id % 6 = 2
             THEN ST_Y(ST_LineInterpolatePoint(g,
                    CAST(id * 37 % 97 AS DOUBLE) / 100.0 + 0.01))
             ELSE 0.0D END AS li_y,
        ST_X(ST_Project(pi, 1000.0D * CAST(id + 1 AS DOUBLE),
             CAST(id AS DOUBLE) * 0.05)) AS prj_x,
        ST_Y(ST_Project(pi, 1000.0D * CAST(id + 1 AS DOUBLE),
             CAST(id AS DOUBLE) * 0.05)) AS prj_y
      FROM pairs""")
      .collect()
    assert(got.length == WktFuzzGen.N)

    def ok(a: Double, b: Double): Boolean =
      math.abs(a - b) <= math.max(1e-6, 1e-9 * math.max(math.abs(a), math.abs(b)))

    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    got.foreach { row =>
      val id = row.getInt(0)
      val exp = expected(id)
      metricCols.indices.foreach { j =>
        val g = row.getDouble(j + 1)
        if (!ok(g, exp(j)))
          failures += s"id=$id (${WktFuzzGen.wkt(id).take(60)}...) ${metricCols(j)}: spark=$g duck=${exp(j)}"
      }
    }
    assert(failures.isEmpty,
      s"${failures.length} binary differential mismatches:\n${failures.take(20).mkString("\n")}")
  }
}
