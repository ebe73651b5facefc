package graft

import org.apache.spark.sql.functions._

import graft.operators.SpatialJoin

class KnnJoinSpec extends SparkTestBase {

  import spark.implicits._

  private def pts(rows: Seq[(Long, Double, Double)], id: String, g: String) = {
    rows.toDF(id, "__x", "__y")
      .withColumn(g, call_function("st_point", col("__x"), col("__y")))
      .drop("__x", "__y")
  }

  /** brute-force expected (lid → ranked list of (rid, dist)) */
  private def expected(left: Seq[(Long, Double, Double)],
                       right: Seq[(Long, Double, Double)], k: Int) =
    left.map { case (lid, lx, ly) =>
      lid -> right.map { case (rid, rx, ry) => (rid, math.sqrt((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry))) }
        .sortBy { case (rid, d) => (d, rid) }.take(k)
    }.toMap

  test("knn matches brute force on a small grid, including ties") {
    val l = Seq((1L, 0.0, 0.0), (2L, 10.0, 10.0), (3L, 5.0, 5.0))
    // includes two right points equidistant from left 1 (tie broken by id)
    val r = Seq((10L, 1.0, 0.0), (11L, 0.0, 1.0), (12L, 3.0, 4.0),
      (13L, 9.0, 9.0), (14L, 11.0, 11.0), (15L, 100.0, 100.0))
    val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 3, "lid", "rid")
      .select("lid", "rid", "knn_dist", "knn_rank")
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    val exp = expected(l, r, 3)
    for (lid <- l.map(_._1)) {
      assert(out(lid).map(_._1) == exp(lid).map(_._1), s"neighbor ids for left $lid")
      out(lid).zip(exp(lid)).foreach { case ((_, got), (_, want)) =>
        assert(math.abs(got - want) < 1e-12)
      }
    }
  }

  test("k larger than the right side returns all right rows") {
    val l = Seq((1L, 0.0, 0.0))
    val r = Seq((10L, 1.0, 1.0), (11L, 2.0, 2.0))
    val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 5, "lid", "rid")
    assert(out.count() == 2)
  }

  test("forced multi-round resolution (tiny initial radius) still exact") {
    val l = Seq((1L, 0.0, 0.0), (2L, 50.0, 0.0))
    val r = (0L until 40L).map(i => (100L + i, i * 2.5, 30.0))
    val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 2, "lid", "rid", initialRadius = 0.001)
      .select("lid", "rid", "knn_rank").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val exp = expected(l, r, 2)
    assert(out(1L) == exp(1L).map(_._1))
    assert(out(2L) == exp(2L).map(_._1))
  }

  test("orchestration pin: planar multi-round knn driver-job count stays bounded (round 21)") {
    // The round-20 reductions (reference-point pair dedup instead of a
    // per-round dropDuplicates Exchange, lazy checkpoint fused with the
    // loop's count) live in driver-job structure, not the final plan.
    // Pinned on the forced-multi-round fixture: a per-round Exchange or an
    // un-fused eager checkpoint re-appearing shows up as extra jobs here.
    // Bound: measured 25 jobs on this fixture (several radius-doubling
    // rounds, AQE stage jobs included) + ~10% slack — a re-introduced
    // per-round dropDuplicates Exchange or eager checkpoint adds one or
    // more jobs per round and trips it.
    val s = spark
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val l = Seq((1L, 0.0, 0.0), (2L, 50.0, 0.0))
    val r = (0L until 40L).map(i => (100L + i, i * 2.5, 30.0))
    s.sparkContext.addSparkListener(listener)
    try {
      val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
        "lg", "rg", 2, "lid", "rid", initialRadius = 7.0)
      assert(out.count() == 4)
      Thread.sleep(300) // drain the async listener bus
      val n = jobs.get()
      assert(n <= 28, s"knn orchestration regressed: $n driver jobs on the multi-round fixture")
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("cell pre-filter rounds (round 21) return exactly the unfiltered answer") {
    // the shrinking-remainder rounds can broadcast-semi-join the right side
    // on the unresolved lefts' candidate cells before the shuffle — a pure
    // superset reduction. Default gating needs a ≥1M-row right side; the
    // conf drops the bar to 0 so the path runs on the fixture. Both planar
    // and geodesic (wrapped-cell) forms must match the ungated run exactly.
    val s = spark
    val l = Seq((1L, 0.0, 0.0), (2L, 50.0, 0.0), (3L, 179.9, 10.0))
    val r = (0L until 60L).map { i =>
      val lon = if (i % 7 == 0) -179.8 + i * 0.001 else (i % 40) * 2.5
      (100L + i, lon, 10.0 + (i % 5))
    }
    def run(metric: String): Map[Long, Seq[Long]] =
      SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
        "lg", "rg", 3, "lid", "rid",
        initialRadius = if (metric == "planar") 0.5 else 5000.0, metric = metric)
        .select("lid", "rid", "knn_rank").as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    for (metric <- Seq("planar", "sphere")) {
      val c0 = SpatialJoin.cellPrefilterCount.sum()
      val plain = run(metric)
      assert(SpatialJoin.cellPrefilterCount.sum() == c0,
        "default gating (minRight 1M) must not engage on a 60-row right side")
      s.conf.set("graft.knn.cellPrefilterMinRight", "0")
      val filtered =
        try run(metric)
        finally s.conf.unset("graft.knn.cellPrefilterMinRight")
      assert(SpatialJoin.cellPrefilterCount.sum() > c0,
        s"$metric: the pre-filter path never engaged — the fixture no longer multi-rounds")
      assert(filtered == plain, s"$metric: cell pre-filter changed the answer")
    }
  }

  test("cell pre-filter under ANSI: overflowing key bounds skip the pre-filter, never throw") {
    val s = spark
    s.conf.set("spark.sql.ansi.enabled", "true")
    try {
      // cell ranges whose product (4e9 · 4e9), range (Long.MinValue to
      // Long.MaxValue) or sum (three rows of 4e18) passes the long range: in
      // long arithmetic each throws under ANSI or wraps to a small count
      val big = 4000000000L
      def within(rows: Seq[(Long, Long, Long, Long)], maxKeys: Long) =
        SpatialJoin.cellKeysWithin(rows.toDF("x0", "x1", "y0", "y1"),
          col("x0"), col("x1"), col("y0"), col("y1"), maxKeys)
      assert(!within(Seq((0L, big, 0L, big)), 2000000L), "product overflow")
      assert(!within(Seq((Long.MinValue, Long.MaxValue, 0L, 0L)), 2000000L), "range overflow")
      assert(!within(Seq.fill(3)((0L, 1999999999L, 0L, 1999999999L)), Long.MaxValue - 1), "sum overflow")
      assert(within(Seq((0L, 9L, 0L, 9L), (5L, 5L, 5L, 5L)), 101L))
      assert(!within(Seq((0L, 9L, 0L, 9L), (5L, 5L, 6L, 7L)), 101L))
      assert(!within(Nil, 101L), "no rows: nothing to bound, no pre-filter")

      // the whole kNN under ANSI with the pre-filter engaged equals the
      // answer with it off
      val l = Seq((1L, 0.0, 0.0), (2L, 50.0, 0.0), (3L, 120.0, 10.0))
      val r = (0L until 60L).map(i => (100L + i, (i % 40) * 2.5, 10.0 + (i % 5)))
      def run(): Seq[(Long, Long, Long)] =
        SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
          "lg", "rg", 3, "lid", "rid", initialRadius = 0.5)
          .select("lid", "rid", "knn_rank").as[(Long, Long, Long)].collect().toSeq.sorted
      val plain = run()
      val c0 = SpatialJoin.cellPrefilterCount.sum()
      s.conf.set("graft.knn.cellPrefilterMinRight", "0")
      val filtered = try run() finally s.conf.unset("graft.knn.cellPrefilterMinRight")
      assert(SpatialJoin.cellPrefilterCount.sum() > c0, "the pre-filter path never engaged")
      assert(filtered == plain)
    } finally s.conf.unset("spark.sql.ansi.enabled")
  }

  test("empty right side yields empty result with the knn schema") {
    val l = Seq((1L, 0.0, 0.0))
    val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(Nil, "rid", "rg"),
      "lg", "rg", 3, "lid", "rid")
    assert(out.isEmpty)
    assert(out.columns.toSeq == Seq("lid", "lg", "rid", "rg", "knn_dist", "knn_rank"))
  }

  test("every left row gets exactly min(k, |right|) neighbors at scale") {
    val l = (0L until 200L).map(i => (i, (i % 20) * 7.0, (i / 20) * 11.0))
    val r = (0L until 500L).map(i => (1000L + i, (i % 25) * 5.3, (i / 25) * 6.1))
    val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 4, "lid", "rid")
    val counts = out.groupBy("lid").count().select("count").as[Long].collect()
    assert(counts.length == 200 && counts.forall(_ == 4))
    // spot-check one row against brute force
    val exp = expected(l.filter(_._1 == 37L), r, 4)(37L).map(_._1)
    val got = out.where(col("lid") === 37L).orderBy("knn_rank")
      .select("rid").as[Long].collect().toSeq
    assert(got == exp)
  }

  /** brute-force haversine ground truth */
  private def expectedSphere(left: Seq[(Long, Double, Double)],
                             right: Seq[(Long, Double, Double)], k: Int) =
    left.map { case (lid, lx, ly) =>
      lid -> right.map { case (rid, rx, ry) =>
        (rid, graft.core.Geodesy.haversineMeters(lx, ly, rx, ry))
      }.sortBy { case (rid, d) => (d, rid) }.take(k)
    }.toMap

  test("geodesic knn: meters metric, high latitude where planar order is WRONG") {
    // at lat 60 a degree of longitude is ~55.8 km vs ~111.3 km per degree
    // of latitude: B (0, 61.5) is planar-closer to Q than A (1.9, 60) but
    // haversine-FARTHER — the metric genuinely changes the answer
    val l = Seq((1L, 0.0, 60.0))
    val r = Seq((10L, 1.9, 60.0), (11L, 0.0, 61.5), (12L, 30.0, 60.0))
    val planar = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 1, "lid", "rid")
      .select("rid").as[Long].collect().toSeq
    val sphere = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 1, "lid", "rid", metric = "sphere")
      .select("rid").as[Long].collect().toSeq
    assert(planar == Seq(11L), s"planar nearest must be B: $planar")
    assert(sphere == Seq(10L), s"haversine nearest must be A: $sphere")
    // full ranking matches brute-force haversine, including forced
    // multi-round resolution from a tiny meters radius
    val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 3, "lid", "rid", initialRadius = 5.0, metric = "sphere")
      .select("rid", "knn_dist", "knn_rank").as[(Long, Double, Long)]
      .collect().sortBy(_._3).toSeq
    val exp = expectedSphere(l, r, 3)(1L)
    assert(out.map(_._1) == exp.map(_._1), s"${out.map(_._1)} vs ${exp.map(_._1)}")
    out.zip(exp).foreach { case ((_, got, _), (_, want)) =>
      assert(math.abs(got - want) < 1e-6, s"$got vs $want")
    }
  }

  test("geodesic knn at scale: every row exact vs brute-force haversine") {
    val rnd = new scala.util.Random(99)
    val l = (0L until 60L).map(i =>
      (i, rnd.nextDouble() * 40.0 - 20.0, 45.0 + rnd.nextDouble() * 30.0))
    val r = (0L until 300L).map(i =>
      (1000L + i, rnd.nextDouble() * 40.0 - 20.0, 45.0 + rnd.nextDouble() * 30.0))
    val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 3, "lid", "rid", metric = "sphere")
      .select("lid", "rid", "knn_rank").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val exp = expectedSphere(l, r, 3)
    l.foreach { case (lid, _, _) =>
      assert(out(lid) == exp(lid).map(_._1), s"left $lid: ${out(lid)} vs ${exp(lid)}")
    }
  }

  test("planner: stamped-column kNN window shape takes KnnTopKExec with the sphere metric") {
    val tmp = java.nio.file.Files.createTempDirectory("knn_edges").toString
    val l = Seq((1L, 0.0, 60.0), (2L, 5.0, 70.0))
    val r = Seq((10L, 1.9, 60.0), (11L, 0.0, 61.5), (12L, 30.0, 60.0), (13L, 5.2, 70.1))
    graft.sources.GeoParquet.write(pts(l, "lid", "geometry"), tmp + "/l",
      edges = Some("spherical"))
    graft.sources.GeoParquet.read(spark, tmp + "/l")
      .selectExpr("lid", "geometry AS lg").createOrReplaceTempView("knn_el")
    pts(r, "rid", "rg").createOrReplaceTempView("knn_er")
    // ST_Distance over the stamped column rewrites to haversine; the kNN
    // planner must still intercept the window shape AND carry the metric
    val df = sql("""
      SELECT lid, rid, d, rk FROM (
        SELECT l.lid, r.rid, ST_Distance(l.lg, r.rg) AS d,
               ROW_NUMBER() OVER (PARTITION BY l.lid ORDER BY ST_Distance(l.lg, r.rg)) AS rk
        FROM knn_el l CROSS JOIN knn_er r) t
      WHERE rk <= 1""")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("KnnTopK"), s"expected KnnTopK in:\n$plan")
    val got = df.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).sortBy(_._1)
    val exp = expectedSphere(l, r, 1)
    assert(got.map(_._2).toSeq == Seq(exp(1L).head._1, exp(2L).head._1),
      s"haversine nearest per row: ${got.toSeq}")
    got.foreach { case (lid, _, d) =>
      assert(math.abs(d - exp(lid).head._2) < 1e-6, s"distance column is meters: $d")
    }
  }

  test("planner: explicit ST_DistanceSphere window (no stamped column) takes KnnTopKExec with meters") {
    // a user without edges-stamped files writes the geodesic kNN directly —
    // the same window interception must fire on the explicit kernel
    val l = Seq((1L, 0.0, 60.0), (2L, 5.0, 70.0))
    val r = Seq((10L, 1.9, 60.0), (11L, 0.0, 61.5), (12L, 30.0, 60.0), (13L, 5.2, 70.1))
    pts(l, "lid", "lg").createOrReplaceTempView("knn_ek_l")
    pts(r, "rid", "rg").createOrReplaceTempView("knn_ek_r")
    val df = sql("""
      SELECT lid, rid, d, rk FROM (
        SELECT l.lid, r.rid, ST_DistanceSphere(l.lg, r.rg) AS d,
               ROW_NUMBER() OVER (PARTITION BY l.lid ORDER BY ST_DistanceSphere(l.lg, r.rg)) AS rk
        FROM knn_ek_l l CROSS JOIN knn_ek_r r) t
      WHERE rk <= 1""")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("KnnTopK"), s"expected KnnTopK in:\n$plan")
    val got = df.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).sortBy(_._1)
    val exp = expectedSphere(l, r, 1)
    assert(got.map(_._2).toSeq == Seq(exp(1L).head._1, exp(2L).head._1))
    got.foreach { case (lid, _, d) =>
      assert(math.abs(d - exp(lid).head._2) < 1e-6, s"meters column: $d")
    }
  }

  test("planner: windowed top-k-by-distance SQL shape plans as KnnTopKExec") {
    val l = Seq((1L, 0.0, 0.0), (2L, 10.0, 10.0), (3L, 5.0, 5.0))
    val r = Seq((10L, 1.0, 0.0), (11L, 0.0, 1.0), (12L, 3.0, 4.0),
      (13L, 9.0, 9.0), (14L, 11.0, 11.0), (15L, 100.0, 100.0))
    pts(l, "lid", "lg").createOrReplaceTempView("knn_l")
    pts(r, "rid", "rg").createOrReplaceTempView("knn_r")
    val df = sql("""
      SELECT lid, rid, d, rk FROM (
        SELECT l.lid, r.rid, ST_Distance(l.lg, r.rg) AS d,
               ROW_NUMBER() OVER (PARTITION BY l.lid ORDER BY ST_Distance(l.lg, r.rg)) AS rk
        FROM knn_l l CROSS JOIN knn_r r) t
      WHERE rk <= 2""")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("KnnTopK"), s"expected KnnTopK in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "cartesian survived the rewrite")
    // results equal the brute-force ground truth (distances are tie-free
    // here except the documented arbitrary ROW_NUMBER tie at left 1, so
    // compare the neighbor SETS per rank like the literal plan would allow)
    val got = df.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getInt(3)))
    val exp = expected(l, r, 2)
    assert(got.length == 6)
    got.groupBy(_._1).foreach { case (lid, rows) =>
      assert(rows.map(_._3).sorted.zip(exp(lid).map(_._2)).forall {
        case (a, b) => math.abs(a - b) < 1e-12
      }, s"distances for left $lid")
      assert(rows.map(_._4).sorted.toSeq == Seq(1, 2))
    }
  }

  test("planner: non-unique partition key ranks per GROUP like the literal plan") {
    // three left rows share category 'a' (one group of 3) and one is 'b' —
    // the round-9 advice case: a per-row-unique-key assumption would
    // collapse/drop rows here. Distances are pairwise distinct by
    // construction, so group ranking is deterministic and comparable
    // against the literal window plan run WITHOUT the rewrite.
    val l = Seq((1L, "a", 0.0, 0.0), (2L, "a", 10.0, 0.0), (3L, "a", 0.3, 0.1),
                (4L, "b", 5.0, 5.0))
    val r = Seq((10L, 1.0, 0.0), (11L, 0.0, 2.0), (12L, 9.0, 1.0),
      (13L, 4.0, 4.0), (14L, 30.0, 30.0))
    l.toDF("lid", "cat", "__x", "__y")
      .withColumn("lg", call_function("st_point", col("__x"), col("__y")))
      .drop("__x", "__y").createOrReplaceTempView("knn_gl")
    pts(r, "rid", "rg").createOrReplaceTempView("knn_gr")
    val q = """
      SELECT cat, lid, rid, d, rk FROM (
        SELECT l.cat, l.lid, r.rid, ST_Distance(l.lg, r.rg) AS d,
               ROW_NUMBER() OVER (PARTITION BY l.cat ORDER BY ST_Distance(l.lg, r.rg)) AS rk
        FROM knn_gl l CROSS JOIN knn_gr r) t
      WHERE rk <= 3"""
    val df = sql(q)
    assert(df.queryExecution.executedPlan.toString.contains("KnnTopK"))
    val got = df.collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getDouble(3), x.getInt(4)))
      .sortBy(t => (t._1, t._5))
    // ground truth: rank ALL group pairs by distance (distances pairwise
    // distinct by construction, so the literal plan's output is unique)
    val brute = (for ((lid, cat, lx, ly) <- l; (rid, rx, ry) <- r)
        yield (cat, lid, rid, math.hypot(lx - rx, ly - ry)))
      .groupBy(_._1).toSeq.flatMap { case (cat, pairs) =>
        pairs.sortBy(_._4).take(3).zipWithIndex
          .map { case ((c, lid, rid, d), i) => (c, lid, rid, d, i + 1) }
      }.sortBy(t => (t._1, t._5))
    assert(got.length == 6)
    got.zip(brute).foreach { case (g, b) =>
      assert(g._1 == b._1 && g._2 == b._2 && g._3 == b._3 && g._5 == b._5,
        s"got ${got.toSeq}\nexpected ${brute}")
      assert(math.abs(g._4 - b._4) < 1e-12)
    }
  }

  test("planner: near-miss shapes fall through to Spark's own planning") {
    pts(Seq((1L, 0.0, 0.0)), "lid", "lg").createOrReplaceTempView("knn_l2")
    pts(Seq((10L, 1.0, 0.0), (11L, 2.0, 0.0)), "rid", "rg").createOrReplaceTempView("knn_r2")
    // DENSE_RANK DESC is not planned (the k-th DISTINCT distance has no
    // cell bound — see SpatialJoin.farthestK) — must not fire; plain
    // ROW_NUMBER/RANK DESC now plan as descending KnnTopK (round 19)
    val desc = sql("""
      SELECT * FROM (
        SELECT l.lid, r.rid,
               DENSE_RANK() OVER (PARTITION BY l.lid ORDER BY ST_Distance(l.lg, r.rg) DESC) AS rk
        FROM knn_l2 l CROSS JOIN knn_r2 r) t WHERE rk <= 1""")
    assert(!desc.queryExecution.executedPlan.toString.contains("KnnTopK"))
    assert(desc.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 11L)))
  }

  test("planner: DENSE_RANK() kNN shape plans as KnnTopKExec with k distinct classes") {
    pts(Seq((1L, 0.0, 0.0)), "lid", "lg").createOrReplaceTempView("knn_dr_l")
    // distances: 1 (x2 tie), 2, 5 — DENSE_RANK <= 2 keeps the first TWO
    // distance classes (3 rows), unlike RANK <= 2 (2 rows) or
    // ROW_NUMBER <= 2 (2 rows)
    pts(Seq((20L, 1.0, 0.0), (21L, 0.0, 1.0), (22L, 2.0, 0.0), (23L, 5.0, 0.0)),
        "rid", "rg").createOrReplaceTempView("knn_dr_r")
    val dr = sql("""
      SELECT * FROM (
        SELECT l.lid, r.rid,
               DENSE_RANK() OVER (PARTITION BY l.lid ORDER BY ST_Distance(l.lg, r.rg)) AS rk
        FROM knn_dr_l l CROSS JOIN knn_dr_r r) t WHERE rk <= 2""")
    val plan = dr.queryExecution.executedPlan.toString
    assert(plan.contains("KnnTopK"), s"DENSE_RANK shape must plan as KnnTopK:\n$plan")
    val rows = dr.collect().map(r => (r.getLong(1), r.getInt(2))).sortBy(_._1)
    assert(rows.toSeq == Seq((20L, 1), (21L, 1), (22L, 2)),
      s"two distance classes with shared dense ranks expected, got ${rows.toSeq}")
  }

  test("planner: RANK() kNN shape plans as KnnTopKExec and keeps boundary ties") {
    pts(Seq((1L, 0.0, 0.0)), "lid", "lg").createOrReplaceTempView("knn_rk_l")
    // two rights tied at distance 1, one at 5: RANK <= 1 must return BOTH
    // tied rows — the round-18 withTies plan serves the shape the round-17
    // warning only narrated
    pts(Seq((20L, 1.0, 0.0), (21L, 0.0, 1.0), (22L, 5.0, 0.0)), "rid", "rg")
      .createOrReplaceTempView("knn_rk_r")
    val tied = sql("""
      SELECT * FROM (
        SELECT l.lid, r.rid,
               RANK() OVER (PARTITION BY l.lid ORDER BY ST_Distance(l.lg, r.rg)) AS rk
        FROM knn_rk_l l CROSS JOIN knn_rk_r r) t WHERE rk <= 1""")
    val plan = tied.queryExecution.executedPlan.toString
    assert(plan.contains("KnnTopK"), s"RANK shape must plan as KnnTopK:\n$plan")
    val rows = tied.collect().map(r => (r.getLong(1), r.getInt(2))).sortBy(_._1)
    assert(rows.toSeq == Seq((20L, 1), (21L, 1)),
      s"both boundary ties at shared rank 1 expected, got ${rows.toSeq}")
    // rank VALUES skip after a tie class exactly like the literal window:
    // four rights tied at 1, k=5 → ranks 1,1,1,1 then 5,5 for the two at 2
    pts(Seq((30L, 1.0, 0.0), (31L, 0.0, 1.0), (32L, -1.0, 0.0), (33L, 0.0, -1.0),
            (34L, 2.0, 0.0), (35L, 0.0, 2.0), (36L, 3.0, 0.0)), "rid", "rg")
      .createOrReplaceTempView("knn_rk_r2")
    val skip = sql("""
      SELECT * FROM (
        SELECT l.lid, r.rid,
               RANK() OVER (PARTITION BY l.lid ORDER BY ST_Distance(l.lg, r.rg)) AS rk
        FROM knn_rk_l l CROSS JOIN knn_rk_r2 r) t WHERE rk <= 5""")
    assert(skip.queryExecution.executedPlan.toString.contains("KnnTopK"))
    val got = skip.collect().map(r => (r.getLong(1), r.getInt(2))).sortBy(_._1)
    assert(got.toSeq == Seq((30L, 1), (31L, 1), (32L, 1), (33L, 1), (34L, 5), (35L, 5)),
      s"rank-skip after the tie class expected, got ${got.toSeq}")
  }

  test("planner: RANK with non-unique partition key keeps GROUP ties like the literal plan") {
    // two left rows share category 'a'; rights contain exact coordinate
    // duplicates so the group's rank-k boundary is a tie class spanning
    // BOTH left rows (each left is at distance 1 from the duplicated
    // coordinate pair nearest it — symmetric by construction)
    import spark.implicits._
    Seq((1L, "a", 0.0, 0.0), (2L, "a", 10.0, 0.0))
      .toDF("lid", "cat", "__x", "__y")
      .withColumn("lg", call_function("st_point", col("__x"), col("__y")))
      .drop("__x", "__y").createOrReplaceTempView("knn_rkg_l")
    val r = Seq((10L, 1.0, 0.0), (11L, 9.0, 0.0),   // dist 1 from left 1 / left 2
                (12L, 0.0, 2.0), (13L, 10.0, 2.0),  // dist 2
                (14L, 50.0, 50.0))
    pts(r, "rid", "rg").createOrReplaceTempView("knn_rkg_r")
    val df = sql("""
      SELECT cat, lid, rid, rk FROM (
        SELECT l.cat, l.lid, r.rid,
               RANK() OVER (PARTITION BY l.cat ORDER BY ST_Distance(l.lg, r.rg)) AS rk
        FROM knn_rkg_l l CROSS JOIN knn_rkg_r r) t WHERE rk <= 2""")
    assert(df.queryExecution.executedPlan.toString.contains("KnnTopK"))
    val got = df.collect().map(x => (x.getLong(1), x.getLong(2), x.getInt(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // group 'a' pair distances: (1,10)=1, (2,11)=1 (tie class rank 1),
    // then (1,12)... wait — ground truth from brute force below
    val brute = (for ((lid, lx, ly) <- Seq((1L, 0.0, 0.0), (2L, 10.0, 0.0));
                      (rid, rx, ry) <- r)
        yield (lid, rid, math.hypot(lx - rx, ly - ry)))
    val ranked = brute.sortBy(_._3).zipWithIndex.map { case ((lid, rid, d), _) =>
      (lid, rid, 1 + brute.count(_._3 < d))
    }.filter(_._3 <= 2).sortBy(t => (t._1, t._2))
    assert(got == ranked, s"got $got\nexpected $ranked")
    // the rank-1 tie class spans both left rows of the group
    assert(got.count(_._3 == 1) == 2 && got.map(_._1).distinct.length == 2)
  }

  test("geodesic knn wraps the ±180 antimeridian seam (resolved in bounded rounds)") {
    // left sits just EAST of the seam; the true top-2 neighbors per row sit
    // just WEST of it (~111 km away), while same-side decoys are ~196+ km.
    // initialRadius forces multi-round resolution at radii where a
    // non-wrapping grid would resolve every row with the k inferior
    // same-side decoys (r=320 km sees the 196 km decoy but never the
    // cross-seam cell) — so equality here proves the wrapped cell keys,
    // not the final broadcast pass (which never fires: rMax is ~20,000 km)
    val l = (0L until 8L).map(i => (i, 179.9, 40.0 + i * 2.0))
    // cross-seam bands at odd lats 39..57 bracket every left lat from both
    // sides (~111 km each way); same-side decoys are ≥160 km
    val r = (0L until 50L).map { i =>
      val lon = if (i % 5 == 0) -179.9 + i * 0.0004
                else 176.0 + (i % 5) * 0.5 + i * 0.0004
      (100L + i, lon, 39.0 + (i / 5) * 2.0 + i * 0.001)
    }
    val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 2, "lid", "rid", initialRadius = 10000.0, metric = "sphere")
      .select("lid", "rid", "knn_dist", "knn_rank").as[(Long, Long, Double, Long)]
      .collect().groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    val exp = expectedSphere(l, r, 2)
    l.foreach { case (lid, _, _) =>
      assert(out(lid).map(_._1) == exp(lid).map(_._1),
        s"left $lid neighbors: ${out(lid)} vs ${exp(lid)} — seam candidates missed")
      out(lid).zip(exp(lid)).foreach { case ((_, got), (_, want)) =>
        assert(math.abs(got - want) < 1e-6) }
      // the point of the fixture: every true top-2 neighbor is cross-seam
      assert(exp(lid).forall(_._1 % 5 == 0), s"fixture decayed for left $lid")
    }
  }

  test("planar knn does NOT wrap coordinates that happen to look like longitudes") {
    val l = Seq((1L, 179.9, 0.0))
    val r = Seq((10L, -179.9, 0.0), (11L, 170.0, 0.0))
    val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 1, "lid", "rid")
      .select("rid", "knn_dist").as[(Long, Double)].collect().toSeq
    assert(out.head._1 == 11L, s"planar must rank by coordinates, not wrap: $out")
    assert(math.abs(out.head._2 - 9.9) < 1e-9)
  }

  /** brute-force Karney ground truth */
  private def expectedKarney(left: Seq[(Long, Double, Double)],
                             right: Seq[(Long, Double, Double)], k: Int) =
    left.map { case (lid, lx, ly) =>
      lid -> right.map { case (rid, rx, ry) =>
        (rid, graft.core.KarneyGeodesic.distance(ly, lx, ry, rx))
      }.sortBy { case (rid, d) => (d, rid) }.take(k)
    }.toMap

  test("geodesic knn: multi-1000-km rounds at high latitude stay exact (radius-dependent φ)") {
    // sparse high-latitude data forces rounds with r in the 1000s of km,
    // where the meters→degrees lon cell must account for the latitude the
    // round's radius can REACH, not just the extent's (a fixed allowance
    // under-sizes cells and silently drops true neighbors)
    val rnd = new scala.util.Random(7)
    val l = (0L until 12L).map(i =>
      (i, rnd.nextDouble() * 60.0 - 30.0, 55.0 + rnd.nextDouble() * 20.0))
    val r = (0L until 25L).map(i =>
      (100L + i, rnd.nextDouble() * 60.0 - 30.0, 55.0 + rnd.nextDouble() * 20.0))
    val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 2, "lid", "rid", initialRadius = 50000.0, metric = "karney")
      .select("lid", "rid", "knn_rank").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val exp = expectedKarney(l, r, 2)
    l.foreach { case (lid, _, _) =>
      assert(out(lid) == exp(lid).map(_._1), s"left $lid: ${out(lid)} vs ${exp(lid)}")
    }
  }

  test("final round broadcasts the remainder: no single task holds the cross-product") {
    val s = spark
    // 40 lefts inside the right cloud resolve in bounded rounds; 5 isolated
    // lefts ~6900 units away stay unresolved until r reaches the extent
    // diagonal — the final pass must rank them against all 5000 rights
    // WITHOUT one task reading the |remainder|×|right| product (the old
    // rMax grid round had a constant cell key = one 25k-record task)
    val rnd = new scala.util.Random(42)
    val l = (0L until 40L).map(i =>
      (i, rnd.nextDouble() * 100.0, rnd.nextDouble() * 100.0)) ++
      (40L until 45L).map(i => (i, 5000.0 + (i - 40L) * 3.0, 5000.0 + (i - 40L) * 5.0))
    val r = (0L until 5000L).map(i =>
      (10000L + i, rnd.nextDouble() * 100.0, rnd.nextDouble() * 100.0))
    val perTask = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m => perTask.add(m.shuffleReadMetrics.recordsRead))
    }
    s.sparkContext.addSparkListener(listener)
    try {
      val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
        "lg", "rg", 3, "lid", "rid", initialRadius = 2.0)
        .select("lid", "rid", "knn_rank").as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
      // output equality: the isolated rows can ONLY come from the final pass
      val exp = expected(l, r, 3)
      l.foreach { case (lid, _, _) =>
        assert(out(lid) == exp(lid).map(_._1), s"left $lid: ${out(lid)} vs ${exp(lid)}")
      }
      // listener bus is async — wait until the task totals stabilize
      var snap = -1
      var stable = false
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!stable && System.nanoTime() < deadline) {
        Thread.sleep(200)
        val now = perTask.size()
        stable = now == snap && now > 0
        snap = now
      }
      val max = scala.jdk.CollectionConverters.IteratorHasAsScala(perTask.iterator).asScala
        .foldLeft(0L)(math.max)
      assert(max < 5000,
        s"a task read $max shuffle records — the 5×5000 remainder product " +
          "must distribute map-side, not land on one task")
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("cap boundary at forced scale: broadcast under the cap == grid fallback over it") {
    val s = spark
    // 1200 isolated lefts never resolve in bounded rounds (nearest rights
    // sit ~7000 units away) — the final-round remainder is exactly 1200.
    // cap=2000 takes the broadcast path; cap=1000 must trip the grid
    // fallback. Same fixture, both paths, identical answers required.
    val rnd = new scala.util.Random(7)
    val l = (0L until 1200L).map(i =>
      (i, 5000.0 + rnd.nextDouble() * 50.0, 5000.0 + rnd.nextDouble() * 50.0))
    val r = (0L until 4000L).map(i =>
      (10000L + i, rnd.nextDouble() * 100.0, rnd.nextDouble() * 100.0))
    val prev = s.conf.getOption("graft.knn.broadcastRemainderMaxRows")
    def run(cap: Long): Map[Long, Seq[Long]] = {
      s.conf.set("graft.knn.broadcastRemainderMaxRows", cap.toString)
      SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
        "lg", "rg", 3, "lid", "rid", initialRadius = 2.0)
        .select("lid", "rid", "knn_rank").as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    }
    try {
      val fb0 = SpatialJoin.gridFallbackCount.sum()
      val viaBroadcast = run(2000L)
      assert(SpatialJoin.gridFallbackCount.sum() == fb0,
        "cap=2000 with a 1200-row remainder must NOT take the grid fallback")
      val viaFallback = run(1000L)
      assert(SpatialJoin.gridFallbackCount.sum() == fb0 + 1,
        "cap=1000 with a 1200-row remainder must take the grid fallback")
      assert(viaBroadcast.size == 1200 && viaFallback.size == 1200)
      l.foreach { case (lid, _, _) =>
        assert(viaBroadcast(lid) == viaFallback(lid),
          s"left $lid diverged: ${viaBroadcast(lid)} vs ${viaFallback(lid)}")
      }
    } finally {
      prev match {
        case Some(v) => s.conf.set("graft.knn.broadcastRemainderMaxRows", v)
        case None => s.conf.unset("graft.knn.broadcastRemainderMaxRows")
      }
    }
  }

  test("remainder tie-break handles null and binary right ids like the SQL rounds") {
    val s = spark
    import s.implicits._
    // rights at IDENTICAL distance from the left probe force the rid
    // tie-break inside the remainder heap; a null rid must sort FIRST
    // (Spark asc nulls-first) and binary rids unsigned-lexicographically
    val left = Seq((1L, 0.0, 0.0)).toDF("lid", "x", "y")
      .selectExpr("lid", "ST_Point(x, y) AS lg")
    val right = Seq(
      (Option("b"), 3.0, 0.0), (None: Option[String], 0.0, 3.0),
      (Option("a"), -3.0, 0.0), (Option("c"), 0.0, -3.0))
      .toDF("rid", "x", "y").selectExpr("rid", "ST_Point(x, y) AS rg")
    // initialRadius far beyond the extent => bounded rounds never resolve
    // (k=3 > what a tiny radius finds)... instead force the remainder path
    // by starting at a radius so small every round under rMax misses k=3,
    // then the final pass ranks all four rights
    val out = SpatialJoin.knn(left, right, "lg", "rg", 3, "lid", "rid",
      initialRadius = 0.001)
      .select("rid", "knn_rank").as[(Option[String], Long)].collect().sortBy(_._2)
    assert(out.map(_._1).toSeq == Seq(None, Some("a"), Some("b")),
      s"nulls-first then lexicographic expected, got ${out.toSeq}")
    // struct right ids are refused at entry (the heap cannot compare them)
    val badRight = Seq((1L, 2L)).toDF("a", "b")
      .selectExpr("named_struct('a', a, 'b', b) AS rid", "ST_Point(0.0, 0.0) AS rg")
    val err = intercept[IllegalArgumentException] {
      SpatialJoin.knn(left, badRight, "lg", "rg", 1, "lid", "rid")
    }
    assert(err.getMessage.contains("atomic"), err.getMessage)
  }

  test("oversized remainder falls back to the grid round and stays correct") {
    val s = spark
    val prev = s.conf.getOption("graft.knn.broadcastRemainderMaxRows")
    s.conf.set("graft.knn.broadcastRemainderMaxRows", "0")
    try {
      val l = Seq((1L, 0.0, 0.0), (2L, 5000.0, 5000.0))
      val r = (0L until 50L).map(i => (100L + i, i * 2.0, 1.0))
      val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
        "lg", "rg", 2, "lid", "rid", initialRadius = 1.0)
        .select("lid", "rid", "knn_rank").as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
      val exp = expected(l, r, 2)
      assert(out(1L) == exp(1L).map(_._1))
      assert(out(2L) == exp(2L).map(_._1))
    } finally {
      prev match {
        case Some(v) => s.conf.set("graft.knn.broadcastRemainderMaxRows", v)
        case None => s.conf.unset("graft.knn.broadcastRemainderMaxRows")
      }
    }
  }

  test("lonGrid property: any point within r meters is ≤1 wrapped lon cell and ≤1 lat cell away") {
    // the false-negative guard for the geodesic kNN grid (the padGeodesic
    // analogue for cell keys): a probe explores ±1 cell around its own, so
    // a true neighbor >1 cell away would be silently dropped while the row
    // still resolves with inferior candidates. Covers the radius-dependent
    // latitude allowance AND the pmod seam wrap, across the full globe.
    // Radii reach down to 1e-9 m, where unfloored cells would number ~4e16
    // per circle, past the 2^53 range the seam-aware dedup computes in.
    assert(graft.operators.SpatialJoin.lonGrid(0.0, 1e-9)._2 <= (1L << 31))
    val rnd = new scala.util.Random(4321)
    var checked = 0
    (0 until 8000).foreach { _ =>
      val lon = rnd.nextDouble() * 360.0 - 180.0
      val lat = rnd.nextDouble() * 179.8 - 89.9
      val meters = math.pow(10.0, -9.0 + rnd.nextDouble() * 15.6) // 1e-9 m .. ~4000 km
      val az = rnd.nextDouble() * 2 * math.Pi
      val frac = rnd.nextDouble()
      val src = graft.core.GeomOps.point(lon, lat)
      val dst = graft.core.GeomOps.read(
        graft.core.Geodesy.projectSphere(src, meters * frac, az)).getCoordinate
      // the operator derives maxAbsLat from the EXTENT, which contains
      // both endpoints — use the smaller |lat| as the worst case (the
      // extent's extreme is at least max of the two; using min stresses
      // the radius-dependent allowance hardest... the extent always
      // includes BOTH points, so maxAbsLat >= max(|src|, |dst|); model that)
      val maxAbsLat = math.max(math.abs(lat), math.abs(dst.y))
      val (csLon, nLon) = graft.operators.SpatialJoin.lonGrid(maxAbsLat, meters)
      val csLat = graft.operators.SpatialJoin.latCell(meters)
      def cx(x: Double): Long = {
        val c = math.floor(x / csLon).toLong % nLon
        if (c < 0) c + nLon else c
      }
      val dLon = (cx(lon) - cx(dst.x) + nLon) % nLon
      assert(dLon <= 1 || dLon == nLon - 1,
        f"lon cells not adjacent: ($lat%.4f,$lon%.4f) +${meters * frac}%.0fm " +
          f"az ${math.toDegrees(az)}%.0f° → (${dst.y}%.4f,${dst.x}%.4f); " +
          f"cells ${cx(lon)} vs ${cx(dst.x)} of $nLon (cs=$csLon%.4f°, r=$meters%.0fm)")
      val dLat = math.abs(math.floor(lat / csLat).toLong - math.floor(dst.y / csLat).toLong)
      assert(dLat <= 1,
        f"lat cells not adjacent: $lat%.4f vs ${dst.y}%.4f at cs=$csLat%.6f° (r=$meters%.0fm)")
      checked += 1
    }
    assert(checked == 8000)
  }

  /** brute-force RANK-semantics ground truth: every pair whose distance is
    * ≤ the k-th smallest (with multiplicity), with shared rank values */
  private def expectedTies(left: Seq[(Long, Double, Double)],
                           right: Seq[(Long, Double, Double)], k: Int) =
    left.map { case (lid, lx, ly) =>
      val ds = right.map { case (rid, rx, ry) =>
        (rid, math.sqrt((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry)))
      }.sortBy(_._2)
      val kept = if (ds.length <= k) ds else ds.filter(_._2 <= ds(k - 1)._2)
      lid -> kept.map { case (rid, d) =>
        (rid, d, 1L + ds.count(_._2 < d)) }
    }.toMap

  test("knn withTies: RANK semantics on heavy exact ties (duplicate right points)") {
    val l = Seq((1L, 0.0, 0.0), (2L, 20.0, 20.0))
    // four rights exactly at distance 1 from left 1; exact coordinate
    // duplicates around left 2 — both tie mechanisms
    val r = Seq((10L, 1.0, 0.0), (11L, 0.0, 1.0), (12L, -1.0, 0.0), (13L, 0.0, -1.0),
      (14L, 2.0, 0.0), (15L, 21.0, 20.0), (16L, 21.0, 20.0), (17L, 21.0, 20.0),
      (18L, 25.0, 20.0))
    val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 3, "lid", "rid", rankMode = "rank")
      .select("lid", "rid", "knn_dist", "knn_rank")
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).sortBy(_._1).toSeq).toMap
    val exp = expectedTies(l, r, 3)
    for (lid <- l.map(_._1)) {
      val want = exp(lid).sortBy(_._1)
      assert(out(lid).map(_._1) == want.map(_._1),
        s"tie-extended neighbor SET for left $lid: ${out(lid)} vs $want")
      out(lid).zip(want).foreach { case ((_, gd, gr), (_, wd, wr)) =>
        assert(math.abs(gd - wd) < 1e-12)
        assert(gr == wr, s"rank values must be RANK semantics: $gr vs $wr")
      }
    }
    // left 1: 4 ties at rank 1 (k=3 cut inside the tie class extends it)
    assert(out(1L).length == 4 && out(1L).forall(_._3 == 1L))
    // left 2: 3 duplicate-coordinate ties at rank 1
    assert(out(2L).length == 3 && out(2L).forall(_._3 == 1L))
  }

  test("knn withTies: forced multi-round resolution stays tie-exact") {
    // ties at the k-th distance resolved in a LATER round (tiny initial
    // radius): the pool-contains-all-within-r invariant is what makes the
    // rank cut exact — this pins it across round boundaries
    val l = Seq((1L, 0.0, 0.0))
    val r = Seq((10L, 30.0, 0.0), (11L, 0.0, 30.0), (12L, -30.0, 0.0),
      (13L, 0.0, -30.0), (14L, 31.0, 0.0), (15L, 60.0, 0.0))
    val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 2, "lid", "rid", initialRadius = 0.01, rankMode = "rank")
      .select("rid", "knn_rank").as[(Long, Long)].collect().sortBy(_._1).toSeq
    // k=2 cuts inside the 4-way tie at distance 30 → all four kept, rank 1
    assert(out == Seq((10L, 1L), (11L, 1L), (12L, 1L), (13L, 1L)), s"got $out")
  }

  test("knn withTies: broadcast-remainder heap keeps and evicts whole tie classes") {
    val s = spark
    // the isolated left never resolves in bounded rounds → the final
    // broadcast pass ranks it against ALL rights through the ties-aware
    // heap. Right ordering puts the far tie class FIRST so the heap must
    // fill, then evict the whole class when closer rows arrive, then keep
    // the new boundary class' duplicates.
    val l = Seq((1L, 5000.0, 5000.0))
    val far = Seq((30L, 0.0, 0.0), (31L, 0.0, 0.0), (32L, 0.0, 0.0)) // dist ~7071, tied
    val near = Seq((20L, 100.0, 100.0), (21L, 100.0, 100.0), (22L, 100.0, 100.0)) // dist ~6929, tied
    val mid = Seq((25L, 50.0, 50.0)) // dist ~7000
    val r = far ++ mid ++ near
    val out = SpatialJoin.knn(
      pts(l, "lid", "lg"), pts(r, "rid", "rg").coalesce(1),
      "lg", "rg", 2, "lid", "rid", initialRadius = 1.0, rankMode = "rank")
      .select("rid", "knn_rank").as[(Long, Long)].collect().sortBy(_._1).toSeq
    // k=2 lands inside the 3-way near class → all three kept at rank 1
    assert(out == Seq((20L, 1L), (21L, 1L), (22L, 1L)), s"got $out")
    // and the same fixture through the oversized-remainder grid fallback
    val prev = s.conf.getOption("graft.knn.broadcastRemainderMaxRows")
    s.conf.set("graft.knn.broadcastRemainderMaxRows", "0")
    try {
      val fb = SpatialJoin.knn(
        pts(l, "lid", "lg"), pts(r, "rid", "rg"),
        "lg", "rg", 2, "lid", "rid", initialRadius = 1.0, rankMode = "rank")
        .select("rid", "knn_rank").as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(fb == out, s"grid fallback diverged: $fb vs $out")
    } finally prev match {
      case Some(v) => s.conf.set("graft.knn.broadcastRemainderMaxRows", v)
      case None => s.conf.unset("graft.knn.broadcastRemainderMaxRows")
    }
  }

  test("knn withTies at scale matches brute-force rank semantics") {
    // modular coordinates collide heavily → many exact duplicate right
    // points; every left row's tie-extended set must match brute force
    val l = (0L until 40L).map(i => (i, (i % 8) * 9.0, (i / 8) * 9.0))
    val r = (0L until 400L).map(i => (1000L + i, (i % 20).toDouble * 3.0, ((i * 7) % 20).toDouble * 3.0))
    val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 3, "lid", "rid", rankMode = "rank")
      .select("lid", "rid", "knn_rank").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1).toSeq).toMap
    val exp = expectedTies(l, r, 3)
    l.foreach { case (lid, _, _) =>
      assert(out(lid) == exp(lid).map(t => (t._1, t._3)).sortBy(_._1),
        s"left $lid: ${out(lid)} vs ${exp(lid)}")
    }
    // the fixture is meaningful: at least one row's set exceeds k
    assert(l.exists { case (lid, _, _) => exp(lid).length > 3 }, "fixture decayed: no ties")
  }

  /** brute-force DENSE_RANK-semantics ground truth: the k smallest
    * distance CLASSES, with dense rank values */
  private def expectedDense(left: Seq[(Long, Double, Double)],
                            right: Seq[(Long, Double, Double)], k: Int) =
    left.map { case (lid, lx, ly) =>
      val ds = right.map { case (rid, rx, ry) =>
        (rid, math.sqrt((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry)))
      }.sortBy(_._2)
      val classes = ds.map(_._2).distinct.take(k)
      val kept = ds.filter(d => classes.contains(d._2))
      lid -> kept.map { case (rid, d) => (rid, 1L + classes.indexOf(d)) }
    }.toMap

  test("knn dense_rank: k distance classes on duplicate-heavy points, all paths") {
    val s = spark
    // duplicates at three distances around left 1 — class sizes 2, 3, 1
    val l = Seq((1L, 0.0, 0.0))
    val r = Seq((10L, 1.0, 0.0), (11L, 0.0, 1.0),
      (12L, 2.0, 0.0), (13L, 0.0, 2.0), (14L, -2.0, 0.0),
      (15L, 5.0, 0.0), (16L, 9.0, 0.0))
    val exp = expectedDense(l, r, 2)(1L).sortBy(_._1)
    def got(extra: (String, String)*): Seq[(Long, Long)] = {
      extra.foreach { case (k2, v) => s.conf.set(k2, v) }
      try SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
        "lg", "rg", 2, "lid", "rid", initialRadius = 0.01, rankMode = "dense_rank")
        .select("rid", "knn_rank").as[(Long, Long)].collect().sortBy(_._1).toSeq
      finally extra.foreach { case (k2, _) => s.conf.unset(k2) }
    }
    // bounded rounds (tiny radius forces multi-round resolution)
    assert(got() == exp, s"bounded rounds: ${got()} vs $exp")
    assert(exp.length == 5, "fixture decayed: classes 1+2 must hold 5 rows")
  }

  test("knn dense_rank: broadcast-remainder buckets keep k distance classes") {
    val s = spark
    // the isolated left resolves only in the final broadcast pass; rights
    // carry duplicate distances so class-eviction in the TreeMap runs
    val l = Seq((1L, 5000.0, 5000.0))
    val r = Seq(
      (30L, 0.0, 0.0), (31L, 0.0, 0.0),          // farthest class (evicted)
      (25L, 50.0, 50.0),                          // middle class
      (20L, 100.0, 100.0), (21L, 100.0, 100.0), (22L, 100.0, 100.0)) // nearest
    val out = SpatialJoin.knn(
      pts(l, "lid", "lg"), pts(r, "rid", "rg").coalesce(1),
      "lg", "rg", 2, "lid", "rid", initialRadius = 1.0, rankMode = "dense_rank")
      .select("rid", "knn_rank").as[(Long, Long)].collect().sortBy(_._1).toSeq
    // k=2 classes: the three at ~6929 (rank 1) and the one at ~7000 (rank 2)
    assert(out == Seq((20L, 1L), (21L, 1L), (22L, 1L), (25L, 2L)), s"got $out")
    // grid fallback agrees
    val prev = s.conf.getOption("graft.knn.broadcastRemainderMaxRows")
    s.conf.set("graft.knn.broadcastRemainderMaxRows", "0")
    try {
      val fb = SpatialJoin.knn(
        pts(l, "lid", "lg"), pts(r, "rid", "rg"),
        "lg", "rg", 2, "lid", "rid", initialRadius = 1.0, rankMode = "dense_rank")
        .select("rid", "knn_rank").as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(fb == out, s"grid fallback diverged: $fb vs $out")
    } finally prev match {
      case Some(v) => s.conf.set("graft.knn.broadcastRemainderMaxRows", v)
      case None => s.conf.unset("graft.knn.broadcastRemainderMaxRows")
    }
  }

  test("knn dense_rank at scale matches brute-force dense semantics") {
    val l = (0L until 30L).map(i => (i, (i % 6) * 9.0, (i / 6) * 9.0))
    val r = (0L until 300L).map(i => (1000L + i, (i % 15).toDouble * 3.0, ((i * 7) % 15).toDouble * 3.0))
    val out = SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 3, "lid", "rid", rankMode = "dense_rank")
      .select("lid", "rid", "knn_rank").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1).toSeq).toMap
    val exp = expectedDense(l, r, 3)
    l.foreach { case (lid, _, _) =>
      assert(out(lid) == exp(lid).sortBy(_._1), s"left $lid: ${out(lid)} vs ${exp(lid)}")
    }
    // dense keeps MORE than k rows wherever classes have duplicates
    assert(l.exists { case (lid, _, _) => exp(lid).length > 3 }, "fixture decayed")
  }

  test("planner: geodesic metric composes with RANK ties (sphere kernel, shared ranks)") {
    // the metric extraction and the rank-function dispatch are independent
    // planner axes — this pins their combination: RANK over
    // ST_DistanceSphere plans as KnnTopK in ties mode with METERS distances
    pts(Seq((1L, 0.0, 60.0)), "lid", "lg").createOrReplaceTempView("knn_grk_l")
    // two rights symmetric in longitude about the probe: equal haversine
    // distance EXACTLY (same |Δλ| at the same latitude), third farther
    pts(Seq((10L, 1.0, 60.0), (11L, -1.0, 60.0), (12L, 10.0, 60.0)), "rid", "rg")
      .createOrReplaceTempView("knn_grk_r")
    val df = sql("""
      SELECT lid, rid, d, rk FROM (
        SELECT l.lid, r.rid, ST_DistanceSphere(l.lg, r.rg) AS d,
               RANK() OVER (PARTITION BY l.lid ORDER BY ST_DistanceSphere(l.lg, r.rg)) AS rk
        FROM knn_grk_l l CROSS JOIN knn_grk_r r) t WHERE rk <= 1""")
    assert(df.queryExecution.executedPlan.toString.contains("KnnTopK"))
    val rows = df.collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(10L, 11L), s"both haversine ties: ${rows.toSeq}")
    assert(rows.forall(_._3 == 1), "shared rank 1")
    val want = graft.core.Geodesy.haversineMeters(0.0, 60.0, 1.0, 60.0)
    rows.foreach { case (_, d, _) => assert(math.abs(d - want) < 1e-6, s"meters: $d") }
  }

  test("cross-mode invariants: row_number ⊆ rank ⊆ dense_rank per probe, all paths") {
    // the three rank modes are cuts of the SAME ordered candidate stream:
    // row_number keeps exactly min(k, n) rows, rank extends to the k-th
    // distance's whole tie class, dense_rank extends to k whole classes —
    // so per probe the result SETS must nest. A seeded duplicate-heavy
    // fixture checks the nesting (and the count laws) over every probe.
    val rnd = new scala.util.Random(181818L)
    val l = (0L until 25L).map(i => (i, rnd.nextInt(12) * 5.0, rnd.nextInt(12) * 5.0))
    val r = (0L until 300L).map(i =>
      (1000L + i, rnd.nextInt(15) * 4.0, rnd.nextInt(15) * 4.0)) // heavy dups
    def run(mode: String): Map[Long, Set[Long]] =
      SpatialJoin.knn(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
        "lg", "rg", 3, "lid", "rid", rankMode = mode)
        .select("lid", "rid").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rn = run("row_number")
    val rk = run("rank")
    val dr = run("dense_rank")
    l.foreach { case (lid, _, _) =>
      assert(rn(lid).subsetOf(rk(lid)), s"row_number ⊄ rank for $lid")
      assert(rk(lid).subsetOf(dr(lid)), s"rank ⊄ dense_rank for $lid")
      assert(rn(lid).size == 3)
      assert(rk(lid).size >= 3, s"rank must cover k: ${rk(lid).size}")
    }
    // the fixture is meaningful: strict extension happens somewhere
    assert(l.exists { case (lid, _, _) => rk(lid).size > rn(lid).size }, "no rank ties hit")
    assert(l.exists { case (lid, _, _) => dr(lid).size > rk(lid).size }, "no dense extension hit")
  }

  test("invalid k rejected") {
    val df = pts(Seq((1L, 0.0, 0.0)), "id", "g")
    intercept[IllegalArgumentException] {
      SpatialJoin.knn(df, df, "g", "g", 0, "id", "id")
    }
  }

  // ── farthest-k (round 19: the last warned-not-planned window shape) ───

  /** brute-force farthest: (lid → ranked (rid, dist) DESC, rid-asc ties) */
  private def expectedFar(left: Seq[(Long, Double, Double)],
                          right: Seq[(Long, Double, Double)], k: Int) =
    left.map { case (lid, lx, ly) =>
      lid -> right.map { case (rid, rx, ry) => (rid, math.hypot(lx - rx, ly - ry)) }
        .sortBy { case (rid, d) => (-d, rid) }.take(k)
    }.toMap

  test("farthestK matches brute force on a grid, including exact ties") {
    val l = Seq((1L, 0.0, 0.0), (2L, 55.0, 55.0), (3L, 110.0, 0.0))
    // 10×10 lattice: corner symmetry around (55,55) produces real distance
    // ties, exercising the rid-asc tie-break
    val r = (0 until 100).map(i => (100L + i, (i % 10) * 11.0, (i / 10) * 11.0))
    val got = SpatialJoin.farthestK(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 5, "lid", "rid")
      .select("lid", "rid", "knn_dist", "knn_rank").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3)))
    val exp = expectedFar(l, r, 5)
    assert(got.length == 15, s"rows ${got.length}")
    got.groupBy(_._1).foreach { case (lid, rows) =>
      val sorted = rows.sortBy(_._4).map(t => (t._2, t._3)).toSeq
      assert(sorted == exp(lid), s"left $lid: $sorted vs ${exp(lid)}")
    }
  }

  test("farthestK: k > |right|, empty right, rank-mode tie extension") {
    val l = Seq((1L, 0.0, 0.0))
    val rSmall = Seq((10L, 1.0, 0.0), (11L, 2.0, 0.0))
    val all = SpatialJoin.farthestK(pts(l, "lid", "lg"), pts(rSmall, "rid", "rg"),
      "lg", "rg", 5, "lid", "rid").select("rid").as[Long].collect().toSet
    assert(all == Set(10L, 11L), "k > |right| returns every right row")
    val empty = SpatialJoin.farthestK(pts(l, "lid", "lg"),
      pts(Seq.empty, "rid", "rg"), "lg", "rg", 3, "lid", "rid")
    assert(empty.count() == 0 && empty.columns.contains("knn_rank"))
    // duplicate right points at the far rim: RANK keeps the whole boundary
    // tie class, ROW_NUMBER cuts at exactly k
    val rTies = Seq((20L, 10.0, 0.0), (21L, 10.0, 0.0), (22L, 10.0, 0.0),
      (23L, 5.0, 0.0), (24L, 1.0, 0.0))
    def far(mode: String): Seq[Long] =
      SpatialJoin.farthestK(pts(l, "lid", "lg"), pts(rTies, "rid", "rg"),
        "lg", "rg", 2, "lid", "rid", rankMode = mode)
        .select("rid").as[Long].collect().toSeq.sorted
    assert(far("row_number") == Seq(20L, 21L), far("row_number").toString)
    assert(far("rank") == Seq(20L, 21L, 22L), "rank keeps the tie class")
    assert(far("dense_rank") == Seq(20L, 21L, 22L, 23L),
      "dense_rank keeps 2 distance classes")
  }

  test("farthestK at scale matches brute force (every candidate cell path)") {
    val rnd = new scala.util.Random(1919L)
    val l = (0L until 30L).map(i => (i, rnd.nextDouble() * 100, rnd.nextDouble() * 100))
    val r = (0L until 500L).map(i => (1000L + i, rnd.nextDouble() * 100, rnd.nextDouble() * 100))
    val got = SpatialJoin.farthestK(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
      "lg", "rg", 4, "lid", "rid")
      .select("lid", "rid", "knn_rank").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val exp = expectedFar(l, r, 4)
    assert(got.length == 120)
    got.groupBy(_._1).foreach { case (lid, rows) =>
      assert(rows.sortBy(_._3).map(_._2).toSeq == exp(lid).map(_._1),
        s"left $lid")
    }
  }

  test("farthestK on NON-POINT geometries: envelope bounds stay exact") {
    // the cell bounds are box facts over member ENVELOPES; polygons and
    // multi-cell-spanning boxes are where lo/hi could go wrong — fuzz a
    // mixed corpus against brute-force JTS distance across seeds
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(7000L + seed)
      def boxRow(i: Long) = {
        val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 100
        val w = rnd.nextDouble() * (if (i % 7 == 0) 30.0 else 2.0) // some huge spanners
        (i, x, y, x + w, y + w * 0.5)
      }
      val l = (0L until 12L).map(boxRow)
      val r = (100L until 250L).map(boxRow)
      def df(rows: Seq[(Long, Double, Double, Double, Double)], id: String, g: String) =
        rows.toDF(id, "__a", "__b", "__c", "__d")
          .withColumn(g, call_function("st_makeenvelope",
            col("__a"), col("__b"), col("__c"), col("__d")))
          .drop("__a", "__b", "__c", "__d")
      val got = SpatialJoin.farthestK(df(l, "lid", "lg"), df(r, "rid", "rg"),
        "lg", "rg", 3, "lid", "rid")
        .select("lid", "rid", "knn_rank").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      // brute force with the same JTS kernel
      val f = graft.core.GeomOps.factory
      def env(t: (Long, Double, Double, Double, Double)) =
        f.toGeometry(new org.locationtech.jts.geom.Envelope(t._2, t._4, t._3, t._5))
      val exp = l.map { lt =>
        lt._1 -> r.map(rt => (rt._1, env(lt).distance(env(rt))))
          .sortBy { case (rid, d) => (-d, rid) }.take(3).map(_._1)
      }.toMap
      assert(got.length == 36, s"seed $seed: ${got.length}")
      got.groupBy(_._1).foreach { case (lid, rows) =>
        assert(rows.sortBy(_._3).map(_._2).toSeq == exp(lid),
          s"seed $seed left $lid: ${rows.sortBy(_._3).map(_._2).toSeq} vs ${exp(lid)}")
      }
    }
  }

  test("planner: farthest-k DESC shape plans as KnnTopKExec (round 19)") {
    val l = Seq((1L, 0.0, 0.0), (2L, 10.0, 10.0), (3L, 5.0, 5.0))
    val r = Seq((10L, 1.0, 0.0), (11L, 0.0, 1.0), (12L, 3.0, 4.0),
      (13L, 9.0, 9.0), (14L, 11.0, 11.0), (15L, 100.0, 100.0))
    pts(l, "lid", "lg").createOrReplaceTempView("far_l")
    pts(r, "rid", "rg").createOrReplaceTempView("far_r")
    val df = sql("""
      SELECT lid, rid, d, rk FROM (
        SELECT l.lid, r.rid, ST_Distance(l.lg, r.rg) AS d,
               ROW_NUMBER() OVER (PARTITION BY l.lid ORDER BY ST_Distance(l.lg, r.rg) DESC) AS rk
        FROM far_l l CROSS JOIN far_r r) t
      WHERE rk <= 2""")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("KnnTopK"), s"expected KnnTopK in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "cartesian survived the rewrite")
    val got = df.collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(3)))
      .sortBy(t => (t._1, t._3))
    val exp = expectedFar(l, r, 2).toSeq.sortBy(_._1).flatMap { case (lid, rows) =>
      rows.zipWithIndex.map { case ((rid, _), i) => (lid, rid, i + 1) }
    }
    assert(got.toSeq == exp, s"got ${got.toSeq}\nexpected $exp")
  }

  test("planner: geodesic farthest-k DESC is PLANNED (round 20) and exact") {
    pts(Seq((1L, 0.0, 50.0)), "lid", "lg").createOrReplaceTempView("farg_l")
    pts(Seq((10L, 1.0, 50.0), (11L, 2.0, 50.0)), "rid", "rg")
      .createOrReplaceTempView("farg_r")
    val df = sql("""
      SELECT lid, rid, rk FROM (
        SELECT l.lid, r.rid,
               ROW_NUMBER() OVER (PARTITION BY l.lid ORDER BY ST_DistanceSphere(l.lg, r.rg) DESC) AS rk
        FROM farg_l l CROSS JOIN farg_r r) t
      WHERE rk <= 1""")
    assert(df.queryExecution.executedPlan.toString.contains("KnnTopK"),
      "geodesic DESC must take the cell-bound farthest-k operator")
    assert(df.collect().map(_.getLong(1)).toSeq == Seq(11L))
  }

  test("planner: DENSE_RANK-DESC stays literal (documented divergence, spec-pinned)") {
    // the ONE remaining unplanned DESC shape: the k-th DISTINCT distance
    // has no cell bound (arbitrarily many rows can share one distance on
    // a circle arc), so planning it through farthestK would scan every
    // cell anyway — the strategy warns once and the literal plan runs.
    // docs/FUNCTIONS.md carries the rewrite recipe (DISTINCT distances +
    // dense join-back).
    pts(Seq((1L, 0.0, 0.0)), "lid", "lg").createOrReplaceTempView("fard_l")
    pts(Seq((10L, 1.0, 0.0), (11L, 2.0, 0.0), (12L, 0.0, 2.0)), "rid", "rg")
      .createOrReplaceTempView("fard_r")
    val df = sql("""
      SELECT lid, rid, rk FROM (
        SELECT l.lid, r.rid,
               DENSE_RANK() OVER (PARTITION BY l.lid ORDER BY ST_Distance(l.lg, r.rg) DESC) AS rk
        FROM fard_l l CROSS JOIN fard_r r) t
      WHERE rk <= 1""")
    assert(!df.queryExecution.executedPlan.toString.contains("KnnTopK"),
      "DENSE_RANK-DESC must keep the literal plan")
    // the farthest distance CLASS is d = 2 with BOTH members kept
    assert(df.collect().map(_.getLong(1)).toSeq.sorted == Seq(11L, 12L))
  }

  test("farthestK geodesic metrics match brute force (sphere + karney)") {
    // points spread over mid/high latitude so geodesic and planar ranks
    // genuinely DISAGREE (lon degrees shrink with cos φ): the planar
    // farthest is often the wrong geodesic answer, so a passing match
    // proves the triangle-inequality pruning kept the true top-k
    val rnd = new scala.util.Random(41)
    val l = (0 until 12).map(i =>
      (i.toLong, rnd.nextDouble() * 300 - 150, rnd.nextDouble() * 140 - 70))
    val r = (0 until 400).map(i =>
      (1000L + i, rnd.nextDouble() * 340 - 170, rnd.nextDouble() * 150 - 75))
    for (metric <- Seq("sphere", "karney")) {
      val dk: (Double, Double, Double, Double) => Double = metric match {
        case "sphere" => graft.core.Geodesy.haversineMeters
        case _ => (x1, y1, x2, y2) => graft.core.KarneyGeodesic.distance(y1, x1, y2, x2)
      }
      val expected = l.map { case (lid, lx, ly) =>
        lid -> r.map { case (rid, rx, ry) => (rid, dk(lx, ly, rx, ry)) }
          .sortBy { case (rid, d) => (-d, rid) }.take(3).map(_._1).toSeq
      }.toMap
      val got = SpatialJoin.farthestK(pts(l, "lid", "lg"), pts(r, "rid", "rg"),
        "lg", "rg", 3, "lid", "rid", metric = metric)
        .select("lid", "rid", "knn_rank").collect()
        .groupBy(_.getLong(0))
        .map { case (lid, rows) =>
          lid -> rows.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq }
      l.foreach { case (lid, _, _) =>
        assert(got(lid) == expected(lid),
          s"$metric lid=$lid: got ${got(lid)} expected ${expected(lid)}")
      }
    }
  }

  test("knn on multi-cell ENVELOPES: reference-point dedup emits each pair once") {
    // round-20 guard for the shuffle-free pair dedup: envelopes larger than
    // the round's cell size meet in SEVERAL grid cells, and a pair emitted
    // twice would corrupt rank-mode pool counts (__cnt) and duplicate
    // row_number output rows. Tiny initialRadius forces multi-round
    // resolution with cells far smaller than the boxes, maximizing
    // multi-cell co-occurrence; brute force over envelope distance is the
    // ground truth in BOTH modes.
    def boxes(rows: Seq[(Long, Double, Double, Double)], id: String, g: String) =
      rows.toDF(id, "__x", "__y", "__s")
        .withColumn(g, call_function("st_makeenvelope",
          col("__x"), col("__y"), col("__x") + col("__s"), col("__y") + col("__s")))
        .drop("__x", "__y", "__s")
    // overlapping + disjoint boxes of mixed sizes; exact-tie distances
    // (aligned gaps) exercise the ties mode across the boundary
    val l = Seq((1L, 0.0, 0.0, 8.0), (2L, 20.0, 0.0, 4.0), (3L, 7.0, 7.0, 6.0))
    val r = Seq((10L, 3.0, 3.0, 9.0), (11L, 12.0, 0.0, 5.0), (12L, 30.0, 0.0, 5.0),
      (13L, 0.0, 12.0, 4.0), (14L, 20.0, 8.0, 4.0), (15L, -9.0, 0.0, 5.0),
      (16L, 30.0, 8.0, 2.0))
    val jtsBoxes = (rows: Seq[(Long, Double, Double, Double)]) => rows.map { case (id, x, y, s) =>
      id -> graft.core.GeomOps.makeEnvelope(x, y, x + s, y + s) }.toMap
    val lg = jtsBoxes(l); val rg = jtsBoxes(r)
    def bf(k: Int) = l.map { case (lid, _, _, _) =>
      lid -> r.map { case (rid, _, _, _) =>
        (rid, graft.core.GeomOps.distance(lg(lid), rg(rid))) }
        .sortBy { case (rid, d) => (d, rid) }.take(k)
    }.toMap
    for (mode <- Seq("row_number", "rank")) {
      val out = SpatialJoin.knn(boxes(l, "lid", "lgm"), boxes(r, "rid", "rgm"),
        "lgm", "rgm", 3, "lid", "rid", initialRadius = 0.5, rankMode = mode)
        .select("lid", "rid", "knn_dist", "knn_rank")
        .as[(Long, Long, Double, Long)].collect()
      // no pair may appear twice (the dedup contract itself)
      val pairs = out.map(t => (t._1, t._2)).toSeq
      assert(pairs.distinct.size == pairs.size, s"$mode: duplicate pairs ${pairs.diff(pairs.distinct)}")
      val byL = out.groupBy(_._1)
      for ((lid, _, _, _) <- l) {
        val exp = bf(3)(lid)
        val got = byL(lid).sortBy(t => (t._3, t._2)).map(t => (t._2, t._3)).toSeq
        if (mode == "row_number")
          assert(got.map(_._1) == exp.map(_._1), s"$mode lid=$lid: got $got expected $exp")
        else {
          // rank keeps boundary ties: expected set = all rids with dist <=
          // the k-th smallest distance
          val kth = exp.last._2
          val expSet = r.map(_._1).filter(rid =>
            graft.core.GeomOps.distance(lg(lid), rg(rid)) <= kth + 1e-12).toSet
          assert(got.map(_._1).toSet == expSet, s"$mode lid=$lid: got $got expected set $expSet")
        }
        got.foreach { case (rid, d) =>
          assert(math.abs(d - graft.core.GeomOps.distance(lg(lid), rg(rid))) < 1e-12)
        }
      }
    }
  }

  test("geodesic knn on multi-cell envelopes at the ±180 seam: seam-aware dedup emits each pair once") {
    // round-21 guard for dropping the geodesic dropDuplicates Exchange:
    // envelopes wider than the round's lon cell meet in SEVERAL wrapped
    // cells, and seam-adjacent placement exercises the unwrapped-copy
    // selection (m = smallest circle shift aligning the ranges). A pair
    // emitted twice corrupts rank pools; a pair LOST at the seam returns
    // inferior same-side neighbors. Ground truth is the operator's own
    // kernel (first-vertex haversine — distanceSphere's documented
    // semantics for non-points) ranked brute-force driver-side.
    def boxes(rows: Seq[(Long, Double, Double, Double, Double)], id: String, g: String) =
      rows.toDF(id, "__x0", "__y0", "__x1", "__y1")
        .withColumn(g, call_function("st_makeenvelope",
          col("__x0"), col("__y0"), col("__x1"), col("__y1")))
        .drop("__x0", "__y0", "__x1", "__y1")
    def wkbs(rows: Seq[(Long, Double, Double, Double, Double)]) = rows.map {
      case (id, x0, y0, x1, y1) => id -> graft.core.GeomOps.makeEnvelope(x0, y0, x1, y1)
    }.toMap
    def bf(l: Seq[(Long, Double, Double, Double, Double)],
           r: Seq[(Long, Double, Double, Double, Double)], k: Int) = {
      val lw = wkbs(l); val rw = wkbs(r)
      l.map { case (lid, _, _, _, _) =>
        lid -> r.map { case (rid, _, _, _, _) =>
          (rid, graft.core.Geodesy.distanceSphere(lw(lid), rw(rid)))
        }.sortBy { case (rid, d) => (d, rid) }.take(k)
      }.toMap
    }
    def check(l: Seq[(Long, Double, Double, Double, Double)],
              r: Seq[(Long, Double, Double, Double, Double)],
              k: Int, r0: Double, label: String): Unit = {
      for (mode <- Seq("row_number", "rank")) {
        val out = SpatialJoin.knn(boxes(l, "lid", "lgm"), boxes(r, "rid", "rgm"),
          "lgm", "rgm", k, "lid", "rid", initialRadius = r0,
          metric = "sphere", rankMode = mode)
          .select("lid", "rid", "knn_dist", "knn_rank")
          .as[(Long, Long, Double, Long)].collect()
        val pairs = out.map(t => (t._1, t._2)).toSeq
        assert(pairs.distinct.size == pairs.size,
          s"$label/$mode: duplicate pairs ${pairs.diff(pairs.distinct)}")
        val byL = out.groupBy(_._1)
        val exp = bf(l, r, k)
        for ((lid, _, _, _, _) <- l) {
          val want = exp(lid)
          if (mode == "row_number")
            assert(byL(lid).sortBy(_._4).map(_._2).toSeq == want.map(_._1),
              s"$label/$mode lid=$lid: ${byL(lid).sortBy(_._4).map(_._2).toSeq} vs ${want.map(_._1)}")
          else {
            val lw = wkbs(l); val rw = wkbs(r)
            val kth = want.last._2
            val expSet = r.map(_._1).filter(rid =>
              graft.core.Geodesy.distanceSphere(lw(lid), rw(rid)) <= kth + 1e-9).toSet
            assert(byL(lid).map(_._2).toSet == expSet,
              s"$label/$mode lid=$lid: ${byL(lid).map(_._2).toSet} vs $expSet")
          }
        }
      }
    }
    // (a) narrow seam-straddlers: lefts just EAST of the seam (west edge
    // exactly −180), true nearest boxes end exactly AT +180 (~55 km away
    // wrapped), same-side decoys ≥250 km — cells at the resolving radii
    // are far smaller than the boxes, so every pair is multi-cell
    val l = (0L until 6L).map(i => (i, -180.0, 40.0 + i * 2.0, -179.5, 40.3 + i * 2.0))
    val r = (0L until 24L).map { i =>
      val band = 39.8 + (i / 3) * 2.0 + i * 0.0007
      if (i % 3 == 0) (100L + i, 179.4, band, 180.0, band + 0.3)
      else (100L + i, -177.0 + (i % 3) * 0.9, band - 0.2, -176.5 + (i % 3) * 0.9, band + 0.2)
    }
    check(l, r, 2, 20000.0, "seam")
    // the fixture means what it claims: every true top-2 is cross-seam
    val exp = bf(l, r, 2)
    l.foreach { case (lid, _, _, _, _) =>
      assert(exp(lid).forall(_._1 % 3 == 1), s"fixture decayed for left $lid: ${exp(lid)}")
    }
    // (b) WIDE boxes (half the circle and more): the unwrapped ranges sum
    // past nLon at the resolving radii, so several circle shifts align —
    // the copy-selection rule must still emit exactly one row per pair
    val lw = Seq((50L, -179.0, 0.0, -2.0, 1.0), (51L, 150.0, 10.0, 179.0, 40.0))
    val rw = Seq((60L, 170.0, 2.0, 179.8, 3.0), (61L, -10.0, 1.0, 170.0, 2.0),
      (62L, 140.0, 8.0, 178.0, 12.0), (63L, -120.0, 0.0, 120.0, 30.0))
    check(lw, rw, 2, 500000.0, "wide")
  }
}
