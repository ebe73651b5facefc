package graft

import graft.operators.Dbscan

/** DBSCAN semantics on hand-laid point sets: core/border/noise roles,
  * chain-without-core degenerating to all-noise, multi-cluster tie-break
  * for a shared border point, and label determinism (min core id). */
class DbscanSpec extends SparkTestBase {

  private def pts(xy: (Long, Double, Double)*) = {
    import spark.implicits._
    xy.toDF("id", "x", "y").selectExpr("id", "ST_Point(x, y) AS geom")
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
    df.select("id", "cluster_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

  test("cross blob: core center, border arms, distant noise") {
    // center 0 has 4 neighbors within eps=1.1 (+self = 5 >= minPts 4) → core;
    // each arm sees only the center (+self = 2) → border, adopts cluster 0;
    // point 9 is isolated → noise
    val df = pts((0, 0, 0), (1, 1, 0), (2, -1, 0), (3, 0, 1), (4, 0, -1), (9, 50, 50))
    val got = labelsOf(Dbscan.cluster(df, "id", "geom", eps = 1.1, minPts = 4))
    assert(got == Map(0L -> Some(0L), 1L -> Some(0L), 2L -> Some(0L),
      3L -> Some(0L), 4L -> Some(0L), 9L -> None))
  }

  test("minPts = 1: isolated points form singleton clusters, not noise") {
    // deg-including-self = 1 >= 1 makes EVERY point core; an isolated
    // point (no entry in the ε-pair list) must still label itself
    val df = pts((0, 0, 0), (1, 0.5, 0), (9, 50, 50))
    val got = labelsOf(Dbscan.cluster(df, "id", "geom", eps = 1.1, minPts = 1))
    assert(got == Map(0L -> Some(0L), 1L -> Some(0L), 9L -> Some(9L)))
  }

  test("chain with no core point is all noise") {
    // each chain point has at most 2 neighbors (+self = 3) < minPts 4
    val df = pts((0, 0, 0), (1, 1, 0), (2, 2, 0), (3, 3, 0))
    val got = labelsOf(Dbscan.cluster(df, "id", "geom", eps = 1.1, minPts = 4))
    assert(got.values.forall(_.isEmpty))
  }

  test("two clusters, shared border point joins the smaller label") {
    // two 5-point crosses centered 4 apart (eps=1.1, minPts=4): both centers
    // core. Point 20 sits at (2, 0), within eps of arm tips (1,0) and (3,0) —
    // both non-core borders — so 20 has no core neighbor → noise. Point 21 at
    // (1.05, 0) is within eps of BOTH cores? no — craft a true shared border:
    // place it within eps of each center via a tighter pair of clusters.
    val a = Seq((0L, 0.0, 0.0), (1L, 1.0, 0.0), (2L, -1.0, 0.0), (3L, 0.0, 1.0), (4L, 0.0, -1.0))
    val b = Seq((10L, 4.0, 0.0), (11L, 5.0, 0.0), (12L, 3.0, 0.0), (13L, 4.0, 1.0), (14L, 4.0, -1.0))
    val shared = Seq((20L, 2.0, 0.0)) // dist 2 from both cores → not border of either
    val df = pts((a ++ b ++ shared).map(t => (t._1, t._2, t._3)): _*)
    val got = labelsOf(Dbscan.cluster(df, "id", "geom", eps = 1.1, minPts = 4))
    assert(got(0L) == Some(0L) && got(10L) == Some(10L))
    assert(got(1L) == Some(0L) && got(12L) == Some(10L))
    assert(got(20L) == None) // its only neighbors (1, 12) are border, not core
  }

  test("shared border point adopts the minimum cluster label") {
    // two 4-point columns at x=0 and x=2 (eps=1.2, minPts=4): the bottom
    // three of each column are core (3 in-column neighbors + point 20 for
    // the bottoms). Point 20 at (1,-0.6) is within eps of exactly the two
    // bottom cores (dist 1.166 each) → deg 2+self=3 < 4 → border of BOTH
    // clusters → deterministically takes the min label 0.
    val colA = Seq((0L, 0.0, 0.0), (1L, 0.0, 0.5), (2L, 0.0, 1.0), (3L, 0.0, 1.5))
    val colB = Seq((10L, 2.0, 0.0), (11L, 2.0, 0.5), (12L, 2.0, 1.0), (13L, 2.0, 1.5))
    val shared = Seq((20L, 1.0, -0.6))
    val df = pts((colA ++ colB ++ shared): _*)
    val got = labelsOf(Dbscan.cluster(df, "id", "geom", eps = 1.2, minPts = 4))
    assert(got(0L) == Some(0L) && got(10L) == Some(10L))
    assert(got(20L) == Some(0L))
  }

  test("merged clusters take one min label across the bridge") {
    // two dense columns bridged by a core point chain → single component
    val colA = Seq((0L, 0.0, 0.0), (1L, 0.0, 0.5), (2L, 0.0, 1.0), (3L, 0.0, 1.5))
    val colB = Seq((10L, 1.0, 0.0), (11L, 1.0, 0.5), (12L, 1.0, 1.0), (13L, 1.0, 1.5))
    val df = pts((colA ++ colB): _*)
    val got = labelsOf(Dbscan.cluster(df, "id", "geom", eps = 1.2, minPts = 4))
    assert(got.values.flatten.toSet == Set(0L))
  }

  test("clusterWithin: components of the dwithin graph, never null (round 19)") {
    // PostGIS ST_ClusterWithin semantics = DBSCAN at minPts 1: a 4-hop
    // chain is ONE component (transitive, not pairwise), the far point a
    // singleton cluster (not noise), labels = min id
    val df = pts((0, 0, 0), (1, 0.9, 0), (2, 1.8, 0), (3, 2.7, 0), (4, 3.6, 0), (9, 50, 50))
    val got = labelsOf(Dbscan.clusterWithin(df, "id", "geom", dist = 1.0))
    assert(got == Map(0L -> Some(0L), 1L -> Some(0L), 2L -> Some(0L),
      3L -> Some(0L), 4L -> Some(0L), 9L -> Some(9L)))
    assert(got.values.forall(_.isDefined), "clusterWithin never yields noise")
  }

  test("clusterIntersecting: components of the intersects graph (round 19)") {
    // PostGIS ST_ClusterIntersecting semantics: overlap chains merge
    // transitively; touching (boundary-only contact) counts as
    // intersecting; disjoint geometries are singleton clusters
    val df = spark.sql("""
      SELECT * FROM VALUES
        (0L, ST_MakeEnvelope(0.0, 0.0, 2.0, 1.0)),
        (1L, ST_MakeEnvelope(1.5, 0.0, 3.5, 1.0)),
        (2L, ST_MakeEnvelope(3.0, 0.0, 5.0, 1.0)),
        (3L, ST_MakeEnvelope(5.0, 0.0, 7.0, 1.0)),
        (7L, ST_MakeEnvelope(50.0, 50.0, 51.0, 51.0))
      AS t(id, geom)""")
    val got = labelsOf(Dbscan.clusterIntersecting(df, "id", "geom"))
    // 0-1-2 overlap-chain; 3 TOUCHES 2 at x=5 → same component; 7 alone
    assert(got == Map(0L -> Some(0L), 1L -> Some(0L), 2L -> Some(0L),
      3L -> Some(0L), 7L -> Some(7L)), got.toString)
    assert(got.values.forall(_.isDefined), "clusterIntersecting never yields noise")
    // all-disjoint: every row its own cluster
    val disjoint = spark.sql("""
      SELECT * FROM VALUES
        (0L, ST_MakeEnvelope(0.0, 0.0, 1.0, 1.0)),
        (5L, ST_MakeEnvelope(10.0, 0.0, 11.0, 1.0)),
        (9L, ST_MakeEnvelope(20.0, 0.0, 21.0, 1.0))
      AS t(id, geom)""")
    assert(labelsOf(Dbscan.clusterIntersecting(disjoint, "id", "geom")) ==
      Map(0L -> Some(0L), 5L -> Some(5L), 9L -> Some(9L)))
    // single cluster: a common geometry glues everything together
    val glued = spark.sql("""
      SELECT * FROM VALUES
        (2L, ST_MakeEnvelope(0.0, 0.0, 100.0, 100.0)),
        (4L, ST_MakeEnvelope(10.0, 10.0, 11.0, 11.0)),
        (6L, ST_MakeEnvelope(90.0, 90.0, 91.0, 91.0))
      AS t(id, geom)""")
    assert(labelsOf(Dbscan.clusterIntersecting(glued, "id", "geom"))
      .values.flatten.toSet == Set(2L))
  }

  test("hot-blob corpus: ε-pair generation spreads across tasks (sub-split)") {
    // 90% of 660 points sit in ONE ~0.4-wide blob at (50,50) — a single
    // ε-grid cell at eps=1 — so the blob emits ~540k of the ε-pairs; the
    // remaining 10% scatter over [0,99]². Dbscan.cluster inherits the grid
    // join's hot-cell sub-split for its DWithin self-join; this pins the
    // inherited property the way SpatialJoinSpec pins it for the join
    // itself: no task of the pair-generation stage may read ≥50% of the
    // stage's shuffle records on a 90%-one-blob corpus.
    val s = spark
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = s.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "16")
    // AQE's byte-coalescing folds the small SQL shuffles of this fixture
    // into 1-2 fat tasks, which would hide per-KEY balance behind
    // byte-balance; with it off, every shuffle runs its 16 hash partitions
    // and key skew is observable per task
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val df = s.sql("""
      SELECT id, CASE WHEN id < 600
          THEN ST_Point(50.0 + (id % 20) * 0.02,
                        50.0 + (CAST(id / 20 AS INT) % 30) * 0.02)
          ELSE ST_Point(CAST((id * 7) % 100 AS DOUBLE), CAST((id * 13) % 100 AS DOUBLE))
        END AS geom
      FROM (SELECT explode(sequence(0L, 659L)) AS id)""")
    val perStage = new java.util.concurrent.ConcurrentHashMap[Int, List[Long]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach { m =>
          perStage.merge(te.stageId, List(m.shuffleReadMetrics.recordsRead),
            (a, b) => a ++ b)
        }
    }
    s.sparkContext.addSparkListener(listener)
    try {
      val got = labelsOf(Dbscan.cluster(df, "id", "geom", eps = 1.0, minPts = 5))
      // sanity: the blob is one cluster labeled by its min id, end to end
      assert(got(0L) == Some(0L) && got(599L) == Some(0L))
      assert(got.values.flatten.count(_ == 0L) >= 600, s"blob fragmented: $got")
      // listener bus is async: wait until stage totals stabilize
      var snapshot = Map.empty[Int, List[Long]]
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var stable = false
      while (!stable && System.nanoTime() < deadline) {
        Thread.sleep(200)
        val now = scala.jdk.CollectionConverters.MapHasAsScala(perStage).asScala.toMap
        stable = now == snapshot && now.values.map(_.sum).maxOption.exists(_ > 1000)
        snapshot = now
      }
      // EVERY substantial shuffle stage must balance — the grid-join
      // pair-generation stage (hot-cell sub-split under test) AND the
      // downstream pair/label shuffles (id-keyed, naturally spread).
      // Stages AQE already coalesced to 1-2 byte-balanced partitions are
      // excluded: a 58/42 split across two fat coalesced tasks is AQE
      // working as designed, not key skew (the grid join's own shuffle is
      // RDD-level and never coalesced, so it always stays in scope).
      val substantial = snapshot.filter { case (_, recs) =>
        recs.sum > 1000 && recs.length >= 3
      }
      assert(substantial.nonEmpty, s"no shuffle stages observed: $snapshot")
      substantial.foreach { case (stageId, recs) =>
        val maxShare = recs.max.toDouble / recs.sum
        assert(maxShare < 0.5,
          s"stage $stageId skewed: max task reads ${(maxShare * 100).round}% " +
            s"of ${recs.sum} shuffle records ($recs)")
      }
    } finally {
      s.sparkContext.removeSparkListener(listener)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
  }

  test("canonical a<b pairs: refine tests halve inside the grid exec (round 21)") {
    // the round-20 rejected experiment put the inequality in a Filter ABOVE
    // GridSpatialJoinExec (refine tests unchanged, measured negative); the
    // round-21 absorption evaluates it in the probe loop BEFORE the JTS
    // test. The counter is the structural proof: if the inequality ran
    // above the join, both variants would pay the identical ~n² refine
    // tests. Also pins pair-set equivalence (canonical set = filtered
    // symmetric set), which is what Dbscan's rewrite relies on.
    val s = spark
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // one dense blob: every pair within eps — worst-case symmetric stream
      s.sql("""
        SELECT id, ST_Point(CAST(id % 10 AS DOUBLE) * 0.01,
                            CAST(CAST(id / 10 AS INT) AS DOUBLE) * 0.01) AS geom
        FROM (SELECT explode(sequence(0L, 99L)) AS id)""")
        .createOrReplaceTempView("dbscan_canon")
      def runJoin(cond: String): (Long, Set[(Long, Long)]) = {
        val before = graft.plans.GridSpatialJoinExec.refineTests.sum()
        val out = sql(s"""SELECT a.id AS src, b.id AS dst
          FROM dbscan_canon a JOIN dbscan_canon b
          ON ST_DWithin(a.geom, b.geom, 5.0) AND $cond""")
        assert(out.queryExecution.executedPlan.toString.contains("GridSpatialJoin"))
        val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (graft.plans.GridSpatialJoinExec.refineTests.sum() - before, pairs)
      }
      val (fullTests, fullPairs) = runJoin("a.id != b.id")
      val (halfTests, halfPairs) = runJoin("a.id < b.id")
      assert(fullPairs.size == 9900 && halfPairs.size == 4950, "fixture decayed")
      assert(halfPairs == fullPairs.filter(p => p._1 < p._2))
      assert(fullPairs == halfPairs ++ halfPairs.map(_.swap))
      assert(halfTests <= (fullTests * 0.55).toLong,
        s"canonical pairs must ~halve refine tests: $halfTests vs $fullTests")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }
}
