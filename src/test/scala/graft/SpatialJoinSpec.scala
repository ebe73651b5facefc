package graft

import org.apache.spark.sql.functions._
import graft.operators.SpatialJoin

class SpatialJoinSpec extends SparkTestBase {

  private lazy val points = {
    val s = spark
    s.sql("""
      SELECT id, ST_Point(CAST(id % 20 AS DOUBLE), CAST(CAST(id / 20 AS INT) AS DOUBLE)) AS pt
      FROM (SELECT explode(sequence(0, 399)) AS id)""")
  }

  private lazy val zones = spark.sql("""
    SELECT zid, ST_MakeEnvelope(xmin, ymin, xmin + 7.5, ymin + 7.5) AS zone
    FROM VALUES (0, 0.0, 0.0), (1, 5.0, 5.0), (2, 12.0, 12.0), (3, 100.0, 100.0)
         AS t(zid, xmin, ymin)""")

  // ground truth computed driver-side with the JTS kernels directly — it
  // must be independent of every join strategy (a SQL θ-join on ST_Covers
  // now auto-plans to SpatialJoinExec, so it can't serve as its own oracle)
  private lazy val collectedPts =
    points.collect().map(r => (r.getInt(0), r.getAs[Array[Byte]]("pt")))
  private lazy val collectedZones =
    zones.collect().map(r => (r.getInt(0), r.getAs[Array[Byte]]("zone")))
  private lazy val expected: Set[(Int, Int)] =
    (for { (id, pt) <- collectedPts; (zid, zone) <- collectedZones
           if graft.core.GeomOps.covers(zone, pt) } yield (id, zid)).toSet

  test("broadcast STRtree join == nested-loop ground truth") {
    val got = SpatialJoin.broadcast(points, zones, "pt", "zone", "covers")
      .select("id", "zid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("broadcast goes through a real BroadcastExchange, not a driver collect") {
    val df = SpatialJoin.broadcast(points, zones, "pt", "zone", "covers",
      project = Seq("id", "zid"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SpatialJoin"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    // the hint must hold even when stats would disqualify both sides
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val hinted = SpatialJoin.broadcast(points, zones, "pt", "zone", "covers")
      val p2 = hinted.queryExecution.executedPlan.toString
      assert(p2.contains("SpatialJoin") && p2.contains("BroadcastExchange"), p2)
      assert(hinted.select("id", "zid").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("grid-partitioned join == ground truth (incl. reference-point dedup)") {
    val got = SpatialJoin.grid(points, zones, "pt", "zone", cellSize = 4.0)
      .select("id", "zid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    // grid join refines with intersects; for point-in-rect covers==intersects
    assert(got == expected)
    // dedup check: a zone spans multiple cells — no pair may appear twice
    val all = SpatialJoin.grid(points, zones, "pt", "zone", cellSize = 4.0)
      .select("id", "zid").collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(all.length == all.toSet.size)
  }

  test("dwithin predicate") {
    val got = SpatialJoin.broadcast(points, zones, "pt", "zone", "dwithin:2.0")
      .select("id", "zid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val exp = points.join(zones, call_function("st_dwithin", col("pt"), col("zone"), lit(2.0)))
      .select("id", "zid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == exp)
    assert(got.size > expected.size) // strictly looser than containment
  }

  test("empty small side yields empty result, not failure") {
    val empty = zones.filter("zid < 0")
    assert(SpatialJoin.broadcast(points, empty, "pt", "zone").count() == 0)
  }

  // ── planner strategy: SQL θ-joins auto-plan to SpatialJoinExec ─────────

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("strategy: SQL join ON ST_Covers plans as SpatialJoinExec") {
    points.createOrReplaceTempView("sj_pts")
    zones.createOrReplaceTempView("sj_zones")
    val q = sql("SELECT id, zid FROM sj_pts JOIN sj_zones ON ST_Covers(zone, pt)")
    assert(planOf(q).contains("SpatialJoin"), planOf(q))
    assert(q.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == expected)
  }

  test("strategy: flipped argument order is normalized (ST_CoveredBy(pt, zone))") {
    points.createOrReplaceTempView("sj_pts")
    zones.createOrReplaceTempView("sj_zones")
    val q = sql("SELECT id, zid FROM sj_pts JOIN sj_zones ON ST_CoveredBy(pt, zone)")
    assert(planOf(q).contains("SpatialJoin"), planOf(q))
    assert(q.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == expected)
  }

  test("strategy: dwithin with residual conjunct becomes join + filter") {
    points.createOrReplaceTempView("sj_pts")
    zones.createOrReplaceTempView("sj_zones")
    // residual must NOT be an equality across the sides — that now (by
    // design) yields the whole join to Spark's native hash join
    val q = sql("""SELECT id, zid FROM sj_pts JOIN sj_zones
                   ON ST_DWithin(pt, zone, 2.0) AND id % 2 > zid % 2""")
    assert(planOf(q).contains("SpatialJoin"), planOf(q))
    val exp = (for { (id, pt) <- collectedPts; (zid, zone) <- collectedZones
                     if graft.core.GeomOps.dWithin(pt, zone, 2.0) && id % 2 > zid % 2 }
               yield (id, zid)).toSet
    assert(q.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == exp)
  }

  test("strategy: edges-stamped ST_DWithin join plans spatial, never BNLJ") {
    // ST_DWithin over a geoparquet.edges-stamped column rewrites at
    // ANALYSIS time to `distanceSphere(a,b) <= d` — the strategy must
    // recognize that form or the join regresses to BroadcastNestedLoopJoin
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("sj_edges").toString
    val stations = spark.sql("""
      SELECT CAST(id AS BIGINT) AS sid,
             ST_Point(CAST(id AS DOUBLE) * 2.0, 0.0) AS geometry
      FROM range(5)""")
    graft.sources.GeoParquet.write(stations, tmp + "/stations", edges = Some("spherical"))
    val st = graft.sources.GeoParquet.read(spark, tmp + "/stations")
    val reports = spark.sql("""
      SELECT CAST(id AS BIGINT) AS rid,
             ST_Point(CAST(id AS DOUBLE) * 0.5, 0.1) AS geometry
      FROM range(20)""").selectExpr("rid", "geometry AS rgeom")
    st.createOrReplaceTempView("sj_stations")
    reports.createOrReplaceTempView("sj_reports")
    // 60 km radius: haversine meters, NOT degrees — at the equator 0.5°
    // is ~55.6 km, so each station catches only nearby report columns
    val q = sql("""SELECT sid, rid FROM sj_stations JOIN sj_reports
                   ON ST_DWithin(geometry, rgeom, 60000.0)""")
    val plan = planOf(q)
    assert(plan.contains("SpatialJoin"), s"stamped DWithin join must plan spatial:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // ground truth from the haversine kernel directly
    val sts = st.select(col("sid"), col("geometry")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    val rps = reports.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    val exp = (for {
      (sid, sg) <- sts; (rid, rg) <- rps
      if graft.core.Geodesy.distanceSphere(sg, rg) <= 60000.0
    } yield (sid, rid)).toSet
    assert(exp.nonEmpty && exp.size < sts.length * rps.length,
      s"fixture must be selective: ${exp.size}")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == exp)
    // the same stamped join through the grid (big×big) path
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val qg = sql("""SELECT sid, rid FROM sj_stations JOIN sj_reports
                      ON ST_DWithin(geometry, rgeom, 60000.0)""")
      val gplan = planOf(qg)
      assert(gplan.contains("GridSpatialJoin") && !gplan.contains("BroadcastNestedLoopJoin"), gplan)
      assert(qg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == exp)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("geodesic envelope pad: pole-adjacent widens to full longitude span") {
    import org.locationtech.jts.geom.Envelope
    // mid-latitude: lon pad > lat pad by 1/cos(φ)
    val e = new Envelope(10.0, 10.0, 60.0, 60.0)
    graft.plans.SpatialJoinExec.padGeodesic(e, 111000.0)
    val latPad = 60.0 - e.getMinY
    val lonPad = 10.0 - e.getMinX
    assert(latPad > 0.9 && latPad < 1.2, s"latPad $latPad")
    assert(lonPad > latPad * 1.8, s"lon must widen by ~1/cos(61°): $lonPad vs $latPad")
    // pole-adjacent: no bounded lon pad is correct — full span
    val p = new Envelope(5.0, 5.0, 89.5, 89.5)
    graft.plans.SpatialJoinExec.padGeodesic(p, 50000.0)
    assert(p.getMinX <= -180.0 && p.getMaxX >= 180.0, s"$p")
    // antimeridian: a padded range crossing ±180 widens to full span
    // (envelopes don't wrap — a bounded pad would silently drop pairs
    // straddling the seam)
    val a = new Envelope(179.9, 179.9, 0.0, 0.0)
    graft.plans.SpatialJoinExec.padGeodesic(a, 100000.0)
    assert(a.getMinX <= -180.0 && a.getMaxX >= 180.0, s"$a")
  }

  test("padGeodesic property: every point within r meters lies inside the padded envelope") {
    // the false-negative guard for the whole geodesic join family: if this
    // holds, no matching pair can be lost to the candidate envelope —
    // over-padding is allowed, under-padding is the bug class
    import org.locationtech.jts.geom.Envelope
    val rnd = new scala.util.Random(1234)
    var checked = 0
    (0 until 3000).foreach { _ =>
      val lon = rnd.nextDouble() * 360.0 - 180.0
      val lat = rnd.nextDouble() * 179.8 - 89.9
      val meters = math.pow(10.0, 1.0 + rnd.nextDouble() * 5.3) // 10 m .. ~2000 km
      val az = rnd.nextDouble() * 2 * math.Pi
      val frac = rnd.nextDouble() // anywhere inside the radius
      val src = graft.core.GeomOps.point(lon, lat)
      val dst = graft.core.GeomOps.read(
        graft.core.Geodesy.projectSphere(src, meters * frac, az)).getCoordinate
      val e = new Envelope(lon, lon, lat, lat)
      graft.plans.SpatialJoinExec.padGeodesic(e, meters)
      // haversine is the model the pad serves; the destination point's
      // actual distance is meters*frac <= meters by construction
      assert(e.covers(dst.x, dst.y),
        f"dest ($lat%.4f,$lon%.4f) +${meters * frac}%.0fm az ${math.toDegrees(az)}%.0f° " +
          f"→ (${dst.y}%.4f,${dst.x}%.4f) escaped $e")
      checked += 1
    }
    assert(checked == 3000)
  }

  test("distance-comparison join shapes plan as spatial joins, strict < stays exact") {
    // users spell radius joins as `ST_Distance(a,b) <= d` at least as often
    // as ST_DWithin — both must take the spatial join, never BNLJ
    points.createOrReplaceTempView("dc_pts")
    spark.sql("""
      SELECT qid, ST_Point(x, y) AS qg
      FROM VALUES (0, 3.0, 3.0), (1, 15.0, 12.0) AS t(qid, x, y)""")
      .createOrReplaceTempView("dc_q")
    val le = sql("SELECT id, qid FROM dc_pts JOIN dc_q ON ST_Distance(pt, qg) <= 2.0")
    assert(planOf(le).contains("SpatialJoin"), planOf(le))
    assert(!planOf(le).contains("BroadcastNestedLoopJoin"))
    // ground truth via the JTS kernel driver-side
    val qs = Seq((0, 3.0, 3.0), (1, 15.0, 12.0))
    def bruteWithin(r: Double, strict: Boolean) =
      (for { (id, pt) <- collectedPts; (qid, qx, qy) <- qs
             d = graft.core.GeomOps.read(pt).distance(
               graft.core.GeomOps.factory.createPoint(
                 new org.locationtech.jts.geom.Coordinate(qx, qy)))
             if (strict && d < r) || (!strict && d <= r) } yield (id, qid)).toSet
    assert(le.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == bruteWithin(2.0, strict = false))
    // strict <: the integer grid has points at EXACTLY distance 2.0 from
    // (3,3) — (1,3),(5,3),(3,1),(3,5) — which <= would wrongly include;
    // the residual filter must exclude them while the join still plans
    val lt = sql("SELECT id, qid FROM dc_pts JOIN dc_q ON ST_Distance(pt, qg) < 2.0")
    assert(planOf(lt).contains("SpatialJoin"), planOf(lt))
    val gotLt = lt.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val expLt = bruteWithin(2.0, strict = true)
    assert(gotLt == expLt, s"strict boundary: ${gotLt.diff(expLt)} extra, ${expLt.diff(gotLt)} missing")
    assert(bruteWithin(2.0, strict = false).size > expLt.size,
      "fixture must actually have boundary pairs")
    // flipped literal-first comparison plans too
    val ge = sql("SELECT id, qid FROM dc_pts JOIN dc_q ON 2.0 >= ST_Distance(pt, qg)")
    assert(planOf(ge).contains("SpatialJoin"), planOf(ge))
    assert(ge.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == bruteWithin(2.0, strict = false))
    // BETWEEN desugars to (d >= lo) AND (d <= hi): the hi conjunct extracts
    // as the radius predicate, the lo conjunct stays a residual filter —
    // an annulus join through the spatial exec
    val bt = sql("SELECT id, qid FROM dc_pts JOIN dc_q ON ST_Distance(pt, qg) BETWEEN 1.0 AND 2.0")
    assert(planOf(bt).contains("SpatialJoin"), planOf(bt))
    val expBt = (for { (id, pt) <- collectedPts; (qid, qx, qy) <- qs
                       d = graft.core.GeomOps.read(pt).distance(
                         graft.core.GeomOps.factory.createPoint(
                           new org.locationtech.jts.geom.Coordinate(qx, qy)))
                       if d >= 1.0 && d <= 2.0 } yield (id, qid)).toSet
    assert(bt.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == expBt)
    // explicit geodesic kernel without any stamped column: a meters-radius
    // join over lon/lat plans the geodesic dWithin family
    spark.sql("""
      SELECT aid, ST_Point(lon, lat) AS ag
      FROM VALUES (0, 179.9, 0.0), (1, 10.0, 50.0) AS t(aid, lon, lat)""")
      .createOrReplaceTempView("dc_ga")
    spark.sql("""
      SELECT bid, ST_Point(lon, lat) AS bg
      FROM VALUES (0, -179.5, 0.0), (1, 10.1, 50.05) AS t(bid, lon, lat)""")
      .createOrReplaceTempView("dc_gb")
    val sph = sql(
      "SELECT aid, bid FROM dc_ga JOIN dc_gb ON ST_DistanceSphere(ag, bg) <= 100000.0")
    assert(planOf(sph).contains("SpatialJoin"), planOf(sph))
    // (179.9,0)↔(−179.5,0) is ~66.8 km ACROSS the seam; (10,50)↔(10.1,50.05) ~9 km
    assert(sph.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == Set((0, 0), (1, 1)))
  }

  test("geodesic dWithin join finds pairs across the antimeridian") {
    val tmp = java.nio.file.Files.createTempDirectory("sj_seam").toString
    // (179.9, 0) and (-179.5, 0) are ~66.8 km apart by haversine — a true
    // 100 km match that a non-wrapping envelope pad would silently drop
    val a = spark.sql("""
      SELECT CAST(id AS BIGINT) AS aid,
             ST_Point(CASE WHEN id = 0 THEN 179.9 ELSE CAST(id AS DOUBLE) END, 0.0) AS geometry
      FROM range(4)""")
    graft.sources.GeoParquet.write(a, tmp + "/a", edges = Some("spherical"))
    graft.sources.GeoParquet.read(spark, tmp + "/a").createOrReplaceTempView("sj_seam_a")
    spark.sql("""
      SELECT CAST(id AS BIGINT) AS bid,
             ST_Point(CASE WHEN id = 0 THEN -179.5 ELSE CAST(id AS DOUBLE) - 50.0 END, 0.0) AS bgeom
      FROM range(4)""").createOrReplaceTempView("sj_seam_b")
    val q = sql("""SELECT aid, bid FROM sj_seam_a JOIN sj_seam_b
                   ON ST_DWithin(geometry, bgeom, 100000.0)""")
    assert(planOf(q).contains("SpatialJoin"), planOf(q))
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 0L)),
      s"the seam-straddling pair must survive the envelope pad: $got")
    // identical rows via the grid path
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val qg = sql("""SELECT aid, bid FROM sj_seam_a JOIN sj_seam_b
                      ON ST_DWithin(geometry, bgeom, 100000.0)""")
      assert(planOf(qg).contains("GridSpatialJoin"), planOf(qg))
      assert(qg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == got)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // COUNT(*) fold path agrees (exercises SpatialJoinFoldExec's pad)
    val qc = sql("""SELECT aid, COUNT(*) AS n FROM sj_seam_a JOIN sj_seam_b
                    ON ST_DWithin(geometry, bgeom, 100000.0) GROUP BY aid""")
    val counts = qc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expCounts = got.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(counts == expCounts, s"$counts vs $expCounts (plan: ${planOf(qc)})")
  }

  test("strategy: big×big (no broadcastable side) plans as GridSpatialJoin, never BNLJ") {
    points.createOrReplaceTempView("sj_pts")
    zones.createOrReplaceTempView("sj_zones")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = sql("SELECT id, zid FROM sj_pts JOIN sj_zones ON ST_Covers(zone, pt)")
      val plan = planOf(q)
      assert(plan.contains("GridSpatialJoin"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(q.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("grid auto-plan: dwithin semantics and exactly-once output") {
    points.createOrReplaceTempView("sj_pts")
    zones.createOrReplaceTempView("sj_zones")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = sql("SELECT id, zid FROM sj_pts JOIN sj_zones ON ST_DWithin(pt, zone, 2.0)")
      assert(planOf(q).contains("GridSpatialJoin"), planOf(q))
      val all = q.collect().map(r => (r.getInt(0), r.getInt(1)))
      val exp = (for { (id, pt) <- collectedPts; (zid, zone) <- collectedZones
                       if graft.core.GeomOps.dWithin(pt, zone, 2.0) } yield (id, zid)).toSet
      assert(all.toSet == exp)
      assert(all.length == all.toSet.size) // reference-point dedup: no pair twice
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("broadcast refuses an oversized build side with a clear error") {
    val prev = spark.conf.getOption("graft.spatialJoin.maxBuildBytes")
    spark.conf.set("graft.spatialJoin.maxBuildBytes", "1")
    try {
      val e = intercept[IllegalArgumentException] {
        SpatialJoin.broadcast(points, zones, "pt", "zone")
      }
      assert(e.getMessage.contains("maxBuildBytes"))
      assert(e.getMessage.contains("grid"))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("graft.spatialJoin.maxBuildBytes", v)
        case None => spark.conf.unset("graft.spatialJoin.maxBuildBytes")
      }
    }
  }

  test("strategy: parent Project narrows the join output (no geometry in rows)") {
    points.createOrReplaceTempView("sj_pts")
    zones.createOrReplaceTempView("sj_zones")
    val q = sql("SELECT id, zid FROM sj_pts JOIN sj_zones ON ST_Covers(zone, pt)")
    val plan = planOf(q)
    // narrowed output renders as the final List(...) in the node string —
    // only the consumed columns, no geometry attrs
    assert("SpatialJoin .*List\\(id#\\d+, zid#\\d+\\)".r.findFirstIn(plan).isDefined, plan)
    assert(q.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == expected)
  }

  test("empty relations through both auto-planned paths") {
    points.createOrReplaceTempView("sj_pts")
    zones.filter("zid < 0").createOrReplaceTempView("sj_zones_empty")
    // broadcast path
    val b = sql("SELECT id, zid FROM sj_pts JOIN sj_zones_empty ON ST_Covers(zone, pt)")
    assert(b.count() == 0)
    // grid path (threshold off)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // PropagateEmptyRelation may collapse a known-empty side before any
      // join strategy fires — either way, zero rows and no failure
      val g = sql("SELECT id, zid FROM sj_pts JOIN sj_zones_empty ON ST_Covers(zone, pt)")
      assert(g.count() == 0)
      // a non-statically-empty but zero-row side does reach the grid path
      zones.filter("xmin > 1e9").createOrReplaceTempView("sj_zones_empty2")
      val g2 = sql("SELECT id, zid FROM sj_pts JOIN sj_zones_empty2 ON ST_Covers(zone, pt)")
      assert(g2.count() == 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("strategy: equi-conjunct joins yield to Spark's native hash join") {
    points.createOrReplaceTempView("sj_pts")
    zones.createOrReplaceTempView("sj_zones")
    // a key equality between the sides: Spark's hash/sort-merge join on the
    // key (spatial predicate as post-filter) beats a spatial join with the
    // equality demoted to a post-filter — the strategy must not claim this
    val q = sql("""SELECT id, zid FROM sj_pts JOIN sj_zones
                   ON id = zid AND ST_Covers(zone, pt)""")
    val plan = planOf(q)
    assert(!plan.contains("SpatialJoin"), plan)
    val exp = (for { (id, pt) <- collectedPts; (zid, zone) <- collectedZones
                     if id == zid && graft.core.GeomOps.covers(zone, pt) }
               yield (id, zid)).toSet
    assert(q.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == exp)
    // same with the threshold off (previously the grid path claimed it)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q2 = sql("""SELECT id, zid FROM sj_pts JOIN sj_zones
                      ON id = zid AND ST_Covers(zone, pt)""")
      val plan2 = planOf(q2)
      assert(!plan2.contains("SpatialJoin"), plan2)
      assert(!plan2.contains("BroadcastNestedLoopJoin"), plan2)
      assert(q2.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == exp)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("count fold: COUNT(*) GROUP BY build keys folds into the probe loop") {
    points.createOrReplaceTempView("sj_pts")
    zones.createOrReplaceTempView("sj_zones")
    val q = sql("""SELECT zid, COUNT(*) AS n FROM sj_pts JOIN sj_zones
                   ON ST_Covers(zone, pt) GROUP BY zid ORDER BY zid""")
    val plan = planOf(q)
    assert(plan.contains("SpatialJoinFold"), plan)
    val exp = expected.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val got = q.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == exp)
    // schema stays what COUNT(*) produced (bigint, non-null path intact)
    assert(q.schema("n").dataType == org.apache.spark.sql.types.LongType)
  }

  test("count fold: global COUNT(*) with no grouping also folds") {
    points.createOrReplaceTempView("sj_pts")
    zones.createOrReplaceTempView("sj_zones")
    val q = sql("SELECT COUNT(*) AS n FROM sj_pts JOIN sj_zones ON ST_Covers(zone, pt)")
    assert(planOf(q).contains("SpatialJoinFold"), planOf(q))
    assert(q.head().getLong(0) == expected.size.toLong)
  }

  test("count fold: grouping on the other side swaps the build side and still folds") {
    points.createOrReplaceTempView("sj_pts")
    zones.createOrReplaceTempView("sj_zones")
    // group keys on the points side: points become the (broadcast) build
    // side, zones the probe — count per point = zones covering it
    val q = sql("""SELECT id, COUNT(*) AS n FROM sj_pts JOIN sj_zones
                   ON ST_Covers(zone, pt) GROUP BY id""")
    assert(planOf(q).contains("SpatialJoinFold"), planOf(q))
    val exp = expected.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(q.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap == exp)
  }

  test("count fold: does NOT fire for mixed-side grouping or non-count aggregates") {
    points.createOrReplaceTempView("sj_pts")
    zones.createOrReplaceTempView("sj_zones")
    // grouping spans both sides: no single build side carries the keys
    val q = sql("""SELECT id, zid, COUNT(*) AS n FROM sj_pts JOIN sj_zones
                   ON ST_Covers(zone, pt) GROUP BY id, zid""")
    assert(!planOf(q).contains("SpatialJoinFold"), planOf(q))
    // non-count aggregate: no fold either
    val q2 = sql("""SELECT zid, SUM(id) AS s FROM sj_pts JOIN sj_zones
                    ON ST_Covers(zone, pt) GROUP BY zid""")
    assert(!planOf(q2).contains("SpatialJoinFold"), planOf(q2))
    val exp = expected.groupBy(_._2).view
      .mapValues(_.toSeq.map(_._1.toLong).sum).toMap
    assert(q2.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap == exp)
  }

  test("grid join: hot-cell sub-split balances clustered data (skew mitigation)") {
    val s = spark
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "16")
    // 90% of 2000 points cluster in a ~0.4-wide tile at (50,50) — about one
    // grid cell — while 10% spread over [0,99]²; without mitigation the
    // cluster cell's task reads ~90% of the shuffle
    val pts = s.sql("""
      SELECT id, CASE WHEN id % 10 = 0
          THEN ST_Point(CAST(id % 100 AS DOUBLE), CAST(CAST(id / 100 AS INT) AS DOUBLE))
          ELSE ST_Point(50.0 + (id % 20) * 0.02,
                        50.0 + (CAST(id / 20 AS INT) % 20) * 0.02)
        END AS pt
      FROM (SELECT explode(sequence(0, 1999)) AS id)""")
    val zs = s.sql("""
      SELECT zid, ST_MakeEnvelope(x0, y0, x1, y1) AS zone
      FROM VALUES (0, 49.0, 49.0, 51.0, 51.0), (1, 0.0, 0.0, 30.0, 30.0)
           AS t(zid, x0, y0, x1, y1)""")
    pts.createOrReplaceTempView("skew_pts")
    zs.createOrReplaceTempView("skew_zs")

    try {
      val q = sql("SELECT id, zid FROM skew_pts JOIN skew_zs ON ST_Covers(zone, pt)")
      assert(planOf(q).contains("GridSpatialJoin"), planOf(q))
      var all = Array.empty[(Int, Int)]
      val snapshot = SparkJobs.shuffleReads(s) {
        all = q.collect().map(r => (r.getInt(0), r.getInt(1)))
      }
      // ground truth driver-side with the JTS kernel
      val cp = pts.collect().map(r => (r.getInt(0), r.getAs[Array[Byte]]("pt")))
      val cz = zs.collect().map(r => (r.getInt(0), r.getAs[Array[Byte]]("zone")))
      val exp = (for { (id, pt) <- cp; (zid, zone) <- cz
                       if graft.core.GeomOps.covers(zone, pt) } yield (id, zid)).toSet
      assert(all.toSet == exp, s"got ${all.length} rows, expected ${exp.size}")
      assert(all.length == all.toSet.size, "reference-point dedup must survive sub-split")
      assert(snapshot.nonEmpty, "join shuffle stage not found")
      val (joinStage, recs) = snapshot.maxBy(_._2.sum)
      assert(recs.sum > 1000, s"join shuffle stage not found: $snapshot")
      val maxShare = recs.max.toDouble / recs.sum
      assert(maxShare < 0.5,
        s"stage $joinStage skewed: max task reads ${(maxShare * 100).round}% " +
          s"of ${recs.sum} shuffle records ($recs)")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  test("strategy: non-spatial joins are untouched") {
    points.createOrReplaceTempView("sj_pts")
    zones.createOrReplaceTempView("sj_zones")
    val q = sql("SELECT id, zid FROM sj_pts JOIN sj_zones ON id = zid")
    assert(!planOf(q).contains("SpatialJoin"), planOf(q))
  }
}
