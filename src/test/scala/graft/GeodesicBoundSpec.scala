package graft

import org.locationtech.jts.geom.Coordinate

import graft.core.{Geodesy, GeomOps, KarneyGeodesic}

/** Geodesic bounding (round 20): the lon/lat envelope of edges traced as
  * geodesics. Pins the closed-form Clairaut vertex latitude, longitude
  * monotonicity (no lon extension), strict conservativeness over densified
  * arcs for BOTH the spheroid and sphere models, and the SQL dispatch of
  * ST_Envelope / ST_BBox / ST_Extent_Agg over edges-stamped columns.
  * Reference contract: rust/geoarrow-schema/src/edges.rs:3-8 names
  * "bounding" among the operations an edge model affects. */
class GeodesicBoundSpec extends SparkTestBase {

  private def wkb(w: String): Array[Byte] =
    GeomOps.write(new org.locationtech.jts.io.WKTReader(GeomOps.factory).read(w))
  private def env(w: String) = Geodesy.geodesicEnvelope(GeomOps.read(wkb(w)))

  test("closed form: symmetric mid-latitude chord bows to the Clairaut vertex") {
    // (-60 50) → (60 50): the vertex sits at lon 0; spherical closed form
    // tan(phiV) = tan(50°)/cos(60°) → 67.25°, Karney within ~0.2° of it
    val e = env("LINESTRING (-60 50, 60 50)")
    val sphereV = math.toDegrees(math.atan(math.tan(math.toRadians(50)) / math.cos(math.toRadians(60))))
    assert(math.abs(sphereV - 67.2395) < 0.01, s"fixture: $sphereV")
    assert(e.getMaxY >= sphereV && e.getMaxY < sphereV + 0.5, s"maxY ${e.getMaxY} vs $sphereV")
    assert(e.getMinY == 50.0, s"no equatorward dip: ${e.getMinY}")
    assert(e.getMinX == -60.0 && e.getMaxX == 60.0, "longitude needs no extension")
    // southern mirror
    val s = env("LINESTRING (-60 -50, 60 -50)")
    assert(s.getMinY <= -sphereV && s.getMinY > -sphereV - 0.5 && s.getMaxY == -50.0)
  }

  test("no vertex inside the segment: bound equals the chord box (mod epsilon)") {
    // short northeast-heading segment — azimuth never crosses 90°
    val e = env("LINESTRING (0 10, 5 20)")
    assert(e.getMinX == 0.0 && e.getMaxX == 5.0)
    assert(e.getMinY >= 10.0 - 1e-6 && e.getMaxY <= 20.0 + 1e-6, e.toString)
    // pole-crossing meridian: max latitude must reach 90
    val p = env("LINESTRING (0 80, 180 80)")
    assert(p.getMaxY >= 89.999999, p.toString)
  }

  test("fuzz: bound strictly contains densified spheroid AND sphere arcs") {
    val rnd = new scala.util.Random(19)
    var checked = 0
    (1 to 300).foreach { _ =>
      val lon1 = rnd.nextDouble() * 340 - 170
      val lat1 = rnd.nextDouble() * 160 - 80
      val lon2 = math.max(-179.9, math.min(179.9, lon1 + rnd.nextDouble() * 120 - 60))
      val lat2 = rnd.nextDouble() * 160 - 80
      if (math.abs(lon1 - lon2) + math.abs(lat1 - lat2) > 1e-6) {
        val w = s"LINESTRING ($lon1 $lat1, $lon2 $lat2)"
        val e = env(w)
        // spheroid arc: exact Karney waypoints
        val dense = GeomOps.read(Geodesy.segmentizeGeodesic(wkb(w), 20000.0))
        var maxSeen = -90.0
        dense.getCoordinates.foreach { c =>
          assert(e.contains(c.x, c.y) ||
            (c.y <= e.getMaxY + 1e-9 && c.y >= e.getMinY - 1e-9 &&
             c.x <= e.getMaxX + 1e-9 && c.x >= e.getMinX - 1e-9),
            s"$w: waypoint (${c.x}, ${c.y}) outside $e")
          maxSeen = math.max(maxSeen, c.y)
        }
        // tightness: the poleward pad is the vertex itself, not a blanket
        // margin — the densified arc must come within 0.5° of the bound
        // (20-km hops sample the flat vertex region closely)
        assert(e.getMaxY - maxSeen < 0.5 || e.getMaxY <= math.max(lat1, lat2) + 1e-6,
          s"$w: slack bound maxY ${e.getMaxY} vs sampled $maxSeen")
        // sphere arc: great-circle interpolation (slerp) waypoints
        val n = 200
        val f1 = math.toRadians(lat1); val l1 = math.toRadians(lon1)
        val f2 = math.toRadians(lat2); val l2 = math.toRadians(lon2)
        val (x1, y1, z1) = (math.cos(f1) * math.cos(l1), math.cos(f1) * math.sin(l1), math.sin(f1))
        val (x2, y2, z2) = (math.cos(f2) * math.cos(l2), math.cos(f2) * math.sin(l2), math.sin(f2))
        val omega = math.acos(math.max(-1.0, math.min(1.0, x1 * x2 + y1 * y2 + z1 * z2)))
        if (omega > 1e-9 && omega < math.Pi - 1e-6) {
          (0 to n).foreach { k =>
            val t = k.toDouble / n
            val a = math.sin((1 - t) * omega) / math.sin(omega)
            val b = math.sin(t * omega) / math.sin(omega)
            val (x, y, z) = (a * x1 + b * x2, a * y1 + b * y2, a * z1 + b * z2)
            val lat = math.toDegrees(math.asin(math.max(-1.0, math.min(1.0, z))))
            assert(lat <= e.getMaxY + 1e-9 && lat >= e.getMinY - 1e-9,
              s"$w: sphere waypoint lat $lat outside [${e.getMinY}, ${e.getMaxY}]")
          }
        }
        checked += 1
      }
    }
    assert(checked >= 290, s"coverage $checked")
  }

  test("shapes: polygons walk all rings, multis recurse, empty is the 0/-1 sentinel") {
    val p = env("POLYGON ((-40 40, 40 40, 40 60, -40 60, -40 40))")
    // the top edge (-40 60)→(40 60) bows poleward of 60
    assert(p.getMaxY > 60.5 && p.getMinY == 40.0, p.toString)
    val m = env("MULTILINESTRING ((-60 50, 60 50), (0 0, 1 1))")
    assert(m.getMaxY > 67.0 && m.getMinY <= 0.0, m.toString)
    val e = Geodesy.geodesicEnvelope(GeomOps.factory.createPolygon())
    assert(e.isNull, "empty stays the null envelope")
    // bboxGeodesic struct mirrors GeomOps.bbox's 0/-1 empty sentinel
    val r = Geodesy.bboxGeodesic(wkb("POLYGON EMPTY"))
    assert(r.getDouble(0) == 0.0 && r.getDouble(2) == -1.0)
    // point: no edges, no extension
    val pt = env("POINT (30 70)")
    assert(pt.getMinY == 70.0 && pt.getMaxY == 70.0)
  }

  test("SQL dispatch: ST_Envelope / ST_BBox / ST_Extent_Agg go geodesic on stamped columns") {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "gbound_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = spark.sql(
      "SELECT 1L AS fid, ST_GeomFromText('LINESTRING (-60 50, 60 50)') AS geometry")
    graft.sources.GeoParquet.write(df.coalesce(1), out, edges = Some("spherical"))
    graft.sources.GeoParquet.read(spark, out).createOrReplaceTempView("gbound_t")
    val r = spark.sql("""
      SELECT ST_YMax(ST_Envelope(geometry)) AS ey, ST_BBox(geometry).ymax AS by
      FROM gbound_t""").head()
    assert(r.getDouble(0) > 67.0 && r.getDouble(1) > 67.0,
      s"scalar dispatch did not fire: $r")
    val agg = spark.sql("SELECT ST_Extent_Agg(geometry) AS e FROM gbound_t")
      .head().getStruct(0)
    assert(agg.getDouble(3) > 67.0, s"extent agg dispatch did not fire: $agg")
    // kill switch restores planar everywhere
    spark.conf.set("spark.graft.edges.dispatch", "false")
    try {
      val pr = spark.sql(
        "SELECT ST_YMax(ST_Envelope(geometry)) AS ey FROM gbound_t").head()
      val pa = spark.sql(
        "SELECT ST_Extent_Agg(geometry).ymax AS ay FROM gbound_t").head()
      assert(pr.getDouble(0) == 50.0 && pa.getDouble(0) == 50.0,
        s"kill switch ignored: $pr / $pa")
    } finally spark.conf.set("spark.graft.edges.dispatch", "true")
    // explicit names work unstamped
    val ex = spark.sql("""
      SELECT ST_BBoxGeodesic(ST_GeomFromText('LINESTRING (-60 50, 60 50)')).ymax AS v,
             ST_YMax(ST_EnvelopeGeodesic(ST_GeomFromText('LINESTRING (-60 50, 60 50)'))) AS w
      """).head()
    assert(ex.getDouble(0) > 67.0 && ex.getDouble(1) > 67.0)
  }

  test("bbox read of stamped data keeps the arc-but-not-chord row") {
    // THE wrong-answer-by-pruning scenario the round-18 verdict names: the
    // arc of (-60 50)→(60 50) passes lat ≈ 67.24 at lon 0; a window
    // [-1, 66]×[1, 68] is crossed by the ARC but disjoint from the CHORD
    // bbox (lat 50). The stamped write pads the covering to the vertex and
    // the stamped read traces the arc, so the row survives end to end.
    import graft.sources.GeoParquet
    def tmp(tag: String) = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"garc_${tag}_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = spark.sql("""
      SELECT 1L AS fid, ST_GeomFromText('LINESTRING (-60 50, 60 50)') AS geometry
      UNION ALL
      SELECT 2L, ST_GeomFromText('LINESTRING (100 -20, 110 -25)')""")
    val window = Some((-1.0, 66.0, 1.0, 68.0))

    // stamped write: covering is geodesic-padded + footer carries the promise
    val stampedDir = tmp("stamped")
    GeoParquet.write(df.coalesce(1), stampedDir, edges = Some("spherical"))
    val m = GeoParquet.metadata(spark, stampedDir).get
      .columns.find(_.name == "geometry").get
    assert(m.coveringGeodesic, "footer must promise geodesic covering bounds")
    assert(m.bbox.exists(_._4 > 67.0), s"file bounds must be padded: ${m.bbox}")
    val hit = GeoParquet.read(spark, stampedDir, bbox = window)
      .select("fid").collect().map(_.getLong(0)).toSeq
    assert(hit == Seq(1L), s"arc-crossing row must survive the bbox read: $hit")

    // planar write of the same rows: the chord does NOT cross — empty read
    val planarDir = tmp("planar")
    GeoParquet.write(df.coalesce(1), planarDir)
    assert(GeoParquet.read(spark, planarDir, bbox = window).count() == 0)

    // foreign-style chord covering + edges stamp (caller-supplied bbox):
    // no promise in the footer → lon-only coarse + arc refine still keeps
    // the row (correctness without the padded stats)
    val foreignDir = tmp("foreign")
    val chordDf = df.withColumn("bbox",
      org.apache.spark.sql.functions.call_function("st_bbox",
        org.apache.spark.sql.functions.col("geometry")))
    GeoParquet.write(chordDf.coalesce(1), foreignDir, edges = Some("spherical"))
    val fm = GeoParquet.metadata(spark, foreignDir).get
      .columns.find(_.name == "geometry").get
    assert(!fm.coveringGeodesic, "chord covering must NOT carry the promise")
    val fhit = GeoParquet.read(spark, foreignDir, bbox = window)
      .select("fid").collect().map(_.getLong(0)).toSeq
    assert(fhit == Seq(1L), s"chord-covering stamped read must still refine by arc: $fhit")

    // kill switch: stamped read reverts to the documented planar behavior
    spark.conf.set("spark.graft.edges.dispatch", "false")
    try assert(GeoParquet.read(spark, stampedDir, bbox = window).count() == 0)
    finally spark.conf.set("spark.graft.edges.dispatch", "true")
  }

  test("native-encoded stamped columns: extent dispatch and the lat-safe stats prune") {
    // the NATIVE twin of the g124 scenario: a linestring-encoded stamped
    // file has NO covering struct, so the bbox read plans row groups from
    // the raw x/y leaf stats — vertex stats, which under-cover arcs. The
    // read must widen the latitude window away (lon-only prune + arc
    // refine), and ST_Extent_Agg must fold the geodesic bound the ST_BBox
    // builder picks rather than NativePointFastPath's planar leaf bounds.
    import graft.sources.GeoParquet
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "gnative_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = spark.sql("""
      SELECT 1L AS fid, ST_GeomFromText('LINESTRING (-60 50, 60 50)') AS geometry
      UNION ALL
      SELECT 2L, ST_GeomFromText('LINESTRING (100 -20, 110 -25)')""")
    GeoParquet.write(df.coalesce(1), out, covering = false,
      encoding = "linestring", edges = Some("spherical"))
    // extent aggregate: geodesic (the planar leaf rewrite must not apply)
    GeoParquet.read(spark, out).createOrReplaceTempView("gnative_t")
    val agg = spark.sql("SELECT ST_Extent_Agg(geometry) AS e FROM gnative_t")
    val ymax = agg.head().getStruct(0).getDouble(3)
    assert(ymax > 67.0, s"native stamped extent must be geodesic: $ymax")
    // arc-but-not-chord bbox read through the native stats-prune path
    val hit = GeoParquet.read(spark, out, bbox = Some((-1.0, 66.0, 1.0, 68.0)))
      .select("fid").collect().map(_.getLong(0)).toSeq
    assert(hit == Seq(1L), s"native stamped arc read: $hit")
    // a window that matches NOTHING (lon range off every geometry) still
    // prunes/filters to empty — the widened lat must not break lon pruning
    assert(GeoParquet.read(spark, out, bbox = Some((160.0, -5.0, 170.0, 5.0))).count() == 0)
  }


  test("fuzz: stamped bbox reads never lose an arc-intersecting row") {
    // end-to-end pruning exactness for the whole covering/prune/refine
    // pipeline: random stamped datasets × random windows; the expected
    // row set replicates the refine semantics EXACTLY (segmentized arc ∩
    // window via the same kernels), so any divergence is a pruning loss
    // (the g124 bug class) or an over-return
    import graft.sources.GeoParquet
    import graft.core.{Geodesy, GeomOps}
    val rnd = new scala.util.Random(23)
    val step = 50000.0 // the refine default
    var windowsChecked = 0
    (1 to 5).foreach { iter =>
      val out = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"gfz_${iter}_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
      val rows = (0 until 40).map { i =>
        val lon1 = rnd.nextDouble() * 300 - 150
        val lat1 = rnd.nextDouble() * 140 - 70
        val lon2 = math.max(-179.0, math.min(179.0, lon1 + rnd.nextDouble() * 100 - 50))
        val lat2 = rnd.nextDouble() * 140 - 70
        (i.toLong, s"LINESTRING ($lon1 $lat1, $lon2 $lat2)")
      }
      import spark.implicits._
      val df = rows.toDF("fid", "wkt")
        .selectExpr("fid", "ST_GeomFromText(wkt) AS geometry")
      GeoParquet.write(df.coalesce(2), out, edges = Some("spherical"))
      (1 to 3).foreach { _ =>
        val wx = rnd.nextDouble() * 300 - 150
        val wy = rnd.nextDouble() * 150 - 75
        val (ww, wh) = (rnd.nextDouble() * 20 + 1, rnd.nextDouble() * 20 + 1)
        val window = (wx, wy, wx + ww, wy + wh)
        val expected = rows.collect { case (fid, wkt) =>
          val g = GeomOps.read(Geodesy.segmentizeGeodesic(
            GeomOps.write(new org.locationtech.jts.io.WKTReader(GeomOps.factory).read(wkt)), step))
          val rect = GeomOps.factory.toGeometry(
            new org.locationtech.jts.geom.Envelope(window._1, window._3, window._2, window._4))
          if (g.intersects(rect)) Some(fid) else None
        }.flatten.toSet
        val got = GeoParquet.read(spark, out, bbox = Some(window))
          .select("fid").collect().map(_.getLong(0)).toSet
        assert(got == expected,
          s"iter $iter window $window: lost ${expected -- got}, extra ${got -- expected}")
        windowsChecked += 1
      }
    }
    assert(windowsChecked == 15)
  }

  test("antimeridian: seam-crossing segments widen the envelope and read correctly") {
    // lon 170 → -170: the SHORTEST geodesic passes through ±180, OUTSIDE
    // the vertex lon interval — the round-19 under-coverage bug. The
    // envelope must cover the seam (full lon span; an Envelope can't
    // split), and the seam-aware box kernel must hit windows near ±180
    // but NOT mid-world windows the world-spanning planar chord crosses.
    val e = env("LINESTRING (170 10, -170 20)")
    assert(e.getMinX == -180.0 && e.getMaxX == 180.0,
      s"seam-crossing arc must widen lon to the full span: $e")
    assert(e.getMinY == 10.0 && e.getMaxY <= 20.5, s"lat stays tight: $e")
    // a non-wrapping 340°-APART pair going the long way doesn't exist for
    // shortest geodesics; a 160°-apart pair stays vertex-bounded
    val n = env("LINESTRING (10 10, 170 20)")
    assert(n.getMinX == 10.0 && n.getMaxX == 170.0, s"no false widening: $n")

    // seam-aware membership: arc crosses ±180 near lat 15
    val w = wkb("LINESTRING (170 10, -170 20)")
    assert(Geodesy.arcIntersectsBox(w, 178.0, 10.0, 180.0, 20.0, 50000.0),
      "east-of-seam window crossed by the arc")
    assert(Geodesy.arcIntersectsBox(w, -180.0, 10.0, -178.0, 20.0, 50000.0),
      "west-of-seam window crossed by the arc")
    assert(!Geodesy.arcIntersectsBox(w, -1.0, 10.0, 1.0, 20.0, 50000.0),
      "mid-world window: the ARC never goes there (the naive planar chord does)")
    assert(!Geodesy.arcIntersectsBox(w, 178.0, 30.0, 180.0, 40.0, 50000.0),
      "poleward-of-arc window misses")
    // non-wrapping inputs keep the exact old semantics
    val nw = wkb("LINESTRING (-60 50, 60 50)")
    assert(Geodesy.arcIntersectsBox(nw, -1.0, 66.0, 1.0, 68.0, 50000.0),
      "arc-but-not-chord window still hits")
    assert(!Geodesy.arcIntersectsBox(nw, -1.0, 40.0, 1.0, 45.0, 50000.0))
  }

  test("antimeridian: stamped bbox reads keep seam-crossing rows, drop mid-world") {
    import graft.sources.GeoParquet
    def tmp(tag: String) = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"gseam_${tag}_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val df = spark.sql("""
      SELECT 1L AS fid, ST_GeomFromText('LINESTRING (170 10, -170 20)') AS geometry
      UNION ALL
      SELECT 2L, ST_GeomFromText('LINESTRING (-10 -40, 10 -45)')""")
    val seamWindow = Some((178.0, 10.0, 180.0, 20.0))
    val midWindow = Some((-1.0, 10.0, 1.0, 20.0))

    // our write: covering padded to the full lon span for the wrapping row
    val stampedDir = tmp("stamped")
    GeoParquet.write(df.coalesce(1), stampedDir, edges = Some("spherical"))
    def fids(dir: String, w: Option[(Double, Double, Double, Double)]) =
      GeoParquet.read(spark, dir, bbox = w).select("fid")
        .collect().map(_.getLong(0)).toSeq.sorted
    assert(fids(stampedDir, seamWindow) == Seq(1L),
      "seam-crossing row must survive a window at the antimeridian")
    assert(fids(stampedDir, midWindow) == Seq(),
      "the arc never passes lon 0 — no phantom hit from the world-spanning chord")

    // foreign chord covering (vertex box [-170,170], width 340 > 180):
    // the lon prune must let it through to the arc refine
    val foreignDir = tmp("foreign")
    val chordDf = df.withColumn("bbox",
      org.apache.spark.sql.functions.call_function("st_bbox",
        org.apache.spark.sql.functions.col("geometry")))
    GeoParquet.write(chordDf.coalesce(1), foreignDir, edges = Some("spherical"))
    assert(fids(foreignDir, seamWindow) == Seq(1L),
      "wide chord boxes must not be lon-pruned away at the seam")
    assert(fids(foreignDir, midWindow) == Seq())
  }

  test("boolean predicates under an edge model: exact for points, planar for the rest") {
    // the round-19 documented decision: a point has no edges, so every
    // predicate over point-only stamped columns is model-independent —
    // the planar kernel answers exactly. Non-point stamped columns keep
    // the planar predicate (warned at build; divergence shared with the
    // reference, which has no geodesic predicate kernel either).
    import graft.sources.GeoParquet
    def tmp(tag: String) = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"gpred_${tag}_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    // stamped POINTS: equality classes id ≡ id' (mod 50) over (id%25, id%10)
    val ptsDir = tmp("pts")
    GeoParquet.write(spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             ST_Point(CAST(id % 25 AS DOUBLE), CAST(id % 10 AS DOUBLE)) AS geometry
      FROM range(100)"""), ptsDir, edges = Some("spherical"))
    GeoParquet.read(spark, ptsDir).createOrReplaceTempView("gpred_pts")
    val pairs = spark.sql("""
      SELECT a.fid AS aid, b.fid AS bid
      FROM gpred_pts a JOIN gpred_pts b
        ON ST_Intersects(a.geometry, b.geometry) AND a.fid < b.fid
      ORDER BY aid""").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == (0L until 50L).map(i => (i, i + 50L)),
      s"point predicates over stamped columns must answer exactly: ${pairs.take(5)}")
    // stamped LINES: the predicate stays PLANAR — two chords crossing at
    // (5, 60) planar DO intersect planar even though their geodesics cross
    // elsewhere; pin the planar answer so the decision is deliberate
    val linesDir = tmp("lines")
    GeoParquet.write(spark.sql("""
      SELECT 1L AS fid, ST_GeomFromText('LINESTRING (-10 55, 20 65)') AS geometry,
             ST_GeomFromText('LINESTRING (-10 65, 20 55)') AS other"""),
      linesDir, edges = Some("spherical"), secondaryGeometry = Seq("other"))
    GeoParquet.read(spark, linesDir).createOrReplaceTempView("gpred_lines")
    val x = spark.sql(
      "SELECT ST_Intersects(geometry, other) AS i, " +
      "       ST_Intersects(geometry, ST_MakeEnvelope(4.9, 59.9, 5.1, 60.1)) AS e " +
      "FROM gpred_lines").head()
    assert(x.getBoolean(0), "non-point stamped predicate stays planar (documented)")
    assert(x.getBoolean(1), "planar chord passes through (5, 60)")
  }
}
