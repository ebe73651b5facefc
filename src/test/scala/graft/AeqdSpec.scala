package graft

import org.locationtech.jts.geom.Coordinate

import graft.core.{Aeqd, GeomOps, KarneyGeodesic}

/** Ellipsoidal AEQD (the exact geodesic-problem construction) and the
  * meter-true geodesic buffer built on it. The projection's DEFINING
  * property — range and azimuth from the origin are exact — is asserted
  * directly against the Karney inverse; buffers are gated on the
  * geodesic-circle invariant (every boundary vertex of a point buffer is
  * exactly r away) and on bounded width error for extended geometries. */
class AeqdSpec extends SparkTestBase {

  private def wkb(wkt: String): Array[Byte] =
    GeomOps.write(new org.locationtech.jts.io.WKTReader(GeomOps.factory).read(wkt))
  private def geom(b: Array[Byte]) = GeomOps.read(b)

  test("forward preserves geodesic range and azimuth from the origin exactly") {
    val rnd = new scala.util.Random(0xAE0DL)
    (0 until 500).foreach { _ =>
      val lon0 = rnd.nextDouble() * 340 - 170
      val lat0 = rnd.nextDouble() * 160 - 80
      val lon = rnd.nextDouble() * 340 - 170
      val lat = rnd.nextDouble() * 160 - 80
      val (x, y) = Aeqd.forward(lon0, lat0, lon, lat)
      val s = KarneyGeodesic.distance(lat0, lon0, lat, lon)
      assert(math.abs(math.hypot(x, y) - s) < 1e-8 * math.max(1.0, s),
        s"range: ${math.hypot(x, y)} vs $s")
    }
    // origin maps to (0, 0); due north is +y, due east +x
    assert(Aeqd.forward(10, 50, 10, 50) == ((0.0, 0.0)))
    val (nx, ny) = Aeqd.forward(10, 50, 10, 51)
    assert(math.abs(nx) < 1e-6 && ny > 110000, s"north: ($nx, $ny)")
    val (ex, ey) = Aeqd.forward(0, 0, 1, 0)
    assert(ex > 110000 && math.abs(ey) < 1e-6, s"east: ($ex, $ey)")
  }

  test("reverse ∘ forward roundtrips to nanometers; singularities are loud") {
    val rnd = new scala.util.Random(0xBE11L)
    (0 until 500).foreach { _ =>
      val lon0 = rnd.nextDouble() * 340 - 170
      val lat0 = rnd.nextDouble() * 160 - 80
      val lon = rnd.nextDouble() * 340 - 170
      val lat = rnd.nextDouble() * 160 - 80
      val (x, y) = Aeqd.forward(lon0, lat0, lon, lat)
      val (rlon, rlat) = Aeqd.reverse(lon0, lat0, x, y)
      assert(KarneyGeodesic.distance(lat, lon, rlat, rlon) < 1e-6,
        s"roundtrip ($lon, $lat) about ($lon0, $lat0) -> ($rlon, $rlat)")
    }
    // antipode refused on forward; beyond-half-circumference refused on reverse
    intercept[IllegalArgumentException](Aeqd.forward(0, 0, 180, 0))
    intercept[IllegalArgumentException](Aeqd.reverse(0, 0, 2.1e7, 0))
  }

  test("SQL surface: ST_TransformAeqd(+Inv) roundtrip and range semantics") {
    val rows = spark.sql("""
      SELECT id,
             ST_TransformAeqd(ST_Point(2.0 + id * 0.1, 48.0 + id * 0.05), 2.35, 48.85) AS p
      FROM range(20)""")
    rows.createOrReplaceTempView("aeqd_t")
    val back = spark.sql("""
      SELECT id, ST_X(ST_TransformAeqdInv(p, 2.35, 48.85)) AS lon,
             ST_Y(ST_TransformAeqdInv(p, 2.35, 48.85)) AS lat,
             SQRT(ST_X(p) * ST_X(p) + ST_Y(p) * ST_Y(p)) AS range,
             ST_DistanceGeodesic(ST_Point(2.0 + id * 0.1, 48.0 + id * 0.05),
                                 ST_Point(2.35, 48.85)) AS s
      FROM aeqd_t ORDER BY id""").collect()
    back.foreach { r =>
      val id = r.getLong(0)
      assert(math.abs(r.getDouble(1) - (2.0 + id * 0.1)) < 1e-9)
      assert(math.abs(r.getDouble(2) - (48.0 + id * 0.05)) < 1e-9)
      assert(math.abs(r.getDouble(3) - r.getDouble(4)) < 1e-6,
        s"AEQD range ${r.getDouble(3)} vs geodesic ${r.getDouble(4)}")
    }
  }

  test("point buffer: every boundary vertex sits on the geodesic circle") {
    Seq((2.35, 48.85, 10000.0), (-73.98, 40.75, 250000.0),
        (151.2, -33.87, 1000000.0), (0.0, 0.0, 50000.0),
        (10.0, 78.0, 300000.0) /* high latitude */).foreach {
      case (lon, lat, r) =>
        val out = geom(Aeqd.bufferGeodesic(wkb(s"POINT ($lon $lat)"), r, 16))
        assert(out.getGeometryType == "Polygon" && out.isValid)
        val ring = out.asInstanceOf[org.locationtech.jts.geom.Polygon].getExteriorRing
        assert(ring.getNumPoints == 4 * 16 + 1, s"ring size ${ring.getNumPoints}")
        var worst = 0.0
        ring.getCoordinates.foreach { c =>
          val d = KarneyGeodesic.distance(lat, lon, c.y, c.x)
          worst = math.max(worst, math.abs(d - r))
        }
        assert(worst < 1e-3, s"($lon, $lat, r=$r): worst vertex deviation $worst m")
        // contains its center, in lon/lat space
        assert(out.contains(GeomOps.factory.createPoint(new Coordinate(lon, lat))))
    }
  }

  test("line and polygon buffers: width correct within the documented bound") {
    // a ~170 km diagonal line buffered by 20 km: sampled boundary vertices
    // must lie 20 km (±0.05%) from the line, measured geodesically via a
    // dense resampling of the input
    val line = wkb("LINESTRING (2.0 48.0, 3.0 49.0)")
    val buf = geom(Aeqd.bufferGeodesic(line, 20000.0, 12))
    assert(buf.isValid && buf.getGeometryType == "Polygon")
    val samples = (0 to 400).map { i =>
      val t = i / 400.0
      (2.0 + t * 1.0, 48.0 + t * 1.0) // geodesic≈chord at this scale for sampling
    }
    var worstRel = 0.0
    buf.asInstanceOf[org.locationtech.jts.geom.Polygon].getExteriorRing.getCoordinates
      .foreach { c =>
        val dMin = samples.map { case (lo, la) =>
          KarneyGeodesic.distance(la, lo, c.y, c.x)
        }.min
        worstRel = math.max(worstRel, math.abs(dMin - 20000.0) / 20000.0)
      }
    // the straight-segment resample of the input is itself ~11 m off the
    // true geodesic at this length; 0.1% (20 m) absorbs sampling + plane
    assert(worstRel < 1e-3, s"line buffer worst width error ${worstRel * 100}%")
    // polygon: buffer contains the original; negative buffer shrinks it
    val poly = wkb("POLYGON ((10 50, 11 50, 11 51, 10 51, 10 50))")
    val grown = geom(Aeqd.bufferGeodesic(poly, 5000.0, 8))
    val shrunk = geom(Aeqd.bufferGeodesic(poly, -5000.0, 8))
    assert(grown.contains(geom(poly)) && geom(poly).contains(shrunk))
    assert(shrunk.getArea > 0 && shrunk.getArea < geom(poly).getArea)
  }

  test("buffer guards: empty in, empty out; oversized geometry refused") {
    assert(geom(Aeqd.bufferGeodesic(wkb("POINT EMPTY"), 1000.0, 8)).isEmpty)
    // a geometry spanning ~40° (> 1500 km from its centroid) must refuse
    val wide = wkb("LINESTRING (-20 0, 20 0)")
    val e = intercept[IllegalArgumentException](Aeqd.bufferGeodesic(wide, 1000.0, 8))
    assert(e.getMessage.contains("Split the geometry"))
  }

  test("geodesic segmentize: waypoints on the true geodesic, hops bounded, rings stay closed") {
    import graft.core.Geodesy
    // equatorial closed form: 10° = 1,113,194.908 m, maxLen 200 km → 6 hops
    val eq = geom(Geodesy.segmentizeGeodesic(wkb("LINESTRING (0 0, 10 0)"), 200000.0))
    assert(eq.getNumPoints == 7, s"equator np ${eq.getNumPoints}")
    eq.getCoordinates.zipWithIndex.foreach { case (c, k) =>
      assert(math.abs(c.x - 10.0 * k / 6) < 1e-8 && math.abs(c.y) < 1e-12,
        s"equator vertex $k: (${c.x}, ${c.y})")
    }
    // a long oblique segment: every hop ≤ maxLen, total geodesic length
    // preserved (waypoints sit ON the geodesic, so hop lengths are additive)
    val s0 = KarneyGeodesic.distance(40.0, -74.0, 35.0, 139.7) // NYC→Tokyo-ish
    val segd = geom(Geodesy.segmentizeGeodesic(
      wkb("LINESTRING (-74 40, 139.7 35)"), 500000.0))
    val cs = segd.getCoordinates
    assert(cs.length == math.ceil(s0 / 500000.0).toInt + 1)
    var sum = 0.0
    (1 until cs.length).foreach { i =>
      val hop = KarneyGeodesic.distance(cs(i - 1).y, cs(i - 1).x, cs(i).y, cs(i).x)
      assert(hop <= 500000.0 * (1 + 1e-12), s"hop $i = $hop")
      sum += hop
    }
    assert(math.abs(sum - s0) < 1e-6, s"length drift: $sum vs $s0")
    // polygon rings segmentize closed and valid; short segments untouched
    val ring = geom(Geodesy.segmentizeGeodesic(
      wkb("POLYGON ((0 40, 20 40, 20 50, 0 50, 0 40))"), 300000.0))
    assert(ring.isValid && ring.getGeometryType == "Polygon")
    assert(ring.getNumPoints > 5)
    val short = wkb("LINESTRING (1 1, 1.001 1.001)")
    assert(geom(Geodesy.segmentizeGeodesic(short, 200000.0)).getNumPoints == 2)
    intercept[IllegalArgumentException](Geodesy.segmentizeGeodesic(short, 0.0))
  }

  test("geodesic line interpolation: exact fractional ranges along the path") {
    import graft.core.Geodesy
    val line = wkb("LINESTRING (-74 40, 139.7 35)")
    val total = KarneyGeodesic.distance(40.0, -74.0, 35.0, 139.7)
    Seq(0.0, 0.25, 0.5, 0.75, 1.0).foreach { frac =>
      val p = geom(Geodesy.lineInterpolatePointGeodesic(line, frac)).getCoordinate
      val d = KarneyGeodesic.distance(40.0, -74.0, p.y, p.x)
      assert(math.abs(d - frac * total) < 1e-6,
        s"frac $frac: range $d vs ${frac * total}")
    }
    // multi-segment: cumulative geodesic length semantics (frac can land
    // inside the second hop)
    val two = wkb("LINESTRING (0 0, 10 0, 10 10)")
    val h1 = KarneyGeodesic.distance(0, 0, 0, 10)
    val h2 = KarneyGeodesic.distance(0, 10, 10, 10)
    val frac = (h1 + h2 / 2) / (h1 + h2)
    val mid = geom(Geodesy.lineInterpolatePointGeodesic(two, frac)).getCoordinate
    assert(math.abs(mid.x - 10.0) < 1e-9 &&
      math.abs(KarneyGeodesic.distance(0, 10, mid.y, mid.x) - h2 / 2) < 1e-6)
    intercept[IllegalArgumentException](
      Geodesy.lineInterpolatePointGeodesic(line, 1.5))
    intercept[IllegalArgumentException](
      Geodesy.lineInterpolatePointGeodesic(wkb("POINT (1 1)"), 0.5))
  }

  test("ST_ProjectGeodesic / ST_AzimuthGeodesic: spheroid-exact forward/azimuth pair") {
    val r = spark.sql("""
      SELECT ST_AzimuthGeodesic(ST_Point(0.0, 0.0), ST_Point(10.0, 0.0)) AS east,
             ST_AzimuthGeodesic(ST_Point(5.0, 10.0), ST_Point(5.0, -5.0)) AS south,
             ST_AzimuthGeodesic(ST_Point(3.0, 3.0), ST_Point(3.0, 3.0)) AS coincident,
             ST_Y(ST_ProjectGeodesic(ST_Point(7.0, 20.0), 100000.0, RADIANS(0.0))) AS northed
      """).head()
    assert(r.getDouble(0) == math.Pi / 2)
    assert(r.getDouble(1) == math.Pi)
    assert(r.getDouble(2).isNaN, "coincident points yield NaN like the planar kernel")
    assert(r.getDouble(3) > 20.8 && r.getDouble(3) < 21.0)
    // project ∘ azimuth closes: shooting s meters at azimuth az, the
    // azimuth back to the landing point is az and its range is s
    val rnd = new scala.util.Random(0x9107L)
    (0 until 200).foreach { _ =>
      val lon = rnd.nextDouble() * 340 - 170
      val lat = rnd.nextDouble() * 160 - 80
      val az = rnd.nextDouble() * 2 * math.Pi
      val s = 1000.0 + rnd.nextDouble() * 5e6
      val p = geom(graft.core.Geodesy.projectGeodesic(
        wkb(s"POINT ($lon $lat)"), s, az)).getCoordinate
      val azBack = graft.core.Geodesy.azimuthGeodesic(
        wkb(s"POINT ($lon $lat)"), wkb(s"POINT (${p.x} ${p.y})"))
      val dAz = math.abs(azBack - az)
      assert(math.min(dAz, 2 * math.Pi - dAz) < 1e-11, s"az $az back $azBack")
      assert(math.abs(KarneyGeodesic.distance(lat, lon, p.y, p.x) - s) < 1e-6)
    }
  }

  test("geodesic overlay: containment, partition identity, disjointness, long-segment semantics") {
    import graft.core.{Aeqd, Geodesy}
    def circle(lon: Double, lat: Double, r: Double) =
      Aeqd.bufferGeodesic(wkb(s"POINT ($lon $lat)"), r, 16)
    // JTS buffer/overlay emit CW shells, and areaSpheroid honors the
    // reference's CW-means-complement convention (a CW ring encloses
    // everything BUT itself) — normalize winding before measuring
    def areaSp(b: Array[Byte]) = Geodesy.areaSpheroid(GeomOps.forcePolygonCCW(b))
    // containment: small ⊂ big → intersection ≡ small, union ≡ big (area
    // ratio to 1e-9; the boundary roundtrips through the shared plane)
    val big = circle(10.0, 60.0, 20000.0)
    val small = circle(10.0, 60.0, 10000.0)
    val inter = Aeqd.overlayGeodesic(big, small, 0)
    val union = Aeqd.overlayGeodesic(big, small, 1)
    assert(math.abs(areaSp(inter) / areaSp(small) - 1.0) < 1e-9)
    assert(math.abs(areaSp(union) / areaSp(big) - 1.0) < 1e-9)
    // measure partition identity on an OVERLAPPING pair at high latitude:
    // area(a) + area(b) = area(a∪b) + area(a∩b) (bijective projection,
    // shared noding plane — holds to the chord-deviation dust)
    val a = circle(10.0, 60.0, 10000.0)
    val b = circle(10.25, 60.0, 10000.0)
    val u = Aeqd.overlayGeodesic(a, b, 1)
    val i = Aeqd.overlayGeodesic(a, b, 0)
    val sd = Aeqd.overlayGeodesic(a, b, 3)
    assert(areaSp(i) > 0.0, "circles 13.9 km apart with r=10 km must overlap")
    assert(math.abs((areaSp(a) + areaSp(b)) / (areaSp(u) + areaSp(i)) - 1.0) < 1e-9)
    assert(math.abs((areaSp(u) - areaSp(i)) / areaSp(sd) - 1.0) < 1e-9)
    // disjoint → empty intersection; difference of disjoint = identity area
    val far = circle(12.0, 60.0, 10000.0)
    assert(GeomOps.read(Aeqd.overlayGeodesic(a, far, 0)).isEmpty)
    assert(math.abs(areaSp(Aeqd.overlayGeodesic(a, far, 2)) / areaSp(a) - 1.0) < 1e-9)
    // LONG segments: geodesic noding differs from naive planar-degrees
    // noding by kilometers (the semantics this op exists for) — two
    // 2000-km chords crossing near 60°N
    val l1 = wkb("LINESTRING (-10 55, 20 65)")
    val l2 = wkb("LINESTRING (-10 65, 20 55)")
    val gx = GeomOps.read(Aeqd.overlayGeodesic(l1, l2, 0)).getCoordinate
    val px = GeomOps.read(l1).intersection(GeomOps.read(l2)).getCoordinate
    val sep = KarneyGeodesic.distance(gx.y, gx.x, px.y, px.x)
    assert(sep > 5000.0, s"geodesic vs planar-degrees crossing only $sep m apart")
    // the geodesic crossing sits ON both geodesics (cross-track < 50 m for
    // the plane's chord approximation at this extent)
    Seq(("-10,55,20,65"), ("-10,65,20,55")).foreach { s0 =>
      val Array(lo1, la1, lo2, la2) = s0.split(",").map(_.toDouble)
      val (d1, az1, _) = KarneyGeodesic.inverseAzimuth(la1, lo1, gx.y, gx.x)
      val (dt, azt, _) = KarneyGeodesic.inverseAzimuth(la1, lo1, la2, lo2)
      val xtrack = math.abs(d1 * math.sin(math.toRadians(az1 - azt)))
      assert(xtrack < 2000.0, s"crossing off the geodesic by $xtrack m")
    }
    // guard: continental-scale inputs refused with the split hint
    val e = intercept[IllegalArgumentException](
      Aeqd.overlayGeodesic(wkb("POLYGON ((-40 0, 40 0, 0 40, -40 0))"), a, 0))
    assert(e.getMessage.contains("Split the inputs"))
  }

  test("edges dispatch routes ST_Intersection on stamped columns to the geodesic overlay") {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "aeqd_ov_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    // two long chords crossing near 60N, stamped spherical
    val df = spark.sql("""
      SELECT 1L AS fid, ST_GeomFromText('LINESTRING (-10 55, 20 65)') AS geometry,
             ST_GeomFromText('LINESTRING (-10 65, 20 55)') AS other""")
    graft.sources.GeoParquet.write(df.coalesce(1), out, covering = false,
      edges = Some("spherical"), secondaryGeometry = Seq("other"))
    graft.sources.GeoParquet.read(spark, out).createOrReplaceTempView("aeqd_ov")
    val x = spark.sql(
      "SELECT ST_X(ST_Intersection(geometry, other)) AS x, ST_Y(ST_Intersection(geometry, other)) AS y FROM aeqd_ov")
      .head()
    // the planar-degrees crossing is exactly (5, 60); the geodesic one
    // sits kilometers north — dispatch must have fired
    val planar = (5.0, 60.0)
    val dKm = graft.core.KarneyGeodesic.distance(x.getDouble(1), x.getDouble(0),
      planar._2, planar._1) / 1000.0
    assert(dKm > 5.0, s"dispatch did not fire: crossing ${x.getDouble(0)}, ${x.getDouble(1)}")
    // kill switch restores the planar overlay
    spark.conf.set("spark.graft.edges.dispatch", "false")
    try {
      val p = spark.sql(
        "SELECT ST_X(ST_Intersection(geometry, other)) AS x FROM aeqd_ov").head()
      assert(math.abs(p.getDouble(0) - 5.0) < 1e-9, s"kill switch ignored: ${p.getDouble(0)}")
    } finally spark.conf.set("spark.graft.edges.dispatch", "true")
    // the OVERLAY-ONLY opt-out keeps planar overlays while the measure
    // dispatch stays live (round-19 advisor finding: the geodesic overlay
    // kernel fails loudly on >1.5e6 m extents; users need a way to keep
    // plain ST_Intersection working without losing geodesic lengths)
    spark.conf.set("spark.graft.edges.dispatch.overlay", "false")
    try {
      val p = spark.sql(
        "SELECT ST_X(ST_Intersection(geometry, other)) AS x, " +
        "       ST_Length(geometry) AS len FROM aeqd_ov").head()
      assert(math.abs(p.getDouble(0) - 5.0) < 1e-9,
        s"overlay opt-out ignored: ${p.getDouble(0)}")
      assert(p.getDouble(1) > 100000.0,
        s"measure dispatch must stay geodesic (meters): ${p.getDouble(1)}")
    } finally spark.conf.unset("spark.graft.edges.dispatch.overlay")
  }

  test("geodesic overlay antipode failure names the overlay and its opt-out") {
    import graft.core.Aeqd
    // the long a dominates the length-weighted joint centroid (≈ (1e-5°, 0),
    // ~1 m east of the origin), so b's vertex at (180, 0) sits ~1 m from the
    // centroid's antipode → forward()'s antipode require fires during
    // projection, and the overlay wrapper must recontextualize it
    val a = wkb("LINESTRING (-1 0, 1 0)")
    val b = wkb("LINESTRING (180 0, 180 0.0000001)")
    val e = intercept[IllegalArgumentException](Aeqd.overlayGeodesic(a, b, 1))
    assert(e.getMessage.contains("geodesic overlay"), e.getMessage)
    assert(e.getMessage.contains("spark.graft.edges.dispatch.overlay"), e.getMessage)
  }

  test("geodesic closest point / shortest line: the analytic foot within sub-cm distance") {
    import graft.core.{Aeqd, Geodesy}
    // equator segment: the true foot from (lonP, latP) is (lonP, 0) by
    // meridian perpendicularity. The plane-nearest foot shifts LATERALLY
    // by ~(s/R)²·s/3 (hundreds of meters at 500-km ranges), but the
    // distance excess is second-order in that shift (δ²/2d) — the
    // contract is meter-grade EXCESS DISTANCE, not vertex-grade feet
    val line = wkb("LINESTRING (0 0, 10 0)")
    Seq((2.0, 3.0), (5.0, 1.0), (8.5, 4.0), (3.3, -2.5)).foreach { case (lonP, latP) =>
      val pt = wkb(s"POINT ($lonP $latP)")
      val cp = geom(Aeqd.closestGeodesic(line, pt)).getCoordinate
      assert(math.abs(cp.y) < 1e-9, s"foot off the equator: $cp")
      val dGot = KarneyGeodesic.distance(latP, lonP, cp.y, cp.x)
      val dTrue = KarneyGeodesic.distance(latP, lonP, 0.0, lonP)
      assert(dGot - dTrue >= -1e-6 && dGot - dTrue < 1.0,
        s"($lonP,$latP): got $dGot vs true $dTrue")
      val sl = geom(Aeqd.shortestLineGeodesic(line, pt))
      val cs = sl.getCoordinates
      assert(cs.length == 2 && cs(0).equals2D(cp), "line starts at the on-a closest point")
      assert(math.abs(KarneyGeodesic.distance(cs(0).y, cs(0).x, cs(1).y, cs(1).x) - dGot) < 1e-6)
    }
    // endpoint clamp: a point past the segment end snaps to the endpoint
    val cpEnd = geom(Aeqd.closestGeodesic(line, wkb("POINT (14 2)"))).getCoordinate
    assert(math.abs(cpEnd.x - 10.0) < 1e-9 && math.abs(cpEnd.y) < 1e-9, s"$cpEnd")
    intercept[IllegalArgumentException](
      Aeqd.closestGeodesic(line, wkb("POINT EMPTY")))
  }

  test("fuzz sweep: every corpus geometry buffers, overlays, and segmentizes without surprises") {
    import graft.core.{Aeqd, Geodesy}
    val reader = new org.locationtech.jts.io.WKTReader(GeomOps.factory)
    var n = 0
    WktFuzzGen.all.foreach { wktxt =>
      val g = reader.read(wktxt)
      val b = GeomOps.write(g)
      // buffer: valid, non-empty for positive radius, contains the input
      val buf = GeomOps.read(Aeqd.bufferGeodesic(b, 5000.0, 8))
      assert(buf.isValid && !buf.isEmpty, wktxt)
      assert(buf.covers(g), s"buffer must cover its input: $wktxt")
      // overlay with a slightly shifted copy of the buffer: intersection
      // non-empty (they overlap by construction), union valid
      val shifted = GeomOps.write(
        graft.core.GeomOps.read(graft.core.Geodesy.transform(
          GeomOps.write(buf), 4326, 4326))) // identity hop keeps bytes sane
      val inter = GeomOps.read(Aeqd.overlayGeodesic(GeomOps.write(buf), shifted, 0))
      assert(!inter.isEmpty, wktxt)
      // segmentize at 2 km: hops bounded (points/multipoints pass through)
      val seg = GeomOps.read(Geodesy.segmentizeGeodesic(b, 2000.0))
      assert(seg.getGeometryType == g.getGeometryType, wktxt)
      assert(seg.getNumPoints >= g.getNumPoints, wktxt)
      n += 1
    }
    assert(n >= 600, s"corpus coverage $n")
  }

  test("geodesic line substring: exact fractional ranges, vertices preserved") {
    import graft.core.Geodesy
    // equator closed form: [0.25, 0.75] of 0..10° is 2.5°..7.5°
    val eq = geom(Geodesy.lineSubstringGeodesic(wkb("LINESTRING (0 0, 10 0)"), 0.25, 0.75))
    val cse = eq.getCoordinates
    assert(cse.length == 2 &&
      math.abs(cse(0).x - 2.5) < 1e-8 && math.abs(cse(1).x - 7.5) < 1e-8, eq.toText)
    // multi-segment: interior vertices inside the window survive, and the
    // piece's geodesic length is exactly (to - from) · total
    val line = wkb("LINESTRING (0 0, 10 0, 10 10, 20 10)")
    val h = Seq((0, 0, 10, 0), (10, 0, 10, 10), (10, 10, 20, 10)).map {
      case (x1, y1, x2, y2) => KarneyGeodesic.distance(y1, x1, y2, x2)
    }
    val total = h.sum
    val sub = geom(Geodesy.lineSubstringGeodesic(line, 0.1, 0.9))
    val cs = sub.getCoordinates
    var len = 0.0
    (1 until cs.length).foreach(i =>
      len += KarneyGeodesic.distance(cs(i - 1).y, cs(i - 1).x, cs(i).y, cs(i).x))
    assert(math.abs(len - 0.8 * total) < 1e-5, s"len $len vs ${0.8 * total}")
    assert(cs.exists(c => math.abs(c.x - 10.0) < 1e-9 && math.abs(c.y) < 1e-9),
      "interior vertex (10, 0) must survive")
    // vertex-aligned fractions do not duplicate points; full range is identity
    val full = geom(Geodesy.lineSubstringGeodesic(line, 0.0, 1.0))
    assert(full.getNumPoints == 4)
    // zero-length slice is a POINT (PostGIS ST_LineSubstring convention) —
    // and therefore valid, unlike a 2-point degenerate line
    val zero = geom(Geodesy.lineSubstringGeodesic(line, 0.5, 0.5))
    assert(zero.getGeometryType == "Point" && zero.isValid, zero.toText)
    val mid = geom(Geodesy.lineSubstringGeodesic(wkb("LINESTRING (0 0, 10 0)"), 0.5, 0.5))
    assert(mid.getGeometryType == "Point" &&
      math.abs(mid.getCoordinate.x - 5.0) < 1e-8, mid.toText)
    intercept[IllegalArgumentException](
      Geodesy.lineSubstringGeodesic(line, 0.7, 0.3))
  }

  test("SQL surface: ST_BufferGeodesic at both arities, monotone containment") {
    val r = spark.sql("""
      SELECT ST_NPoints(ST_BufferGeodesic(ST_Point(2.35, 48.85), 10000.0)) AS np8,
             ST_NPoints(ST_BufferGeodesic(ST_Point(2.35, 48.85), 10000.0, 24)) AS np24,
             ST_Contains(ST_BufferGeodesic(ST_Point(2.35, 48.85), 20000.0),
                         ST_BufferGeodesic(ST_Point(2.35, 48.85), 10000.0)) AS mono,
             ST_BufferGeodesic(NULL, 10000.0) AS nul
      """).head()
    assert(r.getInt(0) == 33 && r.getInt(1) == 97)
    assert(r.getBoolean(2), "larger radius must contain smaller")
    assert(r.isNullAt(3))
  }
}
