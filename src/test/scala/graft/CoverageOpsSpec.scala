package graft

import org.locationtech.jts.io.WKTReader

import graft.core.GeomOps

/** Round-20 coverage/median/wrap batch: the PostGIS 3.4 ST_Coverage*
  * family (edge-dissolve union, topology-preserving coverage simplify,
  * coverage validation), ST_GeometricMedian (Weiszfeld/Vardi–Zhang),
  * and the antimeridian convention helpers ST_ShiftLongitude /
  * ST_WrapX / ST_Scroll. */
class CoverageOpsSpec extends SparkTestBase {

  private val reader = new WKTReader(GeomOps.factory)
  private def g(w: String) = reader.read(w)
  private def wkb(w: String) = GeomOps.write(g(w))

  /** nx × ny unit-cell grid as a coverage collection WKT. */
  private def gridWkt(nx: Int, ny: Int): String = {
    val cells = for { i <- 0 until nx; j <- 0 until ny } yield
      s"(($i $j, ${i + 1} $j, ${i + 1} ${j + 1}, $i ${j + 1}, $i $j))"
    "MULTIPOLYGON (" + cells.mkString(", ") + ")"
  }

  test("ST_CoverageUnion: grid coverage dissolves to one rectangle, boundary kept exact") {
    val u = GeomOps.read(GeomOps.coverageUnion(wkb(gridWkt(3, 2))))
    assert(u.getArea == 6.0 && u.getLength == 10.0, s"got ${u.toText}")
    assert(u.getGeometryType == "Polygon")
    // boundary vertices are PRESERVED (no simplification): every grid
    // vertex on the outer rectangle stays → 2(nx+ny) ring points + closure
    assert(u.getNumPoints == 2 * (3 + 2) + 1, s"npoints ${u.getNumPoints}")
    // agrees with the overlay union where both apply
    val o = GeomOps.read(GeomOps.unaryUnion(wkb(gridWkt(3, 2))))
    assert(u.symDifference(o).getArea == 0.0)
  }

  test("ST_CoverageUnion_Agg: partial merges across partitions are exact") {
    import spark.implicits._
    val nx = 16; val ny = 8
    val cells = for { i <- 0 until nx; j <- 0 until ny } yield
      (i % 2, // two groups: even/odd columns DON'T form one coverage each…
        s"POLYGON (($i $j, ${i + 1} $j, ${i + 1} ${j + 1}, $i ${j + 1}, $i $j))")
    // …so group on a constant instead: one coverage, many partitions
    val df = cells.map { case (_, w) => (1, w) }.toDF("grp", "wkt")
      .repartition(7) // force ≥2 map-side partials per group
      .selectExpr("grp", "ST_GeomFromText(wkt) AS geom")
    df.createOrReplaceTempView("cov_cells")
    val row = sql("""
      SELECT ST_Area(u) AS area, ST_Perimeter(u) AS perim, ST_NPoints(u) AS np
      FROM (SELECT ST_CoverageUnion_Agg(geom) AS u FROM cov_cells GROUP BY grp)
    """).head()
    assert(row.getDouble(0) == nx * ny.toDouble, s"area ${row.getDouble(0)}")
    assert(row.getDouble(1) == 2.0 * (nx + ny), s"perimeter ${row.getDouble(1)}")
    assert(row.getInt(2) == 2 * (nx + ny) + 1, s"npoints ${row.getInt(2)}")
  }

  test("ST_CoverageSimplify: shared zigzag edge straightens, elements stay matched") {
    // two parcels split by a zigzag at x≈5 (amplitude 0.2); tolerance 1
    // removes every interior zigzag vertex → the shared edge becomes the
    // straight line x=5 and the halves get exact closed-form areas
    val left = "POLYGON ((0 0, 5 0, 4.8 1, 5.2 2, 4.8 3, 5 4, 0 4, 0 0))"
    val right = "POLYGON ((5 0, 10 0, 10 4, 5 4, 4.8 3, 5.2 2, 4.8 1, 5 0))"
    val coll = wkb(s"GEOMETRYCOLLECTION ($left, $right)")
    val simp = GeomOps.read(GeomOps.coverageSimplify(coll, 1.0))
    assert(simp.getNumGeometries == 2, "element count and order preserved")
    val a0 = simp.getGeometryN(0).getArea
    val a1 = simp.getGeometryN(1).getArea
    assert(a0 == 20.0 && a1 == 20.0, s"straightened halves: $a0 / $a1")
    // result is still a valid coverage: neighbors moved in lockstep
    assert(GeomOps.coverageIsValid(GeomOps.write(simp), 0.0))
    // and the total area was conserved by the simplification
    assert(a0 + a1 == 40.0)
  }

  test("ST_CoverageInvalidEdges: valid grid → all EMPTY; overlap → flagged linework") {
    val ok = GeomOps.read(GeomOps.coverageInvalidEdgesDefault(wkb(gridWkt(2, 2))))
    assert(ok.getNumGeometries == 4)
    assert((0 until 4).forall(ok.getGeometryN(_).isEmpty), s"valid grid: ${ok.toText}")
    assert(GeomOps.coverageIsValidDefault(wkb(gridWkt(2, 2))))

    // second square overlaps the first by 0.5 — not a coverage
    val bad = wkb("GEOMETRYCOLLECTION (" +
      "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0)), " +
      "POLYGON ((0.5 0, 1.5 0, 1.5 1, 0.5 1, 0.5 0)))")
    assert(!GeomOps.coverageIsValidDefault(bad))
    val inv = GeomOps.read(GeomOps.coverageInvalidEdges(bad, 0.0))
    assert(inv.getNumGeometries == 2)
    assert((0 until 2).exists(!inv.getGeometryN(_).isEmpty), "overlap must be flagged")
  }

  test("ST_CoverageUnion: contract errors on non-polygonal elements") {
    intercept[IllegalArgumentException](
      GeomOps.coverageUnion(wkb("GEOMETRYCOLLECTION (POINT (0 0))")))
    // empty input → POLYGON EMPTY, not a throw
    assert(GeomOps.read(GeomOps.coverageUnion(wkb("GEOMETRYCOLLECTION EMPTY"))).isEmpty)
  }

  test("ST_GeometricMedian: centrally symmetric set answers the center exactly") {
    // pairs (p, 2c−p): centroid = c, gradient at c cancels pairwise → the
    // Weiszfeld iterate starts AND stays at c
    val m = GeomOps.read(GeomOps.geometricMedian(wkb(
      "MULTIPOINT ((1 1), (9 7), (2 6), (8 2), (0 3), (10 5))"))) // c = (5, 4)
    val c = m.getCoordinate
    assert(math.hypot(c.x - 5.0, c.y - 4.0) < 1e-9, s"median ${m.toText}")
  }

  test("ST_GeometricMedian: a data point IS the median (Vardi–Zhang stays put)") {
    // (5,5) is both a data point and the true median of the 5-point set
    val m = GeomOps.read(GeomOps.geometricMedian(wkb(
      "MULTIPOINT ((0 0), (0 10), (10 0), (10 10), (5 5))")))
    val c = m.getCoordinate
    assert(math.hypot(c.x - 5.0, c.y - 5.0) < 1e-9, s"median ${m.toText}")
    // multiplicity: 3 coincident points outweigh one distant point — the
    // median is the heavy vertex (sum of unit pulls 1 < η 3)
    val h = GeomOps.read(GeomOps.geometricMedianTol(wkb(
      "MULTIPOINT ((0 0), (0 0), (0 0), (10 0))"), 0.0, 10000)).getCoordinate
    assert(math.hypot(h.x, h.y) < 1e-6, s"heavy vertex: $h")
  }

  test("ST_GeometricMedian: median ≠ centroid on a skewed set (robustness)") {
    // 3 points at the origin cluster + 1 far outlier: centroid drifts 25
    // toward the outlier, the median stays at the cluster
    val pts = "MULTIPOINT ((0 0), (0 1), (1 0), (100 0))"
    val med = GeomOps.read(GeomOps.geometricMedian(wkb(pts))).getCoordinate
    assert(med.x < 2.0 && med.y < 2.0, s"median pulled to outlier: $med")
    intercept[IllegalArgumentException](
      GeomOps.geometricMedian(wkb("LINESTRING (0 0, 1 1)")))
  }

  test("ST_ShiftLongitude: toggles [-180,180] ↔ [0,360], involutive") {
    val shifted = GeomOps.read(GeomOps.shiftLongitude(wkb(
      "LINESTRING (170 10, -170 20)")))
    assert(shifted.getCoordinates.map(_.x).toSeq == Seq(170.0, 190.0),
      s"${shifted.toText}")
    val back = GeomOps.read(GeomOps.shiftLongitude(GeomOps.write(shifted)))
    assert(back.getCoordinates.map(_.x).toSeq == Seq(170.0, -170.0))
  }

  test("ST_WrapX: splits at the line and translates one side") {
    // rectangle spanning x ∈ [-10, 20]; wrap=0, move=360 → [-10,0] piece
    // lands at [350,360], [0,20] piece stays: area conserved, 2 pieces
    val w = GeomOps.read(GeomOps.wrapX(wkb(
      "POLYGON ((-10 0, 20 0, 20 10, -10 10, -10 0))"), 0.0, 360.0))
    assert(w.getNumGeometries == 2, s"${w.toText}")
    assert(w.getArea == 300.0)
    val e = w.getEnvelopeInternal
    assert(e.getMinX == 0.0 && e.getMaxX == 360.0, s"$e")
    // wrap back: pieces with x ≥ 180 move −360 → original extent restored
    val back = GeomOps.read(GeomOps.wrapX(GeomOps.write(w), 180.0, -360.0))
    assert(back.getArea == 300.0)
    val be = back.getEnvelopeInternal
    assert(be.getMinX == -10.0 && be.getMaxX == 20.0, s"$be")
    // geometry entirely on the stay side passes through untouched
    val stay = GeomOps.read(GeomOps.wrapX(wkb("POINT (5 5)"), 0.0, 360.0))
    assert(stay.getCoordinate.x == 5.0)
    // point on the move side translates whole
    val moved = GeomOps.read(GeomOps.wrapX(wkb("POINT (-5 5)"), 0.0, 360.0))
    assert(moved.getCoordinate.x == 355.0)
  }

  test("ST_Scroll: ring restarts at the given vertex, direction preserved") {
    val s = GeomOps.read(GeomOps.scroll(
      wkb("LINESTRING (0 0, 1 0, 1 1, 0 1, 0 0)"), wkb("POINT (1 1)")))
    assert(s.toText == "LINESTRING (1 1, 0 1, 0 0, 1 0, 1 1)", s.toText)
    intercept[IllegalArgumentException](GeomOps.scroll(
      wkb("LINESTRING (0 0, 1 0, 1 1, 0 1, 0 0)"), wkb("POINT (9 9)")))
    intercept[IllegalArgumentException](GeomOps.scroll(
      wkb("LINESTRING (0 0, 1 0)"), wkb("POINT (0 0)")))
  }

  test("ST_Expand / ST_DFullyWithin / ST_LineExtend / ST_Points") {
    // expand: envelope ± d as a polygon; negative shrink can collapse
    val e = GeomOps.read(GeomOps.expand(wkb("LINESTRING (2 3, 6 5)"), 1.0))
    assert(e.getEnvelopeInternal == new org.locationtech.jts.geom.Envelope(1, 7, 2, 6))
    assert(e.getArea == 6.0 * 4.0)
    val ex = GeomOps.read(GeomOps.expandXY(wkb("POINT (5 5)"), 2.0, 0.5))
    assert(ex.getEnvelopeInternal == new org.locationtech.jts.geom.Envelope(3, 7, 4.5, 5.5))
    assert(GeomOps.read(GeomOps.expandXY(wkb("POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))"),
      -3.0, -0.5)).isEmpty, "over-shrunk box collapses to EMPTY")

    // dFullyWithin: max pairwise distance ≤ d (PostGIS), vs dWithin's min
    val a = wkb("LINESTRING (0 0, 1 0)"); val b2 = wkb("LINESTRING (2 0, 3 0)")
    assert(GeomOps.dFullyWithin(a, b2, 3.0)) // farthest pair (0,0)-(3,0) = 3
    assert(!GeomOps.dFullyWithin(a, b2, 2.9))
    intercept[IllegalArgumentException](GeomOps.dFullyWithin(a, b2, -1.0))

    // lineExtend: bearings of the end segments, exact on axis-aligned input
    val le = GeomOps.read(GeomOps.lineExtendBoth(
      wkb("LINESTRING (0 0, 4 0, 4 3)"), 2.0, 1.0))
    assert(le.toText == "LINESTRING (-1 0, 4 0, 4 5)", le.toText)
    val fwd = GeomOps.read(GeomOps.lineExtend(wkb("LINESTRING (0 0, 3 4)"), 5.0))
    val last = fwd.getCoordinates.last
    assert(math.abs(last.x - 6.0) < 1e-12 && math.abs(last.y - 8.0) < 1e-12,
      s"3-4-5 bearing: $last")
    intercept[IllegalArgumentException](GeomOps.lineExtend(wkb("POINT (0 0)"), 1.0))

    // points: every vertex, duplicates (ring closure) preserved
    val pts = GeomOps.read(GeomOps.points(wkb("POLYGON ((0 0, 1 0, 1 1, 0 0))")))
    assert(pts.getGeometryType == "MultiPoint" && pts.getNumGeometries == 4)
  }

  test("ST_DumpSegments / ST_DumpRings: linework and ring decomposition") {
    val segs = GeomOps.read(GeomOps.dumpSegments(wkb(
      "GEOMETRYCOLLECTION (LINESTRING (0 0, 1 0, 1 1), POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))")))
    assert(segs.getGeometryType == "MultiLineString")
    assert(segs.getNumGeometries == 2 + 4, s"${segs.toText}")
    assert(segs.getLength == 2.0 + 8.0)
    assert(GeomOps.read(GeomOps.dumpSegments(wkb("POINT (1 1)"))).isEmpty)

    // donut: shell + hole, hole comes back as its OWN polygon
    val rings = GeomOps.read(GeomOps.dumpRings(wkb(
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))")))
    assert(rings.getNumGeometries == 2)
    assert(rings.getGeometryN(0).getArea == 16.0, "shell first, hole-free")
    assert(rings.getGeometryN(1).getArea == 1.0, "hole as its own polygon")
    intercept[IllegalArgumentException](GeomOps.dumpRings(wkb("LINESTRING (0 0, 1 1)")))
  }

  test("ST_FilterByM: vertex filter over the measure window") {
    val f = GeomOps.read(GeomOps.filterByM(wkb(
      "LINESTRING M (0 0 0, 1 0 5, 2 0 10, 3 0 15)"), 4.0, 12.0))
    assert(f.getNumPoints == 2 && f.getCoordinates.map(_.x).toSeq == Seq(1.0, 2.0), f.toText)
    // under 2 surviving vertices → LINESTRING EMPTY
    assert(GeomOps.read(GeomOps.filterByM(wkb(
      "LINESTRING M (0 0 0, 1 0 5)"), 4.0, 4.9)).isEmpty)
    // multipoint keeps matching members; M-less vertices never pass
    val mp = GeomOps.read(GeomOps.filterByM(wkb(
      "MULTIPOINT M ((0 0 1), (1 1 9), (2 2 3))"), 0.0, 5.0))
    assert(mp.getNumGeometries == 2)
    assert(GeomOps.read(GeomOps.filterByM(wkb("MULTIPOINT ((0 0), (1 1))"), 0.0, 5.0))
      .isEmpty, "no M → nothing passes")
    intercept[IllegalArgumentException](
      GeomOps.filterByM(wkb("POLYGON ((0 0, 1 0, 1 1, 0 0))"), 0.0, 1.0))
  }

  test("ST_Hexagon / ST_Square: grid-cell constructors match the tiling contract") {
    val s = 10.0
    val hex = GeomOps.read(GeomOps.hexagonAtOrigin(s, 0, 0))
    assert(math.abs(hex.getArea - 3.0 * math.sqrt(3.0) / 2.0 * s * s) < 1e-9)
    assert(hex.getCentroid.getCoordinate.x == 0.0)
    // odd column: center shifts right 1.5s and up √3/2·s
    val h11 = GeomOps.read(GeomOps.hexagon(s, 1, 1, wkb("POINT (0 0)")))
    val c11 = h11.getCentroid.getCoordinate
    assert(math.abs(c11.x - 1.5 * s) < 1e-9)
    assert(math.abs(c11.y - math.sqrt(3.0) * s * 1.5) < 1e-9, s"$c11")
    // adjacent cells tile: same-column neighbors share an edge, no overlap
    val h00 = GeomOps.read(GeomOps.hexagonAtOrigin(s, 0, 0))
    val h01 = GeomOps.read(GeomOps.hexagonAtOrigin(s, 0, 1))
    val h10 = GeomOps.read(GeomOps.hexagonAtOrigin(s, 1, 0))
    assert(h00.intersection(h01).getDimension == 1, "vertical neighbors share an edge")
    assert(h00.intersection(h10).getDimension == 1, "column neighbors share an edge")
    assert(h00.intersection(h01).getArea == 0.0)

    val sq = GeomOps.read(GeomOps.square(2.0, 3, -1, wkb("POINT (10 10)")))
    assert(sq.getEnvelopeInternal == new org.locationtech.jts.geom.Envelope(16, 18, 8, 10))
    intercept[IllegalArgumentException](GeomOps.squareAtOrigin(0.0, 0, 0))
  }

  test("ST_SquareGrid / ST_HexagonGrid: tessellation generators for explode") {
    val sq = sql("""
      SELECT c.i, c.j, ST_Area(c.geom) AS a
      FROM (SELECT explode(ST_SquareGrid(2.0, ST_MakeEnvelope(0, 0, 6, 4))) AS c)""").collect()
    assert(sq.length == 3 * 2, s"aligned 6x4 envelope at size 2 → 6 cells, got ${sq.length}")
    assert(sq.forall(_.getDouble(2) == 4.0))
    val ua = sql("""
      SELECT ST_Area(ST_CoverageUnion_Agg(c.geom))
      FROM (SELECT explode(ST_SquareGrid(2.0, ST_MakeEnvelope(0, 0, 6, 4))) AS c)""")
      .head().getDouble(0)
    assert(ua == 24.0, "cells exactly tile the envelope")

    // hexagon grid: emitted cells fully cover the input envelope
    val cells = GeomOps.hexagonGrid(3.0, wkb("POLYGON ((0 0, 20 0, 20 10, 0 10, 0 0))"))
    val geoms = (0 until cells.numElements()).map { k =>
      GeomOps.read(cells.getStruct(k, 3).getBinary(2))
    }
    val union = GeomOps.factory.createGeometryCollection(geoms.toArray).union()
    assert(union.covers(g("POLYGON ((0 0, 20 0, 20 10, 0 10, 0 0))")),
      "hexagon grid must cover the envelope")
    intercept[IllegalArgumentException](
      GeomOps.squareGrid(1e-6, wkb("POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))")))
  }

  test("introspection utilities: NRings / IsClosed / ZMFlag / ForceCollection / MemSize / Quantize") {
    val donut = wkb("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))")
    assert(GeomOps.nRings(donut) == 2)
    assert(GeomOps.nRings(wkb("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))")) == 2)
    assert(GeomOps.nRings(wkb("LINESTRING (0 0, 1 1)")) == 0)

    assert(GeomOps.isClosedCol(wkb("LINESTRING (0 0, 1 0, 1 1, 0 0)")))
    assert(!GeomOps.isClosedCol(wkb("LINESTRING (0 0, 1 0)")))
    assert(!GeomOps.isClosedCol(wkb(
      "MULTILINESTRING ((0 0, 1 0, 0 0), (0 0, 1 1))")), "every component must close")
    assert(GeomOps.isClosedCol(wkb("POINT (1 1)")) && GeomOps.isClosedCol(donut))

    assert(GeomOps.zmFlag(wkb("POINT (1 2)")) == 0)
    assert(GeomOps.zmFlag(wkb("POINT M (1 2 7)")) == 1)
    assert(GeomOps.zmFlag(wkb("POINT Z (1 2 3)")) == 2)
    assert(GeomOps.zmFlag(wkb("POINT ZM (1 2 3 7)")) == 3)

    val fc = GeomOps.read(GeomOps.forceCollection(wkb("MULTIPOINT ((0 0), (1 1))")))
    assert(fc.getGeometryType == "GeometryCollection" && fc.getNumGeometries == 2)
    assert(GeomOps.read(GeomOps.forceCollection(wkb("POINT (5 5)"))).getNumGeometries == 1)

    assert(GeomOps.memSize(donut) == donut.length, "memsize IS the stored WKB length")

    val q = GeomOps.read(GeomOps.quantizeCoordinates(
      wkb("LINESTRING (1.23456 2.34567, 3.45678 4.56789)"), 2))
    assert(q.getCoordinates.map(_.x).toSeq == Seq(1.23, 3.46), q.toText)
    val qneg = GeomOps.read(GeomOps.quantizeCoordinates(wkb("POINT (1234 5678)"), -2))
    assert(qneg.getCoordinate.x == 1200.0 && qneg.getCoordinate.y == 5700.0)
    // Z/M quantize too
    val qm = GeomOps.read(GeomOps.quantizeCoordinates(wkb("POINT M (1.119 2.229 3.339)"), 1))
    assert(qm.getCoordinate.getM == 3.3, s"${qm.getCoordinate.getM}")
  }

  test("ST_GeomFromGeoHash / ST_PointFromGeoHash: decode inverts encode") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.core.Geodesy
    // geohash.org reference anchor: ezs42 is the cell of (-5.6, 42.6)
    val box = GeomOps.read(Geodesy.geomFromGeoHash(UTF8String.fromString("ezs42")))
    assert(box.covers(g("POINT (-5.6 42.6)")), box.toText)
    val e = box.getEnvelopeInternal
    assert(e.getWidth == 360.0 / (1 << 13) && e.getHeight == 180.0 / (1 << 12),
      s"5-char cell is 13 lon bits x 12 lat bits: $e")
    // roundtrip: decode(encode(p)) covers p, center within half-cell
    for ((lon, lat, p) <- Seq((-5.6, 42.6, 5), (151.21, -33.87, 7), (0.0, 0.0, 6))) {
      val h = Geodesy.geoHash(wkb(s"POINT ($lon $lat)"), p)
      val cell = GeomOps.read(Geodesy.geomFromGeoHash(h))
      assert(cell.covers(g(s"POINT ($lon $lat)")), s"$h does not cover its point")
      val c = GeomOps.read(Geodesy.pointFromGeoHash(h)).getCoordinate
      assert(cell.getEnvelopeInternal.contains(c.x, c.y))
    }
    // prec truncation == decoding the prefix
    val full = GeomOps.read(Geodesy.geomFromGeoHashPrec(UTF8String.fromString("ezs42"), 2))
    val pref = GeomOps.read(Geodesy.geomFromGeoHash(UTF8String.fromString("ez")))
    assert(full.equalsExact(pref))
    intercept[IllegalArgumentException](
      Geodesy.geomFromGeoHash(UTF8String.fromString("ab!")))
  }

  test("ST_3DExtent_Agg: XYZ bounds with the 2D zero-Z convention") {
    val r = sql("""
      SELECT ST_3DExtent_Agg(g) AS e FROM (
        SELECT ST_GeomFromText('POINT Z (1 2 -4)') AS g
        UNION ALL SELECT ST_GeomFromText('LINESTRING Z (0 0 5, 3 1 9)')
        UNION ALL SELECT ST_GeomFromText('POINT (10 -7)'))""").head().getStruct(0)
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == -7.0 && r.getDouble(2) == -4.0)
    assert(r.getDouble(3) == 10.0 && r.getDouble(4) == 2.0 && r.getDouble(5) == 9.0)
    // all-2D group: zmin = zmax = 0 (the BOX3D convention)
    val r2 = sql("""
      SELECT ST_3DExtent_Agg(ST_Point(CAST(id AS DOUBLE), 0.0)) AS e FROM range(4)""")
      .head().getStruct(0)
    assert(r2.getDouble(2) == 0.0 && r2.getDouble(5) == 0.0 && r2.getDouble(3) == 3.0)
  }

  test("ST_BuildArea / ST_AsLatLonText / ST_MakePoint") {
    // nested squares: outer shell, inner hole, innermost island (depth 2)
    val lw = wkb("MULTILINESTRING ((0 0, 10 0, 10 10, 0 10, 0 0), " +
      "(2 2, 8 2, 8 8, 2 8, 2 2), (4 4, 6 4, 6 6, 4 6, 4 4))")
    val area = GeomOps.read(GeomOps.buildArea(lw))
    // 100 − 36 (hole) + 4 (island at even depth) = 68
    assert(area.getArea == 68.0, s"${area.getArea}: ${area.toText}")
    assert(GeomOps.read(GeomOps.buildArea(wkb("LINESTRING (0 0, 1 1)"))).isEmpty)

    val txt = GeomOps.asLatLonText(wkb("POINT (30.75 -15.5)")).toString
    assert(txt == "15°30'0.000\"S 30°45'0.000\"E", txt)
    // seconds carry: 59.99999° must not print 60'
    val carry = GeomOps.asLatLonText(wkb("POINT (0.9999999999 59.9999999999)")).toString
    assert(carry == "60°0'0.000\"N 1°0'0.000\"E", carry)
    intercept[IllegalArgumentException](
      GeomOps.asLatLonText(wkb("LINESTRING (0 0, 1 1)")))

    val mp = sql("SELECT ST_AsText(ST_MakePoint(1.0, 2.0)) AS a, " +
      "ST_Z(ST_MakePoint(1.0, 2.0, 3.0)) AS z, " +
      "ST_M(ST_MakePoint(1.0, 2.0, 3.0, 4.0)) AS m").head()
    assert(mp.getString(0) == "POINT (1 2)" && mp.getDouble(1) == 3.0 && mp.getDouble(2) == 4.0)
  }

  test("SQL surface: the batch resolves and answers through spark.sql") {
    val r = sql("""
      SELECT
        ST_Area(ST_CoverageUnion(ST_Collect(array(
          ST_GeomFromText('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'),
          ST_GeomFromText('POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))'))))) AS a,
        ST_CoverageIsValid(ST_Collect(array(
          ST_GeomFromText('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'),
          ST_GeomFromText('POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))')))) AS v,
        ST_AsText(ST_GeometricMedian(
          ST_GeomFromText('MULTIPOINT ((0 0), (4 0), (2 0), (2 2), (2 -2))'))) AS m,
        ST_XMax(ST_ShiftLongitude(ST_GeomFromText('POINT (-170 0)'))) AS sx,
        ST_NumGeometries(ST_WrapX(
          ST_GeomFromText('LINESTRING (-10 0, 10 0)'), 0, 360)) AS wn
    """).head()
    assert(r.getDouble(0) == 2.0)
    assert(r.getBoolean(1))
    assert(r.getString(2).startsWith("POINT (2"), r.getString(2))
    assert(r.getDouble(3) == 190.0)
    assert(r.getInt(4) == 2)
  }
}
