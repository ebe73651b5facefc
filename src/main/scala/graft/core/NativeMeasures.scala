package graft.core

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.locationtech.jts.geom.Coordinate

/** Scalar measure kernels over the RAW GeoArrow nested-array layouts —
  * the non-point half of the native columnar fast path
  * ([[graft.plans.NativePointFastPath]]).
  *
  * [[graft.sources.GeoParquet.read]] transcodes native-encoded columns to
  * WKB at scan time (`ga_linestring(col, z, m)` …) so every ST_* kernel
  * accepts them; for measure/accessor consumers that is WKB serialize +
  * JTS parse work whose answer is already sitting in the coordinate
  * leaves. The reference computes these directly on the separated
  * coordinate arrays (rust/geoarrow-expr-geo/src/{area.rs,length.rs},
  * rust/geoarrow-array/src/trait_.rs:251); these methods are the
  * Spark-shaped equivalent: StaticInvoke targets over the scan's
  * `array<struct<x,y[,z][,m]>>` values, rewritten into the plan by
  * [[graft.plans.NativePointFastPath]] so the `ga_*` transcode drops out.
  *
  * Every method replicates the EXACT JTS 1.20 IEEE chain of the WKB
  * kernel it replaces (bit-exactness is asserted in
  * NativeNestedFastPathSpec over fuzz corpora):
  *
  *  - length: `Length.ofLine` — `Math.hypot(dx, dy)` per segment, summed
  *    in coordinate order; collections sum each member's total
  *    (`GeometryCollection.getLength` accumulates member sums, which is
  *    NOT the same floating-point value as one flat accumulation).
  *  - area: `Area.ofRingSigned(CoordinateSequence)` — the x0-reduced
  *    shoelace `Σ (x[i]-x0)·(y[i-1]-y[i+1]) / 2`; `Polygon.getArea` =
  *    `|shell| - Σ|holes|` in ring order.
  *  - bounds: `Envelope.expandToInclude` — first-coordinate init, then
  *    `<`/`>` compares (NaN never updates, a leading NaN sticks);
  *    collection envelopes combine MEMBER envelopes (an all-NaN-leading
  *    member absorbs its later real coordinates — flattening would not),
  *    a polygon's envelope is its SHELL's, and the null envelope of an
  *    empty geometry reads 0/-1 (`Envelope.setToNull`). Methods return
  *    null for the null envelope; the rewrite supplies the 0/-1 sentinel
  *    (for `ST_BBox` too, whose null envelope `ST_Extent_Agg` skips).
  *
  * Width is the coordinate struct's field count (2 + z + m); x/y are
  * fields 0 and 1 in the GeoArrow separated layout, and all measures are
  * 2D exactly like the JTS originals. The all-NaN coordinate is the
  * GeoArrow POINT EMPTY sentinel (only meaningful inside multipoint). */
object NativeMeasures {

  // ── length (JTS Length.ofLine: Math.hypot per segment) ────────────────

  def lineLength(a: ArrayData, width: Int): Double = {
    val n = a.numElements()
    if (n <= 1) return 0.0
    var len = 0.0
    var c = a.getStruct(0, width)
    var x0 = c.getDouble(0)
    var y0 = c.getDouble(1)
    var i = 1
    while (i < n) {
      c = a.getStruct(i, width)
      val x1 = c.getDouble(0)
      val y1 = c.getDouble(1)
      len += java.lang.Math.hypot(x1 - x0, y1 - y0)
      x0 = x1; y0 = y1
      i += 1
    }
    len
  }

  /** Σ member/ring totals — Polygon.getLength (perimeter) over rings and
    * MultiLineString.getLength over members share this exact chain. */
  def ringsLength(a: ArrayData, width: Int): Double = {
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { s += lineLength(a.getArray(i), width); i += 1 }
    s
  }

  /** MultiPolygon.getLength: each member polygon's ring sum is completed
    * FIRST, then added (GeometryCollection accumulation order). */
  def ringsLengthL3(a: ArrayData, width: Int): Double = {
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { s += ringsLength(a.getArray(i), width); i += 1 }
    s
  }

  // ── area (JTS Area.ofRingSigned, CoordinateSequence variant) ──────────

  /** CW-positive signed ring area, the exact x0-reduced shoelace JTS runs
    * (p2.x is reduced by x0 AT LOAD, term is p1x·(p0y−p2y), sum halved at
    * the end). */
  def ringAreaSigned(a: ArrayData, width: Int): Double = {
    val n = a.numElements()
    if (n < 3) return 0.0
    val c0 = a.getStruct(0, width)
    val x0 = c0.getDouble(0)
    var p1y = c0.getDouble(1)
    val c1 = a.getStruct(1, width)
    var p2x = c1.getDouble(0) - x0
    var p2y = c1.getDouble(1)
    var sum = 0.0
    var i = 1
    while (i < n - 1) {
      val p0y = p1y
      val p1x = p2x
      p1y = p2y
      val ci = a.getStruct(i + 1, width)
      p2x = ci.getDouble(0) - x0
      p2y = ci.getDouble(1)
      sum += p1x * (p0y - p2y)
      i += 1
    }
    sum / 2.0
  }

  /** Polygon.getArea: `0 + |shell| − |hole₁| − |hole₂| …` in ring order. */
  def polygonArea(a: ArrayData, width: Int): Double = {
    val n = a.numElements()
    var area = 0.0
    if (n > 0) {
      area += java.lang.Math.abs(ringAreaSigned(a.getArray(0), width))
      var i = 1
      while (i < n) {
        area -= java.lang.Math.abs(ringAreaSigned(a.getArray(i), width))
        i += 1
      }
    }
    area
  }

  /** MultiPolygon.getArea: member polygon areas summed in order. */
  def multiPolygonArea(a: ArrayData, width: Int): Double = {
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { s += polygonArea(a.getArray(i), width); i += 1 }
    s
  }

  // ── numPoints (JTS getNumPoints) ───────────────────────────────────────

  /** MultiPoint.getNumPoints: Σ member counts — an any-NaN member is
    * POINT EMPTY (WKBReader collapses when isNaN(x) || isNaN(y), the
    * same contract as the point kernels below), which counts 0. */
  def numPointsMultiPoint(a: ArrayData, width: Int): Int = {
    var s = 0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val c = a.getStruct(i, width)
      if (!(java.lang.Double.isNaN(c.getDouble(0)) ||
            java.lang.Double.isNaN(c.getDouble(1)))) s += 1
      i += 1
    }
    s
  }

  /** Polygon/MultiLineString getNumPoints: Σ ring/member sizes. */
  def numPointsL2(a: ArrayData): Int = {
    var s = 0
    var i = 0
    val n = a.numElements()
    while (i < n) { s += a.getArray(i).numElements(); i += 1 }
    s
  }

  def numPointsL3(a: ArrayData): Int = {
    var s = 0
    var i = 0
    val n = a.numElements()
    while (i < n) { s += numPointsL2(a.getArray(i)); i += 1 }
    s
  }

  // ── envelope bounds (JTS Envelope.expandToInclude chains) ─────────────
  // ord: 0 = x, 1 = y; min/max by flag. null ⇔ the JTS null envelope
  // (empty geometry) — the plan rewrite supplies getMin*/getMax*'s 0/-1
  // null-envelope sentinel.

  /** LineString envelope bound: first-coordinate init, then compare —
    * NaN coordinates behave exactly as in Envelope.expandToInclude
    * (never update; a leading NaN sticks). */
  def boundLine(a: ArrayData, width: Int, ord: Int, isMin: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n == 0) return null
    var v = a.getStruct(0, width).getDouble(ord)
    var i = 1
    while (i < n) {
      val c = a.getStruct(i, width).getDouble(ord)
      if (if (isMin) c < v else c > v) v = c
      i += 1
    }
    java.lang.Double.valueOf(v)
  }

  /** MultiPoint envelope bound: EMPTY (any-NaN, the WKBReader collapse)
    * members are skipped entirely (their member envelope is null),
    * others contribute their coordinate. */
  def boundMultiPoint(a: ArrayData, width: Int, ord: Int, isMin: Boolean): java.lang.Double = {
    val n = a.numElements()
    var init = false
    var v = 0.0
    var i = 0
    while (i < n) {
      val r = a.getStruct(i, width)
      if (!(java.lang.Double.isNaN(r.getDouble(0)) ||
            java.lang.Double.isNaN(r.getDouble(1)))) {
        val c = r.getDouble(ord)
        if (!init) { v = c; init = true }
        else if (if (isMin) c < v else c > v) v = c
      }
      i += 1
    }
    if (init) java.lang.Double.valueOf(v) else null
  }

  /** Polygon envelope = SHELL envelope (JTS computeEnvelopeInternal uses
    * only the exterior ring; holes are presumed inside). */
  def boundShell(a: ArrayData, width: Int, ord: Int, isMin: Boolean): java.lang.Double =
    if (a.numElements() == 0) null else boundLine(a.getArray(0), width, ord, isMin)

  /** MultiLineString envelope bound: MEMBER envelopes combined (not a
    * flat coordinate scan — a member whose FIRST coordinate is NaN
    * absorbs its later real coordinates into a NaN envelope, and the
    * combine then ignores it; flattening would resurrect them). */
  def boundL2(a: ArrayData, width: Int, ord: Int, isMin: Boolean): java.lang.Double = {
    val n = a.numElements()
    var init = false
    var v = 0.0
    var i = 0
    while (i < n) {
      val b = boundLine(a.getArray(i), width, ord, isMin)
      if (b != null) {
        val c = b.doubleValue()
        if (!init) { v = c; init = true }
        else if (if (isMin) c < v else c > v) v = c
      }
      i += 1
    }
    if (init) java.lang.Double.valueOf(v) else null
  }

  /** MultiPolygon envelope bound: member polygon envelopes (= shells). */
  def boundMPolyShells(a: ArrayData, width: Int, ord: Int, isMin: Boolean): java.lang.Double = {
    val n = a.numElements()
    var init = false
    var v = 0.0
    var i = 0
    while (i < n) {
      val b = boundShell(a.getArray(i), width, ord, isMin)
      if (b != null) {
        val c = b.doubleValue()
        if (!init) { v = c; init = true }
        else if (if (isMin) c < v else c > v) v = c
      }
      i += 1
    }
    if (init) java.lang.Double.valueOf(v) else null
  }

  // ── isEmpty / numPoints over the point struct ──────────────────────────

  def isEmptyL1(a: ArrayData): Boolean = a.numElements() == 0

  /** Polygon.isEmpty delegates to the SHELL ring's isEmpty. */
  def isEmptyPolygon(a: ArrayData): Boolean =
    a.numElements() == 0 || a.getArray(0).numElements() == 0

  /** MultiLineString.isEmpty: every member empty (vacuously true for 0
    * members). */
  def isEmptyL2(a: ArrayData): Boolean = {
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.getArray(i).numElements() != 0) return false
      i += 1
    }
    true
  }

  def isEmptyMultiPolygon(a: ArrayData): Boolean = {
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (!isEmptyPolygon(a.getArray(i))) return false
      i += 1
    }
    true
  }

  /** MultiPoint.isEmpty: every member is EMPTY — any-NaN, matching the
    * WKBReader collapse the slow path goes through. */
  def isEmptyMultiPoint(a: ArrayData, width: Int): Boolean = {
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val r = a.getStruct(i, width)
      if (!(java.lang.Double.isNaN(r.getDouble(0)) ||
            java.lang.Double.isNaN(r.getDouble(1)))) return false
      i += 1
    }
    true
  }

  /** Point.getNumPoints: 0 when EMPTY. ANY NaN ordinate counts as empty —
    * the WKB hop the slow path takes collapses every NaN-bearing point to
    * POINT EMPTY (JTS WKBReader convention), and that is the observable
    * contract this kernel must match. */
  def numPointsPoint(r: InternalRow, width: Int): Int =
    if (java.lang.Double.isNaN(r.getDouble(0)) ||
        java.lang.Double.isNaN(r.getDouble(1))) 0 else 1

  // ── edge-model (geography) lengths over native layouts ────────────────
  // The geodesic length kernels (Geodesy.lengthSphere/Spheroid/Geodesic/
  // Vincenty) walk LineString components segment-by-segment into ONE flat
  // accumulator; these replicate that chain over the raw arrays so an
  // edges-stamped native linestring column dispatches without the WKB
  // stage. metric: 0 = haversine, 1 = Andoyer, 2 = Karney, 3 = Vincenty.

  private def segMeters(metric: Int, x1: Double, y1: Double,
                        x2: Double, y2: Double): Double = metric match {
    case 0 => Geodesy.haversineMeters(x1, y1, x2, y2)
    case 1 => Geodesy.andoyerMeters(x1, y1, x2, y2)
    case 2 => KarneyGeodesic.distance(y1, x1, y2, x2)
    case _ => Geodesy.vincentyMeters(x1, y1, x2, y2)
  }

  def edgeLengthLine(a: ArrayData, width: Int, metric: Int): Double = {
    val n = a.numElements()
    var total = 0.0
    var j = 1
    while (j < n) {
      val p = a.getStruct(j - 1, width); val q = a.getStruct(j, width)
      total += segMeters(metric, p.getDouble(0), p.getDouble(1),
        q.getDouble(0), q.getDouble(1))
      j += 1
    }
    total
  }

  /** MultiLineString: the kernels accumulate every member's segments into
    * the SAME running total (flat, not per-member subtotals). */
  def edgeLengthL2(a: ArrayData, width: Int, metric: Int): Double = {
    val n = a.numElements()
    var total = 0.0
    var i = 0
    while (i < n) {
      val cs = a.getArray(i)
      val m = cs.numElements()
      var j = 1
      while (j < m) {
        val p = cs.getStruct(j - 1, width); val q = cs.getStruct(j, width)
        total += segMeters(metric, p.getDouble(0), p.getDouble(1),
          q.getDouble(0), q.getDouble(1))
        j += 1
      }
      i += 1
    }
    total
  }

  /** MultiPolygon boundary length: every member's every ring's segments
    * into ONE flat accumulator (lengthSphere over getBoundary's
    * MultiLineString — the sphere-perimeter composition). */
  def edgeLengthL3(a: ArrayData, width: Int, metric: Int): Double = {
    val n = a.numElements()
    var total = 0.0
    var i = 0
    while (i < n) {
      val rings = a.getArray(i)
      val rn = rings.numElements()
      var r = 0
      while (r < rn) {
        val cs = rings.getArray(r)
        val m = cs.numElements()
        var j = 1
        while (j < m) {
          val p = cs.getStruct(j - 1, width); val q = cs.getStruct(j, width)
          total += segMeters(metric, p.getDouble(0), p.getDouble(1),
            q.getDouble(0), q.getDouble(1))
          j += 1
        }
        r += 1
      }
      i += 1
    }
    total
  }

  // ── edge-model (geography) areas and perimeters over native layouts ───

  /** Chamberlain–Duquette spherical ring area (Geodesy.ringArea): closed
    * ring, per-ring abs(total·R²/2). */
  private def cdRingArea(cs: ArrayData, width: Int): Double = {
    val len = cs.numElements()
    if (len < 3) return 0.0
    var total = 0.0
    var i = 0
    val n = len - 1 // closed ring; last == first
    while (i < n) {
      val lo = cs.getStruct(i, width)
      val hi = cs.getStruct((i + 1) % n, width)
      val nx = cs.getStruct((i + 2) % n, width)
      total += (java.lang.Math.toRadians(nx.getDouble(0)) -
        java.lang.Math.toRadians(lo.getDouble(0))) *
        java.lang.Math.sin(java.lang.Math.toRadians(hi.getDouble(1)))
      i += 1
    }
    java.lang.Math.abs(total * Geodesy.EarthRadiusM * Geodesy.EarthRadiusM / 2.0)
  }

  /** Geodesy.sphericalArea(Polygon): exterior MINUS holes SEQUENTIALLY. */
  private def cdPolySigned(rings: ArrayData, width: Int): Double = {
    val n = rings.numElements()
    if (n == 0) return 0.0
    var a = cdRingArea(rings.getArray(0), width)
    var i = 1
    while (i < n) { a -= cdRingArea(rings.getArray(i), width); i += 1 }
    a
  }

  def sphereAreaPolygon(a: ArrayData, width: Int): Double =
    java.lang.Math.abs(cdPolySigned(a, width))

  def sphereAreaMultiPolygon(a: ArrayData, width: Int): Double = {
    // GeometryCollection sum of member signed values, abs at the top
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += cdPolySigned(a.getArray(i), width); i += 1 }
    java.lang.Math.abs(s)
  }

  /** (lats, lons) with the closing point dropped — Geodesy.ringLatLon. */
  private def ringLatLonArr(cs: ArrayData, width: Int): (Array[Double], Array[Double]) = {
    val len = cs.numElements()
    val m =
      if (len > 1 && {
        val f0 = cs.getStruct(0, width); val l0 = cs.getStruct(len - 1, width)
        f0.getDouble(0) == l0.getDouble(0) && f0.getDouble(1) == l0.getDouble(1)
      }) len - 1
      else len
    (Array.tabulate(m)(i => cs.getStruct(i, width).getDouble(1)),
     Array.tabulate(m)(i => cs.getStruct(i, width).getDouble(0)))
  }

  /** Geodesy.unsignedKarney(Polygon): exterior normalized into [0, area0),
    * hole |areas| summed FIRST then subtracted once (the original's
    * `ext - holes.map(..).sum` grouping). Calls the real
    * KarneyGeodesic.ringAreaSigned so the series is shared, not cloned. */
  def spheroidAreaPolygon(a: ArrayData, width: Int): Double = {
    val n = a.numElements()
    if (n == 0) return 0.0
    val (extLa, extLo) = ringLatLonArr(a.getArray(0), width)
    val s0 = KarneyGeodesic.ringAreaSigned(extLa, extLo)
    val ext = if (s0 < 0) s0 + KarneyGeodesic.area0 else s0
    var holes = 0.0
    var i = 1
    while (i < n) {
      val (la, lo) = ringLatLonArr(a.getArray(i), width)
      holes += java.lang.Math.abs(KarneyGeodesic.ringAreaSigned(la, lo))
      i += 1
    }
    ext - holes
  }

  def spheroidAreaMultiPolygon(a: ArrayData, width: Int): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += spheroidAreaPolygon(a.getArray(i), width); i += 1 }
    s
  }

  /** Geodesy.perimeterOf(Polygon): per-ring subtotals, exterior first. */
  def edgePerimRings(a: ArrayData, width: Int, metric: Int): Double = {
    val n = a.numElements()
    var total = 0.0
    var i = 0
    while (i < n) { total += edgeLengthLine(a.getArray(i), width, metric); i += 1 }
    total
  }

  def edgePerimL3(a: ArrayData, width: Int, metric: Int): Double = {
    val n = a.numElements()
    var total = 0.0
    var i = 0
    while (i < n) { total += edgePerimRings(a.getArray(i), width, metric); i += 1 }
    total
  }

  // ── centroid (JTS Centroid, jts-core-1.20.0, field-for-field) ─────────
  // The dimension-cascade accumulator: triangle fan over each ring from
  // the CURRENT shell's first vertex (areaBasePt is re-set per shell),
  // signed by Orientation.isCCW — called on the REAL JTS entry point so
  // the robust-orientation corner cases (collinear top edges resolved via
  // DD arithmetic) are decided by the same code; degenerate rings throw
  // exactly where JTS's own getCentroid would. Zero-area input falls back
  // to the length-weighted midpoint sum, zero-length to the point
  // average, and a zero-length LINE SEGMENT run contributes its first
  // vertex as a point (the addLineSegments tail). All accumulation orders
  // match the Java originals (x before y, per-member sub-sums).

  private final class CentroidAcc {
    var baseX = 0.0; var baseY = 0.0
    var cg3x = 0.0; var cg3y = 0.0; var areasum2 = 0.0
    var lineX = 0.0; var lineY = 0.0; var totalLength = 0.0
    var ptCount = 0; var ptX = 0.0; var ptY = 0.0

    def addPoint(x: Double, y: Double): Unit = {
      ptCount += 1; ptX += x; ptY += y
    }

    def addLineSegments(cs: Array[Coordinate]): Unit = {
      var lineLen = 0.0
      var i = 0
      while (i < cs.length - 1) {
        val segLen = java.lang.Math.hypot(cs(i).x - cs(i + 1).x, cs(i).y - cs(i + 1).y)
        if (segLen != 0.0) {
          lineLen += segLen
          lineX += segLen * ((cs(i).x + cs(i + 1).x) / 2.0)
          lineY += segLen * ((cs(i).y + cs(i + 1).y) / 2.0)
        }
        i += 1
      }
      totalLength += lineLen
      if (lineLen == 0.0 && cs.length > 0) addPoint(cs(0).x, cs(0).y)
    }

    private def addTriangle(ax: Double, ay: Double, b: Coordinate, c: Coordinate,
                            positive: Boolean): Unit = {
      val sign = if (positive) 1.0 else -1.0
      val c3x = ax + b.x + c.x
      val c3y = ay + b.y + c.y
      val area2 = (b.x - ax) * (c.y - ay) - (c.x - ax) * (b.y - ay)
      cg3x += sign * area2 * c3x
      cg3y += sign * area2 * c3y
      areasum2 += sign * area2
    }

    private def addRing(cs: Array[Coordinate], positive: Boolean): Unit = {
      var i = 0
      while (i < cs.length - 1) {
        addTriangle(baseX, baseY, cs(i), cs(i + 1), positive)
        i += 1
      }
      addLineSegments(cs)
    }

    def addShell(cs: Array[Coordinate]): Unit = {
      if (cs.length > 0) { baseX = cs(0).x; baseY = cs(0).y }
      addRing(cs, positive = !org.locationtech.jts.algorithm.Orientation.isCCW(cs))
    }

    def addHole(cs: Array[Coordinate]): Unit =
      addRing(cs, positive = org.locationtech.jts.algorithm.Orientation.isCCW(cs))

    /** Centroid.getCentroid's dimension cascade → point WKB (EMPTY when
      * nothing contributed, matching Geometry.getCentroid on empties). */
    def result(): Array[Byte] = {
      if (java.lang.Math.abs(areasum2) > 0.0)
        GeomOps.point(cg3x / 3.0 / areasum2, cg3y / 3.0 / areasum2)
      else if (totalLength > 0.0)
        GeomOps.point(lineX / totalLength, lineY / totalLength)
      else if (ptCount > 0)
        GeomOps.point(ptX / ptCount, ptY / ptCount)
      else GeomOps.write(GeomOps.factory.createPoint())
    }
  }

  private def coordsOf(a: ArrayData, width: Int): Array[Coordinate] =
    Array.tabulate(a.numElements()) { i =>
      val r = a.getStruct(i, width)
      new Coordinate(r.getDouble(0), r.getDouble(1))
    }

  def centroidLine(a: ArrayData, width: Int): Array[Byte] = {
    val acc = new CentroidAcc
    if (a.numElements() > 0) acc.addLineSegments(coordsOf(a, width))
    acc.result()
  }

  private def addPolygon(acc: CentroidAcc, rings: ArrayData, width: Int): Unit = {
    // Centroid.add(Geometry) skips EMPTY geometries wholesale: a polygon
    // whose shell is empty contributes nothing, holes included
    val n = rings.numElements()
    if (n == 0) return
    val shell = coordsOf(rings.getArray(0), width)
    if (shell.length == 0) return
    acc.addShell(shell)
    var i = 1
    while (i < n) {
      acc.addHole(coordsOf(rings.getArray(i), width))
      i += 1
    }
  }

  def centroidPolygon(a: ArrayData, width: Int): Array[Byte] = {
    val acc = new CentroidAcc
    addPolygon(acc, a, width)
    acc.result()
  }

  def centroidMultiPoint(a: ArrayData, width: Int): Array[Byte] = {
    val acc = new CentroidAcc
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val r = a.getStruct(i, width)
      val x = r.getDouble(0); val y = r.getDouble(1)
      // any-NaN is POINT EMPTY (WKBReader collapse) — skipped like any empty member
      if (!(java.lang.Double.isNaN(x) || java.lang.Double.isNaN(y))) acc.addPoint(x, y)
      i += 1
    }
    acc.result()
  }

  def centroidMultiLineString(a: ArrayData, width: Int): Array[Byte] = {
    val acc = new CentroidAcc
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val cs = coordsOf(a.getArray(i), width)
      if (cs.length > 0) acc.addLineSegments(cs) // empty members are skipped
      i += 1
    }
    acc.result()
  }

  def centroidMultiPolygon(a: ArrayData, width: Int): Array[Byte] = {
    val acc = new CentroidAcc
    val n = a.numElements()
    var i = 0
    while (i < n) { addPolygon(acc, a.getArray(i), width); i += 1 }
    acc.result()
  }
}
