package graft.core

import org.locationtech.jts.geom._
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader, WKTWriter}
import org.locationtech.jts.simplify.{DouglasPeuckerSimplifier, TopologyPreservingSimplifier, VWSimplifier}
import org.locationtech.jts.densify.Densifier
import org.locationtech.jts.algorithm.MinimumDiameter
import org.locationtech.jts.algorithm.hull.ConcaveHull
import org.locationtech.jts.algorithm.construct.MaximumInscribedCircle
import org.locationtech.jts.operation.valid.IsValidOp
import org.locationtech.jts.operation.linemerge.LineMerger
import org.locationtech.jts.linearref.{LengthIndexedLine, LocationIndexedLine}
import org.locationtech.jts.geom.util.AffineTransformation
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** Scalar geometry kernels over WKB byte arrays, JTS-backed.
  *
  * These are the Spark re-expression of the reference's vectorized kernels
  * (geoarrow-rs `rust/geoarrow-expr-geo/src` and
  * `rust/geoarrow-old/src/algorithm/geo`). Where the reference
  * dispatches on 16 physical array layouts (`GeoArrowType`,
  * rust/geoarrow-schema/src/datatype.rs:23-67), we deliberately keep a single
  * type-erased WKB representation: Spark's Tungsten row format would force a
  * serialization at every exchange anyway, WKB shuffles cheaply, and it is
  * GeoParquet's default on-disk encoding — so scans are zero-transcode.
  *
  * Every method here is a static-forwarder target for Catalyst
  * `StaticInvoke` expressions (see [[graft.functions]]): the generated Java
  * calls `graft.core.GeomOps.area(byte[])` directly inside whole-stage
  * codegen, with null-propagation handled by the expression layer.
  *
  * Thread-safety: GeometryFactory is thread-safe; readers/writers are not and
  * are kept in ThreadLocals (one per executor task thread).
  */
object GeomOps {

  val factory = new GeometryFactory(new PrecisionModel(), 0)

  private val wkbReader = ThreadLocal.withInitial[WKBReader](() => new WKBReader(factory))
  private val wkbWriter = ThreadLocal.withInitial[WKBWriter](() => new WKBWriter(2, true))
  private val wktReader = ThreadLocal.withInitial[WKTReader](() => new WKTReader(factory))
  // output dimension 4: writes Z/M only when the sequence carries them
  private val wktWriter = ThreadLocal.withInitial[WKTWriter](() => new WKTWriter(4))

  def read(b: Array[Byte]): Geometry = wkbReader.get.read(b)

  /** WKB write with dimension fidelity: XYZ/XYM/XYZM geometries keep their
    * extra ordinates (the 2D writer would silently drop them — SURVEY.md §7
    * hard-part 2; the reference's Dimension axis,
    * rust/geoarrow-schema/src/dimension.rs:12-24). */
  def write(g: Geometry): Array[Byte] = writeDim(g, includeSRID = true)

  private def writeDim(g: Geometry, includeSRID: Boolean): Array[Byte] = {
    val z = hasZ(g)
    val m = hasM(g)
    if (!z && !m) {
      if (includeSRID) wkbWriter.get.write(g)
      else new WKBWriter(2, false).write(g)
    } else {
      import org.locationtech.jts.io.Ordinate
      val w = new WKBWriter(if (z && m) 4 else 3, includeSRID)
      w.setOutputOrdinates(
        if (z && m) java.util.EnumSet.of(Ordinate.X, Ordinate.Y, Ordinate.Z, Ordinate.M)
        else if (m) java.util.EnumSet.of(Ordinate.X, Ordinate.Y, Ordinate.M)
        else java.util.EnumSet.of(Ordinate.X, Ordinate.Y, Ordinate.Z))
      w.write(g)
    }
  }

  private[graft] def hasZ(g: Geometry): Boolean = {
    if (g.isEmpty) return false
    val c = g.getCoordinate
    c != null && !java.lang.Double.isNaN(c.getZ)
  }

  // measure presence lives on the coordinate sequence (JTS tracks
  // dimension/measures per sequence, mirroring the reference's XYM/XYZM
  // variants); probe the first sequence only — this runs on every write(),
  // so it's an allocation-free type match, not a CoordinateSequenceFilter
  private def firstSeq(g: Geometry): CoordinateSequence = g match {
    case p: Point => p.getCoordinateSequence
    case l: LineString => l.getCoordinateSequence
    case p: Polygon => p.getExteriorRing.getCoordinateSequence
    case gc: GeometryCollection if gc.getNumGeometries > 0 => firstSeq(gc.getGeometryN(0))
    case _ => null
  }

  private[graft] def hasM(g: Geometry): Boolean = {
    if (g.isEmpty) return false
    val s = firstSeq(g)
    s != null && s.hasM
  }

  // ── constructors ──────────────────────────────────────────────────────
  // ref: python/geoarrow-core/.../_constructors.pyi (points/linestrings/…)

  def point(x: Double, y: Double): Array[Byte] =
    write(factory.createPoint(new Coordinate(x, y)))

  def pointZ(x: Double, y: Double, z: Double): Array[Byte] = {
    val g = factory.createPoint(new Coordinate(x, y, z))
    new WKBWriter(3, true).write(g)
  }

  def pointM(x: Double, y: Double, m: Double): Array[Byte] =
    write(factory.createPoint(new CoordinateXYM(x, y, m)))

  def pointZM(x: Double, y: Double, z: Double, m: Double): Array[Byte] =
    write(factory.createPoint(new CoordinateXYZM(x, y, z, m)))

  def makeEnvelope(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Array[Byte] = {
    val cs = Array(
      new Coordinate(xmin, ymin), new Coordinate(xmax, ymin),
      new Coordinate(xmax, ymax), new Coordinate(xmin, ymax),
      new Coordinate(xmin, ymin))
    write(factory.createPolygon(cs))
  }

  def makeLine(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val (ga, gb) = (read(a), read(b))
    write(factory.createLineString(Array(ga.getCoordinate, gb.getCoordinate)))
  }

  def makeLineFromMultiPoint(a: Array[Byte]): Array[Byte] = {
    val g = read(a)
    write(factory.createLineString(g.getCoordinates))
  }

  def collect(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val geoms = (0 until n).iterator
      .filterNot(arr.isNullAt)
      .map(i => read(arr.getBinary(i))).toSeq
    write(factory.buildGeometry(java.util.Arrays.asList(geoms: _*)))
  }

  /** PostGIS 2-arg ST_Collect(g1, g2). */
  def collect2(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    write(factory.buildGeometry(java.util.Arrays.asList(read(a), read(b))))

  def makePolygon(shell: Array[Byte]): Array[Byte] = read(shell) match {
    case l: LineString => write(factory.createPolygon(l.getCoordinates))
    case g => write(g)
  }

  /** PostGIS `ST_MakePolygon(shell, holes[])`: closed shell linestring plus
    * an array of closed hole linestrings. */
  def makePolygonHoles(shell: Array[Byte], holes: ArrayData): Array[Byte] = {
    val sh = factory.createLinearRing(read(shell).getCoordinates)
    val hs = (0 until holes.numElements()).iterator
      .filterNot(holes.isNullAt)
      .map(i => factory.createLinearRing(read(holes.getBinary(i)).getCoordinates))
      .toArray
    write(factory.createPolygon(sh, hs))
  }

  // ── WKT / WKB codecs ──────────────────────────────────────────────────
  // ref: rust/geoarrow-cast/src/cast.rs:14-16 (from_wkb/to_wkb/from_wkt/to_wkt)

  def geomFromText(wkt: UTF8String): Array[Byte] = write(wktReader.get.read(wkt.toString))
  def asText(wkb: Array[Byte]): UTF8String = UTF8String.fromString(wktWriter.get.write(read(wkb)))
  def geomFromWKB(b: Array[Byte]): Array[Byte] = write(read(b)) // validates + normalizes
  // strip EWKB srid flag → ISO WKB, preserving Z/M ordinates
  def asBinary(b: Array[Byte]): Array[Byte] = writeDim(read(b), includeSRID = false)

  // ── accessors ─────────────────────────────────────────────────────────

  def stX(b: Array[Byte]): Double = read(b).getCoordinate.x
  def stY(b: Array[Byte]): Double = read(b).getCoordinate.y
  def stZ(b: Array[Byte]): Double = read(b).getCoordinate.getZ
  def stM(b: Array[Byte]): Double = read(b).getCoordinate.getM
  def hasZCol(b: Array[Byte]): Boolean = hasZ(read(b))
  def hasMCol(b: Array[Byte]): Boolean = hasM(read(b))
  def xMin(b: Array[Byte]): Double = read(b).getEnvelopeInternal.getMinX
  def yMin(b: Array[Byte]): Double = read(b).getEnvelopeInternal.getMinY
  def xMax(b: Array[Byte]): Double = read(b).getEnvelopeInternal.getMaxX
  def yMax(b: Array[Byte]): Double = read(b).getEnvelopeInternal.getMaxY
  def nPoints(b: Array[Byte]): Int = read(b).getNumPoints
  def numGeometries(b: Array[Byte]): Int = read(b).getNumGeometries

  /** ST_NRings: total ring count over all polygons (exterior + holes) —
    * 0 for non-areal input, the PostGIS contract. */
  def nRings(b: Array[Byte]): Int = {
    var n = 0
    def rec(g: Geometry): Unit = g match {
      case p: Polygon => if (!p.isEmpty) n += 1 + p.getNumInteriorRing
      case c: GeometryCollection =>
        (0 until c.getNumGeometries).foreach(i => rec(c.getGeometryN(i)))
      case _ => ()
    }
    rec(read(b))
    n
  }

  /** ST_IsClosed: every lineal component starts where it ends; puntal
    * and polygonal inputs answer true (the PostGIS convention — a point
    * "ends where it starts", polygon rings are closed by definition). */
  def isClosedCol(b: Array[Byte]): Boolean = {
    var closed = true
    def rec(g: Geometry): Unit = g match {
      case l: LineString => if (!l.isEmpty && !l.isClosed) closed = false
      case c: GeometryCollection =>
        (0 until c.getNumGeometries).foreach(i => rec(c.getGeometryN(i)))
      case _ => ()
    }
    rec(read(b))
    closed
  }

  /** ST_ZMFlag: 0 = 2D, 1 = M only, 2 = Z only, 3 = ZM (the PostGIS
    * smallint code), from the value-level dimension tags WKB carries. */
  def zmFlag(b: Array[Byte]): Int = {
    val g = read(b)
    (if (hasZ(g)) 2 else 0) + (if (hasM(g)) 1 else 0)
  }

  /** ST_ForceCollection: the input's top-level components as a
    * GEOMETRYCOLLECTION (a single geometry wraps as a 1-element
    * collection; collections pass through element-wise). */
  def forceCollection(b: Array[Byte]): Array[Byte] = {
    val g = read(b)
    val parts = Array.tabulate[Geometry](g.getNumGeometries)(g.getGeometryN)
    write(factory.createGeometryCollection(parts))
  }

  /** ST_MemSize: the stored size of the geometry VALUE in bytes — here
    * exactly the WKB length (geometry IS type-erased WKB in this engine;
    * PostGIS reports its serialized varlena size, same intent, different
    * encoding). */
  def memSize(b: Array[Byte]): Int = b.length

  /** ST_QuantizeCoordinates(g, prec): round every X/Y/Z/M to `prec`
    * decimal digits (prec may be negative: tens, hundreds, …) — the
    * precision-shedding step before dedup/compression. PostGIS zeroes
    * IEEE mantissa bits instead of decimal rounding; the intent
    * (collapse sub-precision noise, improve compressibility) is the
    * same and THIS form is exactly mirrorable in SQL oracles. */
  def quantizeCoordinates(b: Array[Byte], prec: Int): Array[Byte] = {
    require(prec >= -15 && prec <= 15, s"ST_QuantizeCoordinates: prec $prec out of [-15, 15]")
    val scale = math.pow(10.0, prec)
    val g = read(b).copy()
    g.apply(new CoordinateSequenceFilter {
      def filter(seq: CoordinateSequence, i: Int): Unit = {
        var d = 0
        while (d < seq.getDimension) {
          val v = seq.getOrdinate(i, d)
          if (!v.isNaN) seq.setOrdinate(i, d, math.rint(v * scale) / scale)
          d += 1
        }
      }
      def isDone: Boolean = false
      def isGeometryChanged: Boolean = true
    })
    g.geometryChanged()
    write(g)
  }
  /** Topological dimension (0 points, 1 lines, 2 areas; collections take
    * the max) — PostGIS ST_Dimension. */
  def dimension(b: Array[Byte]): Int = read(b).getDimension

  /** PostGIS-style tag, e.g. "ST_Point" — mirrors the reference's type ids
    * (rust/geoarrow-schema/src/type_id.rs:1-91). */
  def geometryType(b: Array[Byte]): UTF8String =
    UTF8String.fromString("ST_" + read(b).getGeometryType)
  def isEmpty(b: Array[Byte]): Boolean = read(b).isEmpty
  def isValid(b: Array[Byte]): Boolean = read(b).isValid
  def isValidReason(b: Array[Byte]): UTF8String =
    UTF8String.fromString(new IsValidOp(read(b)).getValidationError match {
      case null => "Valid Geometry"
      case e => e.toString
    })
  def isSimple(b: Array[Byte]): Boolean = read(b).isSimple
  def isRing(b: Array[Byte]): Boolean = read(b) match {
    case l: LineString => l.isClosed && l.isSimple
    case _ => false
  }
  def srid(b: Array[Byte]): Int = read(b).getSRID
  def setSrid(b: Array[Byte], srid: Int): Array[Byte] = {
    val g = read(b); g.setSRID(srid); write(g)
  }

  // ── measures ──────────────────────────────────────────────────────────
  // ref: rust/geoarrow-expr-geo/src/{area.rs:11,length.rs:12,distance.rs:9}

  def area(b: Array[Byte]): Double = read(b).getArea

  /** Planar signed shoelace area, CCW-positive, rings summed as wound
    * (ref: rust/geoarrow-expr-geo/src/area.rs:15 `signed_area`; JTS
    * ofRingSigned is CW-positive, hence the negation). */
  def signedArea(b: Array[Byte]): Double = signedAreaOf(read(b))

  private def signedAreaOf(g: Geometry): Double = g match {
    case p: Polygon =>
      val rings = p.getExteriorRing +:
        (0 until p.getNumInteriorRing).map(p.getInteriorRingN)
      rings.map(r => -org.locationtech.jts.algorithm.Area.ofRingSigned(r.getCoordinates)).sum
    case gc: GeometryCollection =>
      (0 until gc.getNumGeometries).map(i => signedAreaOf(gc.getGeometryN(i))).sum
    case _ => 0.0
  }

  def length(b: Array[Byte]): Double = read(b).getLength
  def perimeter(b: Array[Byte]): Double = read(b) match {
    case p: Polygonal => p.getLength
    case _ => 0.0
  }
  def distance(a: Array[Byte], b: Array[Byte]): Double = read(a).distance(read(b))
  /** Planar azimuth from point a to point b, PostGIS convention: radians
    * clockwise from north in [0, 2π). Coincident points error in PostGIS;
    * here they return NaN (null-free kernel, filter upstream). */
  def azimuth(a: Array[Byte], b: Array[Byte]): Double = {
    val ca = read(a).getCoordinate
    val cb = read(b).getCoordinate
    val dx = cb.x - ca.x
    val dy = cb.y - ca.y
    if (dx == 0.0 && dy == 0.0) Double.NaN
    else {
      val az = math.atan2(dx, dy)
      if (az < 0.0) az + 2.0 * math.Pi else az
    }
  }
  def hausdorffDistance(a: Array[Byte], b: Array[Byte]): Double =
    org.locationtech.jts.algorithm.distance.DiscreteHausdorffDistance.distance(read(a), read(b))
  /** ref: rust/geoarrow-old/src/algorithm/geo/frechet_distance.rs:25 */
  def frechetDistance(a: Array[Byte], b: Array[Byte]): Double =
    org.locationtech.jts.algorithm.distance.DiscreteFrechetDistance.distance(read(a), read(b))

  // ── predicates ────────────────────────────────────────────────────────
  // ref: rust/geoarrow-expr-geo/src/{intersects.rs:9,contains.rs:9,relate.rs:10};
  //      rust/geoarrow-old/src/algorithm/geos/bool_ops.rs:11-22

  // Prepared-geometry + parse cache for the scalar predicate family.
  //
  // A plain `WHERE ST_Intersects(geom, lit(complex_polygon))` scan would
  // otherwise re-parse the constant polygon's WKB and run an unprepared JTS
  // relate for EVERY row — a 10-100× constant factor on complex literal
  // operands at a full-table scan (the reference keeps scalar operands
  // pre-converted once per kernel call:
  // rust/geoarrow-expr-geo/src/intersects.rs evaluates the scalar side once
  // for the whole array). The Spark analogue is value-level: a per-thread
  // WKB-keyed LRU holding the parsed Geometry plus a lazily-built
  // PreparedGeometry (JTS indexed point-in-area / segment-intersection
  // structures). An operand whose exact bytes repeat (a literal, a
  // broadcast probe, a hot tile shape) stays resident and gets promoted to
  // prepared after PREP_HITS sightings; one-off row values churn through
  // the LRU paying only a byte-hash over the plain parse they needed
  // anyway. Per-thread, so no synchronization on the codegen hot path;
  // predicates never mutate geometries, so sharing the parsed object is
  // safe (the overlay memo below makes the same argument for WKB arrays).
  private final class CachedGeom(val geom: Geometry) {
    var hits: Int = 0
    private var prep: org.locationtech.jts.geom.prep.PreparedGeometry = null
    def prepared: org.locationtech.jts.geom.prep.PreparedGeometry = {
      if (prep == null)
        prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(geom)
      prep
    }
  }
  private final class BytesKey(val b: Array[Byte]) {
    override val hashCode: Int = java.util.Arrays.hashCode(b)
    override def equals(o: Any): Boolean = o match {
      case k: BytesKey => java.util.Arrays.equals(k.b, b)
      case _ => false
    }
  }
  private val PrepHits = 4
  // per-entry size cap: a cached geometry (and its eventual prepared
  // index) is retained per THREAD, so without a bound a scan over multi-MB
  // polygons could pin 256 × threads of them. Oversized operands skip the
  // cache and parse per call — they keep correctness and lose only the
  // optimization, and a >1 MB WKB costs far more in JTS evaluation than in
  // parsing anyway.
  private val PredCacheMaxWkb = 1 << 20
  // retained-bytes budget per thread ON TOP of the entry cap: the parsed
  // Geometry plus its lazily-built prepared index retain several times the
  // WKB size, so 256 entries of ~1 MB operands could otherwise pin hundreds
  // of MB × threads on a real 4–8 GiB executor heap. Budgeting on summed WKB
  // bytes (a stable proxy for retained size) bounds the worst case at
  // ~16 MB × expansion-factor per thread; eviction is size-weighted LRU —
  // least-recently-used entries go first until both caps hold.
  private[graft] val PredCacheMaxBytes: Long = 16L << 20
  private final class PredCache
      extends java.util.LinkedHashMap[BytesKey, CachedGeom](256, 0.75f, true) {
    private var bytes: Long = 0L
    def retainedBytes: Long = bytes
    def putBounded(k: BytesKey, v: CachedGeom): Unit = {
      put(k, v)
      bytes += k.b.length
      if (size() > 256 || bytes > PredCacheMaxBytes) {
        // access-ordered map iterates least-recently-used first; the fresh
        // insert is most recent so it survives (entries are ≤1 MB ≪ budget)
        val it = entrySet().iterator()
        while ((size() > 256 || bytes > PredCacheMaxBytes) && it.hasNext) {
          bytes -= it.next().getKey.b.length
          it.remove()
        }
      }
    }
  }
  private val predCache = ThreadLocal.withInitial[PredCache](() => new PredCache)
  /** Test hook: this thread's predicate-cache retained-WKB-bytes gauge. */
  private[graft] def predCacheRetainedBytes: Long = predCache.get().retainedBytes
  private def cachedRead(b: Array[Byte]): CachedGeom = {
    if (b.length > PredCacheMaxWkb) return new CachedGeom(read(b))
    val cache = predCache.get()
    val k = new BytesKey(b)
    var hit = cache.get(k)
    if (hit == null) { hit = new CachedGeom(read(b)); cache.putBounded(k, hit) }
    else if (hit.hits < Int.MaxValue) hit.hits += 1
    hit
  }
  /** Binary predicate through the cache: runs the prepared path on the
    * hotter operand (prepared ops take the prepared side as the left
    * receiver, so the cold side's test uses `swapped` — e.g.
    * within(a,b) ⇔ prepared(b).contains(a)). */
  private def pred(a: Array[Byte], b: Array[Byte])(
      plain: (Geometry, Geometry) => Boolean,
      prepLeft: (org.locationtech.jts.geom.prep.PreparedGeometry, Geometry) => Boolean,
      prepRight: (org.locationtech.jts.geom.prep.PreparedGeometry, Geometry) => Boolean): Boolean = {
    val ca = cachedRead(a)
    val cb = cachedRead(b)
    if (ca.hits >= PrepHits && ca.hits >= cb.hits) prepLeft(ca.prepared, cb.geom)
    else if (cb.hits >= PrepHits) prepRight(cb.prepared, ca.geom)
    else plain(ca.geom, cb.geom)
  }

  def intersects(a: Array[Byte], b: Array[Byte]): Boolean =
    pred(a, b)(_ intersects _, _ intersects _, _ intersects _)
  def contains(a: Array[Byte], b: Array[Byte]): Boolean =
    pred(a, b)(_ contains _, _ contains _, _ within _)
  def within(a: Array[Byte], b: Array[Byte]): Boolean =
    pred(a, b)(_ within _, _ within _, _ contains _)
  def covers(a: Array[Byte], b: Array[Byte]): Boolean =
    pred(a, b)(_ covers _, _ covers _, _ coveredBy _)
  def coveredBy(a: Array[Byte], b: Array[Byte]): Boolean =
    pred(a, b)(_ coveredBy _, _ coveredBy _, _ covers _)
  def crosses(a: Array[Byte], b: Array[Byte]): Boolean =
    pred(a, b)(_ crosses _, _ crosses _, (p, g) => g.crosses(p.getGeometry))
  def touches(a: Array[Byte], b: Array[Byte]): Boolean =
    pred(a, b)(_ touches _, _ touches _, _ touches _)
  def overlaps(a: Array[Byte], b: Array[Byte]): Boolean =
    pred(a, b)(_ overlaps _, _ overlaps _, _ overlaps _)
  def disjoint(a: Array[Byte], b: Array[Byte]): Boolean =
    pred(a, b)(_ disjoint _, _ disjoint _, _ disjoint _)
  def equalsTopo(a: Array[Byte], b: Array[Byte]): Boolean =
    cachedRead(a).geom.equalsTopo(cachedRead(b).geom)
  def equalsExact(a: Array[Byte], b: Array[Byte], tol: Double): Boolean =
    cachedRead(a).geom.equalsExact(cachedRead(b).geom, tol)
  def dWithin(a: Array[Byte], b: Array[Byte], d: Double): Boolean =
    cachedRead(a).geom.isWithinDistance(cachedRead(b).geom, d)
  def relate(a: Array[Byte], b: Array[Byte]): UTF8String =
    UTF8String.fromString(cachedRead(a).geom.relate(cachedRead(b).geom).toString)
  def relatePattern(a: Array[Byte], b: Array[Byte], pattern: UTF8String): Boolean =
    cachedRead(a).geom.relate(cachedRead(b).geom, pattern.toString)

  // ── unary transforms ──────────────────────────────────────────────────
  // ref: rust/geoarrow-expr-geo/src/{centroid.rs:10,convex_hull.rs:10,
  //      interior_point.rs:10,minimum_rotated_rect.rs:10,simplify.rs:19}

  def centroid(b: Array[Byte]): Array[Byte] = write(read(b).getCentroid)

  /** Flat-top hexagon bin of a point (H3-style spatial binning, public
    * axial-coordinate math — Red Blob Games' hex grid reference): axial
    * fractional coords q = (2/3·x)/size, r = (−1/3·x + √3/3·y)/size, then
    * cube rounding (round each of q, r, s = −q−r; recompute the one with
    * the largest rounding error from the other two). Rounding is
    * floor(v + 0.5) — written out explicitly so an oracle can replay the
    * same IEEE ops (a library round() may round half away from zero and
    * disagree at negative .5). Returns q packed with r as
    * (q·2^21 + r) — a single orderable bin id. */
  def hexBin(x: Double, y: Double, size: Double): Long = {
    val fq = (2.0 / 3.0 * x) / size
    val fr = (-1.0 / 3.0 * x + math.sqrt(3.0) / 3.0 * y) / size
    val fs = -fq - fr
    var rq = math.floor(fq + 0.5)
    var rr = math.floor(fr + 0.5)
    val rs = math.floor(fs + 0.5)
    val dq = math.abs(rq - fq)
    val dr = math.abs(rr - fr)
    val ds = math.abs(rs - fs)
    if (dq > dr && dq > ds) rq = -rr - rs
    else if (dr > ds) rr = -rq - rs
    rq.toLong * 2097152L + rr.toLong
  }
  /** Nearest point ON `a` to geometry `b` (PostGIS ST_ClosestPoint). */
  def closestPoint(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val pts = org.locationtech.jts.operation.distance.DistanceOp.nearestPoints(read(a), read(b))
    write(factory.createPoint(pts(0)))
  }
  /** 2-point line from the nearest point on `a` to the nearest point on
    * `b` (PostGIS ST_ShortestLine); degenerate (touching/overlapping)
    * pairs yield a zero-length line, as PostGIS does. */
  def shortestLine(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val pts = org.locationtech.jts.operation.distance.DistanceOp.nearestPoints(read(a), read(b))
    write(factory.createLineString(Array(pts(0), pts(1))))
  }
  def envelope(b: Array[Byte]): Array[Byte] = write(read(b).getEnvelope)
  /** center of bounding box — ref: rust/geoarrow-old/src/algorithm/geo/center.rs:13 */
  def center(b: Array[Byte]): Array[Byte] = {
    val e = read(b).getEnvelopeInternal
    write(factory.createPoint(new Coordinate((e.getMinX + e.getMaxX) / 2, (e.getMinY + e.getMaxY) / 2)))
  }
  def boundary(b: Array[Byte]): Array[Byte] = write(read(b).getBoundary)
  def reverse(b: Array[Byte]): Array[Byte] = write(read(b).reverse())

  /** Offset curve at signed distance `d` (PostGIS ST_OffsetCurve: positive
    * = left of the line's direction; JTS OffsetCurve shares the
    * convention). Inside corners trim, outside corners take the round
    * join, straight runs shift exactly. */
  def offsetCurve(b: Array[Byte], d: Double): Array[Byte] =
    write(org.locationtech.jts.operation.buffer.OffsetCurve.getCurve(read(b), d))

  /** Swap X and Y in place (PostGIS ST_FlipCoordinates — the lat/lon
    * order-mixup repair), Z/M preserved via in-sequence mutation. */
  def flipCoordinates(b: Array[Byte]): Array[Byte] = {
    val g = read(b).copy()
    g.apply(new org.locationtech.jts.geom.CoordinateSequenceFilter {
      override def filter(seq: CoordinateSequence, i: Int): Unit = {
        val x = seq.getOrdinate(i, 0)
        seq.setOrdinate(i, 0, seq.getOrdinate(i, 1))
        seq.setOrdinate(i, 1, x)
      }
      override def isDone: Boolean = false
      override def isGeometryChanged: Boolean = true
    })
    g.geometryChanged()
    write(g)
  }

  private def lineAnd(b: Array[Byte], kernel: String): (LineString, Array[Coordinate]) =
    read(b) match {
      case l: LineString => (l, l.getCoordinates)
      case other => throw new IllegalArgumentException(
        s"$kernel: expected LineString, got ${other.getGeometryType}")
    }

  private def pointCoord(p: Array[Byte], kernel: String): Coordinate = read(p) match {
    case pt: Point if !pt.isEmpty => pt.getCoordinate
    case other => throw new IllegalArgumentException(
      s"$kernel: expected non-empty Point, got ${other.toText}")
  }

  /** Append a vertex (PostGIS ST_AddPoint 2-arg form). */
  def addPoint(b: Array[Byte], p: Array[Byte]): Array[Byte] =
    addPointAt(b, p, -1)

  /** Insert a vertex BEFORE 0-based `position`; -1 appends (PostGIS
    * ST_AddPoint 3-arg form). */
  def addPointAt(b: Array[Byte], p: Array[Byte], position: Int): Array[Byte] = {
    val (_, cs) = lineAnd(b, "ST_AddPoint")
    val c = pointCoord(p, "ST_AddPoint")
    val pos = if (position == -1) cs.length else position
    require(pos >= 0 && pos <= cs.length,
      s"ST_AddPoint: position $position outside [0, ${cs.length}] (or -1 to append)")
    write(factory.createLineString(
      (cs.take(pos) :+ c) ++ cs.drop(pos)))
  }

  /** Replace the vertex at `index` (negative counts from the end, PostGIS
    * ST_SetPoint: -1 is the last point). */
  def setPoint(b: Array[Byte], index: Int, p: Array[Byte]): Array[Byte] = {
    val (_, cs) = lineAnd(b, "ST_SetPoint")
    val i = if (index < 0) cs.length + index else index
    require(i >= 0 && i < cs.length,
      s"ST_SetPoint: index $index outside the line's ${cs.length} points")
    val out = cs.clone()
    out(i) = pointCoord(p, "ST_SetPoint")
    write(factory.createLineString(out))
  }

  /** Remove the vertex at 0-based `index`; the result must still be a
    * line (PostGIS ST_RemovePoint). */
  def removePoint(b: Array[Byte], index: Int): Array[Byte] = {
    val (_, cs) = lineAnd(b, "ST_RemovePoint")
    require(index >= 0 && index < cs.length,
      s"ST_RemovePoint: index $index outside the line's ${cs.length} points")
    require(cs.length > 2,
      s"ST_RemovePoint: removing a point from a ${cs.length}-point line would not leave a line")
    write(factory.createLineString(cs.take(index) ++ cs.drop(index + 1)))
  }

  /** Strip Z/M ordinates (PostGIS ST_Force2D) — the sanctioned path into
    * the XY-only GeoArrow export kernels ([[GeoArrowOps]]). */
  def force2D(b: Array[Byte]): Array[Byte] = {
    val g = read(b)
    if (!hasZ(g) && !hasM(g)) return write(g)
    val editor = new org.locationtech.jts.geom.util.GeometryEditor(factory)
    val out = editor.edit(g, new org.locationtech.jts.geom.util.GeometryEditor.CoordinateSequenceOperation() {
      override def edit(cs: CoordinateSequence, geom: Geometry): CoordinateSequence =
        factory.getCoordinateSequenceFactory.create(
          Array.tabulate(cs.size())(i => new Coordinate(cs.getX(i), cs.getY(i))))
    })
    out.setSRID(g.getSRID)
    write(out)
  }
  def convexHull(b: Array[Byte]): Array[Byte] = write(read(b).convexHull())
  def concaveHull(b: Array[Byte], ratio: Double): Array[Byte] =
    write(ConcaveHull.concaveHullByLengthRatio(read(b), ratio))
  def pointOnSurface(b: Array[Byte]): Array[Byte] = write(read(b).getInteriorPoint)
  def orientedEnvelope(b: Array[Byte]): Array[Byte] =
    write(MinimumDiameter.getMinimumRectangle(read(b)))
  /** Smallest enclosing circle (PostGIS ST_MinimumBoundingRadius shape):
    * struct(center_x, center_y, radius) — the JTS Welzl-style construct;
    * returned as scalars rather than a polygonized circle so consumers
    * get exact values, not a segmentized approximation. */
  def minimumBoundingRadius(b: Array[Byte]): InternalRow = {
    val g = read(b)
    val mbc = new org.locationtech.jts.algorithm.MinimumBoundingCircle(g)
    // JTS returns a null centre for the fully-degenerate case (all input
    // points identical — e.g. a zero-length line); the circle is that
    // point with radius 0
    val c = Option(mbc.getCentre).getOrElse(g.getCoordinate)
    new GenericInternalRow(Array[Any](c.x, c.y, mbc.getRadius))
  }
  /** ST_MinimumBoundingCircle(g[, quadSegs]): the bounding circle as a
    * POLYGON (quadSegs arcs per quadrant, PostGIS default 48); the
    * degenerate all-points-identical case answers the point itself. */
  def minimumBoundingCircle(b: Array[Byte]): Array[Byte] =
    minimumBoundingCircleSegs(b, 48)
  def minimumBoundingCircleSegs(b: Array[Byte], quadSegs: Int): Array[Byte] = {
    require(quadSegs >= 1, s"ST_MinimumBoundingCircle: quadSegs $quadSegs must be >= 1")
    val g = read(b)
    val mbc = new org.locationtech.jts.algorithm.MinimumBoundingCircle(g)
    val c = Option(mbc.getCentre).getOrElse(g.getCoordinate)
    val r = mbc.getRadius
    if (r == 0.0) write(factory.createPoint(c))
    else write(factory.createPoint(c).buffer(r, quadSegs))
  }

  /** ST_MaximumInscribedCircle(g): (center, nearest boundary point,
    * radius) of the largest circle inside an areal input — the PostGIS
    * record shape. Iterative grid refinement to the PostGIS default
    * tolerance max(width, height)/1000. */
  def maximumInscribedCircle(b: Array[Byte]): InternalRow = {
    val g = read(b)
    require(g.getDimension == 2 && !g.isEmpty,
      "ST_MaximumInscribedCircle: non-empty areal input required")
    val env = g.getEnvelopeInternal
    val tol = math.max(env.getWidth, env.getHeight) / 1000.0
    val mic = new org.locationtech.jts.algorithm.construct.MaximumInscribedCircle(g, tol)
    new GenericInternalRow(Array[Any](
      write(mic.getCenter), write(mic.getRadiusPoint),
      mic.getRadiusLine.getLength))
  }

  /** ST_LargestEmptyCircle(g, tolerance, boundary): the largest circle
    * whose center lies within `boundary` (empty boundary = the convex
    * hull of the obstacles, the PostGIS default) that touches no point
    * of the obstacle geometry `g`. Returns (center, nearest obstacle
    * point, radius). */
  def largestEmptyCircle(b: Array[Byte], tol: Double,
                         boundaryB: Array[Byte]): InternalRow = {
    require(tol > 0.0, s"ST_LargestEmptyCircle: tolerance $tol must be > 0")
    val obstacles = read(b)
    val boundary = read(boundaryB)
    val lec = new org.locationtech.jts.algorithm.construct.LargestEmptyCircle(
      obstacles, if (boundary.isEmpty) obstacles.convexHull() else boundary, tol)
    new GenericInternalRow(Array[Any](
      write(lec.getCenter), write(lec.getRadiusPoint),
      lec.getRadiusLine.getLength))
  }

  /** ST_MinimumClearance / ST_MinimumClearanceLine: the smallest
    * distance a vertex can move before the geometry becomes invalid —
    * the robustness measure (JTS MinimumClearance; Infinity/EMPTY for
    * geometries with no clearance, the PostGIS convention). */
  def minimumClearance(b: Array[Byte]): Double =
    org.locationtech.jts.precision.MinimumClearance.getDistance(read(b))
  def minimumClearanceLine(b: Array[Byte]): Array[Byte] =
    write(org.locationtech.jts.precision.MinimumClearance.getLine(read(b)))

  /** ST_TriangulatePolygon(g): constrained Delaunay triangulation of an
    * areal input — GEOMETRYCOLLECTION of triangles partitioning the
    * polygon exactly (holes respected). */
  def triangulatePolygon(b: Array[Byte]): Array[Byte] = {
    val g = read(b)
    require(g.getDimension == 2 && !g.isEmpty,
      "ST_TriangulatePolygon: non-empty areal input required")
    write(org.locationtech.jts.triangulate.polygon
      .ConstrainedDelaunayTriangulator.triangulate(g))
  }

  /** ST_3DLineInterpolatePoint(line, frac): the point at `frac` of the
    * line's 3D length — hops measured √(dx²+dy²+dz²) (NaN Z = 0, the
    * [[length3D]] convention), landing point lerped inside its segment
    * with Z. */
  def lineInterpolatePoint3D(b: Array[Byte], frac: Double): Array[Byte] = {
    require(frac >= 0.0 && frac <= 1.0,
      s"ST_3DLineInterpolatePoint: fraction $frac outside [0, 1]")
    val g = read(b)
    val line = g match {
      case l: LineString if l.getNumPoints >= 2 => l
      case other => throw new IllegalArgumentException(
        s"ST_3DLineInterpolatePoint: expected LineString, got ${other.getGeometryType}")
    }
    @inline def z(c: Coordinate): Double = { val v = c.getZ; if (v.isNaN) 0.0 else v }
    val cs = line.getCoordinates
    val hops = Array.tabulate(cs.length - 1) { i =>
      val dx = cs(i + 1).x - cs(i).x; val dy = cs(i + 1).y - cs(i).y
      val dz = z(cs(i + 1)) - z(cs(i))
      math.sqrt(dx * dx + dy * dy + dz * dz)
    }
    val total = hops.sum
    def mk(c: Coordinate) = write(factory.createPoint(
      new CoordinateXYZM(c.x, c.y, z(c), Double.NaN)))
    if (total == 0.0 || frac == 0.0) return mk(cs(0))
    var target = frac * total
    var i = 0
    while (i < hops.length && target > hops(i)) { target -= hops(i); i += 1 }
    if (i == hops.length) return mk(cs(cs.length - 1))
    val t = if (hops(i) == 0.0) 0.0 else target / hops(i)
    val (p, q) = (cs(i), cs(i + 1))
    write(factory.createPoint(new CoordinateXYZM(
      p.x + (q.x - p.x) * t, p.y + (q.y - p.y) * t,
      z(p) + (z(q) - z(p)) * t, Double.NaN)))
  }

  /** ST_Node(g): fully node (and dissolve duplicate) linework — the
    * unary union of the lineal input (PostGIS semantics for lineal
    * inputs; vertices are introduced at every crossing). */
  def nodeLines(b: Array[Byte]): Array[Byte] = {
    val g = read(b)
    require(g.getDimension == 1, "ST_Node: lineal input required")
    write(g.union())
  }

  /** ST_AsMVTGeom(g, bounds, extent, buffer, clip): transform `g` into
    * MVT tile coordinate space — the PostGIS vector-tile preparation
    * step. `bounds` (usually an ST_TileEnvelope output, same CRS as
    * `g`) maps to [0, extent]² with Y FLIPPED (tile space grows
    * downward); coordinates snap to the integer grid via topology-
    * preserving precision reduction (snapping repairs collapsed rings),
    * and `clip` intersects with the buffered tile box
    * [−buffer, extent+buffer]². A geometry that collapses entirely
    * answers EMPTY — the engine's no-value convention (PostGIS returns
    * NULL; documented divergence, kernels are null-free). */
  def asMvtGeom(b: Array[Byte], boundsB: Array[Byte], extent: Int,
                bufferPx: Int, clip: Boolean): Array[Byte] = {
    require(extent > 0, s"ST_AsMVTGeom: extent $extent must be > 0")
    require(bufferPx >= 0, s"ST_AsMVTGeom: buffer $bufferPx must be >= 0")
    val g = read(b)
    val env = read(boundsB).getEnvelopeInternal
    require(env.getWidth > 0 && env.getHeight > 0,
      "ST_AsMVTGeom: bounds must be a non-degenerate rectangle")
    if (g.isEmpty) return write(g)
    val fx = extent / env.getWidth
    val fy = extent / env.getHeight
    val transformed = new org.locationtech.jts.geom.util.GeometryEditor(factory)
      .edit(g, new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
        override def edit(coords: Array[Coordinate], geom: Geometry): Array[Coordinate] =
          coords.map(c => new Coordinate(
            (c.x - env.getMinX) * fx, (env.getMaxY - c.y) * fy))
      })
    // integer snap + validity repair in one step (scale-1 precision model)
    val snapped = org.locationtech.jts.precision.GeometryPrecisionReducer.reduce(
      transformed, new org.locationtech.jts.geom.PrecisionModel(1.0))
    val out =
      if (!clip) snapped
      else {
        val box = factory.toGeometry(new Envelope(
          -bufferPx.toDouble, extent + bufferPx.toDouble,
          -bufferPx.toDouble, extent + bufferPx.toDouble))
        val clipped = snapped.intersection(box)
        // re-snap: the clip can introduce fractional vertices at the box
        org.locationtech.jts.precision.GeometryPrecisionReducer.reduce(
          clipped, new org.locationtech.jts.geom.PrecisionModel(1.0))
      }
    write(out)
  }
  def asMvtGeomDefault(b: Array[Byte], boundsB: Array[Byte]): Array[Byte] =
    asMvtGeom(b, boundsB, 4096, 256, clip = true)

  def buffer(b: Array[Byte], dist: Double): Array[Byte] = write(read(b).buffer(dist))
  def bufferSegs(b: Array[Byte], dist: Double, quadrantSegments: Int): Array[Byte] =
    write(read(b).buffer(dist, quadrantSegments))
  /** PostGIS `ST_ForcePolygonCCW` / `ST_ForcePolygonCW`: normalize ring
    * winding — exterior rings to the requested orientation, interior
    * rings (holes) to the opposite, the convention OGC exporters and
    * shaders each expect one way. Non-polygonal geometries pass through
    * untouched, matching PostGIS. */
  def forcePolygonOrientation(b: Array[Byte], ccw: Boolean): Array[Byte] = {
    import org.locationtech.jts.algorithm.Orientation
    def orient(ring: LinearRing, wantCCW: Boolean): LinearRing = {
      val isCCW = Orientation.isCCW(ring.getCoordinateSequence)
      if (isCCW == wantCCW) ring else ring.reverse().asInstanceOf[LinearRing]
    }
    def fix(g: Geometry): Geometry = g match {
      // POLYGON EMPTY passes through: Orientation.isCCW requires a ring of
      // >= 4 points, so orienting an empty shell would throw — PostGIS
      // returns the empty geometry unchanged.
      case p: Polygon if p.isEmpty => p
      case p: Polygon =>
        val shell = orient(p.getExteriorRing, ccw)
        val holes = Array.tabulate(p.getNumInteriorRing)(i =>
          orient(p.getInteriorRingN(i), !ccw))
        factory.createPolygon(shell, holes)
      case mp: MultiPolygon =>
        factory.createMultiPolygon(
          Array.tabulate(mp.getNumGeometries)(i => fix(mp.getGeometryN(i)).asInstanceOf[Polygon]))
      case gc: GeometryCollection =>
        factory.createGeometryCollection(
          Array.tabulate(gc.getNumGeometries)(i => fix(gc.getGeometryN(i))))
      case other => other
    }
    write(fix(read(b)))
  }
  def forcePolygonCCW(b: Array[Byte]): Array[Byte] = forcePolygonOrientation(b, ccw = true)
  def forcePolygonCW(b: Array[Byte]): Array[Byte] = forcePolygonOrientation(b, ccw = false)

  /** PostGIS-style `ST_Buffer(geom, d, 'quad_segs=8 endcap=flat …')`:
    * whitespace-separated key=value tokens, the PostGIS buffer-style
    * grammar — `quad_segs` (arc quadrant segments), `endcap`
    * (round|flat|butt|square), `join` (round|mitre|miter|bevel),
    * `mitre_limit`/`miter_limit`, `side` (left|right — single-sided
    * buffer; right negates the offset). Unknown keys or values fail
    * loudly rather than silently buffering with defaults. */
  def bufferStyled(b: Array[Byte], dist: Double, style: UTF8String): Array[Byte] = {
    import org.locationtech.jts.operation.buffer.{BufferOp, BufferParameters}
    val params = new BufferParameters()
    // side is parsed into a variable and the right-side negation applied
    // once AFTER the token loop — cumulative `d = -d` would let a repeated
    // 'side=right' token double-negate back to a left-side buffer.
    var side: String = null
    style.toString.trim.toLowerCase.split("\\s+").iterator.filter(_.nonEmpty).foreach { tok =>
      tok.split("=", 2) match {
        case Array("endcap", v) => params.setEndCapStyle(v match {
          case "round" => BufferParameters.CAP_ROUND
          case "flat" | "butt" => BufferParameters.CAP_FLAT
          case "square" => BufferParameters.CAP_SQUARE
          case other => throw new IllegalArgumentException(
            s"ST_Buffer: unsupported endcap '$other' (round|flat|butt|square)")
        })
        case Array("join", v) => params.setJoinStyle(v match {
          case "round" => BufferParameters.JOIN_ROUND
          case "mitre" | "miter" => BufferParameters.JOIN_MITRE
          case "bevel" => BufferParameters.JOIN_BEVEL
          case other => throw new IllegalArgumentException(
            s"ST_Buffer: unsupported join '$other' (round|mitre|bevel)")
        })
        case Array("quad_segs", v) => params.setQuadrantSegments(v.toInt)
        case Array("mitre_limit", v) => params.setMitreLimit(v.toDouble)
        case Array("miter_limit", v) => params.setMitreLimit(v.toDouble)
        case Array("side", v @ ("left" | "right")) =>
          if (side != null && side != v) throw new IllegalArgumentException(
            s"ST_Buffer: conflicting side tokens '$side' and '$v'")
          side = v
        case Array("side", other) => throw new IllegalArgumentException(
          s"ST_Buffer: unsupported side '$other' (left|right)")
        case other => throw new IllegalArgumentException(
          s"ST_Buffer: unsupported style token '${other.mkString("=")}' " +
            "(quad_segs|endcap|join|mitre_limit|side)")
      }
    }
    if (side != null) params.setSingleSided(true)
    val d = if (side == "right") -dist else dist
    write(BufferOp.bufferOp(read(b), d, params))
  }
  def simplify(b: Array[Byte], tol: Double): Array[Byte] =
    write(DouglasPeuckerSimplifier.simplify(read(b), tol))
  def simplifyPreserveTopology(b: Array[Byte], tol: Double): Array[Byte] =
    write(TopologyPreservingSimplifier.simplify(read(b), tol))
  /** Visvalingam–Whyatt — ref: rust/geoarrow-old/src/algorithm/geo/simplify_vw.rs:19 */
  def simplifyVW(b: Array[Byte], tol: Double): Array[Byte] =
    write(VWSimplifier.simplify(read(b), tol))
  /** topology-preserving VW — ref: rust/geoarrow-expr-geo/src/simplify_vw_preserve.rs:19;
    * algorithm in [[VwPreserve]] (re-derived, not the JTS DP-based substitute). */
  def simplifyVWPreserve(b: Array[Byte], tol: Double): Array[Byte] =
    write(VwPreserve.simplify(read(b), tol))
  def densify(b: Array[Byte], maxDist: Double): Array[Byte] =
    write(Densifier.densify(read(b), maxDist))
  def makeValid(b: Array[Byte]): Array[Byte] =
    write(new org.locationtech.jts.geom.util.GeometryFixer(read(b)).getResult)
  def normalize(b: Array[Byte]): Array[Byte] = {
    val g = read(b); g.normalize(); write(g)
  }
  def reducePrecision(b: Array[Byte], gridSize: Double): Array[Byte] =
    write(org.locationtech.jts.precision.GeometryPrecisionReducer.reduce(
      read(b), new PrecisionModel(1.0 / gridSize)))
  /** pole of inaccessibility — ref: rust/geoarrow-old/src/algorithm/polylabel.rs:24;
    * JTS MaximumInscribedCircle center is the same point. */
  def polyLabel(b: Array[Byte], tol: Double): Array[Byte] =
    write(MaximumInscribedCircle.getCenter(read(b), tol))
  def lineMerge(b: Array[Byte]): Array[Byte] = {
    val m = new LineMerger(); m.add(read(b))
    write(factory.buildGeometry(m.getMergedLineStrings))
  }

  /** Delaunay triangulation of the input's vertices (PostGIS
    * ST_DelaunayTriangles; JTS DelaunayTriangulationBuilder). Returns a
    * GeometryCollection of triangles, normalized and WKT-sorted like
    * [[polygonize]] for a deterministic representation. For degenerate
    * inputs (< 3 distinct points, or all collinear) the collection is
    * empty. Note for oracle writers: with cocircular points the CHOICE of
    * triangulation is implementation-defined, but the triangle COUNT
    * (2n − h − 2 for n distinct points, h on the convex hull) and the
    * TOTAL area (= convex hull area) are triangulation-invariant — pin
    * those, not the triangle list. */
  def delaunay(b: Array[Byte]): Array[Byte] = {
    val builder = new org.locationtech.jts.triangulate.DelaunayTriangulationBuilder()
    builder.setSites(read(b))
    val tris = builder.getTriangles(factory).asInstanceOf[GeometryCollection]
    val polys = (0 until tris.getNumGeometries).map(tris.getGeometryN).toArray
    polys.foreach(_.normalize())
    write(factory.createGeometryCollection(polys.sortBy(_.toText)))
  }

  /** Voronoi diagram of the input's vertices, clipped to the given
    * envelope (PostGIS ST_VoronoiPolygons with an extend_to; JTS
    * VoronoiDiagramBuilder). One cell per distinct site; the clipped
    * cells PARTITION the envelope, so cell count (= n sites) and total
    * area (= envelope area) are construction-invariant — the oracle pins
    * those (the g57 Delaunay-invariant approach). Cells are normalized
    * and WKT-sorted like [[polygonize]]. JTS's raw cells extend beyond
    * the clip envelope (it only bounds the construction), so each cell is
    * intersected with the envelope here. */
  /** 2-arg PostGIS-style overload: clip envelope taken from the second
    * geometry's bounds, then the same normalized/sorted [[voronoi]] kernel —
    * one construction path for both arities (the round-12 dedup of the raw
    * shadowed variant). */
  def voronoiClip(b: Array[Byte], env: Array[Byte]): Array[Byte] = {
    val e = read(env).getEnvelopeInternal
    voronoi(b, e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
  }

  def voronoi(b: Array[Byte], minX: Double, minY: Double,
              maxX: Double, maxY: Double): Array[Byte] = {
    val env = new org.locationtech.jts.geom.Envelope(minX, maxX, minY, maxY)
    val builder = new org.locationtech.jts.triangulate.VoronoiDiagramBuilder()
    builder.setSites(read(b))
    builder.setClipEnvelope(env)
    val clip = factory.toGeometry(env)
    val gc = builder.getDiagram(factory).asInstanceOf[GeometryCollection]
    val cells = (0 until gc.getNumGeometries)
      .map(i => gc.getGeometryN(i).intersection(clip)).toArray
    cells.foreach(_.normalize())
    write(factory.createGeometryCollection(cells.sortBy(_.toText)))
  }

  /** Assemble the polygons enclosed by a linework collection (PostGIS
    * ST_Polygonize; JTS Polygonizer). Input is any geometry whose line
    * components form the edges; output is a GeometryCollection of the
    * polygons they enclose (empty collection when the linework closes
    * nothing). Polygons are normalized and sorted by WKT so the result is
    * deterministic regardless of input component order — map-side calls
    * after a `ST_Collect` keep a stable cross-engine representation. */
  def polygonize(b: Array[Byte]): Array[Byte] = {
    val p = new org.locationtech.jts.operation.polygonize.Polygonizer()
    p.add(read(b))
    val polys = p.getPolygons.toArray(Array.empty[org.locationtech.jts.geom.Polygon])
    polys.foreach(_.normalize())
    val sorted = polys.sortBy(_.toText)
    write(factory.createGeometryCollection(sorted.toArray[Geometry]))
  }

  /** ST_BuildArea: the areal geometry enclosed by the input's noded
    * linework, with enclosed faces at ODD containment depth subtracted
    * as holes (the PostGIS contract — where ST_Polygonize returns every
    * face as its own polygon, BuildArea returns the covered AREA).
    * EMPTY when the linework closes nothing. */
  def buildArea(b: Array[Byte]): Array[Byte] = {
    val p = new org.locationtech.jts.operation.polygonize.Polygonizer()
    p.add(read(b))
    val faces = p.getPolygons.toArray(Array.empty[Polygon])
    if (faces.isEmpty) return write(factory.createPolygon())
    // JTS's polygonizer already assigns holes, so the faces are a
    // DISJOINT planar subdivision. The built area keeps the faces whose
    // ring-containment depth is ODD (inside an odd number of shell
    // rings): nested ring sets alternate filled/hole/island to any
    // depth, while edge-sharing tilings sit at depth 1 and all survive.
    val shellPolys = faces.map(f =>
      org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(
        factory.createPolygon(f.getExteriorRing.getCoordinates)))
    val kept = faces.filter { f =>
      val probe = f.getInteriorPoint
      shellPolys.count(_.contains(probe)) % 2 == 1
    }
    if (kept.isEmpty) return write(factory.createPolygon())
    import org.locationtech.jts.operation.union.UnaryUnionOp
    write(UnaryUnionOp.union(java.util.Arrays.asList(kept.map(_.asInstanceOf[Geometry]): _*)))
  }

  /** ST_AsLatLonText(pt): degree-minute-second rendering in the PostGIS
    * default format — `DD°MM'SS.SSS"C`, latitude then longitude, cardinal
    * letters N/S/E/W, seconds to 3 decimals with carry (59.9996" rounds
    * up through minutes/degrees, never prints 60"). */
  def asLatLonText(b: Array[Byte]): UTF8String = {
    val g = read(b)
    val c = g match {
      case p: Point if !p.isEmpty => p.getCoordinate
      case other => throw new IllegalArgumentException(
        s"ST_AsLatLonText: POINT input required, got ${other.getGeometryType}")
    }
    def dms(v: Double, pos: Char, neg: Char): String = {
      val card = if (v < 0) neg else pos
      val a = math.abs(v)
      // round at the smallest printed unit FIRST so carry propagates
      var totalMillis = math.rint(a * 3600.0 * 1000.0).toLong
      val d = totalMillis / 3600000L
      totalMillis -= d * 3600000L
      val m = totalMillis / 60000L
      totalMillis -= m * 60000L
      val s = totalMillis / 1000.0
      f"$d%d°$m%d'$s%.3f" + "\"" + card
    }
    UTF8String.fromString(dms(c.y, 'N', 'S') + " " + dms(c.x, 'E', 'W'))
  }

  /** remove consecutive duplicate vertices —
    * ref: rust/geoarrow-old/src/algorithm/geo/remove_repeated_points.rs:19 */
  def removeRepeatedPoints(b: Array[Byte], tol: Double): Array[Byte] =
    write(org.locationtech.jts.geom.util.GeometryCollectionMapper.map(
      read(b) match { case gc: GeometryCollection => gc; case g => new GeometryCollection(Array(g), factory) },
      (g: Geometry) => removeRepeated(g, tol)) match {
        case gc: GeometryCollection if gc.getNumGeometries == 1 => gc.getGeometryN(0)
        case g => g
      })
  private def removeRepeated(g: Geometry, tol: Double): Geometry = {
    val ed = new org.locationtech.jts.geom.util.GeometryEditor(factory)
    ed.edit(g, new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
      override def edit(coords: Array[Coordinate], geometry: Geometry): Array[Coordinate] = {
        val out = scala.collection.mutable.ArrayBuffer[Coordinate]()
        coords.foreach { c => if (out.isEmpty || out.last.distance(c) > tol) out += c }
        out.toArray
      }
    })
  }

  // ── affine family ─────────────────────────────────────────────────────
  // ref: rust/geoarrow-old/src/algorithm/geo/{affine_ops.rs:24,rotate.rs:24,
  //      scale.rs:23,skew.rs:23,translate.rs:13}

  def affine(b: Array[Byte], m00: Double, m01: Double, m10: Double, m11: Double,
             xoff: Double, yoff: Double): Array[Byte] = {
    val t = new AffineTransformation(m00, m01, xoff, m10, m11, yoff)
    write(t.transform(read(b)))
  }
  def translate(b: Array[Byte], dx: Double, dy: Double): Array[Byte] =
    write(AffineTransformation.translationInstance(dx, dy).transform(read(b)))
  def rotate(b: Array[Byte], theta: Double): Array[Byte] = {
    val g = read(b)
    val c = g.getEnvelopeInternal
    write(AffineTransformation.rotationInstance(theta,
      (c.getMinX + c.getMaxX) / 2, (c.getMinY + c.getMaxY) / 2).transform(g))
  }
  def scale(b: Array[Byte], sx: Double, sy: Double): Array[Byte] =
    write(AffineTransformation.scaleInstance(sx, sy).transform(read(b)))

  // ── overlays ──────────────────────────────────────────────────────────
  // ref: rust/geoarrow-old/src/algorithm/geos/bool_ops.rs:24-27

  // Thread-local overlay memo: tile/zone analytics evaluate the same operand
  // pair millions of times (a few hundred distinct shapes repeated per row),
  // and one OverlayNG call costs ~50-500 µs vs ~0.1 µs for the byte-level
  // probe. LRU-bounded; per-thread so no synchronization on the hot path.
  // Cached arrays are safe to share: callers never mutate WKB (Spark copies
  // into UnsafeRow buffers).
  private final class OverlayKey(val op: Int, val a: Array[Byte], val b: Array[Byte]) {
    override val hashCode: Int =
      (op * 31 + java.util.Arrays.hashCode(a)) * 31 + java.util.Arrays.hashCode(b)
    override def equals(o: Any): Boolean = o match {
      case k: OverlayKey =>
        k.op == op && java.util.Arrays.equals(k.a, a) && java.util.Arrays.equals(k.b, b)
      case _ => false
    }
  }
  private val overlayCache =
    ThreadLocal.withInitial[java.util.LinkedHashMap[OverlayKey, Array[Byte]]](() =>
      new java.util.LinkedHashMap[OverlayKey, Array[Byte]](256, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[OverlayKey, Array[Byte]]): Boolean =
          size() > 1024
      })
  private def memo(op: Int, a: Array[Byte], b: Array[Byte])(f: => Array[Byte]): Array[Byte] = {
    val cache = overlayCache.get()
    val k = new OverlayKey(op, a, b)
    val hit = cache.get(k)
    if (hit != null) hit
    else { val r = f; cache.put(k, r); r }
  }

  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    memo(1, a, b) { write(read(a).union(read(b))) }
  /** Rectangle×rectangle fast path: OverlayNG's robust noding costs ~0.5 ms
    * even for two axis-aligned boxes — the dominant geometry in bbox-style
    * analytics. Envelope clipping is exact for that case (including the
    * degenerate edge/corner/empty results JTS would produce). */
  def intersection(a: Array[Byte], b: Array[Byte]): Array[Byte] = memo(2, a, b) {
    val (ga, gb) = (read(a), read(b))
    if (ga.isRectangle && gb.isRectangle) {
      val ea = ga.getEnvelopeInternal
      val eb = gb.getEnvelopeInternal
      if (!ea.intersects(eb)) write(factory.createPolygon())
      else {
        val (x0, x1) = (math.max(ea.getMinX, eb.getMinX), math.min(ea.getMaxX, eb.getMaxX))
        val (y0, y1) = (math.max(ea.getMinY, eb.getMinY), math.min(ea.getMaxY, eb.getMaxY))
        val g =
          if (x0 == x1 && y0 == y1) factory.createPoint(new Coordinate(x0, y0))
          else if (x0 == x1 || y0 == y1)
            factory.createLineString(Array(new Coordinate(x0, y0), new Coordinate(x1, y1)))
          else factory.createPolygon(Array(
            new Coordinate(x0, y0), new Coordinate(x1, y0),
            new Coordinate(x1, y1), new Coordinate(x0, y1), new Coordinate(x0, y0)))
        write(g)
      }
    } else write(ga.intersection(gb))
  }
  def difference(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    memo(3, a, b) { write(read(a).difference(read(b))) }
  def symDifference(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    memo(4, a, b) { write(read(a).symDifference(read(b))) }
  def unaryUnion(b: Array[Byte]): Array[Byte] = write(read(b).union())

  // ── polygonal coverage operations (round 20 — the PostGIS 3.4 /
  //    GEOS 3.12 ST_Coverage* family over JTS's coverage package). A
  //    "coverage" is a set of polygons whose shared edges match
  //    VERTEX-EXACTLY: no overlaps, no gaps, no partial edge overlap.
  //    Under that contract CoverageUnion dissolves interior edges by
  //    pure boundary matching — linear in edge count, NO snap-rounding,
  //    NO overlay noding — where UnaryUnionOp pays the full cascaded
  //    overlay. The exterior boundary comes out bit-exact, which is what
  //    makes the AGGREGATE form (st_coverageunion_agg) mergeable: a
  //    partial union of any subset keeps its outward-facing edges
  //    unchanged, so partials from different partitions still form a
  //    coverage with their neighbors and the merge is exact. ──────────────

  /** Flatten a collection into the coverage element array the JTS
    * coverage operations take; every element must be polygonal. */
  private def coverageElems(g: Geometry): Array[Geometry] = {
    val out = Vector.newBuilder[Geometry]
    def rec(x: Geometry): Unit = x match {
      case p: Polygon => if (!p.isEmpty) out += p
      case mp: MultiPolygon =>
        var i = 0; while (i < mp.getNumGeometries) { rec(mp.getGeometryN(i)); i += 1 }
      case gc: GeometryCollection =>
        var i = 0; while (i < gc.getNumGeometries) { rec(gc.getGeometryN(i)); i += 1 }
      case e if e.isEmpty => ()
      case other => throw new IllegalArgumentException(
        s"coverage operations take polygonal elements, got ${other.getGeometryType}")
    }
    rec(g)
    out.result().toArray
  }

  /** ST_CoverageUnion(collection): union a valid polygonal coverage by
    * dissolving interior shared edges — O(edges), no noding, exterior
    * boundary preserved bit-exact. Input polygons MUST form a valid
    * coverage (check with ST_CoverageInvalidEdges); on non-coverage
    * input the result is undefined (the GEOS/PostGIS contract). */
  def coverageUnion(b: Array[Byte]): Array[Byte] = {
    val elems = coverageElems(read(b))
    if (elems.isEmpty) write(factory.createPolygon())
    else write(org.locationtech.jts.coverage.CoverageUnion.union(elems))
  }

  /** ST_CoverageSimplify(collection, tolerance): simplify the shared
    * boundaries of a polygonal coverage (topology-preserving VW on the
    * extracted edge graph) so neighbors stay vertex-matched — the
    * per-element results return as a GEOMETRYCOLLECTION in input order
    * (PostGIS exposes this as a window function; here the window set is
    * the collection). */
  def coverageSimplify(b: Array[Byte], tolerance: Double): Array[Byte] = {
    require(tolerance >= 0.0, s"ST_CoverageSimplify: tolerance $tolerance must be >= 0")
    val elems = coverageElems(read(b))
    if (elems.isEmpty) return write(factory.createGeometryCollection())
    val simplified =
      org.locationtech.jts.coverage.CoverageSimplifier.simplify(elems, tolerance)
    write(factory.createGeometryCollection(simplified))
  }

  /** ST_CoverageInvalidEdges(collection[, gapWidth]): per-element
    * linework where the element breaks the coverage contract (edge
    * mismatch with a neighbor, overlap, or a gap narrower than
    * `gapWidth`) — LINESTRING EMPTY where the element is valid. Returned
    * as a GEOMETRYCOLLECTION in input order; all-EMPTY means the input
    * is a valid coverage. */
  def coverageInvalidEdges(b: Array[Byte], gapWidth: Double): Array[Byte] = {
    require(gapWidth >= 0.0, s"ST_CoverageInvalidEdges: gapWidth $gapWidth must be >= 0")
    val elems = coverageElems(read(b))
    if (elems.isEmpty) return write(factory.createGeometryCollection())
    val invalid =
      org.locationtech.jts.coverage.CoverageValidator.validate(elems, gapWidth)
    val parts: Array[Geometry] = invalid.map {
      case null => factory.createLineString(): Geometry
      case g => g
    }
    write(factory.createGeometryCollection(parts))
  }

  def coverageInvalidEdgesDefault(b: Array[Byte]): Array[Byte] =
    coverageInvalidEdges(b, 0.0)

  /** ST_CoverageIsValid(collection[, gapWidth]): does the collection form
    * a valid polygonal coverage (vertex-matched shared edges, no
    * overlaps, no sub-gapWidth gaps)? */
  def coverageIsValidDefault(b: Array[Byte]): Boolean = coverageIsValid(b, 0.0)
  def coverageIsValid(b: Array[Byte], gapWidth: Double): Boolean = {
    require(gapWidth >= 0.0, s"ST_CoverageIsValid: gapWidth $gapWidth must be >= 0")
    val elems = coverageElems(read(b))
    elems.isEmpty || {
      val invalid =
        org.locationtech.jts.coverage.CoverageValidator.validate(elems, gapWidth)
      invalid.forall(g => g == null || g.isEmpty)
    }
  }

  /** ST_GeometricMedian(points[, tolerance, maxIter]): the point
    * minimizing the SUM of distances to the input points (the 1-median /
    * Fermat point — robust central tendency, unlike the centroid's
    * sum-of-squares). Weiszfeld iteration from the centroid with the
    * Vardi–Zhang step so an iterate landing ON an input point does not
    * divide by zero; converges when the step length drops below
    * `tolerance` (default: 1e-9 of the extent diagonal, the PostGIS
    * auto-tolerance shape). Puntal input only — the PostGIS contract. */
  def geometricMedian(b: Array[Byte]): Array[Byte] =
    geometricMedianTol(b, 0.0, 10000)
  def geometricMedianTol(b: Array[Byte], tolerance: Double, maxIter: Int): Array[Byte] = {
    require(tolerance >= 0.0, s"ST_GeometricMedian: tolerance $tolerance must be >= 0")
    require(maxIter >= 1, s"ST_GeometricMedian: maxIter $maxIter must be >= 1")
    val g = read(b)
    require(g.isEmpty || g.getDimension == 0,
      s"ST_GeometricMedian: puntal input required, got ${g.getGeometryType}")
    val pts = g.getCoordinates.filter(c => !c.x.isNaN && !c.y.isNaN)
    if (pts.isEmpty) return write(factory.createPoint())
    if (pts.length == 1) return write(factory.createPoint(pts(0)))
    val env = g.getEnvelopeInternal
    val tol =
      if (tolerance > 0.0) tolerance
      else math.max(1e-300, math.hypot(env.getWidth, env.getHeight) * 1e-9)
    var cx = pts.foldLeft(0.0)(_ + _.x) / pts.length
    var cy = pts.foldLeft(0.0)(_ + _.y) / pts.length
    var it = 0
    var moved = Double.MaxValue
    while (it < maxIter && moved > tol) {
      var sx = 0.0; var sy = 0.0; var sw = 0.0
      var atVertex = 0 // multiplicity of input points coinciding with the iterate
      var i = 0
      while (i < pts.length) {
        val d = math.hypot(pts(i).x - cx, pts(i).y - cy)
        if (d == 0.0) atVertex += 1
        else { val w = 1.0 / d; sx += pts(i).x * w; sy += pts(i).y * w; sw += w }
        i += 1
      }
      if (sw == 0.0) { moved = 0.0 } // all points coincide with the iterate
      else {
        var nx = sx / sw; var ny = sy / sw
        if (atVertex > 0) {
          // Vardi–Zhang: damp the pull past the coincident vertex (weight =
          // its multiplicity η) so the iterate can leave it only when the
          // rest of the mass genuinely outpulls it
          val rx = sx - cx * sw; val ry = sy - cy * sw
          val r = math.hypot(rx, ry)
          if (r <= atVertex) { nx = cx; ny = cy } // the vertex IS the median
          else {
            val a = atVertex / r
            nx = (1 - a) * nx + a * cx; ny = (1 - a) * ny + a * cy
          }
        }
        moved = math.hypot(nx - cx, ny - cy)
        cx = nx; cy = ny
      }
      it += 1
    }
    write(factory.createPoint(new Coordinate(cx, cy)))
  }

  /** ST_ShiftLongitude(g): toggle every X between the [-180, 180] and
    * [0, 360] longitude conventions — x < 0 gains 360, x > 180 loses 360
    * (the PostGIS kernel; involutive on either convention). The
    * antimeridian-straddling helper: data in [0, 360] never splits at
    * ±180. Y/Z/M untouched. */
  def shiftLongitude(b: Array[Byte]): Array[Byte] = {
    val g = read(b).copy()
    g.apply(new CoordinateSequenceFilter {
      def filter(seq: CoordinateSequence, i: Int): Unit = {
        val x = seq.getX(i)
        if (x < 0.0) seq.setOrdinate(i, 0, x + 360.0)
        else if (x > 180.0) seq.setOrdinate(i, 0, x - 360.0)
      }
      def isDone: Boolean = false
      def isGeometryChanged: Boolean = true
    })
    g.geometryChanged()
    write(g)
  }

  /** ST_WrapX(g, wrap, move): split the geometry at the vertical line
    * x = `wrap` and translate by `move` the side that falls BEFORE the
    * line when move > 0 (x <= wrap) or AFTER it when move < 0
    * (x >= wrap) — the PostGIS world-wrapping kernel (e.g. wrap=0,
    * move=360 maps [-180, 180] data into [0, 360]; wrap=180, move=-360
    * maps it back). Pieces are clipped exactly at the line; the result
    * collects both sides (MULTI where homogeneous). */
  def wrapX(b: Array[Byte], wrap: Double, move: Double): Array[Byte] = {
    require(!wrap.isNaN && !move.isNaN, "ST_WrapX: wrap/move must be numbers")
    val g = read(b)
    if (g.isEmpty || move == 0.0) return write(g)
    val env = g.getEnvelopeInternal
    val needsSplit = if (move > 0.0) env.getMinX < wrap else env.getMaxX > wrap
    if (!needsSplit) return write(g)
    val pad = 1.0 + math.max(env.getWidth, env.getHeight)
    val lo = math.min(env.getMinX, wrap) - pad
    val hi = math.max(env.getMaxX, wrap) + pad
    val y0 = env.getMinY - pad; val y1 = env.getMaxY + pad
    val moveRect = factory.toGeometry(
      if (move > 0.0) new Envelope(lo, wrap, y0, y1) else new Envelope(wrap, hi, y0, y1))
    val movePart = g.intersection(moveRect)
    val stayPart = g.difference(moveRect)
    val t = AffineTransformation.translationInstance(move, 0.0)
    val pieces = new java.util.ArrayList[Geometry]()
    def add(x: Geometry): Unit = if (!x.isEmpty) {
      var i = 0
      while (i < x.getNumGeometries) { pieces.add(x.getGeometryN(i)); i += 1 }
    }
    add(t.transform(movePart)); add(stayPart)
    if (pieces.isEmpty) write(factory.createGeometryCollection())
    else write(factory.buildGeometry(pieces))
  }

  /** ST_Scroll(ring, point): rotate a CLOSED LineString's vertex order to
    * start (and end) at `point`, which must be one of its vertices —
    * ring direction and shape unchanged (the PostGIS kernel). */
  def scroll(b: Array[Byte], pointB: Array[Byte]): Array[Byte] = {
    val g = read(b); val p = read(pointB)
    val line = g match {
      case l: LineString => l
      case other => throw new IllegalArgumentException(
        s"ST_Scroll: LINESTRING input required, got ${other.getGeometryType}")
    }
    require(line.isClosed, "ST_Scroll: input must be a closed LineString")
    val target = p match {
      case pt: Point if !pt.isEmpty => pt.getCoordinate
      case other => throw new IllegalArgumentException(
        s"ST_Scroll: POINT start required, got ${other.getGeometryType}")
    }
    val cs = line.getCoordinates // closed: first == last
    val n = cs.length - 1
    val at = (0 until n).indexWhere(i => cs(i).equals2D(target))
    require(at >= 0, s"ST_Scroll: point ${target.x} ${target.y} is not a vertex of the ring")
    if (at == 0) return write(line)
    val out = new Array[Coordinate](cs.length)
    var i = 0
    while (i < n) { out(i) = cs((at + i) % n).copy(); i += 1 }
    out(n) = out(0).copy()
    write(factory.createLineString(out))
  }

  // ── 3D measures (round 19 — the Z-aware PostGIS family over the
  //    engine's Z-preserving WKB; JTS Distance3DOp + per-segment 3D
  //    hypot; coordinates without Z measure as planar, the JTS NaN-Z
  //    convention both engines share) ────────────────────────────────────

  /** ST_3DDistance. Puntal/lineal pairs take the exact closed-form
    * nearest-pair kernel ([[nearestPair3D]]) — JTS's
    * CGAlgorithms3D.distanceSegmentSegment OVERESTIMATES skew
    * segment-segment distances whose minimizing parameter clamps to a
    * boundary (fuzz-found: reports 7.5498 where the true clamped
    * minimum is 6.1246, numerically adjudicated), so Distance3DOp is
    * only trusted where a polygon plate is involved (its
    * point-in-plate projection has no replacement here). */
  def distance3D(a: Array[Byte], b: Array[Byte]): Double = {
    val ga = read(a); val gb = read(b)
    if (ga.getDimension <= 1 && gb.getDimension <= 1 && !ga.isEmpty && !gb.isEmpty) {
      val (p, q) = nearestPair3D(ga, gb)
      val dz = { val d = p.getZ - q.getZ; if (d.isNaN) 0.0 else d }
      math.sqrt((p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) + dz * dz)
    } else
      org.locationtech.jts.operation.distance3d.Distance3DOp.distance(ga, gb)
  }

  def dWithin3D(a: Array[Byte], b: Array[Byte], d: Double): Boolean =
    distance3D(a, b) <= d

  /** ST_3DLength: Σ per-segment sqrt(dx² + dy² + dz²) over every lineal
    * component (rings included — the ST_3DPerimeter share the walk);
    * segments with a NaN Z on either end fall back to their planar
    * length (the PostGIS treatment of 2D members in mixed input). */
  private def length3DOf(g: Geometry): Double = g match {
    case l: LineString =>
      val cs = l.getCoordinates
      var s = 0.0
      var i = 1
      while (i < cs.length) {
        val dx = cs(i).x - cs(i - 1).x
        val dy = cs(i).y - cs(i - 1).y
        val dz = cs(i).getZ - cs(i - 1).getZ
        s += (if (dz.isNaN) math.hypot(dx, dy)
              else math.sqrt(dx * dx + dy * dy + dz * dz))
        i += 1
      }
      s
    case p: Polygon => 0.0 // lineal length of areal input is 0 (PostGIS)
    case c: GeometryCollection =>
      (0 until c.getNumGeometries).map(i => length3DOf(c.getGeometryN(i))).sum
    case _ => 0.0
  }

  def length3D(b: Array[Byte]): Double = length3DOf(read(b))

  /** ST_3DPerimeter: the 3D ring walk over polygon boundaries. */
  private def perimeter3DOf(g: Geometry): Double = g match {
    case p: Polygon =>
      val rings = p.getExteriorRing +:
        (0 until p.getNumInteriorRing).map(p.getInteriorRingN)
      rings.map(length3DOf).sum
    case c: GeometryCollection =>
      (0 until c.getNumGeometries).map(i => perimeter3DOf(c.getGeometryN(i))).sum
    case _ => 0.0
  }

  def perimeter3D(b: Array[Byte]): Double = perimeter3DOf(read(b))

  /** ST_3DIntersects: zero 3D distance. Exact for point/line inputs
    * (the [[distance3D]] closed-form pair kernel); polygons are FLAT
    * PLATES in their supporting plane — the PostGIS caveat applies
    * unchanged: a 3D polygon's interior is planar, no solid model. */
  def intersects3D(a: Array[Byte], b: Array[Byte]): Boolean =
    distance3D(a, b) == 0.0

  /** the 3D vertex-pair maximum: |p−q|₃ is convex along segments in
    * every ordinate, so the max is attained at a vertex pair, like the
    * 2D twin — but WITHOUT the hull filter (a 2D convex hull does not
    * bound the 3D metric; a proper 3D hull isn't worth it for a per-row
    * kernel). NaN Z on either vertex contributes dz = 0 — the same
    * planar fallback [[distance3D]]/[[length3D]] use for 2D members. */
  private def farthestPair3D(a: Geometry, b: Geometry): (Coordinate, Coordinate) = {
    require(!a.isEmpty && !b.isEmpty, "3D max distance: empty input")
    val ca = a.getCoordinates; val cb = b.getCoordinates
    var best = -1.0
    var bi = 0; var bj = 0
    var i = 0
    while (i < ca.length) {
      var j = 0
      while (j < cb.length) {
        val dx = ca(i).x - cb(j).x; val dy = ca(i).y - cb(j).y
        val dzRaw = ca(i).getZ - cb(j).getZ
        val dz = if (dzRaw.isNaN) 0.0 else dzRaw
        val d = dx * dx + dy * dy + dz * dz
        if (d > best) { best = d; bi = i; bj = j }
        j += 1
      }
      i += 1
    }
    (ca(bi), cb(bj))
  }

  /** ST_3DMaxDistance(g1, g2): the largest 3D distance between any
    * vertex pair of the inputs (PostGIS semantics). */
  def maxDistance3D(a: Array[Byte], b: Array[Byte]): Double = {
    val (p, q) = farthestPair3D(read(a), read(b))
    val dz = { val d = p.getZ - q.getZ; if (d.isNaN) 0.0 else d }
    math.sqrt((p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) + dz * dz)
  }

  /** ST_3DLongestLine(g1, g2): the 2-point line realizing
    * [[maxDistance3D]], Z preserved from the winning vertices. */
  def longestLine3D(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val (p, q) = farthestPair3D(read(a), read(b))
    write(factory.createLineString(Array(p.copy(), q.copy())))
  }

  /** nearest 3D pair, CLOSED FORM over point/segment components — JTS's
    * Distance3DOp reports correct distances but does NOT compute nearest
    * LOCATIONS (it echoes an input vertex), so the pair is derived here:
    * point–point, point–segment (clamped projection), segment–segment
    * (the standard clamped two-parameter minimization). NaN Z reads as
    * 0 (the mixed-dimension convention of [[distance3D]]). Puntal and
    * lineal inputs only — a 3D polygon's nearest point can lie in its
    * plate interior, which this vertex/segment walk cannot represent, so
    * areal inputs are rejected loudly rather than answered wrong. */
  private def nearestPair3D(ga: Geometry, gb: Geometry): (Coordinate, Coordinate) = {
    require(ga.getDimension <= 1 && gb.getDimension <= 1,
      "ST_3DClosestPoint/ST_3DShortestLine: puntal/lineal inputs only " +
        "(a flat-plate polygon's nearest point may be interior — use " +
        "ST_3DDistance for the distance, or the boundary for locations)")
    require(!ga.isEmpty && !gb.isEmpty, "3D nearest pair: empty input")
    @inline def z(c: Coordinate): Double = { val v = c.getZ; if (v.isNaN) 0.0 else v }
    def sub(p: Coordinate, q: Coordinate) = (p.x - q.x, p.y - q.y, z(p) - z(q))
    def d2(p: Coordinate, q: Coordinate): Double = {
      val (dx, dy, dz) = sub(p, q); dx * dx + dy * dy + dz * dz
    }
    def lerp(p: Coordinate, q: Coordinate, t: Double) =
      new CoordinateXYZM(p.x + (q.x - p.x) * t, p.y + (q.y - p.y) * t,
        z(p) + (z(q) - z(p)) * t, Double.NaN)
    // closest parameters between segments [a0,a1] and [b0,b1] — the
    // canonical clamped minimization (Ericson, Real-Time Collision
    // Detection §5.1.9, public standard algorithm)
    def segSeg(a0: Coordinate, a1: Coordinate,
               b0: Coordinate, b1: Coordinate): (Coordinate, Coordinate) = {
      @inline def clamp(v: Double) = math.max(0.0, math.min(1.0, v))
      val (ux, uy, uz) = sub(a1, a0); val (vx, vy, vz) = sub(b1, b0)
      val (wx, wy, wz) = sub(a0, b0)
      val a = ux * ux + uy * uy + uz * uz
      val b = ux * vx + uy * vy + uz * vz
      val c = vx * vx + vy * vy + vz * vz
      val d = ux * wx + uy * wy + uz * wz
      val e = vx * wx + vy * wy + vz * wz
      var s = 0.0
      var t = 0.0
      if (a == 0.0 && c == 0.0) { /* two points */ }
      else if (a == 0.0) { t = clamp(e / c) }
      else if (c == 0.0) { s = clamp(-d / a) }
      else {
        val den = a * c - b * b
        s = if (den != 0.0) clamp((b * e - c * d) / den) else 0.0
        val tNom = b * s + e
        if (tNom < 0.0) { t = 0.0; s = clamp(-d / a) }
        else if (tNom > c) { t = 1.0; s = clamp((b - d) / a) }
        else t = tNom / c
      }
      (lerp(a0, a1, s), lerp(b0, b1, t))
    }
    var best = Double.MaxValue
    var bp: Coordinate = null
    var bq: Coordinate = null
    def consider(p: Coordinate, q: Coordinate): Unit = {
      val dd = d2(p, q)
      if (dd < best) { best = dd; bp = p; bq = q }
    }
    def segments(g: Geometry): Seq[(Coordinate, Coordinate)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Coordinate, Coordinate)]
      def rec(x: Geometry): Unit = x match {
        case p: Point => if (!p.isEmpty) out += ((p.getCoordinate, p.getCoordinate))
        case l: LineString =>
          val cs = l.getCoordinates
          if (cs.length == 1) out += ((cs(0), cs(0)))
          else (1 until cs.length).foreach(i => out += ((cs(i - 1), cs(i))))
        case gc: GeometryCollection =>
          (0 until gc.getNumGeometries).foreach(i => rec(gc.getGeometryN(i)))
        case _ => ()
      }
      rec(g)
      out.toSeq
    }
    for ((a0, a1) <- segments(ga); (b0, b1) <- segments(gb))
      consider _ tupled segSeg(a0, a1, b0, b1)
    (bp, bq)
  }

  /** ST_3DClosestPoint(g1, g2): the point ON g1 nearest to g2 in the 3D
    * metric (the flat-plate polygon model of [[intersects3D]] applies). */
  def closestPoint3D(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    write(factory.createPoint(nearestPair3D(read(a), read(b))._1))

  /** ST_3DShortestLine(g1, g2): the 2-point line realizing the 3D
    * minimum distance, from g1's nearest point to g2's. */
  def shortestLine3D(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val (p, q) = nearestPair3D(read(a), read(b))
    write(factory.createLineString(Array(p.copy(), q.copy())))
  }

  // ── Z/M bounds + the measured (LRS) family (round 19) ────────────────
  // The engine's WKB carries Z and M end to end; these give M semantics
  // beyond roundtripping. Absent ordinates answer NaN — the ST_Z/ST_M
  // convention this registry already uses (and kernel-contract-safe:
  // every StaticInvoke is returnNullable = false), vs PostGIS's box3d
  // zero-default — a documented divergence.

  private def ordBound(b: Array[Byte], get: Coordinate => Double,
                       isMin: Boolean): Double = {
    var best = Double.NaN
    read(b).getCoordinates.foreach { c =>
      val v = get(c)
      if (!v.isNaN && (best.isNaN || (if (isMin) v < best else v > best))) best = v
    }
    best
  }
  def zMinOf(b: Array[Byte]): Double = ordBound(b, _.getZ, isMin = true)
  def zMaxOf(b: Array[Byte]): Double = ordBound(b, _.getZ, isMin = false)
  def mMinOf(b: Array[Byte]): Double = ordBound(b, _.getM, isMin = true)
  def mMaxOf(b: Array[Byte]): Double = ordBound(b, _.getM, isMin = false)

  /** ST_Force3D(g[, z]): stamp a Z (default 0) on every coordinate that
    * lacks one; existing Z values are kept (PostGIS semantics). */
  def force3D(b: Array[Byte], z: Double): Array[Byte] = {
    val ed = new org.locationtech.jts.geom.util.GeometryEditor(factory)
    write(ed.edit(read(b), new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
      override def edit(coords: Array[Coordinate], geometry: Geometry): Array[Coordinate] =
        coords.map { c =>
          if (c.getZ.isNaN) new Coordinate(c.x, c.y, z)
          else new Coordinate(c.x, c.y, c.getZ)
        }
    }))
  }

  // measured geometry builders: the default CoordinateArraySequence has
  // measures = 0, so writeDim's sequence-level hasM probe would drop M —
  // an explicit (dim, measures) sequence keeps it
  private def measuredSeq(cs: Array[Coordinate]): CoordinateSequence = {
    // normalize the coordinate CLASS to the sequence's (dim, measures):
    // in an XYM sequence getOrdinate(i, 2) must be M, which a stray
    // CoordinateXYZM would answer with Z
    val anyZ = cs.exists(c => !c.getZ.isNaN)
    val norm: Array[Coordinate] =
      if (anyZ) cs.map(c => new org.locationtech.jts.geom.CoordinateXYZM(
        c.x, c.y, c.getZ, c.getM))
      else cs.map(c => new CoordinateXYM(c.x, c.y, c.getM))
    new org.locationtech.jts.geom.impl.CoordinateArraySequence(
      norm, if (anyZ) 4 else 3, 1)
  }
  private def measuredLine(cs: Array[Coordinate]): LineString =
    factory.createLineString(measuredSeq(cs))
  private def measuredPoint(c: Coordinate): Point =
    factory.createPoint(measuredSeq(Array(c)))

  /** ST_LocateAlong(g, m): the locations on a MEASURED geometry whose
    * interpolated M equals `m` — (multi)point in, matching points out;
    * (multi)line in, one interpolated point per segment crossing the
    * measure (constant-measure segments matching exactly contribute
    * their start vertex). Returns MULTIPOINT (EMPTY when nothing
    * matches; segments without M are skipped). */
  def locateAlong(b: Array[Byte], m: Double): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
    def interp(c1: Coordinate, c2: Coordinate, t: Double): Coordinate = {
      val z =
        if (c1.getZ.isNaN || c2.getZ.isNaN) Double.NaN
        else c1.getZ + (c2.getZ - c1.getZ) * t
      val c = new org.locationtech.jts.geom.CoordinateXYZM(
        c1.x + (c2.x - c1.x) * t, c1.y + (c2.y - c1.y) * t, z, m)
      c
    }
    def walk(g: Geometry): Unit = g match {
      case p: Point if !p.isEmpty && p.getCoordinate.getM == m => out += p.getCoordinate
      case l: LineString =>
        val cs = l.getCoordinates
        var i = 1
        while (i < cs.length) {
          val (m1, m2) = (cs(i - 1).getM, cs(i).getM)
          if (!m1.isNaN && !m2.isNaN) {
            if (m1 == m2) { if (m == m1) out += cs(i - 1) }
            else {
              val t = (m - m1) / (m2 - m1)
              if (t >= 0.0 && t <= 1.0) out += interp(cs(i - 1), cs(i), t)
            }
          }
          i += 1
        }
      case c: GeometryCollection =>
        (0 until c.getNumGeometries).foreach(i => walk(c.getGeometryN(i)))
      case _ =>
    }
    walk(read(b))
    // consecutive duplicates (a measure hit exactly at a shared vertex)
    val dedup = out.foldLeft(Vector.empty[Coordinate]) {
      case (acc, c) if acc.nonEmpty && acc.last.equals2D(c) => acc
      case (acc, c) => acc :+ c
    }
    write(factory.createMultiPoint(dedup.map(measuredPoint).toArray))
  }

  /** ST_LocateBetween(g, m1, m2): the sub-geometry whose measures lie in
    * [m1, m2] — points filter, lines clip per segment with interpolated
    * cut coordinates (M linear along each segment, the LRS convention).
    * Line input returns MULTILINESTRING of the clipped pieces
    * (single-point touches are dropped, documented); point input returns
    * MULTIPOINT. */
  def locateBetween(b: Array[Byte], mLo: Double, mHi: Double): Array[Byte] = {
    require(mLo <= mHi, s"ST_LocateBetween: range [$mLo, $mHi] inverted")
    val g = read(b)
    if (g.getDimension == 0) {
      val keep = (0 until g.getNumGeometries).map(g.getGeometryN).collect {
        case p: Point if !p.isEmpty && !p.getCoordinate.getM.isNaN &&
          p.getCoordinate.getM >= mLo && p.getCoordinate.getM <= mHi => p
      }
      return write(factory.createMultiPoint(keep.toArray))
    }
    val pieces = scala.collection.mutable.ArrayBuffer.empty[LineString]
    def interp(c1: Coordinate, c2: Coordinate, t: Double): Coordinate = {
      val z = if (c1.getZ.isNaN || c2.getZ.isNaN) Double.NaN
              else c1.getZ + (c2.getZ - c1.getZ) * t
      new org.locationtech.jts.geom.CoordinateXYZM(
        c1.x + (c2.x - c1.x) * t, c1.y + (c2.y - c1.y) * t, z,
        c1.getM + (c2.getM - c1.getM) * t)
    }
    def walk(geom: Geometry): Unit = geom match {
      case l: LineString =>
        val cs = l.getCoordinates
        var run = Vector.empty[Coordinate]
        def flush(): Unit = {
          if (run.length >= 2) pieces += measuredLine(run.toArray)
          run = Vector.empty
        }
        var i = 1
        while (i < cs.length) {
          val (a, c) = (cs(i - 1), cs(i))
          val (m1, m2) = (a.getM, c.getM)
          if (m1.isNaN || m2.isNaN) flush()
          else {
            // parameter interval of the segment with m(t) ∈ [mLo, mHi]
            val (t0, t1) =
              if (m1 == m2) { if (m1 >= mLo && m1 <= mHi) (0.0, 1.0) else (1.0, 0.0) }
              else {
                val ta = (mLo - m1) / (m2 - m1); val tb = (mHi - m1) / (m2 - m1)
                (math.max(0.0, math.min(ta, tb)), math.min(1.0, math.max(ta, tb)))
              }
            if (t0 > t1) flush() // segment entirely outside
            else {
              val p0 = if (t0 == 0.0) a else interp(a, c, t0)
              val p1 = if (t1 == 1.0) c else interp(a, c, t1)
              if (run.isEmpty) run = Vector(p0)
              else if (!run.last.equals2D(p0)) { flush(); run = Vector(p0) }
              if (!p0.equals2D(p1)) run = run :+ p1
              if (t1 < 1.0) flush() // piece ends mid-segment
            }
          }
          i += 1
        }
        flush()
      case c: GeometryCollection =>
        (0 until c.getNumGeometries).foreach(i => walk(c.getGeometryN(i)))
      case _ =>
    }
    walk(g)
    write(factory.createMultiLineString(pieces.toArray))
  }

  /** ST_AddMeasure(line, m0, m1): stamp M linearly interpolated by 2D
    * length from m0 at the start to m1 at the end — CONTINUOUS across
    * MultiLineString components, proportional to cumulative length (the
    * PostGIS contract; existing measures are discarded, Z is kept). A
    * zero-length input stamps m0 everywhere. The inverse pair of
    * ST_LocateAlong/ST_LineLocatePoint for building LRS columns. */
  def addMeasure(b: Array[Byte], m0: Double, m1: Double): Array[Byte] = {
    val g = read(b)
    val lines: Seq[LineString] = g match {
      case l: LineString => Seq(l)
      case m: MultiLineString =>
        (0 until m.getNumGeometries).map(m.getGeometryN(_).asInstanceOf[LineString])
      case other => throw new IllegalArgumentException(
        s"ST_AddMeasure: expected (Multi)LineString, got ${other.getGeometryType}")
    }
    val total = lines.map(_.getLength).sum
    var acc = 0.0
    def stamp(l: LineString): LineString = {
      val cs = l.getCoordinates
      val out = new Array[Coordinate](cs.length)
      var i = 0
      while (i < cs.length) {
        if (i > 0) acc += cs(i).distance(cs(i - 1))
        val m = if (total == 0.0) m0 else m0 + (m1 - m0) * (acc / total)
        val c = cs(i)
        out(i) = if (c.getZ.isNaN) new CoordinateXYM(c.x, c.y, m)
        else new org.locationtech.jts.geom.CoordinateXYZM(c.x, c.y, c.getZ, m)
        i += 1
      }
      measuredLine(out)
    }
    val stamped = lines.map(stamp)
    write(g match {
      case _: LineString => stamped.head
      case _ => factory.createMultiLineString(stamped.toArray)
    })
  }

  /** ST_InterpolatePoint(line, point): the measure of the line at its
    * closest approach to `point` — M linearly interpolated inside the
    * host segment (PostGIS semantics). The line must carry measures on
    * the host segment's endpoints; nearest component wins for multis. */
  def interpolatePoint(b: Array[Byte], ptB: Array[Byte]): Double = {
    val g = read(b)
    val pt = read(ptB)
    require(g.getDimension == 1, "ST_InterpolatePoint: first input must be lineal")
    require(pt.isInstanceOf[Point] && !pt.isEmpty,
      "ST_InterpolatePoint: second input must be a POINT")
    val comps = (0 until g.getNumGeometries).map(g.getGeometryN)
    val host = comps.minBy(_.distance(pt))
    val lil = new org.locationtech.jts.linearref.LocationIndexedLine(host)
    val loc = lil.project(pt.getCoordinate)
    val seg = loc.getSegment(host)
    val m0 = seg.p0.getM; val m1 = seg.p1.getM
    require(!m0.isNaN && !m1.isNaN,
      "ST_InterpolatePoint: line has no measure at the nearest segment")
    // end-of-line locations sit AT the last point (segmentIndex = n−1,
    // fraction 0) while getSegment answers the LAST segment — that
    // location means fraction 1 of it, not 0
    val frac =
      if (loc.getSegmentIndex >= host.getNumPoints - 1) 1.0
      else math.max(0.0, math.min(1.0, loc.getSegmentFraction))
    m0 + (m1 - m0) * frac
  }

  // ── trajectories: M as time (round 19 — the PostGIS CPA quartet) ─────
  // A trajectory is a LINESTRING M with strictly increasing measures;
  // closest point of approach treats each track as piecewise-LINEAR
  // MOTION in time and minimizes the quadratic |Δp(t)|² per overlapping
  // segment pair — closed form, no sampling. Disjoint time ranges answer
  // NaN (the registry's no-value convention; PostGIS returns NULL).

  def isValidTrajectory(b: Array[Byte]): Boolean = read(b) match {
    case l: LineString if l.getNumPoints >= 2 =>
      val cs = l.getCoordinates
      var i = 0
      var ok = true
      while (ok && i < cs.length) {
        val m = cs(i).getM
        if (m.isNaN || (i > 0 && m <= cs(i - 1).getM)) ok = false
        i += 1
      }
      ok
    case _ => false
  }

  /** (time of closest approach, squared distance) over the common time
    * interval, or null when the tracks don't overlap in time. */
  private def cpaCore(a: Array[Byte], b: Array[Byte]): (Double, Double) = {
    val r = cpaSweep(a, b)
    if (r == null) null else (r._1, r._2)
  }

  /** The CPA kernel as a TIME-ORDERED CO-WALK: measures are strictly
    * increasing (validated below), so segment time spans on each track
    * are sorted and disjoint — advancing whichever current segment ends
    * first visits exactly the time-OVERLAPPING pairs in O(n+m), never
    * the O(n·m) all-pairs product (two 100k-point tracks: ~2·10⁵ pair
    * visits instead of 10¹⁰). Per visited pair the quadratic |Δp(t)|² is
    * minimized in closed form, identical to the all-pairs formulation —
    * non-overlapping pairs contribute nothing there, so the sweep is
    * result-bit-equal. Returns (bestT, bestD2, pairVisits); the visit
    * count is package-visible evidence for the complexity spec. */
  private[graft] def cpaSweep(a: Array[Byte], b: Array[Byte]): (Double, Double, Long) = {
    def track(bytes: Array[Byte]): Array[Coordinate] = read(bytes) match {
      case l: LineString if l.getNumPoints >= 2 =>
        val cs = l.getCoordinates
        require(cs.forall(c => !c.getM.isNaN) &&
          cs.sliding(2).forall { case Array(p, q) => q.getM > p.getM },
          "CPA: input is not a valid trajectory (LINESTRING M, strictly " +
            "increasing measures — check ST_IsValidTrajectory)")
        cs
      case _ => throw new IllegalArgumentException(
        "CPA: input is not a valid trajectory (LINESTRING M with >= 2 points)")
    }
    val ca = track(a); val cb = track(b)
    val lo = math.max(ca.head.getM, cb.head.getM)
    val hi = math.min(ca.last.getM, cb.last.getM)
    if (lo > hi) return null
    // position linear in t inside each segment; co-walk overlapping pairs
    var bestD2 = Double.MaxValue
    var bestT = lo
    var visits = 0L
    var i = 0
    var j = 0
    while (i < ca.length - 1 && j < cb.length - 1) {
      val (a0, a1) = (ca(i), ca(i + 1)); val (b0, b1) = (cb(j), cb(j + 1))
      val s0 = math.max(math.max(a0.getM, b0.getM), lo)
      val s1 = math.min(math.min(a1.getM, b1.getM), hi)
      if (s0 <= s1) {
        visits += 1
        val va = ((a1.x - a0.x) / (a1.getM - a0.getM),
                  (a1.y - a0.y) / (a1.getM - a0.getM))
        val vb = ((b1.x - b0.x) / (b1.getM - b0.getM),
                  (b1.y - b0.y) / (b1.getM - b0.getM))
        def posA(t: Double) = (a0.x + va._1 * (t - a0.getM), a0.y + va._2 * (t - a0.getM))
        def posB(t: Double) = (b0.x + vb._1 * (t - b0.getM), b0.y + vb._2 * (t - b0.getM))
        val (dx0, dy0) = { val (ax, ay) = posA(s0); val (bx, by) = posB(s0); (ax - bx, ay - by) }
        val (dvx, dvy) = (va._1 - vb._1, va._2 - vb._2)
        val dv2 = dvx * dvx + dvy * dvy
        val tStar =
          if (dv2 == 0.0) s0
          else math.max(s0, math.min(s1, s0 - (dx0 * dvx + dy0 * dvy) / dv2))
        Seq(s0, s1, tStar).foreach { t =>
          val (ax, ay) = posA(t); val (bx, by) = posB(t)
          val d2 = (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
          if (d2 < bestD2 || (d2 == bestD2 && t < bestT)) { bestD2 = d2; bestT = t }
        }
      }
      // advance the lagging pointer: the segment whose span ENDS first
      // can overlap nothing later on the other track
      if (a1.getM <= b1.getM) i += 1 else j += 1
    }
    (bestT, bestD2, visits)
  }

  /** ST_ClosestPointOfApproach: the measure (time) at which the two
    * trajectories are closest; NaN when they share no time interval. */
  def closestPointOfApproach(a: Array[Byte], b: Array[Byte]): Double = {
    val r = cpaCore(a, b)
    if (r == null) Double.NaN else r._1
  }

  /** ST_DistanceCPA: the distance at the closest point of approach; NaN
    * when the tracks share no time interval. */
  def distanceCPA(a: Array[Byte], b: Array[Byte]): Double = {
    val r = cpaCore(a, b)
    if (r == null) Double.NaN else math.sqrt(r._2)
  }

  /** ST_CPAWithin: true iff the tracks come within `d` of each other at
    * some SHARED time (false when they never overlap in time — NaN
    * compares false, matching the PostGIS null-ish behavior). */
  def cpaWithin(a: Array[Byte], b: Array[Byte], d: Double): Boolean = {
    val r = cpaCore(a, b)
    r != null && math.sqrt(r._2) <= d
  }

  // ── max distance / longest line / point generation (round 19) ────────

  /** |p−q| is convex in each argument along segments, so the max over
    * two geometries is attained at a CONVEX HULL vertex pair — each side
    * reduces to its hull (JTS quickhull, O(n log n)) before the pair
    * scan, turning a million-vertex coastline's O(n·m) vertex product
    * into O(n log n + h₁·h₂) with h ≪ n for real data. Deterministic
    * first-winner tie-break in hull traversal order. */
  private def farthestPair(a: Geometry, b: Geometry): (Coordinate, Coordinate) = {
    require(!a.isEmpty && !b.isEmpty, "max distance: empty input")
    def hull(g: Geometry): Array[Coordinate] = {
      val cs = g.getCoordinates
      if (cs.length <= 8) cs // below hull overhead
      else {
        val h = new org.locationtech.jts.algorithm.ConvexHull(g).getConvexHull
        val hc = h.getCoordinates
        // polygon hulls close the ring — drop the duplicate last vertex
        if (hc.length > 1 && hc(0).equals2D(hc(hc.length - 1))) hc.dropRight(1)
        else hc
      }
    }
    val ca = hull(a); val cb = hull(b)
    var best = -1.0
    var bi = 0; var bj = 0
    var i = 0
    while (i < ca.length) {
      var j = 0
      while (j < cb.length) {
        val dx = ca(i).x - cb(j).x; val dy = ca(i).y - cb(j).y
        val d = dx * dx + dy * dy
        if (d > best) { best = d; bi = i; bj = j }
        j += 1
      }
      i += 1
    }
    (ca(bi), cb(bj))
  }

  /** ST_MaxDistance(g1, g2): the largest 2D distance between any point of
    * g1 and any point of g2 (PostGIS semantics; self-pair gives a
    * geometry's diameter). */
  def maxDistance(a: Array[Byte], b: Array[Byte]): Double = {
    val (p, q) = farthestPair(read(a), read(b))
    math.hypot(p.x - q.x, p.y - q.y)
  }

  /** ST_DFullyWithin(g1, g2, d): is EVERY point of each geometry within
    * `d` of every point of the other — max pairwise distance ≤ d (the
    * PostGIS contract; the complement of ST_DWithin's min-distance
    * test). Rides [[farthestPair]]'s hull-filtered vertex scan. */
  def dFullyWithin(a: Array[Byte], b: Array[Byte], d: Double): Boolean = {
    require(d >= 0.0, s"ST_DFullyWithin: distance $d must be >= 0")
    maxDistance(a, b) <= d
  }

  /** ST_Expand(g, dx[, dy]): the envelope grown by dx/dy on each side,
    * as a POLYGON (negative deltas shrink; a fully collapsed box answers
    * POLYGON EMPTY) — the bbox pre-filter constructor PostGIS pairs with
    * ST_DWithin. */
  def expand(b: Array[Byte], d: Double): Array[Byte] = expandXY(b, d, d)
  def expandXY(b: Array[Byte], dx: Double, dy: Double): Array[Byte] = {
    val g = read(b)
    if (g.isEmpty) return write(factory.createPolygon())
    val e = g.getEnvelopeInternal
    val xmin = e.getMinX - dx; val xmax = e.getMaxX + dx
    val ymin = e.getMinY - dy; val ymax = e.getMaxY + dy
    if (xmin > xmax || ymin > ymax) return write(factory.createPolygon())
    write(factory.toGeometry(new Envelope(xmin, xmax, ymin, ymax)))
  }

  /** ST_LineExtend(line, distForward[, distBackward]): extend the last
    * segment's bearing by distForward past the end vertex and the first
    * segment's bearing by distBackward before the start (PostGIS 3.4).
    * Zero-length extensions leave that end untouched. */
  def lineExtend(b: Array[Byte], distForward: Double): Array[Byte] =
    lineExtendBoth(b, distForward, 0.0)
  def lineExtendBoth(b: Array[Byte], distForward: Double,
                     distBackward: Double): Array[Byte] = {
    require(distForward >= 0.0 && distBackward >= 0.0,
      s"ST_LineExtend: distances ($distForward, $distBackward) must be >= 0")
    val line = read(b) match {
      case l: LineString if l.getNumPoints >= 2 => l
      case other => throw new IllegalArgumentException(
        s"ST_LineExtend: LINESTRING with >= 2 points required, got ${other.getGeometryType}")
    }
    val cs = line.getCoordinates.map(_.copy())
    def unit(p: Coordinate, q: Coordinate): (Double, Double) = {
      val len = math.hypot(q.x - p.x, q.y - p.y)
      require(len > 0.0, "ST_LineExtend: end segment has zero length")
      ((q.x - p.x) / len, (q.y - p.y) / len)
    }
    if (distForward > 0.0) {
      val (ux, uy) = unit(cs(cs.length - 2), cs(cs.length - 1))
      val e = cs(cs.length - 1)
      cs(cs.length - 1) = new Coordinate(e.x + ux * distForward, e.y + uy * distForward)
    }
    if (distBackward > 0.0) {
      val (ux, uy) = unit(cs(1), cs(0))
      val s = cs(0)
      cs(0) = new Coordinate(s.x + ux * distBackward, s.y + uy * distBackward)
    }
    write(factory.createLineString(cs))
  }

  /** ST_Points(g): every vertex as a MULTIPOINT, duplicates preserved in
    * traversal order (the PostGIS contract — ring closures repeat). */
  def points(b: Array[Byte]): Array[Byte] = {
    val g = read(b)
    write(factory.createMultiPointFromCoords(g.getCoordinates))
  }

  /** ST_DumpSegments(g): every 2-point segment of the input's linework
    * (LineString runs and polygon rings, traversal order) as a
    * MULTILINESTRING — the scalar face of PostGIS's set-returning dump
    * (explode with ST_Dump for the row-per-segment form). */
  def dumpSegments(b: Array[Byte]): Array[Byte] = {
    val segs = Vector.newBuilder[LineString]
    def seq(cs: Array[Coordinate]): Unit = {
      var i = 1
      while (i < cs.length) {
        segs += factory.createLineString(Array(cs(i - 1).copy(), cs(i).copy()))
        i += 1
      }
    }
    def rec(g: Geometry): Unit = g match {
      case l: LineString => seq(l.getCoordinates)
      case p: Polygon =>
        seq(p.getExteriorRing.getCoordinates)
        (0 until p.getNumInteriorRing).foreach(i => seq(p.getInteriorRingN(i).getCoordinates))
      case c: GeometryCollection =>
        (0 until c.getNumGeometries).foreach(i => rec(c.getGeometryN(i)))
      case _ => () // points carry no segments
    }
    rec(read(b))
    write(factory.createMultiLineString(segs.result().toArray))
  }

  /** ST_DumpRings(g): each polygon's rings as POLYGONs — shell first,
    * then every hole as its own (hole-free) polygon, in ring order —
    * returned as a GEOMETRYCOLLECTION (explode with ST_Dump for rows).
    * Polygonal input only, the PostGIS contract. */
  def dumpRings(b: Array[Byte]): Array[Byte] = {
    val out = Vector.newBuilder[Geometry]
    def rec(g: Geometry): Unit = g match {
      case p: Polygon if !p.isEmpty =>
        out += factory.createPolygon(p.getExteriorRing.getCoordinates)
        (0 until p.getNumInteriorRing).foreach { i =>
          out += factory.createPolygon(p.getInteriorRingN(i).getCoordinates)
        }
      case p: Polygon => ()
      case mp: MultiPolygon =>
        (0 until mp.getNumGeometries).foreach(i => rec(mp.getGeometryN(i)))
      case other => throw new IllegalArgumentException(
        s"ST_DumpRings: polygonal input required, got ${other.getGeometryType}")
    }
    rec(read(b))
    write(factory.createGeometryCollection(out.result().toArray))
  }

  /** ST_FilterByM(g, min, max): keep only vertices whose M lies in
    * [min, max] — puntal/lineal input (the PostGIS contract). Lines left
    * with < 2 vertices collapse to LINESTRING EMPTY (dropped from
    * multis); vertices WITHOUT an M never pass. */
  def filterByM(b: Array[Byte], mMin: Double, mMax: Double): Array[Byte] = {
    require(mMin <= mMax, s"ST_FilterByM: min $mMin must be <= max $mMax")
    val g = read(b)
    require(g.getDimension <= 1,
      s"ST_FilterByM: puntal/lineal input required, got ${g.getGeometryType}")
    def keep(c: Coordinate): Boolean = {
      val m = c.getM; !m.isNaN && m >= mMin && m <= mMax
    }
    def line(l: LineString): LineString = {
      val cs = l.getCoordinates.filter(keep)
      if (cs.length < 2) factory.createLineString()
      else factory.createLineString(cs.map(_.copy()))
    }
    val res: Geometry = g match {
      case p: Point => if (!p.isEmpty && keep(p.getCoordinate)) p else factory.createPoint()
      case mp: MultiPoint =>
        factory.createMultiPointFromCoords(mp.getCoordinates.filter(keep).map(_.copy()))
      case l: LineString => line(l)
      case ml: MultiLineString =>
        val kept = (0 until ml.getNumGeometries)
          .map(i => line(ml.getGeometryN(i).asInstanceOf[LineString]))
          .filterNot(_.isEmpty)
        factory.createMultiLineString(kept.toArray)
      case gc: GeometryCollection =>
        val parts = (0 until gc.getNumGeometries)
          .map(i => read(filterByM(write(gc.getGeometryN(i)), mMin, mMax)))
          .filterNot(_.isEmpty)
        factory.createGeometryCollection(parts.toArray)
    }
    write(res)
  }

  /** ST_Hexagon(size, cellI, cellJ[, origin]): the (i, j) cell of the
    * FLAT-TOPPED hexagon tiling with circumradius `size` PostGIS's
    * ST_HexagonGrid uses — centers at
    * (origin.x + 1.5·size·i, origin.y + √3·size·(j + (i odd ? 0.5 : 0))),
    * vertices at the center ± size·{(±1, 0), (±0.5, ±√3/2)}. */
  def hexagon(size: Double, cellI: Int, cellJ: Int, originB: Array[Byte]): Array[Byte] = {
    require(size > 0.0, s"ST_Hexagon: size $size must be > 0")
    val o = read(originB) match {
      case p: Point if !p.isEmpty => p.getCoordinate
      case other => throw new IllegalArgumentException(
        s"ST_Hexagon: POINT origin required, got ${other.getGeometryType}")
    }
    val h = math.sqrt(3.0) / 2.0
    val cx = o.x + 1.5 * size * cellI
    val cy = o.y + math.sqrt(3.0) * size * (cellJ + (if ((cellI & 1) != 0) 0.5 else 0.0))
    val vs = Array((-1.0, 0.0), (-0.5, -h), (0.5, -h), (1.0, 0.0), (0.5, h), (-0.5, h))
    val ring = (vs :+ vs.head).map { case (vx, vy) =>
      new Coordinate(cx + vx * size, cy + vy * size)
    }
    write(factory.createPolygon(ring))
  }
  def hexagonAtOrigin(size: Double, cellI: Int, cellJ: Int): Array[Byte] =
    hexagon(size, cellI, cellJ, write(factory.createPoint(new Coordinate(0, 0))))

  /** ST_Square(size, cellI, cellJ[, origin]): the (i, j) cell of the
    * size-aligned square tiling anchored at `origin` (PostGIS
    * ST_SquareGrid addressing): corners (origin + size·(i, j)) to
    * (origin + size·(i+1, j+1)). */
  def square(size: Double, cellI: Int, cellJ: Int, originB: Array[Byte]): Array[Byte] = {
    require(size > 0.0, s"ST_Square: size $size must be > 0")
    val o = read(originB) match {
      case p: Point if !p.isEmpty => p.getCoordinate
      case other => throw new IllegalArgumentException(
        s"ST_Square: POINT origin required, got ${other.getGeometryType}")
    }
    write(factory.toGeometry(new Envelope(
      o.x + size * cellI, o.x + size * (cellI + 1),
      o.y + size * cellJ, o.y + size * (cellJ + 1))))
  }
  def squareAtOrigin(size: Double, cellI: Int, cellJ: Int): Array[Byte] =
    square(size, cellI, cellJ, write(factory.createPoint(new Coordinate(0, 0))))

  /** ST_SquareGrid(size, g): every origin-anchored square cell whose
    * index rectangle covers g's envelope — array of (i, j, geom) structs
    * for LATERAL VIEW explode (the Spark face of PostGIS's set-returning
    * grid): i ∈ [floor(xmin/size), ceil(xmax/size)−1] and likewise j, so
    * an envelope spanning exactly nx×ny aligned cells yields nx·ny rows.
    * The tessellation feed for binning non-point geometries into
    * cell-keyed joins. Emission is bounded: > 4,194,304 cells per row
    * throws (use a coarser size — a single row must not OOM a task). */
  def squareGrid(size: Double, b: Array[Byte]): ArrayData = {
    require(size > 0.0, s"ST_SquareGrid: size $size must be > 0")
    val g = read(b)
    if (g.isEmpty) return new GenericArrayData(Array.empty[Any])
    val e = g.getEnvelopeInternal
    val i0 = math.floor(e.getMinX / size).toLong
    val i1 = math.max(i0, math.ceil(e.getMaxX / size).toLong - 1)
    val j0 = math.floor(e.getMinY / size).toLong
    val j1 = math.max(j0, math.ceil(e.getMaxY / size).toLong - 1)
    val n = (i1 - i0 + 1) * (j1 - j0 + 1)
    require(n <= 4194304,
      s"ST_SquareGrid: $n cells for one row (bounds $e, size $size) — use a coarser size")
    val out = new Array[Any](n.toInt)
    var idx = 0
    var i = i0
    while (i <= i1) {
      var j = j0
      while (j <= j1) {
        out(idx) = new GenericInternalRow(Array[Any](i.toInt, j.toInt,
          squareAtOrigin(size, i.toInt, j.toInt)))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** ST_HexagonGrid(size, g): every flat-topped hexagon cell (the
    * [[hexagon]] tiling, circumradius `size`) whose center-index range
    * covers g's envelope, padded one cell outward so every point of the
    * envelope is inside some emitted hexagon — array of (i, j, geom)
    * structs for explode. Same 4,194,304-cell bound as the square grid. */
  def hexagonGrid(size: Double, b: Array[Byte]): ArrayData = {
    require(size > 0.0, s"ST_HexagonGrid: size $size must be > 0")
    val g = read(b)
    if (g.isEmpty) return new GenericArrayData(Array.empty[Any])
    val e = g.getEnvelopeInternal
    val vs = math.sqrt(3.0) * size // vertical center spacing
    val i0 = math.floor(e.getMinX / (1.5 * size)).toLong - 1
    val i1 = math.ceil(e.getMaxX / (1.5 * size)).toLong + 1
    val j0 = math.floor(e.getMinY / vs).toLong - 1
    val j1 = math.ceil(e.getMaxY / vs).toLong + 1
    val n = (i1 - i0 + 1) * (j1 - j0 + 1)
    require(n <= 4194304,
      s"ST_HexagonGrid: $n cells for one row (bounds $e, size $size) — use a coarser size")
    val out = new Array[Any](n.toInt)
    var idx = 0
    var i = i0
    while (i <= i1) {
      var j = j0
      while (j <= j1) {
        out(idx) = new GenericInternalRow(Array[Any](i.toInt, j.toInt,
          hexagonAtOrigin(size, i.toInt, j.toInt)))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** ST_LongestLine(g1, g2): the 2-point line realizing [[maxDistance]],
    * from g1's vertex to g2's. */
  def longestLine(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val (p, q) = farthestPair(read(a), read(b))
    write(factory.createLineString(Array(
      new Coordinate(p.x, p.y), new Coordinate(q.x, q.y))))
  }

  /** ST_GeneratePoints(g, n, seed): n uniform points inside an areal
    * geometry — SEEDED rejection sampling from the envelope, so the
    * result is deterministic across runs/partitions (the PostGIS 3-arg
    * form; the unseeded 2-arg variant is deliberately not offered — a
    * nondeterministic kernel breaks retries and the oracle gate). The
    * rejection loop is bounded: after 10000·n misses (acceptance below
    * ~0.01%, e.g. a degenerate sliver) it fails loudly instead of
    * spinning. */
  def generatePoints(b: Array[Byte], n: Int, seed: Long): Array[Byte] = {
    require(n >= 0 && n <= 10000000,
      s"ST_GeneratePoints: n $n outside [0, 10,000,000]")
    val g = read(b)
    require(g.getDimension == 2 && !g.isEmpty,
      "ST_GeneratePoints: input must be a non-empty areal geometry")
    val e = g.getEnvelopeInternal
    val rnd = new java.util.Random(seed)
    val out = new Array[Point](n)
    val loc = new org.locationtech.jts.algorithm.locate.IndexedPointInAreaLocator(g)
    var made = 0
    var tries = 0L
    val maxTries = 10000L * math.max(1, n)
    while (made < n) {
      val x = e.getMinX + rnd.nextDouble() * e.getWidth
      val y = e.getMinY + rnd.nextDouble() * e.getHeight
      tries += 1
      if (loc.locate(new Coordinate(x, y)) !=
          org.locationtech.jts.geom.Location.EXTERIOR) {
        out(made) = factory.createPoint(new Coordinate(x, y))
        made += 1
      } else require(tries < maxTries,
        s"ST_GeneratePoints: acceptance collapsed ($made/$n after $tries draws) — " +
          "degenerate areal input")
    }
    write(factory.createMultiPoint(out))
  }

  // ── PostGIS editing/analysis parity (round 19) ────────────────────────

  /** ST_Snap: vertices/segments of `a` within `tol` of `ref`'s vertices
    * snap onto them (JTS GeometrySnapper — the GEOS kernel PostGIS wraps). */
  def snap(a: Array[Byte], ref: Array[Byte], tol: Double): Array[Byte] =
    write(org.locationtech.jts.operation.overlay.snap.GeometrySnapper
      .snap(read(a), read(ref), tol)(0))

  /** ST_CollectionExtract(g, dim): members of the requested dimension
    * (PostGIS codes — 1 point, 2 line, 3 polygon), recursively, returned
    * as the matching Multi type (EMPTY when none). Atomic inputs of the
    * right dimension pass through wrapped. */
  def collectionExtract(b: Array[Byte], dim: Int): Array[Byte] = {
    require(dim >= 1 && dim <= 3,
      s"ST_CollectionExtract: dimension code $dim (1=point, 2=line, 3=polygon)")
    val g = read(b)
    val out = scala.collection.mutable.ArrayBuffer.empty[Geometry]
    def rec(x: Geometry): Unit = x match {
      case c: GeometryCollection =>
        var i = 0
        while (i < c.getNumGeometries) { rec(c.getGeometryN(i)); i += 1 }
      case p: Point if dim == 1 && !p.isEmpty => out += p
      case l: LineString if dim == 2 && !l.isEmpty => out += l
      case p: Polygon if dim == 3 && !p.isEmpty => out += p
      case _ =>
    }
    rec(g)
    write(dim match {
      case 1 => factory.createMultiPoint(out.map(_.asInstanceOf[Point]).toArray)
      case 2 => factory.createMultiLineString(out.map(_.asInstanceOf[LineString]).toArray)
      case _ => factory.createMultiPolygon(out.map(_.asInstanceOf[Polygon]).toArray)
    })
  }

  /** ST_BoundingDiagonal: the LineString from the envelope's min corner
    * to its max corner (empty input → LINESTRING EMPTY, the PostGIS
    * null-ish degenerate). */
  def boundingDiagonal(b: Array[Byte]): Array[Byte] = {
    val e = read(b).getEnvelopeInternal
    if (e.isNull) write(factory.createLineString())
    else write(factory.createLineString(Array(
      new Coordinate(e.getMinX, e.getMinY), new Coordinate(e.getMaxX, e.getMaxY))))
  }

  /** planar azimuth in radians, clockwise from north (the ST_Azimuth
    * convention shared by [[azimuth]]) — helper for [[angle]]. */
  private def planarAz(x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val a = math.atan2(x2 - x1, y2 - y1)
    if (a < 0) a + 2 * math.Pi else a
  }

  /** ST_Angle(P1, P2, P3): the angle at P2 swept CLOCKWISE from ray
    * P2→P1 to ray P2→P3, in [0, 2π) — the PostGIS convention
    * (ST_Angle(P1,P2,P3) = ST_Angle(P2,P1, P2,P3)). */
  def angle3(p1: Array[Byte], p2: Array[Byte], p3: Array[Byte]): Double = {
    val a = read(p1).getCoordinate; val b = read(p2).getCoordinate
    val c = read(p3).getCoordinate
    val d = planarAz(b.x, b.y, c.x, c.y) - planarAz(b.x, b.y, a.x, a.y)
    if (d < 0) d + 2 * math.Pi else d
  }

  /** ST_Angle(P1, P2, P3, P4): clockwise angle from the direction P1→P2
    * to the direction P3→P4, in [0, 2π). */
  def angle4(p1: Array[Byte], p2: Array[Byte],
             p3: Array[Byte], p4: Array[Byte]): Double = {
    val a = read(p1).getCoordinate; val b = read(p2).getCoordinate
    val c = read(p3).getCoordinate; val d0 = read(p4).getCoordinate
    val d = planarAz(c.x, c.y, d0.x, d0.y) - planarAz(a.x, a.y, b.x, b.y)
    if (d < 0) d + 2 * math.Pi else d
  }

  /** ST_Split(input, blade) — the PostGIS splitter for the supported
    * pairs: line by point/multipoint (cut at points ON the line), line by
    * line/polygon-boundary (noded pieces), polygon/multipolygon by line
    * (polygonize boundary ∪ blade, keep faces inside the input). Returns
    * a GeometryCollection of the pieces; an input the blade misses comes
    * back as a single-member collection (PostGIS behavior). */
  def split(input: Array[Byte], blade: Array[Byte]): Array[Byte] = {
    val g = read(input)
    val bl = read(blade)
    def collect(parts: Seq[Geometry]): Array[Byte] =
      write(factory.createGeometryCollection(parts.toArray))
    (g, bl) match {
      case (line, pts) if line.getDimension == 1 && pts.getDimension == 0 =>
        // cut each component at blade points that lie on it — exact
        // (PostGIS does not snap either; use ST_Snap first if needed)
        val pieces = scala.collection.mutable.ArrayBuffer.empty[Geometry]
        (0 until line.getNumGeometries).foreach { i =>
          val comp = line.getGeometryN(i).asInstanceOf[LineString]
          val ix = new LengthIndexedLine(comp)
          val cuts = (0 until pts.getNumGeometries).map(j => pts.getGeometryN(j))
            .filter(p => comp.distance(p) == 0.0)
            .map(p => ix.indexOf(p.getCoordinate))
            .filter(idx => idx > 0.0 && idx < comp.getLength)
            .distinct.sorted
          val bounds = 0.0 +: cuts :+ comp.getLength
          bounds.sliding(2).foreach { case Seq(f, t) =>
            if (t > f) pieces += ix.extractLine(f, t)
          }
        }
        collect(pieces.toSeq)
      case (line, cutter) if line.getDimension == 1 =>
        // node the linework; keep pieces of the INPUT (those the cutter
        // merely crosses): union-node, then filter by piece midpoint —
        // endpoints touch at crossings, midpoints sit on exactly one
        // source (1e-9 absorbs the noding's intersection rounding)
        val cutLines = if (cutter.getDimension == 2) cutter.getBoundary else cutter
        val noded = line.union(cutLines)
        val pieces = (0 until noded.getNumGeometries).map(noded.getGeometryN)
          .filter { p =>
            p.getDimension == 1 && p.getLength > 0 && {
              val mid = new LengthIndexedLine(p).extractPoint(p.getLength / 2)
              line.distance(factory.createPoint(mid)) < 1e-9
            }
          }
        collect(pieces)
      case (poly, cutter) if poly.getDimension == 2 && cutter.getDimension == 1 =>
        val p = new org.locationtech.jts.operation.polygonize.Polygonizer()
        p.add(poly.getBoundary.union(cutter))
        val faces = scala.jdk.CollectionConverters
          .CollectionHasAsScala(p.getPolygons).asScala.toSeq
          .map(_.asInstanceOf[Polygon])
          .filter(f => poly.contains(f.getInteriorPoint))
          .sortBy(f => { val c = f.getInteriorPoint; (c.getX, c.getY) })
        collect(faces)
      case _ => throw new IllegalArgumentException(
        s"ST_Split: unsupported pair ${g.getGeometryType} by ${bl.getGeometryType} " +
          "(line by point/line/polygon-boundary, or polygon by line)")
    }
  }

  /** ST_SharedPaths(g1, g2): GEOMETRYCOLLECTION(MULTILINESTRING same-
    * direction, MULTILINESTRING opposite-direction) of the linework the
    * two lineal inputs share — the PostGIS/GEOS contract. The overlay's
    * piece orientation is arbitrary, so direction is judged RELATIVE:
    * the piece's first-segment midpoint is projected onto the nearest
    * component of BOTH inputs and the piece's direction is dotted with
    * the host's LOCAL TANGENT there (the segment the projection lands
    * on). A tangent comparison — unlike ordering two traversal indices —
    * is immune to the index wrap a closed (ring) host produces when a
    * shared piece spans the ring's closure vertex (indices 0.95L then
    * 0.02L would invert an endpoint-order test). */
  def sharedPaths(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val g1 = read(a); val g2 = read(b)
    require(g1.getDimension == 1 && g2.getDimension == 1,
      "ST_SharedPaths: both inputs must be lineal")
    val shared = g1.intersection(g2)
    val same = scala.collection.mutable.ArrayBuffer.empty[LineString]
    val opp = scala.collection.mutable.ArrayBuffer.empty[LineString]
    def dirOn(g: Geometry, l: LineString): Int = {
      val comps = (0 until g.getNumGeometries).map(g.getGeometryN)
      val host = comps.minBy(_.distance(l))
      val c0 = l.getCoordinateN(0); val c1 = l.getCoordinateN(1)
      val mid = new Coordinate((c0.x + c1.x) / 2, (c0.y + c1.y) / 2)
      val lil = new org.locationtech.jts.linearref.LocationIndexedLine(host)
      val seg = lil.project(mid).getSegment(host)
      val dot = (seg.p1.x - seg.p0.x) * (c1.x - c0.x) +
                (seg.p1.y - seg.p0.y) * (c1.y - c0.y)
      java.lang.Double.compare(dot, 0.0)
    }
    (0 until shared.getNumGeometries).map(shared.getGeometryN).foreach {
      case l: LineString if !l.isEmpty && l.getLength > 0 =>
        if (dirOn(g1, l) * dirOn(g2, l) >= 0) same += l else opp += l
      case _ => // crossing points — not shared PATHS
    }
    write(factory.createGeometryCollection(Array(
      factory.createMultiLineString(same.toArray),
      factory.createMultiLineString(opp.toArray))))
  }

  // ── linear referencing ────────────────────────────────────────────────
  // ref: rust/geoarrow-old/src/algorithm/geo/{line_interpolate_point.rs:42,
  //      line_locate_point.rs:22}

  def lineInterpolatePoint(line: Array[Byte], frac: Double): Array[Byte] = {
    val g = read(line)
    val ix = new LengthIndexedLine(g)
    write(factory.createPoint(ix.extractPoint(frac * g.getLength)))
  }
  def lineLocatePoint(line: Array[Byte], pt: Array[Byte]): Double = {
    val g = read(line)
    new LengthIndexedLine(g).indexOf(read(pt).getCoordinate) / g.getLength
  }
  def lineSubstring(line: Array[Byte], from: Double, to: Double): Array[Byte] = {
    val g = read(line)
    val ix = new LengthIndexedLine(g)
    write(ix.extractLine(from * g.getLength, to * g.getLength))
  }

  // ── dump (multi → parts) ──────────────────────────────────────────────
  // ref: rust/geoarrow-old/src/algorithm/native/explode.rs:17

  def dump(b: Array[Byte]): ArrayData = {
    val g = read(b)
    new GenericArrayData(
      Array.tabulate[Any](g.getNumGeometries)(i => write(g.getGeometryN(i))))
  }

  /** PostGIS-style ST_Subdivide: recursively halve a geometry's envelope
    * along its longer axis and clip, until every piece has at most
    * `maxVertices` vertices. The 100-TB enabler for spatial joins: a
    * multi-MB coastline polygon becomes many small pieces that index,
    * broadcast, and probe in O(piece), instead of one giant geometry every
    * candidate pair must walk. Pieces partition the input (interiors
    * disjoint, union = input); seam-dimension slivers (lines/points from a
    * polygon cut) are dropped. Depth is bounded so degenerate inputs
    * terminate: a piece that stops shrinking is emitted as-is. */
  def subdivide(b: Array[Byte], maxVertices: Int): ArrayData = {
    require(maxVertices >= 5, s"maxVertices must be >= 5, got $maxVertices")
    val g = read(b)
    val dim = g.getDimension
    val out = scala.collection.mutable.ArrayBuffer.empty[Geometry]
    def go(geom: Geometry, depth: Int): Unit = {
      if (geom.isEmpty || geom.getDimension < dim) return
      if (geom.getNumGeometries > 1) {
        (0 until geom.getNumGeometries).foreach(i => go(geom.getGeometryN(i), depth))
      } else if (geom.getNumPoints <= maxVertices || depth >= 32) {
        out += geom
      } else {
        val e = geom.getEnvelopeInternal
        val axisX = e.getWidth >= e.getHeight
        val mid = if (axisX) (e.getMinX + e.getMaxX) / 2 else (e.getMinY + e.getMaxY) / 2
        go(clipHalf(geom, e, axisX, mid, keepLess = true), depth + 1)
        go(clipHalf(geom, e, axisX, mid, keepLess = false), depth + 1)
      }
    }
    go(g, 0)
    new GenericArrayData(out.map(write).toArray[Any])
  }

  /** Clip to one closed half-plane of the geometry's own envelope. Hot path
    * for [[subdivide]]: a Sutherland–Hodgman sweep against a single
    * axis-aligned line — crossing points sit at exactly `mid` on the clip
    * axis, untouched vertices are kept by reference. OverlayNG (the previous
    * implementation, with its snap-rounding fallback and per-clip topology
    * graph) is reached only when the fast path can't guarantee a simple
    * result: the ring crosses the line more than twice (the clipped region
    * may be disconnected, which Sutherland–Hodgman would bridge with
    * zero-width seams) or an interior ring straddles the line. */
  private def clipHalf(geom: Geometry, e: org.locationtech.jts.geom.Envelope,
                       axisX: Boolean, mid: Double, keepLess: Boolean): Geometry = {
    val fast: Geometry = geom match {
      case p: Polygon => clipPolygonHalf(p, axisX, mid, keepLess)
      case l: LineString => clipLineHalf(l, axisX, mid, keepLess)
      case _ => null
    }
    if (fast != null) fast
    else {
      val env =
        if (axisX) {
          if (keepLess) new org.locationtech.jts.geom.Envelope(e.getMinX, mid, e.getMinY, e.getMaxY)
          else new org.locationtech.jts.geom.Envelope(mid, e.getMaxX, e.getMinY, e.getMaxY)
        } else {
          if (keepLess) new org.locationtech.jts.geom.Envelope(e.getMinX, e.getMaxX, e.getMinY, mid)
          else new org.locationtech.jts.geom.Envelope(e.getMinX, e.getMaxX, mid, e.getMaxY)
        }
      geom.intersection(geom.getFactory.toGeometry(env))
    }
  }

  @inline private def halfPlaneSide(c: Coordinate, axisX: Boolean, mid: Double, keepLess: Boolean): Int = {
    val v = if (axisX) c.x else c.y
    val d = if (keepLess) mid - v else v - mid
    if (d > 0) 1 else if (d < 0) -1 else 0
  }

  @inline private def halfPlaneCross(a: Coordinate, bb: Coordinate, axisX: Boolean, mid: Double): Coordinate = {
    val va = if (axisX) a.x else a.y
    val vb = if (axisX) bb.x else bb.y
    val t = (mid - va) / (vb - va)
    val c = if (axisX) new Coordinate(mid, a.y + t * (bb.y - a.y))
            else new Coordinate(a.x + t * (bb.x - a.x), mid)
    if (!a.getZ.isNaN && !bb.getZ.isNaN) c.setZ(a.getZ + t * (bb.getZ - a.getZ))
    c
  }

  /** Sutherland–Hodgman one ring against one half-plane. Returns the clipped
    * closed ring, the input unchanged when fully kept, an empty array when
    * the ring is clipped away (or collapses to zero area), or null when only
    * the robust overlay can produce a simple result: the ring strictly
    * crosses the line more than twice (kept region may be disconnected — the
    * sweep would bridge the pieces with zero-width seams), or it has on-line
    * structure other than a lone pass-through vertex or a lone outside touch
    * (runs along the line / touches embedded in the kept chain can make the
    * closing chord overlap retained boundary). */
  private def clipRingHalf(ring: Array[Coordinate], axisX: Boolean, mid: Double, keepLess: Boolean): Array[Coordinate] = {
    val n = ring.length - 1 // closed input: ring(n) == ring(0)
    if (n < 3) return Array.empty
    val sides = new Array[Int](n)
    var anyIn = false
    var anyOut = false
    var i = 0
    while (i < n) {
      val s = halfPlaneSide(ring(i), axisX, mid, keepLess)
      sides(i) = s
      if (s > 0) anyIn = true else if (s < 0) anyOut = true
      i += 1
    }
    if (!anyIn) return Array.empty // at most a zero-area trace on the line
    if (!anyOut) return ring       // fully inside the closed half
    // Circular count of strict in<->out transitions; on-line vertices extend
    // the current run. > 2 means more than one outside arc => the kept region
    // may be disconnected.
    var transitions = 0
    var prev = 0
    var first = 0
    i = 0
    while (i < n) {
      val s = sides(i)
      if (s != 0) {
        if (prev != 0 && s != prev) transitions += 1
        if (first == 0) first = s
        prev = s
      }
      i += 1
    }
    if (first != prev) transitions += 1 // close the circle (both nonzero here)
    if (transitions > 2) return null
    // On-vertex policy: a lone pass-through vertex acts as the crossing point
    // and is kept; a lone touch embedded in the outside arc is a zero-area
    // pinch and is dropped (reclassified as out); anything else falls back.
    i = 0
    while (i < n) {
      if (sides(i) == 0) {
        val lp = sides((i + n - 1) % n)
        val rp = sides((i + 1) % n)
        if (lp == 0 || rp == 0) return null // on-run of length >= 2
        if (lp > 0 && rp > 0) return null   // touch embedded in the kept chain
        if (lp < 0 && rp < 0) sides(i) = -1 // outside pinch: drop
        // else pass-through: keep
      }
      i += 1
    }
    val buf = new scala.collection.mutable.ArrayBuffer[Coordinate](ring.length)
    def emit(c: Coordinate): Unit =
      if (buf.isEmpty || buf.last.x != c.x || buf.last.y != c.y) buf += c
    i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      val sa = sides(i)
      val sb = sides(j)
      if (sa >= 0) emit(ring(i))
      // crossing edges always join two strictly-sided vertices here (a
      // reclassified on-vertex has both neighbours strictly out), so the
      // interpolation denominator is nonzero
      if ((sa > 0 && sb < 0) || (sa < 0 && sb > 0)) emit(halfPlaneCross(ring(i), ring(j), axisX, mid))
      i += 1
    }
    if (buf.length >= 2 && buf.head.x == buf.last.x && buf.head.y == buf.last.y) buf.remove(buf.length - 1)
    if (buf.length < 3) return Array.empty
    // zero-area collapse must vanish like the overlay path's
    // dimension-collapsed slivers do — tested at a RELATIVE epsilon, not
    // exact zero: a clipped ring whose shoelace sum is a few ulps from
    // zero is a numerically degenerate hairline the overlay path would
    // have snapped away, so emitting it would trade robustness for noise
    var area2 = 0.0
    var minX = Double.MaxValue; var maxX = -Double.MaxValue
    var minY = Double.MaxValue; var maxY = -Double.MaxValue
    i = 0
    while (i < buf.length) {
      val p = buf(i); val q = buf((i + 1) % buf.length)
      area2 += p.x * q.y - q.x * p.y
      if (p.x < minX) minX = p.x; if (p.x > maxX) maxX = p.x
      if (p.y < minY) minY = p.y; if (p.y > maxY) maxY = p.y
      i += 1
    }
    val span = math.max(maxX - minX, maxY - minY)
    if (math.abs(area2) <= 1e-12 * span * span) return Array.empty
    buf += buf.head.copy()
    buf.toArray
  }

  /** Polygon against one half-plane; null => robust-overlay fallback.
    * Interior rings entirely in the kept half survive, entirely outside
    * vanish; a ring that straddles the line — or one that TOUCHES it while
    * the shell was actually cut (its boundary could then overlap the
    * shell's closing chord along the line, an invalid pinch the overlay
    * engine resolves properly) — sends the whole clip to the fallback. */
  private def clipPolygonHalf(p: Polygon, axisX: Boolean, mid: Double, keepLess: Boolean): Geometry = {
    val shellCoords = p.getExteriorRing.getCoordinates
    val shell = clipRingHalf(shellCoords, axisX, mid, keepLess)
    if (shell == null) return null
    val f = p.getFactory
    if (shell.isEmpty) return f.createPolygon()
    val shellCut = !(shell eq shellCoords) // fully-inside returns the input by reference
    val holes = scala.collection.mutable.ArrayBuffer.empty[org.locationtech.jts.geom.LinearRing]
    var h = 0
    while (h < p.getNumInteriorRing) {
      val hole = p.getInteriorRingN(h)
      val cs = hole.getCoordinates
      var anyIn = false
      var anyOut = false
      var anyOn = false
      var i = 0
      while (i < cs.length - 1) {
        val s = halfPlaneSide(cs(i), axisX, mid, keepLess)
        if (s > 0) anyIn = true else if (s < 0) anyOut = true else anyOn = true
        i += 1
      }
      if (anyIn && anyOut) return null // hole straddles the clip line
      if (anyIn && anyOn && shellCut) return null // hole touches the new chord
      if (anyIn) holes += hole // entirely in the kept (closed) half
      h += 1
    }
    f.createPolygon(f.createLinearRing(shell), holes.toArray)
  }

  /** LineString against one half-plane: exact, never falls back — each
    * maximal in-half run becomes one piece, crossings inserted at `mid`. */
  private def clipLineHalf(l: LineString, axisX: Boolean, mid: Double, keepLess: Boolean): Geometry = {
    val cs = l.getCoordinates
    val f = l.getFactory
    val pieces = scala.collection.mutable.ArrayBuffer.empty[LineString]
    val cur = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
    def emit(c: Coordinate): Unit =
      if (cur.isEmpty || cur.last.x != c.x || cur.last.y != c.y) cur += c
    def flush(): Unit = {
      if (cur.length >= 2) pieces += f.createLineString(cur.toArray)
      cur.clear()
    }
    var i = 0
    while (i < cs.length - 1) {
      val a = cs(i); val bb = cs(i + 1)
      val sa = halfPlaneSide(a, axisX, mid, keepLess)
      val sb = halfPlaneSide(bb, axisX, mid, keepLess)
      if (sa >= 0) emit(a)
      if ((sa > 0 && sb < 0) || (sa < 0 && sb > 0)) {
        emit(halfPlaneCross(a, bb, axisX, mid))
        if (sb < 0) flush()
      } else if (sa >= 0 && sb < 0) flush()
      i += 1
    }
    if (halfPlaneSide(cs(cs.length - 1), axisX, mid, keepLess) >= 0) emit(cs(cs.length - 1))
    flush()
    if (pieces.isEmpty) f.createLineString()
    else if (pieces.length == 1) pieces.head
    else f.createMultiLineString(pieces.toArray)
  }

  /** Plain-struct bbox (xmin,ymin,xmax,ymax) — the GeoParquet 1.1 covering
    * column. Deliberately NOT a UDT/opaque value so Parquet min/max column
    * statistics and predicate pushdown work on its leaves (the reference
    * prunes row groups the same way: rust/geoparquet/src/reader/
    * spatial_filter.rs:59-181). */
  def bbox(b: Array[Byte]): InternalRow = {
    val e = read(b).getEnvelopeInternal
    new GenericInternalRow(Array[Any](e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
  }

  /** X → Multi-X promotion (the infallible half of the reference's cast
    * matrix, rust/geoarrow-cast/src/cast.rs:56). */
  def multi(b: Array[Byte]): Array[Byte] = read(b) match {
    case p: Point => write(factory.createMultiPoint(Array(p)))
    case l: LineString => write(factory.createMultiLineString(Array(l)))
    case p: Polygon => write(factory.createMultiPolygon(Array(p)))
    case g => write(g) // already multi / collection
  }

  def skew(b: Array[Byte], xs: Double, ys: Double): Array[Byte] =
    write(AffineTransformation.shearInstance(math.tan(xs), math.tan(ys)).transform(read(b)))

  /** Chaikin corner-cutting, n iterations — Scala port of the public
    * algorithm; ref: rust/geoarrow-old/src/algorithm/geo/chaikin_smoothing.rs:22.
    * Endpoints of open lines are kept; rings stay closed. */
  def chaikinSmoothing(b: Array[Byte], n: Int): Array[Byte] = {
    val ed = new org.locationtech.jts.geom.util.GeometryEditor(factory)
    write(ed.edit(read(b), new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
      override def edit(coords: Array[Coordinate], geometry: Geometry): Array[Coordinate] = {
        if (coords.length < 3) return coords
        val closed = coords.head.equals2D(coords.last)
        var cs = coords
        var it = 0
        while (it < n) { cs = chaikinOnce(cs, closed); it += 1 }
        cs
      }
    }))
  }
  private def chaikinOnce(cs: Array[Coordinate], closed: Boolean): Array[Coordinate] = {
    val out = scala.collection.mutable.ArrayBuffer[Coordinate]()
    if (!closed) out += cs.head
    var i = 0
    val last = cs.length - 2
    while (i <= last) {
      val (p, q) = (cs(i), cs(i + 1))
      out += new Coordinate(0.75 * p.x + 0.25 * q.x, 0.75 * p.y + 0.25 * q.y)
      out += new Coordinate(0.25 * p.x + 0.75 * q.x, 0.25 * p.y + 0.75 * q.y)
      i += 1
    }
    if (closed) out += out.head.copy() else out += cs.last
    out.toArray
  }

  def numInteriorRings(b: Array[Byte]): Int = read(b) match {
    case p: Polygon => p.getNumInteriorRing
    case _ => 0
  }
  def interiorRingN(b: Array[Byte], n: Int): Array[Byte] = read(b) match {
    case p: Polygon => write(factory.createLineString(p.getInteriorRingN(n).getCoordinateSequence))
    case g => write(g.getBoundary)
  }

  // ── GeoJSON codec ─────────────────────────────────────────────────────
  // ref: rust/geoarrow-geojson/src/writer/mod.rs:51 (encoder),
  //      rust/geoarrow-old/src/io/geojson/reader.rs:12 (parser)

  def asGeoJson(b: Array[Byte]): UTF8String = UTF8String.fromString(GeoJson.encode(read(b)))
  def geomFromGeoJson(s: UTF8String): Array[Byte] = write(GeoJson.parse(s.toString))

  /** SVG path data (PostGIS ST_AsSVG conventions: y negated for the y-down
    * SVG space; points as cx/cy attributes, lines/rings as M/L/Z path
    * commands). The display half of the reference's `_repr_svg_`
    * (python/geoarrow-core/.../_scalar.pyi) — the wrapping <svg> element is
    * presentation, the path data is the geometry. */
  def asSvg(b: Array[Byte]): UTF8String = {
    val sb = new java.lang.StringBuilder(64)
    def num(d: Double): String =
      if (d == math.rint(d) && !d.isInfinite) d.toLong.toString else d.toString
    def ring(cs: Array[Coordinate], close: Boolean): Unit = {
      var i = 0
      while (i < cs.length) {
        sb.append(if (i == 0) "M " else " L ").append(num(cs(i).x)).append(' ').append(num(-cs(i).y))
        i += 1
      }
      if (close) sb.append(" Z")
    }
    def enc(g: Geometry): Unit = g match {
      case p: Point =>
        if (!p.isEmpty)
          sb.append("cx=\"").append(num(p.getX)).append("\" cy=\"").append(num(-p.getY)).append('"')
      case l: LineString => ring(l.getCoordinates, close = false)
      case p: Polygon =>
        ring(p.getExteriorRing.getCoordinates.dropRight(1), close = true)
        var i = 0
        while (i < p.getNumInteriorRing) {
          sb.append(' '); ring(p.getInteriorRingN(i).getCoordinates.dropRight(1), close = true)
          i += 1
        }
      case gc: Geometry =>
        var i = 0
        while (i < gc.getNumGeometries) {
          if (i > 0) sb.append(' ')
          enc(gc.getGeometryN(i)); i += 1
        }
    }
    enc(read(b))
    UTF8String.fromString(sb.toString)
  }

  def geometryN(b: Array[Byte], n: Int): Array[Byte] = write(read(b).getGeometryN(n))
  def pointN(b: Array[Byte], n: Int): Array[Byte] = read(b) match {
    case l: LineString => write(l.getPointN(n))
    case g => write(g)
  }
  def exteriorRing(b: Array[Byte]): Array[Byte] = read(b) match {
    case p: Polygon => write(factory.createLineString(p.getExteriorRing.getCoordinateSequence))
    case g => write(g.getBoundary)
  }
}
