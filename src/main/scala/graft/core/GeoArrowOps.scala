package graft.core

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.locationtech.jts.geom._

/** GeoArrow (native) coordinate-layout → WKB transcoding kernels.
  *
  * GeoParquet 1.1 native encoding stores geometry as nested
  * list/struct columns in the GeoArrow separated-coordinate layout
  * (ref: rust/geoparquet/src/reader/parse.rs:30 `infer_geoarrow_schema`;
  * fixture fixtures/geoparquet/nybb_geoarrow.parquet):
  *
  *   point              struct<x,y[,z][,m]>
  *   linestring         list<struct>
  *   multipoint         list<struct>
  *   polygon            list<list<struct>>     (ring 0 = shell)
  *   multilinestring    list<list<struct>>
  *   multipolygon       list<list<list<struct>>>
  *
  * Each method is a `StaticInvoke` target taking the Catalyst value classes
  * directly (`ArrayData`/`InternalRow` — no Row conversion, inlines into
  * whole-stage codegen) plus z/m flags the reader derives from the parquet
  * schema's struct field names. Output is the engine's native WKB, so a
  * native-encoded file is indistinguishable from a WKB one past the scan —
  * the Spark-shaped equivalent of the reference's per-batch
  * `parse_to_native` conversion. */
object GeoArrowOps {

  private val factory = new GeometryFactory()

  private def width(hasZ: Boolean, hasM: Boolean): Int =
    2 + (if (hasZ) 1 else 0) + (if (hasM) 1 else 0)

  /** GeoArrow field order is x, y[, z][, m]. */
  private def coord(r: InternalRow, hasZ: Boolean, hasM: Boolean): Coordinate =
    if (hasZ && hasM) new CoordinateXYZM(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    else if (hasM) new CoordinateXYM(r.getDouble(0), r.getDouble(1), r.getDouble(2))
    else if (hasZ) new Coordinate(r.getDouble(0), r.getDouble(1), r.getDouble(2))
    else new Coordinate(r.getDouble(0), r.getDouble(1))

  private def coords(a: ArrayData, z: Boolean, m: Boolean): Array[Coordinate] = {
    val w = width(z, m)
    Array.tabulate(a.numElements())(i => coord(a.getStruct(i, w), z, m))
  }

  private def line(a: ArrayData, z: Boolean, m: Boolean): LineString =
    factory.createLineString(coords(a, z, m))

  private def ring(a: ArrayData, z: Boolean, m: Boolean): LinearRing =
    factory.createLinearRing(coords(a, z, m))

  private def poly(a: ArrayData, z: Boolean, m: Boolean): Polygon = {
    val n = a.numElements()
    if (n == 0) factory.createPolygon()
    else factory.createPolygon(ring(a.getArray(0), z, m),
      Array.tabulate(n - 1)(i => ring(a.getArray(i + 1), z, m)))
  }

  // ── StaticInvoke targets (one per GeoParquet 1.1 native encoding) ──────

  def gaPoint(r: InternalRow, z: Boolean, m: Boolean): Array[Byte] = {
    val c = coord(r, z, m)
    // GeoArrow encodes POINT EMPTY as all-NaN ordinates (the null slot means
    // SQL NULL — reference trait_.rs:157-198 logical nulls)
    if (java.lang.Double.isNaN(c.x) && java.lang.Double.isNaN(c.y))
      GeomOps.write(factory.createPoint())
    else GeomOps.write(factory.createPoint(c))
  }

  def gaLineString(a: ArrayData, z: Boolean, m: Boolean): Array[Byte] =
    GeomOps.write(line(a, z, m))

  def gaMultiPoint(a: ArrayData, z: Boolean, m: Boolean): Array[Byte] =
    // an all-NaN member decodes to POINT EMPTY — the element-count-preserving
    // encoding [[mpCoords]] writes for MULTIPOINT (..., EMPTY)
    GeomOps.write(factory.createMultiPoint(coords(a, z, m).map(c =>
      if (nanEmptyPoint(c)) factory.createPoint() else factory.createPoint(c))))

  def gaPolygon(a: ArrayData, z: Boolean, m: Boolean): Array[Byte] =
    GeomOps.write(poly(a, z, m))

  def gaMultiLineString(a: ArrayData, z: Boolean, m: Boolean): Array[Byte] =
    GeomOps.write(factory.createMultiLineString(
      Array.tabulate(a.numElements())(i => line(a.getArray(i), z, m))))

  def gaMultiPolygon(a: ArrayData, z: Boolean, m: Boolean): Array[Byte] =
    GeomOps.write(factory.createMultiPolygon(
      Array.tabulate(a.numElements())(i => poly(a.getArray(i), z, m))))

  // ── WKB → GeoArrow export (the interop direction: native-encoded
  //    GeoParquet write / Arrow interchange; XY, XYZ, XYM, XYZM) ─────────

  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** The WKB of one export kernel, checked against the kernel's dimensions:
    * the input must carry EXACTLY x, y plus `wantZ`/`wantM` — silently
    * fabricating or dropping an ordinate would corrupt 3D/measured data on
    * write, so a mismatch fails loudly. An EMPTY has no coordinates to
    * contradict the declared dimensions — it exports as the natural empty
    * shape (NaN point / zero-length lists). */
  private def readDims(wkb: Array[Byte], kernel: String,
                       wantZ: Boolean, wantM: Boolean): Geometry = {
    val g = GeomOps.read(wkb)
    if (g.isEmpty) return g
    val z = GeomOps.hasZ(g); val m = GeomOps.hasM(g)
    if (z != wantZ || m != wantM) {
      def dims(hz: Boolean, hm: Boolean) =
        "XY" + (if (hz) "Z" else "") + (if (hm) "M" else "")
      val want = dims(wantZ, wantM)
      throw new IllegalArgumentException(
        if (!wantZ && !wantM)
          s"$kernel: GeoArrow export emits XY only but the input geometry has Z/M " +
          "coordinates, which would be silently dropped. Strip them first with " +
          "ST_Force2D, or write with encoding=WKB (Z/M-preserving)."
        else
          s"$kernel: $want export requires ${want.drop(2)} ordinates and no others but the " +
          s"geometry is ${dims(z, m)} — use the matching kernel, or write with " +
          "encoding=WKB (Z/M-preserving)")
    }
    g
  }

  /** GeoArrow separated order is x, y[, z][, m]. */
  private def coordRow(c: Coordinate, z: Boolean, m: Boolean): InternalRow = {
    val a = new Array[Any](width(z, m))
    a(0) = c.x; a(1) = c.y
    if (z) a(2) = c.getZ
    if (m) a(a.length - 1) = c.getM
    new GenericInternalRow(a)
  }

  private def coordArr(cs: Array[Coordinate], z: Boolean, m: Boolean): ArrayData =
    new GenericArrayData(cs.map(coordRow(_, z, m): Any))

  private def polyArr(p: Polygon, z: Boolean, m: Boolean): ArrayData =
    new GenericArrayData(
      ((p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
        .map(r => coordArr(r.getCoordinates, z, m): Any)).toArray)

  /** THE empty-member sentinel, defined once: an all-NaN x/y coordinate
    * ⇔ POINT EMPTY inside a multipoint (the GeoArrow empty-point
    * convention, element-count-preserving). Both directions of both hops
    * (ga_to_multipoint* here, the Arrow IPC union writer/reader) share
    * these two helpers so the convention cannot silently fork. */
  private[graft] def nanEmptyPoint(c: Coordinate): Boolean =
    java.lang.Double.isNaN(c.x) && java.lang.Double.isNaN(c.y)

  /** Per-member multipoint coords: JTS's flattening getCoordinates SKIPS
    * empty point members, silently changing the element count on roundtrip
    * (round-18 ADVICE). An EMPTY member rides the all-NaN coordinate; base
    * Coordinate reports NaN for getZ/getM, covering every dims family.
    * Non-point members fail with the kernel-named contract error the
    * sibling readers use, not a bare ClassCastException. */
  private[graft] def mpCoords(g: Geometry, kernel: String): Array[Coordinate] =
    Array.tabulate(g.getNumGeometries) { i =>
      g.getGeometryN(i) match {
        case p: Point =>
          if (p.isEmpty) new Coordinate(Double.NaN, Double.NaN) else p.getCoordinate
        case other => throw new IllegalArgumentException(
          s"$kernel: member $i is ${other.getGeometryType}, not Point")
      }
    }

  // ── one exporter per geometry kind, any dimensions; the 24 public
  //    kernels below are the XY / XYZ / XYM / XYZM families of these six.
  //    A separate kernel per family because a SQL function's return struct
  //    is fixed — {x,y,z} is a different type than {x,y}. ────────────────

  private def point(wkb: Array[Byte], kernel: String, z: Boolean, m: Boolean): InternalRow = {
    val g = readDims(wkb, kernel, z, m)
    // POINT EMPTY exports as the spec's NaN tuple (getCoordinate is null
    // for an empty point)
    if (g.isEmpty) new GenericInternalRow(Array.fill[Any](width(z, m))(Double.NaN))
    else coordRow(g.getCoordinate, z, m)
  }

  private def lineString(wkb: Array[Byte], kernel: String, z: Boolean, m: Boolean): ArrayData =
    coordArr(readDims(wkb, kernel, z, m).getCoordinates, z, m)

  private def multiPoint(wkb: Array[Byte], kernel: String, z: Boolean, m: Boolean): ArrayData =
    coordArr(mpCoords(readDims(wkb, kernel, z, m), kernel), z, m)

  private def polygon(wkb: Array[Byte], kernel: String, z: Boolean, m: Boolean): ArrayData =
    polyArr(readDims(wkb, kernel, z, m).asInstanceOf[Polygon], z, m)

  private def multiLineString(wkb: Array[Byte], kernel: String,
                              z: Boolean, m: Boolean): ArrayData = {
    val g = readDims(wkb, kernel, z, m)
    new GenericArrayData(Array.tabulate[Any](g.getNumGeometries)(i =>
      coordArr(g.getGeometryN(i).getCoordinates, z, m)))
  }

  private def multiPolygon(wkb: Array[Byte], kernel: String, z: Boolean, m: Boolean): ArrayData = {
    val g = readDims(wkb, kernel, z, m)
    new GenericArrayData(Array.tabulate[Any](g.getNumGeometries)(i =>
      polyArr(g.getGeometryN(i) match {
        case p: Polygon => p
        case other => throw new IllegalArgumentException(
          s"$kernel: component is ${other.getGeometryType}, not Polygon")
      }, z, m)))
  }

  def toPoint(wkb: Array[Byte]): InternalRow = point(wkb, "ga_to_point", false, false)
  def toLineString(wkb: Array[Byte]): ArrayData = lineString(wkb, "ga_to_linestring", false, false)
  def toMultiPoint(wkb: Array[Byte]): ArrayData = multiPoint(wkb, "ga_to_multipoint", false, false)
  def toPolygon(wkb: Array[Byte]): ArrayData = polygon(wkb, "ga_to_polygon", false, false)
  def toMultiLineString(wkb: Array[Byte]): ArrayData =
    multiLineString(wkb, "ga_to_multilinestring", false, false)
  def toMultiPolygon(wkb: Array[Byte]): ArrayData =
    multiPolygon(wkb, "ga_to_multipolygon", false, false)

  def toPointZ(wkb: Array[Byte]): InternalRow = point(wkb, "ga_to_point_z", true, false)
  def toLineStringZ(wkb: Array[Byte]): ArrayData =
    lineString(wkb, "ga_to_linestring_z", true, false)
  def toMultiPointZ(wkb: Array[Byte]): ArrayData =
    multiPoint(wkb, "ga_to_multipoint_z", true, false)
  def toPolygonZ(wkb: Array[Byte]): ArrayData = polygon(wkb, "ga_to_polygon_z", true, false)
  def toMultiLineStringZ(wkb: Array[Byte]): ArrayData =
    multiLineString(wkb, "ga_to_multilinestring_z", true, false)
  def toMultiPolygonZ(wkb: Array[Byte]): ArrayData =
    multiPolygon(wkb, "ga_to_multipolygon_z", true, false)

  def toPointM(wkb: Array[Byte]): InternalRow = point(wkb, "ga_to_point_m", false, true)
  def toLineStringM(wkb: Array[Byte]): ArrayData =
    lineString(wkb, "ga_to_linestring_m", false, true)
  def toMultiPointM(wkb: Array[Byte]): ArrayData =
    multiPoint(wkb, "ga_to_multipoint_m", false, true)
  def toPolygonM(wkb: Array[Byte]): ArrayData = polygon(wkb, "ga_to_polygon_m", false, true)
  def toMultiLineStringM(wkb: Array[Byte]): ArrayData =
    multiLineString(wkb, "ga_to_multilinestring_m", false, true)
  def toMultiPolygonM(wkb: Array[Byte]): ArrayData =
    multiPolygon(wkb, "ga_to_multipolygon_m", false, true)

  def toPointZM(wkb: Array[Byte]): InternalRow = point(wkb, "ga_to_point_zm", true, true)
  def toLineStringZM(wkb: Array[Byte]): ArrayData =
    lineString(wkb, "ga_to_linestring_zm", true, true)
  def toMultiPointZM(wkb: Array[Byte]): ArrayData =
    multiPoint(wkb, "ga_to_multipoint_zm", true, true)
  def toPolygonZM(wkb: Array[Byte]): ArrayData = polygon(wkb, "ga_to_polygon_zm", true, true)
  def toMultiLineStringZM(wkb: Array[Byte]): ArrayData =
    multiLineString(wkb, "ga_to_multilinestring_zm", true, true)
  def toMultiPolygonZM(wkb: Array[Byte]): ArrayData =
    multiPolygon(wkb, "ga_to_multipolygon_zm", true, true)
}
