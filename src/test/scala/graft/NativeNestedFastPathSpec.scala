package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.locationtech.jts.geom._

import graft.core.NativeMeasures
import graft.sources.GeoParquet

/** The nested-kind half of the native columnar fast path (round 19):
  * ST_Length/ST_Area/ST_Perimeter/ST_NPoints/bounds/ST_IsEmpty/
  * ST_Extent_Agg over NATIVE-encoded linestring/polygon/multi* GeoParquet
  * columns must run as [[NativeMeasures]] leaf arithmetic — the `ga_*`
  * WKB transcode + JTS parse must vanish from the optimized plan, and
  * every value must be BIT-EXACT against the WKB/JTS path.
  *
  * Layer 1 fuzzes the kernels directly against the real JTS methods they
  * replicate (incl. NaN coordinates, XYZ width, EMPTY shapes — the JTS
  * chains are pinned byte-for-byte from jts-core-1.20.0). Layer 2 drives
  * the full plan rewrite through native GeoParquet files, comparing the
  * fast path against the transcode path cell-for-cell. */
class NativeNestedFastPathSpec extends SparkTestBase {

  private val f = graft.core.GeomOps.factory
  private def bits(d: Double) = java.lang.Double.doubleToLongBits(d)

  // ── JTS → raw GeoArrow nested-array layouts (what the scan delivers) ──

  private def row(c: Coordinate, w: Int): InternalRow = {
    val vals = new Array[Any](w)
    vals(0) = c.x; vals(1) = c.y
    if (w > 2) vals(2) = c.getZ
    new GenericInternalRow(vals)
  }
  private def nanRow(w: Int): InternalRow =
    new GenericInternalRow(Array.fill[Any](w)(Double.NaN))
  private def arrCoords(cs: Array[Coordinate], w: Int): ArrayData =
    new GenericArrayData(cs.map(row(_, w): Any))
  private def arrRings(p: Polygon, w: Int): ArrayData =
    new GenericArrayData(
      ((p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
        .map(r => arrCoords(r.getCoordinates, w): Any)).toArray)
  private def arrMls(m: MultiLineString, w: Int): ArrayData =
    new GenericArrayData(Array.tabulate[Any](m.getNumGeometries)(i =>
      arrCoords(m.getGeometryN(i).getCoordinates, w)))
  private def arrMPoly(m: MultiPolygon, w: Int): ArrayData =
    new GenericArrayData(Array.tabulate[Any](m.getNumGeometries)(i =>
      arrRings(m.getGeometryN(i).asInstanceOf[Polygon], w)))
  private def arrMp(m: MultiPoint, w: Int): ArrayData =
    new GenericArrayData(Array.tabulate[Any](m.getNumGeometries) { i =>
      val p = m.getGeometryN(i).asInstanceOf[Point]
      if (p.isEmpty) nanRow(w) else row(p.getCoordinate, w)
    })

  /** all four bounds of `a` via `method` must equal the JTS envelope —
    * incl. the null envelope ⇔ null contract */
  private def checkBounds(g: Geometry,
                          bound: (Int, Boolean) => java.lang.Double): Unit = {
    val env = g.getEnvelopeInternal
    val expected: Seq[(java.lang.Double, Double)] = Seq(
      (bound(0, true), env.getMinX), (bound(1, true), env.getMinY),
      (bound(0, false), env.getMaxX), (bound(1, false), env.getMaxY))
    if (env.isNull)
      expected.foreach { case (b, _) => assert(b == null, s"empty ${g.toText} must bound null") }
    else expected.foreach { case (b, e) =>
      assert(b != null && bits(b.doubleValue()) == bits(e),
        s"${g.toText}: bound $b vs JTS $e")
    }
  }

  /** byte-for-byte WKB equality with the kernel chain `write(getCentroid)` */
  private def checkCentroid(g: Geometry, fast: Array[Byte]): Unit = {
    val expected = graft.core.GeomOps.write(g.getCentroid)
    assert(java.util.Arrays.equals(fast, expected),
      s"centroid of ${g.toText}: ${graft.core.GeomOps.read(fast)} vs ${g.getCentroid}")
  }

  test("fuzz: NativeMeasures == JTS bit-for-bit over the WKT corpus") {
    val reader = new org.locationtech.jts.io.WKTReader(f)
    var (nLine, nPoly, nMp, nMpoly) = (0, 0, 0, 0)
    WktFuzzGen.all.foreach { wkt =>
      reader.read(wkt) match {
        case l: LineString =>
          val a = arrCoords(l.getCoordinates, 2)
          assert(bits(NativeMeasures.lineLength(a, 2)) == bits(l.getLength), wkt)
          checkBounds(l, NativeMeasures.boundLine(a, 2, _, _))
          checkCentroid(l, NativeMeasures.centroidLine(a, 2))
          assert(a.numElements() == l.getNumPoints)
          assert(NativeMeasures.isEmptyL1(a) == l.isEmpty)
          nLine += 1
        case p: Polygon =>
          val a = arrRings(p, 2)
          assert(bits(NativeMeasures.polygonArea(a, 2)) == bits(p.getArea),
            s"$wkt area ${NativeMeasures.polygonArea(a, 2)} vs ${p.getArea}")
          assert(bits(NativeMeasures.ringsLength(a, 2)) == bits(p.getLength), wkt)
          checkBounds(p, NativeMeasures.boundShell(a, 2, _, _))
          checkCentroid(p, NativeMeasures.centroidPolygon(a, 2))
          assert(NativeMeasures.numPointsL2(a) == p.getNumPoints)
          assert(NativeMeasures.isEmptyPolygon(a) == p.isEmpty)
          nPoly += 1
        case m: MultiPoint =>
          val a = arrMp(m, 2)
          checkBounds(m, NativeMeasures.boundMultiPoint(a, 2, _, _))
          checkCentroid(m, NativeMeasures.centroidMultiPoint(a, 2))
          assert(NativeMeasures.numPointsMultiPoint(a, 2) == m.getNumPoints)
          assert(NativeMeasures.isEmptyMultiPoint(a, 2) == m.isEmpty)
          nMp += 1
        case m: MultiPolygon =>
          val a = arrMPoly(m, 2)
          assert(bits(NativeMeasures.multiPolygonArea(a, 2)) == bits(m.getArea), wkt)
          assert(bits(NativeMeasures.ringsLengthL3(a, 2)) == bits(m.getLength), wkt)
          checkBounds(m, NativeMeasures.boundMPolyShells(a, 2, _, _))
          checkCentroid(m, NativeMeasures.centroidMultiPolygon(a, 2))
          assert(NativeMeasures.numPointsL3(a) == m.getNumPoints)
          assert(NativeMeasures.isEmptyMultiPolygon(a) == m.isEmpty)
          nMpoly += 1
        case _: Point => // covered by NativePointFastPathSpec
      }
    }
    assert(nLine > 50 && nPoly > 100 && nMp > 50 && nMpoly > 50,
      s"corpus coverage: line=$nLine poly=$nPoly mp=$nMp mpoly=$nMpoly")
  }

  test("centroid dimension cascade: degenerate shapes fall back exactly like JTS") {
    // zero-area polygon → length fallback; zero-length line → point
    // fallback; empties → POINT EMPTY; multipoint EMPTY members skipped
    val flatPoly = f.createPolygon(f.createLinearRing(Array(
      new Coordinate(0, 0), new Coordinate(4, 0), new Coordinate(2, 0),
      new Coordinate(0, 0))))
    checkCentroid(flatPoly, NativeMeasures.centroidPolygon(arrRings(flatPoly, 2), 2))
    val zeroLine = f.createLineString(Array(new Coordinate(3, 7), new Coordinate(3, 7)))
    checkCentroid(zeroLine, NativeMeasures.centroidLine(arrCoords(zeroLine.getCoordinates, 2), 2))
    val emptyLine = f.createLineString(Array.empty[Coordinate])
    checkCentroid(emptyLine, NativeMeasures.centroidLine(arrCoords(emptyLine.getCoordinates, 2), 2))
    checkCentroid(f.createPolygon(), NativeMeasures.centroidPolygon(arrRings(f.createPolygon(), 2), 2))
    val mpe = f.createMultiPoint(Array(f.createPoint(new Coordinate(2, 4)), f.createPoint()))
    checkCentroid(mpe, NativeMeasures.centroidMultiPoint(arrMp(mpe, 2), 2))
    // CW-wound shell + CCW hole (the reversed-orientation path)
    val cw = f.createPolygon(
      f.createLinearRing(Array(new Coordinate(0, 0), new Coordinate(0, 10),
        new Coordinate(10, 10), new Coordinate(10, 0), new Coordinate(0, 0))),
      Array(f.createLinearRing(Array(new Coordinate(2, 2), new Coordinate(4, 2),
        new Coordinate(4, 4), new Coordinate(2, 4), new Coordinate(2, 2)))))
    checkCentroid(cw, NativeMeasures.centroidPolygon(arrRings(cw, 2), 2))
    // hand-rolled multilinestrings incl. degenerate members
    val mls = f.createMultiLineString(Array(
      f.createLineString(Array(new Coordinate(0, 0), new Coordinate(6, 8))),
      f.createLineString(Array(new Coordinate(5, 5), new Coordinate(5, 5))),
      f.createLineString(Array.empty[Coordinate])))
    checkCentroid(mls, NativeMeasures.centroidMultiLineString(arrMls(mls, 2), 2))
  }

  test("fuzz: multilinestring kernels == JTS (hand-rolled corpus + empties)") {
    val rnd = new scala.util.Random(0x9E3779B9L)
    (0 until 200).foreach { i =>
      val members = (0 until rnd.nextInt(4)).map { _ =>
        val n = 2 + rnd.nextInt(6)
        f.createLineString(Array.tabulate(n)(k =>
          new Coordinate(rnd.nextDouble() * 100 - 50, rnd.nextDouble() * 80 - 40)))
      }.toArray
      val m = f.createMultiLineString(members)
      val a = arrMls(m, 2)
      assert(bits(NativeMeasures.ringsLength(a, 2)) == bits(m.getLength), m.toText)
      checkBounds(m, NativeMeasures.boundL2(a, 2, _, _))
      assert(NativeMeasures.numPointsL2(a) == m.getNumPoints)
      assert(NativeMeasures.isEmptyL2(a) == m.isEmpty, m.toText)
    }
    // members with 0 coordinates are skipped by the envelope combine
    val withEmpty = f.createMultiLineString(Array(
      f.createLineString(Array.empty[Coordinate]),
      f.createLineString(Array(new Coordinate(3, 4), new Coordinate(5, 6)))))
    val a = arrMls(withEmpty, 2)
    checkBounds(withEmpty, NativeMeasures.boundL2(a, 2, _, _))
    assert(bits(NativeMeasures.ringsLength(a, 2)) == bits(withEmpty.getLength))
    assert(!NativeMeasures.isEmptyL2(a))
  }

  test("NaN coordinates follow the exact JTS envelope semantics") {
    // a LEADING NaN sticks (compares never update it); a mid-sequence NaN
    // is ignored — and for collections the member envelope is computed
    // FIRST, so a member whose first coordinate is NaN absorbs its later
    // real coordinates (a flat scan would resurrect them)
    val leadNaN = f.createLineString(Array(
      new Coordinate(Double.NaN, 0), new Coordinate(2, 2)))
    val midNaN = f.createLineString(Array(
      new Coordinate(1, 1), new Coordinate(Double.NaN, 5), new Coordinate(2, 2)))
    Seq(leadNaN, midNaN).foreach { l =>
      checkBounds(l, NativeMeasures.boundLine(arrCoords(l.getCoordinates, 2), 2, _, _))
    }
    val mls = f.createMultiLineString(Array(
      f.createLineString(Array(new Coordinate(5, 0), new Coordinate(6, 1))),
      f.createLineString(Array(new Coordinate(Double.NaN, 0), new Coordinate(2, 2)))))
    checkBounds(mls, NativeMeasures.boundL2(arrMls(mls, 2), 2, _, _))
    // sanity on the divergent-looking case: JTS keeps 5.0 as minX because
    // member 2's NaN envelope loses its real coordinate
    assert(NativeMeasures.boundL2(arrMls(mls, 2), 2, 0, true).doubleValue() == 5.0)
  }

  test("XYZ width: measures stay 2D and read the right leaves") {
    val l = f.createLineString(Array(
      new Coordinate(0, 0, 7), new Coordinate(3, 4, 9), new Coordinate(3, 10, 2)))
    val a3 = arrCoords(l.getCoordinates, 3)
    assert(bits(NativeMeasures.lineLength(a3, 3)) == bits(l.getLength)) // 5 + 6
    checkBounds(l, NativeMeasures.boundLine(a3, 3, _, _))
    val shell = f.createLinearRing(Array(
      new Coordinate(0, 0, 1), new Coordinate(10, 0, 1),
      new Coordinate(10, 10, 1), new Coordinate(0, 10, 1), new Coordinate(0, 0, 1)))
    val p = f.createPolygon(shell)
    val ar = arrRings(p, 3)
    assert(bits(NativeMeasures.polygonArea(ar, 3)) == bits(p.getArea))
    assert(bits(NativeMeasures.ringsLength(ar, 3)) == bits(p.getLength))
  }

  test("empty shapes: zero measures, null bounds, JTS sentinel parity") {
    val el = f.createLineString(Array.empty[Coordinate])
    val ea = arrCoords(el.getCoordinates, 2)
    assert(NativeMeasures.lineLength(ea, 2) == 0.0)
    assert(NativeMeasures.boundLine(ea, 2, 0, true) == null)
    // the direct-kernel rewrite supplies the JTS null-envelope sentinel —
    // pin the JTS side so the 0/-1 constants in the rule stay honest
    assert(el.getEnvelopeInternal.getMinX == 0.0 && el.getEnvelopeInternal.getMaxX == -1.0)
    assert(el.getEnvelopeInternal.getMinY == 0.0 && el.getEnvelopeInternal.getMaxY == -1.0)
    val ep = f.createPolygon()
    val epa = arrRings(ep, 2)
    assert(NativeMeasures.polygonArea(epa, 2) == 0.0)
    assert(NativeMeasures.boundShell(epa, 2, 1, false) == null)
    assert(NativeMeasures.isEmptyPolygon(epa))
    assert(NativeMeasures.numPointsL2(epa) == ep.getNumPoints)
    // MULTIPOINT (3 4, EMPTY): EMPTY member is the all-NaN sentinel row
    val mp = f.createMultiPoint(Array(f.createPoint(new Coordinate(3, 4)), f.createPoint()))
    val mpa = arrMp(mp, 2)
    assert(NativeMeasures.numPointsMultiPoint(mpa, 2) == 1)
    checkBounds(mp, NativeMeasures.boundMultiPoint(mpa, 2, _, _))
    assert(!NativeMeasures.isEmptyMultiPoint(mpa, 2))
    val allEmpty = f.createMultiPoint(Array(f.createPoint(), f.createPoint()))
    assert(NativeMeasures.isEmptyMultiPoint(arrMp(allEmpty, 2), 2))
    assert(NativeMeasures.boundMultiPoint(arrMp(allEmpty, 2), 2, 0, true) == null)
  }

  test("multipoint mixed-NaN members collapse to EMPTY like the WKB hop") {
    // The slow path the kernels replace is native → gaMultiPoint → WKB →
    // WKBReader, and JTS 1.20's WKBReader.readPoint collapses a member to
    // POINT EMPTY when isNaN(x) || isNaN(y) — not only when both are NaN.
    // A member like (5, NaN) must therefore be skipped/counted-0 by the
    // native kernels too (round-19 advisor finding). The oracle here IS
    // that chain: transcode the raw array, reparse, compare.
    import graft.core.{GeoArrowOps, GeomOps}
    def mk(members: (Double, Double)*): ArrayData =
      new GenericArrayData(members.map { case (x, y) =>
        new GenericInternalRow(Array[Any](x, y)): Any }.toArray)
    val cases = Seq(
      mk((5.0, Double.NaN), (1.0, 2.0), (Double.NaN, 7.0)),   // mixed NaN + real
      mk((5.0, Double.NaN), (Double.NaN, 7.0)),               // all members NaN-bearing
      mk((Double.NaN, Double.NaN), (3.0, 4.0)),               // classic sentinel + real
      mk((0.0, 0.0), (Double.NaN, Double.NaN), (5.0, Double.NaN)))
    cases.foreach { a =>
      val viaWkb = GeomOps.read(GeoArrowOps.gaMultiPoint(a, z = false, m = false))
      assert(NativeMeasures.numPointsMultiPoint(a, 2) == viaWkb.getNumPoints,
        s"numPoints vs ${viaWkb.toText}")
      assert(NativeMeasures.isEmptyMultiPoint(a, 2) == viaWkb.isEmpty,
        s"isEmpty vs ${viaWkb.toText}")
      checkBounds(viaWkb, NativeMeasures.boundMultiPoint(a, 2, _, _))
      checkCentroid(viaWkb, NativeMeasures.centroidMultiPoint(a, 2))
    }
  }

  // ── layer 2: the plan rewrite over native GeoParquet files ────────────

  /** WKT corpus per native encoding, incl. EMPTY and NULL rows */
  private def corpusFor(kind: String): Seq[String] = {
    val base = kind match {
      case "linestring" => WktFuzzGen.all.filter(_.startsWith("LINESTRING")) :+ "LINESTRING EMPTY"
      case "polygon" => WktFuzzGen.all.filter(_.startsWith("POLYGON")) :+ "POLYGON EMPTY"
      case "multipoint" => WktFuzzGen.all.filter(_.startsWith("MULTIPOINT")) ++
        Seq("MULTIPOINT EMPTY", "MULTIPOINT ((1 1), EMPTY)")
      case "multilinestring" => Seq(
        "MULTILINESTRING ((0 0, 3 4), (1 1, 2 2, 4 1))",
        "MULTILINESTRING ((10 10, 20 10, 20 20))",
        "MULTILINESTRING EMPTY",
        "MULTILINESTRING ((-5 2, -7 9))")
      case "multipolygon" => WktFuzzGen.all.filter(_.startsWith("MULTIPOLYGON")) :+
        "MULTIPOLYGON EMPTY"
    }
    base :+ null
  }

  private def nativeTable(kind: String): String = {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"nnfp_${kind}_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    import spark.implicits._
    val df = corpusFor(kind).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("fid", "wkt")
      .selectExpr("fid", "CASE WHEN wkt IS NULL THEN NULL ELSE ST_GeomFromText(wkt) END AS geometry")
    GeoParquet.write(df.coalesce(1), out, encoding = kind, covering = false)
    out
  }

  private val measureSql =
    """SELECT fid, ST_Length(geometry) AS len, ST_Area(geometry) AS area,
      |       ST_Perimeter(geometry) AS perim, ST_NPoints(geometry) AS np,
      |       ST_XMin(geometry) AS x0, ST_YMin(geometry) AS y0,
      |       ST_XMax(geometry) AS x1, ST_YMax(geometry) AS y1,
      |       ST_IsEmpty(geometry) AS emp,
      |       ST_AsText(ST_Centroid(geometry)) AS cent
      |FROM nnfp_t ORDER BY fid""".stripMargin

  private def runBoth(dir: String): (Array[org.apache.spark.sql.Row],
                                     Array[org.apache.spark.sql.Row], String) = {
    GeoParquet.read(spark, dir).createOrReplaceTempView("nnfp_t")
    spark.conf.set("spark.graft.nativePointFastPath", "true")
    val fastQ = spark.sql(measureSql)
    val plan = fastQ.queryExecution.optimizedPlan.toString
    val fast = fastQ.collect()
    spark.conf.set("spark.graft.nativePointFastPath", "false")
    val slow = try spark.sql(measureSql).collect()
    finally spark.conf.set("spark.graft.nativePointFastPath", "true")
    (fast, slow, plan)
  }

  private def assertCellExact(kind: String): Unit = {
    val dir = nativeTable(kind)
    val (fast, slow, plan) = runBoth(dir)
    assert(!plan.contains("gaLineString") && !plan.contains("gaPolygon") &&
      !plan.contains("gaMultiPoint") && !plan.contains("gaMultiLineString") &&
      !plan.contains("gaMultiPolygon"),
      s"[$kind] WKB transcode survived:\n$plan")
    assert(fast.length == slow.length && fast.nonEmpty)
    fast.zip(slow).foreach { case (a, b) =>
      (0 until a.length).foreach { i =>
        val cell = (a.isNullAt(i), b.isNullAt(i)) match {
          case (true, true) => true
          case (false, false) => a.get(i) match {
            case d: java.lang.Double => bits(d) == bits(b.getDouble(i))
            case v => v == b.get(i)
          }
          case _ => false
        }
        assert(cell, s"[$kind] fid=${a.get(0)} col=$i fast=${a.get(i)} wkb=${b.get(i)}")
      }
    }
  }

  test("native linestring: measures bit-exact, transcode gone")(assertCellExact("linestring"))
  test("native polygon: measures bit-exact, transcode gone")(assertCellExact("polygon"))
  test("native multipoint: measures bit-exact, transcode gone")(assertCellExact("multipoint"))
  test("native multilinestring: measures bit-exact, transcode gone")(assertCellExact("multilinestring"))
  test("native multipolygon: measures bit-exact, transcode gone")(assertCellExact("multipolygon"))

  test("ST_Extent_Agg over a native polygon column rewrites to shell min/max") {
    val dir = nativeTable("polygon")
    GeoParquet.read(spark, dir).createOrReplaceTempView("nnfp_ext")
    spark.conf.set("spark.graft.nativePointFastPath", "true")
    val q = spark.sql("SELECT ST_Extent_Agg(geometry) AS ext FROM nnfp_ext")
    val plan = q.queryExecution.optimizedPlan.toString
    assert(!plan.contains("gaPolygon"), s"transcode survived:\n$plan")
    assert(!plan.toLowerCase.contains("scalaaggregator"),
      s"ExtentAgg UDAF survived the rewrite:\n$plan")
    val ext = q.head().getStruct(0)
    spark.conf.set("spark.graft.nativePointFastPath", "false")
    val truth = try spark.sql("SELECT ST_Extent_Agg(geometry) AS ext FROM nnfp_ext").head().getStruct(0)
    finally spark.conf.set("spark.graft.nativePointFastPath", "true")
    (0 until 4).foreach(i => assert(bits(ext.getDouble(i)) == bits(truth.getDouble(i)),
      s"extent field $i: ${ext.getDouble(i)} vs ${truth.getDouble(i)}"))
    // all-EMPTY group yields NULL, as on the WKB path
    val grouped = spark.sql("""
      SELECT CASE WHEN geometry IS NULL OR ST_IsEmpty(geometry) THEN 'bad' ELSE 'ok' END AS k,
             ST_Extent_Agg(geometry) AS ext
      FROM nnfp_ext GROUP BY 1 ORDER BY 1""").collect()
    assert(grouped.length == 2 && grouped(0).isNullAt(1) && !grouped(1).isNullAt(1))
  }

  test("edge-model lengths: unit kernels == Geodesy chains bit-for-bit") {
    import graft.core.{Geodesy, GeomOps, NativeMeasures}
    val reader = new org.locationtech.jts.io.WKTReader(f)
    val lines = WktFuzzGen.all.filter(_.startsWith("LINESTRING")).take(120)
    lines.foreach { wkt =>
      val l = reader.read(wkt).asInstanceOf[LineString]
      val a = arrCoords(l.getCoordinates, 2)
      val wkb = GeomOps.write(l)
      assert(bits(NativeMeasures.edgeLengthLine(a, 2, 0)) == bits(Geodesy.lengthSphere(wkb)), wkt)
      assert(bits(NativeMeasures.edgeLengthLine(a, 2, 1)) == bits(Geodesy.lengthSpheroid(wkb)), wkt)
      assert(bits(NativeMeasures.edgeLengthLine(a, 2, 2)) == bits(Geodesy.lengthGeodesic(wkb)), wkt)
      assert(bits(NativeMeasures.edgeLengthLine(a, 2, 3)) == bits(Geodesy.lengthVincenty(wkb)), wkt)
    }
    // multilinestring: FLAT accumulation across members, like the kernels
    val m = f.createMultiLineString(Array(
      f.createLineString(Array(new Coordinate(0, 0), new Coordinate(3, 4), new Coordinate(5, 5))),
      f.createLineString(Array(new Coordinate(10, 10), new Coordinate(11, 12)))))
    val ma = arrMls(m, 2)
    val mw = graft.core.GeomOps.write(m)
    (0 to 3).foreach { metric =>
      val kernel = metric match {
        case 0 => graft.core.Geodesy.lengthSphere _
        case 1 => graft.core.Geodesy.lengthSpheroid _
        case 2 => graft.core.Geodesy.lengthGeodesic _
        case _ => graft.core.Geodesy.lengthVincenty _
      }
      assert(bits(NativeMeasures.edgeLengthL2(ma, 2, metric)) == bits(kernel(mw)))
    }
  }

  test("edges-stamped native linestring: ST_Length dispatches AND drops the transcode") {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "nnfp_edges_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    import spark.implicits._
    val df = WktFuzzGen.all.filter(_.startsWith("LINESTRING")).take(60).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("fid", "wkt")
      .selectExpr("fid", "ST_GeomFromText(wkt) AS geometry")
    GeoParquet.write(df.coalesce(1), out, encoding = "linestring", covering = false,
      edges = Some("spherical"))
    GeoParquet.read(spark, out).createOrReplaceTempView("nnfp_e")
    spark.conf.set("spark.graft.nativePointFastPath", "true")
    val q = spark.sql("SELECT fid, ST_Length(geometry) AS len FROM nnfp_e ORDER BY fid")
    val plan = q.queryExecution.optimizedPlan.toString
    assert(!plan.contains("gaLineString"), s"transcode survived:\n$plan")
    assert(plan.contains("edgeLengthLine"), s"edge dispatch lost:\n$plan")
    val fast = q.collect()
    spark.conf.set("spark.graft.nativePointFastPath", "false")
    val slow = try spark.sql(
      "SELECT fid, ST_Length(geometry) AS len FROM nnfp_e ORDER BY fid").collect()
    finally spark.conf.set("spark.graft.nativePointFastPath", "true")
    fast.zip(slow).foreach { case (a, b) =>
      assert(bits(a.getDouble(1)) == bits(b.getDouble(1)),
        s"fid ${a.getLong(0)}: ${a.getDouble(1)} vs ${b.getDouble(1)}")
    }
    // and the values really are the spherical model, not planar degrees
    assert(fast.forall(_.getDouble(1) > 1000.0), "meters, not degrees")
  }

  test("edge-model areas/perimeters: unit kernels == Geodesy chains bit-for-bit") {
    import graft.core.{Geodesy, GeomOps, NativeMeasures}
    val reader = new org.locationtech.jts.io.WKTReader(f)
    var (nPoly, nMpoly) = (0, 0)
    WktFuzzGen.all.foreach { wkt =>
      reader.read(wkt) match {
        case p: Polygon =>
          val a = arrRings(p, 2)
          val w = GeomOps.write(p)
          assert(bits(NativeMeasures.sphereAreaPolygon(a, 2)) == bits(Geodesy.areaSphere(w)), wkt)
          assert(bits(NativeMeasures.spheroidAreaPolygon(a, 2)) == bits(Geodesy.areaSpheroid(w)), wkt)
          assert(bits(NativeMeasures.edgePerimRings(a, 2, 1)) == bits(Geodesy.perimeterSpheroid(w)), wkt)
          assert(bits(NativeMeasures.edgePerimRings(a, 2, 2)) == bits(Geodesy.perimeterGeodesic(w)), wkt)
          // sphere perimeter = lengthSphere over the boundary rings, flat
          assert(bits(NativeMeasures.edgeLengthL2(a, 2, 0)) ==
            bits(Geodesy.lengthSphere(GeomOps.write(p.getBoundary))), wkt)
          nPoly += 1
        case m: MultiPolygon =>
          val a = arrMPoly(m, 2)
          val w = GeomOps.write(m)
          assert(bits(NativeMeasures.sphereAreaMultiPolygon(a, 2)) == bits(Geodesy.areaSphere(w)), wkt)
          assert(bits(NativeMeasures.spheroidAreaMultiPolygon(a, 2)) == bits(Geodesy.areaSpheroid(w)), wkt)
          assert(bits(NativeMeasures.edgePerimL3(a, 2, 1)) == bits(Geodesy.perimeterSpheroid(w)), wkt)
          assert(bits(NativeMeasures.edgeLengthL3(a, 2, 0)) ==
            bits(Geodesy.lengthSphere(GeomOps.write(m.getBoundary))), wkt)
          nMpoly += 1
        case _ =>
      }
    }
    assert(nPoly > 100 && nMpoly > 50, s"coverage poly=$nPoly mpoly=$nMpoly")
  }

  test("edges-stamped native polygon: ST_Area/ST_Perimeter dispatch transcode-free") {
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "nnfp_edgespg_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    import spark.implicits._
    val df = WktFuzzGen.all.filter(_.startsWith("POLYGON")).take(60).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("fid", "wkt")
      .selectExpr("fid", "ST_GeomFromText(wkt) AS geometry")
    GeoParquet.write(df.coalesce(1), out, encoding = "polygon", covering = false,
      edges = Some("spherical"))
    GeoParquet.read(spark, out).createOrReplaceTempView("nnfp_epg")
    spark.conf.set("spark.graft.nativePointFastPath", "true")
    val sql = """SELECT fid, ST_Area(geometry) AS a, ST_Perimeter(geometry) AS p
                 FROM nnfp_epg ORDER BY fid"""
    val q = spark.sql(sql)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(!plan.contains("gaPolygon"), s"transcode survived:\n$plan")
    assert(plan.contains("sphereAreaPolygon") && plan.contains("edgeLengthL2"),
      s"edge dispatch lost:\n$plan")
    val fast = q.collect()
    spark.conf.set("spark.graft.nativePointFastPath", "false")
    val slow = try spark.sql(sql).collect()
    finally spark.conf.set("spark.graft.nativePointFastPath", "true")
    fast.zip(slow).foreach { case (a, b) =>
      assert(bits(a.getDouble(1)) == bits(b.getDouble(1)) &&
        bits(a.getDouble(2)) == bits(b.getDouble(2)), s"fid ${a.getLong(0)}")
    }
    assert(fast.forall(r => r.getDouble(1) > 1e6 && r.getDouble(2) > 1e3),
      "square meters / meters, not degrees")
  }

  test("ST_Extent_Agg NaN poison parity: degenerate coordinates match the WKB reduce") {
    // The extent folds with Math.min/max, which PROPAGATE NaN; Spark's
    // Min/Max would silently drop it (round-19 review finding). EMPTY
    // points (both-NaN) still skip; a single-NaN ordinate poisons exactly
    // that ordinate.
    val ptDir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "nnfp_nan_pt_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val pts = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE WHEN id = 3 THEN ST_Point(CAST('NaN' AS DOUBLE), 7.0)
                  WHEN id = 5 THEN ST_GeomFromText('POINT EMPTY')
                  ELSE ST_Point(CAST(id AS DOUBLE), CAST(id AS DOUBLE) + 1.0) END AS geometry
      FROM range(10)""")
    GeoParquet.write(pts.coalesce(1), ptDir, encoding = "point", covering = false)
    val lnDir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "nnfp_nan_ln_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath
    val lns = spark.sql("""
      SELECT CAST(id AS BIGINT) AS fid,
             CASE WHEN id = 2 THEN ST_GeomFromText('LINESTRING (NaN 1, 4 4)')
                  WHEN id = 6 THEN ST_GeomFromText('LINESTRING EMPTY')
                  ELSE ST_GeomFromText(CONCAT('LINESTRING (', id, ' 0, ', id + 1, ' 2)')) END AS geometry
      FROM range(10)""")
    GeoParquet.write(lns.coalesce(1), lnDir, encoding = "linestring", covering = false)
    def both(dir: String): (org.apache.spark.sql.Row, org.apache.spark.sql.Row) = {
      GeoParquet.read(spark, dir).createOrReplaceTempView("nnfp_nan")
      spark.conf.set("spark.graft.nativePointFastPath", "true")
      val fast = spark.sql("SELECT ST_Extent_Agg(geometry) AS e FROM nnfp_nan").head().getStruct(0)
      spark.conf.set("spark.graft.nativePointFastPath", "false")
      val slow = try spark.sql("SELECT ST_Extent_Agg(geometry) AS e FROM nnfp_nan").head().getStruct(0)
      finally spark.conf.set("spark.graft.nativePointFastPath", "true")
      (0 until 4).foreach { i =>
        assert(bits(fast.getDouble(i)) == bits(slow.getDouble(i)),
          s"[$dir] field $i: fast ${fast.getDouble(i)} vs wkb ${slow.getDouble(i)}")
      }
      (fast, slow)
    }
    // POINTS: a NaN-bearing point COLLAPSES to POINT EMPTY through the
    // WKB hop (JTS WKBReader convention) — both paths must SKIP it
    val (fp, _) = both(ptDir)
    assert(!fp.getDouble(0).isNaN && fp.getDouble(0) == 0.0,
      s"NaN-bearing point must be skipped, not poison: $fp")
    // LINESTRINGS keep NaN coordinates through WKB — the row's envelope
    // has a NaN minX and must POISON exactly that ordinate
    val (fl, _) = both(lnDir)
    assert(fl.getDouble(0).isNaN && !fl.getDouble(1).isNaN,
      s"NaN line coordinate must poison xmin only: $fl")
  }

  test("a spatial join on native linestring columns keeps the spatial strategy") {
    val dir = nativeTable("linestring")
    GeoParquet.read(spark, dir).createOrReplaceTempView("nnfp_j")
    val j = spark.sql("""
      SELECT COUNT(*) FROM nnfp_j a JOIN nnfp_j b
      ON ST_Intersects(a.geometry, b.geometry)""")
    val phys = j.queryExecution.executedPlan.toString
    assert(phys.contains("SpatialJoin") || phys.contains("GridSpatialJoin"),
      s"native linestring spatial join lost the strategy:\n$phys")
    assert(!phys.contains("BroadcastNestedLoopJoin"), s"BNLJ:\n$phys")
    assert(j.head().getLong(0) > 0L)
  }
}
