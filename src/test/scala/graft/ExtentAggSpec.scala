package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.Coordinate
import org.locationtech.jts.io.WKTReader

import graft.core.GeomOps

/** Differential check of `ST_Extent_Agg` and `ST_3DExtent_Agg` against a
  * plain-Scala reduce: per row the JTS envelope (2D) or the coordinate
  * walk (3D), folded with `java.lang.Math.min`/`max`, NULL and EMPTY rows
  * skipped, a group with nothing folded giving NULL. Every ordinate must
  * match bit for bit on a seeded table at 1, 3 and 8 partitions, on both
  * wirings (`register` and `GraftExtensions`), and the fold must plan as
  * `HashAggregate`. */
class ExtentAggSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val f = GeomOps.factory
  private val wkt = new WKTReader(f)
  private def w(s: String): Array[Byte] = GeomOps.write(wkt.read(s))
  private def pt(x: Double, y: Double): Array[Byte] =
    GeomOps.write(f.createPoint(new Coordinate(x, y)))

  /** (group, geometry, filter flag) */
  private val rows2d: Seq[(Int, Array[Byte], Boolean)] = {
    val rnd = new scala.util.Random(20261019)
    def c = rnd.nextDouble() * 20.0
    val random = (0 until 300).map { i =>
      val g = rnd.nextInt(3) match {
        case 0 => pt(c, c)
        case 1 => GeomOps.write(f.createLineString(Array(new Coordinate(c, c), new Coordinate(c, c))))
        case _ =>
          val (x, y) = (c, c)
          w(s"POLYGON (($x $y, ${x + 1} $y, ${x + 1} ${y + 1}, $x $y))")
      }
      (i % 5, g, rnd.nextBoolean())
    }
    val special = Seq(
      (0, w("POINT EMPTY"), true),
      (0, null, true),
      (1, w("LINESTRING (NaN 1, 4 4)"), true),      // NaN leads: x bounds are NaN
      (2, w("LINESTRING (1 1, NaN 5, 3 3)"), true), // a later NaN: the envelope skips it
      (4, w("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (5 5, 40 5, 5 8, 5 5))"), true),
      (4, w("GEOMETRYCOLLECTION (POINT EMPTY, LINESTRING (2 -3, 4 5))"), false),
      // signed zeros only: xmin = -0.0, xmax = 0.0
      (5, pt(-0.0, -0.0), true), (5, pt(0.0, 0.0), false), (5, pt(-0.0, 0.0), true),
      // nothing to fold: NULL extents
      (6, null, true), (6, null, false),
      (7, w("POINT EMPTY"), true), (7, null, true))
    random ++ special
  }

  private val rows3d: Seq[(Int, Array[Byte], Boolean)] = Seq(
    (0, w("POINT (1 2)"), true), (0, w("LINESTRING (0 0, 3 4)"), true),          // no Z
    (1, w("POINT Z (1 2 5)"), true), (1, w("POINT (3 4)"), true),                 // mixed Z
    (1, w("LINESTRING Z (0 0 -1, 1 1 7)"), true),
    (2, w("POINT Z (1 2 NaN)"), true), (2, w("POINT Z (2 3 4)"), true),           // NaN Z
    (3, w("POINT EMPTY"), true), (3, null, true),
    (4, w("LINESTRING Z (-0 1 -0, 0 -0 0)"), true), (4, w("POINT Z (0 0 0)"), true))

  private type Box = Option[Seq[Double]]

  /** the reference 2D reduce: JTS envelope per row, Math.min/max */
  private def extent2d(gs: Seq[Array[Byte]]): Box = {
    val inf = Double.PositiveInfinity
    var b = Seq(inf, inf, -inf, -inf)
    gs.filter(_ != null).map(GeomOps.read(_).getEnvelopeInternal).filterNot(_.isNull).foreach { e =>
      b = Seq(Math.min(b(0), e.getMinX), Math.min(b(1), e.getMinY),
        Math.max(b(2), e.getMaxX), Math.max(b(3), e.getMaxY))
    }
    if (b.head.isInfinite) None else Some(b)
  }

  /** the reference 3D reduce: every coordinate, NaN Z skipped, no Z → 0 */
  private def extent3d(gs: Seq[Array[Byte]]): Box = {
    val inf = Double.PositiveInfinity
    val b = Array(inf, inf, inf, -inf, -inf, -inf)
    gs.filter(_ != null).map(GeomOps.read).filterNot(_.isEmpty).flatMap(_.getCoordinates).foreach { c =>
      b(0) = Math.min(b(0), c.x); b(1) = Math.min(b(1), c.y)
      if (!c.getZ.isNaN) { b(2) = Math.min(b(2), c.getZ); b(5) = Math.max(b(5), c.getZ) }
      b(3) = Math.max(b(3), c.x); b(4) = Math.max(b(4), c.y)
    }
    if (b(0).isInfinite) None
    else if (b(2).isInfinite) Some(b.toSeq.updated(2, 0.0).updated(5, 0.0))
    else Some(b.toSeq)
  }

  private def table(s: SparkSession, rows: Seq[(Int, Array[Byte], Boolean)], parts: Int): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows.map { case (k, g, fl) => Row(k, g, fl) }, parts),
      StructType(Seq(StructField("k", IntegerType), StructField("g", BinaryType),
        StructField("f", BooleanType))))

  private def box(r: Row, i: Int): Box =
    if (r.isNullAt(i)) None
    else { val s = r.getStruct(i); Some((0 until s.length).map(s.getDouble)) }

  private def rawBits(b: Box) = b.map(_.map(java.lang.Double.doubleToRawLongBits))

  private def aggregates(plan: SparkPlan): Seq[String] = collect(plan) {
    case a: HashAggregateExec => "HashAggregate"
    case a: ObjectHashAggregateExec => "ObjectHashAggregate"
    case a: SortAggregateExec => "SortAggregate"
  }

  private def wirings: Seq[(String, SparkSession)] =
    Seq("registered" -> spark, "injected" -> GraftExtensionsSpec.injectedSession(spark))

  private val bboxType = StructType(Seq("xmin", "ymin", "xmax", "ymax")
    .map(StructField(_, DoubleType, nullable = false)))
  private val bbox3Type = StructType(Seq("xmin", "ymin", "zmin", "xmax", "ymax", "zmax")
    .map(StructField(_, DoubleType, nullable = false)))

  /** runs `query` and compares each group's extent (column 1) with
    * `expected(k)` bit for bit */
  private def check(wiring: String, s: SparkSession, parts: Int, query: String,
                    expected: Map[Int, Box], tpe: StructType): Unit = {
    val df = s.sql(query)
    assert(df.schema(1).dataType == tpe && df.schema(1).nullable, s"[$wiring] ${df.schema}")
    val got = df.collect().map(r => r.getInt(0) -> box(r, 1)).toMap
    assert(got.keySet == expected.keySet, s"[$wiring/$parts] $query groups")
    expected.foreach { case (k, want) =>
      assert(rawBits(got(k)) == rawBits(want),
        s"[$wiring/$parts] $query group $k: ${got(k)} vs reference $want")
    }
    val aggs = aggregates(df.queryExecution.executedPlan)
    assert(aggs.contains("HashAggregate") && aggs.forall(_ == "HashAggregate"),
      s"[$wiring] $query planned $aggs")
  }

  private def byGroup(rows: Seq[(Int, Array[Byte], Boolean)])(
      reduce: Seq[Array[Byte]] => Box): Map[Int, Box] =
    rows.groupBy(_._1).map { case (k, rs) => k -> reduce(rs.map(_._2)) }

  test("ST_Extent_Agg equals the reference reduce bit for bit: GROUP BY, FILTER, DISTINCT") {
    val plain = byGroup(rows2d)(extent2d)
    val filtered = rows2d.groupBy(_._1).map { case (k, rs) =>
      k -> extent2d(rs.filter(_._3).map(_._2)) }
    val distinct = rows2d.groupBy(_._1).map { case (k, rs) =>
      k -> extent2d(rs.map(_._2).distinctBy(b => Option(b).map(_.toSeq))) }
    // the inputs the reference must see: NaN x, -0.0, NULL groups
    assert(plain(1).exists(_.head.isNaN) && plain(5).exists(b => rawBits(Some(b)) ==
      Some(Seq(-0.0, -0.0, 0.0, 0.0).map(java.lang.Double.doubleToRawLongBits))))
    assert(plain(6).isEmpty && plain(7).isEmpty && plain(4).exists(_(2) < 40.0))
    for ((wiring, s) <- wirings; parts <- Seq(1, 3, 8)) {
      table(s, rows2d, parts).createOrReplaceTempView("extent_t")
      check(wiring, s, parts, "SELECT k, ST_Extent_Agg(g) FROM extent_t GROUP BY k", plain, bboxType)
      check(wiring, s, parts,
        "SELECT k, ST_Extent_Agg(g) FILTER (WHERE f) FROM extent_t GROUP BY k", filtered, bboxType)
      check(wiring, s, parts,
        "SELECT k, ST_Extent_Agg(DISTINCT g) FROM extent_t GROUP BY k", distinct, bboxType)
      check(wiring, s, parts, "SELECT 0 AS k, ST_Extent_Agg(g) FROM extent_t",
        Map(0 -> extent2d(rows2d.map(_._2))), bboxType)
      assert(s.sql("SELECT ST_Extent_Agg(g) FROM extent_t").columns.toSeq == Seq("st_extent_agg(g)"))
    }
  }

  test("ST_3DExtent_Agg equals the reference reduce: no Z, mixed Z, NaN Z") {
    val expected = byGroup(rows3d)(extent3d)
    assert(expected(0).exists(b => b(2) == 0.0 && b(5) == 0.0) &&
      expected(2).exists(b => b(2) == 4.0) && expected(3).isEmpty)
    for ((wiring, s) <- wirings; parts <- Seq(1, 3, 8)) {
      table(s, rows3d, parts).createOrReplaceTempView("extent3_t")
      check(wiring, s, parts, "SELECT k, ST_3DExtent_Agg(g) FROM extent3_t GROUP BY k",
        expected, bbox3Type)
      assert(s.sql("SELECT ST_3DExtent_Agg(g) FROM extent3_t").columns.toSeq ==
        Seq("st_3dextent_agg(g)"))
    }
  }
}
