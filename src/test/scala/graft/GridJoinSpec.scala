package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import org.locationtech.jts.geom.{Coordinate, Geometry}

import graft.core.GeomOps
import graft.operators.SpatialJoin

/** `SpatialJoin.grid` against a JTS brute force, its plan and its jobs, and
  * which residual conjuncts the big×big exec may evaluate before its exact
  * refine test. Every query here runs under ANSI mode. */
class GridJoinSpec extends SparkTestBase {

  private def ansi[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try body finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  private def withBroadcastOff[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private val gf = GeomOps.factory
  private val rnd = new scala.util.Random(20261018)

  /** Points: 70% in a hotspot of radius ~1 around (20, 20), the rest
    * uniform over [0, 50]², then one null and one empty point. */
  private val points: Seq[(Long, Geometry)] = {
    val pts = (0 until 1500).map { i =>
      val (x, y) =
        if (i % 10 < 7) (20 + rnd.nextGaussian() * 0.7, 20 + rnd.nextGaussian() * 0.7)
        else (rnd.nextDouble() * 50, rnd.nextDouble() * 50)
      i.toLong -> (gf.createPoint(new Coordinate(x, y)): Geometry)
    }
    pts ++ Seq(1500L -> null, 1501L -> gf.createPoint())
  }

  /** Star polygons 0.5–3 wide, a quarter of them over the hotspot, then
    * one null and one empty polygon. */
  private val polygons: Seq[(Long, Geometry)] = {
    val polys = (0 until 120).map { i =>
      val (cx, cy) =
        if (i % 4 == 0) (19 + rnd.nextDouble() * 2, 19 + rnd.nextDouble() * 2)
        else (rnd.nextDouble() * 50, rnd.nextDouble() * 50)
      val r = 0.25 + rnd.nextDouble() * 1.25
      val n = 5 + rnd.nextInt(6)
      val ring = (0 to 2 * n).map { j =>
        val a = math.Pi * (j % (2 * n)) / n
        val rr = if (j % 2 == 0) r else r * 0.45
        new Coordinate(cx + rr * math.cos(a), cy + rr * math.sin(a))
      }
      i.toLong -> (gf.createPolygon(ring.toArray): Geometry)
    }
    polys ++ Seq(120L -> null, 121L -> gf.createPolygon())
  }

  /** Squares 0.1–0.4 wide, 75% of them in a hotspot around (20, 20):
    * unlike points, two squares or a square and a polygon can share many
    * cells, so a pair is found in several cells and must be emitted once. */
  private val squares: Seq[(Long, Geometry)] = (0 until 800).map { i =>
    val (x, y) =
      if (i % 4 < 3) (20 + rnd.nextGaussian() * 0.5, 20 + rnd.nextGaussian() * 0.5)
      else (rnd.nextDouble() * 50, rnd.nextDouble() * 50)
    val h = 0.05 + rnd.nextDouble() * 0.15
    i.toLong -> gf.toGeometry(new org.locationtech.jts.geom.Envelope(x - h, x + h, y - h, y + h))
  } ++ Seq(800L -> null)

  private def frame(rows: Seq[(Long, Geometry)], id: String, geom: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (i, g) => Row(i, if (g == null) null else GeomOps.write(g)) }, 4),
      StructType(Seq(StructField(id, LongType), StructField(geom, BinaryType))))

  private lazy val pointDf = frame(points, "pid", "pg")
  private lazy val polygonDf = frame(polygons, "zid", "zg")

  private lazy val squareDf = frame(squares, "pid", "pg")

  private def bruteForce(left: Seq[(Long, Geometry)]): Set[(Long, Long)] =
    (for {
      (p, pg) <- left if pg != null && !pg.isEmpty
      (z, zg) <- polygons if zg != null && !zg.isEmpty && pg.intersects(zg)
    } yield (p, z)).toSet

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("pid", "zid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("SpatialJoin.grid == JTS brute force at every cell size, nulls and empties included") {
    Seq("points" -> (points, pointDf), "squares" -> (squares, squareDf)).foreach {
      case (name, (left, leftDf)) =>
        val expected = bruteForce(left)
        assert(expected.size > 500, s"$name: fixture decayed, ${expected.size} pairs")
        // far below the polygons' envelope size (each covers hundreds of
        // cells), about equal to it, and larger than the whole extent
        Seq(0.07, 2.0, 500.0).foreach { cs =>
          val got = ansi(pairs(SpatialJoin.grid(leftDf, polygonDf, "pg", "zg", cs)))
          assert(got.length == got.toSet.size, s"$name, cell $cs: a pair was emitted twice")
          assert(got.toSet == expected, s"$name, cell $cs: " +
            s"${got.toSet.diff(expected).size} extra, ${expected.diff(got.toSet).size} missing")
        }
        // the polygon side on the left: the same pairs
        val swapped = ansi(pairs(SpatialJoin.grid(polygonDf, leftDf, "zg", "pg", 2.0)))
        assert(swapped.length == expected.size && swapped.toSet == expected, name)
    }
  }

  test("SpatialJoin.grid plans GridSpatialJoin, never broadcasts, and runs no sampling job") {
    val df = SpatialJoin.grid(pointDf, polygonDf, "pg", "zg", 2.0)
    assert(df.columns.toSeq == Seq("pid", "pg", "zid", "zg"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GridSpatialJoin"), plan)
    assert(!plan.contains("BroadcastExchange") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // one job: the join's own, whose shuffles run as its stages
    var n = 0
    assert(SparkJobs.count(spark) { n = df.collect().length } == 1)
    assert(n == bruteForce(points).size)
  }

  test("planner's big×big path: one sampling job, hot-cell subcells emit each pair once") {
    // 16 partitions: the squares' hotspot cell holds far more than 2/16
    // of their sample, so it is split into subcells that squares and
    // polygons both span
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    squareDf.createOrReplaceTempView("gj_squares")
    polygonDf.createOrReplaceTempView("gj_polys")
    try withBroadcastOff {
      val q = sql("SELECT pid, zid FROM gj_squares JOIN gj_polys ON ST_Intersects(pg, zg)")
      assert(q.queryExecution.executedPlan.toString.contains("GridSpatialJoin"))
      var got: Seq[(Long, Long)] = Nil
      // the sample of both sides is one job, the join another
      assert(SparkJobs.count(spark) { got = ansi(pairs(q)) } == 2)
      assert(got.length == got.toSet.size, "a pair was emitted twice")
      assert(got.toSet == bruteForce(squares))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("SpatialJoin.grid rejects a bad cell size and a non-binary geometry column") {
    intercept[IllegalArgumentException](SpatialJoin.grid(pointDf, polygonDf, "pg", "zg", 0.0))
    intercept[IllegalArgumentException](
      SpatialJoin.grid(pointDf, polygonDf, "pg", "zg", Double.PositiveInfinity))
    intercept[IllegalArgumentException](SpatialJoin.grid(
      pointDf.selectExpr("pid", "CAST(pid AS STRING) AS pg"), polygonDf, "pg", "zg", 1.0))
  }

  test("big×big residuals that can throw run only on refined pairs (ANSI)") {
    // one triangle; one point inside it and one inside its envelope but
    // outside the triangle. Every residual below fails on the outside
    // point's row (zero divisor, unparsable cast, index past the array),
    // so it may only run after the exact test has rejected that pair.
    // RDD-backed frames: nothing here may be constant-folded away
    def rdd(schema: String, rows: Row*): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), StructType.fromDDL(schema))
    def wkt(w: String) = GeomOps.write(new org.locationtech.jts.io.WKTReader(gf).read(w))
    rdd("aid BIGINT, ag BINARY, x INT, i INT",
      Row(1L, wkt("POLYGON((0 0, 4 0, 0 4, 0 0))"), 2, 2)).createOrReplaceTempView("rs_a")
    rdd("bid BIGINT, bg BINARY, d INT, s STRING, arr ARRAY<INT>",
      Row(10L, wkt("POINT(1 1)"), 1, "5", Seq(1, 2, 3)),
      Row(11L, wkt("POINT(3.5 3.5)"), 0, "abc", Seq(7))).createOrReplaceTempView("rs_b")
    Seq("x / d > 0.5", "CAST(s AS INT) > x", "element_at(arr, i) > 0").foreach { residual =>
      val q = s"SELECT aid, bid FROM rs_a JOIN rs_b ON ST_Intersects(ag, bg) AND $residual"
      val broadcast = ansi(sql(q).collect().toSeq)
      val grid = ansi(withBroadcastOff {
        val df = sql(q)
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("GridSpatialJoin") && plan.contains("Filter"), plan)
        df.collect().toSeq
      })
      assert(broadcast == Seq(Row(1L, 10L)), residual)
      assert(grid == broadcast, residual)
    }
  }

  test("throwFree admits boolean structure over attribute and literal comparisons only") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val a = AttributeReference("a", IntegerType)()
    val b = AttributeReference("b", IntegerType)()
    val s = AttributeReference("s", StringType)()
    val free = graft.plans.SpatialJoinStrategy.throwFree _
    assert(free(LessThan(a, b)))
    assert(free(And(Not(EqualTo(a, Literal(3))), Or(IsNull(s), In(b, Seq(Literal(1), Literal(2)))))))
    assert(free(InSet(a, Set(1, 2))) && free(IsNotNull(a)) && free(EqualNullSafe(s, Literal("x"))))
    assert(!free(GreaterThan(Divide(Cast(a, org.apache.spark.sql.types.DoubleType),
      Cast(b, org.apache.spark.sql.types.DoubleType)), Literal(1.0))))
    assert(!free(GreaterThan(Cast(s, IntegerType), a)))
    assert(!free(LessThan(Add(a, Literal(1)), b)))
    assert(!free(a))
  }
}
