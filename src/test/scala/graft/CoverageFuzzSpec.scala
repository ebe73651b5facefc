package graft

import org.locationtech.jts.io.WKTReader

import graft.core.GeomOps

/** Seeded property fuzz for the round-20 coverage/median/wrap batch —
  * invariants that hold for EVERY input, checked over hundreds of random
  * fixtures (splitmix64 streams, fully deterministic):
  *
  *  - coverage union of a random grid-subset coverage == cell count in
  *    area, == the overlay union's area, and validates as a coverage;
  *  - the coverage-union AGGREGATE answers byte-identical area across
  *    1 / 5 / 13 input partitions (partial-merge associativity);
  *  - ST_WrapX conserves area and maps the extent exactly;
  *  - ST_ShiftLongitude is an involution on [-180, 180] input;
  *  - ST_GeometricMedian's objective (sum of distances) beats the
  *    centroid's and every input point's — first-order optimality
  *    against the natural competitors.
  */
class CoverageFuzzSpec extends SparkTestBase {

  private val reader = new WKTReader(GeomOps.factory)
  private def wkb(w: String) = GeomOps.write(reader.read(w))

  private final class Rng(seed: Long) {
    private var s: Long = seed
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    def int(lo: Int, hi: Int): Int =
      lo + math.min((nextDouble() * (hi - lo + 1)).toInt, hi - lo)
  }

  /** random subset of a w×h unit grid (every cell kept with p≈0.7,
    * at least one kept) — always a valid coverage. */
  private def randomCoverage(r: Rng, w: Int, h: Int): (String, Int) = {
    val kept = (for { i <- 0 until w; j <- 0 until h if r.nextDouble() < 0.7 }
      yield (i, j)).toList match {
      case Nil => List((0, 0))
      case l => l
    }
    val wkt = kept.map { case (i, j) =>
      s"POLYGON (($i $j, ${i + 1} $j, ${i + 1} ${j + 1}, $i ${j + 1}, $i $j))"
    }.mkString("GEOMETRYCOLLECTION (", ", ", ")")
    (wkt, kept.length)
  }

  test("fuzz: coverage union area == cell count == overlay union, always valid") {
    val r = new Rng(0xC0FFEE01L)
    for (k <- 0 until 120) {
      val (wkt, n) = randomCoverage(r, r.int(2, 9), r.int(2, 9))
      val coll = wkb(wkt)
      val u = GeomOps.read(GeomOps.coverageUnion(coll))
      assert(u.getArea == n.toDouble, s"case $k: area ${u.getArea} != $n cells")
      val o = GeomOps.read(GeomOps.unaryUnion(coll))
      assert(u.symDifference(o).getArea < 1e-12, s"case $k: disagrees with overlay union")
      assert(GeomOps.coverageIsValidDefault(coll), s"case $k: grid subset must validate")
    }
  }

  test("fuzz: aggregate answers identically across partition counts") {
    import spark.implicits._
    val r = new Rng(0xC0FFEE02L)
    for (k <- 0 until 6) {
      val w = r.int(8, 14); val h = r.int(8, 14)
      val cells = (for { i <- 0 until w; j <- 0 until h if r.nextDouble() < 0.8 }
        yield s"POLYGON (($i $j, ${i + 1} $j, ${i + 1} ${j + 1}, $i ${j + 1}, $i $j))").toSeq
      val answers = Seq(1, 5, 13).map { parts =>
        val df = cells.toDF("wkt").repartition(parts)
          .selectExpr("ST_GeomFromText(wkt) AS g")
        df.createOrReplaceTempView("fuzz_cells")
        sql("SELECT ST_Area(ST_CoverageUnion_Agg(g)) FROM fuzz_cells").head().getDouble(0)
      }
      assert(answers.distinct.length == 1 && answers.head == cells.length.toDouble,
        s"case $k ($w x $h): partition-count-dependent answer $answers")
    }
  }

  test("fuzz: reworked ST_Union_Agg matches the scalar union across partition counts") {
    // OVERLAPPING random boxes — exercises the binary-counter collapse
    // through real overlay merges, not just edge-dissolves
    import spark.implicits._
    val r = new Rng(0xC0FFEE05L)
    for (k <- 0 until 5) {
      val n = r.int(40, 120)
      val boxes = (0 until n).map { _ =>
        val x = 100.0 * r.nextDouble(); val y = 100.0 * r.nextDouble()
        val w = 1.0 + 20.0 * r.nextDouble(); val h = 1.0 + 20.0 * r.nextDouble()
        f"POLYGON (($x%.6f $y%.6f, ${x + w}%.6f $y%.6f, ${x + w}%.6f ${y + h}%.6f, $x%.6f ${y + h}%.6f, $x%.6f $y%.6f))"
      }
      val truth = GeomOps.read(GeomOps.unaryUnion(wkb(
        boxes.mkString("GEOMETRYCOLLECTION (", ", ", ")")))).getArea
      val answers = Seq(1, 5, 13).map { parts =>
        val df = boxes.toDF("wkt").repartition(parts).selectExpr("ST_GeomFromText(wkt) AS g")
        df.createOrReplaceTempView("fuzz_union")
        sql("SELECT ST_Area(ST_Union_Agg(g)) FROM fuzz_union").head().getDouble(0)
      }
      answers.foreach { a =>
        assert(math.abs(a - truth) <= 1e-9 * truth,
          s"case $k (n=$n): agg $a vs scalar $truth")
      }
    }
  }

  test("fuzz: ST_WrapX conserves area; ST_ShiftLongitude is involutive") {
    val r = new Rng(0xC0FFEE03L)
    for (k <- 0 until 150) {
      val x0 = -180.0 + 300.0 * r.nextDouble()
      val wdt = 5.0 + 60.0 * r.nextDouble()
      val y0 = -80.0 + 120.0 * r.nextDouble()
      val hgt = 3.0 + 15.0 * r.nextDouble()
      val poly = wkb(f"POLYGON (($x0%.6f $y0%.6f, ${x0 + wdt}%.6f $y0%.6f, " +
        f"${x0 + wdt}%.6f ${y0 + hgt}%.6f, $x0%.6f ${y0 + hgt}%.6f, $x0%.6f $y0%.6f))")
      val in = GeomOps.read(poly)
      val areaIn = in.getArea
      val ein = in.getEnvelopeInternal // the 6-dp-snapped truth
      val wrap = -100.0 + 200.0 * r.nextDouble()
      val out = GeomOps.read(GeomOps.wrapX(poly, wrap, 360.0))
      assert(math.abs(out.getArea - areaIn) < 1e-6 * areaIn,
        s"case $k: wrapX area ${out.getArea} vs $areaIn")
      // extent: pieces left of `wrap` land exactly +360 away
      val e = out.getEnvelopeInternal
      if (ein.getMaxX <= wrap) assert(e.getMinX == ein.getMinX + 360.0, s"case $k whole-move")
      else if (ein.getMinX >= wrap) assert(e.getMinX == ein.getMinX, s"case $k whole-stay")
      else assert(e.getMinX == wrap && math.abs(e.getMaxX - (wrap + 360.0)) < 1e-9,
        s"case $k split: $e") // moved piece [minX, wrap] lands at [minX+360, wrap+360]

      // shift-longitude involution on in-range lines
      val lx0 = -180.0 + 360.0 * r.nextDouble()
      val lx1 = -180.0 + 360.0 * r.nextDouble()
      val line = wkb(f"LINESTRING ($lx0%.6f 0, $lx1%.6f 10)")
      val twice = GeomOps.shiftLongitude(GeomOps.shiftLongitude(line))
      // (x + 360) - 360 can differ from x by one ulp — involutive to fp
      assert(GeomOps.read(twice).equalsExact(GeomOps.read(line), 1e-9),
        s"case $k: shiftLongitude not involutive")
    }
  }

  test("fuzz: geometric median beats centroid and every input point") {
    val r = new Rng(0xC0FFEE04L)
    for (k <- 0 until 100) {
      val n = r.int(3, 24)
      val pts = (0 until n).map(_ =>
        (100.0 * r.nextDouble(), 100.0 * r.nextDouble()))
      val wkt = pts.map { case (x, y) => f"($x%.6f $y%.6f)" }
        .mkString("MULTIPOINT (", ", ", ")")
      val g = wkb(wkt)
      val med = GeomOps.read(GeomOps.geometricMedian(g)).getCoordinate
      def objective(cx: Double, cy: Double): Double =
        pts.map { case (x, y) => math.hypot(x - cx, y - cy) }.sum
      val atMed = objective(med.x, med.y)
      val cen = GeomOps.read(g).getCentroid.getCoordinate
      assert(atMed <= objective(cen.x, cen.y) + 1e-6, s"case $k: centroid beats median")
      pts.foreach { case (x, y) =>
        assert(atMed <= objective(x, y) + 1e-6, s"case $k: input point beats median")
      }
    }
  }
}
