package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry, GeometryFactory}
import org.locationtech.jts.io.{ByteOrderValues, WKBWriter}

/** One generated row: id, JTS geometry and its little-endian 2D WKB. */
final case class Feature(id: Long, geom: Geometry, wkb: Array[Byte])

/** Seeded input generators. Every table draws from its own stream derived
  * from the seed, so a second seed gives tables of the same shape (row
  * counts, vertex-count ranges, hotspot count, region) with other values.
  * Geometries are built and encoded with JTS directly, never through graft,
  * so graft only ever sees the generated bytes. */
object Inputs {
  val gf = new GeometryFactory()
  private val wkbWriter = new WKBWriter(2, ByteOrderValues.LITTLE_ENDIAN)

  private def rng(seed: Long, table: Int) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + table)
  private def uniform(r: SplittableRandom, lo: Double, hi: Double) = lo + (hi - lo) * r.nextDouble()

  private def feature(id: Long, g: Geometry) = Feature(id, g, wkbWriter.write(g))

  /** Star-shaped ring around (cx, cy): sorted angles with positive radii
    * always give a simple polygon, so every kernel accepts it. */
  private def star(r: SplittableRandom, cx: Double, cy: Double, radius: Double, n: Int): Geometry = {
    val angles = Array.fill(n)(r.nextDouble() * 2 * math.Pi).sorted
    val ring = angles.map { a =>
      val d = radius * uniform(r, 0.5, 1.0)
      new Coordinate(cx + d * math.cos(a), cy + d * math.sin(a))
    }
    gf.createPolygon(ring :+ ring.head.copy())
  }

  private def walk(r: SplittableRandom, x0: Double, y0: Double, step: Double, n: Int): Geometry = {
    var x = x0; var y = y0; var heading = r.nextDouble() * 2 * math.Pi
    val pts = Array.fill(n) {
      val c = new Coordinate(x, y)
      heading += uniform(r, -0.6, 0.6)
      x += step * math.cos(heading); y += step * math.sin(heading)
      c
    }
    gf.createLineString(pts)
  }

  // ── kernel_scan: lon/lat polygons and lines over western Europe ─────────
  val KernelRegion = new Envelope(-10.0, 30.0, 35.0, 60.0)

  /** 60% star polygons (8–24 vertices), 40% lines (6–20 vertices). */
  def kernelTable(seed: Long, rows: Int): Array[Feature] = {
    val r = rng(seed, 1)
    Array.tabulate(rows) { i =>
      val x = uniform(r, KernelRegion.getMinX, KernelRegion.getMaxX)
      val y = uniform(r, KernelRegion.getMinY, KernelRegion.getMaxY)
      val g =
        if (r.nextDouble() < 0.6) star(r, x, y, uniform(r, 0.002, 0.02), 8 + r.nextInt(17))
        else walk(r, x, y, uniform(r, 0.002, 0.01), 6 + r.nextInt(15))
      feature(i.toLong, g)
    }
  }

  // ── spatial_join: planar 100 × 100 units ───────────────────────────────
  val JoinExtent = 100.0

  /** Half the points are uniform; the other half fall around four fixed
    * hotspots with weights 0.4/0.3/0.2/0.1, so join cells are skewed the
    * same way for every seed. */
  private val Hotspots = Array((30.0, 30.0), (70.0, 60.0), (40.0, 75.0), (80.0, 20.0))

  def points(seed: Long, rows: Int): Array[Feature] = {
    val r = rng(seed, 2)
    val hot = Hotspots
    val weights = Array(0.4, 0.7, 0.9, 1.0)
    Array.tabulate(rows) { i =>
      val (x, y) =
        if (r.nextDouble() < 0.5) (uniform(r, 0, JoinExtent), uniform(r, 0, JoinExtent))
        else {
          val u = r.nextDouble()
          val (hx, hy) = hot(weights.indexWhere(u < _))
          def g = nextGaussian(r) * 2.0
          (clamp(hx + g), clamp(hy + g))
        }
      feature(i.toLong, gf.createPoint(new Coordinate(x, y)))
    }
  }

  /** One parcel per unit cell of a `side` × `side` grid, each cell inset by
    * a random margin so parcels are disjoint and gaps exist. */
  def parcels(seed: Long, side: Int): Array[Feature] = {
    val r = rng(seed, 3)
    val cell = JoinExtent / side
    Array.tabulate(side * side) { i =>
      val x0 = (i % side) * cell; val y0 = (i / side) * cell
      def m = uniform(r, 0.02, 0.12) * cell
      val (a, b, c, d) = (x0 + m, y0 + m, x0 + cell - m, y0 + cell - m)
      feature(i.toLong, gf.createPolygon(Array(
        new Coordinate(a, b), new Coordinate(c, b + m * 0.3), new Coordinate(c, d),
        new Coordinate(a + m * 0.3, d), new Coordinate(a, b))))
    }
  }

  /** Star-shaped zones, one per block of a `side` × `side` grid; they do not
    * overlap and leave points outside every zone. */
  def zones(seed: Long, side: Int): Array[Feature] = {
    val r = rng(seed, 4)
    val block = JoinExtent / side
    Array.tabulate(side * side) { i =>
      val cx = ((i % side) + 0.5) * block; val cy = ((i / side) + 0.5) * block
      feature(i.toLong, star(r, cx, cy, block * uniform(r, 0.35, 0.5), 24 + r.nextInt(25)))
    }
  }

  // ── geo_io: a batch of POIs and footprints, lon/lat over 10° × 10° ──────
  val IoRegion = new Envelope(0.0, 10.0, 40.0, 50.0)

  /** 70% points, 30% small footprints (5–8 vertices), ordered along a
    * Z-order curve as a spatially sorted export would be. */
  def ioBatch(seed: Long, rows: Int): Array[Feature] = {
    val r = rng(seed, 5)
    val raw = Array.fill(rows) {
      val x = uniform(r, IoRegion.getMinX, IoRegion.getMaxX)
      val y = uniform(r, IoRegion.getMinY, IoRegion.getMaxY)
      if (r.nextDouble() < 0.7) gf.createPoint(new Coordinate(x, y))
      else star(r, x, y, uniform(r, 0.0005, 0.002), 5 + r.nextInt(4))
    }
    def z(g: Geometry): Long = {
      val c = g.getCoordinate
      val ix = ((c.x - IoRegion.getMinX) / IoRegion.getWidth * 65535).toLong
      val iy = ((c.y - IoRegion.getMinY) / IoRegion.getHeight * 65535).toLong
      (0 until 16).foldLeft(0L)((acc, b) =>
        acc | (((ix >> b) & 1L) << (2 * b)) | (((iy >> b) & 1L) << (2 * b + 1)))
    }
    raw.sortBy(z).zipWithIndex.map { case (g, i) => feature(i.toLong, g) }
  }

  /** SHA-256 over every table's ids and WKB, first 16 hex digits. */
  def digest(tables: Seq[Array[Feature]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    tables.foreach(_.foreach { f =>
      buf.clear(); buf.putLong(f.id); md.update(buf.array()); md.update(f.wkb)
    })
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  private def clamp(v: Double) = math.max(0.0, math.min(JoinExtent, v))

  private def nextGaussian(r: SplittableRandom): Double = {
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}
