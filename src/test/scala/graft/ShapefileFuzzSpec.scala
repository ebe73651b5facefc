package graft

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import scala.util.Random

import org.locationtech.jts.geom.{Coordinate, CoordinateXYM, CoordinateXYZM, Geometry}

import graft.core.GeomOps
import graft.sources.Shapefile

/** Seeded byte-layout fuzz for the shapefile reader (the ArrowIpcFuzzSpec
  * discipline): random geometries of every supported shape type — all Z/M
  * band combinations, multi-part lines, polygons with holes, per-record
  * optional M slots, ESRI nodata sentinels — are serialized by an
  * INDEPENDENT test-side writer built straight from the ESRI whitepaper
  * layout, then decoded through `Shapefile.read` and compared against the
  * directly-built JTS expectation via exact WKT. A second pass re-reads the
  * same bytes through the .shx split path with a tiny maxPartitionBytes so
  * record-range slicing, the fixed-width .dbf range map, and strictZip all
  * chew the identical fuzz corpus.
  *
  * The writer here shares NO code with `sources/Shapefile` — agreement
  * between the two is evidence about the byte layout, not about either
  * implementation in isolation.
  */
class ShapefileFuzzSpec extends SparkTestBase {

  // ── independent record writers (whitepaper layout) ───────────────────────

  private def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  /** One record payload for `kind` over `parts` of (x, y, z, m). Bands:
    * Z types write the Z band always and the M band iff `withM`; M types
    * write the M band iff `withM`. Plain types ignore both. */
  private def record(kind: Int, parts: Seq[Seq[(Double, Double, Double, Double)]],
                     withM: Boolean): Array[Byte] = {
    val pts = parts.flatten
    val n = pts.length
    val zType = kind == 11 || kind == 13 || kind == 15 || kind == 18
    val mType = kind == 21 || kind == 23 || kind == 25 || kind == 28
    val zBytes = if (zType) 16 + 8 * n else 0
    val mBytes = if ((zType || mType) && withM) 16 + 8 * n else 0
    kind match {
      case 1 => le(20).putInt(1).putDouble(pts.head._1).putDouble(pts.head._2).array()
      case 11 =>
        val bb = le(28 + (if (withM) 8 else 0))
        bb.putInt(11).putDouble(pts.head._1).putDouble(pts.head._2).putDouble(pts.head._3)
        if (withM) bb.putDouble(pts.head._4)
        bb.array()
      case 21 =>
        le(28).putInt(21).putDouble(pts.head._1).putDouble(pts.head._2)
          .putDouble(pts.head._4).array()
      case 8 | 18 | 28 =>
        val bb = le(4 + 32 + 4 + 16 * n + zBytes + mBytes)
        bb.putInt(kind)
        bb.putDouble(pts.map(_._1).min).putDouble(pts.map(_._2).min)
        bb.putDouble(pts.map(_._1).max).putDouble(pts.map(_._2).max)
        bb.putInt(n)
        pts.foreach { p => bb.putDouble(p._1).putDouble(p._2) }
        if (zType) {
          bb.putDouble(pts.map(_._3).min).putDouble(pts.map(_._3).max)
          pts.foreach(p => bb.putDouble(p._3))
        }
        if (mBytes > 0) {
          bb.putDouble(pts.map(_._4).min).putDouble(pts.map(_._4).max)
          pts.foreach(p => bb.putDouble(p._4))
        }
        bb.array()
      case 3 | 13 | 23 | 5 | 15 | 25 =>
        val bb = le(4 + 32 + 8 + 4 * parts.length + 16 * n + zBytes + mBytes)
        bb.putInt(kind)
        bb.putDouble(pts.map(_._1).min).putDouble(pts.map(_._2).min)
        bb.putDouble(pts.map(_._1).max).putDouble(pts.map(_._2).max)
        bb.putInt(parts.length).putInt(n)
        parts.scanLeft(0)(_ + _.length).dropRight(1).foreach(bb.putInt)
        pts.foreach { p => bb.putDouble(p._1).putDouble(p._2) }
        if (zType) {
          bb.putDouble(pts.map(_._3).min).putDouble(pts.map(_._3).max)
          pts.foreach(p => bb.putDouble(p._3))
        }
        if (mBytes > 0) {
          bb.putDouble(pts.map(_._4).min).putDouble(pts.map(_._4).max)
          pts.foreach(p => bb.putDouble(p._4))
        }
        bb.array()
      case other => throw new IllegalArgumentException(s"kind $other")
    }
  }

  private def writeShp(path: String, shapes: Seq[Array[Byte]]): Unit = {
    val total = 100 + shapes.map(8 + _.length).sum
    val out = new DataOutputStream(new FileOutputStream(path))
    try {
      val hdr = ByteBuffer.allocate(100).order(ByteOrder.BIG_ENDIAN)
      hdr.putInt(9994); hdr.position(24); hdr.putInt(total / 2)
      hdr.order(ByteOrder.LITTLE_ENDIAN)
      hdr.putInt(28, 1000)
      hdr.putInt(32, le(4).put(shapes.head.take(4)).getInt(0))
      out.write(hdr.array())
      shapes.zipWithIndex.foreach { case (s, i) =>
        out.writeInt(i + 1); out.writeInt(s.length / 2); out.write(s)
      }
    } finally out.close()
  }

  private def writeShx(path: String, shapes: Seq[Array[Byte]]): Unit = {
    val out = new DataOutputStream(new FileOutputStream(path))
    try {
      val hdr = ByteBuffer.allocate(100).order(ByteOrder.BIG_ENDIAN)
      hdr.putInt(9994); hdr.position(24); hdr.putInt((100 + shapes.length * 8) / 2)
      out.write(hdr.array())
      var off = 100
      shapes.foreach { s =>
        out.writeInt(off / 2); out.writeInt(s.length / 2); off += 8 + s.length
      }
    } finally out.close()
  }

  private def writeDbf(path: String, n: Int): Unit = {
    val headerSize = 32 + 32 + 1
    val recordSize = 1 + 9
    val bb = le(headerSize + recordSize * n + 1)
    bb.put(0x03.toByte); bb.put(Array[Byte](126, 1, 1))
    bb.putInt(n); bb.putShort(headerSize.toShort); bb.putShort(recordSize.toShort)
    bb.position(32)
    bb.put("FID".getBytes("ASCII")); bb.position(32 + 11); bb.put('N'.toByte)
    bb.position(32 + 16); bb.put(9.toByte); bb.put(0.toByte)
    bb.position(32 + 32); bb.put(0x0D.toByte)
    (0 until n).foreach { i =>
      bb.put(' '.toByte); bb.put(i.toString.reverse.padTo(9, ' ').reverse.getBytes("ASCII"))
    }
    bb.put(0x1A.toByte)
    val out = new FileOutputStream(path)
    try out.write(bb.array()) finally out.close()
  }

  // ── expected JTS construction (mirrors the reader's documented contract) ──

  private def coord(kind: Int, withM: Boolean,
                    p: (Double, Double, Double, Double)): Coordinate = {
    val zType = kind == 11 || kind == 13 || kind == 15 || kind == 18
    // PointM's record layout is fixed [x, y, m] — its measure is not
    // optional, unlike the multi-vertex M types' trailing band
    val mType = kind == 23 || kind == 25 || kind == 28
    if (zType && withM) new CoordinateXYZM(p._1, p._2, p._3, p._4)
    else if (zType) new Coordinate(p._1, p._2, p._3)
    else if (kind == 21 || (mType && withM)) new CoordinateXYM(p._1, p._2, p._4)
    else new Coordinate(p._1, p._2)
  }

  private def expected(kind: Int, parts: Seq[Seq[(Double, Double, Double, Double)]],
                       withM: Boolean): Geometry = {
    val f = GeomOps.factory
    def cs(part: Seq[(Double, Double, Double, Double)]) =
      part.map(coord(kind, withM, _)).toArray
    kind match {
      case 1 | 11 | 21 => f.createPoint(coord(kind, withM, parts.head.head))
      case 8 | 18 | 28 => f.createMultiPointFromCoords(cs(parts.flatten))
      case 3 | 13 | 23 =>
        val lines = parts.map(p => f.createLineString(cs(p)))
        if (lines.length == 1) lines.head else f.createMultiLineString(lines.toArray)
      case 5 | 15 | 25 =>
        val shell = f.createLinearRing(cs(parts.head))
        val holes = parts.tail.map(p => f.createLinearRing(cs(p))).toArray
        f.createPolygon(shell, holes)
    }
  }

  // ── generators ────────────────────────────────────────────────────────────

  /** Lattice values keep ring orientation/containment exact and WKT short. */
  private def v(rnd: Random): Double = (rnd.nextInt(2001) - 1000) / 4.0

  private def zm(rnd: Random): (Double, Double) = (v(rnd), v(rnd))

  private def genParts(kind: Int, rnd: Random): Seq[Seq[(Double, Double, Double, Double)]] =
    kind match {
      case 1 | 11 | 21 =>
        val (z, m) = zm(rnd); Seq(Seq((v(rnd), v(rnd), z, m)))
      case 8 | 18 | 28 =>
        val n = 1 + rnd.nextInt(6)
        Seq(Seq.fill(n) { val (z, m) = zm(rnd); (v(rnd), v(rnd), z, m) })
      case 3 | 13 | 23 =>
        val k = 1 + rnd.nextInt(3)
        Seq.fill(k) {
          val n = 2 + rnd.nextInt(4)
          Seq.fill(n) { val (z, m) = zm(rnd); (v(rnd), v(rnd), z, m) }
        }
      case 5 | 15 | 25 =>
        // one CW shell rectangle + up to 2 disjoint CCW hole rectangles
        // strictly inside — orientation drives the reader's ring assembly
        val x0 = v(rnd); val y0 = v(rnd)
        val w = 40.0 + rnd.nextInt(10); val h = 40.0 + rnd.nextInt(10)
        val (sz, sm) = zm(rnd)
        def rect(ax: Double, ay: Double, bw: Double, bh: Double, cw: Boolean,
                 z: Double, m: Double) = {
          val ring = Seq((ax, ay), (ax, ay + bh), (ax + bw, ay + bh), (ax + bw, ay), (ax, ay))
          (if (cw) ring else ring.reverse).map { case (x, y) => (x, y, z, m) }
        }
        val nh = rnd.nextInt(3)
        val holes = (0 until nh).map { i =>
          val (hz, hm) = zm(rnd)
          rect(x0 + 2 + i * (w / 3), y0 + 2, w / 4, h / 4, cw = false, hz, hm)
        }
        rect(x0, y0, w, h, cw = true, sz, sm) +: holes
    }

  // ── the fuzz ──────────────────────────────────────────────────────────────

  test("decode == independent-writer expectation over random shapes, types, and Z/M bands") {
    val rnd = new Random(20260816L)
    val dir = java.nio.file.Files.createTempDirectory("shpfuzz").toString
    val kinds = Seq(1, 3, 5, 8, 11, 13, 15, 18, 21, 23, 25, 28)
    var trial = 0
    while (trial < 48) {
      val kind = kinds(trial % kinds.length)
      val withM = rnd.nextBoolean()
      val nRecs = 1 + rnd.nextInt(5)
      val recs = Seq.fill(nRecs)(genParts(kind, rnd))
      val shapes = recs.map(record(kind, _, withM))
      val base = s"$dir/f$trial"
      writeShp(s"$base.shp", shapes)
      writeDbf(s"$base.dbf", nRecs)
      val got = Shapefile.read(spark, s"$base.shp")
        .selectExpr("FID", "ST_AsText(geometry) AS wkt")
        .collect().sortBy(_.getInt(0)).map(_.getString(1))
      // compare against the expectation through the SAME WKT writer the
      // engine uses (4D-capable) so Z/M ordinates participate exactly
      val wantWkt = recs.map(p => new org.locationtech.jts.io.WKTWriter(4)
        .write(expected(kind, p, withM)))
      assert(got.length == nRecs, s"trial $trial kind $kind: ${got.length} != $nRecs rows")
      got.zip(wantWkt).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g == w, s"trial $trial kind $kind withM=$withM rec $i:\n  got =$g\n  want=$w")
      }
      trial += 1
    }
  }

  test("split-path reads the identical fuzz corpus (record-range .shx slices + strictZip)") {
    val rnd = new Random(99260816L)
    val dir = java.nio.file.Files.createTempDirectory("shpfuzzsplit").toString
    // one file per multi-vertex Z kind, many records, forced tiny splits
    for (kind <- Seq(13, 15, 18)) {
      val withM = kind != 15
      val nRecs = 120
      val recs = Seq.fill(nRecs)(genParts(kind, rnd))
      val shapes = recs.map(record(kind, _, withM))
      val base = s"$dir/s$kind"
      writeShp(s"$base.shp", shapes)
      writeShx(s"$base.shx", shapes)
      writeDbf(s"$base.dbf", nRecs)
      val prev = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", (8 * 1024).toString)
        val splits = Shapefile.Format.plan(spark,
          Shapefile.resolveStatuses(spark, s"$base.shp"))
        assert(splits.length >= 2, s"kind $kind: expected real splits, got ${splits.length}")
        val got = Shapefile.read(spark, s"$base.shp")
          .selectExpr("FID", "ST_AsText(geometry) AS wkt")
          .collect().sortBy(_.getInt(0)).map(_.getString(1))
        val wantWkt = recs.map(p => new org.locationtech.jts.io.WKTWriter(4)
          .write(expected(kind, p, withM)))
        assert(got.length == nRecs)
        got.zip(wantWkt).zipWithIndex.foreach { case ((g, w), i) =>
          assert(g == w, s"kind $kind split rec $i:\n  got =$g\n  want=$w")
        }
      } finally {
        prev match {
          case Some(x) => spark.conf.set("spark.sql.files.maxPartitionBytes", x)
          case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
        }
      }
    }
  }
}
