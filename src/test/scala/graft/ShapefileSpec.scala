package graft

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import graft.sources.Shapefile

/** Reader spec over a hand-built .shp/.dbf pair (the ESRI whitepaper layout,
  * byte-for-byte) — no shapefile fixtures ship with the reference, so the
  * fixture is constructed here from the public spec. */
class ShapefileSpec extends SparkTestBase {

  // ── fixture builders ────────────────────────────────────────────────────

  private def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  private def pointShape(x: Double, y: Double): Array[Byte] =
    le(20).putInt(1).putDouble(x).putDouble(y).array()

  private def polyShape(shapeType: Int, parts: Seq[Seq[(Double, Double)]]): Array[Byte] = {
    val pts = parts.flatten
    val bb = le(4 + 32 + 8 + 4 * parts.length + 16 * pts.length)
    bb.putInt(shapeType)
    val xs = pts.map(_._1); val ys = pts.map(_._2)
    bb.putDouble(xs.min).putDouble(ys.min).putDouble(xs.max).putDouble(ys.max)
    bb.putInt(parts.length).putInt(pts.length)
    parts.scanLeft(0)(_ + _.length).dropRight(1).foreach(bb.putInt)
    pts.foreach { case (x, y) => bb.putDouble(x).putDouble(y) }
    bb.array()
  }

  /** PointZ record: X Y Z [M] — the M slot is genuinely optional per the
    * whitepaper (content length decides), which is exactly what the reader's
    * band detection keys on. */
  private def pointZShape(x: Double, y: Double, z: Double, m: Option[Double]): Array[Byte] = {
    val bb = le(28 + (if (m.isDefined) 8 else 0))
    bb.putInt(11).putDouble(x).putDouble(y).putDouble(z)
    m.foreach(bb.putDouble)
    bb.array()
  }

  private def pointMShape(x: Double, y: Double, m: Double): Array[Byte] =
    le(28).putInt(21).putDouble(x).putDouble(y).putDouble(m).array()

  /** PolyLineZ/PolygonZ (13/15) with a required Z band and an optional M
    * band; MultiPointZ (18) via the n-only header. Z/M bands are
    * [min, max, v…] blocks after the XY points, per the whitepaper. */
  private def polyZShape(shapeType: Int, parts: Seq[Seq[(Double, Double, Double)]],
                         ms: Option[Seq[Double]]): Array[Byte] = {
    val pts = parts.flatten
    val n = pts.length
    val bb = le(4 + 32 + 8 + 4 * parts.length + 16 * n + (16 + 8 * n) +
      (if (ms.isDefined) 16 + 8 * n else 0))
    bb.putInt(shapeType)
    val xs = pts.map(_._1); val ys = pts.map(_._2); val zs = pts.map(_._3)
    bb.putDouble(xs.min).putDouble(ys.min).putDouble(xs.max).putDouble(ys.max)
    bb.putInt(parts.length).putInt(n)
    parts.scanLeft(0)(_ + _.length).dropRight(1).foreach(bb.putInt)
    pts.foreach { case (x, y, _) => bb.putDouble(x).putDouble(y) }
    bb.putDouble(zs.min).putDouble(zs.max); zs.foreach(bb.putDouble)
    ms.foreach { mm => bb.putDouble(mm.min).putDouble(mm.max); mm.foreach(bb.putDouble) }
    bb.array()
  }

  private def multiPointZShape(pts: Seq[(Double, Double, Double)],
                               ms: Option[Seq[Double]]): Array[Byte] = {
    val n = pts.length
    val bb = le(4 + 32 + 4 + 16 * n + (16 + 8 * n) + (if (ms.isDefined) 16 + 8 * n else 0))
    bb.putInt(18)
    bb.putDouble(pts.map(_._1).min).putDouble(pts.map(_._2).min)
    bb.putDouble(pts.map(_._1).max).putDouble(pts.map(_._2).max)
    bb.putInt(n)
    pts.foreach { case (x, y, _) => bb.putDouble(x).putDouble(y) }
    bb.putDouble(pts.map(_._3).min).putDouble(pts.map(_._3).max)
    pts.foreach { case (_, _, z) => bb.putDouble(z) }
    ms.foreach { mm => bb.putDouble(mm.min).putDouble(mm.max); mm.foreach(bb.putDouble) }
    bb.array()
  }

  private def writeShp(path: String, shapes: Seq[Array[Byte]]): Unit = {
    val total = 100 + shapes.map(8 + _.length).sum
    val out = new DataOutputStream(new FileOutputStream(path))
    try {
      val hdr = ByteBuffer.allocate(100).order(ByteOrder.BIG_ENDIAN)
      hdr.putInt(9994); hdr.position(24); hdr.putInt(total / 2)
      hdr.order(ByteOrder.LITTLE_ENDIAN)
      hdr.putInt(28, 1000) // version
      hdr.putInt(32, shapes.headOption.map(s => le(4).put(s.take(4)).getInt(0)).getOrElse(0))
      out.write(hdr.array())
      shapes.zipWithIndex.foreach { case (s, i) =>
        out.writeInt(i + 1)      // record number, BE
        out.writeInt(s.length / 2) // content length in words, BE
        out.write(s)
      }
    } finally out.close()
  }

  private def writeDbf(path: String, fields: Seq[(String, Char, Int, Int)],
                       records: Seq[Seq[String]]): Unit = {
    val headerSize = 32 + 32 * fields.length + 1
    val recordSize = 1 + fields.map(_._3).sum
    val bb = le(headerSize + recordSize * records.length + 1)
    bb.put(0x03.toByte); bb.put(Array[Byte](126, 1, 1))
    bb.putInt(records.length)
    bb.putShort(headerSize.toShort); bb.putShort(recordSize.toShort)
    bb.position(32)
    fields.foreach { case (name, typ, len, dec) =>
      val start = bb.position()
      bb.put(name.getBytes("ASCII").take(10))
      bb.position(start + 11); bb.put(typ.toByte)
      bb.position(start + 16); bb.put(len.toByte); bb.put(dec.toByte)
      bb.position(start + 32)
    }
    bb.put(0x0D.toByte)
    records.foreach { rec =>
      bb.put(' '.toByte)
      rec.zip(fields).foreach { case (v, (_, typ, len, _)) =>
        val padded = if (typ == 'N' || typ == 'F') v.reverse.padTo(len, ' ').reverse
                     else v.padTo(len, ' ')
        bb.put(padded.take(len).getBytes("ASCII"))
      }
    }
    bb.put(0x1A.toByte)
    val out = new FileOutputStream(path)
    try out.write(bb.array()) finally out.close()
  }

  private def writeShx(shpPath: String, shxPath: String, shapes: Seq[Array[Byte]]): Unit = {
    val out = new DataOutputStream(new FileOutputStream(shxPath))
    try {
      val total = 100 + shapes.length * 8
      val hdr = ByteBuffer.allocate(100).order(ByteOrder.BIG_ENDIAN)
      hdr.putInt(9994); hdr.position(24); hdr.putInt(total / 2)
      out.write(hdr.array())
      var off = 100
      shapes.foreach { s =>
        out.writeInt(off / 2)      // record offset in words, BE
        out.writeInt(s.length / 2) // content length in words, BE
        off += 8 + s.length
      }
    } finally out.close()
  }

  // ── tests ───────────────────────────────────────────────────────────────

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("shp").toString
    writeShp(s"$d/pts.shp", Seq(
      pointShape(1.5, 2.5), pointShape(-3.0, 4.0), pointShape(10.0, 20.0)))
    writeDbf(s"$d/pts.dbf",
      Seq(("NAME", 'C', 10, 0), ("VAL", 'N', 8, 0), ("SCORE", 'N', 12, 3)),
      Seq(Seq("alpha", "7", "1.250"), Seq("beta", "-2", "0.500"), Seq("gamma", "40", "9.875")))
    val shell = Seq((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0)) // CW
    val hole = Seq((2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0), (2.0, 2.0))      // CCW
    writeShp(s"$d/poly.shp", Seq(polyShape(5, Seq(shell, hole))))
    writeDbf(s"$d/poly.dbf", Seq(("ID", 'N', 4, 0)), Seq(Seq("1")))
    writeShp(s"$d/lines.shp", Seq(
      polyShape(3, Seq(Seq((0.0, 0.0), (3.0, 4.0)), Seq((10.0, 0.0), (10.0, 5.0), (12.0, 5.0))))))
    writeDbf(s"$d/lines.dbf", Seq(("ID", 'N', 4, 0)), Seq(Seq("9")))
    d
  }

  test("points + typed dbf properties") {
    val df = Shapefile.read(spark, s"$dir/pts.shp")
    assert(df.columns.toSeq == Seq("NAME", "VAL", "SCORE", "geometry"))
    assert(df.schema("VAL").dataType == org.apache.spark.sql.types.IntegerType)
    assert(df.schema("SCORE").dataType == org.apache.spark.sql.types.DoubleType)
    assert(df.count() == 3)
    val r = df.where("NAME = 'beta'").selectExpr("VAL", "SCORE", "ST_X(geometry)", "ST_Y(geometry)").head()
    assert(r.getInt(0) == -2 && r.getDouble(1) == 0.5 && r.getDouble(2) == -3.0 && r.getDouble(3) == 4.0)
  }

  test("polygon with hole: ring assembly by orientation") {
    val df = Shapefile.read(spark, s"$dir/poly.shp")
    val r = df.selectExpr("ID", "ST_GeometryType(geometry)", "ST_Area(geometry)",
      "ST_NumInteriorRings(geometry)").head()
    assert(r.getInt(0) == 1)
    assert(r.getString(1) == "ST_Polygon")
    assert(r.getDouble(2) == 96.0) // 100 - 4 hole
    assert(r.getInt(3) == 1)
  }

  test("multi-part polyline") {
    val df = Shapefile.read(spark, s"$dir/lines.shp")
    val r = df.selectExpr("ST_GeometryType(geometry)", "ST_Length(geometry)", "ST_NPoints(geometry)").head()
    assert(r.getString(0) == "ST_MultiLineString")
    assert(r.getDouble(1) == 12.0) // 5 + (5 + 2)
    assert(r.getInt(2) == 5)
  }

  test("DSv2: format(\"shapefile\") matches read(), prunes at decode level") {
    // full read through the DSv2 path matches the function-style read
    val v2 = spark.read.format("shapefile").load(s"$dir/pts.shp")
    assert(v2.columns.toSeq == Seq("NAME", "VAL", "SCORE", "geometry"))
    val fn = Shapefile.read(spark, s"$dir/pts.shp")
    assert(v2.selectExpr("NAME", "VAL", "SCORE", "ST_AsText(geometry) AS w")
      .except(fn.selectExpr("NAME", "VAL", "SCORE", "ST_AsText(geometry) AS w")).isEmpty)
    // projection is pushed into the scan (visible in the plan) ...
    val pruned = spark.read.format("shapefile").load(s"$dir/pts.shp").select("VAL")
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("required=[VAL]"), s"pushdown missing in:\n$planStr")
    // ... and reaches the DECODE level: 3 property values materialize (VAL
    // per record), not 9 (NAME+VAL+SCORE), and NO geometry is built; local
    // mode shares the JVM so the diagnostics adders see task-side work
    graft.sources.Shapefile.decodedPropValues.reset()
    graft.sources.Shapefile.decodedGeoms.reset()
    assert(pruned.collect().map(_.getInt(0)).sorted.toSeq == Seq(-2, 7, 40))
    assert(graft.sources.Shapefile.decodedPropValues.sum() == 3)
    assert(graft.sources.Shapefile.decodedGeoms.sum() == 0)
    // geometry-only projection decodes geometries but zero DBF values
    graft.sources.Shapefile.decodedPropValues.reset()
    graft.sources.Shapefile.decodedGeoms.reset()
    val geoms = spark.read.format("shapefile").load(s"$dir/pts.shp")
      .selectExpr("ST_AsText(geometry) AS w").collect().map(_.getString(0)).sorted
    assert(geoms.length == 3 && geoms.head.startsWith("POINT"))
    assert(graft.sources.Shapefile.decodedPropValues.sum() == 0)
    assert(graft.sources.Shapefile.decodedGeoms.sum() == 3)
  }

  test("directory read unions all .shp files' rows (same schema)") {
    val d2 = java.nio.file.Files.createTempDirectory("shp2").toString
    writeShp(s"$d2/a.shp", Seq(pointShape(1, 1)))
    writeDbf(s"$d2/a.dbf", Seq(("ID", 'N', 4, 0)), Seq(Seq("1")))
    writeShp(s"$d2/b.shp", Seq(pointShape(2, 2), pointShape(3, 3)))
    writeDbf(s"$d2/b.dbf", Seq(("ID", 'N', 4, 0)), Seq(Seq("2"), Seq("3")))
    val df = Shapefile.read(spark, d2)
    assert(df.count() == 3)
    assert(df.selectExpr("SUM(ID)").head().getLong(0) == 6)
  }

  test("big .shp splits into .shx record ranges; split read == whole-file read") {
    val d3 = java.nio.file.Files.createTempDirectory("shpsplit").toString
    // 5000 points (~28 bytes per .shp record) + a typed .dbf + the .shx
    // index; with maxPartitionBytes forced tiny the file must plan multiple
    // record-aligned ranges whose union is exactly the whole file
    val shapes = (0 until 5000).map(i => pointShape(i.toDouble, (i % 97).toDouble))
    writeShp(s"$d3/big.shp", shapes)
    writeShx(s"$d3/big.shp", s"$d3/big.shx", shapes)
    writeDbf(s"$d3/big.dbf", Seq(("ID", 'N', 8, 0), ("TAG", 'C', 6, 0)),
      (0 until 5000).map(i => Seq(i.toString, s"t${i % 5}")))
    val prev = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (16 * 1024).toString)
      val splits = Shapefile.Format.plan(spark,
        Shapefile.resolveStatuses(spark, s"$d3/big.shp"))
      assert(splits.length > 4, s"expected multiple ranges, got ${splits.length}")
      assert(splits.map(_._3).sum == 5000, "ranges must cover every record exactly once")
      // contiguity: each range's byte end is the next range's byte start
      splits.sliding(2).foreach {
        case Seq(a, b) => assert(a._5 == b._4, s"gap between $a and $b")
        case _ => ()
      }
      val split = Shapefile.read(spark, s"$d3/big.shp")
      assert(split.rdd.getNumPartitions == splits.length)
      val sel = Seq("ID", "TAG", "ST_AsText(geometry) AS w")
      // whole-file twin: same bytes, no .shx => one task
      val d4 = java.nio.file.Files.createTempDirectory("shpwhole").toString
      writeShp(s"$d4/big.shp", shapes)
      writeDbf(s"$d4/big.dbf", Seq(("ID", 'N', 8, 0), ("TAG", 'C', 6, 0)),
        (0 until 5000).map(i => Seq(i.toString, s"t${i % 5}")))
      val whole = Shapefile.read(spark, s"$d4/big.shp")
      val a = split.selectExpr(sel: _*)
      val b = whole.selectExpr(sel: _*)
      assert(a.count() == 5000)
      assert(a.except(b).isEmpty && b.except(a).isEmpty, "split read diverged")
      // DSv2 face plans the same ranges and prunes within them
      val dsv2 = spark.read.format("shapefile").load(s"$d3/big.shp")
      assert(dsv2.rdd.getNumPartitions == splits.length)
      assert(dsv2.selectExpr("SUM(ID)").head().getLong(0) == 5000L * 4999 / 2)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
        case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
      }
    }
  }

  test("PointZ records: Z always, M by content length, nodata M → NaN") {
    val d = java.nio.file.Files.createTempDirectory("shpz").toString
    writeShp(s"$d/pz.shp", Seq(
      pointZShape(1, 2, 30, Some(7.5)),   // full XYZM
      pointZShape(3, 4, 50, None),        // 28-byte record: no M slot
      pointZShape(5, 6, 70, Some(-1e40)))) // M slot present but ESRI nodata
    writeDbf(s"$d/pz.dbf", Seq(("ID", 'N', 4, 0)), Seq(Seq("1"), Seq("2"), Seq("3")))
    val rows = graft.sources.Shapefile.read(spark, s"$d/pz.shp")
      .selectExpr("ID", "ST_X(geometry) x", "ST_Y(geometry) y", "ST_Z(geometry) z",
        "ST_M(geometry) m", "ST_HasZ(geometry) hz", "ST_HasM(geometry) hm")
      .orderBy("ID").collect()
    assert(rows(0).getDouble(1) == 1 && rows(0).getDouble(2) == 2 &&
      rows(0).getDouble(3) == 30 && rows(0).getDouble(4) == 7.5 &&
      rows(0).getBoolean(5) && rows(0).getBoolean(6))
    assert(rows(1).getDouble(3) == 50 && rows(1).getBoolean(5) && !rows(1).getBoolean(6))
    assert(rows(2).getDouble(3) == 70 && rows(2).getDouble(4).isNaN)
  }

  test("PointM records decode the measure without a Z") {
    val d = java.nio.file.Files.createTempDirectory("shpm").toString
    writeShp(s"$d/pm.shp", Seq(pointMShape(1, 2, 9.25)))
    writeDbf(s"$d/pm.dbf", Seq(("ID", 'N', 4, 0)), Seq(Seq("1")))
    val r = graft.sources.Shapefile.read(spark, s"$d/pm.shp")
      .selectExpr("ST_M(geometry)", "ST_HasM(geometry)", "ST_HasZ(geometry)").head()
    assert(r.getDouble(0) == 9.25 && r.getBoolean(1) && !r.getBoolean(2))
  }

  test("PolyLineZ + M band round-trips all four ordinates through WKB/WKT") {
    val d = java.nio.file.Files.createTempDirectory("shplz").toString
    writeShp(s"$d/lz.shp", Seq(polyZShape(13,
      Seq(Seq((0.0, 0.0, 10.0), (3.0, 4.0, 20.0))), Some(Seq(100.0, 200.0)))))
    writeDbf(s"$d/lz.dbf", Seq(("ID", 'N', 4, 0)), Seq(Seq("1")))
    val r = graft.sources.Shapefile.read(spark, s"$d/lz.shp")
      .selectExpr("ST_AsText(geometry)", "ST_Length(geometry)").head()
    assert(r.getString(0) == "LINESTRING ZM(0 0 10 100, 3 4 20 200)", r.getString(0))
    assert(r.getDouble(1) == 5.0) // length stays planar
  }

  test("PolygonZ without M: Z band decodes, ring assembly unchanged") {
    val d = java.nio.file.Files.createTempDirectory("shppz").toString
    val shell = Seq((0.0, 0.0, 5.0), (0.0, 10.0, 5.0), (10.0, 10.0, 5.0),
      (10.0, 0.0, 5.0), (0.0, 0.0, 5.0)) // CW
    writeShp(s"$d/gz.shp", Seq(polyZShape(15, Seq(shell), None)))
    writeDbf(s"$d/gz.dbf", Seq(("ID", 'N', 4, 0)), Seq(Seq("1")))
    val r = graft.sources.Shapefile.read(spark, s"$d/gz.shp")
      .selectExpr("ST_GeometryType(geometry)", "ST_Area(geometry)",
        "ST_Z(geometry)", "ST_HasZ(geometry)", "ST_HasM(geometry)").head()
    assert(r.getString(0) == "ST_Polygon" && r.getDouble(1) == 100.0)
    assert(r.getDouble(2) == 5.0 && r.getBoolean(3) && !r.getBoolean(4))
  }

  test("MultiPointZ with M band keeps per-point Z and M") {
    val d = java.nio.file.Files.createTempDirectory("shpmz").toString
    writeShp(s"$d/mz.shp", Seq(multiPointZShape(
      Seq((1.0, 2.0, 11.0), (3.0, 4.0, 22.0)), Some(Seq(0.5, 1.5)))))
    writeDbf(s"$d/mz.dbf", Seq(("ID", 'N', 4, 0)), Seq(Seq("1")))
    val r = graft.sources.Shapefile.read(spark, s"$d/mz.shp")
      .selectExpr("ST_AsText(geometry)").head()
    assert(r.getString(0) == "MULTIPOINT ZM((1 2 11 0.5), (3 4 22 1.5))", r.getString(0))
  }

  test("shp/dbf record-count mismatch fails loudly (not a silent truncation)") {
    val d = java.nio.file.Files.createTempDirectory("shpbad").toString
    writeShp(s"$d/bad.shp", Seq(pointShape(1, 1), pointShape(2, 2), pointShape(3, 3)))
    writeDbf(s"$d/bad.dbf", Seq(("ID", 'N', 4, 0)), Seq(Seq("1"), Seq("2"))) // one short
    val e = intercept[org.apache.spark.SparkException] {
      graft.sources.Shapefile.read(spark, s"$d/bad.shp").collect()
    }
    assert(e.getMessage.contains("record-count mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("record-count mismatch")))
  }

  test(".prj sidecar stamps geoparquet.crs on the geometry column (both faces)") {
    val d = java.nio.file.Files.createTempDirectory("shpprj").toString
    writeShp(s"$d/p.shp", Seq(pointShape(1, 2)))
    writeDbf(s"$d/p.dbf", Seq(("ID", 'N', 4, 0)), Seq(Seq("1")))
    val wkt = """GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/p.prj"), wkt.getBytes("UTF-8"))
    // the stamp is the WKT as a JSON STRING LITERAL (every geoparquet.crs
    // consumer readTree's the value), so parse it back to compare
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (df <- Seq(Shapefile.read(spark, s"$d/p.shp"),
                   spark.read.format("shapefile").load(s"$d/p.shp"))) {
      val m = df.schema("geometry").metadata
      assert(m.contains("geoparquet.crs"), s"missing crs stamp: ${df.schema("geometry")}")
      val node = mapper.readTree(m.getString("geoparquet.crs"))
      assert(node.isTextual && node.asText == wkt, s"garbled crs stamp: $node")
    }
    // no .prj → no stamp (absent, not empty)
    assert(!Shapefile.read(spark, s"$dir/pts.shp").schema("geometry")
      .metadata.contains("geoparquet.crs"))
  }

  test("Shapefile(.prj) -> GeoParquet.write round-trips the CRS (no JSON parse failure)") {
    val d = java.nio.file.Files.createTempDirectory("shpprjgpq").toString
    writeShp(s"$d/p.shp", Seq(pointShape(3, 4)))
    writeDbf(s"$d/p.dbf", Seq(("ID", 'N', 4, 0)), Seq(Seq("1")))
    val wkt = """PROJCS["NAD_1983_UTM_Zone_10N",GEOGCS["GCS_North_American_1983",DATUM["D_North_American_1983",SPHEROID["GRS_1980",6378137.0,298.257222101]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],UNIT["Meter",1.0]]"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/p.prj"), wkt.getBytes("UTF-8"))
    val df = Shapefile.read(spark, s"$d/p.shp")
    // the advertised hop: the .prj CRS must survive into the GeoParquet
    // footer (as a JSON string node) instead of throwing JsonParseException
    graft.sources.GeoParquet.write(df, s"$d/out.gpq")
    val back = graft.sources.GeoParquet.read(spark, s"$d/out.gpq")
    val crs = back.schema("geometry").metadata.getString("geoparquet.crs")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(crs)
    assert(node.isTextual && node.asText == wkt, s"crs did not round-trip: $crs")
    assert(back.selectExpr("ST_AsText(geometry)").head().getString(0) == "POINT (3 4)")
  }

  test("g40/g54 fixture (no .shx) still reads whole-pair") {
    // the driver-embedded 4-point fixture ships no .shx: planning must
    // fall back to one pair = one task
    val splits = Shapefile.Format.plan(spark, Shapefile.resolveStatuses(spark, s"$dir/pts.shp"))
    assert(splits == IndexedSeq((s"$dir/pts.shp", -1, -1, -1L, -1L)))
  }
}
