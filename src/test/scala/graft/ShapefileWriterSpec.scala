package graft

import org.apache.spark.sql.functions._

import graft.sources.{Shapefile, ShapefileWriter}

/** The shapefile WRITER (round 18 — the reference reads only; writing
  * closes the source matrix's one read-write asymmetry). Every assertion
  * reads back through [[Shapefile.read]], so the pair is pinned together. */
class ShapefileWriterSpec extends SparkTestBase {

  import spark.implicits._

  private def tmp(tag: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"shpw_${tag}_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath

  private def norm(wkb: Array[Byte]): String = {
    val g = graft.core.GeomOps.read(wkb)
    g.normalize(); g.toText
  }

  test("point roundtrip with typed properties, nulls, and adaptive dbf sizing") {
    val out = tmp("pts")
    val df = spark.sql("""
      SELECT CAST(id AS INT) AS small_i,
             CAST(id * 1000000000 AS BIGINT) AS big_i,
             CAST(id AS DOUBLE) / 3.0 AS d,
             id % 2 = 0 AS b,
             CASE WHEN id = 3 THEN NULL ELSE CONCAT('name-', id) END AS s,
             ST_Point(CAST(id AS DOUBLE), CAST(id % 5 AS DOUBLE)) AS geometry
      FROM range(10)""").coalesce(1)
    ShapefileWriter.write(df, out)
    val back = Shapefile.read(spark, out).orderBy("small_i").collect()
    assert(back.length == 10)
    val schema = Shapefile.read(spark, out).schema
    // adaptive N sizing: one-digit ints read back Int, 10-digit Longs Long
    assert(schema("small_i").dataType.typeName == "integer", schema.simpleString)
    assert(schema("big_i").dataType.typeName == "long", schema.simpleString)
    assert(schema("d").dataType.typeName == "double")
    assert(schema("b").dataType.typeName == "boolean")
    back.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(0) == i)
      assert(r.getLong(1) == i.toLong * 1000000000L)
      // F fields carry shortest-roundtrip decimal text: value-EXACT
      assert(r.getDouble(2) == i / 3.0, s"double not exact at $i: ${r.getDouble(2)}")
      assert(r.getBoolean(3) == (i % 2 == 0))
      if (i == 3) assert(r.isNullAt(4), "blank C field must read back NULL")
      else assert(r.getString(4) == s"name-$i")
      assert(norm(r.getAs[Array[Byte]](5)) == s"POINT ($i ${i % 5})")
    }
  }

  test("all four families roundtrip, polygons with holes re-oriented to spec") {
    val shapes = Seq(
      ("pt", "POINT (3 4)"),
      ("mpt", "MULTIPOINT ((1 1), (2 3), (2 3))"),
      ("ln", "LINESTRING (0 0, 1 1, 2 0)"),
      ("mln", "MULTILINESTRING ((0 0, 1 1), (5 5, 6 6, 7 5))"),
      // CCW shell + CW hole: the writer must flip BOTH to spec orientation
      ("pg", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))"),
      ("mpg", "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 10, 14 10, 14 14, 10 14, 10 10), (11 11, 11 12, 12 12, 12 11, 11 11)))"))
    shapes.foreach { case (tag, wkt) =>
      val out = tmp(tag)
      Seq((1L, wkt)).toDF("id", "wkt")
        .selectExpr("id", "ST_GeomFromText(wkt) AS geometry").coalesce(1)
        .createOrReplaceTempView("shpw_one")
      ShapefileWriter.write(spark.table("shpw_one"), out)
      val back = Shapefile.read(spark, out).collect()
      assert(back.length == 1, tag)
      val expected = { val g = graft.core.GeomOps.read(graft.core.GeomOps.geomFromText(
        org.apache.spark.unsafe.types.UTF8String.fromString(wkt))); g.normalize(); g.toText }
      assert(norm(back.head.getAs[Array[Byte]](1)) == expected, s"$tag roundtrip")
    }
  }

  test("XYZ / XYM / XYZM roundtrip through the per-record bands") {
    for ((tag, wkt) <- Seq(
        ("z", "LINESTRING Z(0 0 5, 1 1 6, 2 0 7)"),
        ("m", "LINESTRING M(0 0 9, 1 1 8)"),
        ("zm", "POINT ZM(1 2 3 4)"))) {
      val out = tmp(s"dim$tag")
      Seq((1L, wkt)).toDF("id", "wkt")
        .selectExpr("id", "ST_GeomFromText(wkt) AS geometry").coalesce(1)
        .createOrReplaceTempView("shpw_dim")
      ShapefileWriter.write(spark.table("shpw_dim"), out)
      val back = Shapefile.read(spark, out).collect()
      assert(norm(back.head.getAs[Array[Byte]](1)) == norm(graft.core.GeomOps.geomFromText(
        org.apache.spark.unsafe.types.UTF8String.fromString(wkt))), tag)
    }
  }

  test("NULL geometry writes a null shape; EMPTY and mixed families are refused") {
    val out = tmp("nulls")
    spark.sql("""
      SELECT id, CASE WHEN id = 1 THEN NULL
                      ELSE ST_Point(CAST(id AS DOUBLE), 0.0) END AS geometry
      FROM range(3)""").coalesce(1).createOrReplaceTempView("shpw_null")
    ShapefileWriter.write(spark.table("shpw_null"), out)
    val back = Shapefile.read(spark, out).orderBy("id").collect()
    assert(back.length == 3)
    // the whitepaper's null shape reads as an empty collection
    assert(graft.core.GeomOps.read(back(1).getAs[Array[Byte]](1)).isEmpty)
    assert(!graft.core.GeomOps.read(back(0).getAs[Array[Byte]](1)).isEmpty)

    val empties = spark.sql("SELECT ST_GeomFromText('POINT EMPTY') AS geometry").coalesce(1)
    val e1 = intercept[org.apache.spark.SparkException] {
      ShapefileWriter.write(empties, tmp("empty"))
    }
    assert(e1.getMessage.contains("EMPTY") || e1.getCause.getMessage.contains("EMPTY"))

    val mixed = spark.sql("""
      SELECT CASE WHEN id = 0 THEN ST_Point(0.0, 0.0)
                  ELSE ST_GeomFromText('LINESTRING (0 0, 1 1)') END AS geometry
      FROM range(2)""").coalesce(1)
    val e2 = intercept[org.apache.spark.SparkException] {
      ShapefileWriter.write(mixed, tmp("mixed"))
    }
    assert(e2.getMessage.contains("family") || e2.getCause.getMessage.contains("family"))
  }

  test("writer-produced files read through the .shx split path identically") {
    val out = tmp("split")
    val n = 5000
    spark.sql(s"""
      SELECT CAST(id AS INT) AS fid,
             ST_Point(CAST(id % 100 AS DOUBLE), CAST(CAST(id / 100 AS INT) AS DOUBLE)) AS geometry
      FROM range($n)""").coalesce(1).createOrReplaceTempView("shpw_split")
    ShapefileWriter.write(spark.table("shpw_split"), out)
    val whole = Shapefile.read(spark, out)
      .selectExpr("fid", "CAST(ST_X(geometry) AS INT) AS x").collect()
      .map(r => (r.getInt(0), r.getInt(1))).sortBy(_._1)
    // force tiny splits so the reader's .shx record-range planner kicks in
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    try { // the split-plan cache keys on maxPartitionBytes: no invalidation needed
      val split = Shapefile.read(spark, out)
      assert(split.rdd.getNumPartitions > 4,
        s"expected multiple .shx splits, got ${split.rdd.getNumPartitions}")
      val got = split.selectExpr("fid", "CAST(ST_X(geometry) AS INT) AS x").collect()
        .map(r => (r.getInt(0), r.getInt(1))).sortBy(_._1)
      assert(got.length == n && got.sameElements(whole),
        "split read diverged from whole-file read on a writer-produced file")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test(".dbf refuses record sizes beyond the 16-bit header slot (round-18 review)") {
    // 260 C(254) columns -> recordSize ~66k > 0xFFFF: must refuse loudly,
    // not wrap the short and corrupt every reader's offsets
    val wide = (0 until 260).map(i => s"c$i").toArray
    val row = org.apache.spark.sql.Row.fromSeq(wide.indices.map(_ => "x" * 254) :+
      graft.core.GeomOps.point(1.0, 2.0))
    val schema = org.apache.spark.sql.types.StructType(
      wide.map(n => org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.StringType)) :+
        org.apache.spark.sql.types.StructField("geometry",
          org.apache.spark.sql.types.BinaryType))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), schema)
    val e = intercept[org.apache.spark.SparkException] {
      ShapefileWriter.write(df, tmp("wide"))
    }
    assert(e.getMessage.contains("16-bit") || e.getCause.getMessage.contains("16-bit"),
      e.getMessage)
  }

  test("long field names launder to 10 chars with dedup suffixes (the ogr2ogr convention)") {
    val out = tmp("launder")
    // two names that COLLIDE after a plain 10-char truncation
    spark.sql("""
      SELECT CAST(id AS INT) AS customer_identifier,
             CAST(id * 2 AS INT) AS customer_identity,
             ST_Point(CAST(id AS DOUBLE), 0.0) AS geometry
      FROM range(5)""").coalesce(1).createOrReplaceTempView("shpw_names")
    ShapefileWriter.write(spark.table("shpw_names"), out)
    val back = Shapefile.read(spark, out)
    assert(back.columns.toSeq == Seq("customer_i", "customer_1", "geometry"),
      back.columns.mkString(","))
    val rows = back.orderBy("customer_i").collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(0) == i && r.getInt(1) == i * 2)
    }
  }

  test(".prj writes verbatim and the reader stamps the CRS") {
    val out = tmp("prj")
    val wkt = """GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433],AUTHORITY["EPSG","4326"]]"""
    spark.sql("SELECT id, ST_Point(CAST(id AS DOUBLE), 1.0) AS geometry FROM range(3)")
      .coalesce(1).createOrReplaceTempView("shpw_prj")
    ShapefileWriter.write(spark.table("shpw_prj"), out, prjWkt = Some(wkt))
    val md = Shapefile.read(spark, out).schema("geometry").metadata
    assert(md.contains("geoparquet.crs"), md.json)
  }

  test("full fuzz corpus roundtrips per kind (normalized: ring orientation is the spec's)") {
    val corpus = WktFuzzGen.all.zipWithIndex.map { case (w, i) => (i.toLong, i % 6, w) }
      .toDF("id", "kind", "wkt")
      .selectExpr("id", "kind", "ST_GeomFromText(wkt) AS geometry")
    // kinds 1 (multipoint) and 2 (linestring) and 0 (point) keep vertex
    // order; polygon kinds re-orient — compare normalized on all
    (0 until 6).foreach { kind =>
      val out = tmp(s"corpus$kind")
      ShapefileWriter.write(
        corpus.where(col("kind") === kind).select("id", "geometry").coalesce(1), out)
      val back = Shapefile.read(spark, out) // ≤4-digit ids size to N(4) → Int
        .collect().map(r => r.getAs[Number](0).longValue -> norm(r.getAs[Array[Byte]](1))).toMap
      val want = WktFuzzGen.all.zipWithIndex.filter(_._2 % 6 == kind).map { case (w, i) =>
        val g = graft.core.GeomOps.read(graft.core.GeomOps.geomFromText(
          org.apache.spark.unsafe.types.UTF8String.fromString(w)))
        g.normalize()
        i.toLong -> g.toText
      }
      assert(back.size == want.size, s"kind $kind count")
      val bad = want.filter { case (id, w) => back(id) != w }
      assert(bad.isEmpty, s"kind $kind: ${bad.length} mismatches, first: ${bad.take(2)}")
    }
  }
}
