package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-sink roundtrip fuzz (round 18): the 1200-geometry [[WktFuzzGen]]
  * corpus through every writable source — GeoParquet (WKB), FlatGeobuf,
  * GeoJSON lines, CSV+WKT, Arrow IPC — must come back COORDINATE-EXACT.
  * The per-format specs pin fixed fixtures and the Arrow/Shapefile fuzzers
  * pin byte-level layouts; this sweep pins the end-to-end write→read loop
  * of every format against the same seeded corpus the kernel fuzz uses,
  * so a lossy coordinate path (precision-truncating text writer, float
  * downcast, ring reordering) in ANY sink fails loudly.
  *
  * Equality is canonical-WKT equality (`ST_AsText`): every reader emits
  * WKB through the same JTS writer, and Java double→text→double
  * roundtrips exactly, so anything weaker than exact equality here would
  * be hiding a real loss. FlatGeobuf files are written per WKT kind (the
  * format's header declares one geometry type per file). */
class SinkRoundtripFuzzSpec extends SparkTestBase {

  import spark.implicits._

  private def tmp(tag: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"sink_fuzz_${tag}_" + java.util.UUID.randomUUID().toString.take(8)).getAbsolutePath

  private lazy val corpus: DataFrame = {
    WktFuzzGen.all.zipWithIndex.map { case (w, i) => (i.toLong, i % 6, w) }
      .toDF("id", "kind", "wkt")
      .selectExpr("id", "kind", "ST_GeomFromText(wkt) AS geometry")
      .cache()
  }

  /** the corpus re-dimensioned to XYZ (or XYM): deterministic per-vertex
    * ordinate so a sink that drops or reorders the extra dimension
    * mismatches loudly */
  private def dimCorpus(m: Boolean): DataFrame = {
    import org.locationtech.jts.geom.{Coordinate, CoordinateXYM, Geometry}
    val rows = WktFuzzGen.all.zipWithIndex.map { case (w, i) =>
      val g = graft.core.GeomOps.read(graft.core.GeomOps.geomFromText(
        org.apache.spark.unsafe.types.UTF8String.fromString(w)))
      val edited = new org.locationtech.jts.geom.util.GeometryEditor(
        graft.core.GeomOps.factory).edit(g,
        new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
          override def edit(coords: Array[Coordinate], geom: Geometry): Array[Coordinate] =
            coords.map(c =>
              if (m) (new CoordinateXYM(c.x, c.y, c.x + c.y)): Coordinate
              else new Coordinate(c.x, c.y, c.x - c.y))
        })
      (i.toLong, i % 6, graft.core.GeomOps.write(edited))
    }
    rows.toDF("id", "kind", "geometry")
  }
  private lazy val corpusZ: DataFrame = dimCorpus(m = false).cache()
  private lazy val corpusM: DataFrame = dimCorpus(m = true).cache()

  /** joins read-back rows to the corpus by id and requires canonical-WKT
    * equality on every one of the expected ids */
  private def assertExact(back: DataFrame, expectedIds: Seq[Long], format: String,
                          base: DataFrame = null): Unit = {
    val ref = if (base == null) corpus else base
    val got = back.selectExpr("id", "geometry AS g2")
    val joined = ref.join(got, "id")
      .selectExpr("id", "ST_AsText(geometry) AS a", "ST_AsText(g2) AS b")
      .collect()
    assert(joined.length == expectedIds.length,
      s"$format: ${joined.length} rows back, expected ${expectedIds.length}")
    val bad = joined.filter(r => r.getString(1) != r.getString(2))
    assert(bad.isEmpty,
      s"$format: ${bad.length} coordinate-inexact roundtrips, first: " +
        bad.take(3).map(r => s"id=${r.getLong(0)} ${r.getString(1).take(60)} vs ${r.getString(2).take(60)}").mkString("; "))
  }

  private val allIds = (0L until WktFuzzGen.N.toLong)

  test("GeoParquet (WKB encoding) roundtrips the full corpus exactly") {
    val out = tmp("gpq")
    graft.sources.GeoParquet.write(corpus, out, covering = false)
    assertExact(graft.sources.GeoParquet.read(spark, out), allIds, "geoparquet")
  }

  test("Arrow IPC roundtrips the full corpus exactly") {
    val out = tmp("arrow")
    graft.sources.ArrowIpc.write(corpus.coalesce(2), out)
    assertExact(graft.sources.ArrowIpc.read(spark, out), allIds, "arrowipc")
  }

  test("GeoJSON lines roundtrip the full corpus exactly") {
    val out = tmp("gjl")
    graft.sources.GeoJsonSource.writeLines(corpus, out)
    assertExact(graft.sources.GeoJsonSource.readLines(spark, out), allIds, "geojson-lines")
  }

  test("CSV+WKT roundtrips the full corpus exactly") {
    val out = tmp("csv")
    graft.sources.GeoCsv.write(corpus, out)
    assertExact(graft.sources.GeoCsv.read(spark, out), allIds, "geocsv")
  }

  test("FlatGeobuf roundtrips the corpus exactly, one file set per geometry kind") {
    (0 until 6).foreach { kind =>
      val out = tmp(s"fgb$kind")
      val slice = corpus.where(col("kind") === kind).coalesce(1)
      graft.sources.FlatGeobufWriter.write(slice, out)
      val ids = allIds.filter(_ % 6 == kind)
      assertExact(graft.sources.FlatGeobuf.read(spark, out), ids, s"flatgeobuf(kind=$kind)")
    }
  }

  test("GeoParquet NATIVE encodings roundtrip the corpus per kind, all dimensions") {
    // the GeoArrow struct/list encodings (not WKB): every kind through its
    // native layout, XY + XYZ + XYM — the encode/decode matrix against the
    // same 1200 geometries the kernel fuzz uses
    val encOf = Map(0 -> "point", 1 -> "multipoint", 2 -> "linestring",
      3 -> "polygon", 4 -> "polygon", 5 -> "multipolygon")
    for ((base, dimTag, suffix) <- Seq((corpus, "xy", ""), (corpusZ, "z", "_z"),
                                       (corpusM, "m", "_m"))) {
      (0 until 6).foreach { kind =>
        val out = tmp(s"gpqnat_${dimTag}_$kind")
        graft.sources.GeoParquet.write(
          base.where(col("kind") === kind).coalesce(1), out,
          covering = false, encoding = encOf(kind) + suffix)
        assertExact(graft.sources.GeoParquet.read(spark, out),
          allIds.filter(_ % 6 == kind), s"geoparquet-native-$dimTag(${encOf(kind)})", base)
      }
    }
  }

  test("XYZ and XYM corpora roundtrip exactly through the dimension-capable sinks") {
    for ((base, tag) <- Seq((corpusZ, "z"), (corpusM, "m"))) {
      val gpq = tmp(s"gpq_$tag")
      graft.sources.GeoParquet.write(base, gpq, covering = false)
      assertExact(graft.sources.GeoParquet.read(spark, gpq), allIds, s"geoparquet-$tag", base)
      val arrow = tmp(s"arrow_$tag")
      graft.sources.ArrowIpc.write(base.coalesce(2), arrow)
      assertExact(graft.sources.ArrowIpc.read(spark, arrow), allIds, s"arrowipc-$tag", base)
      val csv = tmp(s"csv_$tag")
      graft.sources.GeoCsv.write(base, csv)
      assertExact(graft.sources.GeoCsv.read(spark, csv), allIds, s"geocsv-$tag", base)
      (0 until 6).foreach { kind =>
        val out = tmp(s"fgb_${tag}_$kind")
        graft.sources.FlatGeobufWriter.write(
          base.where(col("kind") === kind).coalesce(1), out)
        assertExact(graft.sources.FlatGeobuf.read(spark, out),
          allIds.filter(_ % 6 == kind), s"flatgeobuf-$tag(kind=$kind)", base)
      }
    }
    // GeoJSON carries Z (RFC 7946 third element) but has no M
    val gjl = tmp("gjl_z")
    graft.sources.GeoJsonSource.writeLines(corpusZ, gjl)
    assertExact(graft.sources.GeoJsonSource.readLines(spark, gjl), allIds, "geojson-z", corpusZ)
  }
}
