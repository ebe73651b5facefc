package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GeoJSON IO — the reference's feature-collection + newline-delimited
  * readers (rust/geoarrow-old/src/io/geojson/reader.rs:12,
  * geojson_lines/reader.rs:16) and streaming writer
  * (rust/geoarrow-geojson/src/writer/mod.rs:51,141).
  *
  * Read: Spark's JSON source infers the properties schema (arrow-json does
  * the same in the reference); the geometry member re-serializes through
  * `to_json` and parses with the [[graft.core.GeoJson]] codec into WKB.
  * Note the reference's readers also require a uniform geometry type per
  * file for schema inference (common.rs geometry-type from header).
  *
  * Write: one Feature per line (RFC 7946 newline-delimited), geometry
  * encoded by ST_AsGeoJSON, all non-geometry columns as properties; or a
  * single FeatureCollection document ([[writeFeatureCollection]], the
  * reference's streaming collection writer).
  */
object GeoJsonSource {

  /** Newline-delimited GeoJSON features (one Feature per line).
    *
    * The geometry member is extracted as a RAW JSON substring
    * (`get_json_object`) and parsed by the codec — it never passes
    * through Spark's JSON schema inference, whose merge of mixed
    * geometry types (Point `[x,y]` vs Polygon `[[[x,y]…]]` coordinates)
    * produces mangled nested arrays. Only the `properties` member is
    * schema-inferred. Mixed-geometry-type files therefore read fine
    * (RFC 7946 allows them; the reference's readers require a uniform
    * type per file — this exceeds that). */
  def readLines(spark: SparkSession, path: String): DataFrame = {
    graft.functions.GeoFunctions.register(spark)
    val txt = spark.read.text(path)
      .where(length(trim(col("value"))) > 0)
      .select(col("value").as("feature"))
    featuresToDf(spark, txt)
  }

  /** A single FeatureCollection document (one document per file; a
    * directory of part files reads as the union of its documents). The
    * features split out via a per-file Jackson parse, then take the same
    * inference-free geometry path as [[readLines]]. */
  def readFeatureCollection(spark: SparkSession, path: String): DataFrame = {
    graft.functions.GeoFunctions.register(spark)
    import spark.implicits._
    val whole = spark.read.option("wholetext", "true").text(path)
    val feats = whole.as[String].flatMap(splitFeatures _).toDF("feature")
    featuresToDf(spark, feats)
  }

  /** feature JSON strings of a FeatureCollection document (executor-side;
    * one document is one file, so the parse is file-bounded). */
  private def splitFeatures(doc: String): Seq[String] = {
    if (doc.trim.isEmpty) return Nil
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(doc)
    val fs = root.path("features")
    require(!fs.isMissingNode && fs.isArray,
      "readFeatureCollection: document has no 'features' array")
    (0 until fs.size()).map(i => fs.get(i).toString)
  }

  /** features (one JSON string per row, column `feature`) → flattened
    * DataFrame: inferred properties columns + WKB `geometry`. */
  private def featuresToDf(spark: SparkSession, feats: DataFrame): DataFrame = {
    import spark.implicits._
    val typeStr = get_json_object(col("feature"), "$.type")
    // a malformed line (unparseable JSON, or JSON with no `type` member)
    // fails LOUDLY instead of dissolving into an all-NULL row; a bare
    // geometry object (the common wild NDJSON shape) is accepted as the
    // row's geometry, matching the codec's own parse(). A Feature whose
    // geometry member is null stays a NULL-geometry row (RFC 7946 allows
    // it).
    val geomJson =
      when(typeStr.isNull,
        raise_error(concat(lit("GeoJSON: line is not a Feature or geometry object: "),
          substring(col("feature"), 1, 80))))
        .when(typeStr === "Feature", get_json_object(col("feature"), "$.geometry"))
        .otherwise(col("feature"))
    val propsJson = get_json_object(col("feature"), "$.properties")
    // schema inference over the properties member ALONE — its own scan,
    // like spark.read.json's inference pass, but blind to geometry
    val propStrings = feats.select(propsJson.as("p")).where(col("p").isNotNull).as[String]
    val propSchema = spark.read.json(propStrings).schema
    val propCols =
      if (propSchema.isEmpty) Nil
      else Seq(from_json(propsJson, propSchema).as("__props"))
    val selected = feats.select(propCols :+
      call_function("st_geomfromgeojson", geomJson).as("geometry"): _*)
    if (propSchema.isEmpty) selected
    else selected.select(col("__props.*"), col("geometry"))
  }

  /** Write ONE FeatureCollection document (the reference's collection
    * writer, rust/geoarrow-geojson/src/writer/mod.rs:51 — it too streams
    * features into a single output). Feature serialization is distributed
    * (each task JSON-encodes its partition into staged parts); the final
    * assembly streams the staged bytes through a single Hadoop FS output —
    * a single JSON document is single-stream by definition — and runs as a
    * one-task Spark job, so the bytes flow executor→filesystem and never
    * transit the driver. Prefer [[writeLines]] for corpus-scale exports;
    * this is the web-map / interchange shape. */
  def writeFeatureCollection(df: DataFrame, path: String,
                             geometryColumn: String = "geometry"): Unit = {
    val staging = path + "_fc_staging_" + java.util.UUID.randomUUID().toString.take(8)
    writeLines(df, staging, geometryColumn)
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sessionState.newHadoopConf())
    df.sparkSession.sparkContext.parallelize(Seq(path -> staging), 1).foreach {
      case (targetStr, stagingStr) =>
        val target = new org.apache.hadoop.fs.Path(targetStr)
        val fs = target.getFileSystem(serConf.value)
        val stagingPath = new org.apache.hadoop.fs.Path(stagingStr)
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        try {
          // task order is part-file order; listStatus (not listFiles) so any
          // Hadoop scheme serves it (see MockFsSpec). Sort by the PARSED
          // part number, not the raw name: Spark zero-pads to 5 digits, so
          // past 99999 tasks "part-100000" would sort before "part-99999"
          // lexicographically and scramble feature order
          val partNum = "part-(\\d+)".r
          val parts = fs.listStatus(stagingPath)
            .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
            .sortBy { st =>
              partNum.findFirstMatchIn(st.getPath.getName)
                .map(_.group(1).toLong).getOrElse(Long.MaxValue)
            }
          val out = fs.create(target, true)
          try {
            out.write("""{"type":"FeatureCollection","features":[""".getBytes(utf8))
            var first = true
            parts.foreach { p =>
              val in = new java.io.BufferedReader(
                new java.io.InputStreamReader(fs.open(p.getPath), utf8))
              try {
                var line = in.readLine()
                while (line != null) {
                  if (line.nonEmpty) {
                    if (!first) out.write(','.toInt)
                    out.write(line.getBytes(utf8))
                    first = false
                  }
                  line = in.readLine()
                }
              } finally in.close()
            }
            out.write("]}".getBytes(utf8))
          } finally out.close()
        } finally fs.delete(stagingPath, true)
    }
  }

  /** Write as newline-delimited GeoJSON features. */
  def writeLines(df: DataFrame, path: String, geometryColumn: String = "geometry",
                 mode: String = "overwrite"): Unit = {
    graft.functions.GeoFunctions.register(df.sparkSession)
    val propCols = df.columns.filterNot(_ == geometryColumn).map(col)
    df.select(concat(
        lit("""{"type":"Feature","properties":"""),
        to_json(struct(propCols.toIndexedSeq: _*)),
        lit(""","geometry":"""),
        call_function("st_asgeojson", col(geometryColumn)),
        lit("}")).as("value"))
      .write.mode(mode).text(path)
  }
}
