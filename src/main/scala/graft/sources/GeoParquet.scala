package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{GraftSchemas, MetadataBuilder, StructType}

/** GeoParquet 1.1 source/sink on top of Spark's native parquet scan.
  *
  * Mirrors the reference's geoparquet crate:
  *  - read: parse the `geo` footer key-value blob → know the geometry
  *    columns, CRS and covering column (GeoParquetMetadata,
  *    rust/geoparquet/src/metadata.rs:481; geo_ext.rs:30). The WKB columns
  *    stay `BinaryType` — our engine's native geometry representation — so
  *    the scan is zero-transcode, exactly the reference's
  *    `parse_to_native=false` path.
  *  - bbox pushdown: a query rect becomes plain `<=`/`>=` filters on the
  *    covering struct's leaves, which Spark's parquet reader prunes row
  *    groups/pages with natively (the reference implements the same pruning
  *    by hand: spatial_filter.rs:59-181). An exact `ST_Intersects` refine
  *    runs after the coarse filter.
  *  - write: optionally add the GeoParquet 1.1 `bbox` covering struct, then
  *    write through [[GeoParquetFileFormat]] — Spark's stock parquet path
  *    with a WriteSupport that finalizes the `geo` KV at file close inside
  *    each task, single-pass with per-file observed bbox + geometry_types
  *    (writer model: rust/geoparquet/src/writer/encode.rs:21-74,
  *    metadata.rs:30). [[addGeoMetadata]] remains as the retrofit path for
  *    parquet written by other tools: a distributed byte-for-byte footer
  *    rewrite (`ParquetFileWriter.appendFile`, no re-encode) with per-file
  *    bounds from the covering column's parquet statistics (the same stats
  *    the reference's `ParquetBboxStatistics` reads,
  *    spatial_filter.rs:395-416).
  */
object GeoParquet {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val mapper = new ObjectMapper()

  /** The `geoparquet.crs` metadata contract, enforced in ONE place for all
    * three faces (GeoParquet footer, Arrow IPC extension metadata, the
    * Shapefile .prj stamp): the value is JSON TEXT — a PROJJSON object when
    * available, else a JSON STRING LITERAL wrapping raw WKT/authority text
    * (GeoArrow admits string crs values). [[crsJsonText]] normalizes
    * arbitrary input into that form; [[crsJsonNode]] parses a stored value,
    * degrading a bare non-JSON string to a text node instead of failing
    * the write that consumes it. */
  // STRICT trailing-token parse for the is-it-JSON probe: Jackson's default
  // readTree accepts a leading token and ignores the rest, so a .prj-style
  // value like "4326 +proj=..." would be misclassified as already-JSON and
  // truncated to `4326` by the first consumer that reparses it. With
  // FAIL_ON_TRAILING_TOKENS the probe only accepts input that is a SINGLE
  // complete JSON document; anything else degrades to a string literal.
  private def strictTree(m: ObjectMapper, s: String): com.fasterxml.jackson.databind.JsonNode =
    m.reader()
      .`with`(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
      .readTree(s)

  private[sources] def crsJsonText(s: String): String =
    try { strictTree(mapper, s); s }
    catch { case _: com.fasterxml.jackson.core.JsonProcessingException =>
      mapper.writeValueAsString(s) }

  private[sources] def crsJsonNode(m: ObjectMapper, s: String): com.fasterxml.jackson.databind.JsonNode =
    try strictTree(m, s)
    catch { case _: com.fasterxml.jackson.core.JsonProcessingException =>
      m.getNodeFactory.textNode(s) }

  case class GeomColumn(name: String, encoding: String, crs: Option[String],
                        bbox: Option[(Double, Double, Double, Double)],
                        covering: Option[String],
                        geometryTypes: Seq[String] = Nil,
                        edges: Option[String] = None,
                        /** the covering bboxes are GEODESIC bounds (arc-
                          * padded, `graft:covering_bounds: geodesic`) — a
                          * chord covering of edges-stamped data cannot
                          * safely prune latitudes (arcs bow poleward past
                          * the chord box) */
                        coveringGeodesic: Boolean = false)
  case class GeoMeta(version: String, primaryColumn: String, columns: Seq[GeomColumn])

  // ── metadata ──────────────────────────────────────────────────────────

  /** Reconciled `geo` metadata for the dataset under `path` — EVERY
    * part-file footer is read (in parallel), not just the first, mirroring
    * the reference's multi-fragment `GeoParquetDataset` model
    * (python/geoarrow-io/.../\_parquet.pyi:31-258 `GeoParquetDataset`;
    * rust/geoparquet/src/metadata.rs:100). A directory whose part-files
    * were appended by different tools is the normal case at scale, so
    * disagreement is handled per axis:
    *
    *  - encoding or CRS conflict between files → loud failure (proceeding
    *    would silently misread one file's bytes or coordinates);
    *  - native (GeoArrow) encoding declared while some file lacks `geo`
    *    entirely → loud failure (that file's column cannot be transcoded);
    *  - some files missing `geo`, the rest WKB → proceed as WKB (the bytes
    *    agree; plain Spark-appended part-files are the common source);
    *  - covering column: trusted only when EVERY file declares the same one
    *    (the coarse pushdown filter is a row-level predicate — a file
    *    without the covering column would have its rows silently dropped);
    *    otherwise the exact-refine path runs alone, which is always correct;
    *  - per-file bbox: unioned into dataset bounds; None unless every file
    *    declares one.
    */
  def metadata(spark: SparkSession, path: String): Option[GeoMeta] = footers(spark, path).meta

  /** One listing of `path` and one footer read per part-file: the sorted
    * part-files, their row counts, their distinct Spark schemas (under the
    * `schemaConf` parquet settings; the first, or all merged as Spark
    * merges them under `mergeSchema`) and the reconciled `geo` metadata. */
  private case class Footers(root: Path, files: Seq[FileStatus], rows: Seq[Long],
                             schemas: Seq[StructType], meta: Option[GeoMeta],
                             schemaConf: Map[String, String]) {
    def schema(conf: SQLConf): StructType =
      if (conf.isParquetSchemaMergingEnabled)
        schemas.reduce(GraftSchemas.merge(_, _, conf.caseSensitiveAnalysis))
      else schemas.head
  }

  private def footers(spark: SparkSession, path: String): Footers = {
    HttpFileSystem.installIfUrl(spark, path)
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val top = fs.getFileStatus(p)
    val stats = if (top.isDirectory) listPartFiles(fs, p) else Seq(top)
    // dataset-level metadata cache (the reference's GeoParquetDataset holds
    // per-fragment metadata once, python/geoarrow-io/.../_parquet.pyi:31-258;
    // here repeated read()/metadata() calls over the same 100 TB dataset
    // must not re-read thousands of footers). Validity = the directory
    // LISTING signature (path, length, mtime per part-file) — one listing
    // RPC replaces N ranged footer reads; any append/overwrite/delete
    // changes the signature and recomputes, as do other parquet settings.
    val root = fs.makeQualified(p)
    def sig(sts: Seq[FileStatus]) = sts.map(st => (st.getPath, st.getLen, st.getModificationTime))
    val schemaConf = spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.sql.parquet.") ||
      k.startsWith("spark.sql.legacy.parquet.") || k == SQLConf.CASE_SENSITIVE.key }
    val hit = metaCache.get(root.toString)
    if (hit != null && sig(hit.files) == sig(stats) && hit.schemaConf == schemaConf) return hit
    val files = stats.map(_.getPath)
    val perFile = footerKVs(spark, files, "geo")
    // labels are root-relative so partitioned layouts (k=v/part-000…) stay
    // unambiguous in reconcile's error messages
    val rootStr = p.toString
    val labels = files.map { f =>
      val rel = f.toString.stripPrefix(rootStr).stripPrefix("/")
      if (rel.isEmpty) f.getName else rel
    }
    val meta = reconcile(labels.zip(perFile).map {
      case (l, pf) => (l, pf.geo.map(parseGeoJson), pf.rows)
    })
    val result = Footers(root, stats, perFile.map(_.rows), perFile.map(_.schema).distinct, meta, schemaConf)
    if (metaCache.size > 1024) metaCache.clear() // bound the driver map
    metaCache.put(root.toString, result)
    result
  }

  private val metaCache = new java.util.concurrent.ConcurrentHashMap[String, Footers]()

  /** Drop cached dataset metadata — all of it, or one dataset's. Normal
    * invalidation is automatic (listing signature); this is the escape
    * hatch for filesystems whose mtime granularity can hide a same-size
    * overwrite. */
  def invalidateMetadataCache(path: Option[String] = None): Unit = path match {
    case None => metaCache.clear()
    case Some(p) =>
      // path may be unqualified — drop every key whose path matches on a
      // SEGMENT boundary ("…/data" matches, "…/mydata" must not: a bare
      // suffix match would over-evict unrelated datasets)
      val suffix = "/" + p.stripPrefix("/")
      metaCache.keySet.removeIf(k => k == p || k.stripSuffix("/").endsWith(suffix))
  }

  /** All data part-files under `root`, recursively — a `partitionBy` layout
    * nests part-files one directory per partition value (`k=v/part-*.parquet`)
    * and the reference treats such multi-fragment datasets as first-class
    * (`GeoParquetDataset`, python/geoarrow-io/.../\_parquet.pyi:31-258).
    * Hidden/metadata entries (`_SUCCESS`, `_temporary`, dot-files) are
    * skipped at every level, matching Spark's own path filter. */
  private def listPartFiles(fs: FileSystem, root: Path): Seq[FileStatus] = {
    // plain listStatus recursion (not fs.listFiles(recursive=true)): the
    // latter materializes LocatedFileStatus, which some FileSystem impls
    // (and our MockFs test scheme) can't serve for non-file URIs
    val out = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        if (st.isDirectory) walk(st.getPath)
        else if (name.endsWith(".parquet")) out += st
      }
    }
    walk(root)
    out.sortBy(_.getPath.toString).toSeq
  }

  /** Test gauge: footer opens performed by [[footerKVs]]. */
  private[graft] val footerOpens = new java.util.concurrent.atomic.LongAdder

  private case class PartFooter(geo: Option[String], rows: Long, schema: StructType)

  /** One footer read per file: the KV value for `key`, the row count (so
    * [[reconcile]] can treat empty fragments' declarations as vacuous: an
    * empty part-file observes `geometry_types: []` and no bbox, which must
    * not defeat the dataset-level union) and the Spark schema, converted
    * as Spark's parquet schema inference converts it. The reads go through
    * [[RowFileSource.fanOut]]: the driver's IO pool for a few part-files,
    * one Spark job past 64, so a 100 TB dataset's thousands of footers
    * scale out with the executors. */
  private def footerKVs(spark: SparkSession, files: Seq[Path], key: String): Seq[PartFooter] = {
    footerOpens.add(files.length)
    // a deserialized SQLConf cannot be read: each reader rebuilds one
    val settings = spark.sessionState.conf.getAllConfs
    RowFileSource.fanOut(spark, files.map(_.toString)) { conf =>
      val sc = new SQLConf
      settings.foreach { case (k, v) => sc.setConfString(k, v) }
      val converter = new ParquetToSparkSchemaConverter(sc)
      f => {
        val p = new Path(f)
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        try PartFooter(Option(r.getFooter.getFileMetaData.getKeyValueMetaData.get(key)),
          r.getRecordCount, ParquetFileFormat.readSchemaFromFooter(new Footer(p, r.getFooter), converter))
        finally r.close()
      }
    }
  }

  /** The relation `spark.read.parquet` resolves to (Hive partition
    * columns included) over `leaves`, or every part-file when empty, with
    * the footers' schema; its file index serves the listing in hand, so
    * planning neither lists again nor runs a schema-inference job. */
  private def relation(spark: SparkSession, ds: Footers, format: FileFormat = new ParquetFileFormat,
                       options: Map[String, String] = Map.empty,
                       leaves: Seq[FileStatus] = Nil): DataFrame = {
    val listing = new FileStatusCache {
      private var known = ((ds.root -> ds.files.toArray) +: ds.files.map(f => f.getPath -> Array(f))).toMap
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] = known.get(p)
      def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = known = Map.empty // a refresh lists again
    }
    val roots = if (leaves.isEmpty) Seq(ds.root) else leaves.map(_.getPath)
    val index = new InMemoryFileIndex(spark, roots, options, None, listing)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      GraftSchemas.asNullable(ds.schema(spark.sessionState.conf)), None, format, options)(spark))
  }

  /** Merge per-file metadata into one dataset view (rules in [[metadata]]).
    * The per-file row count marks ZERO-ROW fragments, whose observed
    * declarations (`geometry_types: []`, no bbox) are VACUOUS — a writer
    * task that received an empty partition must not defeat the dataset
    * unions. Empty fragments still participate in encoding/CRS/edges
    * conflict checks: a conflicting declaration signals a mixed dataset
    * even when it holds no rows. */
  private[sources] def reconcile(
      perFileWithRows: Seq[(String, Option[GeoMeta], Long)]): Option[GeoMeta] = {
    val perFile = perFileWithRows.map { case (f, m, _) => (f, m) }
    val emptyFiles = perFileWithRows.collect { case (f, _, 0L) => f }.toSet
    val declared = perFile.collect { case (f, Some(m)) => (f, m) }
    if (declared.isEmpty) return None
    val missing = perFile.collect { case (f, None) => f }

    val primaries = declared.map(_._2.primaryColumn).distinct
    if (primaries.length > 1) throw new IllegalStateException(
      s"GeoParquet dataset disagrees on primary_column across part-files: " +
        declared.map { case (f, m) => s"$f=${m.primaryColumn}" }.mkString(", "))

    val colNames = declared.flatMap(_._2.columns.map(_.name)).distinct
    val cols = colNames.map { name =>
      val decls = declared.flatMap { case (f, m) => m.columns.find(_.name == name).map(f -> _) }
      val encodings = decls.map(_._2.encoding.toLowerCase).distinct
      if (encodings.length > 1) throw new IllegalStateException(
        s"GeoParquet dataset disagrees on encoding for column '$name': " +
          decls.map { case (f, c) => s"$f=${c.encoding}" }.mkString(", ") +
          " — refusing to misread; rewrite the offending part-files")
      val partial = decls.length < perFile.length // some file doesn't declare it
      if (partial && encodings.head != "wkb") throw new IllegalStateException(
        s"GeoParquet dataset declares native encoding '${encodings.head}' for column " +
          s"'$name' but these part-files carry no metadata for it: " +
          (missing ++ perFile.map(_._1).diff(decls.map(_._1) ++ missing)).mkString(", ") +
          " — their column bytes cannot be transcoded; rewrite them as GeoParquet")
      val crss = decls.map(_._2.crs).distinct
      if (crss.length > 1) throw new IllegalStateException(
        s"GeoParquet dataset disagrees on CRS for column '$name': " +
          decls.map { case (f, c) => s"$f=${c.crs.getOrElse("<default>")}" }.mkString(", ") +
          " — refusing to mix coordinate systems; ST_Transform the offenders first")
      val coverings = decls.map(_._2.covering).distinct
      val covering =
        if (!partial && coverings.length == 1) coverings.head else None
      // bbox / geometry_types unions run over the NON-EMPTY fragments only:
      // an empty fragment observes nothing, so its absent bbox and
      // unconstrained [] are vacuously true of its zero rows
      val solid = decls.filterNot { case (f, _) => emptyFiles(f) }
      val solidTotal = perFile.count { case (f, _) => !emptyFiles(f) }
      val partialSolid = solid.length < solidTotal
      val bboxes = solid.map(_._2.bbox)
      val bbox =
        if (partialSolid || bboxes.isEmpty || bboxes.exists(_.isEmpty)) None
        else Some(bboxes.flatten.reduce { (a, b) =>
          (math.min(a._1, b._1), math.min(a._2, b._2),
           math.max(a._3, b._3), math.max(a._4, b._4))
        })
      // geometry_types: [] means unconstrained (GeoParquet 1.1) — the union
      // is only a real constraint when EVERY non-empty declaring file
      // constrains it
      val typeSets = solid.map(_._2.geometryTypes)
      val geometryTypes =
        if (partialSolid || typeSets.isEmpty || typeSets.exists(_.isEmpty)) Nil
        else typeSets.flatten.distinct.sorted
      // edges (planar|spherical per GeoParquet 1.1; GeoArrow also names the
      // spheroid formulas): trusted only on unanimous declaration — mixing
      // edge models within a column would silently mismeasure
      val edgeDecls = decls.map(_._2.edges).distinct
      val edges = if (!partial && edgeDecls.length == 1) edgeDecls.head else None
      // the geodesic-bounds promise holds for the dataset only if EVERY
      // file that contributed covering boxes made it (one chord-covering
      // file poisons lat pruning for the union)
      val coveringGeodesic = covering.isDefined && decls.forall(_._2.coveringGeodesic)
      GeomColumn(name, decls.head._2.encoding, crss.head, bbox, covering, geometryTypes,
        edges, coveringGeodesic)
    }
    Some(GeoMeta(declared.head._2.version, primaries.head, cols))
  }

  private def parseGeoJson(json: String): GeoMeta = {
    val root = mapper.readTree(json)
    val cols = root.path("columns").properties().asScala.map { e =>
      val c = e.getValue
      GeomColumn(
        name = e.getKey,
        encoding = c.path("encoding").asText("WKB"),
        crs = Option(c.get("crs")).filterNot(_.isNull).map(_.toString),
        bbox = Option(c.get("bbox")).filter(_.size() >= 4).map(b =>
          (b.get(0).asDouble, b.get(1).asDouble, b.get(2).asDouble, b.get(3).asDouble)),
        covering = Option(c.at("/covering/bbox/xmin/0")).filterNot(_.isMissingNode)
          .filterNot(_.isNull).map(_.asText()).filter(_.nonEmpty),
        geometryTypes = Option(c.get("geometry_types")).filter(_.isArray)
          .map(_.asScala.map(_.asText()).toSeq).getOrElse(Nil),
        // exact model from our auxiliary key when present (spheroid families
        // footer-encode as the spec-compliant `edges: spherical`); raw
        // `edges` otherwise — including legacy files that carried the family
        // name directly in `edges`
        edges = Option(c.get("graft:edges_model")).orElse(Option(c.get("edges")))
          .filterNot(_.isNull).map(_.asText()).filter(_.nonEmpty),
        coveringGeodesic = Option(c.get("graft:covering_bounds"))
          .filterNot(_.isNull).exists(_.asText() == "geodesic"))
    }.toSeq
    GeoMeta(root.path("version").asText("1.1.0"), root.path("primary_column").asText("geometry"), cols)
  }

  // ── read ──────────────────────────────────────────────────────────────

  /** Read a GeoParquet file/directory. Geometry columns keep WKB binary
    * encoding and gain field metadata (crs, geoparquet encoding). With
    * `bbox`, filters push to parquet row-group stats through the covering
    * column when one exists (coarse) and always refine exactly.
    *
    * The dataset is the `.parquet` part-files under `path` (recursively,
    * hidden and `_`-prefixed entries skipped), or `path` itself if it is a
    * file. Its schema is the first part-file's in sorted path order, as
    * with `spark.read.parquet`; under `spark.sql.parquet.mergeSchema` it
    * is all part-files' schemas merged as Spark merges them. Hive
    * partition columns are inferred from the directory names. An empty
    * directory fails. Cost: one listing and, unless the dataset's listing
    * is unchanged since an earlier call, one footer open per part-file,
    * all on the driver (a Spark job past 64 part-files); the returned
    * DataFrame's actions then run only their own scan jobs.
    *
    * Session-conf side effect (bbox + native encoding only): appends
    * `geoparquet` to `spark.sql.optimizer.nestedPredicatePushdown
    * .supportedFileSources` — once, logged — so the struct-leaf envelope
    * filters reach parquet's column-index page skip when the user's query
    * later plans. The setting outlives this call by necessity; an
    * explicitly emptied list (nested pushdown disabled globally) is
    * honored. */
  def read(spark: SparkSession, path: String,
           bbox: Option[(Double, Double, Double, Double)] = None,
           limit: Long = -1L, offset: Long = 0L): DataFrame = {
    graft.functions.GeoFunctions.register(spark)
    require(offset >= 0, s"GeoParquet.read: offset $offset must be >= 0")
    require(bbox.isEmpty || (offset == 0 && limit < 0),
      "GeoParquet.read: limit/offset with bbox is ambiguous in a parallel " +
        "engine (no defined row order after a spatial filter) — apply " +
        ".limit/.offset on the returned DataFrame instead")
    val ds = footers(spark, path)
    require(ds.files.nonEmpty, s"GeoParquet.read: no parquet part-files under $path")
    val meta = ds.meta
    // bbox on a NATIVE-encoded column with no covering struct: route the
    // scan through GeoParquetFileFormat's stats-pruning reader, which plans
    // row groups from the x/y leaf columns' own parquet min/max stats (the
    // reference's second pruning path, spatial_filter.rs:59-181). Stock
    // Spark can't push predicates on repeated leaves, so without this an
    // externally produced native file full-scans at 100 TB.
    // Edge-model discipline for a bbox read of STAMPED data (round 20 —
    // the last operation the edges contract names, edges.rs:3-8
    // "bounding"): a geodesic edge bows poleward past its vertex-chord
    // bbox, so vertex-derived stats (native leaf min/max, chord covering
    // boxes) can only prune LONGITUDES (monotone along a shortest
    // geodesic); latitudes prune only against geodesic-padded boxes (our
    // writer's graft:covering_bounds promise). The final refine traces
    // the arcs (segmentized) instead of the chords. Honors the global
    // spark.graft.edges.dispatch kill switch like every edges rewrite.
    val edgesAware = spark.conf.get("spark.graft.edges.dispatch", "true").toBoolean
    def nonPlanarModel(c: GeomColumn): Boolean = edgesAware &&
      c.edges.map(_.toLowerCase).exists(
        Set("spherical", "karney", "andoyer", "thomas", "vincenty"))
    val statsPrune: Option[String] = bbox.flatMap { case (qxmin, qymin, qxmax, qymax) =>
      meta.flatMap { m =>
        m.columns.find(_.name == m.primaryColumn)
          .filter(c => c.covering.isEmpty && nativeTranscoder(c.encoding).isDefined)
          .map { c =>
            if (nonPlanarModel(c)) s"${c.name};$qxmin,-9e99,$qxmax,9e99"
            else s"${c.name};$qxmin,$qymin,$qxmax,$qymax"
          }
      }
    }
    var df = statsPrune match {
      case Some(spec) =>
        // nested predicate pushdown is gated on the format's shortName
        // being listed (DataSourceUtils.supportNestedPredicatePushdown
        // matches HadoopFsRelation.toString = shortName): without this the
        // point-layout struct-leaf filters below stop at DataFilters and
        // parquet's column-index page skip never engages. DOCUMENTED
        // session-conf mutation: the filter translation runs when the
        // USER'S query plans (long after this method returns), so the
        // setting cannot be scoped to this call. An explicitly EMPTIED
        // list (user disabled nested pushdown globally) is honored — the
        // read stays correct, just unpushed.
        val key = "spark.sql.optimizer.nestedPredicatePushdown.supportedFileSources"
        val cur = spark.conf.get(key, "parquet,orc")
        if (cur.trim.nonEmpty &&
            !cur.toLowerCase.split(",").map(_.trim).contains("geoparquet")) {
          log.info(s"GeoParquet.read: appending 'geoparquet' to $key " +
            s"(was '$cur') so native-encoding bbox filters reach the " +
            "parquet column-index; persists for the session (see read() scaladoc)")
          spark.conf.set(key, cur + ",geoparquet")
        }
        relation(spark, ds, new GeoParquetFileFormat, Map(GeoParquetFileFormat.BboxFilterKey -> spec))
      case None if offset > 0 || limit >= 0 => rowWindowDf(spark, ds, limit, offset)
      case None => relation(spark, ds)
    }

    // Row-level refine DURING decode for the native covering-less path —
    // the reference's ArrowPredicate (rust/geoparquet/src/reader/
    // spatial_filter.rs:183-196): after the row-group prune, surviving
    // groups still hold rows outside the window. The envelope test runs on
    // the RAW coordinate columns before any WKB transcode/JTS parse:
    //  - point layout: plain struct-leaf comparisons that PUSH DOWN to the
    //    parquet reader (PushedFilters on geometry.x/geometry.y), so
    //    parquet-mr's column indexes skip whole PAGES inside
    //    partially-matching groups before decode;
    //  - nested list layouts: codegen'd array_min/array_max over the
    //    coordinate arrays — no page skip (parquet rejects predicates on
    //    repeated leaves) but rows outside the window never reach the
    //    transcode + JTS stage.
    var nativePreFiltered = false
    (bbox, statsPrune) match {
      case (Some((qxmin, qymin, qxmax, qymax)), Some(_)) =>
        meta.foreach { m =>
          m.columns.find(_.name == m.primaryColumn).foreach { c =>
            // stamped columns: the raw-coordinate test sees vertices, not
            // arcs — latitude comparisons widen away (lon-only prefilter)
            val (pymin, pymax) =
              if (nonPlanarModel(c)) (-9e99, 9e99) else (qymin, qymax)
            nativeEnvelopePredicate(c.name, c.encoding,
              qxmin, pymin, qxmax, pymax).foreach { p =>
              df = df.where(p)
              nativePreFiltered = true
            }
          }
        }
      case _ =>
    }

    // attach CRS/encoding as column metadata (ARROW:extension-style);
    // native-geoarrow-encoded columns (GeoParquet 1.1 `encoding: point|…|
    // multipolygon`, nested list/struct coords) are transcoded to WKB at
    // scan time so every ST_* function accepts them — the Spark equivalent
    // of the reference's per-batch parse (rust/geoparquet/src/reader/
    // parse.rs:30 infer_geoarrow_schema)
    meta.foreach { m =>
      val geomCols = m.columns.filter(c => df.columns.contains(c.name)).map(c => c.name -> c).toMap
      // ONE select over all columns rather than per-column withColumn:
      // withColumn(name, expr.as(name, md)) can silently drop the alias
      // metadata depending on the child plan's shape (observed on
      // SQL-derived children); a Project with explicit aliases always
      // keeps it, and collapses to a single node anyway
      val projected = df.columns.map { name =>
        geomCols.get(name) match {
          case Some(c) =>
            val md = new MetadataBuilder()
            c.crs.foreach(md.putString("geoparquet.crs", _))
            // edge model rides the column so measure dispatch (GeoFunctions.
            // edgeLength/edgeArea) routes to the matching formula downstream
            c.edges.foreach(md.putString("geoparquet.edges", _))
            // footer geometry_types constraint rides along too: the binary
            // edges distance dispatch fires only on proven point-only
            // columns (its kernels are first-coordinate distance)
            if (c.geometryTypes.nonEmpty)
              md.putString("geoparquet.geometry_types", c.geometryTypes.mkString(","))
            nativeTranscoder(c.encoding) match {
              case Some(fn) =>
                // transcoded at scan time → post-scan representation is WKB
                md.putString("geoparquet.encoding", "WKB")
                md.putString("geoparquet.source_encoding", c.encoding)
                val (hasZ, hasM) = zmFlags(df.schema(c.name).dataType)
                call_function(fn, col(c.name), lit(hasZ), lit(hasM)).as(name, md.build())
              case None =>
                // WKB passes through as WKB; an UNKNOWN encoding keeps its
                // declared name so downstream never mistakes bytes for WKB
                md.putString("geoparquet.encoding",
                  if (c.encoding.equalsIgnoreCase("WKB")) "WKB" else c.encoding)
                col(name).as(name, md.build())
            }
          case None => col(name)
        }
      }
      if (geomCols.nonEmpty) df = df.select(projected.toIndexedSeq: _*)
    }

    bbox match {
      case Some((qxmin, qymin, qxmax, qymax)) =>
        val gcol = meta.map(_.primaryColumn).getOrElse("geometry")
        val colMeta = meta.flatMap(_.columns.find(_.name == gcol))
        val covering = colMeta.flatMap(_.covering)
        val stamped = colMeta.exists(nonPlanarModel)
        val coveringGeo = colMeta.exists(_.coveringGeodesic)
        val coarse: Column = covering match {
          case Some(cov) if stamped && !coveringGeo =>
            // foreign chord covering of arc data: latitudes cannot prune
            // (the arc bows poleward past the chord box either way);
            // longitudes prune only when the box PROVES no seam crossing —
            // geodesic longitude is monotone only modulo 360, and a
            // shortest geodesic whose endpoints' raw lons differ by >180°
            // runs through ±180, outside the vertex interval. Such a
            // segment forces the vertex box's width past 180°, so any box
            // with width ≤ 180° (and the normal xmin ≤ xmax orientation —
            // xmin > xmax is the GeoJSON/GeoParquet antimeridian-spanning
            // convention) is wrap-free and its lon test is exact-safe;
            // wider or inverted boxes pass through to the arc refine.
            log.warn(s"GeoParquet.read: bbox filter over edges-stamped column " +
              s"'$gcol' whose covering boxes are vertex-chord (no " +
              "graft:covering_bounds promise) — pruning longitudes only, " +
              "and only for boxes that provably avoid the antimeridian. " +
              "Rewrite with GeoParquet.write to restore latitude pruning.")
            (col(s"$cov.xmin") <= qxmax && col(s"$cov.xmax") >= qxmin) ||
            col(s"$cov.xmax") - col(s"$cov.xmin") > 180.0 ||
            col(s"$cov.xmin") > col(s"$cov.xmax")
          case Some(cov) =>
            // plain struct-leaf comparisons → native row-group/page pruning
            // (geodesic-padded boxes for stamped data: same test, the pad
            // is baked into the stored values and their parquet stats)
            col(s"$cov.xmin") <= qxmax && col(s"$cov.xmax") >= qxmin &&
            col(s"$cov.ymin") <= qymax && col(s"$cov.ymax") >= qymin
          case None if nativePreFiltered =>
            // the raw-coordinate envelope test already ran pre-transcode
            // (and pushed to the scan for point layouts) — re-running it
            // on WKB would just re-parse every surviving row four times
            lit(true)
          case None if stamped =>
            // per-row geodesic bound instead of the vertex envelope
            val bb = call_function("st_bboxgeodesic", col(gcol))
            bb.getField("xmin") <= qxmax && bb.getField("xmax") >= qxmin &&
            bb.getField("ymin") <= qymax && bb.getField("ymax") >= qymin
          case None =>
            // no covering column: the envelope test refines exactly; for
            // native encodings the row-group-level skip already happened in
            // GeoParquetFileFormat's stats-pruning reader (statsPrune above)
            call_function("st_xmin", col(gcol)) <= qxmax &&
            call_function("st_xmax", col(gcol)) >= qxmin &&
            call_function("st_ymin", col(gcol)) <= qymax &&
            call_function("st_ymax", col(gcol)) >= qymin
        }
        val rect = call_function("st_makeenvelope", lit(qxmin), lit(qymin), lit(qxmax), lit(qymax))
        val refine =
          if (stamped) {
            // trace the ARCS, not the chords: rows surviving the coarse
            // prune are densified with exact geodesic waypoints before the
            // box test, so a window crossed by the arc but not the chord
            // keeps its row, and a seam-crossing arc (vertex lons >180°
            // apart) is tested on BOTH sides of ±180 instead of as a
            // world-spanning planar chord (chord-vs-arc error at the
            // default 50-km step is ~s²/8R ≈ 50 m; see
            // docs/FUNCTIONS.md on spark.graft.edges.refine.segmentizeMeters).
            // Candidate rows only — the coarse prune has already run.
            val step = spark.conf
              .get("spark.graft.edges.refine.segmentizeMeters", "50000").toDouble
            call_function("st_arcintersectsbox", col(gcol),
              lit(qxmin), lit(qymin), lit(qxmax), lit(qymax), lit(step))
          } else call_function("st_intersects", col(gcol), rect)
        df.where(coarse && refine)
      case None => df
    }
  }

  /** Reader-level `limit`/`offset` (the reference's pagination options,
    * python/geoarrow-io/.../_parquet.pyi:134-135,153-154) over the
    * dataset's STABLE row order: files sorted by path, row groups in
    * file order, rows in group order. From the row counts of the
    * footers already read, the driver selects the files overlapping the
    * half-open window [offset, offset+limit), and each task decodes its row
    * groups inside the window ([[GeoParquetFileFormat.rowWindowRead]]);
    * the ≤ 2 boundary FILES get a row-exact trim via the codegen'd
    * `_metadata.row_index` comparison — rows before `offset` or past the
    * limit are never decoded beyond their own row group. Hive-style
    * partitioned layouts are rejected (subdirectory ordering vs
    * partition-column reconstruction is ambiguous — paginate a
    * partition directory instead). The returned rows are the exact
    * window SET; Spark DataFrames carry no inter-partition order, so
    * re-sort on output if presentation order matters. */
  private def rowWindowDf(spark: SparkSession, ds: Footers,
                          limit: Long, offset: Long): DataFrame = {
    require(!ds.files.exists(_.getPath.getParent.getName.contains("=")),
      "GeoParquet.read: limit/offset over a hive-partitioned layout is " +
        "not supported — paginate one partition directory at a time")
    val starts = ds.rows.scanLeft(0L)(_ + _)
    val total = starts.last
    val winStart = math.min(offset, total)
    val winEnd = if (limit < 0) total
      else math.min(total, math.addExact(winStart, limit))
    val windowed = ds.files.zip(starts.zip(ds.rows)).collect {
      case (f, (s, n)) if s < winEnd && s + n > winStart => (f, s, n)
    }
    if (windowed.isEmpty) return relation(spark, ds).where(lit(false))
    val spec = s"$winStart\t$winEnd\t" +
      windowed.map { case (f, s, _) => s"${f.getPath}=$s" }.mkString("\u0001")
    var df = relation(spark, ds, new GeoParquetFileFormat,
      Map(GeoParquetFileFormat.RowWindowKey -> spec), windowed.map(_._1))
    // row-exact trim for the boundary files only (codegen'd literals —
    // middle files pass with a single path comparison short-circuit)
    val (headF, headS) = (windowed.head._1.getPath.toString, windowed.head._2)
    val (tailF, tailS) = (windowed.last._1.getPath.toString, windowed.last._2)
    val needHead = headS < winStart
    val needTail = tailS + windowed.last._3 > winEnd
    if (needHead || needTail) {
      val p = col("_metadata.file_path")
      val gpos = col("_metadata.row_index")
      var cond = lit(true)
      if (needHead)
        cond = cond && (p =!= lit(headF) || gpos >= lit(winStart - headS))
      if (needTail)
        cond = cond && (p =!= lit(tailF) || gpos < lit(winEnd - tailS))
      df = df.where(cond)
    }
    df
  }

  /** Spatially cluster `df` by Hilbert order of geometry-envelope centers
    * over the dataset extent: range-partition + sort on the Hilbert cell so
    * nearby geometries land in the same files/row groups. THIS is what
    * makes the covering-column bbox pushdown actually prune at scale — with
    * random row order every row group's bbox spans the whole extent and the
    * parquet reader can skip nothing. One extent-aggregation job, one
    * range shuffle (sampled boundaries, Spark's RangePartitioner). */
  def spatialSort(df: DataFrame, geometryColumn: String = "geometry",
                  numPartitions: Int = 0): DataFrame = {
    graft.functions.GeoFunctions.register(df.sparkSession)
    val b = call_function("st_bbox", col(geometryColumn))
    val ext = df.select(b.as("b"))
      .agg(min("b.xmin"), min("b.ymin"), max("b.xmax"), max("b.ymax")).head()
    if (ext.isNullAt(0)) return df // no geometries
    val h = call_function("graft_hilbert", b,
      lit(ext.getDouble(0)), lit(ext.getDouble(1)), lit(ext.getDouble(2)), lit(ext.getDouble(3)))
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    df.withColumn("__hilbert", h)
      .repartitionByRange(n, col("__hilbert"))
      .sortWithinPartitions("__hilbert")
      .drop("__hilbert")
  }

  /** Envelope-intersects-window predicate over a NATIVE (GeoArrow
    * separated-coordinate) column's raw nested doubles — evaluated before
    * any WKB transcode or JTS parse. Point layout yields struct-leaf
    * comparisons (parquet-pushable); list layouts flatten to the
    * coordinate array and compare its min/max per axis (codegen'd
    * higher-order functions, no pushdown — parquet rejects predicates on
    * repeated leaves). Null/empty geometries evaluate null → filtered,
    * matching ST_Intersects(null/empty, rect). */
  private[sources] def nativeEnvelopePredicate(
      gcol: String, encoding: String,
      qxmin: Double, qymin: Double, qxmax: Double, qymax: Double): Option[Column] = {
    val depth = encoding.toLowerCase match {
      case "point" => 0
      case "linestring" | "multipoint" => 1
      case "polygon" | "multilinestring" => 2
      case "multipolygon" => 3
      case _ => return None
    }
    if (depth == 0)
      Some(col(s"$gcol.x") <= qxmax && col(s"$gcol.x") >= qxmin &&
           col(s"$gcol.y") <= qymax && col(s"$gcol.y") >= qymin)
    else {
      var coords: Column = col(gcol)
      var d = depth
      while (d > 1) { coords = flatten(coords); d -= 1 }
      val xs = transform(coords, c => c.getField("x"))
      val ys = transform(coords, c => c.getField("y"))
      Some(array_min(xs) <= qxmax && array_max(xs) >= qxmin &&
           array_min(ys) <= qymax && array_max(ys) >= qymin)
    }
  }

  /** GeoParquet 1.1 native encoding name → transcode function. */
  private def nativeTranscoder(encoding: String): Option[String] =
    encoding.toLowerCase match {
      case "point" => Some("ga_point")
      case "linestring" => Some("ga_linestring")
      case "polygon" => Some("ga_polygon")
      case "multipoint" => Some("ga_multipoint")
      case "multilinestring" => Some("ga_multilinestring")
      case "multipolygon" => Some("ga_multipolygon")
      case _ => None // "WKB" (any case) or unknown → leave as-is
    }

  /** z/m presence from the leaf coordinate struct's field names (GeoArrow
    * separated layout: x, y[, z][, m]). */
  private def zmFlags(dt: org.apache.spark.sql.types.DataType): (Boolean, Boolean) = dt match {
    case org.apache.spark.sql.types.ArrayType(e, _) => zmFlags(e)
    case s: StructType =>
      val names = s.fieldNames.map(_.toLowerCase).toSet
      (names.contains("z"), names.contains("m"))
    case _ => (false, false)
  }

  // ── write ─────────────────────────────────────────────────────────────

  /** geometry WKB column → GeoArrow export function for a native encoding;
    * inverse of [[nativeTranscoder]]. */
  private def nativeExporter(encoding: String): Option[String] =
    nativeTranscoder(encoding).map("ga_to_" + _.stripPrefix("ga_"))

  /** Write `df` as GeoParquet 1.1: adds the `bbox` covering struct (unless
    * `covering=false`) and writes in one pass through Spark's parquet
    * writer, each part-file's `geo` KV set at file close. When `crs` is not
    * given, the `geoparquet.crs` field metadata stamped by [[read]] is
    * propagated automatically — read→write→read preserves CRS with no
    * caller involvement.
    *
    * `secondaryGeometry`: additional WKB geometry columns recorded in the
    * `geo` footer alongside the primary (GeoParquet 1.1 multi-column model,
    * e.g. centroid + boundary; the reference's `columns` map,
    * rust/geoparquet/src/metadata.rs:30). Each gets its own per-file
    * observed geometry_types and a CRS from its `geoparquet.crs` field
    * metadata (falling back to the primary's); the covering bbox and native
    * encoding apply to the primary only. */
  def write(df: DataFrame, path: String, geometryColumn: String = "geometry",
            crs: Option[String] = None, covering: Boolean = true,
            mode: String = "overwrite", encoding: String = "WKB",
            partitionBy: Seq[String] = Nil,
            secondaryGeometry: Seq[String] = Nil,
            edges: Option[String] = None): Unit = {
    val spark = df.sparkSession
    graft.functions.GeoFunctions.register(spark)
    def metaField(name: String, key: String): Option[String] =
      df.schema.fields.find(_.name == name)
        .filter(_.metadata.contains(key))
        .map(_.metadata.getString(key))
    def metaCrs(name: String): Option[String] = metaField(name, "geoparquet.crs")
    val effectiveCrs = crs.orElse(metaCrs(geometryColumn))
    // edges propagate read→write like CRS: explicit param, else the column
    // metadata stamped by [[read]]. Validated at the PRODUCER: GeoParquet
    // 1.1 names planar|spherical; the GeoArrow spheroid vocabulary
    // (edges.rs:35-70) is accepted as a documented superset our own reader
    // dispatches on. Anything else (a typo) would poison the footer with a
    // declaration no reader can honor — fail fast here instead.
    val effectiveEdges = edges.orElse(metaField(geometryColumn, "geoparquet.edges"))
    effectiveEdges.map(_.toLowerCase).foreach { e =>
      require(Set("planar", "spherical", "karney", "andoyer", "thomas", "vincenty")(e),
        s"GeoParquet.write: unknown edges declaration '$e' " +
          "(planar|spherical|karney|andoyer|thomas|vincenty)")
    }
    // covering under a non-planar edges declaration is the GEODESIC bound
    // (arc-padded to the Clairaut vertex latitude, st_bbox_geodesic): a
    // chord covering of geodesic data lets a bbox-filtered read prune a
    // row whose arc-but-not-chord crosses the window. The footer records
    // the promise (graft:covering_bounds) so the reader can lat-prune.
    val nonPlanarEdges = effectiveEdges.map(_.toLowerCase).exists(_ != "planar")
    val userBbox = df.columns.contains("bbox")
    if (covering && userBbox && nonPlanarEdges)
      log.warn("GeoParquet.write: caller-supplied bbox column on an edges-" +
        "stamped write — cannot promise geodesic covering bounds; readers " +
        "will not lat-prune this dataset. Drop the column to let the writer " +
        "compute ST_BBoxGeodesic, or supply arc-padded boxes yourself.")
    var out =
      if (covering && !userBbox)
        df.withColumn("bbox", call_function(
          if (nonPlanarEdges) "st_bboxgeodesic" else "st_bbox", col(geometryColumn)))
      else df
    // native (GeoArrow) encoding: transcode the WKB column to the nested
    // separated-coordinate layout AFTER the covering bbox is computed — the
    // resulting file is readable zero-copy by GeoPandas/pyarrow (same layout
    // as fixtures/geoparquet/nybb_geoarrow.parquet) and by GeoParquet.read
    val isWkb = encoding.equalsIgnoreCase("WKB")
    // "_z"/"_m"/"_zm" suffixes select the dimensioned exporter families
    // (XYZ round 16; XYM/XYZM round 17, matching the reference's all-dims
    // native write, rust/geoparquet/src/writer/encode.rs:21-74) — the
    // footer `encoding` name stays dimensionless (GeoParquet 1.1
    // vocabulary; the coord struct carries the z/m fields, and the
    // reader's zmFlags detect them)
    val encLower = encoding.toLowerCase
    val dimSuffix = Seq("_zm", "_z", "_m").find(encLower.endsWith).getOrElse("")
    val baseEncoding = encLower.stripSuffix(dimSuffix)
    if (!isWkb) {
      val fn = nativeExporter(baseEncoding)
        .map(_ + dimSuffix)
        .getOrElse(throw new IllegalArgumentException(
          s"GeoParquet.write: unsupported encoding '$encoding' (WKB, or " +
            "point|linestring|polygon|multipoint|multilinestring|multipolygon " +
            "with an optional _z/_m/_zm dimension suffix)"))
      out = out.withColumn(geometryColumn, call_function(fn, col(geometryColumn)))
    }
    // single-pass write: [[GeoParquetFileFormat]] reuses Spark's stock
    // parquet path and finalizes the `geo` KV at file close INSIDE each
    // writing task — per-file observed bbox + geometry_types, no second
    // scan, no rewrite, bytes move exactly once (the reference writer
    // model, rust/geoparquet/src/writer/encode.rs:21-74)
    var w = out.write.mode(mode)
      .format(classOf[GeoParquetFileFormat].getName)
      .option(GeoParquetFileFormat.GeomColKey, geometryColumn)
      .option(GeoParquetFileFormat.CoveringKey, if (covering) "bbox" else "")
      .option(GeoParquetFileFormat.EncodingKey, if (isWkb) "WKB" else baseEncoding)
    effectiveCrs.foreach(c => w = w.option(GeoParquetFileFormat.CrsKey, c))
    effectiveEdges.foreach(e => w = w.option(GeoParquetFileFormat.EdgesKey, e))
    if (covering && !userBbox && nonPlanarEdges)
      w = w.option(GeoParquetFileFormat.CoveringGeodesicKey, "true")
    if (secondaryGeometry.nonEmpty) {
      require(secondaryGeometry.forall(df.columns.contains),
        s"GeoParquet.write: secondaryGeometry columns missing from schema: " +
          secondaryGeometry.filterNot(df.columns.contains).mkString(", "))
      w = w.option(GeoParquetFileFormat.SecondaryKey, secondaryGeometry.mkString("\t"))
      secondaryGeometry.foreach { name =>
        metaCrs(name).orElse(effectiveCrs).foreach(c =>
          w = w.option(GeoParquetFileFormat.CrsKey + "." + name, c))
      }
    }
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    w.save(path)
  }

  /** Rewrite every part-file footer under `dir` (recursively — partitioned
    * layouts included) to add the `geo` KV entry. Row groups are byte-copied
    * (`appendFile`), existing KV (Spark's schema blob) is preserved, and
    * per-file bounds come from the covering column's parquet statistics.
    *
    * The rewrite runs as a Spark job — one task per batch of part-files —
    * NOT on the driver: it is a full row-group byte copy per file, so at
    * 100 TB it must scale out with the executors exactly like the write
    * that preceded it (the reference finalizes `geo` at file close inside
    * each writer, rust/geoparquet/src/writer/encode.rs:21-74; rewriting
    * from the driver would re-stream the entire dataset through one
    * process). Returns the number of footers rewritten inside executor
    * tasks, which callers/specs can assert equals the part-file count.
    */
  def addGeoMetadata(spark: SparkSession, dir: String, geometryColumn: String,
                     crs: Option[String], covering: Option[String],
                     encoding: String = "WKB",
                     geometryTypes: Seq[String] = Nil): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    val parts = listPartFiles(fs, d).map(_.getPath.toString)
    if (parts.isEmpty) return 0L
    // broadcast, not shipped in the closure: ~1,100 entries per task
    val serConf = RowFileSource.broadcastConf(spark)
    val inTask = spark.sparkContext.longAccumulator("graft.geoparquet.footerRewrites")
    spark.sparkContext
      .parallelize(parts, math.max(1, math.min(parts.length, spark.sparkContext.defaultParallelism)))
      .foreach { s =>
        val part = new Path(s)
        val c = serConf.value.value
        rewriteFooter(c, part.getFileSystem(c), part, geometryColumn, crs, covering, encoding, geometryTypes)
        if (org.apache.spark.TaskContext.get() != null) inTask.add(1L)
      }
    inTask.value
  }

  private def rewriteFooter(conf: Configuration, fs: FileSystem, part: Path,
                            geometryColumn: String, crs: Option[String],
                            covering: Option[String], encoding: String,
                            geometryTypes: Seq[String]): Unit = {
    val in = HadoopInputFile.fromPath(part, conf)
    val reader = ParquetFileReader.open(in)
    val (schema, oldKV, bounds) = try {
      val fmd = reader.getFooter.getFileMetaData
      (fmd.getSchema, fmd.getKeyValueMetaData.asScala.toMap, statsBounds(reader, covering))
    } finally reader.close()

    val geo = geoJson(geometryColumn, crs, covering, bounds, encoding, geometryTypes)
    val tmp = new Path(part.getParent, "." + part.getName + ".geo.tmp")
    val writer = new ParquetFileWriter(
      HadoopOutputFile.fromPath(tmp, conf), schema, ParquetFileWriter.Mode.OVERWRITE,
      128L * 1024 * 1024, /* maxPaddingSize = */ 8 * 1024 * 1024)
    writer.start()
    writer.appendFile(in)
    writer.end((oldKV + ("geo" -> geo)).asJava)
    if (!fs.delete(part, false) || !fs.rename(tmp, part))
      throw new java.io.IOException(s"footer rewrite failed for $part")
  }

  /** File bounds from parquet column statistics of the covering struct
    * leaves — zero data read (ref: spatial_filter.rs:395-416). */
  private def statsBounds(reader: ParquetFileReader,
                          covering: Option[String]): Option[(Double, Double, Double, Double)] =
    covering.flatMap { cov =>
      val blocks = reader.getFooter.getBlocks.asScala
      def agg(leaf: String, takeMax: Boolean): Option[Double] = {
        val vals = blocks.flatMap { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == s"$cov.$leaf")
            .flatMap(c => Option(c.getStatistics))
            .filter(s => !s.isEmpty)
            .map(s => (if (takeMax) s.genericGetMax else s.genericGetMin).asInstanceOf[Number].doubleValue())
        }
        if (vals.isEmpty) None else Some(if (takeMax) vals.max else vals.min)
      }
      for (x0 <- agg("xmin", takeMax = false); y0 <- agg("ymin", takeMax = false);
           x1 <- agg("xmax", takeMax = true); y1 <- agg("ymax", takeMax = true))
        yield (x0, y0, x1, y1)
    }

  /** One geometry column's slice of the `geo` footer blob. */
  private[graft] case class GeoColJson(name: String, encoding: String,
                                       crs: Option[String], covering: Option[String],
                                       bounds: Option[(Double, Double, Double, Double)],
                                       geometryTypes: Seq[String],
                                       edges: Option[String] = None,
                                       coveringGeodesic: Boolean = false)

  private[sources] def geoJson(geometryColumn: String, crs: Option[String], covering: Option[String],
                               bounds: Option[(Double, Double, Double, Double)],
                               encoding: String = "WKB",
                               geometryTypes: Seq[String] = Nil): String =
    geoJsonMulti(geometryColumn,
      Seq(GeoColJson(geometryColumn, encoding, crs, covering, bounds, geometryTypes)))

  /** The `geo` footer blob for one-or-many geometry columns (GeoParquet 1.1
    * `columns` map; reference: rust/geoparquet/src/metadata.rs:30). */
  private[graft] def geoJsonMulti(primary: String, colSpecs: Seq[GeoColJson]): String = {
    val root = mapper.createObjectNode()
    root.put("version", "1.1.0")
    root.put("primary_column", primary)
    val cols = root.putObject("columns")
    colSpecs.foreach { spec =>
      val c: ObjectNode = cols.putObject(spec.name)
      c.put("encoding", spec.encoding)
      // reference model: record the OBSERVED types, not an unconstrained []
      // (rust/geoparquet/src/metadata.rs `geometry_types`) — readers prune
      // by type with this. The single-pass writer passes each file's OWN
      // observed set (GeoParquet 1.1 per-file fidelity); the addGeoMetadata
      // retrofit path passes a caller-supplied (dataset-level) set — a
      // superset per file, safe for type-pruning readers. Native encodings
      // are single-type by construction.
      val gts = c.putArray("geometry_types")
      if (spec.encoding != "WKB") // native encoding is single-type by construction
        gts.add(spec.encoding.toLowerCase match {
          case "point" => "Point"
          case "linestring" => "LineString"
          case "polygon" => "Polygon"
          case "multipoint" => "MultiPoint"
          case "multilinestring" => "MultiLineString"
          case "multipolygon" => "MultiPolygon"
          case s => s
        })
      else spec.geometryTypes.sorted.foreach(gts.add)
      // crs is normally JSON (PROJJSON object, or the JSON-string-literal
      // form the Shapefile .prj stamp writes); a caller-supplied bare WKT
      // string degrades to a JSON string node rather than failing the whole
      // write — the shared [[crsJsonNode]] contract.
      spec.crs.foreach(j =>
        c.set[com.fasterxml.jackson.databind.JsonNode]("crs", crsJsonNode(mapper, j)))
      // edge interpretation between vertices — omitted means planar, so only
      // non-planar declarations are written. GeoParquet 1.1's `edges` field
      // admits ONLY planar|spherical (the spheroid vocabulary —
      // karney/andoyer/thomas/vincenty — is GeoArrow per-array metadata,
      // rust/geoarrow-schema/src/edges.rs:35-70, NOT footer vocabulary), so
      // a spheroid family writes the spec-compliant `edges: spherical`
      // (externally validated readers stay happy, and haversine is the
      // honest non-planar approximation for them) plus an auxiliary
      // `graft:edges_model` key our own reader prefers for exact dispatch.
      spec.edges.map(_.toLowerCase).filterNot(_ == "planar").foreach { e =>
        c.put("edges", "spherical")
        if (e != "spherical") c.put("graft:edges_model", e)
      }
      spec.bounds.foreach { case (x0, y0, x1, y1) =>
        val b = c.putArray("bbox"); b.add(x0); b.add(y0); b.add(x1); b.add(y1)
      }
      spec.covering.foreach { cov =>
        val bb = c.putObject("covering").putObject("bbox")
        Seq("xmin", "ymin", "xmax", "ymax").foreach { leaf =>
          val a = bb.putArray(leaf); a.add(cov); a.add(leaf)
        }
        // auxiliary promise (our reader's lat-pruning gate): the covering
        // boxes are geodesic bounds, arc-padded to the Clairaut vertex —
        // not chord boxes. Foreign readers ignore the key; padded boxes
        // are a plain superset, so their pruning stays correct too.
        if (spec.coveringGeodesic) c.put("graft:covering_bounds", "geodesic")
      }
    }
    mapper.writeValueAsString(root)
  }
}
