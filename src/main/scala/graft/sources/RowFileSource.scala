package graft.sources

import java.io.OutputStream
import java.util
import java.util.concurrent.{Callable, ConcurrentHashMap, ForkJoinPool}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** A file format decoded as full-width [[Row]]s — FlatGeobuf, Shapefile
  * and Arrow IPC. Each supplies only what differs between them: which
  * files a directory holds, the schema of a listing, the whole-file split,
  * the probe that splits one big file, and the decode of one split. `S` is
  * the split descriptor, planned on the driver and shipped to the task
  * that decodes it.
  *
  * Everything else is one implementation: listing, split planning, the
  * DSv2 table, scan and reader factory, and the Row→InternalRow reader.
  * `X.read(...)` and `spark.read.format("x").load(...)` both plan this
  * scan, so both prune columns down to the decoder.
  *
  * The one planning rule ([[RowFileSource.plan]]): a file at or under
  * `spark.sql.files.maxPartitionBytes` is one whole-file split and is
  * never probed; a bigger one is probed once per (path, size, mtime,
  * maxPartitionBytes) and its splits are cached.
  *
  * The one write rule ([[RowFileSource.writeParts]]): a write replaces this
  * format's `part-*` files in the directory — each task writes
  * `part-NNNNN.<ext>` for its partition, and once the job succeeds the
  * format's `part-*` files the write did not produce are deleted. */
private[graft] trait RowFileFormat[S] extends Serializable {
  /** The `format(...)` short name. */
  def name: String
  /** File-name suffixes a directory listing keeps. */
  def suffixes: Seq[String]
  /** Driver side: the schema of the listed `(path, size, mtime)` files. */
  def schemaOf(session: SparkSession, files: Seq[(String, Long, Long)]): StructType
  /** The split that decodes all of `path`. */
  def whole(path: String): S
  /** The splits of one file of `size` bytes over `maxPartitionBytes`, in
    * file order, read from the file or its sidecar. Runs on the driver's
    * IO pool or in a probe task. */
  def probe(path: String, size: Long, maxPartitionBytes: Long, conf: Configuration): Seq[S]
  /** Driver side: the splits of the listed files, in listing order. */
  def plan(session: SparkSession, files: Seq[(String, Long, Long)]): Seq[S] =
    RowFileSource.plan(session, this, files)
  /** Task side: the full-width rows of one split. `wanted` indexes the
    * full schema; a pruned column may stay null. */
  def decode(split: S, wanted: Array[Boolean], conf: Configuration): Iterator[Row]
}

/** `spark.read.format(format.name)`: the provider of a [[RowFileFormat]].
  * As Spark's own `FileDataSourceV2`, the table built to infer the schema
  * is the one `getTable` returns, so a load lists once and reads one
  * schema. */
private[sources] abstract class RowFileSource[S](format: RowFileFormat[S])
    extends TableProvider with DataSourceRegister {
  private var table: Table = _

  override def shortName(): String = format.name

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    if (table == null)
      table = RowFileSource.table(SparkSession.active, format, RowFileSource.paths(format, options))
    table.schema()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    if (table != null) table
    else RowFileSource.table(SparkSession.active, format,
      RowFileSource.paths(format, new CaseInsensitiveStringMap(properties)), Some(schema))

  override def supportsExternalMetadata(): Boolean = true
}

private[sources] object RowFileSource {
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The load paths: Spark puts one `.load(p)` into `path` and several
    * into `paths`, a JSON string array. */
  def paths(format: RowFileFormat[_], options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).toSeq
      .flatMap(jsonMapper.readValue(_, classOf[Array[String]]).toSeq)
    val all = (multi ++ Option(options.get("path"))).distinct
    require(all.nonEmpty, s"${format.name}: no path given (use .load(path))")
    all
  }

  /** `(path, size, mtime)` of the data files under `roots`: a root is one
    * file, or a directory whose files with the format's suffixes are
    * kept. An `http(s)://` root reads through [[HttpFileSystem]]. */
  def list(session: SparkSession, format: RowFileFormat[_],
           roots: Seq[String]): Seq[(String, Long, Long)] = {
    roots.foreach(HttpFileSystem.installIfUrl(session, _))
    val conf = session.sessionState.newHadoopConf()
    val files = roots.flatMap { r =>
      val p = new Path(r)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        fs.listStatus(p).filter(s => format.suffixes.exists(s.getPath.getName.endsWith))
          .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).toSeq
      else Seq((r, st.getLen, st.getModificationTime))
    }
    require(files.nonEmpty,
      s"no ${format.suffixes.mkString("/")} files under ${roots.mkString(",")}")
    files
  }

  /** The split plans of big files, keyed by (format, path, size, mtime,
    * maxPartitionBytes): an overwrite or append changes the key and
    * re-probes, so repeated reads of an unchanged dataset probe nothing. */
  private val splitPlans =
    new ConcurrentHashMap[(String, String, Long, Long, Long), Seq[Any]]()

  /** The splits of the listed files, in listing order: a file at or under
    * `maxPartitionBytes` is `format.whole`; a bigger one is
    * `format.probe`d through [[fanOut]] on a cache miss. */
  def plan[S](session: SparkSession, format: RowFileFormat[S],
              files: Seq[(String, Long, Long)]): Seq[S] = {
    val maxPart = session.sessionState.conf.filesMaxPartitionBytes
    def key(f: (String, Long, Long)) = (format.name, f._1, f._2, f._3, maxPart)
    val big = files.filter(_._2 > maxPart)
    // emission reads these local maps, never the cache again, so a
    // concurrent clear between insert and emit cannot drop a file's splits
    val cached = big.flatMap(f => Option(splitPlans.get(key(f))).map(f._1 -> _)).toMap
    val miss = big.filterNot(f => cached.contains(f._1))
    val probed = miss.map(_._1).zip(
      fanOut(session, miss) { conf => {
        case (f, size, _) => format.probe(f, size, maxPart, conf)
      }}).toMap
    // bound the map only when this plan inserts: an unconditional clear
    // made every other read of a >4096-file dataset re-probe it all
    if (miss.nonEmpty && splitPlans.size + miss.size > 4096) splitPlans.clear()
    miss.foreach(f => splitPlans.put(key(f), probed(f._1)))
    val splits = cached ++ probed
    files.flatMap { case (f, size, _) =>
      if (size > maxPart) splits(f).asInstanceOf[Seq[S]] else Seq(format.whole(f)) }
  }

  /** Driver-side metadata reads share this pool; its daemon threads exit
    * when idle. */
  private lazy val ioPool = new ForkJoinPool(16)

  /** `read` over `items`, results in item order — the one fan-out of the
    * driver's metadata reads (split probes, GeoParquet footers). Up to 64
    * items run on the driver's IO pool: the reads are small, and a cold
    * read of a few files starts no job. More run as ONE Spark job, so
    * thousands of files scale out with the executors. `read` turns the
    * session Hadoop conf into the per-item function, once on the driver
    * and once per probe task, which takes the conf from [[broadcastConf]]. */
  def fanOut[A: ClassTag, B: ClassTag](session: SparkSession, items: Seq[A])(
      read: Configuration => A => B): Seq[B] = {
    if (items.isEmpty) return Nil
    if (items.length <= 64) {
      val one = read(session.sessionState.newHadoopConf())
      ioPool.invokeAll(items.map(a => (() => one(a)): Callable[B]).asJava)
        .asScala.map(_.get()).toSeq
    } else {
      val sc = session.sparkContext
      val conf = broadcastConf(session)
      // parallelize slices in order and collect concatenates the slices
      // in order, so results line up with items
      sc.parallelize(items, math.min(items.length, sc.defaultParallelism))
        .mapPartitions { it => val one = read(conf.value.value); it.map(one) }
        .collect().toSeq
    }
  }

  /** The session Hadoop conf for tasks, captured driver-side (a bare
    * executor-side `new Configuration()` would drop spark.hadoop.*
    * overrides and credentials) and broadcast. A conf shipped inside a job
    * closure instead is deserialized by every task: ~1,100 entries cost a
    * directory write 20-30 ms more than this broadcast (`local[4]`, 4 vCPUs). */
  def broadcastConf(session: SparkSession): Broadcast[SerializableConfiguration] =
    session.sparkContext.broadcast(new SerializableConfiguration(session.sessionState.newHadoopConf()))

  /** The one write of the row-file formats: ONE Spark job over `df`'s
    * partitions. Each task hands its Catalyst rows to `encode` with an
    * `open(ext)` that creates `part-<partition id>.<ext>` in `path`; the
    * streams are closed when `encode` returns. The rows come from
    * `queryExecution.toRdd`, so no external [[Row]] is built, and the
    * iterator may hand out one reused row object: an encoder copies what
    * it keeps past the next row. After the job succeeds, every `part-*`
    * file in `path` with one of `extensions` that this write did not
    * produce is deleted, so a rewrite with fewer partitions, another
    * extension or no sidecar leaves nothing of the earlier write; other
    * files are not touched. */
  def writeParts(df: DataFrame, path: String, extensions: Seq[String])(
      encode: (Iterator[InternalRow], String => OutputStream) => Unit): Unit = {
    val conf = broadcastConf(df.sparkSession)
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value.value)
    fs.mkdirs(dir)
    val written = df.queryExecution.toRdd.mapPartitions { rows =>
      val pid = TaskContext.getPartitionId()
      val tfs = dir.getFileSystem(conf.value.value)
      val opened = ArrayBuffer.empty[(String, OutputStream)]
      def open(ext: String): OutputStream = {
        val name = f"part-$pid%05d.$ext"
        val out = tfs.create(new Path(dir, name), true)
        opened += name -> out
        out
      }
      try encode(rows, open) finally opened.foreach(_._2.close())
      opened.iterator.map(_._1)
    }.collect().toSet
    fs.listStatus(dir).map(_.getPath).filter { p =>
      val n = p.getName
      n.startsWith("part-") && !written(n) && extensions.exists(e => n.endsWith("." + e))
    }.foreach(fs.delete(_, false))
  }

  def table[S](session: SparkSession, format: RowFileFormat[S], roots: Seq[String],
               schema: Option[StructType] = None): Table = {
    val files = list(session, format, roots)
    new RowFileTable(format, roots, files, schema.getOrElse(format.schemaOf(session, files)))
  }

  /** The function-style read: the same table `format(...)` loads, as a
    * DataFrame over a `DataSourceV2Relation`. */
  def read[S](session: SparkSession, format: RowFileFormat[S], roots: Seq[String]): DataFrame = {
    graft.functions.GeoFunctions.register(session)
    graft.plans.GraftInternal.ofRows(session, DataSourceV2Relation.create(
      table(session, format, roots), None, None, CaseInsensitiveStringMap.empty()))
  }
}

private[sources] final class RowFileTable[S](format: RowFileFormat[S], roots: Seq[String],
                                             files: Seq[(String, Long, Long)],
                                             dataSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"${format.name}(${roots.mkString(",")})"
  override def schema(): StructType = dataSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // pin the session that plans the scan — SparkSession.active at
    // execution time could be a DIFFERENT session sharing the context,
    // with different spark.hadoop.* overrides/credentials
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required = dataSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        // keep file field order; Catalyst projects to its own order above
        required = StructType(dataSchema.fields.filter(f =>
          requiredSchema.fieldNames.contains(f.name)))
      override def build(): Scan =
        new RowFileScan(format, files, dataSchema, required, SparkSession.active)
    }
}

private[sources] final class RowFileScan[S](format: RowFileFormat[S],
                                            files: Seq[(String, Long, Long)],
                                            dataSchema: StructType,
                                            required: StructType,
                                            session: SparkSession) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"${format.name}(required=[${required.fieldNames.mkString(",")}])"

  private lazy val partitions: Array[InputPartition] =
    format.plan(session, files).map(RowFileSplit(_): InputPartition).toArray

  override def planInputPartitions(): Array[InputPartition] = partitions

  // Spark asks a scan for its factory twice per query, all during physical
  // planning, and each broadcast of the ~110 KB conf costs ~10 ms on the
  // driver: one broadcast per scan
  private lazy val readerFactory: PartitionReaderFactory = {
    val outIdx = required.fieldNames.map(dataSchema.fieldIndex)
    val wanted = Array.fill(dataSchema.length)(false)
    outIdx.foreach(wanted(_) = true)
    RowReaderFactory(format, required.fields.map(_.dataType), outIdx, wanted,
      RowFileSource.broadcastConf(session))
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory
}

private[sources] final case class RowFileSplit[S](split: S) extends InputPartition

private[sources] final case class RowReaderFactory[S](format: RowFileFormat[S],
                                                      types: Array[DataType],
                                                      outIdx: Array[Int],
                                                      wanted: Array[Boolean],
                                                      conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new RowPartitionReader(
      format.decode(partition.asInstanceOf[RowFileSplit[S]].split, wanted, conf.value.value),
      outIdx, types)
}

/** Projects a full-width decoded [[Row]] stream down to the required
  * columns (`outIdx` into the full schema) and converts each value to its
  * Catalyst representation via [[CatalystTypeConverters]] (String→
  * UTF8String, Decimal, date/time, …). */
private[sources] final class RowPartitionReader(
    rows: Iterator[Row],
    outIdx: Array[Int],
    types: Array[DataType]) extends PartitionReader[InternalRow] {

  private val conv = types.map(CatalystTypeConverters.createToCatalystConverter)
  private var row: Row = _

  override def next(): Boolean = { val h = rows.hasNext; if (h) row = rows.next(); h }

  override def get(): InternalRow = {
    val vals = new Array[Any](outIdx.length)
    var i = 0
    while (i < outIdx.length) {
      val v = row.get(outIdx(i))
      vals(i) = if (v == null) null else conv(i)(v)
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = ()
}
