package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowFileReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Coordinate, CoordinateXYM, CoordinateXYZM, Geometry}

import graft.core.{GeoArrowOps, GeomOps}

/** Arrow IPC (Feather v2 / .arrow) reader with GeoArrow geometry support —
  * closes the reference's Arrow interchange row (`fixtures/nybb.arrow`,
  * bench input of rust/geoarrow-old/benches/nybb.rs:10-30) using the
  * arrow-vector runtime Spark already ships.
  *
  * Geometry columns are recognized by their `ARROW:extension:name` field
  * metadata (`geoarrow.point` … `geoarrow.multipolygon`) and decoded to the
  * engine's WKB from EITHER GeoArrow coordinate layout: interleaved
  * (`fixed_size_list<xy>[2]`, what GDAL/GeoPandas emit to .arrow) or
  * separated (`struct<x,y>`). Everything else maps by Arrow type.
  *
  * Distribution model: directories of .arrow files parallelize, and any
  * file larger than `spark.sql.files.maxPartitionBytes` additionally
  * splits into contiguous record-batch ranges planned from its FOOTER
  * (the block list carries every batch's offset + lengths) — the same
  * split discipline as the FlatGeobuf index reads, so one 50 GB .arrow
  * fans out instead of decoding in a single task.
  */
object ArrowIpc {

  // ── arrow field → spark type ──────────────────────────────────────────

  private def isGeo(md: java.util.Map[String, String]): Boolean =
    Option(md.get("ARROW:extension:name")).exists(_.startsWith("geoarrow."))

  /** Field → Spark type, recursive over nested layouts. Dictionary-encoded
    * fields (whose in-memory Field carries the INDEX type, the value type
    * living on the dictionary's own vector) map by their VALUE type via
    * `lookup` — the reader's dictionary vectors exist with the right type
    * from initialization (ArrowReader.initialize pre-creates them from the
    * schema), so this is safe even on zero-batch files. List-kind layouts
    * (List/LargeList/FixedSizeList and the view variants ListView/
    * LargeListView) all surface as `ArrayType`; RunEndEncoded surfaces as
    * its LOGICAL (values-child) type — run lookup is a physical encoding,
    * not a data shape, and `getObject` resolves it per row. */
  private def sparkTypeOf(
      f: org.apache.arrow.vector.types.pojo.Field,
      lookup: Long => org.apache.arrow.vector.dictionary.Dictionary): DataType = {
    import org.apache.arrow.vector.types.pojo.ArrowType
    if (isGeo(f.getMetadata)) BinaryType
    else Option(f.getDictionary).flatMap(enc => Option(lookup(enc.getId))) match {
      case Some(d) => sparkTypeOf(d.getVector.getField, lookup)
      case None => f.getType match {
        case t: ArrowType.Int =>
          (t.getBitWidth, t.getIsSigned) match {
            case (8, _) => ByteType
            case (16, _) => ShortType
            case (32, _) => IntegerType
            case _ => LongType
          }
        case t: ArrowType.FloatingPoint =>
          if (t.getPrecision == org.apache.arrow.vector.types.FloatingPointPrecision.SINGLE) FloatType
          else DoubleType
        case _: ArrowType.Utf8 | _: ArrowType.LargeUtf8 | _: ArrowType.Utf8View => StringType
        case _: ArrowType.Bool => BooleanType
        case t: ArrowType.Decimal => DecimalType(t.getPrecision, t.getScale)
        case _: ArrowType.Binary | _: ArrowType.LargeBinary | _: ArrowType.BinaryView => BinaryType
        case _: ArrowType.Date => DateType
        case t: ArrowType.Timestamp =>
          // a zone means instant semantics; zoneless is wall-clock (NTZ) —
          // arrow TZ vectors yield epoch longs, zoneless yield LocalDateTime
          if (t.getTimezone != null && t.getTimezone.nonEmpty) TimestampType
          else TimestampNTZType
        case _: ArrowType.List | _: ArrowType.LargeList | _: ArrowType.FixedSizeList |
             _: ArrowType.ListView | _: ArrowType.LargeListView =>
          val elem = f.getChildren.get(0)
          ArrayType(sparkTypeOf(elem, lookup), elem.isNullable)
        case _: ArrowType.Struct =>
          StructType(f.getChildren.asScala.toSeq.map(c =>
            StructField(c.getName, sparkTypeOf(c, lookup), c.isNullable)))
        case _: ArrowType.Map =>
          // child is entries: struct<key, value>; keys are non-null by spec
          val entries = f.getChildren.get(0)
          val vf = entries.getChildren.get(1)
          MapType(sparkTypeOf(entries.getChildren.get(0), lookup),
            sparkTypeOf(vf, lookup), vf.isNullable)
        case _: ArrowType.RunEndEncoded =>
          // children are [run_ends, values]; the logical type is the values'
          sparkTypeOf(f.getChildren.get(1), lookup)
        case other => throw new IllegalArgumentException(
          s"ArrowIpc: unsupported arrow type $other for column ${f.getName}")
      }
    }
  }

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Public schema of an .arrow file (geometry columns as WKB binary).
    * GeoArrow `ARROW:extension:metadata` (JSON with optional `crs`/`edges`,
    * the per-array metadata of rust/geoarrow-schema — edges.rs:35-70
    * attaches the edge model to EVERY array type, not just GeoParquet) is
    * surfaced as the same `geoparquet.crs`/`geoparquet.edges` Spark field
    * metadata the parquet reader stamps, so `GeoFunctions.edgeLength`/
    * `edgeArea` dispatch identically across sources. */
  def schemaOf(spark: SparkSession, path: String): StructType =
    Format.schemaOf(spark, RowFileSource.list(spark, Format, Seq(path)))

  /** [[schemaOf]] of one listed file. */
  private def schemaOfFile(file: String, conf: org.apache.hadoop.conf.Configuration): StructType =
    withReader(file, conf) { reader =>
      val fields0 = reader.getVectorSchemaRoot.getSchema.getFields.asScala.toSeq
      // stream-format dictionaries arrive INLINE with the batches, but the
      // schema message still declares every encoded field's VALUE type:
      // ArrowReader.initialize pre-creates each dictionary's vector (empty,
      // correctly typed) at schema read, so `lookup` maps stream and file
      // dictionaries identically here — only the values arrive later, and
      // loadNextBatch fills the same vector in place (round 16; previously
      // refused on the wrong belief that the value type was unknowable)
      StructType(fields0.map { f =>
        val base = StructField(f.getName, sparkTypeOf(f, reader.lookup))
        if (!isGeo(f.getMetadata)) base
        else {
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
          // a geometry-specific extension name IS a type constraint — stamp
          // it like GeoParquet's footer geometry_types so the binary edges
          // distance dispatch has point evidence (geoarrow.wkb stays
          // unconstrained: the bytes could hold any type)
          Option(f.getMetadata.get("ARROW:extension:name")).collect {
            case "geoarrow.point" => "Point"
            case "geoarrow.linestring" => "LineString"
            case "geoarrow.polygon" => "Polygon"
            case "geoarrow.multipoint" => "MultiPoint"
            case "geoarrow.multilinestring" => "MultiLineString"
            case "geoarrow.multipolygon" => "MultiPolygon"
          }.foreach(mb.putString("geoparquet.geometry_types", _))
          Option(f.getMetadata.get("ARROW:extension:metadata")).filter(_.nonEmpty).foreach { json =>
            // the Arrow spec allows arbitrary bytes here — a non-JSON blob
            // from another producer must not fail schema inference, it just
            // carries no crs/edges for us
            try {
              val node = jsonMapper.readTree(json)
              Option(node.get("edges")).filterNot(_.isNull).map(_.asText).filter(_.nonEmpty)
                .foreach(mb.putString("geoparquet.edges", _))
              // normalize through crsJsonText so all three readers
              // (GeoParquet footer, Shapefile .prj, Arrow extension
              // metadata) stamp the IDENTICAL JSON-text form — a textual
              // crs becomes a JSON string literal here exactly as it does
              // in GeoParquet.read, keeping string-equality comparisons of
              // the metadata stable across sources
              Option(node.get("crs")).filterNot(_.isNull)
                .foreach(c => mb.putString("geoparquet.crs",
                  GeoParquet.crsJsonText(if (c.isTextual) c.asText else c.toString)))
              // auxiliary constraint written by [[write]] for wkb columns —
              // a typed extension name (handled above) wins if both present
              Option(node.get("graft:geometry_types")).filterNot(_.isNull)
                .map(_.asText).filter(_.nonEmpty)
                .filterNot(_ => mb.build().contains("geoparquet.geometry_types"))
                .foreach(mb.putString("geoparquet.geometry_types", _))
            } catch { case _: com.fasterxml.jackson.core.JacksonException => }
          }
          base.copy(metadata = mb.build())
        }
      })
    }

  // ── GeoArrow nested-value decode (both coordinate layouts) ────────────

  /** `dims` disambiguates what the raw object alone cannot: an interleaved
    * 3-wide coord is XYZ or XYM depending on the coord child's NAME
    * ("xyz"/"xym" per the GeoArrow spec), which `getObject` erases —
    * "" = XY, "z", "m", "zm" (derived once per column by [[dimsOf]] or per
    * union child by [[parseUnionChild]]). Separated structs self-describe
    * through their keys, so `dims` is advisory there. */
  private def coordOf(v: Any, dims: String): Coordinate = v match {
    case l: java.util.List[_] => // interleaved fixed_size_list
      val d = l.asScala.map(_.asInstanceOf[Number].doubleValue())
      d.length match {
        case 2 => new Coordinate(d(0), d(1))
        case 3 => if (dims == "m") new CoordinateXYM(d(0), d(1), d(2))
                  else new Coordinate(d(0), d(1), d(2))
        case _ => new CoordinateXYZM(d(0), d(1), d(2), d(3))
      }
    case m: java.util.Map[_, _] => // separated struct
      val mm = m.asInstanceOf[java.util.Map[Any, Any]].asScala.map {
        case (k, value) => k.toString -> value.asInstanceOf[Number].doubleValue()
      }
      val hasZ = mm.contains("z"); val hasM = mm.contains("m")
      if (hasZ && hasM) new CoordinateXYZM(mm("x"), mm("y"), mm("z"), mm("m"))
      else if (hasM) new CoordinateXYM(mm("x"), mm("y"), mm("m"))
      else if (hasZ) new Coordinate(mm("x"), mm("y"), mm("z"))
      else new Coordinate(mm("x"), mm("y"))
    case other => throw new IllegalArgumentException(s"ArrowIpc: unexpected coord $other")
  }

  private def coords(v: Any, dims: String): Array[Coordinate] =
    v.asInstanceOf[java.util.List[_]].asScala.map(coordOf(_, dims)).toArray

  private def polygon(v: Any, dims: String): org.locationtech.jts.geom.Polygon = {
    val rings = v.asInstanceOf[java.util.List[_]].asScala
      .map(r => GeomOps.factory.createLinearRing(coords(r, dims)))
    if (rings.isEmpty) GeomOps.factory.createPolygon()
    else GeomOps.factory.createPolygon(rings.head, rings.tail.toArray)
  }

  /** One row per GeoArrow dimension: (union-child name suffix, coord dims
    * string, type-id base) — type id = base + kind offset
    * (rust/geoarrow-schema/src/type_id.rs:28-35). SINGLE SOURCE for both
    * the union field tree and the encoding-suffix resolution; the two
    * desynchronizing would split the GC-column schema from the union's. */
  private val DimSpecs: Seq[(String, String, Int)] =
    Seq(("", "xy", 0), (" Z", "xyz", 10), (" M", "xym", 20), (" ZM", "xyzm", 30))

  private val wktReaderTL = ThreadLocal.withInitial[org.locationtech.jts.io.WKTReader](
    () => new org.locationtech.jts.io.WKTReader(GeomOps.factory))

  private def decodeGeo(extName: String, v: Any, dims: String = ""): Geometry = {
    val f = GeomOps.factory
    extName.stripPrefix("geoarrow.") match {
      case "point" =>
        // GeoArrow encodes POINT EMPTY as all-NaN ordinates (a null point is
        // SQL NULL, a distinct thing — reference trait_.rs:157-198)
        val cd = coordOf(v, dims)
        if (java.lang.Double.isNaN(cd.x) && java.lang.Double.isNaN(cd.y)) f.createPoint()
        else f.createPoint(cd)
      case "linestring" => f.createLineString(coords(v, dims))
      case "multipoint" =>
        // an all-NaN member is POINT EMPTY (the write side's element-count-
        // preserving encoding for MULTIPOINT (..., EMPTY); sentinel defined
        // once in GeomOps' sibling — GeoArrowOps.nanEmptyPoint); the common
        // all-real case keeps the cheap fromCoords path
        val cs = coords(v, dims)
        if (cs.exists(GeoArrowOps.nanEmptyPoint))
          f.createMultiPoint(cs.map(c =>
            if (GeoArrowOps.nanEmptyPoint(c)) f.createPoint() else f.createPoint(c)))
        else f.createMultiPointFromCoords(cs)
      case "polygon" => polygon(v, dims)
      case "multilinestring" =>
        f.createMultiLineString(
          v.asInstanceOf[java.util.List[_]].asScala.map(l => f.createLineString(coords(l, dims))).toArray)
      case "multipolygon" =>
        f.createMultiPolygon(v.asInstanceOf[java.util.List[_]].asScala.map(polygon(_, dims)).toArray)
      case "wkb" => GeomOps.read(v.asInstanceOf[Array[Byte]])
      // serialized-text geometry (rust/geoarrow-schema/src/type.rs:1487 —
      // WktType over Utf8/LargeUtf8): the raw object is arrow Text
      case "wkt" => wktReaderTL.get.read(v.toString)
      // bbox struct (type.rs:1333 — "geoarrow.box", RectType): 2D envelope
      // polygon; a z range, when present, is a bbox attribute, not geometry
      case "box" =>
        val mm = v.asInstanceOf[java.util.Map[_, _]]
          .asInstanceOf[java.util.Map[Any, Any]].asScala.map {
            case (k, value) => k.toString -> value.asInstanceOf[Number].doubleValue()
          }
        // all-NaN extent = the EMPTY sentinel (mirrors the NaN empty-point
        // convention; a JTS null-envelope written raw would normalize into
        // a spurious [-1,0]² polygon on read)
        if (java.lang.Double.isNaN(mm("xmin")) && java.lang.Double.isNaN(mm("ymin")))
          f.createPolygon()
        else f.toGeometry(new org.locationtech.jts.geom.Envelope(
          mm("xmin"), mm("xmax"), mm("ymin"), mm("ymax")))
      case other => throw new IllegalArgumentException(s"ArrowIpc: unsupported geoarrow type $other")
    }
  }

  /** Coord dimensionality of a geometry column, from the Field tree (the
    * value objects erase it): the interleaved coord node is a
    * FixedSizeList whose single child is NAMED "xy"/"xyz"/"xym"/"xyzm";
    * the separated node is a struct with x/y[/z][/m] children. */
  private def dimsOf(f: org.apache.arrow.vector.types.pojo.Field): String = {
    import org.apache.arrow.vector.types.pojo.ArrowType
    f.getType match {
      case _: ArrowType.FixedSizeList if f.getChildren.size() == 1 &&
          Set("xy", "xyz", "xym", "xyzm")(f.getChildren.get(0).getName.toLowerCase) =>
        f.getChildren.get(0).getName.toLowerCase.stripPrefix("xy")
      case _: ArrowType.Struct =>
        val names = f.getChildren.asScala.map(_.getName.toLowerCase).toSet
        if (names("x") && names("y"))
          (if (names("z")) "z" else "") + (if (names("m")) "m" else "")
        else f.getChildren.asScala.map(dimsOf).find(_.nonEmpty).getOrElse("")
      case _ =>
        f.getChildren.asScala.map(dimsOf).find(_.nonEmpty).getOrElse("")
    }
  }

  /** Union child name → (geoarrow kind, dims): the reference names the
    * geometry union's children "Point", "Point Z", "MultiPolygon ZM", …
    * (rust/geoarrow-schema/src/type.rs:1064-1106). */
  private def parseUnionChild(name: String): (String, String) = {
    val parts = name.trim.split("\\s+")
    val kind = parts(0).toLowerCase
    require(Set("point", "linestring", "polygon", "multipoint",
        "multilinestring", "multipolygon", "geometrycollection")(kind),
      s"ArrowIpc: unrecognized geometry-union child '$name'")
    val dims = if (parts.length > 1) parts(1).toLowerCase else ""
    require(Set("", "z", "m", "zm")(dims),
      s"ArrowIpc: unrecognized dimension suffix in union child '$name'")
    (kind, dims)
  }

  /** One value of a `geoarrow.geometry` DENSE-UNION column: the type-id
    * selects the concrete child (getObject would erase which one), the
    * child's name carries kind + dims, and GeometryCollection children
    * recurse through [[gcGeom]] (their elements are again union values). */
  private def unionGeom(
      du: org.apache.arrow.vector.complex.DenseUnionVector, i: Int): Geometry = {
    val child = du.getVectorByType(du.getTypeId(i))
    require(child != null, s"ArrowIpc: geometry union has no child for type id ${du.getTypeId(i)}")
    val off = du.getOffset(i)
    val (kind, dims) = parseUnionChild(child.getName)
    if (kind == "geometrycollection")
      gcGeom(child.asInstanceOf[org.apache.arrow.vector.complex.ListVector], off)
    else {
      val raw = child.getObject(off)
      if (raw == null) null else decodeGeo(kind, raw, dims)
    }
  }

  /** One value of a `geoarrow.geometrycollection` column: List over the
    * geometry union — element decode needs the union's type ids, so this
    * walks the list's data vector directly instead of `getObject`. */
  private def gcGeom(
      lv: org.apache.arrow.vector.complex.ListVector, i: Int): Geometry = {
    if (lv.isNull(i)) return null
    val du = lv.getDataVector match {
      case d: org.apache.arrow.vector.complex.DenseUnionVector => d
      case other => throw new IllegalArgumentException(
        s"ArrowIpc: geometrycollection child must be a dense union, got ${other.getField.getType}")
    }
    val geoms = (lv.getElementStartIndex(i) until lv.getElementEndIndex(i))
      .map(j => unionGeom(du, j))
    GeomOps.factory.createGeometryCollection(geoms.toArray)
  }

  /** Per-column geometry decoder, built ONCE at scan setup: union-backed
    * extensions need the vector (type ids), everything else decodes the
    * raw `getObject` value with the column's dims resolved upfront and
    * dictionary-encoded CHILDREN (the GDAL interop shape) resolved per
    * cell through [[resolveNestedDicts]]. */
  private def geoDecoder(f: org.apache.arrow.vector.types.pojo.Field, extName: String,
      lookup: Long => org.apache.arrow.vector.dictionary.Dictionary)
      : (org.apache.arrow.vector.FieldVector, Int) => Geometry =
    extName.stripPrefix("geoarrow.") match {
      case "geometry" => (vec, i) =>
        unionGeom(vec.asInstanceOf[org.apache.arrow.vector.complex.DenseUnionVector], i)
      case "geometrycollection" => (vec, i) =>
        gcGeom(vec.asInstanceOf[org.apache.arrow.vector.complex.ListVector], i)
      case _ =>
        // a geometry column that is ITSELF dictionary-encoded (e.g. a
        // dict-encoded geoarrow.wkb of repeated footprints): getObject
        // returns the index — resolve through the dictionary before the
        // geometry decode, and take dims from the dictionary's VALUE field
        // (the outer field is just the index int)
        Option(f.getDictionary) match {
          case Some(enc) =>
            val dict = lookup(enc.getId)
            val dims = dimsOf(dict.getVector.getField)
            (vec, i) => {
              val idx = vec.getObject(i)
              if (idx == null) null
              else {
                val raw0 = dict.getVector.getObject(idx.asInstanceOf[Number].intValue())
                if (raw0 == null) null else decodeGeo(extName, raw0, dims)
              }
            }
          case None =>
            val dims = dimsOf(f)
            val nested = f.getChildren.asScala.exists(hasDictionary)
            (vec, i) => {
              val raw0 = vec.getObject(i)
              if (raw0 == null) null
              else decodeGeo(extName,
                if (nested) resolveNestedDicts(f, raw0, lookup) else raw0, dims)
            }
        }
    }

  // ── read ──────────────────────────────────────────────────────────────

  /** Adapts Hadoop's positioned stream to the SeekableByteChannel the Arrow
    * IPC reader wants, so .arrow files open through any Hadoop FileSystem
    * (local, HDFS, S3A, …) — same access path as the FlatGeobuf/GeoParquet
    * sources. Read-only. */
  private final class FsChannel(in: org.apache.hadoop.fs.FSDataInputStream, len: Long)
      extends java.nio.channels.SeekableByteChannel {
    private var closed = false
    override def read(dst: java.nio.ByteBuffer): Int = {
      val want = dst.remaining()
      if (want == 0) return 0
      val buf = new Array[Byte](want)
      val n = in.read(buf, 0, want)
      if (n > 0) dst.put(buf, 0, n)
      n
    }
    override def position(): Long = in.getPos
    override def position(p: Long): java.nio.channels.SeekableByteChannel = { in.seek(p); this }
    override def size(): Long = len
    override def isOpen: Boolean = !closed
    override def close(): Unit = if (!closed) { closed = true; in.close() }
    override def write(src: java.nio.ByteBuffer): Int = throw new UnsupportedOperationException("read-only")
    override def truncate(s: Long): java.nio.channels.SeekableByteChannel = throw new UnsupportedOperationException("read-only")
  }

  private def openChannel(path: String, conf: org.apache.hadoop.conf.Configuration): FsChannel = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    new FsChannel(fs.open(p), fs.getFileStatus(p).getLen)
  }

  /** True = IPC FILE format (leading "ARROW1" magic, footer-bearing);
    * false = STREAM format (.arrows — a bare message sequence). One 6-byte
    * read on the open channel, which is left at 0 for the reader. */
  private def isFileFormat(ch: FsChannel): Boolean = {
    val file = ch.size() >= 6 &&
      java.util.Arrays.equals(readFully(ch, 0, 6), "ARROW1".getBytes("US-ASCII"))
    ch.position(0)
    file
  }

  /** Format-appropriate reader over an open channel. Stream-format files
    * carry dictionary VALUES inline with the batches, but the schema
    * message declares the value types, so [[schemaOf]] maps both formats
    * identically (the reader pre-creates typed empty dictionary vectors at
    * schema read). */
  private def openReader(ch: FsChannel, allocator: RootAllocator, fileFormat: Boolean)
      : org.apache.arrow.vector.ipc.ArrowReader =
    if (fileFormat) new ArrowFileReader(ch, allocator)
    else new org.apache.arrow.vector.ipc.ArrowStreamReader(ch, allocator)

  private def withReader[T](file: String, conf: org.apache.hadoop.conf.Configuration)(
      f: org.apache.arrow.vector.ipc.ArrowReader => T): T = {
    val ch = openChannel(file, conf)
    val allocator = new RootAllocator()
    val reader = openReader(ch, allocator, isFileFormat(ch))
    try f(reader)
    finally { reader.close(); allocator.close(); ch.close() }
  }

  /** One large IPC file never splits with the stock one-file-one-task model
    * — a 50 GB .arrow would decode in a single task. The file FOOTER lists
    * every record-batch block (offset + metadata + body lengths), so a big
    * file partitions into contiguous BATCH ranges of about
    * `maxPartitionBytes`, the same discipline as the FlatGeobuf index
    * splits. Returns (path, startBlock, endBlockExcl); (-1, -1) = whole
    * file, as is a STREAM file (no footer). */
  private def blockSplits(f: String, maxPartitionBytes: Long,
                          conf: org.apache.hadoop.conf.Configuration): Seq[(String, Int, Int)] =
    withReader(f, conf) {
      case reader: ArrowFileReader =>
        val blocks = reader.getRecordBlocks.asScala.toIndexedSeq
        val groups = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
        var start = 0
        var acc = 0L
        var i = 0
        while (i < blocks.length) {
          val sz = blocks(i).getMetadataLength + blocks(i).getBodyLength
          if (i > start && acc + sz > maxPartitionBytes) {
            groups += ((f, start, i)); start = i; acc = 0L
          }
          acc += sz
          i += 1
        }
        if (start < blocks.length) groups += ((f, start, blocks.length))
        if (groups.length <= 1) Seq(Format.whole(f)) else groups.toSeq
      case _ => Seq(Format.whole(f))
    }

  // diagnostics (spec-proof of decode-level pruning; same device as
  // FlatGeobuf.decodedPropValues / Shapefile.decodedGeoms)
  private[graft] val decodedCells = new java.util.concurrent.atomic.LongAdder
  private[graft] val decodedGeoms = new java.util.concurrent.atomic.LongAdder
  // byte-level pruning proof: body bytes actually fetched vs the batches'
  // total body size (pruned-out columns' buffers are never read)
  private[graft] val bodyBytesRead = new java.util.concurrent.atomic.LongAdder
  private[graft] val bodyBytesTotal = new java.util.concurrent.atomic.LongAdder

  // ── byte-level column pruning (footer-driven selective buffer reads) ──

  /** IPC buffer/node counts of a field SUBTREE — the layout contract that
    * lets a reader skip a column: buffers are laid out in schema pre-order,
    * each field contributing `TypeLayout.getTypeBufferCount` of its own
    * plus its children's, so a top-level field owns one contiguous run of
    * the RecordBatch header's buffer entries. */
  private def subtreeBuffers(f: org.apache.arrow.vector.types.pojo.Field): Int =
    org.apache.arrow.vector.TypeLayout.getTypeBufferCount(f.getType) +
      f.getChildren.asScala.map(subtreeBuffers).sum
  private def subtreeNodes(f: org.apache.arrow.vector.types.pojo.Field): Int =
    1 + f.getChildren.asScala.map(subtreeNodes).sum
  private def hasDictionary(f: org.apache.arrow.vector.types.pojo.Field): Boolean =
    f.getDictionary != null || f.getChildren.asScala.exists(hasDictionary)

  /** Pre-order count of variadic-buffer-carrying (view-typed) nodes in a
    * field subtree — the RecordBatch's `variadicBufferCounts` carries one
    * entry per such node, in schema pre-order, sizing the extra data
    * buffers that follow the node's fixed (validity, views) pair. */
  private def subtreeViewSlots(f: org.apache.arrow.vector.types.pojo.Field): Int = {
    import org.apache.arrow.vector.types.pojo.ArrowType
    val t = f.getType
    val self =
      if (t.isInstanceOf[ArrowType.Utf8View] || t.isInstanceOf[ArrowType.BinaryView]) 1 else 0
    self + f.getChildren.asScala.map(subtreeViewSlots).sum
  }

  /** Resolve dictionary-encoded values INSIDE a nested column's raw
    * `getObject` tree. The stock reader leaves nested dictionary children
    * as raw indexes (only flat vectors are conventionally decoded by
    * callers), so a struct/list geometry with a dict-encoded child would
    * otherwise decode INDEXES as coordinates — silently wrong data, not
    * just an unpruned read. Walks the value guided by the Field tree;
    * ids resolve through the reader's loaded dictionaries (file-format
    * dictionary batches precede record batches, so they are complete
    * before any row is read). Costs nothing for columns without nested
    * dictionaries — callers gate on [[hasDictionary]] over children. */
  private def resolveNestedDicts(f: org.apache.arrow.vector.types.pojo.Field, v: Any,
      lookup: Long => org.apache.arrow.vector.dictionary.Dictionary): Any = {
    if (v == null) return null
    Option(f.getDictionary) match {
      case Some(enc) =>
        val d = lookup(enc.getId)
        require(d != null,
          s"ArrowIpc: dictionary ${enc.getId} for field ${f.getName} not present in file")
        d.getVector.getObject(v.asInstanceOf[Number].intValue())
      case None if f.getType.isInstanceOf[
          org.apache.arrow.vector.types.pojo.ArrowType.RunEndEncoded] =>
        // getObject already resolved the run lookup: the value has the
        // VALUES child's shape (children are [run_ends, values]); walking
        // the generic child list would misapply run_ends' field
        resolveNestedDicts(f.getChildren.get(1), v, lookup)
      case None =>
        val kids = f.getChildren
        if (kids.isEmpty || !kids.asScala.exists(hasDictionary)) v
        else v match {
          case m: java.util.Map[_, _] =>
            val byName = kids.asScala.map(k => k.getName -> k).toMap
            val out = new java.util.LinkedHashMap[Any, Any]()
            m.asInstanceOf[java.util.Map[Any, Any]].forEach { (k, value) =>
              out.put(k, byName.get(k.toString)
                .map(cf => resolveNestedDicts(cf, value, lookup)).getOrElse(value))
            }
            out
          case l: java.util.List[_] =>
            val child = kids.get(0)
            val out = new java.util.ArrayList[Any](l.size())
            l.forEach(e => out.add(resolveNestedDicts(child, e, lookup)))
            out
          case other => other
        }
    }
  }

  /** Build a per-FIELD converter closure, Arrow `getObject` tree → Catalyst
    * value: `Text` → `UTF8String` over its bytes, list-kind layouts (incl.
    * ListView/LargeListView) → `GenericArrayData`, `Struct` →
    * `GenericInternalRow` in child-field order, `Map` → `ArrayBasedMapData`
    * (a repeated key keeps its first position and last value), RunEndEncoded
    * → converted by its values child (the run lookup already happened
    * inside `getObject`), `Decimal` → Catalyst `Decimal`, dates → epoch
    * days, timestamps → epoch micros (floored, as `Instant` → micros).
    * Dictionary-encoded fields convert by their VALUE field — callers
    * resolve indexes to values first (top-level `dicts` lookup /
    * [[resolveNestedDicts]]). The Field walk, type dispatch and dictionary
    * lookups happen ONCE per column here, not per cell — decode loops pay
    * one closure call per value (plain scalars get `identity`). Every
    * returned closure is null-safe. */
  private def valueConverter(f: org.apache.arrow.vector.types.pojo.Field,
      lookup: Long => org.apache.arrow.vector.dictionary.Dictionary): Any => Any = {
    import org.apache.arrow.vector.types.pojo.ArrowType
    def nullSafe(g: Any => Any): Any => Any =
      v => if (v == null) null else g(v)
    Option(f.getDictionary).flatMap(enc => Option(lookup(enc.getId))) match {
      case Some(d) => valueConverter(d.getVector.getField, lookup)
      case None => f.getType match {
        case _: ArrowType.RunEndEncoded => valueConverter(f.getChildren.get(1), lookup)
        case _: ArrowType.Map =>
          // getObject yields a List of {key, value} entry maps
          val entries = f.getChildren.get(0)
          val kf = entries.getChildren.get(0)
          val vf = entries.getChildren.get(1)
          val (kName, vName) = (kf.getName, vf.getName)
          val (kc, vc) = (valueConverter(kf, lookup), valueConverter(vf, lookup))
          nullSafe { v =>
            val out = new java.util.LinkedHashMap[Any, Any]()
            v.asInstanceOf[java.util.List[_]].forEach { e =>
              val m = e.asInstanceOf[java.util.Map[_, _]]
              out.put(kc(m.get(kName)), vc(m.get(vName)))
            }
            new ArrayBasedMapData(new GenericArrayData(out.keySet.toArray),
              new GenericArrayData(out.values.toArray))
          }
        case _: ArrowType.List | _: ArrowType.LargeList | _: ArrowType.FixedSizeList |
             _: ArrowType.ListView | _: ArrowType.LargeListView =>
          val ec = valueConverter(f.getChildren.get(0), lookup)
          nullSafe(v => new GenericArrayData(v.asInstanceOf[java.util.List[_]].asScala.map(ec).toArray))
        case _: ArrowType.Struct =>
          val kids = f.getChildren.asScala.toArray
          val names = kids.map(_.getName)
          val convs = kids.map(valueConverter(_, lookup))
          nullSafe { v =>
            val m = v.asInstanceOf[java.util.Map[_, _]]
            val vals = new Array[Any](kids.length)
            var i = 0
            while (i < kids.length) { vals(i) = convs(i)(m.get(names(i))); i += 1 }
            new GenericInternalRow(vals)
          }
        case t: ArrowType.Decimal => nullSafe(v =>
          Decimal(v.asInstanceOf[java.math.BigDecimal], t.getPrecision, t.getScale))
        case _: ArrowType.Date => nullSafe {
          // DateDay yields epoch-day Integers, DateMilli LocalDateTime
          case ldt: java.time.LocalDateTime => ldt.toLocalDate.toEpochDay.toInt
          case day => day
        }
        case t: ArrowType.Timestamp if t.getTimezone != null && t.getTimezone.nonEmpty =>
          import org.apache.arrow.vector.types.TimeUnit
          val unit = t.getUnit
          // only a wall-clock value needs the zone: an id java.time cannot
          // parse fails that value, not the scan
          lazy val zone = java.time.ZoneId.of(t.getTimezone)
          nullSafe {
            case l: java.lang.Long => // TZ vectors: epoch in the declared unit
              val e = l.longValue()
              unit match {
                case TimeUnit.SECOND => Math.multiplyExact(e, 1000000L)
                case TimeUnit.MILLISECOND => Math.multiplyExact(e, 1000L)
                case TimeUnit.MICROSECOND => e
                case TimeUnit.NANOSECOND => Math.floorDiv(e, 1000L)
              }
            case ldt: java.time.LocalDateTime =>
              // zoned vectors normally yield longs; a producer's wall-clock
              // object is interpreted in the column's declared zone
              DateTimeUtils.instantToMicros(ldt.atZone(zone).toInstant)
          }
        case _: ArrowType.Timestamp => nullSafe { v =>
          // zoneless vectors yield wall-clock LocalDateTime
          DateTimeUtils.localDateTimeToMicros(v.asInstanceOf[java.time.LocalDateTime])
        }
        case _: ArrowType.Utf8 | _: ArrowType.LargeUtf8 | _: ArrowType.Utf8View =>
          nullSafe {
            case t: org.apache.arrow.vector.util.Text =>
              UTF8String.fromBytes(t.getBytes, 0, t.getLength.toInt)
            case other => UTF8String.fromString(other.toString)
          }
        case _ => identity // numeric/bool/binary pass through as-is
      }
    }
  }

  private def readFully(ch: FsChannel, pos: Long, len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    ch.position(pos)
    var off = 0
    while (off < len) {
      val bb = java.nio.ByteBuffer.wrap(out, off, len - off)
      val n = ch.read(bb)
      require(n > 0, s"ArrowIpc: unexpected EOF at ${pos + off}")
      off += n
    }
    out
  }

  /** Fill `ab`'s first `len` bytes from the channel at `pos`, chunked —
    * Arrow buffer lengths are 64-bit, so a single ≥2 GiB buffer must not
    * truncate through an Int (byte[] is the 2 GiB-bounded staging, the
    * ArrowBuf itself is long-addressed). */
  private def readIntoBuf(ch: FsChannel, pos: Long, len: Long,
                          ab: org.apache.arrow.memory.ArrowBuf): Unit = {
    val chunk = 1 << 26 // 64 MB staging
    var done = 0L
    while (done < len) {
      val n = math.min(chunk.toLong, len - done).toInt
      val bytes = readFully(ch, pos + done, n)
      ab.setBytes(done, bytes, 0, n)
      done += n
    }
  }

  /** The rows of `path`'s record batches [blockStart, blockEnd) (all
    * when -1), streamed batch by batch: only one IPC record batch is
    * resident at a time, so a multi-GB file never materializes in the
    * task. A 6-byte magic read on the opened channel tells the FILE format
    * (footer-bearing) from the STREAM format (.arrows); only a file-format
    * file splits into block ranges. Resources close when the rows are
    * exhausted AND on task completion (whichever comes first — a `LIMIT`
    * may abandon the iterator mid-file).
    *
    * `wanted` (full schema order; null = all) skips per-cell
    * materialization of pruned-out columns — the Arrow getObject boxing,
    * Text copies and, for geometry columns, the JTS build + WKB
    * serialization that dominate per-row cost. Both batch loaders feed
    * the one row iterator [[rows]]:
    *
    *  - the stock reader loads whole batches, so pruning saves CPU, not
    *    file IO;
    *  - with `pruneBytes`, on a file-format file whose `wanted` drops a
    *    column, a byte-level pruned load reads the FOOTER for the blocks,
    *    then per batch only the message HEADER (node and buffer offsets)
    *    plus the body byte ranges of the `wanted` columns — a pruned
    *    column's buffers are never fetched from storage, matching the
    *    columnar-IPC projection discipline of the reference's readers
    *    (rust/geoarrow-old/benches/wkb.rs:20-21 ProjectionMask). The
    *    surviving buffers are reassembled into a reduced-schema
    *    `ArrowRecordBatch` and loaded through the stock `VectorLoader`, so
    *    decode semantics are identical to the stock load. Compressed
    *    bodies (LZ4/ZSTD tags — GDAL's .arrow default) pass their
    *    `BodyCompression` through to a compression-capable `VectorLoader`,
    *    so the prune skips the pruned columns' COMPRESSED extents.
    *    Dictionary-encoded columns prune natively at ANY nesting depth
    *    (their wire batches are index buffers; the dictionary batches load
    *    once up front via the reader's initialize; nested children resolve
    *    per cell through [[resolveNestedDicts]]). View-typed columns
    *    (Utf8View/BinaryView — the reference treats WkbView/WktView as
    *    first-class geometry types, rust/geoarrow-schema/src/
    *    datatype.rs:50-66) prune natively too: their per-batch variadic
    *    data buffers are sized from the RecordBatch's
    *    `variadicBufferCounts` and the reassembled batch re-declares the
    *    kept counts for the loader. ListView/LargeListView (3 fixed
    *    buffers: validity/offsets/sizes) and RunEndEncoded (0 own buffers,
    *    children [run_ends, values] carry their own nodes+buffers) follow
    *    the same pre-order buffer-run arithmetic — every layout that
    *    passes [[schemaOf]] prunes natively. */
  private[graft] def decodeFile(path: String, conf: org.apache.hadoop.conf.Configuration,
                                wanted: Array[Boolean] = null,
                                blockStart: Int = -1,
                                blockEnd: Int = -1,
                                pruneBytes: Boolean = false): Iterator[InternalRow] = {
    import org.apache.arrow.vector.ipc.message.{ArrowFieldNode, ArrowRecordBatch, MessageSerializer}
    import org.apache.arrow.vector.ipc.ReadChannel
    val ch = openChannel(path, conf)
    val allocator = new RootAllocator()
    var reader: org.apache.arrow.vector.ipc.ArrowReader = null
    var pruned: org.apache.arrow.vector.VectorSchemaRoot = null
    var closed = false
    def closeAll(): Unit = if (!closed) {
      closed = true
      try { if (pruned != null) pruned.close() }
      finally {
        try { if (reader != null) reader.close() }
        finally { try allocator.close() finally ch.close() }
      }
    }
    try {
      reader = openReader(ch, allocator, isFileFormat(ch))
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => closeAll()))
      val fields = reader.getVectorSchemaRoot.getSchema.getFields.asScala.toArray
      require(wanted == null || fields.length == wanted.length,
        s"ArrowIpc: wanted mask arity ${wanted.length} != ${fields.length}")
      val keepIdx = fields.indices.filter(c => wanted == null || wanted(c)).toArray
      // a batch-range split decodes only its slice of the footer's blocks
      def blocks(r: ArrowFileReader) = {
        val all = r.getRecordBlocks.asScala.toIndexedSeq
        if (blockStart < 0) all else all.slice(blockStart, blockEnd)
      }
      reader match {
        case r: ArrowFileReader if pruneBytes && keepIdx.length < fields.length =>
          val bs = blocks(r)
          pruned = org.apache.arrow.vector.VectorSchemaRoot.create(
            new org.apache.arrow.vector.types.pojo.Schema(keepIdx.toSeq.map(fields(_)).asJava),
            allocator)
          // compression-capable loader: a batch tagged LZ4/ZSTD (GDAL's
          // default for .arrow) decompresses per buffer on load; the
          // byte-level prune still skips pruned columns' COMPRESSED
          // extents, which is strictly more bytes saved
          val loader = new org.apache.arrow.vector.VectorLoader(
            pruned, org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE)
          // a dictionary-encoded field carries its INDEX type in memory, so
          // these runs match the wire batch's index buffers exactly
          val nodeRuns = fields.map(subtreeNodes)
          val bufRuns = fields.map(subtreeBuffers)
          val viewSlots = fields.map(subtreeViewSlots)
          val totalViewSlots = viewSlots.sum
          var blockIdx = 0
          def loadBlock(): Boolean = blockIdx < bs.length && {
            val block = bs(blockIdx)
            ch.position(block.getOffset)
            val msg = MessageSerializer.readMessage(new ReadChannel(ch)).getMessage
            val rb = msg.header(new org.apache.arrow.flatbuf.RecordBatch())
              .asInstanceOf[org.apache.arrow.flatbuf.RecordBatch]
            // view columns declare their per-batch variadic data-buffer
            // counts here, one entry per view-typed node in schema pre-order;
            // a count vector that disagrees with the schema's view slots
            // would mis-slice every subsequent column — refuse loudly
            require(rb.variadicBufferCountsLength() == totalViewSlots,
              s"ArrowIpc: $path declares ${rb.variadicBufferCountsLength()} variadic " +
                s"buffer counts but the schema has $totalViewSlots view-typed nodes")
            val bodyStart = block.getOffset + block.getMetadataLength
            val nodes = new java.util.ArrayList[ArrowFieldNode]()
            val bufs = new java.util.ArrayList[org.apache.arrow.memory.ArrowBuf]()
            // variadic counts for the KEPT view slots, reduced pre-order —
            // the reassembled batch must declare them for VectorLoader to
            // route the extra data buffers to the view vectors
            val keptVariadic = new java.util.ArrayList[java.lang.Long]()
            var n = 0
            var b = 0
            var v = 0
            var c = 0
            while (c < fields.length) {
              // this batch's buffer-run length for the column = the fixed
              // subtree count + the variadic data buffers its view nodes
              // declare (each view node lays out [validity, views, data…])
              var extra = 0L
              var s = 0
              while (s < viewSlots(c)) {
                val cnt = rb.variadicBufferCounts(v + s)
                extra += cnt
                if (wanted(c)) keptVariadic.add(cnt)
                s += 1
              }
              val runLen = bufRuns(c) + extra.toInt
              if (wanted(c)) {
                var j = n
                while (j < n + nodeRuns(c)) {
                  val fn = rb.nodes(j)
                  nodes.add(new ArrowFieldNode(fn.length(), fn.nullCount()))
                  j += 1
                }
                j = b
                while (j < b + runLen) {
                  val bufMeta = rb.buffers(j)
                  val len = bufMeta.length()
                  val ab = allocator.buffer(len)
                  if (len > 0) readIntoBuf(ch, bodyStart + bufMeta.offset(), len, ab)
                  ab.writerIndex(len)
                  bufs.add(ab)
                  bodyBytesRead.add(len)
                  j += 1
                }
              }
              n += nodeRuns(c); b += runLen; v += viewSlots(c); c += 1
            }
            bodyBytesTotal.add(block.getBodyLength)
            val bodyCompression = Option(rb.compression()) match {
              case Some(bc) =>
                new org.apache.arrow.vector.ipc.message.ArrowBodyCompression(bc.codec(), bc.method())
              case None => org.apache.arrow.vector.compression.NoCompressionCodec.DEFAULT_BODY_COMPRESSION
            }
            val batch = new ArrowRecordBatch(rb.length().toInt, nodes, bufs,
              bodyCompression, keptVariadic, true)
            // refcount contract (verified against arrow-vector 18.3.0 bytecode):
            // ctor retains each buffer once (alloc 1 → 2). Uncompressed load:
            // loadFieldBuffers retains for the vectors (3); batch.close (2);
            // our release (1 = the vectors'). Compressed load: the codec closes
            // the input (1) but VectorLoader.loadBuffers RE-RETAINS the
            // original right after (2 — the compensation at its
            // decompressionNeeded branch), vectors own the NEW decompressed
            // buffers; batch.close (1); our release (0). Releasing BEFORE load
            // instead would unmap compressed buffers mid-load.
            try loader.load(batch) finally batch.close()
            bufs.asScala.foreach(_.getReferenceManager.release())
            blockIdx += 1
            true
          }
          // the pruned root holds the kept columns in order: its column k
          // is the schema's column keepIdx(k)
          rows(path, pruned, r.lookup, fields.length, keepIdx.indices.toArray, keepIdx,
            () => loadBlock(), () => closeAll())
        case r: ArrowFileReader if blockStart >= 0 =>
          val bs = blocks(r)
          var k = 0
          rows(path, r.getVectorSchemaRoot, r.lookup, fields.length, keepIdx, keepIdx,
            () => k < bs.length && { val ok = r.loadRecordBatch(bs(k)); k += 1; ok },
            () => closeAll())
        case r =>
          rows(path, r.getVectorSchemaRoot, r.lookup, fields.length, keepIdx, keepIdx,
            () => r.loadNextBatch(), () => closeAll())
      }
    } catch { case e: Throwable => closeAll(); throw e }
  }

  /** The one per-row decode of both batch loaders: `load` puts the next
    * batch into `root` (false when none is left), and root column
    * `cols(k)` fills slot `slots(k)` of each `width`-wide row; the other
    * slots stay null. The per-column setup — geometry decoder, dictionary
    * lookup, value converter — happens once here, not per cell. */
  private def rows(path: String, root: org.apache.arrow.vector.VectorSchemaRoot,
                   lookup: Long => org.apache.arrow.vector.dictionary.Dictionary,
                   width: Int, cols: Array[Int], slots: Array[Int],
                   load: () => Boolean, closeAll: () => Unit): Iterator[InternalRow] = {
    val fields = cols.map(root.getSchema.getFields.get(_))
    // geometry columns decode through a per-column closure with VECTOR
    // access (union-backed extensions need type ids, which getObject
    // erases); property columns get one converter closure each — built
    // only for non-geo columns so a union-typed geometry never hits the
    // property-type dispatch
    val geoDec = fields.map(f => Option(f.getMetadata.get("ARROW:extension:name"))
      .filter(_.startsWith("geoarrow.")).map(geoDecoder(f, _, lookup)).orNull)
    val toCatalyst = fields.indices.map(k =>
      if (geoDec(k) != null) null else valueConverter(fields(k), lookup)).toArray
    // top-level dictionary-encoded columns decode per cell (index → value);
    // without this the raw getObject would return the INDEX as data
    val dicts = fields.map(f => Option(f.getDictionary).map(enc => lookup(enc.getId)).orNull)
    // dictionary-encoded children (struct/list subtrees) resolve per cell
    val nestedDict = fields.map(_.getChildren.asScala.exists(hasDictionary))
    new Iterator[InternalRow] {
      private var i = 0
      private var batchRows = 0
      private var done = false
      private def advance(): Unit =
        while (!done && i >= batchRows) {
          if (load()) { batchRows = root.getRowCount; i = 0 }
          else { done = true; closeAll() }
        }
      override def hasNext: Boolean = { advance(); !done }
      override def next(): InternalRow = {
        advance()
        if (done) throw new NoSuchElementException("exhausted " + path)
        val vals = new Array[Any](width)
        var k = 0
        while (k < cols.length) {
          val vec = root.getVector(cols(k))
          vals(slots(k)) =
            if (geoDec(k) != null) {
              val g = geoDec(k)(vec, i)
              if (g == null) null else { decodedGeoms.increment(); GeomOps.write(g) }
            } else {
              val raw0 = vec.getObject(i)
              val raw =
                if (raw0 != null && dicts(k) != null)
                  dicts(k).getVector.getObject(raw0.asInstanceOf[Number].intValue())
                else if (raw0 != null && nestedDict(k))
                  resolveNestedDicts(fields(k), raw0, lookup)
                else raw0
              if (raw == null) null else { decodedCells.increment(); toCatalyst(k)(raw) }
            }
          k += 1
        }
        i += 1
        new GenericInternalRow(vals)
      }
    }
  }

  /** Read .arrow file(s) into a DataFrame; geometry columns become WKB.
    * The scan of `spark.read.format("arrowipc")`, so Catalyst prunes its
    * columns down to the decoder. Files larger than
    * `spark.sql.files.maxPartitionBytes` split into batch-range tasks via
    * [[blockSplits]]. */
  def read(spark: SparkSession, path: String): DataFrame =
    RowFileSource.read(spark, Format, Seq(path))

  /** Arrow IPC as a [[RowFileFormat]]; a split is [[blockSplits]]'
    * `(path, startBlock, endBlockExcl)`. */
  private[sources] object Format extends RowFileFormat[(String, Int, Int)] {
    def name: String = "arrowipc"
    def suffixes: Seq[String] = Seq(".arrow", ".arrows") // .arrows: stream format

    def schemaOf(session: SparkSession, files: Seq[(String, Long, Long)]): StructType =
      schemaOfFile(files.head._1, session.sessionState.newHadoopConf())

    def whole(path: String): (String, Int, Int) = (path, -1, -1)

    def probe(path: String, size: Long, maxPartitionBytes: Long,
              conf: org.apache.hadoop.conf.Configuration): Seq[(String, Int, Int)] =
      blockSplits(path, maxPartitionBytes, conf)

    def decode(split: (String, Int, Int), wanted: Array[Boolean],
               conf: org.apache.hadoop.conf.Configuration): Iterator[InternalRow] =
      decodeFile(split._1, conf, wanted, split._2, split._3, pruneBytes = true)
  }

  // ── write ─────────────────────────────────────────────────────────────

  /** Write `df` as a directory of .arrow (.arrows with `streamFormat`)
    * files, one per partition, through [[RowFileSource.writeParts]] — no
    * driver collect, and a write replaces the directory's earlier
    * `.arrow`/`.arrows` part-files. The
    * geometry column is written as a binary vector tagged
    * `ARROW:extension:name = geoarrow.wkb`, which GeoPandas/pyarrow and
    * [[read]] both recognize. Columns are typed by Spark's own Arrow
    * mapping and filled from the Catalyst rows by Spark's `ArrowWriter`:
    * byte/short/int/long, float/double, decimal, string, boolean, binary,
    * date (day unit), timestamp (zoned UTC micros), timestamp_ntz
    * (zoneless micros), and nested array/struct/map of those (any depth)
    * as List (child `element`)/Struct/Map subtrees — the shapes [[read]]
    * maps back, so write∘read is identity for nested properties too. Only
    * the `geometry`/`geometrycollection` union columns and
    * `dictionaryColumns` are filled here.
    *
    * `dictionaryColumns`: low-cardinality STRING columns to
    * dictionary-encode (the GDAL interop shape [[decodeFile]]
    * consumes): one bounded distributed distinct per column (≤64k values
    * enforced), values broadcast so every part-file carries the SAME
    * dictionary; on disk each such column is 4-byte indexes + one
    * dictionary batch instead of repeated strings. */
  def write(df: DataFrame, path: String, geometryCol: String = "geometry",
            dictionaryColumns: Seq[String] = Nil,
            streamFormat: Boolean = false,
            geometryEncoding: String = "wkb"): Unit = {
    // STREAM wire format (.arrows): schema message + batches + EOS, no
    // footer — the shape stream-first consumers (Flight-style pipes,
    // arrow-js) ingest directly. Dictionary columns work in both formats:
    // ArrowStreamWriter emits the provider's dictionary batches inline
    // ahead of the record batches, and the reader maps them from the
    // schema message's value types (round 16).
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
    import org.apache.arrow.vector.types.FloatingPointPrecision
    import org.apache.spark.sql.catalyst.ProjectingInternalRow
    import org.apache.spark.sql.execution.arrow.ArrowWriter

    // native GeoArrow encoding (round 16): transcode the WKB geometry to
    // the separated nested layout via the same ga_to_* exporters the
    // GeoParquet writer uses — Spark's ArrowWriter below writes the
    // List/Struct subtrees, so the only geometry-specific part is the
    // extension tag. The reference's IPC writers emit exactly these
    // native arrays; zero-copy-readable by GeoPandas/pyarrow and mapped
    // back by [[schemaOf]] (which also stamps geometry_types evidence from
    // the typed extension name).
    // "_z"/"_m"/"_zm" select the dimensioned exporter families; the GeoArrow
    // extension name is dimensionless either way (dimension lives in the
    // coord struct). `wkt` writes the serialized-text type
    // (rust/geoarrow-schema/src/datatype.rs:60-66 WktType over Utf8) and
    // `box` the bbox struct (array/rect.rs RectType) — both decode-supported
    // since round 16, write-supported round 17.
    val encLower = geometryEncoding.toLowerCase
    val encSuffix = Seq("_zm", "_z", "_m").find(encLower.endsWith).getOrElse("")
    val geoExtName = encLower.stripSuffix(encSuffix) match {
      case "wkb" => "geoarrow.wkb"
      // heterogeneous columns: the DENSE-UNION type (the reference's full
      // 28-id matrix — 7 kinds × 4 dims); per-row kind/dimension dispatch
      // happens at vector-population time, so mixed 2D/3D/measured columns
      // are first-class — no transcode, the WKB decodes in-task
      case "geometry" => "geoarrow.geometry"
      // homogeneous collection columns: the reference's
      // GeometryCollectionType (List over a single-dimension 6-kind
      // union, type.rs:728-805) — the suffix declares the dimension,
      // matching the type's single-dim contract; per-row WKB decodes
      // in-task like the geometry union
      case "geometrycollection" => "geoarrow.geometrycollection"
      case "wkt" => "geoarrow.wkt"
      case "box" => "geoarrow.box"
      case e @ ("point" | "linestring" | "polygon" | "multipoint" |
                "multilinestring" | "multipolygon") => s"geoarrow.$e"
      case other => throw new IllegalArgumentException(
        s"ArrowIpc.write: unsupported geometryEncoding '$other' " +
          "(wkb, geometry, wkt, box, or point|linestring|polygon|multipoint|" +
          "multilinestring|multipolygon|geometrycollection with an optional _z/_m/_zm suffix)")
    }
    require(encSuffix.isEmpty || !Set("geoarrow.wkb", "geoarrow.geometry",
        "geoarrow.wkt", "geoarrow.box")(geoExtName),
      s"ArrowIpc.write: '$geometryEncoding' — dimension suffixes apply to the " +
        "typed native encodings only (wkb/geometry/wkt carry Z/M inherently; box is 2D)")
    // collection dimension block from the suffix (the reference's GC type
    // is single-dimension; elements of another dimension fail loudly at
    // vector-population time via the child-id check)
    val (gcSuffixLabel, gcDims, gcDimBase) = DimSpecs
      .find(_._1.trim.toLowerCase == encSuffix.stripPrefix("_")).get
    // extension metadata (crs/edges) reads from the ORIGINAL column before
    // the transcode drops Spark field metadata
    val preSchema = df.schema
    val df1 =
      if (geoExtName == "geoarrow.wkb" || geoExtName == "geoarrow.geometry" ||
          geoExtName == "geoarrow.geometrycollection") df
      else {
        graft.functions.GeoFunctions.register(df.sparkSession)
        import org.apache.spark.sql.functions.{call_function, col}
        val transcoded = geoExtName match {
          // text serialization preserves kind + Z/M per value, like wkb
          case "geoarrow.wkt" => call_function("st_astext", col(geometryCol))
          // the GeoParquet covering-struct assembly reused as the rect
          // value; EMPTY writes the all-NaN extent sentinel (st_bbox would
          // emit JTS's null-envelope 0/-1 sentinel, which reads back as a
          // spurious normalized polygon — EMPTY must stay EMPTY)
          case "geoarrow.box" =>
            import org.apache.spark.sql.functions.{lit, struct, when}
            val nan = lit(Double.NaN)
            when(col(geometryCol).isNull, lit(null))
              .when(call_function("st_isempty", col(geometryCol)),
                struct(nan.as("xmin"), nan.as("ymin"), nan.as("xmax"), nan.as("ymax")))
              .otherwise(call_function("st_bbox", col(geometryCol)))
          case _ => call_function("ga_to_" + encLower, col(geometryCol))
        }
        df.withColumn(geometryCol, transcoded)
      }

    val sparkSchema = df1.schema
    val geomName = geometryCol
    val batchSize = 4096 // rows per IPC record batch — bounds task memory
    // dictionary-encoded string columns: one distributed distinct per
    // column (bounded — dictionary encoding only makes sense for low
    // cardinality, enforced at 64k), values broadcast so every task
    // writes the SAME dictionary ids and files stay mutually consistent
    dictionaryColumns.foreach { c =>
      val f = sparkSchema.fields.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"ArrowIpc.write: dictionary column '$c' not in schema ${sparkSchema.simpleString}"))
      require(f.dataType == StringType,
        s"ArrowIpc.write: dictionary column '$c' must be STRING, is ${f.dataType}")
      require(c != geomName, "ArrowIpc.write: the geometry column cannot be dictionary-encoded")
    }
    val dictValuesBc: Map[String, org.apache.spark.broadcast.Broadcast[Array[String]]] =
      dictionaryColumns.map { c =>
        val vals = df.select(c).na.drop().distinct()
          .limit(65537).collect().map(_.getString(0)).sorted
        require(vals.length <= 65536,
          s"ArrowIpc.write: dictionary column '$c' exceeds 65536 distinct values — " +
            "dictionary encoding would not pay; drop it from dictionaryColumns")
        c -> df.sparkSession.sparkContext.broadcast(vals)
      }.toMap
    // GeoArrow extension metadata (crs/edges) propagates from the column's
    // Spark metadata — a GeoParquet.read → ArrowIpc.write hop keeps the
    // edge model, mirroring the reference's per-array Metadata
    val extMetaJson: String = preSchema.fields.find(_.name == geomName).map { f =>
      val node = jsonMapper.createObjectNode()
      if (f.metadata.contains("geoparquet.edges"))
        node.put("edges", f.metadata.getString("geoparquet.edges"))
      // geometry_types evidence rides along (auxiliary key — not GeoArrow
      // vocabulary): a geoarrow.wkb column is otherwise unconstrained, and
      // the edges DISTANCE dispatch requires point-only evidence, so
      // without this a GeoParquet→Arrow hop would silently stop
      // dispatching ST_Distance over the stamped column
      if (f.metadata.contains("geoparquet.geometry_types"))
        node.put("graft:geometry_types", f.metadata.getString("geoparquet.geometry_types"))
      if (f.metadata.contains("geoparquet.crs")) {
        val crs = f.metadata.getString("geoparquet.crs")
        node.set[com.fasterxml.jackson.databind.JsonNode]("crs",
          GeoParquet.crsJsonNode(jsonMapper, crs))
      }
      if (node.isEmpty) null else jsonMapper.writeValueAsString(node)
    }.orNull

    val ext = if (streamFormat) "arrows" else "arrow"
    RowFileSource.writeParts(df1, path, Seq("arrow", "arrows")) { (rows, open) =>
      val allocator = new RootAllocator()
      val dictVectors = scala.collection.mutable.ArrayBuffer.empty[VarCharVector]
      try {
        // dictionaries first: a per-column VarCharVector of the broadcast
        // values, registered in the provider so ArrowFileWriter emits the
        // dictionary batches ahead of the record batches (IPC file layout)
        val dictByCol: Map[String, (org.apache.arrow.vector.dictionary.Dictionary, Map[String, Int])] =
          dictionaryColumns.zipWithIndex.map { case (c, id) =>
            val vals = dictValuesBc(c).value
            val dv = new VarCharVector(c + "$dict", allocator)
            dictVectors += dv
            dv.allocateNew()
            var i = 0
            while (i < vals.length) { dv.setSafe(i, vals(i).getBytes("UTF-8")); i += 1 }
            dv.setValueCount(vals.length)
            val enc = new org.apache.arrow.vector.types.pojo.DictionaryEncoding(
              id.toLong, false, new ArrowType.Int(32, true))
            c -> ((new org.apache.arrow.vector.dictionary.Dictionary(dv, enc),
              vals.iterator.zipWithIndex.toMap))
          }.toMap
        val provider: org.apache.arrow.vector.dictionary.DictionaryProvider =
          if (dictByCol.isEmpty) null
          else new org.apache.arrow.vector.dictionary.DictionaryProvider.MapDictionaryProvider(
            dictByCol.values.map(_._1).toSeq: _*)
        // geometry-union field tree: the reference's FULL 28-id matrix —
        // 7 kinds × 4 dims, type id = dim_order*10 + kind offset
        // (rust/geoarrow-schema/src/type_id.rs:28-35; GeometryCollection
        // offset 7, type_id.rs:85-91). The GC child is List<"geometries":
        // dense union of the SAME dimension's 6 concrete kinds>
        // (type.rs:728-805 mixed_data_type — no GC inside a GC, which is
        // what terminates the schema recursion). Child names ("Point",
        // "MultiPolygon ZM", ...) are exactly what [[parseUnionChild]]
        // reads back; interleaved coords with the dims-named child.
        val f64Geo = new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
        def interleaved(nm: String, dims: String) =
          new Field(nm, FieldType.nullable(new ArrowType.FixedSizeList(dims.length)),
            java.util.List.of(new Field(dims, new FieldType(false, f64Geo, null, null),
              java.util.List.of[Field]())))
        def l1(nm: String, dims: String) = new Field(nm,
          FieldType.nullable(new ArrowType.List()),
          java.util.List.of(interleaved("vertices", dims)))
        def l2(nm: String, dims: String) = new Field(nm,
          FieldType.nullable(new ArrowType.List()),
          java.util.List.of(l1("rings", dims)))
        def l3(nm: String, dims: String) = new Field(nm,
          FieldType.nullable(new ArrowType.List()),
          java.util.List.of(l2("polygons", dims)))
        def kindField(kind: Int, suffix: String, dims: String): Field = kind match {
          case 1 => interleaved("Point" + suffix, dims)
          case 2 => l1("LineString" + suffix, dims)
          case 3 => l2("Polygon" + suffix, dims)
          case 4 => l1("MultiPoint" + suffix, dims)
          case 5 => l2("MultiLineString" + suffix, dims)
          case 6 => l3("MultiPolygon" + suffix, dims)
        }
        // the single-dimension "geometries" union a collection holds
        // (type.rs:738-805 mixed_data_type)
        def innerGcUnion(suffix: String, dims: String, dimBase: Int): Field =
          new Field("geometries", new FieldType(false,
            new org.apache.arrow.vector.types.pojo.ArrowType.Union(
              org.apache.arrow.vector.types.UnionMode.Dense,
              (1 to 6).map(dimBase + _).toArray), null, null),
            java.util.List.of((1 to 6).map(kindField(_, suffix, dims)): _*))
        def unionGeomField(name: String, md: java.util.Map[String, String]): Field = {
          def gcField(suffix: String, dims: String, dimBase: Int): Field =
            new Field("GeometryCollection" + suffix,
              FieldType.nullable(new ArrowType.List()),
              java.util.List.of(innerGcUnion(suffix, dims, dimBase)))
          val ids = DimSpecs.flatMap { case (_, _, b) => (1 to 7).map(b + _) }
          val children = DimSpecs.flatMap { case (sfx, dims, b) =>
            (1 to 6).map(kindField(_, sfx, dims)) :+ gcField(sfx, dims, b) }
          new Field(name, new FieldType(true,
            new org.apache.arrow.vector.types.pojo.ArrowType.Union(
              org.apache.arrow.vector.types.UnionMode.Dense, ids.toArray), null, md),
            java.util.List.of(children: _*))
        }
        // a homogeneous geoarrow.geometrycollection COLUMN: List over the
        // declared dimension's geometries union (reference
        // GeometryCollectionType::data_type, type.rs:700-736)
        def gcColumnField(name: String, md: java.util.Map[String, String]): Field =
          new Field(name, new FieldType(true, new ArrowType.List(), null, md),
            java.util.List.of(innerGcUnion(gcSuffixLabel, gcDims, gcDimBase)))
        val fields = sparkSchema.fields.map { f =>
          val isGeomCol = f.name == geomName &&
            (!Set("geoarrow.wkb", "geoarrow.geometry")(geoExtName) || f.dataType == BinaryType)
          val md = if (isGeomCol) {
            if (extMetaJson != null)
              java.util.Map.of("ARROW:extension:name", geoExtName,
                               "ARROW:extension:metadata", extMetaJson)
            else java.util.Map.of("ARROW:extension:name", geoExtName)
          } else java.util.Map.of[String, String]()
          dictByCol.get(f.name) match {
            case Some((dict, _)) =>
              // in-memory field = the INDEX type + the encoding; the wire
              // schema carries the value type, arrow-java converts on write
              new Field(f.name,
                new FieldType(f.nullable, new ArrowType.Int(32, true),
                  dict.getEncoding, md),
                java.util.List.of[Field]())
            case None =>
              if (isGeomCol && geoExtName == "geoarrow.geometry") unionGeomField(f.name, md)
              else if (isGeomCol && geoExtName == "geoarrow.geometrycollection")
                gcColumnField(f.name, md)
              else {
                // Spark's own Arrow mapping (the types its Arrow export
                // writes and [[sparkTypeOf]] reads back), plus the GeoArrow
                // extension tags on the geometry column
                val t = GraftSchemas.toArrowField(f.name, f.dataType, f.nullable)
                new Field(f.name, new FieldType(f.nullable, t.getType, null, md), t.getChildren)
              }
          }
        }
        val root = VectorSchemaRoot.create(new Schema(java.util.List.of(fields: _*)), allocator)
        import org.apache.arrow.vector.complex.{DenseUnionVector => DUV, FixedSizeListVector => FSL, ListVector => LV}
        import org.locationtech.jts.geom._
        // per-union type-id offset counters, keyed by vector identity and
        // cleared per batch: the top-level union plus up to four inner GC
        // "geometries" unions, each with its own dense-union offset space
        val unionCounters = new java.util.IdentityHashMap[DUV, Array[Int]]()
        def countersFor(du: DUV): Array[Int] = {
          var a = unionCounters.get(du)
          if (a == null) { a = new Array[Int](38); unionCounters.put(du, a) }
          a
        }
        // collection kinds probe their FIRST NON-EMPTY component —
        // hasZ/hasM read only the first element's coordinate, so a
        // leading EMPTY would misreport a Z/M collection as XY (an
        // order-dependent refusal of a representable value)
        def dimsOfGeom(g: Geometry): String = g match {
          case gc: GeometryCollection =>
            (0 until gc.getNumGeometries).iterator.map(gc.getGeometryN)
              .find(!_.isEmpty).map(dimsOfGeom).getOrElse("xy")
          case _ =>
            "xy" + (if (graft.core.GeomOps.hasZ(g)) "z" else "") +
                   (if (graft.core.GeomOps.hasM(g)) "m" else "")
        }
        def dimBase(dims: String): Int = dims match {
          case "xy" => 0; case "xyz" => 10; case "xym" => 20; case _ => 30
        }
        // hot loop: dims decode ONCE per geometry, ordinates written
        // straight to the vector (no per-vertex array allocation)
        def fillCoords(flv: FSL, start: Int, cs: Array[Coordinate], dims: String): Unit = {
          val d = dims.length
          val withZ = dims == "xyz" || dims == "xyzm"
          val withM = dims == "xym" || dims == "xyzm"
          val dv = flv.getDataVector.asInstanceOf[Float8Vector]
          var k = 0
          while (k < cs.length) {
            flv.setNotNull(start + k)
            val cd = cs(k)
            val base = (start + k) * d
            dv.setSafe(base, cd.x)
            dv.setSafe(base + 1, cd.y)
            var j = 2
            if (withZ) { dv.setSafe(base + j, cd.getZ); j += 1 }
            if (withM) dv.setSafe(base + j, cd.getM)
            k += 1
          }
        }
        def fillLine(lv: LV, row2: Int, cs: Array[Coordinate], dims: String): Unit = {
          val start = lv.startNewValue(row2)
          fillCoords(lv.getDataVector.asInstanceOf[FSL], start, cs, dims)
          lv.endValue(row2, cs.length)
        }
        def fillRings(lv2: LV, row2: Int, rings: Seq[Array[Coordinate]], dims: String): Unit = {
          val start = lv2.startNewValue(row2)
          val inner = lv2.getDataVector.asInstanceOf[LV]
          rings.zipWithIndex.foreach { case (cs, k) => fillLine(inner, start + k, cs, dims) }
          lv2.endValue(row2, rings.length)
        }
        def ringsOf(p: Polygon): Seq[Array[Coordinate]] =
          (p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
            .map(_.getCoordinates)
        def fillMPoly(lv3: LV, row2: Int, polys: Seq[Polygon], dims: String): Unit = {
          val start = lv3.startNewValue(row2)
          val inner = lv3.getDataVector.asInstanceOf[LV]
          polys.zipWithIndex.foreach { case (pp, k) => fillRings(inner, start + k, ringsOf(pp), dims) }
          lv3.endValue(row2, polys.length)
        }
        def fillEmptyList(lv: LV, row2: Int): Unit = {
          lv.startNewValue(row2); lv.endValue(row2, 0)
        }
        // append one geometry at union position `pos`. EMPTY ≠ NULL
        // (the reference's logical-null contract, trait_.rs:157-198):
        // null → null Point child; POINT EMPTY → all-NaN coords (the
        // GeoArrow empty-point encoding); every list-backed EMPTY →
        // a length-0 outer list in its own kind child.
        // `emptyDims`: an EMPTY geometry has no coordinates to probe,
        // so inside a single-dimension collection it inherits the
        // collection's declared dims (a top-level empty rides XY)
        def appendGeom(du: DUV, pos: Int, g: Geometry, topLevel: Boolean,
                       emptyDims: String = "xy"): Unit = {
          val cnt = countersFor(du)
          if (g == null) {
            val tid: Byte = 1
            val off = cnt(1)
            du.getVectorByType(tid).asInstanceOf[FSL].setNull(off)
            du.setTypeId(pos, tid); du.setOffset(pos, off)
            cnt(1) += 1
            return
          }
          val dims = if (g.isEmpty) emptyDims else dimsOfGeom(g)
          val base = dimBase(dims)
          def put(tid0: Int)(fill: org.apache.arrow.vector.ValueVector => Unit): Unit = {
            val tid = (base + tid0).toByte
            val child = du.getVectorByType(tid)
            require(child != null,
              s"ArrowIpc.write: geometry union has no child for type id $tid — " +
                "a GeometryCollection's elements must share one dimension " +
                "(the reference's mixed type is single-dimension per collection)")
            fill(child)
            du.setTypeId(pos, tid); du.setOffset(pos, cnt(base + tid0))
            cnt(base + tid0) += 1
          }
          g match {
            case p: Point => put(1) { ch =>
              val flv = ch.asInstanceOf[FSL]
              val off = cnt(base + 1)
              if (p.isEmpty) { // NaN ordinates, NOT null: null means SQL NULL
                flv.setNotNull(off)
                val dv = flv.getDataVector.asInstanceOf[Float8Vector]
                var j = 0
                while (j < dims.length) { dv.setSafe(off * dims.length + j, Double.NaN); j += 1 }
              } else fillCoords(flv, off, Array(p.getCoordinate), dims)
            }
            case l: LineString => put(2)(ch =>
              fillLine(ch.asInstanceOf[LV], cnt(base + 2), l.getCoordinates, dims))
            case p: Polygon => put(3) { ch =>
              if (p.isEmpty) fillEmptyList(ch.asInstanceOf[LV], cnt(base + 3))
              else fillRings(ch.asInstanceOf[LV], cnt(base + 3), ringsOf(p), dims)
            }
            case mp: MultiPoint => put(4)(ch =>
              // per-member coords with the shared all-NaN EMPTY
              // sentinel (GeoArrowOps.mpCoords), NOT the flattening
              // getCoordinates: JTS skips EMPTY point members there,
              // so MULTIPOINT (1 1, EMPTY) would silently lose an
              // element on roundtrip
              fillLine(ch.asInstanceOf[LV], cnt(base + 4),
                GeoArrowOps.mpCoords(mp, "ArrowIpc.write[geometry]"), dims))
            case mls: MultiLineString => put(5)(ch =>
              fillRings(ch.asInstanceOf[LV], cnt(base + 5),
                (0 until mls.getNumGeometries).map(mls.getGeometryN(_).getCoordinates), dims))
            case mp: MultiPolygon => put(6)(ch =>
              fillMPoly(ch.asInstanceOf[LV], cnt(base + 6),
                (0 until mp.getNumGeometries).map(mp.getGeometryN(_).asInstanceOf[Polygon]), dims))
            case gc: GeometryCollection => // after the Multi* subclasses
              require(topLevel,
                "ArrowIpc.write: a GeometryCollection nested inside another " +
                  "GeometryCollection is not representable in geoarrow.geometry " +
                  "(the reference's collection type holds only concrete kinds, " +
                  "type.rs:738-805) — write with geometryEncoding=wkb")
              put(7) { ch =>
                val lv = ch.asInstanceOf[LV]
                val off = cnt(base + 7)
                if (gc.getNumGeometries == 0) fillEmptyList(lv, off)
                else {
                  val start = lv.startNewValue(off)
                  val innerDu = lv.getDataVector.asInstanceOf[DUV]
                  var k = 0
                  while (k < gc.getNumGeometries) {
                    appendGeom(innerDu, start + k, gc.getGeometryN(k),
                      topLevel = false, emptyDims = dims)
                    k += 1
                  }
                  lv.endValue(off, gc.getNumGeometries)
                }
              }
            case other => throw new IllegalArgumentException(
              s"ArrowIpc.write: geometry-union encoding cannot hold a " +
                s"${other.getGeometryType} — write with geometryEncoding=wkb")
          }
        }
        // children's own counts first (inner GC unions before their
        // list parents); the union's own count last
        val allTids = Seq(0, 10, 20, 30).flatMap(b => (1 to 7).map(b + _))
        def closeUnion(du: DUV, total: Int): Unit = {
          val cnt = countersFor(du)
          allTids.foreach { t =>
            val child = du.getVectorByType(t.toByte)
            if (child != null) {
              if (t % 10 == 7) {
                val innerDu = child.asInstanceOf[LV].getDataVector.asInstanceOf[DUV]
                closeUnion(innerDu, countersFor(innerDu).sum)
              }
              child.setValueCount(cnt(t))
            }
          }
          du.setValueCount(total)
        }
        // a homogeneous geoarrow.geometrycollection cell: GEOMETRYCOLLECTION
        // EMPTY = length-0 list; elements append into the declared-dim inner
        // union (a wrong-dim element fails loudly via the child-id check in
        // appendGeom)
        def appendCollection(lv: LV, innerDu: DUV, i: Int, g: Geometry): Unit = g match {
          case _: MultiPoint | _: MultiLineString | _: MultiPolygon =>
            throw new IllegalArgumentException(
              "ArrowIpc.write: geometrycollection encoding requires " +
                "GEOMETRYCOLLECTION rows (a Multi* type has its own encoding)")
          case gc: GeometryCollection =>
            if (gc.getNumGeometries == 0) fillEmptyList(lv, i)
            else {
              val start = lv.startNewValue(i)
              var k = 0
              while (k < gc.getNumGeometries) {
                appendGeom(innerDu, start + k, gc.getGeometryN(k),
                  topLevel = false, emptyDims = gcDims)
                k += 1
              }
              lv.endValue(i, gc.getNumGeometries)
            }
          case other => throw new IllegalArgumentException(
            "ArrowIpc.write: geometrycollection encoding requires " +
              s"GEOMETRYCOLLECTION rows, got ${other.getGeometryType} — " +
              "use geometryEncoding=geometry for mixed columns")
        }
        // the columns filled here rather than by Spark's ArrowWriter: the
        // geometry unions (per-row WKB decode → kind/dim dispatch → child
        // append; a null row is a null Point child, since dense unions carry
        // no validity) and the dictionary indexes. `put(row, i)` writes a
        // row's cell at batch position i, `end(n)` closes a batch of n rows.
        final case class Own(ordinal: Int, put: (InternalRow, Int) => Unit, end: Int => Unit)
        val own: Seq[Own] = fields.indices.flatMap { c =>
          val name = sparkSchema.fields(c).name
          root.getVector(c) match {
            case iv: IntVector if dictByCol.contains(name) =>
              val ids = dictByCol(name)._2
              Some(Own(c, (row, i) =>
                if (row.isNullAt(c)) iv.setNull(i)
                else {
                  // the driver pre-pass saw every non-null value; a miss
                  // here would mean non-deterministic data — fail loudly
                  val v = row.getUTF8String(c).toString
                  iv.setSafe(i, ids.getOrElse(v, throw new IllegalStateException(
                    s"ArrowIpc.write: value absent from pre-scanned dictionary for column $name")))
                }, _ => ()))
            case du: DUV =>
              Some(Own(c, (row, i) =>
                appendGeom(du, i, if (row.isNullAt(c)) null else GeomOps.read(row.getBinary(c)),
                  topLevel = true), n => closeUnion(du, n)))
            case lv: LV if "geoarrow.geometrycollection" ==
                fields(c).getMetadata.get("ARROW:extension:name") =>
              val innerDu = lv.getDataVector.asInstanceOf[DUV]
              Some(Own(c, (row, i) =>
                // a null row stays unwritten: a null list
                if (!row.isNullAt(c)) appendCollection(lv, innerDu, i, GeomOps.read(row.getBinary(c))),
                n => { closeUnion(innerDu, countersFor(innerDu).sum); lv.setValueCount(n) }))
            case _ => None
          }
        }
        // every other column: Spark's ArrowWriter, over the Catalyst row or,
        // beside columns filled here, over its projection to the rest
        val plain = fields.indices.filterNot(c => own.exists(_.ordinal == c))
        val fill = ArrowWriter.create(
          if (own.isEmpty) root
          else new VectorSchemaRoot(plain.map(root.getVector(_): FieldVector).asJava))
        val projected =
          if (own.isEmpty) null
          else ProjectingInternalRow(StructType(plain.map(sparkSchema.fields(_))), plain)
        val ch = java.nio.channels.Channels.newChannel(open(ext))
        val ipc: org.apache.arrow.vector.ipc.ArrowWriter =
          if (streamFormat) new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, provider, ch)
          else new org.apache.arrow.vector.ipc.ArrowFileWriter(root, provider, ch)
        try {
          ipc.start()
          // rows stream into the vectors, one IPC record batch per
          // `batchSize` rows: the row object may be reused, so none is held
          var n = 0
          def flush(): Unit = {
            fill.finish()
            own.foreach(_.end(n))
            root.setRowCount(n)
            ipc.writeBatch()
            fill.reset()
            n = 0
          }
          rows.foreach { row =>
            if (n == 0) {
              own.foreach(o => root.getVector(o.ordinal).allocateNew())
              unionCounters.clear()
            }
            if (projected == null) fill.write(row)
            else { projected.project(row); fill.write(projected) }
            own.foreach(_.put(row, n))
            n += 1
            if (n == batchSize) flush()
          }
          if (n > 0) flush()
          // an empty partition still writes a valid zero-batch file
          ipc.end()
        } finally { ipc.close(); root.close() }
      } finally {
        dictVectors.foreach(v => try v.close() catch { case _: Exception => })
        allocator.close()
      }
    }
  }
}

/** `spark.read.format("arrowipc")`: the same scan as [[ArrowIpc.read]].
  * Catalyst's required-columns pushdown prunes at BOTH levels. Byte level:
  * when a proper subset of columns is required, [[ArrowIpc.decodeFile]]'s
  * byte-level load reads only each batch's header plus the
  * wanted columns' buffer byte ranges — a pruned column's buffers are
  * never fetched from storage (the columnar projection discipline of the
  * reference's readers, rust/geoarrow-old/benches/wkb.rs:20-21). Decode
  * level: per-cell materialization — Arrow getObject boxing, Text
  * copies and the JTS geometry build + WKB serialization — runs only for
  * required columns. */
class ArrowIpcSource extends RowFileSource(ArrowIpc.Format)
