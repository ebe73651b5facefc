package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Coordinate, CoordinateXYM, CoordinateXYZM, Geometry, LinearRing, Polygon}

import graft.core.GeomOps

/** FlatGeobuf reader — re-expression of the reference's
  * geoarrow-flatgeobuf driver (rust/geoarrow-flatgeobuf/src/reader/):
  * schema from the header flatbuffer (common.rs:95-110), features decoded
  * into WKB geometry + typed property columns.
  *
  * The FlatGeobuf format (magic + size-prefixed flatbuffers + packed
  * Hilbert R-tree) is a public spec; the small flatbuffer decoder below
  * reads vtable-indexed fields directly rather than shipping generated
  * bindings (no flatbuffers runtime on the classpath).
  *
  * Distribution model: many files parallelize across the cluster, and ONE
  * large indexed file also splits across tasks (round 10): features are
  * size-prefixed with no sync markers, so byte-splits can't self-align —
  * but the packed Hilbert R-tree's leaf nodes carry every feature's byte
  * offset in file order, so S-1 positioned 40-byte reads yield S
  * feature-aligned ranges (the reference's async reader seeks feature
  * ranges via the same index, rust/geoarrow-flatgeobuf/src/reader/
  * async.rs:244). Range size follows spark.sql.files.maxPartitionBytes,
  * mirroring FileSourceScanExec's split sizing; [[RowFileSource.plan]]
  * probes only the files bigger than that and caches their splits.
  * Indexless files stay one task — a 100 TB corpus without indexes should
  * arrive as many files.
  * The in-file Hilbert index also enables bbox-selective reads
  * ([[readBbox]]): only features whose envelope intersects the query rect
  * are decoded.
  */
object FlatGeobuf {

  // ── mini flatbuffer decoder ───────────────────────────────────────────

  /** Field access into one flatbuffer table (little-endian). */
  private final class Table(val bb: ByteBuffer, val pos: Int) {
    private val vtable = pos - bb.getInt(pos)
    private val vtableSize = bb.getShort(vtable) & 0xFFFF
    /** byte offset of field `id` within the table, or 0 if absent. */
    def fieldOffset(id: Int): Int = {
      val o = 4 + 2 * id
      if (o >= vtableSize) 0 else bb.getShort(vtable + o) & 0xFFFF
    }
    def getByte(id: Int, dflt: Byte = 0): Byte = {
      val o = fieldOffset(id); if (o == 0) dflt else bb.get(pos + o)
    }
    def getShort(id: Int, dflt: Short = 0): Short = {
      val o = fieldOffset(id); if (o == 0) dflt else bb.getShort(pos + o)
    }
    def getInt(id: Int, dflt: Int = 0): Int = {
      val o = fieldOffset(id); if (o == 0) dflt else bb.getInt(pos + o)
    }
    def getLong(id: Int, dflt: Long = 0): Long = {
      val o = fieldOffset(id); if (o == 0) dflt else bb.getLong(pos + o)
    }
    def getBool(id: Int, dflt: Boolean = false): Boolean = {
      val o = fieldOffset(id); if (o == 0) dflt else bb.get(pos + o) != 0
    }
    /** position of an indirect value (string/vector/table), or -1. */
    def indirect(id: Int): Int = {
      val o = fieldOffset(id)
      if (o == 0) -1 else pos + o + bb.getInt(pos + o)
    }
    def getString(id: Int): Option[String] = indirect(id) match {
      case -1 => None
      case p =>
        val len = bb.getInt(p)
        val arr = new Array[Byte](len)
        val dup = bb.duplicate().order(ByteOrder.LITTLE_ENDIAN)
        dup.position(p + 4); dup.get(arr)
        Some(new String(arr, "UTF-8"))
    }
    def vectorLen(id: Int): Int = indirect(id) match {
      case -1 => 0
      case p => bb.getInt(p)
    }
    /** element position of vector element i (elemSize bytes each). */
    def vectorElem(id: Int, i: Int, elemSize: Int): Int = indirect(id) + 4 + i * elemSize
    def getDoubleVector(id: Int): Array[Double] = indirect(id) match {
      case -1 => Array.empty
      case p =>
        val n = bb.getInt(p)
        Array.tabulate(n)(i => bb.getDouble(p + 4 + 8 * i))
    }
    def getIntVector(id: Int): Array[Int] = indirect(id) match {
      case -1 => Array.empty
      case p =>
        val n = bb.getInt(p)
        Array.tabulate(n)(i => bb.getInt(p + 4 + 4 * i))
    }
    /** table stored in vector-of-tables element i. */
    def tableAt(id: Int, i: Int): Table = {
      val ep = vectorElem(id, i, 4)
      new Table(bb, ep + bb.getInt(ep))
    }
    /** directly referenced sub-table field. */
    def subTable(id: Int): Option[Table] = indirect(id) match {
      case -1 => None
      case p => Some(new Table(bb, p))
    }
  }

  // ── FGB schema constants (header.fbs / feature.fbs, public spec) ──────

  private object H { // Header field ids (header.fbs, public spec)
    val Name = 0; val Envelope = 1; val GeometryType = 2
    val HasZ = 3; val HasM = 4
    val Columns = 7; val FeaturesCount = 8; val IndexNodeSize = 9; val Crs = 10
    val Title = 11; val Description = 12; val Metadata = 13
  }
  private object C { val Name = 0; val Type = 1 } // Column field ids
  private object F { val Geometry = 0; val Properties = 1 } // Feature field ids
  private[sources] object G { // Geometry field ids (feature.fbs, public spec)
    val Ends = 0; val Xy = 1; val Z = 2; val M = 3; val Type = 6; val Parts = 7
  }

  private val columnTypes: Array[DataType] = Array(
    ByteType, ShortType, BooleanType, ShortType, IntegerType, IntegerType,
    LongType, LongType, LongType, FloatType, DoubleType, StringType,
    StringType, StringType, BinaryType)
  // Byte UByte Bool Short UShort Int UInt Long ULong Float Double String Json DateTime Binary
  // Unsigned types widen to the next signed Spark type (Spark has no
  // unsigned integers) — except ULong, which has no wider type: it maps to
  // LongType and values beyond Long.MaxValue read as the raw
  // two's-complement bits (documented fallback, pinned by the
  // alldatatypes.fgb spec; the reference maps ULong to Arrow UInt64,
  // rust/geoarrow-flatgeobuf/src/reader/common.rs:95-110).

  case class Header(name: String, geometryType: Int, columns: Seq[(String, Int)],
                    featuresCount: Long, indexNodeSize: Int, envelope: Array[Double],
                    headerEnd: Int, crsName: Option[String], crsWkt: Option[String],
                    hasZ: Boolean = false, hasM: Boolean = false,
                    title: Option[String] = None, description: Option[String] = None,
                    metadata: Option[String] = None)

  private val MagicLen = 8

  def parseHeader(bytes: Array[Byte]): Header = {
    require(bytes.length > MagicLen + 4 &&
      bytes(0) == 'f' && bytes(1) == 'g' && bytes(2) == 'b',
      "not a FlatGeobuf file (bad magic)")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val headerLen = bb.getInt(MagicLen)
    val root = MagicLen + 4
    val t = new Table(bb, root + bb.getInt(root))
    val cols = (0 until t.vectorLen(H.Columns)).map { i =>
      val ct = t.tableAt(H.Columns, i)
      (ct.getString(C.Name).getOrElse(s"col_$i"), ct.getByte(C.Type).toInt)
    }
    Header(
      name = t.getString(H.Name).getOrElse(""),
      geometryType = t.getByte(H.GeometryType).toInt,
      columns = cols,
      featuresCount = t.getLong(H.FeaturesCount),
      indexNodeSize = t.getShort(H.IndexNodeSize, 16).toInt & 0xFFFF,
      envelope = t.getDoubleVector(H.Envelope),
      headerEnd = MagicLen + 4 + headerLen,
      // Crs table per the public spec: org(0), code(1), name(2),
      // description(3), wkt(4)
      crsName = t.subTable(H.Crs).flatMap(_.getString(2)),
      crsWkt = t.subTable(H.Crs).flatMap(_.getString(4)),
      hasZ = t.getBool(H.HasZ),
      hasM = t.getBool(H.HasM),
      title = t.getString(H.Title),
      description = t.getString(H.Description),
      metadata = t.getString(H.Metadata))
  }

  /** Packed-R-tree node-index ranges per level, LEAF level first, root
    * last. Per spec the level loop is do-while: even one item gets a root.
    * THE single source of the level layout — index size, search traversal,
    * and the writer all derive from this. */
  private[sources] def levelBounds(numItems: Long, nodeSize: Int): Array[(Long, Long)] = {
    var n = numItems
    var numNodes = n
    val levelNumNodes = scala.collection.mutable.ArrayBuffer(n)
    var done = false
    while (!done) {
      n = (n + nodeSize - 1) / nodeSize
      numNodes += n
      levelNumNodes += n
      done = n == 1
    }
    var acc = numNodes
    levelNumNodes.map { size => acc -= size; (acc, acc + size) }.toArray
  }

  /** packed Hilbert R-tree byte size (40-byte nodes: 4 doubles + u64). */
  private[sources] def indexSize(numItems: Long, nodeSize: Int): Long =
    if (numItems == 0 || nodeSize == 0) 0
    else levelBounds(numItems, nodeSize)(0)._2 * 40L

  /** Traverse the packed Hilbert R-tree for features intersecting the query
    * rect. Returns byte offsets of candidate features relative to the start
    * of the features section, ascending. Wire format per the public FGB
    * spec: 40-byte nodes, root at node 0 / leaves last; internal node
    * payload = first-child node index, leaf payload = feature byte offset. */
  private[graft] def searchIndex(bytes: Array[Byte],
                                   x0: Double, y0: Double,
                                   x1: Double, y1: Double): Seq[Long] = {
    val header = parseHeader(bytes)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val leafStart = levelBounds(header.featuresCount, header.indexNodeSize)(0)._1
    searchNodes(bb, header.headerEnd, header.featuresCount, header.indexNodeSize,
      x0, y0, x1, y1).map(i => bb.getLong(header.headerEnd + 40 * (leafStart + i).toInt + 32))
  }

  /** Core packed-R-tree traversal over a node array at `base` in `bb`:
    * the leaf items (feature numbers in leaf order) whose boxes meet the
    * query rect, ascending. */
  private def searchNodes(bb: ByteBuffer, base: Int, numItems: Long, nodeSize: Int,
                          x0: Double, y0: Double, x1: Double, y1: Double): Seq[Long] = {
    if (numItems == 0 || nodeSize == 0) return Nil
    val bounds = levelBounds(numItems, nodeSize)
    val leafStart = bounds(0)._1
    val results = scala.collection.mutable.ArrayBuffer.empty[Long]
    val queue = scala.collection.mutable.Queue((0L, bounds.length - 1))
    while (queue.nonEmpty) {
      val (nodeIndex, level) = queue.dequeue()
      val isLeaf = nodeIndex >= leafStart
      val end = math.min(nodeIndex + nodeSize, bounds(level)._2)
      var pos = nodeIndex
      while (pos < end) {
        val p = base + 40 * pos.toInt
        val nMinX = bb.getDouble(p); val nMinY = bb.getDouble(p + 8)
        val nMaxX = bb.getDouble(p + 16); val nMaxY = bb.getDouble(p + 24)
        if (nMinX <= x1 && nMaxX >= x0 && nMinY <= y1 && nMaxY >= y0) {
          if (isLeaf) results += pos - leafStart
          else queue.enqueue((bb.getLong(p + 32), level - 1))
        }
        pos += 1
      }
    }
    results.sortInPlace().toSeq
  }

  // ── geometry decode ───────────────────────────────────────────────────

  /** Coordinates from the xy vector plus optional z/m vectors (feature.fbs
    * fields 2/3 — ref: rust/geoarrow-flatgeobuf/src/reader/common.rs:52,
    * 95-110 derives the dimension from the header; here each geometry's own
    * vectors decide, which also covers per-feature tags). Non-empty z/m
    * become JTS XYZ/XYM/XYZM coordinates, so downstream EWKB keeps them
    * (GeomOps.write dimension fidelity). */
  private def coords(xy: Array[Double], z: Array[Double], m: Array[Double],
                     from: Int, until: Int): Array[Coordinate] =
    Array.tabulate(until - from) { i =>
      val j = from + i
      val x = xy(2 * j); val y = xy(2 * j + 1)
      if (z.nonEmpty && m.nonEmpty) new CoordinateXYZM(x, y, z(j), m(j))
      else if (m.nonEmpty) new CoordinateXYM(x, y, m(j))
      else if (z.nonEmpty) new Coordinate(x, y, z(j))
      else new Coordinate(x, y)
    }

  private def rings(t: Table): (Array[Double], Array[Double], Array[Double], Array[Int]) = {
    val xy = t.getDoubleVector(G.Xy)
    val ends0 = t.getIntVector(G.Ends)
    val ends = if (ends0.isEmpty) Array(xy.length / 2) else ends0
    (xy, t.getDoubleVector(G.Z), t.getDoubleVector(G.M), ends)
  }

  private def polygonOf(t: Table): Polygon = {
    val (xy, z, m, ends) = rings(t)
    val f = GeomOps.factory
    val ringArr: Array[LinearRing] = {
      var from = 0
      ends.map { end => val r = f.createLinearRing(coords(xy, z, m, from, end)); from = end; r }
    }
    f.createPolygon(ringArr.head, ringArr.tail)
  }

  /** FGB geometry table (+ declared type) → JTS. Types per public spec:
    * 1=Point 2=LineString 3=Polygon 4=MultiPoint 5=MultiLineString
    * 6=MultiPolygon 7=GeometryCollection. */
  private def decodeGeometry(t: Table, declaredType: Int): Geometry = {
    val f = GeomOps.factory
    val gtype = { val own = t.getByte(G.Type).toInt; if (own != 0) own else declaredType }
    gtype match {
      case 1 =>
        val xy = t.getDoubleVector(G.Xy)
        if (xy.isEmpty) f.createPoint()
        else f.createPoint(coords(xy, t.getDoubleVector(G.Z), t.getDoubleVector(G.M), 0, 1).head)
      case 2 =>
        val xy = t.getDoubleVector(G.Xy)
        f.createLineString(coords(xy, t.getDoubleVector(G.Z), t.getDoubleVector(G.M), 0, xy.length / 2))
      case 3 => polygonOf(t)
      case 4 =>
        val xy = t.getDoubleVector(G.Xy)
        f.createMultiPointFromCoords(coords(xy, t.getDoubleVector(G.Z), t.getDoubleVector(G.M), 0, xy.length / 2))
      case 5 =>
        val (xy, z, m, ends) = rings(t)
        var from = 0
        f.createMultiLineString(ends.map { end =>
          val l = f.createLineString(coords(xy, z, m, from, end)); from = end; l })
      case 6 =>
        val n = t.vectorLen(G.Parts)
        if (n == 0) f.createMultiPolygon(Array(polygonOf(t)))
        else f.createMultiPolygon(Array.tabulate(n)(i => polygonOf(t.tableAt(G.Parts, i))))
      case 7 =>
        val n = t.vectorLen(G.Parts)
        f.createGeometryCollection(Array.tabulate(n) { i =>
          val part = t.tableAt(G.Parts, i)
          decodeGeometry(part, part.getByte(G.Type).toInt)
        })
      case other => throw new IllegalArgumentException(s"unsupported FGB geometry type $other")
    }
  }

  // ── property decode (packed: u16 column index + typed value) ──────────

  /** Count of property values MATERIALIZED by decodeProperties (not
    * skipped) — a diagnostics hook the DSv2 pruning spec reads to prove
    * projection reaches the decode level (meaningful in local mode where
    * tasks share the JVM). A LongAdder add is noise next to the value
    * allocation it counts. */
  private[graft] val decodedPropValues = new java.util.concurrent.atomic.LongAdder

  /** Decode the packed property stream into `out` as Catalyst values
    * (strings as `UTF8String` over `bb`'s backing array). With a non-null
    * `wanted` mask, values of unwanted columns are SKIPPED (the cursor
    * advances without materializing — for strings/binary only the length
    * prefix is read): decode-level column pruning for the scan. */
  private[graft] def decodeProperties(bb: ByteBuffer, pos: Int, len: Int,
                               types: Array[Int], out: Array[Any],
                               wanted: Array[Boolean] = null): Unit = {
    var p = pos
    val end = pos + len
    // Trailing-pad guard, entry-size-aware: real-world files (e.g. the
    // reference's alldatatypes.fgb) pad the properties vector with
    // trailing zero bytes (FlatBuffers aligns to 4, so 1-3 pads occur).
    // A bare `p < end` loop would parse a phantom entry from the pads
    // plus whatever follows the vector and overwrite column 0 with
    // garbage. Defense in depth: (a) at least u16 idx + 1 payload byte
    // must remain, and (b) once the column type is known, its FULL fixed
    // payload (or the u32 length prefix of a var-length one) must fit
    // before `end` — 3 zero pads ahead of an Int column would otherwise
    // still read 4 bytes past the vector. Residual ambiguity: exactly 3
    // zero pads when column 0 is a 1-byte type decode as (idx 0,
    // value 0) — indistinguishable on the wire, harmless value.
    def fits(need: Int): Boolean = p + need <= end
    var stop = false
    while (!stop && p + 3 <= end) {
      val idx = bb.getShort(p) & 0xFFFF
      val t = types(idx)
      val need = t match {
        case 0 | 1 | 2 => 1
        case 3 | 4 => 2
        case 5 | 6 | 9 => 4
        case 7 | 8 | 10 => 8
        case _ => 4 // var-length: the u32 length prefix
      }
      if (!fits(2 + need)) stop = true
      else {
      p += 2
      val want = wanted == null || wanted(idx)
      if (want) decodedPropValues.increment()
      types(idx) match {
        case 0 => if (want) out(idx) = bb.get(p); p += 1
        case 1 => if (want) out(idx) = (bb.get(p) & 0xFF).toShort; p += 1
        case 2 => if (want) out(idx) = bb.get(p) != 0; p += 1
        case 3 => if (want) out(idx) = bb.getShort(p); p += 2
        case 4 => if (want) out(idx) = bb.getShort(p) & 0xFFFF; p += 2
        case 5 => if (want) out(idx) = bb.getInt(p); p += 4
        case 6 => if (want) out(idx) = bb.getInt(p).toLong & 0xFFFFFFFFL; p += 4
        case 7 | 8 => if (want) out(idx) = bb.getLong(p); p += 8
        case 9 => if (want) out(idx) = bb.getFloat(p); p += 4
        case 10 => if (want) out(idx) = bb.getDouble(p); p += 8
        case 11 | 12 | 13 => // String / Json / DateTime
          val len = bb.getInt(p); p += 4
          if (want) out(idx) = UTF8String.fromBytes(bb.array, bb.arrayOffset + p, len)
          p += len
        case 14 =>
          val len = bb.getInt(p); p += 4
          if (want) {
            val arr = new Array[Byte](len)
            val dup = bb.duplicate().order(ByteOrder.LITTLE_ENDIAN)
            dup.position(p); dup.get(arr)
            out(idx) = arr
          }
          p += len
        case other => throw new IllegalArgumentException(s"unsupported FGB column type $other")
      }
      }
    }
  }

  // ── public API ────────────────────────────────────────────────────────

  /** FGB geometry-type code → GeoParquet geometry_types name (FGB spec:
    * 0 Unknown … 7 GeometryCollection). Unknown/mixed stamps nothing. */
  private val fgbTypeNames = Map(
    1 -> "Point", 2 -> "LineString", 3 -> "Polygon", 4 -> "MultiPoint",
    5 -> "MultiLineString", 6 -> "MultiPolygon", 7 -> "GeometryCollection")

  /** The geometry column carries the same `geoparquet.*` Spark metadata the
    * GeoParquet/ArrowIpc readers stamp: the header's concrete geometry type
    * becomes the geometry_types constraint (point evidence for the edges
    * distance dispatch), and an edge model stored by [[FlatGeobufWriter]]
    * in the header metadata JSON (`graft:edges` — the FGB header has no
    * native edges field) round-trips so measures keep dispatching after an
    * FGB hop, mirroring the reference's per-array Metadata
    * (rust/geoarrow-schema/src/metadata.rs:16). */
  def schemaOf(header: Header): StructType = {
    val mb = new org.apache.spark.sql.types.MetadataBuilder()
    fgbTypeNames.get(header.geometryType)
      .foreach(mb.putString("geoparquet.geometry_types", _))
    header.metadata.foreach { json =>
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
        Option(node.get("graft:edges")).filterNot(_.isNull).map(_.asText)
          .filter(_.nonEmpty).foreach(mb.putString("geoparquet.edges", _))
      } catch { case _: com.fasterxml.jackson.core.JacksonException => }
    }
    StructType(
      header.columns.map { case (n, t) => StructField(n, columnTypes(t)) } :+
        StructField("geometry", BinaryType, nullable = true, mb.build()))
  }

  /** Decode the feature table rooted at `root` in `bb` into a full-width
    * row. With a `wanted` mask (length = columns + 1, last slot = geometry)
    * unwanted properties are cursor-skipped and an unwanted geometry is not
    * decoded at all. */
  private[sources] def rowOf(bb: ByteBuffer, root: Int, header: Header,
                             types: Array[Int],
                             wanted: Array[Boolean]): InternalRow = {
    val t = new Table(bb, root + bb.getInt(root))
    val out = new Array[Any](types.length + 1)
    t.indirect(F.Properties) match {
      case -1 =>
      case pp => decodeProperties(bb, pp + 4, bb.getInt(pp), types, out, wanted)
    }
    if (wanted(types.length))
      out(types.length) = t.subTable(F.Geometry)
        .map(g => GeomOps.write(decodeGeometry(g, header.geometryType))).orNull
    new GenericInternalRow(out)
  }

  private def envelopeHit(r: InternalRow, geomIdx: Int,
                          x0: Double, y0: Double, x1: Double, y1: Double): Boolean = {
    val wkb = r.getBinary(geomIdx)
    wkb != null && {
      val e = GeomOps.read(wkb).getEnvelopeInternal
      e.getMinX <= x1 && e.getMaxX >= x0 && e.getMinY <= y1 && e.getMaxY >= y0
    }
  }

  /** The one feature loop: the rows of the whole file (`start < 0`) or of
    * its feature-aligned byte range [start, end) ([[splitRanges]]). The two
    * differ only in the bytes read: the whole file, whose features follow
    * its header and index, or just the range, with the header read apart. */
  private def decodeFeatures(fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path,
                             start: Long, end: Long,
                             wanted: Array[Boolean]): Iterator[InternalRow] = {
    val (bytes, header, from) =
      if (start < 0) {
        val all = readAll(fs, p)
        val h = parseHeader(all)
        (all, h, (h.headerEnd + indexSize(h.featuresCount, h.indexNodeSize)).toInt)
      } else {
        val range = new Array[Byte]((end - start).toInt)
        val in = fs.open(p)
        try in.readFully(start, range) finally in.close()
        (range, parseHeader(readHeaderBytes(fs, p)), 0)
      }
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val types = header.columns.map(_._2).toArray
    var pos = from
    new Iterator[InternalRow] {
      def hasNext: Boolean = pos + 4 <= bytes.length
      def next(): InternalRow = {
        val root = pos + 4
        pos = root + bb.getInt(pos)
        rowOf(bb, root, header, types, wanted)
      }
    }
  }

  /** magic + length prefix + header flatbuffer, read with two bounded
    * positioned reads — never the whole file. */
  private[sources] def readHeaderBytes(fs: org.apache.hadoop.fs.FileSystem,
                              p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val pre = new Array[Byte](MagicLen + 4)
      in.readFully(0, pre)
      require(pre(0) == 'f' && pre(1) == 'g' && pre(2) == 'b',
        s"not a FlatGeobuf file (bad magic): $p")
      val headerLen = ByteBuffer.wrap(pre).order(ByteOrder.LITTLE_ENDIAN).getInt(MagicLen)
      val all = new Array[Byte](MagicLen + 4 + headerLen)
      in.readFully(0, all)
      all
    } finally in.close()
  }

  /** Index candidates closer than this many bytes share one positioned
    * read: fetching a small gap costs less than another request. */
  private val MergeGap = 64 << 10
  /** The most bytes one merged read fetches. */
  private val MaxRunBytes = 64 << 20

  /** bbox read over an indexed file touching ONLY header + packed R-tree +
    * candidate feature ranges — the distributed mirror of the reference's
    * async range-request reader (rust/geoarrow-flatgeobuf/src/reader/
    * async.rs:244 `select_bbox`). A 100 TB corpus query reads the few
    * row-ranges the Hilbert tree selects, not the files. The candidates
    * are read in runs: one positioned read covers each run of features
    * less than [[MergeGap]] apart. Leaves hold the features in file
    * order, so a feature ends where the next leaf's feature starts.
    * Indexless files fall back to full-scan + envelope filter. The
    * envelope test needs the geometry, so it is decoded even when
    * `wanted` prunes it. */
  private def readSelective(fs: org.apache.hadoop.fs.FileSystem,
                            p: org.apache.hadoop.fs.Path,
                            x0: Double, y0: Double, x1: Double, y1: Double,
                            wanted: Array[Boolean]): Iterator[InternalRow] = {
    val header = parseHeader(readHeaderBytes(fs, p))
    val types = header.columns.map(_._2).toArray
    val w = wanted.updated(types.length, true)
    val n = header.featuresCount
    if (header.indexNodeSize == 0 || n == 0)
      return decodeFeatures(fs, p, -1, -1, w).filter(envelopeHit(_, types.length, x0, y0, x1, y1))
    val idxLen = indexSize(n, header.indexNodeSize)
    val featStart = header.headerEnd.toLong + idxLen
    val in = fs.open(p)
    try {
      val idx = new Array[Byte](idxLen.toInt)
      in.readFully(header.headerEnd.toLong, idx)
      val bb = ByteBuffer.wrap(idx).order(ByteOrder.LITTLE_ENDIAN)
      val leafStart = levelBounds(n, header.indexNodeSize)(0)._1
      lazy val sectionEnd = fs.getFileStatus(p).getLen - featStart
      def offset(item: Long): Long =
        if (item >= n) sectionEnd else bb.getLong(40 * (leafStart + item).toInt + 32)
      // (start, end) of each candidate relative to the features section
      val spans = searchNodes(bb, 0, n, header.indexNodeSize, x0, y0, x1, y1)
        .map(i => (offset(i), offset(i + 1))).sortBy(_._1).toIndexedSeq
      require(spans.forall { case (a, b) => a < b },
        s"FlatGeobuf index leaves out of file order: $p")
      val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var k = 0
      while (k < spans.length) {
        val runStart = spans(k)._1
        var j = k
        while (j + 1 < spans.length && spans(j + 1)._1 - spans(j)._2 < MergeGap &&
               spans(j + 1)._2 - runStart <= MaxRunBytes) j += 1
        val buf = new Array[Byte]((spans(j)._2 - runStart).toInt)
        in.readFully(featStart + runStart, buf)
        val rb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
        (k to j).foreach(c => rows += rowOf(rb, (spans(c)._1 - runStart).toInt + 4, header, types, w))
        k = j + 1
      }
      rows.iterator.filter(envelopeHit(_, types.length, x0, y0, x1, y1))
    } finally in.close()
  }

  /** Feature-aligned byte ranges for one file of `len` bytes, from the
    * packed index's leaf level: S-1 positioned 40-byte reads at evenly
    * spaced leaf nodes give the boundary features' byte offsets (leaves
    * are in file order — the writer packs them in the features' Hilbert
    * sort order). Returns absolute [start, end) ranges covering the whole
    * feature section; (-1, -1) means "whole file" (indexless or
    * single-split files). */
  private[sources] def splitRanges(fs: org.apache.hadoop.fs.FileSystem,
                                   p: org.apache.hadoop.fs.Path, len: Long,
                                   maxPartitionBytes: Long): Seq[(Long, Long)] = {
    val header = parseHeader(readHeaderBytes(fs, p))
    val idxLen = indexSize(header.featuresCount, header.indexNodeSize)
    val featStart = header.headerEnd.toLong + idxLen
    val sectionLen = len - featStart
    val nSplits = math.min(
      (sectionLen + maxPartitionBytes - 1) / maxPartitionBytes,
      header.featuresCount).toInt
    if (header.indexNodeSize == 0 || nSplits <= 1) return Seq((-1L, -1L))
    val leafStartNode = levelBounds(header.featuresCount, header.indexNodeSize)(0)._1
    val in = fs.open(p)
    val offs =
      try (1 until nSplits).map { t =>
        val item = header.featuresCount * t / nSplits
        val buf = new Array[Byte](8)
        in.readFully(header.headerEnd.toLong + 40L * (leafStartNode + item) + 32L, buf)
        ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN).getLong(0)
      } finally in.close()
    val bounds = (0L +: offs.sorted.distinct) :+ sectionLen
    bounds.sliding(2).collect { case Seq(a, b) if a < b => (featStart + a, featStart + b) }.toSeq
  }

  /** Read FGB file(s) into a DataFrame (property columns + `geometry` WKB):
    * the scan of `spark.read.format("flatgeobuf")`, so Catalyst prunes its
    * columns down to the decoder. Files parallelize across executors; a
    * large indexed file additionally splits into maxPartitionBytes-sized
    * feature-aligned ranges (see the object scaladoc). With a `bbox`, each
    * file is one task that seeks its candidates through the packed
    * index. */
  def read(spark: SparkSession, path: String,
           bbox: Option[(Double, Double, Double, Double)] = None): DataFrame =
    RowFileSource.read(spark, Format(bbox), Seq(path))

  /** bbox-selective read — see [[read]]'s `bbox` parameter. */
  def readBbox(spark: SparkSession, path: String,
               xmin: Double, ymin: Double, xmax: Double, ymax: Double): DataFrame =
    read(spark, path, Some((xmin, ymin, xmax, ymax)))

  /** FlatGeobuf as a [[RowFileFormat]]; a split is `(path, start, end)`,
    * `(path, -1, -1)` for a whole file. */
  private[sources] final case class Format(bbox: Option[(Double, Double, Double, Double)])
      extends RowFileFormat[(String, Long, Long)] {
    def name: String = "flatgeobuf"
    def suffixes: Seq[String] = Seq(".fgb")

    def schemaOf(session: SparkSession, files: Seq[(String, Long, Long)]): StructType = {
      val p = new org.apache.hadoop.fs.Path(files.head._1)
      FlatGeobuf.schemaOf(parseHeader(readHeaderBytes(
        p.getFileSystem(session.sessionState.newHadoopConf()), p)))
    }

    def whole(path: String): (String, Long, Long) = (path, -1L, -1L)

    def probe(path: String, size: Long, maxPartitionBytes: Long,
              conf: org.apache.hadoop.conf.Configuration): Seq[(String, Long, Long)] = {
      val p = new org.apache.hadoop.fs.Path(path)
      splitRanges(p.getFileSystem(conf), p, size, maxPartitionBytes).map { case (s, e) => (path, s, e) }
    }

    // a bbox read keeps whole files and probes none: the index seek
    // selects within one
    override def plan(session: SparkSession,
                      files: Seq[(String, Long, Long)]): Seq[(String, Long, Long)] =
      if (bbox.isDefined) files.map(f => whole(f._1)) else super.plan(session, files)

    def decode(split: (String, Long, Long), wanted: Array[Boolean],
               conf: org.apache.hadoop.conf.Configuration): Iterator[InternalRow] = {
      val (f, start, end) = split
      val p = new org.apache.hadoop.fs.Path(f)
      val fs = p.getFileSystem(conf)
      bbox match {
        case Some((x0, y0, x1, y1)) => readSelective(fs, p, x0, y0, x1, y1, wanted)
        case None => decodeFeatures(fs, p, start, end, wanted)
      }
    }
  }

  private[sources] def readAll(fs: org.apache.hadoop.fs.FileSystem,
                      p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val len = fs.getFileStatus(p).getLen.toInt
    val out = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, out) finally in.close()
    out
  }
}

/** `spark.read.format("flatgeobuf")`: the same scan as [[FlatGeobuf.read]]
  * without a bbox. Catalyst's required-columns pushdown reaches the
  * decoder: unwanted property values are cursor-skipped without
  * materializing, and an unwanted geometry is never decoded — on a
  * wide-schema corpus the dominant per-feature cost. The reference gains
  * the same effect by mapping only requested columns into arrays
  * (rust/geoarrow-flatgeobuf/src/reader/common.rs property schema
  * selection). */
class FlatGeobufSource extends RowFileSource(FlatGeobuf.Format(None))
