package graft.sources

import java.io.{ByteArrayOutputStream, OutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.locationtech.jts.geom._

import graft.core.GeomOps

/** FlatGeobuf writer — re-expression of the reference's writer
  * (rust/geoarrow-flatgeobuf/src/writer.rs:16-96,160-228: schema from the
  * Arrow schema, per-feature geometry + property encoding, optional spatial
  * index). By default each file carries the spec's packed Hilbert R-tree
  * (40-byte nodes, root-first level order; features Hilbert-sorted on a
  * 2^16 grid over the partition extent), so graft-written files are
  * bbox-seekable by [[FlatGeobuf.readBbox]] and any spec-conforming FGB
  * reader. `index=false` (or a partition containing geometry-less rows,
  * which the packed tree cannot address) falls back to `index_node_size=0`
  * — spec-legal, bbox reads then full-scan + envelope-filter.
  *
  * Distribution model (the part the single-node reference doesn't have):
  * one .fgb file per partition, written task-side into a directory — the
  * mirror image of [[FlatGeobuf.read]]'s one-task-per-file model, so a
  * 1000-executor write produces 1000 independently-readable files, each
  * with its own header envelope/count. No driver collect, no global
  * barrier. Each task buffers only its own partition in memory (the header
  * carries the envelope, which is only known after the last feature).
  */
object FlatGeobufWriter {

  /** Caller metadata JSON merged with the geometry column's edge model
    * (`graft:edges`): the FGB header has no native edges field, so the
    * model rides the free-form header metadata and
    * [[FlatGeobuf.schemaOf]] re-stamps it on read — an FGB hop keeps
    * measures dispatching, mirroring the reference's per-array Metadata
    * (rust/geoarrow-schema/src/metadata.rs:16). A non-JSON-object caller
    * metadata string passes through untouched (the model is dropped
    * rather than corrupting the caller's payload). */
  private def metadataWithEdges(schema: StructType, geometryCol: String,
                                metadata: Option[String]): Option[String] = {
    val edges = schema.fields.find(_.name == geometryCol)
      .filter(_.metadata.contains("geoparquet.edges"))
      .map(_.metadata.getString("geoparquet.edges"))
    edges match {
      case None => metadata
      case Some(e) =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        metadata match {
          case None =>
            val n = mapper.createObjectNode()
            n.put("graft:edges", e)
            Some(mapper.writeValueAsString(n))
          case Some(m) =>
            try mapper.readTree(m) match {
              case o: com.fasterxml.jackson.databind.node.ObjectNode =>
                if (!o.has("graft:edges")) o.put("graft:edges", e)
                Some(mapper.writeValueAsString(o))
              case _ => metadata
            } catch {
              case _: com.fasterxml.jackson.core.JacksonException => metadata
            }
        }
    }
  }

  // ── minimal flatbuffer builder (buffer grows downward, like the public
  //    FlatBuffers builders; offsets measured from the buffer end) ─────────
  private final class FBB(initial: Int = 4096) {
    private var buf = new Array[Byte](initial)
    private var space = buf.length
    private var minalign = 1
    private var vtable: Array[Int] = _
    private var objectStart = 0

    def offset: Int = buf.length - space

    private def grow(): Unit = {
      val old = buf
      buf = new Array[Byte](old.length * 2)
      System.arraycopy(old, 0, buf, buf.length - old.length, old.length)
      space += buf.length - old.length
    }

    private def prep(size: Int, additional: Int): Unit = {
      if (size > minalign) minalign = size
      val alignSize = ((~(buf.length - space + additional)) + 1) & (size - 1)
      while (space < alignSize + size + additional) grow()
      var i = 0
      while (i < alignSize) { space -= 1; buf(space) = 0; i += 1 }
    }

    private def putByteRaw(v: Byte): Unit = { space -= 1; buf(space) = v }
    private def putShortRaw(v: Short): Unit = {
      space -= 2
      buf(space) = v.toByte; buf(space + 1) = (v >> 8).toByte
    }
    private def putIntRaw(v: Int): Unit = {
      space -= 4
      buf(space) = v.toByte; buf(space + 1) = (v >> 8).toByte
      buf(space + 2) = (v >> 16).toByte; buf(space + 3) = (v >> 24).toByte
    }
    private def putLongRaw(v: Long): Unit = { putIntRaw((v >> 32).toInt); putIntRaw(v.toInt) }
    private def putDoubleRaw(v: Double): Unit = putLongRaw(java.lang.Double.doubleToLongBits(v))

    def addOffset(off: Int): Unit = { prep(4, 0); putIntRaw(offset - off + 4) }

    def startVector(elemSize: Int, count: Int, align: Int): Unit = {
      prep(4, elemSize * count)
      prep(align, elemSize * count)
    }
    def endVector(count: Int): Int = { putIntRaw(count); offset }

    def createDoubleVector(vs: Array[Double]): Int = {
      startVector(8, vs.length, 8)
      var i = vs.length - 1
      while (i >= 0) { putDoubleRaw(vs(i)); i -= 1 }
      endVector(vs.length)
    }
    def createUIntVector(vs: Array[Int]): Int = {
      startVector(4, vs.length, 4)
      var i = vs.length - 1
      while (i >= 0) { putIntRaw(vs(i)); i -= 1 }
      endVector(vs.length)
    }
    def createByteVector(vs: Array[Byte]): Int = {
      startVector(1, vs.length, 1)
      space -= vs.length
      System.arraycopy(vs, 0, buf, space, vs.length)
      endVector(vs.length)
    }
    def createOffsetVector(offs: Array[Int]): Int = {
      startVector(4, offs.length, 4)
      var i = offs.length - 1
      while (i >= 0) { addOffsetNoPrep(offs(i)); i -= 1 }
      endVector(offs.length)
    }
    private def addOffsetNoPrep(off: Int): Unit = putIntRaw(offset - off + 4)
    def createString(s: String): Int = {
      val utf8 = s.getBytes("UTF-8")
      prep(4, utf8.length + 1)
      putByteRaw(0)
      space -= utf8.length
      System.arraycopy(utf8, 0, buf, space, utf8.length)
      endVector(utf8.length)
    }

    def startTable(numFields: Int): Unit = {
      vtable = new Array[Int](numFields)
      objectStart = offset
    }
    def slotByte(id: Int, v: Byte, dflt: Byte): Unit =
      if (v != dflt) { prep(1, 0); putByteRaw(v); vtable(id) = offset }
    def slotShort(id: Int, v: Short, dflt: Short, force: Boolean = false): Unit =
      if (force || v != dflt) { prep(2, 0); putShortRaw(v); vtable(id) = offset }
    def slotLong(id: Int, v: Long, dflt: Long): Unit =
      if (v != dflt) { prep(8, 0); putLongRaw(v); vtable(id) = offset }
    def slotOffset(id: Int, off: Int): Unit =
      if (off != 0) { addOffset(off); vtable(id) = offset }
    def endTable(): Int = {
      prep(4, 0); putIntRaw(0) // placeholder soffset to vtable
      val vtableLoc = offset
      var i = vtable.length - 1
      while (i >= 0 && vtable(i) == 0) i -= 1
      val trimmed = i + 1
      while (i >= 0) {
        prep(2, 0)
        putShortRaw(if (vtable(i) != 0) (vtableLoc - vtable(i)).toShort else 0)
        i -= 1
      }
      prep(2, 0); putShortRaw((vtableLoc - objectStart).toShort)
      prep(2, 0); putShortRaw(((trimmed + 2) * 2).toShort)
      // patch the placeholder: soffset = tableFilePos - vtableFilePos
      val patchPos = buf.length - vtableLoc
      val v = offset - vtableLoc
      buf(patchPos) = v.toByte; buf(patchPos + 1) = (v >> 8).toByte
      buf(patchPos + 2) = (v >> 16).toByte; buf(patchPos + 3) = (v >> 24).toByte
      vtableLoc
    }

    /** finish with root table; returns the completed flatbuffer bytes. */
    def finish(root: Int): Array[Byte] = {
      prep(minalign, 4)
      addOffset(root)
      java.util.Arrays.copyOfRange(buf, space, buf.length)
    }
  }

  // ── FGB encode (field ids match the reader's H/C/F/G constants) ────────

  private def sparkToFgbType(dt: DataType): Int = dt match {
    case ByteType => 0
    case BooleanType => 2
    case ShortType => 3
    case IntegerType => 5
    case LongType => 7
    case FloatType => 9
    case DoubleType => 10
    case StringType => 11
    case BinaryType => 14
    case other => throw new IllegalArgumentException(
      s"FlatGeobuf: unsupported property type $other (cast to string first)")
  }

  // ── packed Hilbert R-tree (FGB spec / flatbush layout) ─────────────────

  /** flatbush 16-bit Hilbert curve — shared kernel in [[graft.core.Hilbert]]. */
  private[sources] def hilbert(x: Int, y: Int): Long = graft.core.Hilbert.index(x, y)

  private[sources] def hilbertOf(e: Envelope, extent: Envelope): Long =
    graft.core.Hilbert.ofCenter((e.getMinX + e.getMaxX) / 2, (e.getMinY + e.getMaxY) / 2,
      extent.getMinX, extent.getMinY, extent.getMaxX, extent.getMaxY)

  /** Level layout — single source of truth in [[FlatGeobuf.levelBounds]]. */
  private[sources] def levelBounds(numItems: Long, nodeSize: Int): Array[(Long, Long)] =
    FlatGeobuf.levelBounds(numItems, nodeSize)

  /** Serialize the packed Hilbert R-tree over the (already Hilbert-sorted)
    * leaf envelopes. `featOffsets(i)` = byte offset of feature i within the
    * features section. Array layout: root at node 0, leaves last; internal
    * node payload = index of its first child node, leaf payload = feature
    * byte offset (exactly the C++/Rust PackedRTree wire format). */
  private def buildIndex(envs: Array[Envelope], featOffsets: Array[Long],
                         nodeSize: Int): Array[Byte] = {
    val numItems = envs.length
    val bounds = levelBounds(numItems, nodeSize)
    val numNodes = bounds(0)._2.toInt
    val leafStart = (numNodes - numItems).toInt
    val minX = new Array[Double](numNodes); val minY = new Array[Double](numNodes)
    val maxX = new Array[Double](numNodes); val maxY = new Array[Double](numNodes)
    val off = new Array[Long](numNodes)
    var i = 0
    while (i < numItems) {
      val n = leafStart + i
      minX(n) = envs(i).getMinX; minY(n) = envs(i).getMinY
      maxX(n) = envs(i).getMaxX; maxY(n) = envs(i).getMaxY
      off(n) = featOffsets(i)
      i += 1
    }
    var level = 0
    while (level < bounds.length - 1) {
      var pos = bounds(level)._1.toInt
      val end = bounds(level)._2.toInt
      var newpos = bounds(level + 1)._1.toInt
      while (pos < end) {
        val firstChild = pos
        var x0 = Double.PositiveInfinity; var y0 = Double.PositiveInfinity
        var x1 = Double.NegativeInfinity; var y1 = Double.NegativeInfinity
        var j = 0
        while (j < nodeSize && pos < end) {
          x0 = math.min(x0, minX(pos)); y0 = math.min(y0, minY(pos))
          x1 = math.max(x1, maxX(pos)); y1 = math.max(y1, maxY(pos))
          pos += 1; j += 1
        }
        minX(newpos) = x0; minY(newpos) = y0; maxX(newpos) = x1; maxY(newpos) = y1
        off(newpos) = firstChild.toLong
        newpos += 1
      }
      level += 1
    }
    val bb = java.nio.ByteBuffer.allocate(numNodes * 40)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    i = 0
    while (i < numNodes) {
      bb.putDouble(minX(i)); bb.putDouble(minY(i))
      bb.putDouble(maxX(i)); bb.putDouble(maxY(i))
      bb.putLong(off(i))
      i += 1
    }
    bb.array()
  }

  private def headerBytes(lay: Layout, facts: Facts, indexNodeSize: Int): Array[Byte] = {
    val b = new FBB()
    val nameOff = b.createString(lay.name)
    // dataset annotations — header.fbs fields 11-13; parity with the
    // reference's with_title/with_description/with_metadata options
    // (rust/geoarrow-flatgeobuf/src/writer.rs:66-89)
    val titleOff = lay.title.fold(0)(b.createString)
    val descOff = lay.description.fold(0)(b.createString)
    val metaOff = lay.metadata.fold(0)(b.createString)
    val colOffs = lay.cols.map { case (n, t) =>
      val no = b.createString(n)
      b.startTable(2)
      b.slotOffset(0, no)     // Column.name
      b.slotByte(1, t.toByte, 0) // Column.type
      b.endTable()
    }.toArray
    val colsVec = if (colOffs.isEmpty) 0 else b.createOffsetVector(colOffs)
    val env = facts.extent
    val envVec = if (env.isNull) 0
                 else b.createDoubleVector(Array(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY))
    // Crs table per the public spec: org(0), code(1), name(2), desc(3), wkt(4)
    val crsOff = lay.crsWkt.fold(0) { wkt =>
      val w = b.createString(wkt)
      b.startTable(5)
      b.slotOffset(4, w)
      b.endTable()
    }
    b.startTable(14)
    b.slotOffset(0, nameOff)
    b.slotOffset(1, envVec)
    // geometry_type: the partition's detected uniform type (reference
    // detect_type semantics, writer.rs:52-57) or Unknown(0) on a mix —
    // per-feature tags are always present either way, so both strict and
    // per-feature readers decode the file
    b.slotByte(2, facts.geometryType.toByte, 0)
    b.slotByte(3, if (facts.anyZ) 1 else 0, 0) // Header.has_z
    b.slotByte(4, if (facts.anyM) 1 else 0, 0) // Header.has_m
    b.slotOffset(7, colsVec)
    b.slotLong(8, facts.count, 0)
    b.slotOffset(10, crsOff)     // Header.crs
    b.slotOffset(11, titleOff)   // Header.title
    b.slotOffset(12, descOff)    // Header.description
    b.slotOffset(13, metaOff)    // Header.metadata
    // index_node_size: 16 = packed Hilbert R-tree follows the header;
    // 0 = no spatial index (fbs default is 16, so always write explicitly)
    b.slotShort(9, indexNodeSize.toShort, 16, force = true)
    b.finish(b.endTable())
  }

  /** XYZ/XYM/XYZM presence of a coordinate array (JTS: WKB-read coordinates
    * are CoordinateXYM/CoordinateXYZM instances when measures are present;
    * a bare Coordinate answers NaN for both). */
  private def zmOf(cs: Array[Coordinate]): (Boolean, Boolean) =
    if (cs.isEmpty) (false, false)
    else (!cs(0).getZ.isNaN, !cs(0).getM.isNaN)

  private def geometryOffset(b: FBB, g: org.locationtech.jts.geom.Geometry): Int = {
    def xyOf(cs: Array[Coordinate]): Array[Double] = {
      val xy = new Array[Double](cs.length * 2)
      var i = 0
      while (i < cs.length) { xy(2 * i) = cs(i).x; xy(2 * i + 1) = cs(i).y; i += 1 }
      xy
    }
    // z/m land in their own parallel vectors (feature.fbs fields 2/3)
    def simple(tpe: Int, cs: Array[Coordinate], ends: Array[Int]): Int = {
      val (hasZ, hasM) = zmOf(cs)
      val endsVec = if (ends == null) 0 else b.createUIntVector(ends)
      val xyVec = b.createDoubleVector(xyOf(cs))
      val zVec = if (hasZ) b.createDoubleVector(cs.map(_.getZ)) else 0
      val mVec = if (hasM) b.createDoubleVector(cs.map(_.getM)) else 0
      b.startTable(8)
      b.slotOffset(0, endsVec)
      b.slotOffset(1, xyVec)
      b.slotOffset(2, zVec)   // Geometry.z
      b.slotOffset(3, mVec)   // Geometry.m
      b.slotByte(6, tpe.toByte, 0)
      b.endTable()
    }
    def polyParts(p: Polygon): (Array[Coordinate], Array[Int]) = {
      val rings = (p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN)).toArray
      val cs = rings.flatMap(_.getCoordinates)
      val ends = rings.scanLeft(0)(_ + _.getNumPoints).tail
      (cs, ends)
    }
    g match {
      case p: Point => simple(1, p.getCoordinates, null)
      case l: LineString => simple(2, l.getCoordinates, null)
      case p: Polygon =>
        val (cs, ends) = polyParts(p)
        simple(3, cs, if (ends.length > 1) ends else null)
      case m: MultiPoint => simple(4, m.getCoordinates, null)
      case m: MultiLineString =>
        val lines = (0 until m.getNumGeometries).map(m.getGeometryN(_).asInstanceOf[LineString])
        simple(5, lines.toArray.flatMap(_.getCoordinates),
          lines.scanLeft(0)(_ + _.getNumPoints).tail.toArray)
      case m: MultiPolygon =>
        val parts = (0 until m.getNumGeometries).map { i =>
          val (cs, ends) = polyParts(m.getGeometryN(i).asInstanceOf[Polygon])
          simple(3, cs, if (ends.length > 1) ends else null)
        }.toArray
        val partsVec = b.createOffsetVector(parts)
        b.startTable(8)
        b.slotOffset(7, partsVec)
        b.slotByte(6, 6, 0)
        b.endTable()
      case gc: GeometryCollection =>
        val parts = (0 until gc.getNumGeometries).map(i => geometryOffset(b, gc.getGeometryN(i))).toArray
        val partsVec = b.createOffsetVector(parts)
        b.startTable(8)
        b.slotOffset(7, partsVec)
        b.slotByte(6, 7, 0)
        b.endTable()
    }
  }

  private def propertyBytes(row: InternalRow, types: Array[Int]): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >> 16) & 0xFFFF) }
    def le64(v: Long): Unit = { le32(v.toInt); le32((v >> 32).toInt) }
    var i = 0
    while (i < types.length) {
      if (!row.isNullAt(i)) {
        le16(i)
        types(i) match {
          case 0 => out.write(row.getByte(i).toInt)
          case 2 => out.write(if (row.getBoolean(i)) 1 else 0)
          case 3 => le16(row.getShort(i).toInt)
          case 5 => le32(row.getInt(i))
          case 7 => le64(row.getLong(i))
          case 9 => le32(java.lang.Float.floatToIntBits(row.getFloat(i)))
          case 10 => le64(java.lang.Double.doubleToLongBits(row.getDouble(i)))
          case 11 =>
            val bs = row.getUTF8String(i).getBytes
            le32(bs.length); out.write(bs, 0, bs.length)
          case 14 =>
            val bs = row.getBinary(i)
            le32(bs.length); out.write(bs, 0, bs.length)
        }
      }
      i += 1
    }
    out.toByteArray
  }

  /** Single → multi promotion (Point→MultiPoint, LineString→
    * MultiLineString, Polygon→MultiPolygon; multis and collections pass
    * through) — the writer-side half of the reference's `promote_to_multi`
    * option (rust/geoarrow-flatgeobuf/src/writer.rs:59-64). Promoting at
    * write time lets a mixed single/multi frame declare ONE homogeneous
    * header geometry type, which strict readers require. */
  private def promoteMulti(g: org.locationtech.jts.geom.Geometry): org.locationtech.jts.geom.Geometry =
    g match {
      case p: Point => g.getFactory.createMultiPoint(Array(p))
      case l: LineString => g.getFactory.createMultiLineString(Array(l))
      case p: Polygon => g.getFactory.createMultiPolygon(Array(p))
      case other => other
    }

  /** FGB geometry type code (public spec, header.fbs GeometryType). */
  private def fgbTypeCode(g: org.locationtech.jts.geom.Geometry): Int = g match {
    case _: Point => 1
    case _: LineString => 2
    case _: Polygon => 3
    case _: MultiPoint => 4
    case _: MultiLineString => 5
    case _: MultiPolygon => 6
    case _: GeometryCollection => 7
  }

  /** One encoded feature and what its file's header needs of it. */
  private final case class Feature(bytes: Array[Byte], env: Envelope, z: Boolean, m: Boolean,
                                   typeCode: Int)

  private def featureBytes(row: InternalRow, lay: Layout): Feature = {
    val b = new FBB()
    val wkb = if (row.isNullAt(lay.geomIdx)) null else row.getBinary(lay.geomIdx)
    val raw = if (wkb == null) null else GeomOps.read(wkb)
    val geom = if (raw != null && lay.promote) promoteMulti(raw) else raw
    val props = propertyBytes(row, lay.types)
    val propsVec = if (props.isEmpty) 0 else b.createByteVector(props)
    val geomOff = if (geom == null || geom.isEmpty) 0 else geometryOffset(b, geom)
    b.startTable(2)
    b.slotOffset(0, geomOff)   // Feature.geometry
    b.slotOffset(1, propsVec)  // Feature.properties
    val fb = b.finish(b.endTable())
    val (z, m) =
      if (geom == null || geom.isEmpty) (false, false) else zmOf(geom.getCoordinates)
    Feature(fb, if (geom == null) null else geom.getEnvelopeInternal, z, m,
      if (geom == null || geom.isEmpty) 0 else fgbTypeCode(geom))
  }

  /** What every file of one write shares: the geometry column, the typed
    * property columns and the header options. */
  private final case class Layout(geomIdx: Int, cols: Seq[(String, Int)], name: String,
                                  index: Boolean, crsWkt: Option[String], title: Option[String],
                                  description: Option[String], metadata: Option[String],
                                  promote: Boolean) {
    val types: Array[Int] = cols.map(_._2).toArray
  }

  private def layout(df: DataFrame, geometryCol: String, name: String, index: Boolean,
                     crsWkt: Option[String], title: Option[String],
                     description: Option[String], metadata: Option[String],
                     promoteToMulti: Boolean): Layout = {
    val schema = df.schema
    val geomIdx = schema.fieldIndex(geometryCol)
    require(geomIdx == schema.fields.length - 1,
      s"geometry column must be last (got schema ${schema.simpleString}); select it last")
    Layout(geomIdx, schema.fields.dropRight(1).map(f => (f.name, sparkToFgbType(f.dataType))).toSeq,
      name, index, crsWkt, title, description,
      metadataWithEdges(schema, geometryCol, metadata), promoteToMulti)
  }

  /** The header facts of one file, folded feature by feature: the count,
    * the extent, whether every feature has an envelope, Z/M presence and
    * the header geometry_type — the file's uniform post-promotion type, or
    * Unknown (0) on a mix. With promoteToMulti a mixed Polygon/MultiPolygon
    * frame becomes uniformly MultiPolygon and the header declares it, which
    * strict homogeneous-type readers require. */
  private final class Facts {
    var count = 0L
    val extent = new Envelope()
    private var allHaveEnv = true
    var anyZ = false
    var anyM = false
    private var uniformType = -1 // -1 = unseen, 0 = mixed, else the shared code

    def add(f: Feature): Unit = {
      count += 1
      anyZ ||= f.z; anyM ||= f.m
      if (f.env != null) extent.expandToInclude(f.env) else allHaveEnv = false
      if (f.typeCode != 0)
        uniformType = if (uniformType == -1 || uniformType == f.typeCode) f.typeCode else 0
    }

    def geometryType: Int = math.max(uniformType, 0)

    /** The packed tree addresses every feature by envelope; a file with
      * geometry-less rows can't be indexed → spec-legal indexless file. */
    def indexed(want: Boolean): Boolean = want && count > 0 && allHaveEnv
  }

  /** Little-endian size prefix, then the bytes: the framing of the header
    * and of every feature. */
  private def writeSized(out: OutputStream, bytes: Array[Byte]): Unit = {
    val size = bytes.length
    out.write(size & 0xFF); out.write((size >> 8) & 0xFF)
    out.write((size >> 16) & 0xFF); out.write((size >> 24) & 0xFF)
    out.write(bytes, 0, size)
  }

  /** One .fgb file: magic, size-prefixed header, the packed Hilbert R-tree
    * when `facts.indexed(layout.index)`, then the size-prefixed feature
    * section that `features` writes — `envs` and `sizes` describe its
    * features in file order. */
  private def writeFile(out: OutputStream, layout: Layout, facts: Facts,
                        envs: Array[Envelope], sizes: Array[Int])(
                        features: OutputStream => Unit): Unit = {
    val doIndex = facts.indexed(layout.index)
    out.write(Array[Byte]('f', 'g', 'b', 3, 'f', 'g', 'b', 0))
    writeSized(out, headerBytes(layout, facts, if (doIndex) 16 else 0))
    if (doIndex) {
      val offsets = new Array[Long](sizes.length)
      var acc = 0L
      var i = 0
      while (i < sizes.length) {
        offsets(i) = acc
        acc += 4L + sizes(i)
        i += 1
      }
      out.write(buildIndex(envs, offsets, 16))
    }
    features(out)
  }

  /** Write `df` as ONE .fgb FILE at `path` — the reference writer's
    * artifact shape (rust/geoarrow-flatgeobuf/src/writer.rs:16-96 emits a
    * single file), which QGIS-style drag-and-drop tools consume directly.
    *
    * Scale shape: the global Hilbert order comes from a DISTRIBUTED range
    * shuffle ([[GeoParquet.spatialSort]] into one range), and the final
    * single-task assembly (a one-file artifact serializes its writer by
    * definition — the reference's writer is single-threaded throughout)
    * streams feature bytes to a task-local spill file while only the
    * envelopes + sizes the packed R-tree needs stay in memory, so the
    * task never materializes the dataset. Features arrive pre-sorted, so
    * no in-task sort happens. */
  def writeSingle(df: DataFrame, path: String, geometryCol: String = "geometry",
                  name: String = "graft", index: Boolean = true,
                  crsWkt: Option[String] = None,
                  title: Option[String] = None, description: Option[String] = None,
                  metadata: Option[String] = None,
                  promoteToMulti: Boolean = false): Unit = {
    val lay = layout(df, geometryCol, name, index, crsWkt, title, description, metadata,
      promoteToMulti)
    val target = new org.apache.hadoop.fs.Path(path)
    val conf = RowFileSource.broadcastConf(df.sparkSession)
    target.getFileSystem(conf.value.value).mkdirs(target.getParent)
    // global Hilbert order via distributed range shuffle; with index off a
    // plain single-range repartition suffices (order is then irrelevant).
    // The trailing coalesce(1) is a no-op on the already-single-range sort
    // but REQUIRED for the all-null-geometry case: spatialSort early-returns
    // the original multi-partition frame there, and multiple tasks racing
    // one fs.create(target) would corrupt the artifact.
    val ordered =
      (if (index) GeoParquet.spatialSort(df, geometryCol, numPartitions = 1)
       else df.repartition(1)).coalesce(1)
    ordered.queryExecution.toRdd.foreachPartition { rows =>
      val spillFile = java.io.File.createTempFile("graft_fgb_single", ".spill")
      val spill = new java.io.BufferedOutputStream(new java.io.FileOutputStream(spillFile), 1 << 16)
      val envs = scala.collection.mutable.ArrayBuffer.empty[Envelope]
      val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
      val facts = new Facts
      try {
        rows.foreach { row =>
          val f = featureBytes(row, lay)
          // the spill is byte-identical to the file's feature section
          writeSized(spill, f.bytes)
          envs += f.env
          sizes += f.bytes.length
          facts.add(f)
        }
        spill.close()
        val out = target.getFileSystem(conf.value.value).create(target, true)
        try writeFile(out, lay, facts, envs.toArray, sizes.toArray) { o =>
          val in = new java.io.BufferedInputStream(
            new java.io.FileInputStream(spillFile), 1 << 16)
          try {
            val buf = new Array[Byte](1 << 16)
            var n = in.read(buf)
            while (n > 0) { o.write(buf, 0, n); n = in.read(buf) }
          } finally in.close()
        } finally out.close()
      } finally {
        try spill.close() catch { case _: Exception => }
        spillFile.delete()
      }
    }
  }

  /** Write `df` as a directory of .fgb files, one per partition, through
    * [[RowFileSource.writeParts]]: a write replaces the directory's earlier
    * `.fgb` part-files. The geometry column (WKB) becomes the FGB geometry;
    * all other columns become typed FGB properties in schema order. With
    * `index=true` (the default) features are Hilbert-sorted and each file
    * carries the packed Hilbert R-tree, making it bbox-seekable. */
  def write(df: DataFrame, path: String, geometryCol: String = "geometry",
            name: String = "graft", index: Boolean = true,
            crsWkt: Option[String] = None,
            title: Option[String] = None, description: Option[String] = None,
            metadata: Option[String] = None,
            promoteToMulti: Boolean = false): Unit = {
    val lay = layout(df, geometryCol, name, index, crsWkt, title, description, metadata,
      promoteToMulti)
    RowFileSource.writeParts(df, path, Seq("fgb")) { (rows, open) =>
      // the partition's (feature bytes, envelope), buffered: the header
      // carries the extent and the Hilbert sort needs every envelope
      val feats = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Envelope)]
      val facts = new Facts
      rows.foreach { row =>
        val f = featureBytes(row, lay)
        feats += ((f.bytes, f.env))
        facts.add(f)
      }
      val sorted =
        if (facts.indexed(lay.index)) feats.sortBy { case (_, e) => hilbertOf(e, facts.extent) }
        else feats
      writeFile(open("fgb"), lay, facts, sorted.map(_._2).toArray, sorted.map(_._1.length).toArray) {
        out => sorted.foreach { case (fb, _) => writeSized(out, fb) }
      }
    }
  }
}
