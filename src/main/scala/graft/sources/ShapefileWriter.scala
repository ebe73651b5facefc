package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types.{BooleanType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField}
import org.locationtech.jts.geom._

import graft.core.GeomOps

/** ESRI Shapefile WRITER — the reference ships a reader only
  * (rust/geoarrow-old/src/io/shapefile/reader.rs); writing closes the one
  * read-write asymmetry left in the source matrix (EXCEEDS). Layout per
  * the public ESRI whitepaper ("ESRI Shapefile Technical Description",
  * 1998): .shp record stream (big-endian record headers, little-endian
  * payloads), .shx fixed-width offset index, .dbf attribute table
  * (dBASE III), optional .prj with a verbatim CRS WKT.
  *
  * One file SET per partition (`part-NNNNN.shp/.shx/.dbf[/.prj]`), written
  * through [[RowFileSource.writeParts]]: a write replaces the directory's
  * earlier part-file sets, sidecars included; `df.coalesce(1)` for a
  * single set. Each partition buffers its rows (the header carries record count
  * and bbox, and .dbf fields size themselves from the data), so the
  * memory bound is one partition — size partitions accordingly.
  *
  * Contract (all loud, nothing silent):
  *  - one geometry FAMILY per partition (point / multipoint / polyline /
  *    polygon; Multi* shares its family's shape type via parts) and one
  *    dimensionality (XY / XYZ / XYM / XYZM) — the format's header
  *    declares a single shape type;
  *  - NULL geometries write as null shapes (type 0; they read back as
  *    empty GeometryCollection, the whitepaper's "no geometric data");
  *    EMPTY geometries are refused (the format cannot express a typed
  *    empty);
  *  - polygon rings re-orient on write (shells CW, holes CCW, the spec's
  *    disambiguation rule); hole membership is containment-based on read,
  *    so nested-shell topologies that rule cannot express are the
  *    format's own limitation;
  *  - properties: String → C (sized to the longest value, ≤ 254 bytes,
  *    ASCII only), Int/Long → N (sized to the widest value; ≤ 9 digits
  *    reads back Int, wider reads back Long), Double/Float → F(25,17)
  *    (shortest-roundtrip decimal text, value-exact through the reader),
  *    Boolean → L, anything else → C of `toString`. NULL values write as
  *    blanks (the dBASE convention; they read back NULL). Column names
  *    longer than dBASE's 10 characters TRUNCATE with numbered dedup
  *    suffixes (the ogr2ogr "laundering" convention — the format limit
  *    would otherwise refuse nearly every real schema) with a logged
  *    warning; non-ASCII names refuse loudly, driver-side. */
object ShapefileWriter {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val Nodata = -1.0e39 // below the ESRI -1e38 "no data" threshold

  /** dBASE-legal field names: ≤ 10 ASCII chars, unique after truncation
    * (collisions dedup with _1.. suffixes, ogr2ogr-style). */
  private def launderNames(names: Seq[String]): Seq[String] = {
    names.foreach(n => require(n.nonEmpty && n.forall(_ < 128),
      s"shapefile .dbf field names must be ASCII, got '$n'"))
    val used = scala.collection.mutable.Set.empty[String]
    names.map { n =>
      var c = n.take(10)
      var k = 1
      while (used.contains(c.toLowerCase)) {
        val suffix = s"_$k"
        c = n.take(10 - suffix.length) + suffix
        k += 1
      }
      used += c.toLowerCase
      if (c != n) log.warn(s"shapefile .dbf: field name '$n' laundered to '$c' " +
        "(dBASE limits names to 10 chars)")
      c
    }
  }

  def write(df: DataFrame, path: String, geometryCol: String = "geometry",
            prjWkt: Option[String] = None): Unit = {
    val schema = df.schema
    val geomIdx = schema.fieldIndex(geometryCol)
    val laundered = launderNames(
      schema.fields.zipWithIndex.filterNot(_._2 == geomIdx).map(_._1.name).toSeq)
    val propFields = schema.fields.zipWithIndex.filter(_._2 != geomIdx).map(_._1)
      .zip(laundered).map { case (f, n) => f.copy(name = n) }
    val propIdxs = schema.fields.indices.filterNot(_ == geomIdx).toArray
    // the .dbf formats external values (String, java.sql.Date, BigDecimal,
    // ...); converting a cell also copies it out of the reused Catalyst row
    val toScala = propFields.map(f => CatalystTypeConverters.createToScalaConverter(f.dataType))
    RowFileSource.writeParts(df, path, Seq("shp", "shx", "dbf", "prj")) { (rows, open) =>
      val geoms = scala.collection.mutable.ArrayBuffer.empty[Geometry]
      val props = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
      rows.foreach { row =>
        geoms += (if (row.isNullAt(geomIdx)) null else GeomOps.read(row.getBinary(geomIdx)))
        props += Array.tabulate[Any](propIdxs.length) { k =>
          val i = propIdxs(k)
          if (row.isNullAt(i)) null else toScala(k)(row.get(i, propFields(k).dataType))
        }
      }
      val (shpBytes, shxBytes) = encodeShp(geoms.toSeq)
      open("shp").write(shpBytes)
      open("shx").write(shxBytes)
      open("dbf").write(encodeDbf(propFields.toSeq, props.toSeq))
      prjWkt.foreach(w => open("prj").write(w.getBytes("ASCII")))
    }
  }

  // ── .shp / .shx ───────────────────────────────────────────────────────

  /** family base type (1 point, 8 multipoint, 3 polyline, 5 polygon) */
  private def familyOf(g: Geometry): Int = g match {
    case _: Point => 1
    case _: MultiPoint => 8
    case _: LineString | _: MultiLineString => 3
    case _: Polygon | _: MultiPolygon => 5
    case other => throw new IllegalArgumentException(
      s"shapefile: unsupported geometry type ${other.getGeometryType} " +
        "(point/multipoint/(multi)linestring/(multi)polygon only)")
  }

  private def encodeShp(geoms: Seq[Geometry]): (Array[Byte], Array[Byte]) = {
    geoms.foreach(g => require(g == null || !g.isEmpty,
      "shapefile: EMPTY geometries are not representable (write NULL instead)"))
    val nonNull = geoms.filter(_ != null)
    val families = nonNull.map(familyOf).distinct
    require(families.length <= 1,
      s"shapefile: one geometry family per file, got base types $families")
    val hasZ = nonNull.exists(GeomOps.hasZ)
    val hasM = nonNull.exists(GeomOps.hasM)
    require(nonNull.forall(g => GeomOps.hasZ(g) == hasZ && GeomOps.hasM(g) == hasM),
      "shapefile: one dimensionality (XY/XYZ/XYM/XYZM) per file")
    val shapeType =
      if (families.isEmpty) 0
      else families.head + (if (hasZ) 10 else if (hasM) 20 else 0)
    val payloads = geoms.map(g => if (g == null) nullShape() else shape(g, shapeType, hasZ, hasM))
    val totalLen = 100 + payloads.map(8 + _.length).sum
    val shp = ByteBuffer.allocate(totalLen)
    val env = new Envelope()
    nonNull.foreach(g => env.expandToInclude(g.getEnvelopeInternal))
    header(shp, totalLen, shapeType, env)
    val shx = ByteBuffer.allocate(100 + 8 * geoms.length)
    header(shx, 100 + 8 * geoms.length, shapeType, env)
    shx.order(ByteOrder.BIG_ENDIAN)
    var recNo = 1
    var off = 100
    payloads.foreach { pl =>
      shp.order(ByteOrder.BIG_ENDIAN)
      shp.position(off)
      shp.putInt(recNo); shp.putInt(pl.length / 2)
      shp.put(pl)
      shx.position(100 + 8 * (recNo - 1))
      shx.putInt(off / 2); shx.putInt(pl.length / 2)
      off += 8 + pl.length
      recNo += 1
    }
    (shp.array(), shx.array())
  }

  private def header(bb: ByteBuffer, lenBytes: Int, shapeType: Int, env: Envelope): Unit = {
    bb.order(ByteOrder.BIG_ENDIAN)
    bb.putInt(0, 9994)
    bb.putInt(24, lenBytes / 2)
    bb.order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(28, 1000)
    bb.putInt(32, shapeType)
    val (x0, y0, x1, y1) =
      if (env.isNull) (0.0, 0.0, 0.0, 0.0)
      else (env.getMinX, env.getMinY, env.getMaxX, env.getMaxY)
    bb.putDouble(36, x0); bb.putDouble(44, y0)
    bb.putDouble(52, x1); bb.putDouble(60, y1)
    // z/m ranges left 0 — optional per the whitepaper, readers (ours
    // included) take ranges from the per-record bands
  }

  private def nullShape(): Array[Byte] = {
    val bb = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(0); bb.array()
  }

  /** little-endian shape payload (without the record header) */
  private def shape(g: Geometry, shapeType: Int, z: Boolean, m: Boolean): Array[Byte] = {
    def mOf(c: Coordinate): Double = { val v = c.getM; if (v.isNaN) Nodata else v }
    g match {
      case p: Point =>
        val c = p.getCoordinate
        val bb = ByteBuffer.allocate(4 + 16 + (if (z) 8 else 0) + (if (m) 8 else 0))
          .order(ByteOrder.LITTLE_ENDIAN)
        bb.putInt(shapeType); bb.putDouble(c.x); bb.putDouble(c.y)
        if (z) bb.putDouble(c.getZ)
        if (m) bb.putDouble(mOf(c))
        bb.array()
      case _ =>
        // multipoint / polyline / polygon share the bbox + [parts] +
        // points [+ z band] [+ m band] layout
        val (partStarts, coords) = partsOf(g)
        val n = coords.length
        val hasParts = (shapeType % 10) != 8
        val size = 4 + 32 + 4 + (if (hasParts) 4 + 4 * partStarts.length else 0) +
          16 * n + (if (z) 16 + 8 * n else 0) + (if (m) 16 + 8 * n else 0)
        val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
        bb.putInt(shapeType)
        val e = g.getEnvelopeInternal
        bb.putDouble(e.getMinX); bb.putDouble(e.getMinY)
        bb.putDouble(e.getMaxX); bb.putDouble(e.getMaxY)
        if (hasParts) { bb.putInt(partStarts.length); bb.putInt(n) }
        else bb.putInt(n)
        if (hasParts) partStarts.foreach(bb.putInt)
        coords.foreach { c => bb.putDouble(c.x); bb.putDouble(c.y) }
        def band(v: Coordinate => Double): Unit = {
          val vs = coords.map(v)
          val real = vs.filterNot(x => x.isNaN || x <= -1e38)
          bb.putDouble(if (real.isEmpty) 0.0 else real.min)
          bb.putDouble(if (real.isEmpty) 0.0 else real.max)
          vs.foreach(bb.putDouble)
        }
        if (z) band(_.getZ)
        if (m) band(mOf)
        bb.array()
    }
  }

  /** part start offsets + concatenated coordinates; polygon rings
    * re-orient to the spec (shells CW, holes CCW) */
  private def partsOf(g: Geometry): (Array[Int], Array[Coordinate]) = {
    def ringCoords(r: LineString, wantCCW: Boolean): Array[Coordinate] = {
      val cs = r.getCoordinates
      val isCCW = org.locationtech.jts.algorithm.Orientation.isCCW(r.getCoordinateSequence)
      if (isCCW == wantCCW) cs else cs.reverse
    }
    val parts: Seq[Array[Coordinate]] = g match {
      case mp: MultiPoint =>
        Seq((0 until mp.getNumGeometries)
          .map(i => mp.getGeometryN(i).getCoordinate).toArray)
      case l: LineString => Seq(l.getCoordinates)
      case ml: MultiLineString =>
        (0 until ml.getNumGeometries).map(i =>
          ml.getGeometryN(i).asInstanceOf[LineString].getCoordinates)
      case p: Polygon =>
        ringCoords(p.getExteriorRing, wantCCW = false) +:
          (0 until p.getNumInteriorRing).map(i =>
            ringCoords(p.getInteriorRingN(i), wantCCW = true))
      case mp: MultiPolygon =>
        (0 until mp.getNumGeometries).flatMap { i =>
          val p = mp.getGeometryN(i).asInstanceOf[Polygon]
          ringCoords(p.getExteriorRing, wantCCW = false) +:
            (0 until p.getNumInteriorRing).map(j =>
              ringCoords(p.getInteriorRingN(j), wantCCW = true))
        }
      case other => throw new IllegalArgumentException(other.getGeometryType)
    }
    val starts = parts.scanLeft(0)(_ + _.length).dropRight(1).toArray
    (starts, parts.flatten.toArray)
  }

  // ── .dbf ──────────────────────────────────────────────────────────────

  private def encodeDbf(fields: Seq[StructField], rows: Seq[Array[Any]]): Array[Byte] = {
    // adaptive field sizing from the buffered data
    case class F(name: String, typ: Char, len: Int, dec: Int, fmt: Any => String)
    def asciiLen(s: String): Int = {
      require(s.forall(_ < 128),
        s"shapefile .dbf is ASCII; non-ASCII value: ${s.take(40)}")
      s.length
    }
    val fs = fields.zipWithIndex.map { case (sf, i) =>
      // names pre-laundered driver-side by write()
      def maxLen(f: Any => String): Int =
        rows.iterator.map(r => if (r(i) == null) 0 else asciiLen(f(r(i)))).maxOption.getOrElse(0)
      sf.dataType match {
        case IntegerType | LongType =>
          val w = math.max(1, maxLen(_.toString))
          F(sf.name, 'N', w, 0, _.toString)
        case DoubleType => F(sf.name, 'F', 25, 17, _.toString)
        case FloatType => F(sf.name, 'F', 25, 17, v => v.asInstanceOf[Float].toDouble.toString)
        case BooleanType => F(sf.name, 'L', 1, 0, v => if (v.asInstanceOf[Boolean]) "T" else "F")
        case StringType =>
          val w = math.max(1, maxLen(_.asInstanceOf[String]))
          require(w <= 254, s"shapefile .dbf C field '${sf.name}' needs $w bytes (max 254)")
          F(sf.name, 'C', w, 0, _.asInstanceOf[String])
        case _ =>
          val w = math.max(1, maxLen(_.toString))
          require(w <= 254, s"shapefile .dbf field '${sf.name}' needs $w bytes (max 254)")
          F(sf.name, 'C', w, 0, _.toString)
      }
    }
    val headerSize = 32 + 32 * fs.length + 1
    val recordSize = 1 + fs.map(_.len).sum
    // both live in unsigned 16-bit header slots (putShort stores the right
    // bit pattern up to 0xFFFF; readers decode `& 0xFFFF`) — beyond that
    // every reader misparses the table, so refuse loudly
    require(headerSize <= 0xFFFF, s"shapefile .dbf header $headerSize bytes " +
      s"exceeds the format's 16-bit limit (${fs.length} fields)")
    require(recordSize <= 0xFFFF, s"shapefile .dbf record $recordSize bytes " +
      "exceeds the format's 16-bit limit; drop or narrow columns")
    val bb = ByteBuffer.allocate(headerSize + recordSize * rows.length + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(0x03.toByte)
    bb.put(95.toByte); bb.put(7.toByte); bb.put(26.toByte) // fixed date: deterministic bytes
    bb.putInt(rows.length)
    bb.putShort(headerSize.toShort)
    bb.putShort(recordSize.toShort)
    bb.position(32)
    fs.foreach { f =>
      val name = f.name.getBytes("ASCII")
      val pos0 = bb.position()
      bb.put(name)
      bb.position(pos0 + 11) // name zero-padded to 11
      bb.put(f.typ.toByte)
      bb.position(pos0 + 16)
      bb.put(f.len.toByte)
      bb.put(f.dec.toByte)
      bb.position(pos0 + 32)
    }
    bb.put(0x0D.toByte)
    rows.foreach { r =>
      bb.put(' '.toByte) // deletion flag
      fs.zipWithIndex.foreach { case (f, i) =>
        val pos0 = bb.position()
        if (r(i) != null) {
          val s = f.fmt(r(i))
          require(s.length <= f.len, s"dbf overflow in '${f.name}': $s")
          bb.put(s.getBytes("ASCII"))
        }
        // blank-pad (nulls stay all-blank → read back NULL)
        while (bb.position() < pos0 + f.len) bb.put(' '.toByte)
      }
    }
    bb.put(0x1A.toByte) // EOF
    bb.array()
  }
}
