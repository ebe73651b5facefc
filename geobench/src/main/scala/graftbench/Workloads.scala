package graftbench

import java.io.File
import java.nio.ByteBuffer
import java.util.zip.CRC32

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.io.{ByteOrderValues, WKBReader, WKBWriter}

import graft.core.{Geodesy, GeomOps}
import graft.operators.SpatialJoin
import graft.sources.{ArrowIpc, FlatGeobuf, FlatGeobufWriter, GeoParquet}

/** What an op returned: the rows it produced, and a check against the
  * expectation that runs after the op's timer has stopped. */
final case class Result(rowsOut: Long, mismatch: () => Option[String])

/** One benchmark operation. `prepare` runs untimed before `run`. */
final case class Op(name: String, rowsIn: Long, run: () => Result,
                    prepare: () => Unit = () => ())

/** A workload: seeded inputs, a staging step that set-up repeats, and a
  * rotation of ops that the measured window runs whole. */
abstract class Workload(val spark: SparkSession, val work: File, val slots: Int) {
  /** Generated tables, for the input digest and shape. */
  def tables: Seq[(String, Array[Feature])]
  /** Independent expectations from the generated inputs; not graft. */
  def computeExpectations(): Unit
  /** Write the staged files (or cache the batch); returns rows written. */
  def stage(): Long
  def rotation: Seq[Op]
  /** Data files the workload staged or wrote, for `stored_bytes_per_row`. */
  def storedFiles: Seq[File]
  def storedRows: Long
  /** Fixed sample of the workload's own WKB for the core micro-calls. */
  def coreSample: Array[Array[Byte]] = tables.head._2.take(1000).map(_.wkb)

  protected def df(rows: Array[Feature], cols: Seq[StructField], values: Feature => Seq[Any]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq.map(f => Row.fromSeq(values(f))), slots),
      StructType(cols))
}

object Workload {
  def apply(name: String, spark: SparkSession, work: File, seed: Long, slots: Int): Workload = name match {
    case "compute" => new Composite(Seq(new KernelScan(spark, work, seed, slots),
      new SpatialJoinLoad(spark, work, seed, slots)))
    case "geo_io" => new GeoIo(spark, work, seed, slots)
  }
  val names = Seq("compute", "geo_io")

  private[graftbench] def close(actual: Double, expected: Double): Boolean =
    math.abs(actual - expected) <= 1e-9 * math.max(1.0, math.abs(expected))

  private[graftbench] def expect(ok: Boolean, what: => String): Option[String] =
    if (ok) None else Some(what)

  /** Data files under a directory: no checksum or marker files. */
  private[graftbench] def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    }

  private[graftbench] def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  private[graftbench] def envelopeWkt(e: Envelope): String =
    s"POLYGON((${e.getMinX} ${e.getMinY}, ${e.getMaxX} ${e.getMinY}, ${e.getMaxX} ${e.getMaxY}, " +
      s"${e.getMinX} ${e.getMaxY}, ${e.getMinX} ${e.getMinY}))"
}

import Workload._

/** Several workloads' inputs and ops run as one: their rotations are
  * concatenated, so every op still runs once per rotation. */
final class Composite(parts: Seq[Workload]) extends Workload(parts.head.spark, parts.head.work, parts.head.slots) {
  def tables = parts.flatMap(_.tables)
  def computeExpectations(): Unit = parts.foreach(_.computeExpectations())
  def stage(): Long = parts.map(_.stage()).sum
  def rotation: Seq[Op] = parts.flatMap(_.rotation)
  def storedFiles = parts.flatMap(_.storedFiles)
  def storedRows = parts.map(_.storedRows).sum
  override def coreSample: Array[Array[Byte]] = parts.flatMap(_.coreSample).toArray
}

/** Whole-table kernels over one staged GeoParquet file: graft.core and
  * graft.functions do the work, IO is one file and there are no joins. */
final class KernelScan(spark: SparkSession, work: File, seed: Long, slots: Int)
    extends Workload(spark, work, slots) {
  val Rows = 20000
  private val SampleMod = 16
  private val BufferDist = 0.001
  private val SimplifyTol = 0.002
  private val Window = new Envelope(0.0, 10.0, 45.0, 55.0)

  private val table = Inputs.kernelTable(seed, Rows)
  private val path = new File(work, "kernel_scan.parquet")
  def tables = Seq("features" -> table)
  def storedFiles = dataFiles(path)
  def storedRows = Rows.toLong

  private var wkbBytes, windowHits, sampleWindowHits, simplifyBytes = 0L
  private var areaSample, lengthSample = 0.0
  private var extent: Envelope = _

  def computeExpectations(): Unit = {
    val win = PreparedGeometryFactory.prepare(Inputs.gf.toGeometry(Window))
    extent = new Envelope()
    table.foreach { f =>
      wkbBytes += f.wkb.length
      extent.expandToInclude(f.geom.getEnvelopeInternal)
      if (win.intersects(f.geom)) {
        windowHits += 1
        if (f.id % SampleMod == 0) sampleWindowHits += 1
      }
      if (f.id % SampleMod == 0) {
        areaSample += GeomOps.area(GeomOps.buffer(f.wkb, BufferDist))
        simplifyBytes += GeomOps.simplify(f.wkb, SimplifyTol).length
        lengthSample += Geodesy.lengthGeodesic(f.wkb)
      }
    }
  }

  def stage(): Long = {
    delete(path)
    GeoParquet.write(df(table,
      Seq(StructField("id", LongType), StructField("kind", StringType), StructField("geometry", BinaryType)),
      f => Seq(f.id, f.geom.getGeometryType, f.wkb)), path.getPath)
    Rows
  }

  // read after staging: a DataFrame made earlier would list replaced files
  private lazy val t = GeoParquet.read(spark, path.getPath)
  private val sampled = col("id") % SampleMod === 0

  /** count, total and sample sum of one per-row kernel value. */
  private def kernelSum(e: String): Row =
    t.select(col("id"), expr(e).as("v")).agg(count(lit(1)), sum("v"), sum(when(sampled, col("v")))).head()

  def rotation: Seq[Op] = Seq(
    Op("scan_only", Rows, () => {
      val r = t.agg(count(lit(1)), sum(length(col("geometry")))).head()
      Result(r.getLong(0), () => expect(r.getLong(0) == Rows && r.getLong(1) == wkbBytes,
        s"scan_only: (${r.getLong(0)}, ${r.getLong(1)}) != ($Rows, $wkbBytes)"))
    }),
    Op("area_buffer", Rows, () => {
      val r = kernelSum(s"ST_Area(ST_Buffer(geometry, $BufferDist))")
      Result(r.getLong(0), () => expect(r.getLong(0) == Rows && close(r.getDouble(2), areaSample),
        s"area_buffer: sample sum ${r.getDouble(2)} != $areaSample"))
    }),
    Op("simplify", Rows, () => {
      val r = kernelSum(s"length(ST_Simplify(geometry, $SimplifyTol))")
      Result(r.getLong(0), () => expect(r.getLong(0) == Rows && r.getLong(2) == simplifyBytes,
        s"simplify: sample bytes ${r.getLong(2)} != $simplifyBytes"))
    }),
    Op("geodesic_length", Rows, () => {
      val r = kernelSum("ST_LengthGeodesic(geometry)")
      Result(r.getLong(0), () => expect(r.getLong(0) == Rows && close(r.getDouble(2), lengthSample),
        s"geodesic_length: sample sum ${r.getDouble(2)} != $lengthSample"))
    }),
    Op("window_filter", Rows, () => {
      val r = t.where(expr(s"ST_Intersects(geometry, ST_GeomFromWKT('${envelopeWkt(Window)}'))"))
        .agg(count(lit(1)), sum(when(sampled, 1L).otherwise(0L))).head()
      Result(r.getLong(0), () => expect(r.getLong(0) == windowHits && r.getLong(1) == sampleWindowHits,
        s"window_filter: (${r.getLong(0)}, ${r.getLong(1)}) != ($windowHits, $sampleWindowHits)"))
    }),
    Op("extent_agg", Rows, () => {
      val e = t.agg(expr("ST_Extent_Agg(geometry)")).head().getStruct(0)
      val got = new Envelope(e.getDouble(0), e.getDouble(2), e.getDouble(1), e.getDouble(3))
      Result(Rows, () => expect(got == extent, s"extent_agg: $got != $extent"))
    }))
}

/** Points with hotspot skew joined against parcels and zones: planning
  * and shuffles set the time; kernels run only in the refine step. */
final class SpatialJoinLoad(spark: SparkSession, work: File, seed: Long, slots: Int)
    extends Workload(spark, work, slots) {
  val Points = 50000
  private val ParcelSide = 100
  private val ZoneSide = 8
  private val SampleMod = 50
  private val GridCell = 2.0
  private val DWithin = 0.05

  private val pts = Inputs.points(seed, Points)
  private val parcels = Inputs.parcels(seed, ParcelSide)
  private val zones = Inputs.zones(seed, ZoneSide)
  def tables = Seq("points" -> pts, "parcels" -> parcels, "zones" -> zones)
  override def coreSample: Array[Array[Byte]] =
    (pts.take(500) ++ parcels.take(400) ++ zones.take(64)).map(_.wkb)

  private val dirs = Seq("points" -> "pgeom", "parcels" -> "cgeom", "zones" -> "zgeom")
    .map { case (n, g) => (n, g, new File(work, s"spatial_join_$n.parquet")) }
  def storedFiles = dirs.flatMap(d => dataFiles(d._3))
  def storedRows = (pts.length + parcels.length + zones.length).toLong

  def stage(): Long = {
    val byName = tables.toMap
    dirs.foreach { case (n, g, dir) =>
      delete(dir)
      val id = g.head + "id"
      GeoParquet.write(df(byName(n), Seq(StructField(id, LongType), StructField(g, BinaryType)),
        f => Seq(f.id, f.wkb)), dir.getPath, geometryColumn = g)
    }
    storedRows
  }

  private lazy val Seq(p, c, z) = dirs.map { case (_, g, dir) =>
    GeoParquet.read(spark, dir.getPath).select(g.head + "id", g) }

  /** (pairs, digest) over sampled left ids, for each op. */
  private val expected = mutable.Map.empty[String, (Long, Long)]

  /** Brute force over every right row, pruned by exact envelope distance. */
  private def pairs(left: Iterator[Feature], right: Array[Feature], dist: Double)
                   (hit: (Geometry, Geometry) => Boolean): (Long, Long) = {
    val envs = right.map(_.geom.getEnvelopeInternal)
    var n, d = 0L
    left.foreach { l =>
      val le = l.geom.getEnvelopeInternal
      var j = 0
      while (j < right.length) {
        if (envs(j).distance(le) <= dist && hit(l.geom, right(j).geom)) {
          n += 1; d += l.id * 1000003L + right(j).id
        }
        j += 1
      }
    }
    (n, d)
  }

  def computeExpectations(): Unit = {
    def sample = pts.iterator.filter(_.id % SampleMod == 0)
    expected("pip_broadcast") = pairs(sample, zones, 0.0)((pt, zn) => zn.contains(pt))
    expected("grid_join") = pairs(sample, parcels, 0.0)(_.intersects(_))
    expected("dwithin") = pairs(sample, parcels, DWithin)(_.isWithinDistance(_, DWithin))
  }

  /** rows, sampled pairs and their digest of a join result. */
  private def pairAgg(joined: DataFrame, name: String, lid: String, rid: String): Result = {
    val s = col(lid) % SampleMod === 0
    val r = joined.agg(count(lit(1)), sum(when(s, 1L).otherwise(0L)),
      sum(when(s, col(lid) * 1000003L + col(rid)).otherwise(0L))).head()
    val got = (r.getLong(1), r.getLong(2))
    Result(r.getLong(0), () => expect(got == expected(name), s"$name: sample $got != ${expected(name)}"))
  }

  def rotation: Seq[Op] = Seq(
    Op("pip_broadcast", pts.length + zones.length, () =>
      pairAgg(SpatialJoin.broadcast(p, z, "pgeom", "zgeom", "contains"), "pip_broadcast", "pid", "zid")),
    Op("grid_join", pts.length + parcels.length, () =>
      pairAgg(SpatialJoin.grid(p, c, "pgeom", "cgeom", GridCell), "grid_join", "pid", "cid")),
    Op("dwithin", pts.length + parcels.length, () =>
      pairAgg(p.join(c, expr(s"ST_DWithin(pgeom, cgeom, $DWithin)")), "dwithin", "pid", "cid")))
}

/** Writes and reads of one batch in three formats: graft.sources sets the
  * time in both directions. Selective reads measure per-action fixed work
  * (planning, footer and index reads, pruning); full reads measure decode. */
final class GeoIo(spark: SparkSession, work: File, seed: Long, slots: Int)
    extends Workload(spark, work, slots) {
  val Rows = 12000
  private val batch = Inputs.ioBatch(seed, Rows)
  def tables = Seq("batch" -> batch)
  def storedRows = Rows.toLong

  private val formats = Seq("geoparquet", "flatgeobuf", "arrowipc")
  private def dir(fmt: String) = new File(work, s"geo_io_$fmt")
  def storedFiles = formats.flatMap(f => dataFiles(dir(f)))
  def bytesOnDisk(fmt: String): Long = dataFiles(dir(fmt)).map(_.length).sum

  private val centre = (3.3, 46.7)
  private def window(areaShare: Double): Envelope = {
    val half = math.sqrt(areaShare * Inputs.IoRegion.getArea) / 2
    new Envelope(centre._1 - half, centre._1 + half, centre._2 - half, centre._2 + half)
  }
  /** `full` reads the whole file with no window: its cost is decode. */
  private val windows: Seq[(String, Option[Envelope])] =
    Seq("tiny" -> Some(window(0.001)), "small" -> Some(window(0.01)), "full" -> None)

  private val schema = Seq(StructField("id", LongType), StructField("name", StringType),
    StructField("value", DoubleType), StructField("geometry", BinaryType))
  private def name(id: Long) = s"poi-$id"
  private def value(id: Long) = id * 0.25

  private var cached: DataFrame = _

  def stage(): Long = {
    if (cached != null) cached.unpersist(blocking = true)
    cached = df(batch, schema, f => Seq(f.id, name(f.id), value(f.id), f.wkb)).cache()
    cached.count()
    0L
  }

  /** CRC-32 sum over (id, name, value, geometry re-encoded as 2D LE WKB). */
  private def contentDigest(rows: Iterator[(Long, String, Double, Geometry)]): (Long, Long) = {
    val wkb = new WKBWriter(2, ByteOrderValues.LITTLE_ENDIAN)
    rows.foldLeft((0L, 0L)) { case ((n, d), (id, nm, v, g)) =>
      val crc = new CRC32()
      crc.update(ByteBuffer.allocate(16).putLong(id).putDouble(v).array())
      crc.update(nm.getBytes("UTF-8")); crc.update(wkb.write(g))
      (n + 1, d + crc.getValue)
    }
  }

  private var expected = Map.empty[(String, String), (Long, Long)]

  /** GeoParquet and the ArrowIpc filter refine exactly; FlatGeobuf's
    * indexed read returns features whose envelope meets the window. */
  def computeExpectations(): Unit = expected = (for {
    fmt <- formats; (w, env) <- windows
  } yield {
    val hit: Feature => Boolean = env match {
      case None => _ => true
      case Some(e) if fmt == "flatgeobuf" => f => f.geom.getEnvelopeInternal.intersects(e)
      case Some(e) => val rect = Inputs.gf.toGeometry(e); f => rect.intersects(f.geom)
    }
    (fmt, w) -> contentDigest(batch.iterator.filter(hit).map(f => (f.id, name(f.id), value(f.id), f.geom)))
  }).toMap

  private def write(fmt: String): Unit = fmt match {
    case "geoparquet" => GeoParquet.write(cached, dir(fmt).getPath)
    case "flatgeobuf" => FlatGeobufWriter.write(cached, dir(fmt).getPath)
    case "arrowipc" => ArrowIpc.write(cached, dir(fmt).getPath)
  }

  private def read(fmt: String, env: Option[Envelope]): DataFrame = {
    val box = env.map(e => (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
    val df = fmt match {
      case "geoparquet" => GeoParquet.read(spark, dir(fmt).getPath, bbox = box)
      case "flatgeobuf" => FlatGeobuf.read(spark, dir(fmt).getPath, bbox = box)
      case "arrowipc" =>
        // ArrowIpc.read takes no window; a caller filters the frame
        val all = ArrowIpc.read(spark, dir(fmt).getPath)
        box.fold(all) { case (x0, y0, x1, y1) =>
          all.where(expr(s"ST_Intersects(geometry, ST_MakeEnvelope($x0, $y0, $x1, $y1))")) }
    }
    df.select("id", "name", "value", "geometry")
  }

  def rotation: Seq[Op] = {
    val writes = formats.map { fmt =>
      Op(s"write.$fmt", Rows, () => {
        write(fmt)
        Result(Rows, () => expect(dataFiles(dir(fmt)).nonEmpty, s"write.$fmt: no data files"))
      }, prepare = () => delete(dir(fmt)))
    }
    val reads = for (fmt <- formats; (w, env) <- windows) yield
      Op(s"read.$fmt.$w", Rows, () => {
        val rows = read(fmt, env).collect()
        Result(rows.length, () => {
          val reader = new WKBReader(Inputs.gf)
          val got = contentDigest(rows.iterator.map(r =>
            (r.getLong(0), r.getString(1), r.getDouble(2), reader.read(r.getAs[Array[Byte]](3)))))
          expect(got == expected((fmt, w)), s"read.$fmt.$w: (rows, digest) $got != ${expected((fmt, w))}")
        })
      })
    writes ++ reads
  }
}
