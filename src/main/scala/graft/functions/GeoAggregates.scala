package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.Aggregator
import org.locationtech.jts.operation.union.UnaryUnionOp

import graft.core.GeomOps

/** Geometry aggregates as Spark `Aggregator`s — true partial aggregation
  * (map-side combine on every executor, tiny merge buffers over the shuffle),
  * unlike a `collect_list`-then-reduce which ships every row to one task.
  *
  * `ExtentAgg` mirrors the reference's `BoundingRect` accumulator
  * (rust/geoparquet/src/total_bounds.rs:18-175): `reduce` = per-value
  * `update`, `merge` = rect-union of two partial rects. `UnionAgg` is the
  * cascaded-union aggregate (`ST_Union_Agg`): partials buffer up to
  * [[UnionAgg.FanIn]] geometries, then collapse through JTS UnaryUnionOp
  * (cascaded union) so work stays O(n log n) and the shuffled state is one
  * WKB blob per group per partition.
  */
object GeoAggregates {

  case class BBox(xmin: Double, ymin: Double, xmax: Double, ymax: Double)

  object ExtentAgg extends Aggregator[Array[Byte], BBox, Option[BBox]] {
    private val empty = BBox(Double.PositiveInfinity, Double.PositiveInfinity,
                             Double.NegativeInfinity, Double.NegativeInfinity)
    def zero: BBox = empty
    def reduce(b: BBox, wkb: Array[Byte]): BBox = {
      if (wkb == null) return b
      val e = GeomOps.read(wkb).getEnvelopeInternal
      if (e.isNull) b
      else BBox(math.min(b.xmin, e.getMinX), math.min(b.ymin, e.getMinY),
                math.max(b.xmax, e.getMaxX), math.max(b.ymax, e.getMaxY))
    }
    def merge(a: BBox, b: BBox): BBox =
      BBox(math.min(a.xmin, b.xmin), math.min(a.ymin, b.ymin),
           math.max(a.xmax, b.xmax), math.max(a.ymax, b.ymax))
    // Option output → NULL struct for all-null/empty groups (a bare null
    // trips the non-nullable top-level product assertion)
    def finish(r: BBox): Option[BBox] = if (r.xmin.isInfinite) None else Some(r)
    def bufferEncoder: Encoder[BBox] = Encoders.product[BBox]
    def outputEncoder: Encoder[Option[BBox]] = Encoders.product[Option[BBox]]
  }

  object UnionAgg extends Aggregator[Array[Byte], Seq[(Int, Array[Byte])], Array[Byte]] {
    /** Raw rows per leaf union. The map-side buffer is a BINARY COUNTER
      * of size-classed partial unions (class k ≈ FanIn·2^k rows merged):
      * each row's geometry passes through O(log n) overlay calls instead
      * of the accumulate-into-one-blob shape that re-unions the whole
      * partial every FanIn rows — O(n²/FanIn) overlay work per partition,
      * the tail that breaks at extreme group sizes. Reducer-side `merge`
      * only concatenates (bounded by partitions × O(log) blobs);
      * `finish` runs ONE cascaded union over all blobs. */
    final val FanIn = 32
    def zero: Seq[(Int, Array[Byte])] = Vector.empty
    // Dedupe raw singles on entry: tile/grid workloads repeat a few
    // distinct shapes per group; the scan is ≤ FanIn byte-compares,
    // noise next to one overlay op.
    def reduce(buf: Seq[(Int, Array[Byte])], wkb: Array[Byte]): Seq[(Int, Array[Byte])] =
      if (wkb == null ||
          buf.exists(e => e._1 == -1 && java.util.Arrays.equals(e._2, wkb))) buf
      else normalize(buf :+ ((-1, wkb)))
    // concatenate; only normalize when the blob list grows past what a
    // few-thousand-partition cluster contributes (keeps reducer-side
    // merges O(1) in the common case, state bounded in the extreme one)
    def merge(a: Seq[(Int, Array[Byte])], b: Seq[(Int, Array[Byte])]): Seq[(Int, Array[Byte])] = {
      val c = a ++ b
      if (c.length <= 1024) c else normalize(c)
    }
    def finish(buf: Seq[(Int, Array[Byte])]): Array[Byte] =
      if (buf.isEmpty) null else unionAll(buf.map(_._2))
    private def normalize(buf: Seq[(Int, Array[Byte])]): Seq[(Int, Array[Byte])] = {
      var cur = buf
      var done = false
      while (!done) {
        if (cur.count(_._1 == -1) >= FanIn) {
          val (raw, blobs) = cur.partition(_._1 == -1)
          cur = blobs :+ ((0, unionAll(raw.map(_._2))))
        } else {
          cur.groupBy(_._1).find { case (cls, g) => cls >= 0 && g.length >= 2 } match {
            case Some((cls, g)) =>
              val rest = cur.filterNot(e => e._1 == cls && g.take(2).exists(_ eq e))
              cur = rest :+ ((cls + 1, unionAll(g.take(2).map(_._2))))
            case None => done = true
          }
        }
      }
      cur
    }
    private def unionAll(buf: Seq[Array[Byte]]): Array[Byte] = {
      // union is idempotent: drop byte-identical geometries before the
      // cascade (tile/grid workloads repeat a few shapes millions of times)
      val seen = new java.util.HashSet[java.nio.ByteBuffer]()
      val distinct = buf.filter(b => seen.add(java.nio.ByteBuffer.wrap(b)))
      if (distinct.length == 1) return distinct.head
      val geoms = new java.util.ArrayList[org.locationtech.jts.geom.Geometry](distinct.length)
      distinct.foreach(b => geoms.add(GeomOps.read(b)))
      GeomOps.write(UnaryUnionOp.union(geoms))
    }
    def bufferEncoder: Encoder[Seq[(Int, Array[Byte])]] =
      Encoders.kryo[Seq[(Int, Array[Byte])]]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  case class BBox3(xmin: Double, ymin: Double, zmin: Double,
                   xmax: Double, ymax: Double, zmax: Double)

  /** `ST_3DExtent_Agg` — the PostGIS ST_3DExtent: the XYZ bounding box
    * as a map-side-combined accumulator. Z-less coordinates contribute
    * only X/Y; a group with NO Z anywhere answers zmin = zmax = 0.0,
    * the PostGIS BOX3D convention for 2D input. */
  object Extent3DAgg extends Aggregator[Array[Byte], BBox3, Option[BBox3]] {
    private val inf = Double.PositiveInfinity
    private val empty = BBox3(inf, inf, inf, -inf, -inf, -inf)
    def zero: BBox3 = empty
    def reduce(b: BBox3, wkb: Array[Byte]): BBox3 = {
      if (wkb == null) return b
      val g = GeomOps.read(wkb)
      if (g.isEmpty) return b
      var r = b
      g.getCoordinates.foreach { c =>
        val z = c.getZ
        r = BBox3(math.min(r.xmin, c.x), math.min(r.ymin, c.y),
          if (z.isNaN) r.zmin else math.min(r.zmin, z),
          math.max(r.xmax, c.x), math.max(r.ymax, c.y),
          if (z.isNaN) r.zmax else math.max(r.zmax, z))
      }
      r
    }
    def merge(a: BBox3, b: BBox3): BBox3 =
      BBox3(math.min(a.xmin, b.xmin), math.min(a.ymin, b.ymin),
            math.min(a.zmin, b.zmin),
            math.max(a.xmax, b.xmax), math.max(a.ymax, b.ymax),
            math.max(a.zmax, b.zmax))
    def finish(r: BBox3): Option[BBox3] =
      if (r.xmin.isInfinite) None
      else if (r.zmin.isInfinite) Some(r.copy(zmin = 0.0, zmax = 0.0))
      else Some(r)
    def bufferEncoder: Encoder[BBox3] = Encoders.product[BBox3]
    def outputEncoder: Encoder[Option[BBox3]] = Encoders.product[Option[BBox3]]
  }

  /** `ST_CoverageUnion_Agg`: union rows that form a valid polygonal
    * COVERAGE (vertex-matched shared edges, no overlaps/gaps — parcel
    * fabrics, admin tessellations, tile grids). JTS CoverageUnion
    * dissolves interior edges by pure boundary matching — linear in edge
    * count, no overlay noding — where the cascaded `ST_Union_Agg` pays
    * O(n log n) overlay work. Mergeability is what licenses the partial
    * aggregate: CoverageUnion preserves every EXTERIOR edge bit-exact, so
    * the partial union of any row subset still vertex-matches its
    * neighbors in other partitions and the merge step is again a plain
    * coverage union. Per-partition state collapses every [[FanIn]] rows,
    * so shuffled state is one WKB blob per group per partition. Input
    * must be a valid coverage (ST_CoverageInvalidEdges to audit);
    * non-coverage input gives undefined linework, same as PostGIS. */
  object CoverageUnionAgg
      extends Aggregator[Array[Byte], Seq[(Int, Array[Byte])], Array[Byte]] {
    /** Rows per leaf blob. Collapse is a BINARY-COUNTER merge over
      * size-classed blobs (class k ≈ FanIn·2^k rows): each row is
      * re-dissolved only O(log n) times and the buffer holds O(log n)
      * blobs — the accumulate-into-one-blob alternative re-unions the
      * whole partial every FanIn rows, O(n²/FanIn) edge work per
      * partition, which is what breaks at 100-TB group sizes. */
    final val FanIn = 64
    def zero: Seq[(Int, Array[Byte])] = Vector.empty
    // raw rows enter as class -1 singles; FanIn of them dissolve into a
    // class-0 leaf; equal-class blobs cascade-merge like carry bits
    def reduce(buf: Seq[(Int, Array[Byte])], wkb: Array[Byte]): Seq[(Int, Array[Byte])] =
      if (wkb == null) buf else normalize(buf :+ ((-1, wkb)))
    // merge CONCATENATES: partials per group are bounded by the
    // partition count × O(log) blobs each, and CoverageUnion is linear in
    // total edges, so ONE union call at finish beats re-normalizing (and
    // re-serializing the big blobs) on every reducer-side merge step.
    // Past ~1024 blobs (a many-thousand-partition cluster) normalize to
    // keep the shuffled state bounded.
    def merge(a: Seq[(Int, Array[Byte])], b: Seq[(Int, Array[Byte])]): Seq[(Int, Array[Byte])] = {
      val c = a ++ b
      if (c.length <= 1024) c else normalize(c)
    }
    def finish(buf: Seq[(Int, Array[Byte])]): Array[Byte] =
      if (buf.isEmpty) null else unionAll(buf.map(_._2))
    private def normalize(buf: Seq[(Int, Array[Byte])]): Seq[(Int, Array[Byte])] = {
      var cur = buf
      var done = false
      while (!done) {
        val singles = cur.count(_._1 == -1)
        if (singles >= FanIn) {
          val (raw, blobs) = cur.partition(_._1 == -1)
          cur = blobs :+ ((0, unionAll(raw.map(_._2))))
        } else {
          cur.groupBy(_._1).find { case (cls, g) => cls >= 0 && g.length >= 2 } match {
            case Some((cls, g)) =>
              val rest = cur.filterNot(e => e._1 == cls && g.take(2).exists(_ eq e))
              cur = rest :+ ((cls + 1, unionAll(g.take(2).map(_._2))))
            case None => done = true
          }
        }
      }
      cur
    }
    private def unionAll(parts: Seq[Array[Byte]]): Array[Byte] =
      if (parts.length == 1) parts.head else GeomOps.coverageUnion(
        GeomOps.write(GeomOps.factory.createGeometryCollection(
          parts.map(GeomOps.read).toArray)))
    def bufferEncoder: Encoder[Seq[(Int, Array[Byte])]] =
      Encoders.kryo[Seq[(Int, Array[Byte])]]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** `ST_Extent_Agg` / `ST_Union_Agg` / `ST_CoverageUnion_Agg` /
    * `ST_3DExtent_Agg` builders for [[GeoFunctions.functionDescriptors]]:
    * the same [[org.apache.spark.sql.execution.aggregate.ScalaAggregator]]
    * that `F.udaf` builds, constructed directly because an injected builder
    * has no live session to lower a udaf Column. The name makes the
    * unaliased column `st_extent_agg(g)`, and `agg` stays the SAME
    * singleton, so [[graft.plans.NativePointFastPath]]'s and
    * [[graft.plans.GeodesicExtentRule]]'s `eq`-based ExtentAgg matches fire. */
  private[functions] val builders: Seq[(String, Seq[Expression] => Expression)] = {
    def builder[BUF, OUT](name: String, agg: Aggregator[Array[Byte], BUF, OUT]) =
      name -> ((args: Seq[Expression]) => new ScalaAggregator(args, agg,
        encoderFor(Encoders.BINARY), encoderFor(agg.bufferEncoder),
        true, true, 0, 0, Some(name)): Expression)
    Seq(builder("st_extent_agg", ExtentAgg), builder("st_union_agg", UnionAgg),
      builder("st_coverageunion_agg", CoverageUnionAgg),
      builder("st_3dextent_agg", Extent3DAgg))
  }
}
