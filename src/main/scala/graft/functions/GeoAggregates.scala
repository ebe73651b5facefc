package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.{BinaryType, BooleanType, DoubleType, StructField, StructType}
import org.locationtech.jts.operation.union.UnaryUnionOp

import graft.core.GeomOps

/** Geometry aggregates, each with true partial aggregation (map-side
  * combine on every executor, small merge buffers over the shuffle),
  * unlike a `collect_list`-then-reduce which ships every row to one task.
  *
  * [[Extent]] (`ST_Extent_Agg`, `ST_3DExtent_Agg`) mirrors the reference's
  * `BoundingRect` accumulator (rust/geoparquet/src/total_bounds.rs:18-175):
  * a min/max fold over per-geometry bounds. The 2D bounds are exactly what
  * `ST_BBox` computes, edges dispatch and native fast path included, and
  * the fold is a [[BoundsFold]]: a Catalyst `DeclarativeAggregate` over
  * fixed-width double slots, so it plans as a codegen'd `HashAggregate`.
  * The NaN, EMPTY and NULL-group rules are stated in docs/FUNCTIONS.md.
  *
  * `UnionAgg` (`ST_Union_Agg`) and `CoverageUnionAgg`
  * (`ST_CoverageUnion_Agg`) are Spark `Aggregator`s over one
  * [[UnionCascade]]: partials buffer raw rows, collapse them in leaf
  * unions and merge equal-sized partials like carry bits, so work stays
  * O(n log n) and the shuffled state is O(log n) WKB blobs per group per
  * partition.
  */
object GeoAggregates {

  /** Min/max fold over per-row `bounds`: a struct of n DOUBLE minima then
    * n DOUBLE maxima. A NULL row, or one whose x bounds are the JTS null
    * envelope (`xmax < xmin`), leaves the buffer as is; a NaN x bound is
    * NaN on both sides, since min and max start from the same first
    * coordinate, and so is kept. Slots fold with `java.lang.Math.min`/`max`,
    * which propagate NaN and order -0.0 below 0.0. The result has the
    * bounds' field names; it is NULL while xmin is infinite (nothing
    * folded), and when a third axis never met a value (zmin still
    * infinite) its minimum and maximum read 0.0. */
  case class BoundsFold(bounds: Expression) extends DeclarativeAggregate
      with UnaryLike[Expression] {
    override def child: Expression = bounds
    override def dataType: StructType = bounds.dataType.asInstanceOf[StructType]
    override def nullable: Boolean = true
    override def prettyName: String = "bounds_fold"

    private lazy val half = dataType.length / 2
    private lazy val slots = dataType.fieldNames.toSeq.map(AttributeReference(_, DoubleType,
      nullable = false)())
    private def fold(i: Int, a: Expression, b: Expression): Expression =
      StaticInvoke(classOf[java.lang.Math], DoubleType, if (i < half) "min" else "max",
        Seq(a, b), Nil, propagateNull = true, returnNullable = false)
    private def infinite(e: Expression): Expression =
      StaticInvoke(classOf[java.lang.Double], BooleanType, "isInfinite", Seq(e), Nil,
        propagateNull = true, returnNullable = false)

    override lazy val aggBufferAttributes: Seq[AttributeReference] = slots
    override lazy val initialValues: Seq[Expression] = slots.indices.map(i =>
      Literal(if (i < half) Double.PositiveInfinity else Double.NegativeInfinity))
    override lazy val updateExpressions: Seq[Expression] = {
      val skip = Or(IsNull(bounds),
        LessThan(GetStructField(bounds, half), GetStructField(bounds, 0)))
      slots.zipWithIndex.map { case (s, i) => If(skip, s, fold(i, s, GetStructField(bounds, i))) }
    }
    override lazy val mergeExpressions: Seq[Expression] =
      slots.zipWithIndex.map { case (s, i) => fold(i, s.left, s.right) }
    override lazy val evaluateExpression: Expression = {
      val z = dataType.fieldNames.indexOf("zmin")
      val out = slots.zipWithIndex.map { case (s, i) =>
        if (z >= 0 && (i == z || i == z + half)) If(infinite(slots(z)), Literal(0.0), s) else s
      }
      If(infinite(slots.head), Literal(null, dataType),
        CreateNamedStruct(dataType.fieldNames.toSeq.zip(out).flatMap { case (n, e) =>
          Seq(Literal(n), e) }))
    }

    override protected def withNewChildInternal(c: Expression): BoundsFold = copy(bounds = c)
  }

  /** `ST_Extent_Agg(g)` (`threeD = false`) and `ST_3DExtent_Agg(g)` as
    * analysis sees them: the SQL name over the geometry, so the unaliased
    * column reads `st_extent_agg(g)`. The optimizer swaps in `replacement`:
    * a [[BoundsFold]] over `ST_BBox(g)`'s per-row bounds, or over
    * [[bounds3D]]. The bounds are marked normalized so that DISTINCT groups
    * them by their bits, as it groups the WKB bytes: Spark's float key
    * normalization would turn a -0.0 bound into 0.0, and min/max does not
    * care about duplicates. */
  case class Extent(geom: Expression, threeD: Boolean) extends AggregateFunction
      with RuntimeReplaceableAggregate with UnaryLike[Expression] {
    override def child: Expression = geom
    override def prettyName: String = if (threeD) "st_3dextent_agg" else "st_extent_agg"
    override lazy val replacement: Expression = BoundsFold(KnownFloatingPointNormalized(
      if (threeD) StaticInvoke(Class.forName("graft.functions.GeoAggregates"), bounds3DType, "bounds3D",
        Seq(geom), Nil, propagateNull = true, returnNullable = false)
      else GeoFunctions.bbox(geom)))
    override protected def withNewChildInternal(c: Expression): Extent = copy(geom = c)
  }

  private val bounds3DType = StructType(
    Seq("xmin", "ymin", "zmin", "xmax", "ymax", "zmax").map(StructField(_, DoubleType, nullable = false)))

  /** `ST_3DExtent_Agg`'s per-row bounds, the PostGIS ST_3DExtent: Z-less
    * coordinates contribute X/Y only, and an EMPTY geometry answers the
    * fold's identity (+∞ minima, -∞ maxima), which [[BoundsFold]] skips. */
  def bounds3D(wkb: Array[Byte]): InternalRow = {
    val inf = Double.PositiveInfinity
    val r = Array(inf, inf, inf, -inf, -inf, -inf)
    val g = GeomOps.read(wkb)
    if (!g.isEmpty) g.getCoordinates.foreach { c =>
      val z = c.getZ
      r(0) = math.min(r(0), c.x); r(1) = math.min(r(1), c.y)
      if (!z.isNaN) r(2) = math.min(r(2), z)
      r(3) = math.max(r(3), c.x); r(4) = math.max(r(4), c.y)
      if (!z.isNaN) r(5) = math.max(r(5), z)
    }
    new GenericInternalRow(r.map(v => v: Any))
  }

  /** The binary-counter cascade of both union aggregates. Raw rows enter
    * as class -1 singles; `fanIn` of them union into a class-0 leaf, and
    * two blobs of class k union into one of class k+1. Each row's geometry
    * passes through O(log n) union calls, where accumulating into one blob
    * would re-union the whole partial every `fanIn` rows: O(n²/fanIn) work
    * per partition, the tail that breaks at extreme group sizes.
    * Reducer-side `merge` only concatenates (bounded by partitions × O(log)
    * blobs, normalized past 1024 to keep the shuffled state bounded), and
    * `finish` runs ONE union over all blobs. With `dedupSingles` a raw row
    * byte-identical to a buffered single is dropped on entry. */
  abstract class UnionCascade(fanIn: Int, dedupSingles: Boolean)
      extends Aggregator[Array[Byte], Seq[(Int, Array[Byte])], Array[Byte]] {
    /** one union of WKB parts into a WKB result */
    protected def unionAll(parts: Seq[Array[Byte]]): Array[Byte]

    def zero: Seq[(Int, Array[Byte])] = Vector.empty
    def reduce(buf: Seq[(Int, Array[Byte])], wkb: Array[Byte]): Seq[(Int, Array[Byte])] =
      if (wkb == null || (dedupSingles &&
          buf.exists(e => e._1 == -1 && java.util.Arrays.equals(e._2, wkb)))) buf
      else normalize(buf :+ ((-1, wkb)))
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
        if (cur.count(_._1 == -1) >= fanIn) {
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
    def bufferEncoder: Encoder[Seq[(Int, Array[Byte])]] =
      Encoders.kryo[Seq[(Int, Array[Byte])]]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** `ST_Union_Agg`: JTS UnaryUnionOp (cascaded union) at fan-in 32.
    * Tile and grid workloads repeat a few distinct shapes per group, so
    * repeated raw singles are dropped on entry (≤ 32 byte-compares, noise
    * next to one overlay op) and each union drops byte-identical parts
    * first (union is idempotent). */
  object UnionAgg extends UnionCascade(32, dedupSingles = true) {
    protected def unionAll(buf: Seq[Array[Byte]]): Array[Byte] = {
      val seen = new java.util.HashSet[java.nio.ByteBuffer]()
      val distinct = buf.filter(b => seen.add(java.nio.ByteBuffer.wrap(b)))
      if (distinct.length == 1) return distinct.head
      val geoms = new java.util.ArrayList[org.locationtech.jts.geom.Geometry](distinct.length)
      distinct.foreach(b => geoms.add(GeomOps.read(b)))
      GeomOps.write(UnaryUnionOp.union(geoms))
    }
  }

  /** `ST_CoverageUnion_Agg`: union rows that form a valid polygonal
    * COVERAGE (vertex-matched shared edges, no overlaps/gaps — parcel
    * fabrics, admin tessellations, tile grids). JTS CoverageUnion
    * dissolves interior edges by pure boundary matching — linear in edge
    * count, no overlay noding — where the cascaded `ST_Union_Agg` pays
    * O(n log n) overlay work; hence the wider fan-in of 64. Mergeability
    * is what licenses the partial aggregate: CoverageUnion preserves every
    * EXTERIOR edge bit-exact, so the partial union of any row subset still
    * vertex-matches its neighbors in other partitions and the merge step
    * is again a plain coverage union. Input must be a valid coverage
    * (ST_CoverageInvalidEdges to audit); non-coverage input gives
    * undefined linework, same as PostGIS. */
  object CoverageUnionAgg extends UnionCascade(64, dedupSingles = false) {
    protected def unionAll(parts: Seq[Array[Byte]]): Array[Byte] =
      if (parts.length == 1) parts.head else GeomOps.coverageUnion(
        GeomOps.write(GeomOps.factory.createGeometryCollection(
          parts.map(GeomOps.read).toArray)))
  }

  /** The four aggregate builders for [[GeoFunctions.functionDescriptors]].
    * The union aggregates are the [[ScalaAggregator]] that `F.udaf`
    * builds, constructed directly because an injected builder has no live
    * session to lower a udaf Column; the name makes the unaliased column
    * `st_union_agg(g)`. */
  private[functions] val builders: Seq[(String, Seq[Expression] => Expression)] = {
    def union(name: String, agg: UnionCascade) =
      name -> ((args: Seq[Expression]) => new ScalaAggregator(args, agg,
        encoderFor(Encoders.BINARY), encoderFor(agg.bufferEncoder),
        true, true, 0, 0, Some(name)): Expression)
    def extent(name: String, threeD: Boolean) =
      name -> ((args: Seq[Expression]) => args match {
        // a cast only where needed: ST_BBox's edges dispatch reads the
        // metadata of a bare column reference
        case Seq(g) => Extent(if (g.dataType == BinaryType) g else Cast(g, BinaryType), threeD)
        case _ => throw new IllegalArgumentException(s"$name expects 1 arg, got ${args.length}")
      })
    Seq(extent("st_extent_agg", threeD = false), union("st_union_agg", UnionAgg),
      union("st_coverageunion_agg", CoverageUnionAgg),
      extent("st_3dextent_agg", threeD = true))
  }
}
