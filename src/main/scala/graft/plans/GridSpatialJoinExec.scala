package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BindReferences, DirectShufflePartitionID, Expression, JoinedRow, Predicate, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators
import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree

import graft.core.GeomOps

/** Big×big spatial join: grid-partitioned shuffle, STRtree refinement,
  * reference-point dedup. The scale path when neither side fits under the
  * broadcast threshold — where Spark would otherwise plan an O(n·m)
  * BroadcastNestedLoopJoin for a θ-join on an `ST_*` predicate — and the
  * plan of [[graft.operators.SpatialJoin.grid]].
  *
  * Topology (the reference's candidate primitive
  * `intersection_candidates_with_other`,
  * rust/geoarrow-old/src/indexed/array.rs:50-57, distributed):
  *  1. the grid: `cellSize` when the caller gives one
  *     ([[graft.operators.SpatialJoin.grid]]); otherwise one bounded job
  *     samples both children's envelopes (first rows of evenly spaced
  *     partitions, the trick Spark's RangePartitioner uses) and picks the
  *     cell size and the hot cells ([[chooseGrid]]);
  *  2. each side is keyed once, on the map side ([[GridKeyExec]]): one WKB
  *     parse gives the envelope (left envelopes expanded by `radius` for
  *     dwithin) and the covering (cell, subcell) keys, written with the
  *     envelope as leading columns of an `UnsafeRow`;
  *  3. both sides shuffle through a `ShuffleExchangeExec` routing each key
  *     to its cell's partition ([[Grid.route]]) and are sorted by key in
  *     the task ([[sortedByCell]]) — Spark's row serializer and unsafe
  *     sorter — so the two sides arrive co-partitioned and key-ordered;
  *  4. the sides merge cell by cell, as a sort-merge join does: each
  *     cell's STRtree holds the envelopes of the side with fewer rows, the
  *     other side probes it, and a geometry is parsed (and a build
  *     geometry prepared) only when a candidate reaches the exact test;
  *  5. a pair is emitted only in the cell (and subcell) containing the min
  *     corner of its envelope intersection (reference-point rule) —
  *     exactly-once output with no global DISTINCT pass.
  *
  * `predicate` is normalized by [[SpatialJoinStrategy]] to take the LEFT
  * geometry as its first argument (GeomOps method name). Null and empty
  * geometries match nothing and are dropped at keying.
  *
  * Skew: hot cells — detected from the same bounded sample that picks the
  * cell size — are sub-split into a local k×k finer grid so clustered
  * real-world data (everything in one metro tile) spreads across tasks
  * instead of landing in one. A caller-given cell size has no sample and
  * no hot cells.
  */
case class GridSpatialJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftGeom: Expression,
    rightGeom: Expression,
    predicate: String,
    radius: Double,
    projection: Option[Seq[Attribute]] = None,
    // residual join conjuncts, throw-free by construction (see
    // SpatialJoinStrategy.throwFree), evaluated in the probe loop BEFORE
    // the exact geometry predicate: a cheap row filter like DBSCAN's
    // canonical `a.id < b.id` then skips the JTS refine test for the pairs
    // it rejects, instead of running as a FilterExec above the join
    extraCondition: Option[Expression] = None,
    cellSize: Option[Double] = None) extends BinaryExecNode {

  import GridSpatialJoinExec._

  /** see [[SpatialJoinExec.output]] — narrowed to the consumed attributes */
  override def output: Seq[Attribute] =
    projection.getOrElse(left.output ++ right.output)

  /** Sampled envelopes of both sides from ONE job, as [minX, minY, maxX,
    * maxY, maxDim] per geometry (left ones expanded by `radius`). Reads at
    * most 64 rows from at most 128 evenly spaced partitions per side — cost
    * is bounded regardless of input size. */
  private def sampleEnvelopes(): (Array[Array[Double]], Array[Array[Double]]) = {
    val pred = predicate
    def sample(plan: SparkPlan, geom: Expression, expandBy: Double, side: Int)
        : RDD[(Int, Array[Double])] = {
      val bound = BindReferences.bindReference(geom, plan.output)
      val rdd = plan.execute()
      val step = math.max(1, rdd.getNumPartitions / 128)
      // PartitionPruningRDD: the job schedules ONLY the selected partitions
      org.apache.spark.rdd.PartitionPruningRDD.create(rdd, _ % step == 0).mapPartitions { it =>
        it.take(64).flatMap { row =>
          val wkb = bound.eval(row).asInstanceOf[Array[Byte]]
          if (wkb == null) Iterator.empty
          else {
            val g = GeomOps.read(wkb)
            if (g.isEmpty) Iterator.empty
            else {
              val e = new Envelope(g.getEnvelopeInternal)
              SpatialJoinExec.padForRadius(e, pred, expandBy)
              Iterator.single(side -> Array(
                e.getMinX, e.getMinY, e.getMaxX, e.getMaxY, math.max(e.getWidth, e.getHeight)))
            }
          }
        }
      }
    }
    val all = sample(left, leftGeom, radius, 0).union(sample(right, rightGeom, 0.0, 1)).collect()
    (all.collect { case (0, a) => a }, all.collect { case (1, a) => a })
  }

  /** Grid parameters from the one bounded sample:
    *
    *  - cell edge: ~4× the median envelope dimension (each geometry covers
    *    O(1) cells), floored so the grid is at most ~8k cells per axis over
    *    the sampled extent (bounds duplication for outlier-huge geometries
    *    and keeps key cardinality sane);
    *  - hot cells: per-cell sample density at that edge. Real-world
    *    clustered data (every point in one metro tile) otherwise lands one
    *    task with most of the input at scale. A cell holding a share `s` of
    *    either side's sample large enough to dominate a task
    *    (s ≥ max(0.04, 2/numPartitions), with ≥16 sampled hits so noise
    *    can't trigger it) is sub-split into a local k×k finer grid,
    *    k = ceil(√(s·numPartitions)) in [2,16] — splitting BOTH sides'
    *    build memory and probe CPU with no row replication beyond the
    *    normal covering-cells duplication. Uniformly distributed inputs
    *    (g33) never cross the threshold and take the plain grid.
    */
  private def chooseGrid(numParts: Int): Grid = {
    val (lS, rS) = sampleEnvelopes()
    val dims = (lS ++ rS).map(_(4))
    if (dims.isEmpty) return Grid(1.0, Map.empty)
    val extent = new Envelope()
    (lS ++ rS).foreach(a => extent.expandToInclude(new Envelope(a(0), a(2), a(1), a(3))))
    java.util.Arrays.sort(dims)
    val med = dims(dims.length / 2)
    val eMax = math.max(extent.getWidth, extent.getHeight)
    val base = if (med > 0) med * 4 else if (eMax > 0) eMax / 256 else 1.0
    val cs = {
      val c = math.max(base, if (eMax > 0) eMax / 8192 else 0.0)
      if (c > 0) c else 1.0
    }

    // per-cell density per side (covering cells per sampled envelope, capped
    // so one outlier-huge geometry can't blow up the count pass)
    def cellCounts(s: Array[Array[Double]]): collection.Map[(Long, Long), Int] = {
      val m = scala.collection.mutable.HashMap.empty[(Long, Long), Int]
      s.foreach { a =>
        val x0 = math.floor(a(0) / cs).toLong; val x1 = math.floor(a(2) / cs).toLong
        val y0 = math.floor(a(1) / cs).toLong; val y1 = math.floor(a(3) / cs).toLong
        if ((x1 - x0 + 1) * (y1 - y0 + 1) <= 64)
          for (cx <- x0 to x1; cy <- y0 to y1)
            m.updateWith((cx, cy)) { c => Some(c.getOrElse(0) + 1) }
      }
      m
    }
    val lCounts = cellCounts(lS)
    val rCounts = cellCounts(rS)
    val threshold = math.max(0.04, 2.0 / numParts)
    val hot = (lCounts.keySet ++ rCounts.keySet).iterator.flatMap { cell =>
      val share = math.max(
        if (lS.nonEmpty) lCounts.getOrElse(cell, 0).toDouble / lS.length else 0.0,
        if (rS.nonEmpty) rCounts.getOrElse(cell, 0).toDouble / rS.length else 0.0)
      val hits = math.max(lCounts.getOrElse(cell, 0), rCounts.getOrElse(cell, 0))
      if (share >= threshold && hits >= 16) {
        val k = math.min(16, math.max(2, math.ceil(math.sqrt(share * numParts)).toInt))
        Some(cell -> k)
      } else None
    }.toMap
    Grid(cs, hot)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val numParts = conf.numShufflePartitions
    val grid = cellSize.map(Grid(_, Map.empty)).getOrElse(chooseGrid(numParts))
    // keyed → shuffled by route in Spark's row format: co-partitioned
    // because a key has one route
    def shuffled(plan: SparkPlan, geom: Expression, expandBy: Double): SparkPlan = {
      val keyed = GridKeyExec(plan, geom, predicate, expandBy, grid)
      ShuffleExchangeExec(ShufflePartitionIdPassThrough(
        DirectShufflePartitionID(keyed.output(Route)), numParts), keyed)
    }
    val l = shuffled(left, leftGeom, radius)
    val r = shuffled(right, rightGeom, 0.0)
    val lBound = BindReferences.bindReference(leftGeom, l.output)
    val rBound = BindReferences.bindReference(rightGeom, r.output)
    val (lSchema, rSchema) = (schemaOf(l.output), schemaOf(r.output))
    val joinedAttrs = l.output ++ r.output
    val outAttrs = output
    val extraCond = extraCondition
    val pred = predicate
    val rad = radius

    l.execute().zipPartitions(r.execute()) { (lRows, rRows) =>
      val lIt = sortedByCell(lRows, lSchema)
      val rIt = sortedByCell(rRows, rSchema)
      // residual row predicate (null = none): codegen'd once per task,
      // evaluated on the joined row BEFORE the JTS refine test
      val extraPred = extraCond.map { c =>
        val p = Predicate.create(c, joinedAttrs)
        p.initialize(org.apache.spark.TaskContext.getPartitionId())
        p
      }.orNull
      new CellMerge(lIt, rIt, grid, lBound, rBound, pred, rad, extraPred,
        UnsafeProjection.create(outAttrs, joinedAttrs))
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan, newRight: SparkPlan): GridSpatialJoinExec =
    copy(left = newLeft, right = newRight)
}

object GridSpatialJoinExec {
  /** Spec probe: number of exact-predicate refine tests run. Local-mode
    * only (tasks share the driver JVM in every spec/bench session) — the
    * uncontended LongAdder add is noise next to a JTS predicate test. */
  private[graft] val refineTests = new java.util.concurrent.atomic.LongAdder

  /** Square cells of edge `cellSize`; a hot cell holds a local k×k grid of
    * subcells (`hot(cell) = k`). Covering keys and the reference point go
    * through the same monotone `cell`/`sub`, so the reference point of two
    * intersecting envelopes lies in a (cell, subcell) both of them cover. */
  final case class Grid(cellSize: Double, hot: Map[(Long, Long), Int]) {
    def cell(v: Double): Long = math.floor(v / cellSize).toLong
    def split(cx: Long, cy: Long): Int = if (hot.isEmpty) 1 else hot.getOrElse((cx, cy), 1)
    def sub(v: Double, c: Long, k: Int): Int =
      math.min(k - 1, math.max(0, math.floor((v - c * cellSize) / (cellSize / k)).toInt))
    /** Shuffle partition (mod the partition count) of a key: a hash of the
      * cell, plus the subcell's index inside a hot cell, so the k² subcells
      * of a hot cell land on consecutive partitions, not on hash luck. */
    def route(cx: Long, cy: Long, sx: Int, sy: Int, k: Int): Int = {
      import scala.util.hashing.MurmurHash3.{finalizeHash, mix}
      finalizeHash(mix(mix(0x9747b28c, cx.##), cy.##), 2) + sx * k + sy
    }
  }

  /** Key columns GridKeyExec writes ahead of each row, in this order:
    * cell x, cell y, subcell x, subcell y, the routing envelope, the route. */
  private val keyTypes = Seq(LongType, LongType, IntegerType, IntegerType,
    DoubleType, DoubleType, DoubleType, DoubleType, IntegerType)
  private val MinX = 4
  private val MinY = 5
  private val MaxX = 6
  private val MaxY = 7
  private val Route = 8

  /** Keys each row of `child` once: one WKB parse gives the envelope
    * (padded for dWithin by `expandBy`) and every covering (cell, subcell),
    * and each covering key is written with that envelope as the leading
    * columns of an `UnsafeRow` followed by the row itself. */
  private[plans] case class GridKeyExec(child: SparkPlan, geom: Expression, predicate: String,
      expandBy: Double, grid: Grid) extends UnaryExecNode {

    override val output: Seq[Attribute] =
      Seq("cx", "cy", "sx", "sy", "minx", "miny", "maxx", "maxy", "route").zip(keyTypes).map {
        case (n, t) => AttributeReference(s"__grid_$n", t, nullable = false)()
      } ++ child.output

    override protected def doExecute(): RDD[InternalRow] = {
      val bound = BindReferences.bindReference(geom, child.output)
      val (pred, pad, g, outTypes) = (predicate, expandBy, grid, output.map(_.dataType))
      child.execute().mapPartitions { rows =>
        val key = new SpecificInternalRow(keyTypes)
        val joined = new JoinedRow(key, null)
        val proj = UnsafeProjection.create(outTypes.toArray)
        rows.flatMap { row =>
          val wkb = bound.eval(row).asInstanceOf[Array[Byte]]
          val parsed = if (wkb == null) null else GeomOps.read(wkb)
          if (parsed == null || parsed.isEmpty) Iterator.empty
          else {
            val env = new Envelope(parsed.getEnvelopeInternal)
            SpatialJoinExec.padForRadius(env, pred, pad)
            key.setDouble(MinX, env.getMinX); key.setDouble(MinY, env.getMinY)
            key.setDouble(MaxX, env.getMaxX); key.setDouble(MaxY, env.getMaxY)
            joined.withRight(row)
            val cells = new Covering(g, env)
            // each next() projects into the reused buffer: the shuffle
            // writer serializes a row before it asks for the next one
            Iterator.continually(cells.advance()).takeWhile(identity).map { _ =>
              key.setLong(0, cells.cx); key.setLong(1, cells.cy)
              key.setInt(2, cells.sx); key.setInt(3, cells.sy)
              key.setInt(Route, g.route(cells.cx, cells.cy, cells.sx, cells.sy, cells.k))
              proj(joined)
            }
          }
        }
      }
    }

    override protected def withNewChildInternal(newChild: SparkPlan): GridKeyExec =
      copy(child = newChild)
  }

  /** The (cell, subcell) keys covering `env`, one per `advance()`: each
    * cell of the covering, and inside a hot cell each of its subcells that
    * `env` meets. Regular cells have subcell (0, 0). */
  private final class Covering(g: Grid, env: Envelope) {
    private val x0 = g.cell(env.getMinX)
    private val x1 = g.cell(env.getMaxX)
    private val y0 = g.cell(env.getMinY)
    private val y1 = g.cell(env.getMaxY)
    var cx: Long = x0
    var cy: Long = y0 - 1
    var sx = 0
    var sy = 0
    var k = 1
    private var sy0 = 0
    private var sx1 = 0
    private var sy1 = 0

    def advance(): Boolean =
      if (k > 1 && sy < sy1) { sy += 1; true }
      else if (k > 1 && sx < sx1) { sx += 1; sy = sy0; true }
      else {
        if (cy < y1) cy += 1
        else if (cx < x1) { cx += 1; cy = y0 }
        else return false
        k = g.split(cx, cy)
        if (k == 1) { sx = 0; sy = 0 }
        else {
          sx = g.sub(env.getMinX, cx, k); sx1 = g.sub(env.getMaxX, cx, k)
          sy0 = g.sub(env.getMinY, cy, k); sy1 = g.sub(env.getMaxY, cy, k)
          sy = sy0
        }
        true
      }
  }

  /** Head of one side's key-ordered rows. */
  private final class Side(it: Iterator[InternalRow]) {
    var row: UnsafeRow = null
    def advance(): Unit = row = if (it.hasNext) it.next().asInstanceOf[UnsafeRow] else null
    advance()
  }

  private def schemaOf(attrs: Seq[Attribute]): StructType =
    StructType(attrs.map(a => StructField(a.name, a.dataType, a.nullable)))

  /** Key order of keyed rows: cell x, cell y, subcell x, subcell y. */
  private object CellOrdering extends Ordering[InternalRow] {
    override def compare(a: InternalRow, b: InternalRow): Int = compareKeys(a, b)
  }

  /** Sorts one task's keyed rows by key with Spark's unsafe sorter (cell x
    * as the sort prefix; it spills under memory pressure). Its pages are
    * at most 4 MB: `SortExec` takes the session's page size, 32 MB at a
    * 2 GB heap, and a 32 MB page per side per task for partitions of a
    * few MB made the heap churn and slowed every other query in the JVM. */
  private def sortedByCell(rows: Iterator[InternalRow], schema: StructType): Iterator[InternalRow] = {
    val prefix = new UnsafeExternalRowSorter.PrefixComputer {
      private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
      override def computePrefix(row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
        p.isNull = false
        p.value = row.getLong(0)
        p
      }
    }
    val pageSize = math.min(org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes, 4L << 20)
    UnsafeExternalRowSorter.create(schema, CellOrdering, PrefixComparators.LONG, prefix,
      pageSize, false).sort(rows.asInstanceOf[Iterator[UnsafeRow]])
  }

  private def compareKeys(a: InternalRow, b: InternalRow): Int = {
    var c = java.lang.Long.compare(a.getLong(0), b.getLong(0))
    if (c == 0) c = java.lang.Long.compare(a.getLong(1), b.getLong(1))
    if (c == 0) c = Integer.compare(a.getInt(2), b.getInt(2))
    if (c == 0) c = Integer.compare(a.getInt(3), b.getInt(3))
    c
  }

  private def envelopeOf(row: UnsafeRow): Envelope =
    new Envelope(row.getDouble(MinX), row.getDouble(MaxX), row.getDouble(MinY), row.getDouble(MaxY))

  /** Joins two key-ordered, co-partitioned keyed streams cell by cell.
    *
    * Per cell both sides are read in lockstep until one runs out: that
    * side has no more rows than the other and becomes the build side, an
    * STRtree of its envelopes; the other side's rows read so far, then the
    * rest of its cell straight from the stream, probe the tree. A build
    * geometry is parsed and prepared at its first candidate that passes
    * the reference-point rule and the residual, a probe geometry at its
    * own first such candidate. Rows of cells only one side has are
    * skipped. */
  private final class CellMerge(
      lIt: Iterator[InternalRow], rIt: Iterator[InternalRow], grid: Grid,
      lGeom: Expression, rGeom: Expression, predicate: String, radius: Double,
      extraPred: org.apache.spark.sql.catalyst.expressions.BasePredicate,
      proj: UnsafeProjection) extends Iterator[InternalRow] {

    private val l = new Side(lIt)
    private val r = new Side(rIt)
    private val joined = new JoinedRow()
    private val prepF = new PreparedGeometryFactory()
    // the exact test with the build geometry prepared as first argument
    private var buildLeft = true
    private var buildPred = predicate

    // the current cell
    private var inCell = false
    private var cx, cy = 0L
    private var sx, sy, k = 0
    private val lBuf = scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
    private val rBuf = scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
    private var build: scala.collection.mutable.ArrayBuffer[UnsafeRow] = _
    private var buildGeoms: Array[PreparedGeometry] = _
    private var tree: STRtree = _
    private var probeBuf: scala.collection.mutable.ArrayBuffer[UnsafeRow] = _
    private var probeSide: Side = _
    private var probeIdx = 0
    private var probeHeld = false

    // the current probe row and its candidates
    private var probe: UnsafeRow = _
    private var probeGeom: Geometry = _
    private var cands: java.util.List[_] = _
    private var ci = 0
    private var out: InternalRow = _

    private def sameCell(s: Side): Boolean = s.row != null &&
      s.row.getLong(0) == cx && s.row.getLong(1) == cy &&
      s.row.getInt(2) == sx && s.row.getInt(3) == sy

    /** Aligns both sides on their next common key and loads that cell. */
    private def nextCell(): Boolean = {
      var c = 0
      while (l.row != null && r.row != null && { c = compareKeys(l.row, r.row); c != 0 })
        if (c < 0) l.advance() else r.advance()
      if (l.row == null || r.row == null) return false
      cx = l.row.getLong(0); cy = l.row.getLong(1); sx = l.row.getInt(2); sy = l.row.getInt(3)
      k = grid.split(cx, cy)
      lBuf.clear(); rBuf.clear()
      while (sameCell(l) && sameCell(r)) {
        lBuf += l.row.copy(); l.advance()
        rBuf += r.row.copy(); r.advance()
      }
      buildLeft = !sameCell(l)
      if (buildLeft) { build = lBuf; probeBuf = rBuf; probeSide = r }
      else { build = rBuf; probeBuf = lBuf; probeSide = l }
      buildPred = if (buildLeft) predicate else SpatialJoinExec.transpose(predicate)
      tree = new STRtree(math.max(2, math.min(10, build.length)))
      var i = 0
      while (i < build.length) { tree.insert(envelopeOf(build(i)), Integer.valueOf(i)); i += 1 }
      buildGeoms = new Array[PreparedGeometry](build.length)
      probeIdx = 0
      probeHeld = false
      cands = null
      true
    }

    /** Moves to the cell's next probe row; false when the cell is done. */
    private def nextProbe(): Boolean = {
      if (probeHeld) { probeSide.advance(); probeHeld = false }
      if (probeIdx < probeBuf.length) { probe = probeBuf(probeIdx); probeIdx += 1 }
      else if (sameCell(probeSide)) { probe = probeSide.row; probeHeld = true }
      else return false
      probeGeom = null
      cands = tree.query(envelopeOf(probe))
      ci = 0
      true
    }

    /** The output row of build row `i` and the probe row, or null. */
    private def pair(i: Int): InternalRow = {
      val b = build(i)
      // reference point: the min corner of the envelope intersection must
      // fall in THIS cell — and, inside a hot cell, in THIS subcell — so
      // each pair is emitted exactly once with no global DISTINCT
      val refX = math.max(b.getDouble(MinX), probe.getDouble(MinX))
      val refY = math.max(b.getDouble(MinY), probe.getDouble(MinY))
      if (grid.cell(refX) != cx || grid.cell(refY) != cy ||
          (k > 1 && (grid.sub(refX, cx, k) != sx || grid.sub(refY, cy, k) != sy))) return null
      if (buildLeft) joined(b, probe) else joined(probe, b)
      if (extraPred != null && !extraPred.eval(joined)) return null
      if (buildGeoms(i) == null)
        buildGeoms(i) = prepF.create(GeomOps.read(
          (if (buildLeft) lGeom else rGeom).eval(b).asInstanceOf[Array[Byte]]))
      if (probeGeom == null)
        probeGeom = GeomOps.read((if (buildLeft) rGeom else lGeom).eval(probe).asInstanceOf[Array[Byte]])
      refineTests.increment()
      if (SpatialJoinExec.refine(buildPred, radius, buildGeoms(i), probeGeom)) proj(joined) else null
    }

    override def hasNext: Boolean = {
      while (out == null) {
        if (cands != null && ci < cands.size()) {
          out = pair(cands.get(ci).asInstanceOf[Integer].intValue)
          ci += 1
        } else if (!(inCell && nextProbe())) {
          inCell = nextCell()
          if (!inCell) return false
        }
      }
      true
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val o = out
      out = null
      o
    }
  }
}

/** [[graft.operators.SpatialJoin.grid]]'s join: `left ⋈ right ON
  * ST_Intersects(leftGeom, rightGeom)` on a grid of the caller's cell
  * edge. [[SpatialJoinStrategy]] plans it as [[GridSpatialJoinExec]] with
  * that cell size — it never broadcasts and samples nothing. */
case class GridJoin(left: LogicalPlan, right: LogicalPlan,
                    leftGeom: Expression, rightGeom: Expression,
                    cellSize: Double) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): GridJoin =
    copy(left = newLeft, right = newRight)
}
