package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, ExprId}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LeafExecNode
import org.apache.spark.sql.functions.{col, dense_rank, lit, monotonically_increasing_id, rank, row_number}

/** Physical node for the auto-planned kNN join — the
  * `ROW_NUMBER() OVER (PARTITION BY l.id ORDER BY ST_Distance(l.g, r.g))
  * <= k` over a cross join shape that [[SpatialJoinStrategy]] recognises.
  *
  * Without this, Catalyst executes the shape literally: a
  * BroadcastNestedLoopJoin cartesian followed by a full window sort —
  * O(n·m) pairs shuffled. Here the shape is handed to the adaptive
  * radius-doubling kNN operator ([[graft.operators.SpatialJoin.knn]],
  * the g37 path: bucketed equi-shuffle candidates per round, never a
  * cartesian), whose driver-coordinated iteration cannot be expressed as a
  * static plan — so, like [[GridSpatialJoinExec]]'s execution-time
  * sampling, the node runs it as nested query executions at doExecute
  * time (reference ships kNN as an explicit operator only; this planner
  * hook is the Spark-native equivalent of the SQL shape).
  *
  * Semantics notes (documented contract):
  *  - ties in distance are broken arbitrarily by ROW_NUMBER in the literal
  *    plan; here they break by internal (right-row id, left-row id). Both
  *    are admissible outputs of the same nondeterministic query. With
  *    `withTies` (the RANK() shape) there is no arbitrary break at all:
  *    membership is `dist ≤ k-th smallest group distance` — deterministic,
  *    boundary ties included, rank values shared exactly like the literal
  *    RANK window.
  *  - rows of `left` sharing a partition-key value form one ranking group
  *    in both formulations. The operator itself needs a UNIQUE per-row key
  *    (its candidate dedup and round resolution key on it), so the node
  *    synthesizes one, runs kNN per ROW, and re-ranks the k-per-row
  *    candidates with row_number over the user's partition key: the
  *    group's j-th best pair involves some left row for which that pair is
  *    within its own top-j <= top-k, so per-group top-k is a subset of the
  *    per-row union — no pair can be missed, and duplicate key values no
  *    longer collapse distinct left rows (round-10 fix).
  *  - null geometries: the literal plan ranks their null distances FIRST
  *    (ASC NULLS FIRST) — k meaningless pairs per group; the operator
  *    excludes null-geometry rows from candidate generation instead. This
  *    is the one deliberate divergence.
  */
case class KnnTopKExec(
    output: Seq[Attribute],
    // only read driver-side in doExecute; @transient so AQE's serialized
    // (canonicalized) stage plans don't drag a FileIndex to executors
    @transient leftPlan: LogicalPlan,
    @transient rightPlan: LogicalPlan,
    leftGeom: Attribute,
    rightGeom: Attribute,
    partKey: Attribute,
    k: Int,
    rankId: ExprId,
    distIds: Set[ExprId],
    metric: String = "planar",
    // which SQL rank function the original window used (round 18):
    // RANK/DENSE_RANK keep every boundary tie by distance — the operator
    // runs in the matching ties mode and the group re-rank below uses the
    // same rank function ordered by distance ALONE
    rankMode: String = "row_number",
    // ORDER BY … DESC = farthest-k (round 19; geodesic metrics round
    // 20): runs [[graft.operators.SpatialJoin.farthestK]] (exact
    // cell-bound candidates — planar box arithmetic or the
    // triangle-inequality circle bounds) and the group re-rank orders
    // descending
    descending: Boolean = false) extends LeafExecNode {

  override protected def doExecute(): RDD[InternalRow] = {
    val ss = session
    // canonical disjoint names: the operator API is name-based and the two
    // sides of a self-join may collide on names (never on exprIds)
    val lNames = leftPlan.output.indices.map(i => s"__knn_l$i")
    val rNames = rightPlan.output.indices.map(i => s"__knn_r$i")
    // synthesized unique per-ROW ids on both sides: the operator's
    // candidate dedup / round resolution require a unique left key (the
    // user's partition key may repeat), and the right id drives pair dedup
    // and tie-break; localCheckpoint freezes the ids across the operator's
    // candidate rounds (and caches the sides the rounds re-scan). LAZY
    // (round 20): the operators' first action over each side is a full
    // extent/stats aggregate, which materializes the checkpoint in the
    // same job — the old eager mode paid two extra up-front jobs per query
    // for the same blocks. Early-return exception (round-20 ADVICE, noted
    // deliberately): when a side is empty the operators return before
    // running every aggregate, leaving a side persisted-but-unmaterialized
    // until the session's next Blocks.scrub — zero blocks, registry entry
    // only, harmless; releasing here would complicate the shared-result
    // lifetime for nothing.
    val lDf = GraftInternal.ofRows(ss, leftPlan).toDF(lNames: _*)
      .withColumn("__knn_lid", monotonically_increasing_id())
      .localCheckpoint(false)
    val rDf = GraftInternal.ofRows(ss, rightPlan).toDF(rNames: _*)
      .withColumn("__knn_rid", monotonically_increasing_id())
      .localCheckpoint(false)
    val gi = leftPlan.output.indexWhere(_.exprId == leftGeom.exprId)
    val gj = rightPlan.output.indexWhere(_.exprId == rightGeom.exprId)
    val pi = leftPlan.output.indexWhere(_.exprId == partKey.exprId)
    val res =
      if (descending)
        graft.operators.SpatialJoin.farthestK(
          lDf, rDf, lNames(gi), rNames(gj), k, "__knn_lid", "__knn_rid",
          rankMode = rankMode, metric = metric)
      else graft.operators.SpatialJoin.knn(
        lDf, rDf, lNames(gi), rNames(gj), k, "__knn_lid", "__knn_rid",
        metric = metric, rankMode = rankMode)
    // re-rank the k-per-row candidates over the user's partition key (a
    // window over at most k·|left| (+ ties) rows, not the cartesian):
    // reproduces the literal plan's per-GROUP ranking even when key values
    // repeat. Ties modes are exact here because the group's k-th threshold
    // (rank: k-th smallest with multiplicity; dense_rank: k-th smallest
    // distinct) is ≤ every member row's own k-th threshold, so each pair
    // with group-rank ≤ k is inside its row's ties-extended set.
    val wG = org.apache.spark.sql.expressions.Window.partitionBy(col(lNames(pi)))
    val distOrd = if (descending) col("knn_dist").desc else col("knn_dist").asc
    val grank = rankMode match {
      case "row_number" => row_number().over(wG.orderBy(
        distOrd, col("__knn_rid").asc, col("__knn_lid").asc))
      case "rank" => rank().over(wG.orderBy(distOrd))
      case _ => dense_rank().over(wG.orderBy(distOrd))
    }
    val reranked = res
      .withColumn("__knn_grank", grank)
      .where(col("__knn_grank") <= lit(k))
    val byId: Map[ExprId, org.apache.spark.sql.Column] =
      (leftPlan.output.map(_.exprId).zip(lNames.map(col)) ++
       rightPlan.output.map(_.exprId).zip(rNames.map(col))).toMap
    val sel = output.map { a =>
      if (a.exprId == rankId) col("__knn_grank").cast("int").as(a.name)
      else if (distIds.contains(a.exprId)) col("knn_dist").as(a.name)
      else byId(a.exprId).as(a.name)
    }
    reranked.select(sel: _*).queryExecution.toRdd
  }
}

/** Reflection shims onto Spark-internal (Scala package-private, bytecode
  * public) entry points — the GeoParquetFileFormat pattern. */
private[graft] object GraftInternal {
  private val datasetModule = {
    val c = Class.forName("org.apache.spark.sql.classic.Dataset$")
    c.getField("MODULE$").get(null)
  }
  private val ofRowsMethod = datasetModule.getClass.getMethods
    .find(m => m.getName == "ofRows" && m.getParameterCount == 2)
    .getOrElse(throw new IllegalStateException("classic.Dataset.ofRows not found"))

  /** `Dataset.ofRows(session, logicalPlan)` — run a resolved logical plan
    * as a DataFrame (nested query execution). */
  def ofRows(session: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    ofRowsMethod.invoke(datasetModule, session, plan)
      .asInstanceOf[org.apache.spark.sql.DataFrame]
}
