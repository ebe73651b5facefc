package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, Attribute, AttributeReference, AttributeSet, BinaryComparison, Cast, DenseRank, EqualNullSafe, EqualTo, ExprId, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, NamedExpression, Not, Or, PredicateHelper, Rank, RowNumber, SortOrder, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, Join, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.IntegerType

/** Plans `a JOIN b ON ST_Intersects(a.g, b.g) [AND …]` as [[SpatialJoinExec]].
  *
  * Without this rule Catalyst has no equi-join keys to work with and falls
  * back to `BroadcastNestedLoopJoin` — every pair of rows evaluated, O(n·m).
  * The rule fires when:
  *  - the join is Inner with a conjunct that is one supported `ST_*`
  *    predicate (our functions resolve to `StaticInvoke` onto
  *    `graft.core.GeomOps`, so the match is structural);
  *  - one geometry argument references only the left side and the other only
  *    the right;
  *
  * Physical pick: if one side's stats fit under
  * `spark.sql.autoBroadcastJoinThreshold`, the smaller qualifying side is
  * broadcast as an STRtree ([[SpatialJoinExec]]); otherwise — big×big — the
  * join becomes a [[GridSpatialJoinExec]] grid-shuffle with a cell size
  * sampled from the data at execution time, so an unbroadcastable spatial
  * join never silently degrades to BroadcastNestedLoopJoin.
  *
  * Remaining conjuncts become a `FilterExec` above the join, except that
  * the grid exec evaluates the throw-free ones ([[throwFree]]) before its
  * refine test. `ST_DWithin(a, b, d)` is supported for foldable `d`.
  * [[GridJoin]], the node of `SpatialJoin.grid`, always plans the grid
  * exec, at the node's cell size.
  *
  * Registered once per session by `GeoFunctions.register`, together with
  * the whole SQL surface (Geo, Text, Media, aggregates), through
  * `spark.experimental.extraStrategies` (no spark.sql.extensions config
  * needed, works on a live session); `GraftExtensions` injects it too.
  */
object SpatialJoinStrategy extends SparkStrategy with PredicateHelper {

  private val geomOps = Class.forName("graft.core.GeomOps")
  private val geodesy = Class.forName("graft.core.Geodesy")
  private val supported = SpatialJoinExec.transpose.keySet

  private def strip(e: Expression): Expression = e match {
    case c: Cast => strip(c.child)
    case other => other
  }

  /** (leftGeom, rightGeom, normalized predicate, radius, exact) if `c` is a
    * supported spatial predicate splitting cleanly across the join.
    * `exact = false` means the planned predicate is a SUPERSET of the
    * conjunct (strict `<` planned as `<=`): the caller must keep the
    * original conjunct as a residual filter — the join then generates
    * candidates, the residual restores exactness. Shared with
    * [[SpatialCountFoldRule]] (which requires `exact`: a fold counts
    * matches inside the exec, so a residual would be too late). */
  private[plans] def extract(c: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression, String, Double, Boolean)] = c match {
    case si: StaticInvoke if si.staticObject == geomOps && supported(si.functionName) =>
      val args = si.arguments.map(strip)
      if (args.length < 2) return None
      val (a, b) = (args(0), args(1))
      val radius: Option[Double] =
        if (si.functionName == "dWithin") {
          if (args.length == 3 && args(2).foldable) {
            val v = args(2).eval()
            if (v == null) None else Some(v.toString.toDouble)
          } else None // non-constant distance: leave to Spark
        } else Some(0.0)
      radius.flatMap { r =>
        if (a.references.nonEmpty && b.references.nonEmpty &&
            a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet))
          Some((a, b, si.functionName, r, true))
        else if (a.references.nonEmpty && b.references.nonEmpty &&
                 a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))
          // P(a∈right, b∈left) ⇒ normalize to transpose(P)(left, right)
          Some((b, a, SpatialJoinExec.transpose(si.functionName), r, true))
        else None
      }
    // distance-comparison shapes: `ST_Distance*(a, b) <= d` is a radius
    // join the user spelled without ST_DWithin — covers the planar kernel,
    // the explicit geodesic kernels (`ST_DistanceSphere(a,b) <= d`), and
    // the edges-dispatch rewrite over stamped columns, which all resolve
    // to the same StaticInvoke trees. Without these cases the condition
    // falls through to BroadcastNestedLoopJoin, the exact O(n·m) the
    // strategy exists to prevent. Strict `<` plans the inclusive
    // predicate and keeps the conjunct as a residual (exact = false).
    case LessThanOrEqual(si: StaticInvoke, d) if isDistanceKernel(si) && d.foldable =>
      extractRadius(si, d, left, right, exact = true)
    case GreaterThanOrEqual(d, si: StaticInvoke) if isDistanceKernel(si) && d.foldable =>
      extractRadius(si, d, left, right, exact = true)
    case LessThan(si: StaticInvoke, d) if isDistanceKernel(si) && d.foldable =>
      extractRadius(si, d, left, right, exact = false)
    case GreaterThan(d, si: StaticInvoke) if isDistanceKernel(si) && d.foldable =>
      extractRadius(si, d, left, right, exact = false)
    case _ => None
  }

  private def isDistanceKernel(si: StaticInvoke): Boolean =
    (si.staticObject == geomOps && si.functionName == "distance") ||
      (si.staticObject == geodesy &&
        SpatialJoinExec.geodesicDistanceToPredicate.contains(si.functionName))

  private def extractRadius(si: StaticInvoke, d: Expression,
                            left: LogicalPlan, right: LogicalPlan, exact: Boolean)
      : Option[(Expression, Expression, String, Double, Boolean)] = {
    val v = d.eval()
    if (v == null) return None
    val r = v.toString.toDouble
    if (r < 0 || r.isNaN) return None // degenerate: leave to Spark
    val args = si.arguments.map(strip)
    if (args.length != 2) return None
    val (a, b) = (args(0), args(1))
    val pred =
      if (si.staticObject == geomOps) "dWithin"
      else SpatialJoinExec.geodesicDistanceToPredicate(si.functionName)
    if (a.references.nonEmpty && b.references.nonEmpty &&
        a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet))
      Some((a, b, pred, r, exact))
    else if (a.references.nonEmpty && b.references.nonEmpty &&
             a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))
      Some((b, a, pred, r, exact)) // distance is symmetric
    else None
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // kNN-per-group: Filter(rk <= k) over Window(ROW_NUMBER / RANK /
    // DENSE_RANK ORDER BY ST_Distance) over a condition-less cross join →
    // adaptive kNN operator instead of a cartesian + full window sort.
    // RANK and DENSE_RANK plan in the matching ties mode (round 18): a
    // row resolves only when its candidate pool — all right rows within
    // the proven radius — proves the k-th threshold (rank: k-th smallest
    // with multiplicity; dense_rank: k-th smallest DISTINCT distance,
    // counted as the pool's own max dense_rank), so boundary ties are
    // recovered exactly with the literal window's shared-rank values.
    case Filter(cond,
        w @ Window(Seq(al @ Alias(WindowExpression(rf,
          WindowSpecDefinition(Seq(pk: Attribute), Seq(so), _)), _)), _, _, wchild, _)) =>
      rf match {
        case RowNumber() =>
          planKnn(cond, w.output, al, pk, so, wchild, "row_number").toSeq
        case _: Rank =>
          planKnn(cond, w.output, al, pk, so, wchild, "rank").toSeq
        case _: DenseRank =>
          planKnn(cond, w.output, al, pk, so, wchild, "dense_rank").toSeq
        case _ => Nil
      }
    // count-folded spatial join (rewritten by SpatialCountFoldRule)
    case sc: SpatialCountJoin =>
      SpatialJoinFoldExec(planLater(sc.left), planLater(sc.right),
        sc.leftGeom, sc.rightGeom, sc.predicate, sc.radius,
        sc.buildRight, sc.groupOutput, sc.cntAttr) :: Nil
    // absorb the pruning Project Catalyst leaves above the join: the join
    // then emits only consumed attributes — geometry blobs referenced only
    // by the predicate never reach an output row (dominant cost at high
    // match fan-out)
    case Project(projectList, j @ Join(_, _, Inner, Some(_), _)) =>
      planSpatialJoin(j, Some(projectList))
    case j @ Join(_, _, Inner, Some(_), _) =>
      planSpatialJoin(j, None)
    case Project(projectList, g: GridJoin) =>
      planGridJoin(g, Some(projectList))
    case g: GridJoin =>
      planGridJoin(g, None)
    case _ => Nil
  }

  // once per JVM per shape: repeated planning passes (AQE stage
  // re-optimization, plan enumeration) would otherwise re-log the same
  // multi-line warning and bury the one actionable message
  private val warnedShapes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def warnOnce(key: String, msg: String): Unit =
    if (warnedShapes.add(key)) logWarning(msg + " (logged once per JVM)")

  /** Plans the windowed-top-k-by-distance shape as [[KnnTopKExec]].
    *
    * Fires only on the exact safe shape (anything else falls through to
    * Spark's own planning):
    *  - Filter compares the single row_number alias against an int literal
    *    (`rk <= k`, `rk < k+1`, or `rk = 1`);
    *  - the window partitions by ONE attribute and orders ascending by
    *    `ST_Distance(lg, rg)` (possibly analyzer-extracted into a `_w0`
    *    projection below the window);
    *  - below sits a Project of plain side attributes (plus distance
    *    aliases) over an Inner/Cross join with NO condition — a genuine
    *    cartesian, which is exactly the case worth intercepting;
    *  - the partition key lives on the same side as `lg`.
    */
  private def planKnn(cond: Expression, wOutput: Seq[Attribute], al: Alias,
                      pk: Attribute, so: SortOrder,
                      wchild: LogicalPlan, rankMode: String): Option[SparkPlan] = {
    val rk = al.toAttribute
    val k: Int = cond match {
      case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType)) if a.exprId == rk.exprId => v
      case LessThan(a: Attribute, Literal(v: Int, IntegerType)) if a.exprId == rk.exprId => v - 1
      case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: Attribute) if a.exprId == rk.exprId => v
      case GreaterThan(Literal(v: Int, IntegerType), a: Attribute) if a.exprId == rk.exprId => v - 1
      case EqualTo(a: Attribute, Literal(v: Int, IntegerType)) if a.exprId == rk.exprId && v == 1 => 1
      case _ => return None
    }
    if (k < 1) return None
    // DESC = farthest-k (round 19, geodesic metrics round 20): planned
    // via [[graft.operators.SpatialJoin.farthestK]] for every supported
    // metric (planar box bounds / triangle-inequality circle bounds);
    // only DENSE_RANK-DESC keeps the loud warning below — the k-th
    // DISTINCT distance has no cell bound, documented divergence
    val descending = so.direction != Ascending
    // the optimizer's top-k window rewrite (InferWindowGroupLimit) may have
    // inserted a WindowGroupLimit below the Window — our exec subsumes it
    val below = wchild match {
      case WindowGroupLimit(_, _, _, _, c) => c
      case c => c
    }
    val (projectList, join) = below match {
      case Project(pl, j: Join) => (pl, j)
      case _ => return None
    }
    if (join.condition.nonEmpty ||
        (join.joinType != Inner && join.joinType != Cross)) return None
    // (left geom, right geom, knn metric): plain planar distance, or the
    // edges-dispatch geodesic kernels — an ORDER BY over a stamped column
    // must still take the adaptive kNN operator, now with a meters metric
    def distArgs(e: Expression): Option[(Attribute, Attribute, String)] = e match {
      case si: StaticInvoke if si.staticObject == geomOps && si.functionName == "distance" =>
        si.arguments.map(strip) match {
          case Seq(a: Attribute, b: Attribute) => Some((a, b, "planar"))
          case _ => None
        }
      case si: StaticInvoke if si.staticObject == geodesy &&
          knnMetricOf.contains(si.functionName) =>
        si.arguments.map(strip) match {
          case Seq(a: Attribute, b: Attribute) =>
            Some((a, b, knnMetricOf(si.functionName)))
          case _ => None
        }
      case _ => None
    }
    // resolve the (possibly analyzer-extracted `_w0`) order expression
    val ordExpr = so.child match {
      case a: Attribute =>
        projectList.collectFirst { case pal @ Alias(child, _) if pal.exprId == a.exprId => child }
          .getOrElse(return None)
      case other => other
    }
    val (g1, g2, metric) = distArgs(ordExpr).getOrElse(return None)
    // geodesic DESC (round 20): planned — farthestK's triangle-inequality
    // circle bounds are metric-free-sound, so every supported meters
    // metric takes the same cell-pruned path as planar
    if (descending && rankMode == "dense_rank") {
      warnOnce("farthest-k-dense", "graft: DENSE_RANK over ST_Distance DESC " +
        "(farthest-k distance classes) is NOT planned — the k-th DISTINCT " +
        "distance has no cell bound, so the operator would scan every " +
        "candidate anyway; executing the literal cartesian + window sort.")
      return None
    }
    // orient: lg with the left side; distance is symmetric so flip freely
    val (lg, rg) =
      if (g1.references.subsetOf(join.left.outputSet) &&
          g2.references.subsetOf(join.right.outputSet)) (g1, g2)
      else if (g2.references.subsetOf(join.left.outputSet) &&
               g1.references.subsetOf(join.right.outputSet)) (g2, g1)
      else return None
    if (!join.left.outputSet.contains(pk)) return None
    // every projected item must be a side attribute or a distance alias
    // (of the SAME metric — mixing metrics would re-rank inconsistently)
    val sideAttrs = join.left.outputSet ++ join.right.outputSet
    val distIds = scala.collection.mutable.Set.empty[ExprId]
    projectList.foreach {
      case a: Attribute if sideAttrs.contains(a) => ()
      case pal @ Alias(child, _) if distArgs(child).contains((lg, rg, metric)) ||
                                    distArgs(child).contains((rg, lg, metric)) =>
        distIds += pal.exprId
      case _ => return None
    }
    Some(KnnTopKExec(wOutput, join.left, join.right, lg, rg, pk, k,
      rk.exprId, distIds.toSet, metric, rankMode, descending))
  }

  /** Geodesy kernel name (as StaticInvoke'd by the edges dispatch) →
    * [[graft.operators.SpatialJoin.knn]] metric name. */
  private val knnMetricOf: Map[String, String] = Map(
    "distanceSphere" -> "sphere", "distanceGeodesic" -> "karney",
    "distanceSpheroid" -> "spheroid", "distanceVincenty" -> "vincenty")

  /** True if `c` is an equality whose sides split across the join — i.e. a
    * key Spark's own hash/sort-merge joins can use. */
  private def isEquiConjunct(c: Expression, left: LogicalPlan, right: LogicalPlan): Boolean = {
    def spans(a: Expression, b: Expression): Boolean =
      a.references.nonEmpty && b.references.nonEmpty &&
        ((a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
         (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet)))
    c match {
      case EqualTo(a, b) => spans(a, b)
      case EqualNullSafe(a, b) => spans(a, b)
      case _ => false
    }
  }

  /** True if `c` cannot throw and reads only its own row: And/Or/Not,
    * IsNull/IsNotNull, comparisons and IN over attributes and literals.
    * Only such a conjunct rides into [[GridSpatialJoinExec]]'s probe loop,
    * where it runs on candidate pairs the exact predicate may still
    * reject — a division, an ANSI cast or an `element_at` there could fail
    * a query whose answer never contains the failing pair. */
  private[graft] def throwFree(c: Expression): Boolean = {
    def operand(e: Expression) = e.isInstanceOf[AttributeReference] || e.isInstanceOf[Literal]
    c match {
      case And(a, b) => throwFree(a) && throwFree(b)
      case Or(a, b) => throwFree(a) && throwFree(b)
      case Not(a) => throwFree(a)
      case IsNull(a) => operand(a)
      case IsNotNull(a) => operand(a)
      case b: BinaryComparison => operand(b.left) && operand(b.right)
      case In(v, list) => operand(v) && list.forall(operand)
      case InSet(v, _) => operand(v)
      case _ => false
    }
  }

  private def planSpatialJoin(j: Join,
                              proj: Option[Seq[NamedExpression]]): Seq[SparkPlan] = {
    val Join(left, right, _, Some(cond), _) = j: @unchecked
    val conjuncts = splitConjunctivePredicates(cond)
    // An equi-key between the sides means Spark's native hash/sort-merge join
    // (with the ST_* predicate as a post-filter) beats a spatial join with the
    // equality demoted to a post-filter — especially for selective keys. Yield.
    if (conjuncts.exists(isEquiConjunct(_, left, right))) return Nil
    val hit = conjuncts.iterator
      .map(c => c -> extract(c, left, right))
      .collectFirst { case (c, Some(x)) => c -> x }
    hit match {
      case None => Nil
      case Some((chosen, (lg, rg, pred, radius, exact))) =>
        // inexact extraction (strict <): the join generates candidates at
        // the inclusive radius; the original conjunct stays as a residual
        // filter to restore exactness on the boundary
        val remaining =
          if (exact) conjuncts.filterNot(_ fastEquals chosen) else conjuncts
        val threshold = SQLConf.get.autoBroadcastJoinThreshold
        val lSize = left.stats.sizeInBytes
        val rSize = right.stats.sizeInBytes
        // an explicit broadcast() hint overrides the size estimate, exactly
        // like Spark's own join planning (the user asserts the side fits)
        val hintLeft = j.hint.leftHint.exists(_.strategy.contains(BROADCAST))
        val hintRight = j.hint.rightHint.exists(_.strategy.contains(BROADCAST))
        val canLeft = hintLeft || (threshold > 0 && lSize <= threshold)
        val canRight = hintRight || (threshold > 0 && rSize <= threshold)
        val broadcastable = canLeft || canRight
        // big×big path: throw-free residual conjuncts ride INTO the grid
        // exec and are evaluated in its probe loop BEFORE the exact JTS
        // refine test — a cheap inequality like DBSCAN's canonical
        // `a.id < b.id` then skips the expensive geometry test for the
        // pairs it rejects. Everything else (kernel calls such as the
        // strict-< distance residual, arithmetic, casts) stays a FilterExec
        // above the join, where it runs on refine survivors only.
        val (absorbed, residual) =
          if (broadcastable) (Nil, remaining) else remaining.partition(throwFree)
        val exec: SparkPlan =
          if (broadcastable) {
            val buildRight =
              if (hintRight != hintLeft) hintRight
              else if (canLeft && canRight) rSize <= lSize
              else canRight
            SpatialJoinExec(planLater(left), planLater(right),
              lg, rg, pred, radius, buildRight, narrowed(left, right, proj, residual))
          } else // big×big: grid shuffle, never BNLJ
            GridSpatialJoinExec(planLater(left), planLater(right), lg, rg, pred, radius,
              narrowed(left, right, proj, residual), absorbed.reduceOption(And))
        projected(exec, proj, residual) :: Nil
    }
  }

  /** The join's output narrowed to what the parent projection and the
    * residual filter above the join read; None = no parent projection. */
  private def narrowed(left: LogicalPlan, right: LogicalPlan,
                       proj: Option[Seq[NamedExpression]],
                       residual: Seq[Expression]): Option[Seq[Attribute]] =
    proj.map { pl =>
      val needed = AttributeSet(pl.flatMap(_.references) ++ residual.flatMap(_.references))
      (left.output ++ right.output).filter(needed.contains)
    }

  /** `exec` under the residual filter and the parent projection; the
    * projection is dropped when it is exactly the join's output. */
  private def projected(exec: SparkPlan, proj: Option[Seq[NamedExpression]],
                        residual: Seq[Expression]): SparkPlan = {
    val withFilter =
      if (residual.isEmpty) exec else FilterExec(residual.reduce(And), exec)
    proj match {
      case Some(pl)
        if pl.length == exec.output.length &&
          pl.zip(exec.output).forall {
            case (a: Attribute, o) => a.exprId == o.exprId
            case _ => false
          } && residual.isEmpty =>
        exec // projection IS the join output — no extra node
      case Some(pl) => ProjectExec(pl, withFilter)
      case None => withFilter
    }
  }

  /** [[GridJoin]] (`SpatialJoin.grid`): the grid exec at the caller's
    * cell size, whatever the sides' sizes. */
  private def planGridJoin(g: GridJoin, proj: Option[Seq[NamedExpression]]): Seq[SparkPlan] = {
    val exec = GridSpatialJoinExec(planLater(g.left), planLater(g.right),
      g.leftGeom, g.rightGeom, "intersects", 0.0,
      narrowed(g.left, g.right, proj, Nil), cellSize = Some(g.cellSize))
    projected(exec, proj, Nil) :: Nil
  }
}
