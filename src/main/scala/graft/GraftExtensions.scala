package graft

import org.apache.spark.sql.SparkSessionExtensions

/** `spark.sql.extensions` entry point — the standard zero-code library
  * integration: set
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * in spark-defaults (or `SparkSession.builder.withExtensions(new
  * GraftExtensions()(_))`) and every session gets the full surface with
  * no `GeoFunctions.register(spark)` call: every graft SQL function —
  * the ST_* scalars and aggregates and the Text and Media `graft_*`
  * functions (injected at the registry level, so they resolve for the
  * session's very FIRST query — Spark 4 raises UNRESOLVED_ROUTINE during
  * resolution, which rules out any post-resolution registration hook),
  * the spatial-join planner strategy, and the optimizer rules.
  *
  * Both wirings read the one descriptor list
  * [[graft.functions.GeoFunctions.functionDescriptors]], so the builders
  * are the SAME objects `register` installs. Placement note:
  * extension-injected optimizer rules run inside the main
  * operator-optimization batch rather than
  * `experimental.extraOptimizations` (after it) where `register` puts
  * them. Both rules (SpatialCountFoldRule, NativePointFastPath) are
  * shape-driven, idempotent accelerators whose non-firing leaves plans
  * correct (the unfolded count / the WKB path), so their order does not
  * matter. Edges-stamped extents need no rule: `ST_Extent_Agg` folds the
  * bounds `ST_BBox` builds, and that builder already picks the geodesic
  * bound at analysis. The end-to-end equivalence of both wirings is
  * pinned by the extensions drive (native fast path + geodesic extent +
  * spatial strategy through a config-only spark-shell). Calling `register`
  * on an extensions-built session stays safe and cheap: it skips every
  * name already bound to graft's own builder, and its
  * `extraOptimizations` appends are idempotent re-runs. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GeoFunctions.functionDescriptors.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.SpatialJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.SpatialCountFoldRule)
    ext.injectOptimizerRule(_ => graft.plans.NativePointFastPath)
  }
}
