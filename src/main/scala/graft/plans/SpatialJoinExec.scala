package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.index.strtree.STRtree

import graft.core.GeomOps

/** Broadcast-STRtree spatial join as a first-class physical operator.
  *
  * The reference ships the candidate-generation primitive
  * (`intersection_candidates_with_other`,
  * rust/geoarrow-old/src/indexed/array.rs:50-57) and leaves composition to
  * the host engine; here the host engine *is* the composition: the build
  * side arrives through a real `BroadcastExchange` (reused across stages,
  * AQE-visible), each task bulk-loads one STRtree over it, streams the probe
  * side through, and emits `UnsafeRow`s directly — no Row encoder, and
  * Catalyst column pruning / filter pushdown apply above and below like any
  * built-in join. Versus the `BroadcastNestedLoopJoin` Spark would plan for
  * a θ-join on an `ST_*` predicate this is O(n log m) instead of O(n·m).
  *
  * `predicate` is normalized by [[SpatialJoinStrategy]] to take the LEFT
  * geometry as its first argument (GeomOps method name). `radius` > 0 only
  * for dwithin — it expands the probe envelope.
  */
case class SpatialJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftGeom: Expression,
    rightGeom: Expression,
    predicate: String,
    radius: Double,
    buildRight: Boolean,
    projection: Option[Seq[Attribute]] = None) extends BinaryExecNode {

  /** `projection` narrows the emitted row to the attributes the parent
    * actually consumes (set by [[SpatialJoinStrategy]] from the enclosing
    * Project): geometry blobs needed only by the join predicate are never
    * written into output rows — at high match fan-out that's the dominant
    * cost. */
  override def output: Seq[Attribute] =
    projection.getOrElse(left.output ++ right.output)

  /** Stream-side partitioning survives the join, but only while its
    * expressions are still present in the (possibly narrowed) output —
    * otherwise advertising it would break the SparkPlan invariant that
    * partitioning expressions come from `output`. */
  override def outputPartitioning: Partitioning = {
    val p = (if (buildRight) left else right).outputPartitioning
    p match {
      case e: Expression if !e.references.subsetOf(outputSet) =>
        org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(p.numPartitions)
      case _ => p
    }
  }

  override def requiredChildDistribution: Seq[Distribution] =
    if (buildRight) Seq(UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))
    else Seq(BroadcastDistribution(IdentityBroadcastMode), UnspecifiedDistribution)

  /** prepared(buildGeom) tested against the streamed geometry. When the
    * build side is the predicate's FIRST argument (buildRight=false after
    * normalization ⇒ build side is left) the prepared-geometry method
    * applies directly; otherwise through the transpose (contains↔within,
    * covers↔coveredBy; the rest are symmetric). */
  private def test(p: PreparedGeometry, g: Geometry): Boolean =
    SpatialJoinExec.refine(
      if (buildRight) SpatialJoinExec.transpose(predicate) else predicate, radius, p, g)

  override protected def doExecute(): RDD[InternalRow] = {
    val (buildPlan, streamPlan) = if (buildRight) (right, left) else (left, right)
    val (buildGeomE, streamGeomE) = if (buildRight) (rightGeom, leftGeom) else (leftGeom, rightGeom)
    val broadcastRows = buildPlan.executeBroadcast[Array[InternalRow]]()
    val buildGeomBound = BindReferences.bindReference(buildGeomE, buildPlan.output)
    val streamGeomBound = BindReferences.bindReference(streamGeomE, streamPlan.output)
    val r = radius
    val bRight = buildRight
    val outAttrs = output
    val joinedAttrs = left.output ++ right.output

    streamPlan.execute().mapPartitions { iter =>
      val rows = broadcastRows.value
      val tree = SpatialJoinExec.buildTree(rows, buildGeomBound)
      val joined = new JoinedRow()
      val proj = UnsafeProjection.create(outAttrs, joinedAttrs)
      iter.flatMap { srow =>
        val wkb = streamGeomBound.eval(srow).asInstanceOf[Array[Byte]]
        if (wkb == null) Iterator.empty
        else {
          val sg = GeomOps.read(wkb)
          if (sg.isEmpty) Iterator.empty
          else {
            val env = new Envelope(sg.getEnvelopeInternal)
            SpatialJoinExec.padForRadius(env, predicate, r)
            val cands = tree.query(env)
            // lazy: each next() projects into the reused UnsafeRow buffer —
            // the doExecute contract allows row reuse, so no per-row copy
            (0 until cands.size()).iterator.flatMap { i =>
              val (idx, pg) = cands.get(i).asInstanceOf[(Integer, PreparedGeometry)]
              if (test(pg, sg)) {
                val brow = rows(idx.intValue())
                if (bRight) joined(srow, brow) else joined(brow, srow)
                Iterator.single(proj(joined))
              } else Iterator.empty
            }
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan, newRight: SparkPlan): SpatialJoinExec =
    copy(left = newLeft, right = newRight)
}

object SpatialJoinExec {
  /** The STRtree over the broadcast build rows that both broadcast execs
    * probe: each row with a non-null, non-empty geometry (`geom`, bound to
    * the build side) is one item, (its index in `rows`, its prepared
    * geometry), keyed by its envelope. */
  def buildTree(rows: Array[InternalRow], geom: Expression): STRtree = {
    val tree = new STRtree()
    val prep = new PreparedGeometryFactory()
    var i = 0
    while (i < rows.length) {
      val wkb = geom.eval(rows(i)).asInstanceOf[Array[Byte]]
      if (wkb != null) {
        val g = GeomOps.read(wkb)
        if (!g.isEmpty) tree.insert(g.getEnvelopeInternal, (Integer.valueOf(i), prep.create(g)))
      }
      i += 1
    }
    tree.build()
    tree
  }

  /** P(a,b) ⟺ transpose(P)(b,a). */
  val transpose: Map[String, String] = Map(
    "intersects" -> "intersects", "contains" -> "within", "within" -> "contains",
    "covers" -> "coveredBy", "coveredBy" -> "covers", "touches" -> "touches",
    "overlaps" -> "overlaps", "crosses" -> "crosses", "equalsTopo" -> "equalsTopo",
    "dWithin" -> "dWithin",
    // geodesic dWithin family (symmetric): planned from the edges-dispatch
    // rewrite of ST_DWithin over stamped columns — `radius` is METERS
    "dWithinSphere" -> "dWithinSphere", "dWithinGeodesic" -> "dWithinGeodesic",
    "dWithinSpheroid" -> "dWithinSpheroid", "dWithinVincenty" -> "dWithinVincenty")

  /** The exact test `name(p, g)` with the prepared geometry `p` as the
    * first argument; `radius` is the dWithin distance. */
  def refine(name: String, radius: Double, p: PreparedGeometry, g: Geometry): Boolean =
    name match {
      case "intersects" => p.intersects(g)
      case "contains" => p.contains(g)
      case "within" => p.within(g)
      case "covers" => p.covers(g)
      case "coveredBy" => p.coveredBy(g)
      case "touches" => p.touches(g)
      case "overlaps" => p.overlaps(g)
      case "crosses" => p.crosses(g)
      case "equalsTopo" => p.getGeometry.equalsTopo(g)
      case "dWithin" => p.getGeometry.isWithinDistance(g, radius)
      case n if isGeodesicDWithin(n) => geodesicTest(n, p.getGeometry, g, radius)
      case other => throw new IllegalStateException(s"unsupported spatial predicate: $other")
    }

  /** Geodesy kernel method name (as it appears in the analysis-time
    * rewrite's StaticInvoke) → the planner's predicate name. */
  val geodesicDistanceToPredicate: Map[String, String] = Map(
    "distanceSphere" -> "dWithinSphere", "distanceGeodesic" -> "dWithinGeodesic",
    "distanceSpheroid" -> "dWithinSpheroid", "distanceVincenty" -> "dWithinVincenty")

  def isGeodesicDWithin(name: String): Boolean =
    name != "dWithin" && name.startsWith("dWithin")

  /** Exact geodesic dWithin test — SAME point semantics as the rewritten
    * expression's kernels (first coordinate of each geometry, as
    * `Geodesy.distance*` read their WKB args). */
  def geodesicTest(name: String, a: Geometry, b: Geometry, meters: Double): Boolean = {
    val ca = a.getCoordinate
    val cb = b.getCoordinate
    if (ca == null || cb == null) return false
    val d = name match {
      case "dWithinSphere" => graft.core.Geodesy.haversineMeters(ca.x, ca.y, cb.x, cb.y)
      case "dWithinGeodesic" => graft.core.KarneyGeodesic.distance(ca.y, ca.x, cb.y, cb.x)
      case "dWithinSpheroid" => graft.core.Geodesy.andoyerMeters(ca.x, ca.y, cb.x, cb.y)
      case "dWithinVincenty" => graft.core.Geodesy.vincentyMeters(ca.x, ca.y, cb.x, cb.y)
      case other => throw new IllegalStateException(s"not a geodesic dWithin: $other")
    }
    d <= meters
  }

  /** Expand a lon/lat envelope so it covers every point within `meters`
    * of it, CONSERVATIVELY across all supported earth models: latitude
    * degrees use the global minimum meters-per-degree (110,574 at the
    * WGS84 equator, rounded DOWN to 110,000 for slack), longitude scales
    * by 1/cos of the most extreme padded latitude. Pole-adjacent
    * envelopes widen to the full longitude span (meridians converge —
    * no bounded lon pad is correct there). Over-padding only costs extra
    * CANDIDATES; the exact geodesic test decides membership. */
  def padGeodesic(env: Envelope, meters: Double): Unit = {
    val latPad = meters / 110000.0
    val y0 = math.max(env.getMinY - latPad, -90.0)
    val y1 = math.min(env.getMaxY + latPad, 90.0)
    val phiMax = math.max(math.abs(y0), math.abs(y1))
    // full longitude span when (a) pole-adjacent — meridians converge, no
    // bounded lon pad is correct — or (b) the padded range would cross the
    // ±180 antimeridian: envelopes don't wrap, so a neighborhood that
    // straddles the seam must widen to the full span or pairs across it
    // silently vanish from join output. Over-padding costs only
    // candidates; note the grid path replicates a full-span row into every
    // covering lon cell (bounded by the ≤8k-cells-per-axis grid floor) —
    // pole-adjacent/seam-straddling geodesic grid joins pay that
    // replication, the broadcast path does not.
    lazy val lonPad = meters / (110000.0 * math.cos(math.toRadians(phiMax)))
    if (phiMax >= 89.0 ||
        env.getMinX - lonPad < -180.0 || env.getMaxX + lonPad > 180.0) {
      env.expandToInclude(-180.0, y0)
      env.expandToInclude(180.0, y1)
    } else {
      env.expandBy(lonPad, latPad)
    }
  }

  /** Envelope expansion for a dWithin radius: planar units for the planar
    * predicate, geodesic meters→degrees for the geodesic family. */
  def padForRadius(env: Envelope, predicate: String, radius: Double): Unit =
    if (radius > 0) {
      if (isGeodesicDWithin(predicate)) padGeodesic(env, radius)
      else env.expandBy(radius)
    }
}
