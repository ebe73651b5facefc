package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.geom.prep.PreparedGeometry

import graft.core.GeomOps

/** Physical plan for [[SpatialCountJoin]]: broadcast-STRtree spatial join
  * with the match count folded into the probe loop.
  *
  * Per partition: one STRtree over the broadcast build side, a `long[]`
  * accumulator indexed by build row, the whole probe side streamed through
  * without ever constructing a matched row — then one `(build row, count)`
  * output row per build row that matched. Output size is bounded by
  * `partitions × |build|` regardless of match fan-out; the parent
  * aggregate SUMs the partial counts.
  *
  * `predicate` is normalized (LEFT geometry first) exactly as in
  * [[SpatialJoinExec]]; the same transpose applies when the build side is
  * the right input.
  */
case class SpatialJoinFoldExec(
    left: SparkPlan,
    right: SparkPlan,
    leftGeom: Expression,
    rightGeom: Expression,
    predicate: String,
    radius: Double,
    buildRight: Boolean,
    groupOutput: Seq[Attribute],
    cntAttr: Attribute) extends BinaryExecNode {

  override def output: Seq[Attribute] = groupOutput :+ cntAttr

  // cntAttr is created by this node, not read from a child
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(cntAttr)

  override def requiredChildDistribution: Seq[Distribution] =
    if (buildRight) Seq(UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))
    else Seq(BroadcastDistribution(IdentityBroadcastMode), UnspecifiedDistribution)

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
    val outAttrs = output
    val buildAttrs = buildPlan.output

    streamPlan.execute().mapPartitions { iter =>
      val rows = broadcastRows.value
      val tree = SpatialJoinExec.buildTree(rows, buildGeomBound)
      val counts = new Array[Long](rows.length)
      iter.foreach { srow =>
        val wkb = streamGeomBound.eval(srow).asInstanceOf[Array[Byte]]
        if (wkb != null) {
          val sg = GeomOps.read(wkb)
          if (!sg.isEmpty) {
            val env = new Envelope(sg.getEnvelopeInternal)
            SpatialJoinExec.padForRadius(env, predicate, r)
            val cands = tree.query(env)
            var c = 0
            while (c < cands.size()) {
              val (idx, pg) = cands.get(c).asInstanceOf[(Integer, PreparedGeometry)]
              if (test(pg, sg)) counts(idx.intValue()) += 1
              c += 1
            }
          }
        }
      }
      val joined = new JoinedRow()
      val cntRow = new GenericInternalRow(1)
      val proj = UnsafeProjection.create(outAttrs, buildAttrs :+ cntAttr)
      (0 until rows.length).iterator.flatMap { idx =>
        if (counts(idx) == 0) Iterator.empty
        else {
          cntRow.update(0, counts(idx))
          Iterator.single(proj(joined(rows(idx), cntRow)))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SpatialJoinFoldExec =
    copy(left = newLeft, right = newRight)
}
