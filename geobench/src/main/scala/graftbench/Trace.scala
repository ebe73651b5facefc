package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.{Geodesy, GeomOps}

/** A span at one layer boundary. `parent` links op → Spark job → stage by
  * the op's job tag; query spans hang off the op whose interval holds
  * them; core micro-call spans hang off `core`. Counts ride in `counts`. */
final case class Span(id: String, parent: String, name: String, startMs: Double, endMs: Double,
                      counts: Seq[(String, Double)])

/** Timed op of a measured window. `tag` is the Spark job tag of its jobs. */
final case class Sample(op: String, tag: String, startMs: Double, wallS: Double,
                        rowsIn: Long, rowsOut: Long, fsBytesRead: Long, ok: Boolean) {
  def endMs: Double = startMs + wallS * 1e3
}

/** Records the traced window from outside graft: Spark's public listener
  * for jobs, stages and tasks, and the query-execution listener for
  * Catalyst phases and scan-node row counts. Everything stays in memory
  * until [[write]]. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Tracer._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val queries = mutable.ArrayBuffer.empty[Query]
  @volatile private var events = 0L

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    jobs += Job(e.jobId, tags, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    if (e.taskInfo != null)
      taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val s = e.stageInfo
    val m = Option(s.taskMetrics)
    stages += Stage(s.stageId, s.attemptNumber(), s.submissionTime.getOrElse(0L),
      s.completionTime.getOrElse(0L), s.numTasks,
      m.map(_.inputMetrics.bytesRead).getOrElse(0L), m.map(_.inputMetrics.recordsRead).getOrElse(0L),
      m.map(x => x.shuffleReadMetrics.localBytesRead + x.shuffleReadMetrics.remoteBytesRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.diskBytesSpilled).getOrElse(0L))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    events += 1
    val phases = qe.tracker.phases
    val planMs = phases.values.map(_.durationMs).sum
    val planEnd = phases.get("planning").orElse(phases.values.headOption).map(_.endTimeMs).getOrElse(0L)
    val scanRows = collectLeaves(qe.executedPlan).flatMap(leafRows).sum
    queries += Query(planEnd, planMs / 1e3, scanRows)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def leafRows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  /** Waits until the listener bus has delivered every event of the window:
    * no new event for half a second and every job seen has ended. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
           (last != events || synchronized(jobs.exists(_.endMs < 0)))) {
      last = events
      Thread.sleep(500)
    }
  }

  // ── per-op views ───────────────────────────────────────────────────────
  def jobsOf(s: Sample): Seq[Job] = synchronized(jobs.filter(_.tags(s.tag)).toSeq)
  def stagesOf(s: Sample): Seq[Stage] = {
    val ids = jobsOf(s).flatMap(_.stages).toSet
    synchronized(stages.filter(st => ids(st.id)).toSeq)
  }
  def tasksOf(st: Stage): Seq[Long] = synchronized(taskTimes.get(st.id).map(_.toSeq).getOrElse(Nil))
  def queriesOf(s: Sample): Seq[Query] =
    synchronized(queries.filter(q => q.planEndMs >= s.startMs - 1 && q.planEndMs <= s.endMs + 1).toSeq)

  /** op → job → stage spans plus query spans, linked by the op's tag. */
  def spans(samples: Seq[Sample]): Seq[Span] = samples.flatMap { s =>
    val op = Span(s.tag, "window", s.op, s.startMs, s.endMs,
      Seq("rows_in" -> s.rowsIn.toDouble, "rows_out" -> s.rowsOut.toDouble,
        "fs_bytes_read" -> s.fsBytesRead.toDouble))
    val js = jobsOf(s).flatMap { j =>
      val jid = s"job-${j.id}"
      Span(jid, s.tag, "spark.job", j.startMs.toDouble, j.endMs.toDouble,
        Seq("stages" -> j.stages.size.toDouble)) +:
        synchronized(stages.filter(st => j.stages.contains(st.id)).toSeq).map { st =>
          Span(s"stage-${st.id}.${st.attempt}", jid, "spark.stage", st.startMs.toDouble, st.endMs.toDouble,
            Seq("tasks" -> st.tasks.toDouble, "input_bytes" -> st.inputBytes.toDouble,
              "input_records" -> st.inputRecords.toDouble, "shuffle_read_bytes" -> st.shuffleRead.toDouble,
              "shuffle_write_bytes" -> st.shuffleWrite.toDouble, "spill_bytes" -> st.spill.toDouble))
        }
    }
    val qs = queriesOf(s).zipWithIndex.map { case (q, i) =>
      Span(s"${s.tag}-q$i", s.tag, "catalyst.plan", q.planEndMs - q.planS * 1e3, q.planEndMs.toDouble,
        Seq("scan_rows" -> q.scanRows.toDouble))
    }
    op +: (js ++ qs)
  }

  def write(file: File, spans: Seq[Span]): Unit = {
    file.getParentFile.mkdirs()
    val out = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      out.println(Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "counts" -> Json.Obj(s.counts)))
    } finally out.close()
  }
}

object Tracer {
  final case class Job(id: Int, tags: Set[String], startMs: Long, stages: Seq[Int], var endMs: Long = -1)
  final case class Stage(id: Int, attempt: Int, startMs: Long, endMs: Long, tasks: Int,
                         inputBytes: Long, inputRecords: Long, shuffleRead: Long, shuffleWrite: Long,
                         spill: Long)
  /** One query's Catalyst time (analysis + optimization + planning) and the
    * rows its leaf scans produced. */
  final case class Query(planEndMs: Long, planS: Double, scanRows: Long)
}

/** Single-thread direct calls into graft.core on a fixed WKB sample; each
  * result is ns per geometry, and each call batch is a span under `core`. */
object CoreProbe {
  def run(sample: Array[Array[Byte]]): (Seq[(String, Double)], Seq[Span]) = {
    val geoms = sample.map(GeomOps.read)
    val env = new org.locationtech.jts.geom.Envelope()
    geoms.foreach(g => env.expandToInclude(g.getEnvelopeInternal))
    val mid = new org.locationtech.jts.geom.Envelope(env.centre())
    mid.expandBy(env.getWidth / 4, env.getHeight / 4)
    val window = GeomOps.write(Inputs.gf.toGeometry(mid))
    val lonLat = sample.zip(geoms).collect {
      case (b, g) if math.abs(g.getEnvelopeInternal.getMinY) < 85 && math.abs(g.getEnvelopeInternal.getMaxY) < 85 => b
    }
    var sink = 0.0
    val calls: Seq[(String, Int, Int => Double)] = Seq(
      ("core.wkb_read_ns", sample.length, i => GeomOps.read(sample(i)).getNumPoints),
      ("core.wkb_write_ns", geoms.length, i => GeomOps.write(geoms(i)).length),
      ("core.area_ns", sample.length, i => GeomOps.area(sample(i))),
      ("core.buffer_ns", sample.length, i => GeomOps.buffer(sample(i), 0.001).length),
      ("core.simplify_ns", sample.length, i => GeomOps.simplify(sample(i), 0.002).length),
      ("core.intersects_ns", sample.length, i => if (GeomOps.intersects(sample(i), window)) 1 else 0),
      ("core.transform_ns", lonLat.length, i => Geodesy.transform(lonLat(i), 4326, 3857).length))
    val results = calls.map { case (name, n, f) =>
      def pass(): Unit = { var i = 0; while (i < n) { sink += f(i); i += 1 } }
      pass() // warm
      val startMs = System.currentTimeMillis().toDouble
      val t0 = System.nanoTime()
      var passes = 0
      while (passes < 3 || System.nanoTime() - t0 < 100000000L) { pass(); passes += 1 }
      val ns = System.nanoTime() - t0
      val calls = passes.toLong * n
      ((name, ns.toDouble / math.max(calls, 1L)),
        Span(s"$name-batch", "core", name, startMs, startMs + ns / 1e6, Seq("calls" -> calls.toDouble)))
    }
    if (sink == 42.4242) println() // keeps the calls observable to the JIT
    (results.map(_._1), results.map(_._2))
  }
}
