package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Diagnostic harness for the optimization rounds: run named queries under
  * the Bench session shape and report the orchestration profile — job,
  * stage and task counts, summed task time, and wall — so driver-loop /
  * micro-batch fixed costs are measurable without the (disabled) UI.
  *
  * Usage: runMain graft.Profile [--plans <dir>] <query[,query...]> [reps]
  * `--plans <dir>` also writes each query's `.explain("formatted")` to
  * `<dir>/<query>.txt` (the plans/r20 evidence files); reps 0 writes the
  * plans only.
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as Bench).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val (plansDir, rest) = args.toList match {
      case "--plans" :: dir :: more => (Some(dir), more)
      case more => (None, more)
    }
    val names = rest.headOption.map(_.split(",").toSet)
      .getOrElse(sys.error("usage: Profile [--plans <dir>] <query[,query...]> [reps]"))
    val reps = if (rest.length > 1) rest(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // experiment passthrough: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" lets an
    // optimization round A/B a session conf without rebuilding
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(_.split(";")).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }
    val spark = LocalSession(cpus, "ERROR", extraConf)

    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    // per-stage wall + task-time attribution, keyed by the stage's callsite
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val si = sc.stageInfo
        val key = si.name.split("\n")(0)
        val dur = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L)
        stageAgg.compute(key, (_, v) => {
          val arr = if (v == null) Array(0L, 0L) else v
          arr(0) += dur; arr(1) += 1; arr
        })
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (te.taskInfo != null) taskMs.addAndGet(te.taskInfo.duration)
      }
    })

    // Catalyst phase attribution (round 21): per-execution analysis /
    // optimization / planning durations from the QueryPlanningTracker,
    // summed across every (nested) query execution the query runs — the
    // e-family diagnosis (VERDICT item 4) needs Catalyst-vs-execution
    // separation, not just job counts.
    val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    val execCount = new java.util.concurrent.atomic.AtomicLong
    def addPhases(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
      execCount.incrementAndGet()
      qe.tracker.phases.foreach { case (p, s) =>
        phaseMs.computeIfAbsent(p, _ => new java.util.concurrent.atomic.AtomicLong)
          .addAndGet(s.durationMs)
      }
    }
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = addPhases(qe)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = addPhases(qe)
    })

    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    if (reps > 0) run(SparkEntry.entry(spark)) // warmup: JVM + codegen + footer caches
    plansDir.foreach(new java.io.File(_).mkdirs())

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names(n) }
    selected.foreach { case (name, fn) =>
      plansDir.foreach { dir =>
        val txt = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, s"$name.txt"), txt)
        println(s"dumped $name (${txt.length} chars)")
        graft.core.Blocks.scrub(spark)
      }
      for (r <- 1 to reps) {
        graft.core.Blocks.scrub(spark, blocking = true)
        Thread.sleep(200) // let listener events from the scrub drain
        stageAgg.clear()
        phaseMs.clear()
        execCount.set(0)
        val (j0, s0, t0, m0) = (jobs.get, stages.get, tasks.get, taskMs.get)
        val w0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val buildS = (System.nanoTime() - w0) / 1e9 // spark.sql() = analysis
        run(df)
        val wall = (System.nanoTime() - w0) / 1e9
        Thread.sleep(300) // drain async listener events before the snapshot
        import scala.jdk.CollectionConverters._
        val phases = phaseMs.asScala.toSeq.sortBy(_._1)
          .map { case (p, v) => f"$p=${v.get / 1e3}%.2fs" }.mkString(" ")
        println(f"PROFILE $name rep$r wall=$wall%.2fs jobs=${jobs.get - j0} " +
          f"stages=${stages.get - s0} tasks=${tasks.get - t0} taskTime=${(taskMs.get - m0) / 1e3}%.1fs " +
          f"build=$buildS%.2fs nExec=${execCount.get} $phases")
        if (r == reps) {
          import scala.jdk.CollectionConverters._
          stageAgg.asScala.toSeq.sortBy(-_._2(0)).take(8).foreach { case (k, v) =>
            println(f"  STAGE ${v(0) / 1e3}%7.2fs n=${v(1)}%-3d $k")
          }
        }
      }
    }
    spark.stop()
  }
}
