package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result lines and the span file. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): String = render(Obj(fields))
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b @ (_: Boolean | _: Int | _: Long) => b.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

/** One measured window: its op samples, the process CPU seconds of each
  * whole rotation, and the process and host readings over it. Throughput
  * and CPU per row are medians over rotations, so a burst of host noise in
  * one rotation does not move them. */
final case class Window(samples: Seq[Sample], rotationCpuS: Seq[Double], stats: WindowStats) {
  def rotations: Int = rotationCpuS.size
  def opWallS: Double = samples.map(_.wallS).sum
  private def perRotation = samples.grouped(samples.size / rotations).toSeq
  def rowsPerS: Double = Main.median(perRotation.map(r => r.map(_.rowsIn).sum / r.map(_.wallS).sum))
  def cpuUsPerRow: Double = Main.median(perRotation.zip(rotationCpuS).map { case (r, cpu) =>
    cpu * 1e6 / r.map(_.rowsIn).sum })
}

/** Closed-loop driver: one client, one op in flight, on one Spark driver.
  *
  * Usage: `graftbench.Main --workload <compute|geo_io> --seed <n> --seconds <n>
  * --trace <0|1> --slots <n> --work <dir>`. Prints a detail line and then
  * the result line; with `--trace 1` it runs an untraced window, then a
  * traced window of the same rotation count, and reports per-layer metrics. */
object Main {
  private val StageRepeats = 3
  private val MinWarmRotations = 3
  private val MinWarmSeconds = 20
  private val MaxWarmSeconds = 35
  private val MinRotations = 6
  private val MinSamples = 40
  private val TailBeyond = 10

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  private def err(msg: String): Unit = System.err.println(s"[geobench] $msg")

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, { err(s"missing --$k"); sys.exit(2) })
    val name = opt("workload")
    if (!Workload.names.contains(name)) { err(s"unknown workload $name"); sys.exit(2) }
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val slots = opt("slots").toInt
    val work = new File(opt("work")).getAbsoluteFile
    Workload.delete(work)
    work.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("geobench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.default.parallelism", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // the status store keeps finished jobs, stages and queries in the
      // heap; a short history keeps live heap independent of run length
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    System.err.println(s"[geobench] spark session ${since(t0)} s")
    try run(spark, name, seed, seconds, trace, slots, work, t0)
    finally spark.stop()
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Int, trace: Boolean,
                  slots: Int, work: File, t0: Long): Unit = {
    graft.functions.GeoFunctions.register(spark)
    val sessionS = since(t0)

    val g0 = System.nanoTime()
    val wl = Workload(name, spark, work, seed, slots)
    val generateS = since(g0)
    val digest = Inputs.digest(wl.tables.map(_._2))
    val e0 = System.nanoTime()
    wl.computeExpectations()
    val expectS = since(e0)

    // set-up repeats its staging and keeps the median, so the first (cold)
    // write does not move setup_s; the last staging is the one the ops read
    val stagings = (1 to StageRepeats).map { _ =>
      val s0 = System.nanoTime(); val rows = wl.stage(); (since(s0), rows)
    }
    val stageS = median(stagings.map(_._1))

    val rotation = wl.rotation
    val all = mutable.ArrayBuffer.empty[Sample]
    var tagSeq = 0

    def runOp(op: Op, tagged: Boolean): Sample = {
      op.prepare()
      tagSeq += 1
      val tag = s"geobench-op-$tagSeq"
      if (tagged) spark.sparkContext.addJobTag(tag)
      val fs0 = fsBytesRead()
      val startMs = System.currentTimeMillis().toDouble
      val o0 = System.nanoTime()
      val outcome = try Right(op.run()) catch { case NonFatal(e) => Left(e) }
      val wallS = since(o0)
      if (tagged) spark.sparkContext.removeJobTag(tag)
      val fsBytes = fsBytesRead() - fs0
      Probes.sampleLoad()
      val (rowsOut, problem) = outcome match {
        case Right(r) =>
          (r.rowsOut, try r.mismatch() catch { case NonFatal(e) => Some(s"${op.name}: check threw $e") })
        case Left(e) => (0L, Some(s"${op.name} threw $e"))
      }
      problem.foreach(err)
      err(f"${op.name}%-22s $wallS%.3f s")
      val s = Sample(op.name, if (tagged) tag else "", startMs, wallS, op.rowsIn, rowsOut, fsBytes, problem.isEmpty)
      all += s
      s
    }

    def rotate(tagged: Boolean): Seq[Sample] = rotation.map(runOp(_, tagged))

    // warm up for at least MinWarmSeconds (the JIT compiler's backlog
    // drains on wall time), then until a rotation is no longer 5% faster
    // than the best before it
    val w0 = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[Double]
    while (warm.size < MinWarmRotations || since(w0) < MinWarmSeconds ||
           (since(w0) < MaxWarmSeconds && warm.last < 0.95 * warm.init.min))
      warm += rotate(tagged = false).map(_.wallS).sum
    val warmS = since(w0)
    val setupS = sessionS + generateS + stageS + warmS

    /** Whole rotations until `seconds` have passed and the sample count
      * supports a tail percentile, or exactly `fixed` rotations. */
    def measure(fixed: Option[Int], tagged: Boolean): Window = {
      Probes.start()
      val m0 = System.nanoTime()
      val samples = mutable.ArrayBuffer.empty[Sample]
      val cpu = mutable.ArrayBuffer.empty[Double]
      def r = cpu.size
      while (fixed.fold(r < MinRotations || samples.size < MinSamples || since(m0) < seconds)(r < _)) {
        val c0 = Probes.cpuNs
        samples ++= rotate(tagged)
        cpu += (Probes.cpuNs - c0) / 1e9
      }
      Window(samples.toSeq, cpu.toSeq, Probes.stop())
    }

    val window = measure(None, tagged = false)
    val walls = window.samples.map(_.wallS).sorted
    // a rotation's median sits between two op types when it has an even
    // number of them; the median over rotations of each rotation's median
    // averages that pair per rotation instead of taking the extremes of
    // two clusters from the pooled sample
    val p50 = median(window.samples.grouped(rotation.size).map(r => median(r.map(_.wallS))).toSeq)
    val n = walls.size
    val tail = walls(n - 1 - TailBeyond)
    val tailPct = 100.0 * (n - TailBeyond) / n

    val perLayer: Seq[(String, Double, String)] =
      if (!trace) Nil
      else {
        val tracer = new Tracer(spark)
        tracer.attach()
        val traced = measure(Some(window.rotations), tagged = true)
        tracer.drain()
        tracer.detach()
        val (core, coreSpans) = CoreProbe.run(wl.coreSample)
        val spansFile = new File(work, s"trace/$name-seed$seed.jsonl")
        tracer.write(spansFile, tracer.spans(traced.samples) ++ coreSpans)
        err(s"spans written to $spansFile")
        Layers.metrics(name, traced, window, tracer, slots, core, wl)
      }

    // compute writes nothing in its rotation; its write rate comes from
    // staging again with a warm JVM, after the last window has read the
    // staged files
    val writes = window.samples.filter(_.op.startsWith("write."))
    val writeRowsPerS =
      if (writes.nonEmpty) writes.map(_.rowsIn).sum / writes.map(_.wallS).sum
      else median((1 to StageRepeats).map { _ =>
        val s0 = System.nanoTime(); val rows = wl.stage(); rows / since(s0)
      })
    val storedBytes = wl.storedFiles.map(_.length).sum

    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_s", window.rowsPerS, "rows/s"),
      ("op_p50_s", p50, "s"),
      ("op_tail_s", tail, "s"),
      ("cpu_us_per_row", window.cpuUsPerRow, "us/row"),
      ("heap_live_peak_mb", window.stats.heapLivePeakMb, "MB"),
      ("stored_bytes_per_row", storedBytes.toDouble / wl.storedRows, "B/row"),
      ("write_rows_per_s", writeRowsPerS, "rows/s"))

    val failed = all.count(!_.ok)
    val opMedians = window.samples.groupBy(_.op).map { case (op, ss) => op -> median(ss.map(_.wallS)) }
    println(Json.obj(
      "detail" -> Json.Obj(Seq(
        "workload" -> name, "seed" -> seed, "slots" -> slots, "seconds" -> seconds,
        "input_digest" -> digest,
        "input_rows" -> Json.Obj(wl.tables.map { case (t, rows) => t -> rows.length }),
        "setup" -> Json.Obj(Seq("session_s" -> sessionS, "generate_s" -> generateS,
          "stage_s" -> stagings.map(_._1), "warmup_s" -> warmS, "warmup_rotation_op_s" -> warm.toSeq)),
        "expectations_s" -> expectS,
        "rotations" -> window.rotations, "ops_per_rotation" -> rotation.size,
        "window_wall_s" -> window.opWallS,
        "op_tail_percentile" -> tailPct, "op_tail_samples" -> n, "op_tail_samples_beyond" -> TailBeyond,
        "ops_failed_frac" -> failed.toDouble / all.size,
        "host" -> Json.Obj(Seq("steal_frac" -> window.stats.stealFrac, "loadavg" -> window.stats.loadavg)),
        "op_median_s" -> Json.Obj(rotation.map(o => o.name -> opMedians(o.name)))))))
    val reported = if (trace) perLayer else endToEnd
    println(Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> all.size,
      "failed" -> failed,
      "metrics" -> Json.Obj(reported.map { case (k, v, u) => k -> Json.Obj(Seq("value" -> v, "unit" -> u)) })))
  }

  /** Bytes read through Hadoop's local file system, all threads: executors
    * share the driver JVM in local mode, so this is the op's file IO. */
  def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum
}
