package graftbench

/** Per-layer metrics of a traced window. Every name is printed for every
  * workload so that all traced runs report the same set; a metric that
  * belongs to another workload's ops reads 0 (that op did not run). */
object Layers {
  val KernelOps = Seq("scan_only", "area_buffer", "simplify", "geodesic_length", "window_filter", "extent_agg")
  val JoinOps = Seq("pip_broadcast", "grid_join", "dwithin")
  val Formats = Seq("geoparquet", "flatgeobuf", "arrowipc")
  val Windows = Seq("tiny", "small", "full")
  val Core = Seq("wkb_read", "wkb_write", "area", "buffer", "simplify", "intersects", "transform")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def metrics(workload: String, traced: Window, untraced: Window, tracer: Tracer, slots: Int,
              core: Seq[(String, Double)], wl: Workload): Seq[(String, Double, String)] = {
    val ss = traced.samples
    def of(op: String) = ss.filter(_.op == op)
    def opMedian(op: String) = median(of(op).map(_.wallS))
    val ops = ss.size.toDouble
    val stages = ss.map(tracer.stagesOf)
    val plan = ss.map(s => tracer.queriesOf(s).map(_.planS).sum)
    val taskMs = stages.map(_.flatMap(tracer.tasksOf).sum.toDouble)
    // per op: the worst stage's slowest task over its median task
    val skew = stages.flatMap { st =>
      st.map(tracer.tasksOf).filter(_.size >= 2)
        .map(t => t.max.toDouble / math.max(median(t.map(_.toDouble)), 1.0)).maxOption
    }
    val coreMap = core.toMap

    val kernel = KernelOps.map(op => (s"kernel_scan.op_s.$op", opMedian(op), "s"))
    val kernelRows = if (workload == "compute") of("scan_only").headOption.map(_.rowsIn).getOrElse(0L) else 0L
    val kernelPerMrow =
      if (kernelRows == 0) 0.0
      else KernelOps.tail.map(op => opMedian(op) - opMedian("scan_only")).sum / (kernelRows / 1e6)

    val io = for (f <- Formats; w <- Windows) yield {
      val rs = of(s"read.$f.$w")
      val out = rs.map(_.rowsOut).sum.toDouble
      Seq((s"geo_io.read_s.$f.$w", median(rs.map(_.wallS)), "s"),
        (s"sources.bytes_read_per_row_out.$f.$w", ratio(rs.map(_.fsBytesRead).sum.toDouble, out), "B/row"),
        (s"sources.records_read_per_row_out.$f.$w",
          ratio(rs.map(s => tracer.queriesOf(s).map(_.scanRows).sum).sum.toDouble, out), "ratio"))
    }
    val ioWrites = Formats.flatMap { f =>
      val written = wl match {
        case g: GeoIo => ratio(g.bytesOnDisk(f).toDouble, g.storedRows.toDouble)
        case _ => 0.0
      }
      Seq((s"geo_io.write_s.$f", opMedian(s"write.$f"), "s"),
        (s"sources.bytes_written_per_row.$f", written, "B/row"))
    }
    val joins = JoinOps.flatMap { op =>
      Seq((s"spatial_join.op_s.$op", opMedian(op), "s"),
        (s"join.rows_out.$op", median(of(op).map(_.rowsOut.toDouble)), "rows"),
        (s"spark.jobs_per_op.$op", median(of(op).map(s => tracer.jobsOf(s).size.toDouble)), "count"))
    }

    Core.map(c => (s"core.${c}_ns", coreMap(s"core.${c}_ns"), "ns")) ++
      kernel ++ Seq(("functions.kernel_s_per_mrow", kernelPerMrow, "s/Mrow"),
        ("catalyst.plan_s", median(plan), "s"),
        ("catalyst.plan_frac", ratio(plan.sum, traced.opWallS), "ratio")) ++
      io.flatten ++ ioWrites ++ joins ++ Seq(
        ("shuffle.write_bytes_per_op", stages.flatten.map(_.shuffleWrite).sum / ops, "B"),
        ("shuffle.read_bytes_per_op", stages.flatten.map(_.shuffleRead).sum / ops, "B"),
        ("shuffle.spill_bytes_per_op", stages.flatten.map(_.spill).sum / ops, "B"),
        ("spark.task_skew", if (skew.isEmpty) 1.0 else median(skew), "ratio"),
        ("spark.tasks_per_op", stages.flatten.map(_.tasks).sum / ops, "count"),
        ("spark.slot_busy_frac", taskMs.sum / 1e3 / (traced.opWallS * slots), "ratio"),
        ("jvm.gc_s_per_op", traced.stats.gcS / ops, "s"),
        ("jvm.jit_s", traced.stats.jitS, "s"),
        ("host.steal_frac", traced.stats.stealFrac, "ratio"),
        ("host.loadavg", traced.stats.loadavg, "procs"),
        ("trace.overhead_frac", 1.0 - traced.rowsPerS / untraced.rowsPerS, "ratio"))
  }
}
