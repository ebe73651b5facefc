package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Process, JVM and host readings over one measured window. */
final case class WindowStats(gcS: Double, jitS: Double, heapLivePeakMb: Double,
                             stealFrac: Double, loadavg: Double)

/** Reads the process and the host from outside graft: process CPU over all
  * JVM threads, GC and JIT time, live heap, and `/proc` steal and load.
  * `start` and `stop` bracket a window; `sampleLoad` runs between ops. */
object Probes {
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private val heap = ManagementFactory.getMemoryMXBean

  private var gc0, jit0 = 0L
  private var stat0: Array[Long] = Array.empty
  private val loads = scala.collection.mutable.ArrayBuffer.empty[Double]

  private var peakLive = 0L

  def start(): Unit = {
    loads.clear(); sampleLoad()
    peakLive = 0L; sampleLiveHeap()
    gc0 = gcTimeMs; jit0 = jit.getTotalCompilationTime
    stat0 = procStat()
  }

  /** Live heap: used heap right after a full collection, at the window's
    * start and end, outside every op timer. A reading after a young
    * collection would also count garbage not yet collected, which varies
    * run to run. */
  private def sampleLiveHeap(): Unit = {
    // the second collection frees what the first one's reference queues
    // released (Spark's context cleaner drops broadcasts and shuffles then)
    System.gc()
    Thread.sleep(200)
    System.gc()
    peakLive = math.max(peakLive, heap.getHeapMemoryUsage.getUsed)
  }

  def stop(): WindowStats = {
    val gc = gcTimeMs - gc0
    val jitMs = jit.getTotalCompilationTime - jit0
    val stat1 = procStat()
    sampleLoad()
    sampleLiveHeap()
    val steal =
      if (stat0.length >= 8 && stat1.length >= 8) {
        val total = (0 until 8).map(i => stat1(i) - stat0(i)).sum
        if (total > 0) (stat1(7) - stat0(7)).toDouble / total else 0.0
      } else Double.NaN
    WindowStats(gc / 1e3, jitMs / 1e3, peakLive / (1024.0 * 1024.0), steal,
      if (loads.isEmpty) Double.NaN else loads.sum / loads.size)
  }

  def sampleLoad(): Unit = readFirstLine("/proc/loadavg")
    .flatMap(_.split("\\s+").headOption).flatMap(_.toDoubleOption).foreach(loads += _)

  /** CPU time of every thread of this process. */
  def cpuNs: Long = os.getProcessCpuTime

  def gcTimeMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum

  /** The aggregate `cpu` line of /proc/stat: user … steal, in ticks. */
  private def procStat(): Array[Long] = readFirstLine("/proc/stat")
    .map(_.split("\\s+").drop(1).flatMap(_.toLongOption)).getOrElse(Array.empty)

  private def readFirstLine(path: String): Option[String] = try {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().nextOption() finally src.close()
  } catch { case _: java.io.IOException => None }
}
