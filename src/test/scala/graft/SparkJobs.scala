package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts, by job tag, so other work
  * on the shared test session does not count. */
object SparkJobs {

  /** Jobs started by `body`. Listener events arrive in the order they were
    * posted, so once a sentinel job tagged after `body` is seen, every job
    * `body` started has been seen too. */
  def count(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft-jobs-" + java.util.UUID.randomUUID()
    val sentinel = tag + "-end"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .foreach(t => seen.addAll(t.split(",").toSeq.asJava))
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      sc.addJobTag(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(sentinel)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(5)
      assert(seen.contains(sentinel), "listener never saw the sentinel job")
      seen.asScala.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }
}
