package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts, and the shuffle records
  * their tasks read, by job tag, so other work on the shared test session
  * does not count. */
object SparkJobs {

  /** Jobs started by `body`. */
  def count(spark: SparkSession)(body: => Unit): Int = observe(spark)(body)._1.size

  /** Shuffle records read by each task of the stages of `body`'s jobs,
    * keyed by stage id. */
  def shuffleReads(spark: SparkSession)(body: => Unit): Map[Int, Seq[Long]] = {
    val (jobs, tasks) = observe(spark)(body)
    val stages = jobs.flatMap(_.stageIds).toSet
    tasks.filter(t => stages(t.stageId) && t.taskMetrics != null)
      .groupMap(_.stageId)(_.taskMetrics.shuffleReadMetrics.recordsRead)
  }

  /** The jobs tagged while `body` ran, and every task end seen meanwhile.
    * Listener events arrive in the order they were posted, so once a
    * sentinel job tagged after `body` is seen, every job `body` started,
    * and every task those jobs ran, has been seen too. */
  private def observe(spark: SparkSession)(
      body: => Unit): (Seq[SparkListenerJobStart], Seq[SparkListenerTaskEnd]) = {
    val sc = spark.sparkContext
    val tag = "graft-jobs-" + java.util.UUID.randomUUID()
    val sentinel = tag + "-end"
    def tags(j: SparkListenerJobStart): Seq[String] =
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(","))
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val tasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add(j)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.add(t)
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      sc.addJobTag(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(sentinel)
      def sawSentinel = jobs.asScala.exists(tags(_).contains(sentinel))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sawSentinel && System.nanoTime() < deadline) Thread.sleep(5)
      assert(sawSentinel, "listener never saw the sentinel job")
      (jobs.asScala.filter(tags(_).contains(tag)).toSeq, tasks.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
