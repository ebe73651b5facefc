package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sql(q: String) = spark.sql(q)
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // The iterative operators (ConnectedComponents/kNN rounds) release each
    // superseded round's localCheckpoint blocks by design, and Spark WARNs
    // "locally checkpointed ... cannot be recomputed" on EVERY such
    // unpersist (logger = the runtime RDD subclass, hence the package-level
    // filter). The ordering hazard the warning documents is asserted at the
    // release sites (Blocks.releaseSuperseded), so here the 255-line flood
    // only masks genuine warnings. Test config only.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    // the whole SQL surface, once: specs never re-register this session
    graft.functions.GeoFunctions.register(s)
    s
  }
}
