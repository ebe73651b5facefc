package graft

import org.apache.spark.sql.SparkSession

/** The session graft's mains run on: `local[cpus]` with one shuffle
  * partition per core, UTC, no UI, `conf` on top, and graft's SQL surface
  * registered. */
private[graft] object LocalSession {
  def apply(cpus: String, logLevel: String, conf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.functions.GeoFunctions.register(spark)
    spark
  }
}
