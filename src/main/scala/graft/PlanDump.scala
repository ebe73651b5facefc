package graft

/** Dump `.explain("formatted")` for named queries to <outDir>/<name>.txt —
  * the plans/r20 evidence files. Usage:
  * runMain graft.PlanDump <outDir> <query[,query...]> [suffix]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args(1).split(",").toSet
    val suffix = if (args.length > 2) args(2) else ""
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus, "ERROR")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names(n) }
      .foreach { case (name, fn) =>
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name$suffix.txt"), txt)
        println(s"dumped $name (${txt.length} chars)")
        graft.core.Blocks.scrub(spark)
      }
    spark.stop()
  }
}
