package graft

/** Dev tool: print formatted physical plans for catalog queries.
  * Usage: runMain graft.Explain [--exec] [sfDir] [queryName...]
  * (default: all). With `--exec` the query is collect()ed first so the
  * printed plan is AQE's FINAL one — runtime join selections and
  * `codegen id` annotations included (the pre-execution
  * AdaptiveSparkPlan prints neither). */
object Explain {
  def main(args0: Array[String]): Unit = {
    val exec = args0.contains("--exec")
    val args = args0.filterNot(_ == "--exec")
    val sfDir = args.headOption.getOrElse(s"${PathRoot.TestData}/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.build(cpus = "4", logLevel = "ERROR")
    for (n <- names) {
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (exec) { df.collect(); spark.catalog.clearCache() }
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
