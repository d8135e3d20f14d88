package graft
/** Prints the formatted physical plan of selected inventory queries —
  * the plan-review loop (pushdown/pruning/broadcast/shuffle counts).
  * Usage: Explain <sfDir> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSet else Set.empty[String]
    // 4 cores, the test harness's width, so plans match PlanSpec's
    val spark = SparkEnv.session(cpus = 4)
    Queries.all
      .filter(q => names.isEmpty || names.contains(q.name))
      .foreach { q =>
        println(s"\n========== ${q.name} ==========")
        try {
          val df = q.build(spark, sfDir)
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
