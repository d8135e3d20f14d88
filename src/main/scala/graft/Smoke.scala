package graft
import org.apache.spark.sql.SparkSession
/** Driver-conditions smoke check: runs [[SparkEntry.entry]] with a BARE
  * SparkSession (no graft-specific config), exactly as the driver does.
  * Catches accidental dependencies on session config (e.g. parquet reader
  * flags) that [[SparkEnv.session]] sets for every other main — which is
  * why this is the one main that must not use it.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    serve(spark)
    // When launched with spark.sql.extensions=graft.plans.GraftExtensions
    // (the documented cluster path — README "Cluster packaging"), prove
    // the extension actually registered by calling an injected function.
    if (spark.conf.getOption("spark.sql.extensions")
        .exists(_.contains("GraftExtensions"))) {
      val dot = spark.sql(
        "SELECT vector_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .collect()(0).getDouble(0)
      println(s"EXTENSIONS=vector_dot ok ($dot)")
    }
    spark.stop()
  }

  /** Drives the materialize → online-serve path end-to-end: customers into
    * the in-process store, then per-request lookups + a serving-path
    * expression — no manual key registration.
    */
  private def serve(spark: SparkSession): Unit = {
    import graft.client.GraftClient
    import graft.table._
    val cl = new GraftClient(spark)
    val cust = FileSource(
      "smoke_cust", "/root/testdata/sf0.001/customer.parquet", "parquet",
      keys = Some(Seq("c_custkey")))
    cl.materialize(cust, MemoryStoreSink("smoke_cust_online"))
    val served = cl.getOnlineFeatures(
      Seq(Map("c_custkey" -> 1L), Map("c_custkey" -> 2L), Map("c_custkey" -> 999999L)),
      "smoke_cust_online",
      lookupFeatures = Seq("c_name", "c_acctbal"),
      exprFeatures = Seq(("bal_2x", "c_acctbal * 2")))
    println(s"SERVED=${served.mkString(" | ")}")
  }
}
