package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs a fixed set of inventory queries over the generated tables. One
  * unit is a pass over the set; each query is forced with a `noop` write,
  * as `graft.Bench` does. The untimed warm-up pass writes every result as
  * parquet, which run.py compares with the query's DuckDB oracle.
  */
final class QuerySet(spark: SparkSession, a: Main.Args, res: Result) extends Workload {
  import QuerySet._

  private val queries: Map[String, (SparkSession, String) => DataFrame] =
    Kinds.map { case (q, _) => q -> SparkEntry.queries(q) }.toMap
  private val attempts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)

  def load(): Unit = Tables.foreach(t => spark.read.parquet(s"${a.dir}/$t.parquet").count())

  private def run(name: String, id: String)(write: DataFrame => Unit): Option[Unit] = {
    spark.catalog.clearCache() // no query is timed against another's cache
    spark.sparkContext.setLocalProperty(Counters.OpProperty, name)
    attempts(name) += 1
    res.attempt(name) {
      Trace.span("query", id) {
        val df = Trace.span("engine.build", id)(queries(name)(spark, a.dir))
        Trace.span("exec.run", id)(write(df))
      }
    }
  }

  def warmup(): Unit = Kinds.foreach { case (name, _) =>
    run(name, s"$name#warmup")(_.write.mode("overwrite").parquet(s"${a.dir}/out/$name"))
  }

  def measure(seconds: Double, w: Window): Unit = {
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val p0 = System.nanoTime()
      val ok = Kinds.map { case (name, _) =>
        val q0 = System.nanoTime()
        val r = run(name, s"$name#$pass")(_.write.format("noop").mode("overwrite").save())
        if (r.isDefined) {
          w.latMs += (System.nanoTime() - q0) / 1e6
          w.opNames += name
          w.done += 1
        }
        r.isDefined
      }
      // a pass with a failed query is not a result
      if (ok.forall(identity)) w.units += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    w.seconds = (System.nanoTime() - t0) / 1e9
  }

  def check(): Unit = {
    Json.write(s"${a.dir}/out/oracle_sql.json", SparkEntry.oracleSql.filter(kv => queries.contains(kv._1)))
    res.extra("attempts") = attempts.toMap
    res.extra("kinds") = Kinds.toMap
    res.extra("tables") = Tables
  }
}

object QuerySet {
  /** FeatHub's offline path, one query per operator kind, and an iterative
    * graph loop with a fixed round count (label propagation, 3 rounds), in
    * pass order. */
  val Kinds: Seq[(String, String)] = Seq(
    "q06_pit_join" -> "pit_join",
    "q07_over_window_range" -> "over_window",
    "q12_sliding_empty_skip" -> "sliding",
    "q103_label_prop" -> "graph_loop")
  val Tables: Seq[String] = Seq("events", "orders")
}
