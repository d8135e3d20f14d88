package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The suite timer: two full timed passes over every inventory query on
  * SPARK_GRAFT_SF_DIR, under [[SparkEnv.session]], with [[JobProf]]'s
  * warm-up and per-query timer (cache cleared, result forced by a noop
  * write). A query's time is the minimum of its two passes; a query that
  * throws is listed under `failed` and left out of every total.
  *
  * A CPU probe runs before pass 1 and after each pass. `probe_ratio` is
  * the median of those probe times over the `probe_median_ms` of a prior
  * artifact (`SPARK_GRAFT_BENCH_PRIOR`, default `bench_prior.json`; null
  * when it cannot be read): near 1 the host was as quiet as when the prior
  * was recorded, so the two runs' times compare.
  *
  * Writes `bench_full.json` (full query names, both pass times, the probe
  * series) to the working directory and prints one JSON line.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** A finished run: each completed query's pass times in selection
    * order, the queries that threw, and the probe times in ms.
    */
  final case class Report(
      sfDir: String,
      passes: Seq[(String, Seq[Double])],
      failed: Seq[String],
      probesMs: Seq[Double],
      priorFile: String,
      priorProbeMs: Option[Double]) {
    val times: Seq[(String, Double)] = passes.map { case (n, ts) => n -> ts.min }
    val total: Double = times.map(_._2).sum
    val probeMedianMs: Double = probesMs.sorted.apply(probesMs.length / 2)
    val probeRatio: Option[Double] = priorProbeMs.map(probeMedianMs / _)

    private def str(s: String) = "\"" + s + "\""
    private def obj(kvs: Seq[(String, Any)]) =
      kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    private def failedJson = failed.map(str).mkString("[", ",", "]")
    private def ratioJson = probeRatio.fold("null")(r => f"$r%.4f")

    /** The `bench_full.json` artifact: full query names, seconds. */
    def fullJson: String = obj(Seq(
      "metric" -> str("total"), "value" -> total, "unit" -> str("sec"),
      "isolation" -> str("clearCache-between-queries"),
      "noise_probe_ms" -> probesMs.map(p => math.round(p)).mkString("[", ",", "]"),
      "probe_median_ms" -> math.round(probeMedianMs),
      "prior_file" -> str(priorFile), "probe_ratio" -> ratioJson,
      "failed" -> failedJson,
      "passes" -> obj(passes.map { case (n, ts) => n -> ts.mkString("[", ",", "]") }),
      "queries" -> obj(times), "sf" -> str(sfDir)))

    /** The stdout line. It fits a 2,000-char tail with every query
      * visible: keys are the qNN prefixes, values integer milliseconds.
      */
    def line: String = obj(Seq(
      "metric" -> str("total"), "value" -> total, "unit" -> str("sec"),
      "unit_queries" -> str("ms"),
      "isolation" -> str("clearCache-between-queries"),
      "failed" -> failedJson, "probe_ratio" -> ratioJson,
      "queries" -> obj(times.map { case (n, t) => n.takeWhile(_ != '_') -> math.round(t * 1000) }),
      "sf" -> str(sfDir)))
  }

  /** Two timed passes over `selected` on `sfDir`. A query that throws in
    * pass 1 is not run again; one that throws in pass 2 is dropped too.
    */
  def run(spark: SparkSession, sfDir: String, selected: Seq[(String, Query)],
      priorFile: String): Report = {
    // pure CPU-throughput work the size of a small query: ~1.5e9
    // codegen'd long ops across all cores, ~300 ms on a quiet 32-core
    // host and ~5x under a full-core squeeze
    def probeMs(): Double = {
      val t0 = System.nanoTime()
      spark.range(1500000000L).selectExpr("sum(id % 7)").collect()
      val ms = (System.nanoTime() - t0) / 1e6
      System.err.println(f"[bench] probe $ms%.0f ms")
      ms
    }
    val probes = scala.collection.mutable.ArrayBuffer(probeMs())
    val passes = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    for (pass <- 1 to 2) {
      for ((name, fn) <- selected if !failed(name)) {
        val (t, ok) = JobProf.timeQuery(spark, s"[bench] pass $pass $name", fn, sfDir)
        if (ok) {
          passes(name) = passes.getOrElse(name, Vector.empty) :+ t
          System.err.println(f"[bench] pass $pass $name $t%.2fs")
        } else {
          failed += name
          passes -= name
        }
      }
      probes += probeMs()
    }
    val priorProbeMs = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(priorFile)), "UTF-8")
      "\"probe_median_ms\"\\s*:\\s*([0-9][-0-9.eE+]*)".r
        .findFirstMatchIn(txt).map(_.group(1).toDouble)
    } catch { case scala.util.control.NonFatal(_) => None }
    Report(sfDir, passes.toSeq, failed.toSeq, probes.toSeq, priorFile, priorProbeMs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEnv.session()
    JobProf.warmUp(spark, sfDir)
    val report = run(spark, sfDir, SparkEntry.queries.toSeq.sortBy(_._1),
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "bench_prior.json"))
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
      (report.fullJson + "\n").getBytes("UTF-8"))
    println(report.line)
    spark.stop()
  }
}
