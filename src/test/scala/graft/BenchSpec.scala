package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Pins [[Bench]]'s contract on a two-query selection: two timed passes,
  * the minimum as a query's time, a query that throws listed under
  * `failed` and out of every total, and a stdout line that is one JSON
  * object with the documented keys.
  */
class BenchSpec extends SparkSuite {

  test("two passes: min-of-2 per query, a thrower only under failed, JSON line keys") {
    val prior = s"${SparkSuite.tmpDir}/bench_prior.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(prior),
      """{"metric":"total","probe_median_ms":250,"queries":{}}""".getBytes("UTF-8"))
    val selected: Seq[(String, Bench.Query)] = Seq(
      "q01_good" -> ((s, _) => s.range(1000).selectExpr("id * 2 AS x")),
      "q02_boom" -> ((s, _) => s.range(1).selectExpr("raise_error('boom') AS x")))
    // the queries read no tables, so the sf directory is only echoed
    val r = Bench.run(spark, "sf", selected, prior)

    assert(r.failed == Seq("q02_boom"))
    assert(r.passes.map(_._1) == Seq("q01_good"))
    val good = r.passes.head._2
    assert(good.length == 2 && good.forall(_ > 0), good)
    assert(r.times == Seq("q01_good" -> good.min))
    assert(r.total == good.min)
    assert(r.probesMs.length == 3)

    val line = JsonMethods.parse(r.line)
    val JObject(fields) = line
    assert(fields.map(_._1) == Seq("metric", "value", "unit", "unit_queries",
      "isolation", "failed", "probe_ratio", "queries", "sf"))
    assert(line \ "failed" == JArray(List(JString("q02_boom"))))
    assert(line \ "queries" == JObject("q01" -> JInt(math.round(good.min * 1000))))
    assert(line \ "value" == JDouble(good.min))
    assert(line \ "sf" == JString("sf"))
    val JDouble(ratio) = line \ "probe_ratio"
    assert(math.abs(ratio - r.probeMedianMs / 250) < 1e-3, ratio)

    val full = JsonMethods.parse(r.fullJson)
    assert(full \ "passes" == JObject("q01_good" -> JArray(good.map(JDouble(_)).toList)))
    assert(full \ "failed" == JArray(List(JString("q02_boom"))))
    assert(full \ "probe_median_ms" == JInt(math.round(r.probeMedianMs)))
  }
}
