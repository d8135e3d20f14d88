package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** The profiler: runs selected inventory queries under the bench's
  * session and a SparkListener and reports, per run, wall seconds vs the
  * cluster-side task time, plus job/stage/task counts — the number that
  * separates "compute-bound" (optimize the algorithm / expressions) from
  * "orchestration-bound" (optimize job/stage/pass counts). Usage:
  *   SPARK_GRAFT_SF_DIR=... tools/run.sh graft.JobProf [--repeat R] [--scale N] q158_fuzzy_pairs ...
  * Query arguments are name prefixes (none = every query); `--repeat R`
  * (default 1) runs the selected queries R times over, one pass after
  * another and one row per run, for steady-state timings. `compiles` is the
  * number of classes Spark's code generator compiled during the run: Spark's
  * codegen cache holds 100 classes, so a selection that needs more
  * recompiles some on every pass. `SPARK_GRAFT_PROF_JOBS=1` adds per-job
  * walls.
  *
  * `--scale N` measures scaling: it writes an N× copy of the sf directory
  * with [[Replicas]] (disjoint key domains, `nation`/`region` copied once,
  * token-salted documents, sign-flipped embeddings; see there) and runs
  * every query on the sf directory (`x` = 1) and then on the copy (`x` =
  * N), in one JVM. After the last pass it prints, per query, `ratio` = N×
  * wall / 1× wall from that pass, so JIT warm-up falls on earlier passes
  * rather than on the 1× side. Queries keep their own parameters at N×.
  */
object JobProf {

  /** Untimed warm-up before the first timed query: JIT, codegen and the
    * parquet footer caches, so that query does not absorb JVM start-up.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("lineitem", "nation").foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
  }

  /** One timed run of query `fn` on `dir`, as (wall seconds, completed).
    * Cached plans are cleared first, so no query is timed against another
    * query's cache (a leaked persist once made q22 look 13x faster than its
    * honest cost), and the result is forced with a noop write, which runs
    * the full plan, projections a count() would prune included. A query
    * that throws is logged to stderr as `<label> FAILED: <message>`.
    */
  def timeQuery(spark: SparkSession, label: String,
      fn: (SparkSession, String) => DataFrame, dir: String): (Double, Boolean) = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val ok =
      try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable => System.err.println(s"$label FAILED: ${e.getMessage}"); false }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def parse(a: List[String], repeat: Int, scale: Int): (Int, Int, List[String]) = a match {
      case "--repeat" :: n :: rest => parse(rest, n.toInt, scale)
      case "--scale" :: n :: rest  => parse(rest, repeat, n.toInt)
      case rest                    => (repeat, scale, rest)
    }
    val (repeat, scale, names) = parse(args.toList, 1, 1)
    require(repeat >= 1 && scale >= 1, s"--repeat $repeat and --scale $scale must be at least 1")
    val spark = SparkEnv.session()
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    val gcMs = new AtomicLong; val serMs = new AtomicLong
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val verbose = sys.env.contains("SPARK_GRAFT_PROF_JOBS")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val t0 = jobStarts.get(j.jobId)
        if (verbose && t0 != 0)
          System.err.println(f"    job ${j.jobId}%3d ${(j.time - t0) / 1e3}%6.2fs")
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobStarts.put(j.jobId, j.time)
        if (verbose)
          System.err.println(s"    job ${j.jobId} start: ${j.stageInfos.map(_.name).mkString(" | ").take(150)}")
        jobs.incrementAndGet()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          gcMs.addAndGet(m.jvmGCTime)
          serMs.addAndGet(m.resultSerializationTime + m.executorDeserializeTime)
        }
      }
    })
    warmUp(spark, sfDir)
    val sel = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.exists(n.startsWith) }
    val dirs = Seq(1 -> sfDir) ++
      (if (scale > 1) Seq(scale -> Replicas.write(spark, sfDir, scale)) else Nil)
    // (query, x) -> wall of its latest run, None when it threw
    val last = scala.collection.mutable.Map.empty[(String, Int), Option[Double]]
    println(f"${"query"}%-28s ${"run"}%3s ${"x"}%3s ${"wall_s"}%7s ${"task_s"}%7s ${"gc_s"}%5s ${"ser_s"}%5s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"compiles"}%8s")
    try for (run <- 1 to repeat; (name, fn) <- sel; (x, dir) <- dirs) {
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); gcMs.set(0); serMs.set(0)
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (wall, ok) = timeQuery(spark, s"$name x$x", fn, dir)
      last((name, x)) = if (ok) Some(wall) else None
      // listener events drain asynchronously; give them a beat
      Thread.sleep(300)
      println(f"$name%-28s $run%3d $x%3d $wall%7.2f ${taskMs.get / 1e3}%7.2f ${gcMs.get / 1e3}%5.1f ${serMs.get / 1e3}%5.1f ${jobs.get}%5d ${stages.get}%6d ${tasks.get}%6d ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0}%8d")
    } finally dirs.drop(1).foreach { case (_, d) => Replicas.delete(d) }
    if (scale > 1) {
      println(f"\n${"query"}%-28s ${"wall_1x"}%8s ${s"wall_${scale}x"}%8s ${"ratio"}%7s")
      for ((name, _) <- sel) (last((name, 1)), last((name, scale))) match {
        case (Some(a), Some(b)) => println(f"$name%-28s $a%8.2f $b%8.2f ${b / a}%7.2f")
        case (a, b) => println(f"$name%-28s ${a.fold("failed")(w => f"$w%.2f")}%8s " +
          f"${b.fold("failed")(w => f"$w%.2f")}%8s ${"-"}%7s")
      }
    }
    spark.stop()
  }
}
