package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** The profiler: runs selected inventory queries under the bench's
  * session and a SparkListener and reports, per run, wall seconds vs the
  * cluster-side task time, plus job/stage/task counts — the number that
  * separates "compute-bound" (optimize the algorithm / expressions) from
  * "orchestration-bound" (optimize job/stage/pass counts). Usage:
  *   SPARK_GRAFT_SF_DIR=... tools/run.sh graft.JobProf [--repeat N] q158_fuzzy_pairs ...
  * Query arguments are name prefixes (none = every query); `--repeat N`
  * (default 1) runs each selected query N times, one row per run, for
  * steady-state timings. `SPARK_GRAFT_PROF_JOBS=1` adds per-job walls.
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (repeat, names) = args.toList match {
      case "--repeat" :: n :: rest => (n.toInt, rest)
      case rest => (1, rest)
    }
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
    // warmup (mirrors Bench)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val sel = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.exists(n.startsWith) }
    println(f"${"query"}%-28s ${"run"}%3s ${"wall_s"}%7s ${"task_s"}%7s ${"gc_s"}%5s ${"ser_s"}%5s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s")
    for ((name, fn) <- sel; run <- 1 to repeat) {
      spark.catalog.clearCache()
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); gcMs.set(0); serMs.set(0)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"$name FAILED: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; give them a beat
      Thread.sleep(300)
      println(f"$name%-28s $run%3d $wall%7.2f ${taskMs.get / 1e3}%7.2f ${gcMs.get / 1e3}%5.1f ${serMs.get / 1e3}%5.1f ${jobs.get}%5d ${stages.get}%6d ${tasks.get}%6d")
    }
    spark.stop()
  }
}
