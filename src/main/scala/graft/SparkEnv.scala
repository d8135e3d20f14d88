package graft

import org.apache.spark.sql.SparkSession

/** Session-level environment shared by every entry point: the one
  * [[session]] builder and the scratch directories it points at.
  */
object SparkEnv {

  /** Directory for Spark shuffle files and spills (`spark.local.dir`).
    *
    * Local mode pins scratch I/O to the fastest local storage available:
    * shuffle blocks are transient and re-creatable (lineage re-runs the
    * stage on loss), so a RAM-backed tmpfs is safe and keeps the benchmark
    * measuring the engine, not the host's block device — on a cluster the
    * same setting would point at executor-local NVMe. Falls back to the
    * JVM temp dir when no tmpfs is present.
    */
  lazy val localDir: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft-spark")
      d.mkdirs()
      d.getAbsolutePath
    } else sys.props.getOrElse("java.io.tmpdir", "/tmp")
  }

  /** Scratch directory for transient test/bench fixtures, on the same
    * fast storage as [[localDir]]. That storage may be RAM, so the
    * directory and its contents are deleted when the JVM exits.
    */
  def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(localDir), prefix)
      .toString
    scratchDirs.add(d)
    d
  }

  private lazy val scratchDirs = {
    val dirs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    sys.addShutdownHook(dirs.forEach(d => deleteDir(d)))
    dirs
  }

  /** Delete `dir` and everything under it; a missing path is a no-op. */
  private[graft] def deleteDir(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(dir))
  }

  /** AQE coalesce floor (round 15, guide §2.2/§2.5): AQE's default 1 MB
    * minPartitionSize coalesces every sub-32 MB shuffle below `cpus`
    * partitions — at bench scale that put CPU-DENSE, small-BYTE stages
    * (levenshtein verify, array_intersect re-checks, pair joins) on ONE
    * core (measured: q42 10.7→5.4 s, q113 9.9→5.5 s, q181 6.5→3.2 s cold
    * with the 64k floor; sub-second tail unchanged). 64k keeps the
    * declared shuffle.partitions=cpus parallelism for any shuffle ≥
    * cpus·64k. At production scale the floor is inert: coalescing targets
    * max(bytes/parallelism, floor), and real shuffles are GBs, so
    * partitions sit far above either floor — it only stops parallelism
    * collapse on small inputs.
    */
  val MinCoalescePartitionSize = "64k"

  /** The one session builder, at `cpus` cores (default
    * `SPARK_GRAFT_CPUS`, else 32). Every main except [[Smoke]] (which checks
    * [[SparkEntry.entry]] under a bare session on purpose) and
    * the test harness get their session here, so the oracle, the tests,
    * the profiler and the bench all run under the config the bench times:
    * `local[cpus]` with `cpus` shuffle partitions, UTC, nanosecond parquet
    * timestamps read as int64 (events.parquet stored TIMESTAMP(NANOS) in
    * early data generations), shuffle/spill on [[localDir]], no UI, and
    * the AQE floor. Per-main runtime SQL confs go through `spark.conf.set`
    * on the returned session.
    */
  def session(
      cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", localDir)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        MinCoalescePartitionSize)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
