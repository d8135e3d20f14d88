package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One timed window: `units` are wall times of the workload's repeated
  * unit of work (seconds), `latMs` the latency of each operation inside
  * it (named in `opNames` where operations differ), `done` the operations
  * completed in `seconds`.
  */
final class Window {
  val units = ArrayBuffer.empty[Double]
  val latMs = ArrayBuffer.empty[Double]
  val opNames = ArrayBuffer.empty[String]
  var done = 0L
  var seconds = 0.0
  def fields: Map[String, Any] = Map("units_s" -> units.toList, "lat_ms" -> latMs.toList,
    "op_names" -> opNames.toList, "done" -> done, "seconds" -> seconds)
}

/** What a workload reports back; run.py turns it into the metrics. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  val loadS = ArrayBuffer.empty[Double]
  var warmupS = 0.0
  val timed = new Window
  val traced = new Window
  val extra = mutable.LinkedHashMap.empty[String, Any]

  /** Run one operation: counts it as attempted, and as failed when it
    * throws; a failed operation yields None and is never timed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (errors.size < 20) errors += msg.take(500)
    System.err.println(s"[perfbench] FAILED $msg".take(2000))
  }
}

/** A workload: `load` is repeated to time set-up, `warmup` runs once
  * untimed, `measure` fills a window for about `seconds`, `check` verifies
  * outputs outside every timed window. */
trait Workload {
  def load(): Unit
  def warmup(): Unit
  def measure(seconds: Double, w: Window): Unit
  def check(): Unit
  /** Work done after the traced window, still traced (per-layer probes). */
  def probe(seconds: Double): Unit = ()
  def close(): Unit = ()
}

object Main {
  final case class Args(workload: String, dir: String, seconds: Double,
      trace: Boolean, seed: Long, cores: Int)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("dir"), kv("seconds").toDouble,
      kv("trace") == "1", kv("seed").toLong, kv("cores").toInt)
    val spark = session(a)
    spark.range(1000).selectExpr("sum(id)").collect()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val res = new Result
    val w: Workload = a.workload match {
      case "offline_features" => new QuerySet(spark, a, res)
      case "online_serving"   => new Serving(spark, a, res)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def note(what: String): Unit = System.err.println(
      f"[perfbench] t+${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs $what")
    note(s"session up in ${sessionS}s")
    for (_ <- 0 until 3) res.loadS += seconds(w.load())
    note(s"loads ${res.loadS.map(x => f"$x%.2f").mkString(" ")}s")
    res.warmupS = seconds(w.warmup())
    note(f"warm-up ${res.warmupS}%.2fs")
    w.measure(a.seconds, res.timed)
    note(s"timed window: ${res.timed.units.size} units, ${res.timed.latMs.size} operations")
    val counters = new Counters(spark)
    // one instant on both clocks, to place listener events among spans
    val anchor = (System.currentTimeMillis(), System.nanoTime())
    if (a.trace) {
      counters.start()
      Trace.on = true
      w.measure(a.seconds, res.traced)
      counters.stop()
      w.probe(a.seconds / 2)
      Trace.on = false
    }
    val heapMb = usedHeapMb()
    note("checking outputs")
    try w.check()
    catch { case NonFatal(e) => res.fail(s"output check: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    w.close()

    Json.write(s"${a.dir}/result.json", Map(
      "workload" -> a.workload,
      "cores" -> a.cores,
      "conf_hash" -> confHash(spark),
      "session_s" -> sessionS,
      "load_s" -> res.loadS,
      "warmup_s" -> res.warmupS,
      "heap_mb" -> heapMb,
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "errors" -> res.errors,
      "timed" -> res.timed.fields,
      "traced" -> (if (a.trace) res.traced.fields else null),
      "counters" -> (if (a.trace) counters.snapshot else null),
      "spans_dropped" -> Trace.dropped,
      "clock_anchor" -> Seq(anchor._1, anchor._2),
      "extra" -> res.extra))
    if (a.trace) Json.write(s"${a.dir}/spans.json", Trace.spans)
    spark.stop()
    note("done")
  }

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** The session `graft.Bench` builds, at `local[cores]`. Scratch space
    * stays inside the run directory. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${a.dir}/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.warehouse.dir", s"${a.dir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Hash of the session configuration, without the entries that differ
    * between any two processes (ids, ports, hosts, start times, paths). */
  def confHash(spark: SparkSession): String = {
    val varying = Set("spark.app.id", "spark.app.name", "spark.app.startTime", "spark.driver.port",
      "spark.driver.host", "spark.local.dir", "spark.sql.warehouse.dir",
      "spark.app.submitTime", "spark.executor.id", "spark.driver.extraJavaOptions",
      "spark.executor.extraJavaOptions")
    val text = spark.conf.getAll.toSeq.filterNot(kv => varying(kv._1)).sorted
      .map { case (k, v) => s"$k=$v" }.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  /** Heap in use after full collections: the least of three, since a
    * collection can still find objects released by the one before. */
  def usedHeapMb(): Double = (0 until 3).map { _ =>
    System.gc()
    Thread.sleep(50)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}
