package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** Spans recorded by the benchmark around its calls into each layer.
  * Off by default: the end-to-end figures come from untraced runs, where
  * [[span]] costs one volatile read.
  */
object Trace {
  @volatile var on = false
  /** Spans beyond this many are counted but not kept. */
  val MaxSpans = 200000
  private val seq = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  /** Time `body` as span `name` of operation `id` (a query, request or
    * chunk); the innermost open span of this thread is its parent. */
  def span[T](name: String, id: String)(body: => T): T =
    if (!on) body
    else {
      val sid = seq.incrementAndGet()
      val parents = stack.get
      stack.set(sid :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        if (sid <= MaxSpans) done.add(Map("id" -> sid, "parent" -> parents.headOption.getOrElse(0),
          "name" -> name, "op" -> id, "start_ns" -> t0, "end_ns" -> t1))
      }
    }

  def spans: Seq[Map[String, Any]] = done.asScala.toSeq
  def dropped: Int = math.max(0, seq.get - MaxSpans)
}

/** Counters from Spark's own listeners, attached by the benchmark for the
  * traced window only: jobs, stages and task metrics from a
  * [[SparkListener]], Catalyst phase times from each batch query's
  * planning tracker, and streaming progress reports.
  */
final class Counters(spark: SparkSession) {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile private var shuffleRead, shuffleWrite, spill, taskRunMs, tasks = 0L

  private val exec = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, (e.time,
        Option(e.properties).map(_.getProperty(Counters.OpProperty)).orNull))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, op) =>
        jobs.add(Map("start_ms" -> t0, "end_ms" -> e.time, "op" -> op))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      tasks += 1
      if (m != null) {
        taskRunMs += m.executorRunTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
          .add(m.executorRunTime)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val runs = Option(stageTasks.remove(e.stageInfo.stageId))
        .map(_.asScala.toSeq).getOrElse(Nil)
      stages.add(Map("tasks" -> e.stageInfo.numTasks, "task_ms" -> runs))
    }
  }

  private val planning = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      plans.add(Seq("analysis", "optimization", "planning")
        .map(p => p -> ph.get(p).map(_.durationMs).getOrElse(0L)).toMap)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      progress.add(Map(
        "query" -> p.name,
        "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum))
    }
  }

  private var t0Ms, t1Ms, gc0Ms, gc1Ms = 0L

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def start(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(planning)
    spark.streams.addListener(streaming)
    gc0Ms = gcMs
    t0Ms = System.currentTimeMillis()
  }

  def stop(): Unit = {
    t1Ms = System.currentTimeMillis()
    gc1Ms = gcMs
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(planning)
    spark.streams.removeListener(streaming)
  }

  def snapshot: Map[String, Any] = Map(
    "window_ms" -> Seq(t0Ms, t1Ms),
    "gc_ms" -> (gc1Ms - gc0Ms),
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "tasks" -> tasks,
    "task_run_ms" -> taskRunMs,
    "shuffle_read_bytes" -> shuffleRead,
    "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill,
    "plans" -> plans.asScala.toSeq,
    "progress" -> progress.asScala.toSeq)
}

object Counters {
  /** Local property naming the benchmark operation that launched a job. */
  val OpProperty = "perfbench.op"
}
