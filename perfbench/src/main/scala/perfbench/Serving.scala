package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.client.{GraftClient, MemoryOnlineStore}
import graft.expr.{Parser, RowInterpreter}
import graft.table._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration._

/** FeatHub's online path. A per-user view, `value_1h` (the sum of a user's
  * values over the hour up to each event), is materialized into the
  * in-process online store and served through an on-demand view: one
  * store lookup and two expressions per request. [[Serving.Readers]]
  * client threads run a closed loop, each sending its next request when
  * the previous one returns. About 10% of requests ask for absent keys,
  * and odd requests send the key as Int against the Long-typed stored key.
  * The readers draw from one request stream, so a window sends each
  * request once: a lookup's cost depends on where its key sits in the
  * store, and replaying a few hundred requests would make that sample,
  * not the store, set the figures.
  *
  * The read-only phase is split over [[Serving.Materializations]] fresh
  * materializations, so the figures average over as many store layouts.
  * It is followed by a mixed phase, in which one more
  * thread streams the same view over newer events into the store
  * (`materializeStream` into `MemoryStoreSink`): fixed one-hour event-time
  * chunks of [[Serving.ChunkRows]] rows, each drained with
  * `processAllAvailable`, every micro-batch upserted with
  * `MemoryOnlineStore.put`.
  */
final class Serving(spark: SparkSession, a: Main.Args, res: Result) extends Workload {
  import Serving._
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val cl = new GraftClient(spark)
  private var expected: Array[Double] = Array.empty
  private var requests: Array[Map[String, Any]] = Array.empty
  private var keys: Array[Long] = Array.empty
  private var pool: IndexedSeq[Seq[(Long, Double, Long)]] = IndexedSeq.empty
  // index of the next request any reader sends
  private val cursor = new AtomicInteger(0)

  private val stream = MemoryStream[(Long, Double, Long)]
  private var query: StreamingQuery = _
  private var round = 0
  // every streamed row per user, in time order (written by the writer
  // thread, read after it is joined)
  private val streamed = mutable.Map.empty[Long, ArrayBuffer[(Long, Double)]]
  private var materializedAtRound = 0
  private val mixed = new Window

  private def view(src: TableDescriptor, name: String) = DerivedFeatureView(
    name, src,
    features = Seq(Feature("value_1h",
      OverWindowTransform("value", AggFunc.Sum, Some(1.hour), Seq("user_id")))),
    keys = Some(Seq("user_id")))
  private val batchView = view(
    FileSource("serve_events", s"${a.dir}/events.parquet", "parquet",
      keys = Some(Seq("user_id")), timestampField = Some("ts")),
    "serve_view")
  private val exprs = Seq("value_1h", "value_1h * amount + 1", "value_1h > 10000.0")
  private val onDemand = OnDemandFeatureView(
    "serve_od",
    features = Seq(
      Feature("value_1h", JoinTransform(Source, exprs(0)), keys = Some(Seq("user_id"))),
      Feature.expr("scaled", exprs(1)),
      Feature.expr("is_high", exprs(2))),
    requestFields = Seq("user_id", "amount"))

  /** Reads the inputs and builds the request stream and the chunk pool. */
  def load(): Unit = {
    spark.read.parquet(s"${a.dir}/events.parquet").count()
    expected = scala.io.Source.fromFile(s"${a.dir}/expected_value.txt")
      .getLines().map(_.toDouble).toArray
    val rnd = new java.util.SplittableRandom(a.seed)
    keys = Array.fill(Requests) {
      if (rnd.nextInt(10) == 0) expected.length + rnd.nextInt(expected.length)
      else rnd.nextInt(expected.length)
    }.map(_.toLong)
    requests = Array.tabulate(Requests) { i =>
      Map("user_id" -> (if (i % 2 == 1) keys(i).toInt else keys(i)),
        "amount" -> (1L + rnd.nextInt(10)))
    }
    pool = IndexedSeq.fill(PoolSize)(Seq.fill(ChunkRows)((rnd.nextInt(expected.length).toLong,
      rnd.nextInt(20000).toDouble, rnd.nextLong(HourMs))).sortBy(_._3))
  }

  /** Materialize `times` times from an empty store; each is one unit. */
  private def materialize(w: Window, times: Int): Unit = for (_ <- 0 until times) {
    MemoryOnlineStore.clear()
    // the garbage of the serving before it is not the materialization's
    System.gc()
    val t0 = System.nanoTime()
    res.attempt("materialize")(cl.materialize(batchView, MemoryStoreSink(Table)))
      .foreach(_ => w.units += (System.nanoTime() - t0) / 1e9)
  }

  def warmup(): Unit = {
    materialize(new Window, times = 1)
    cl.registerTable(MemoryStoreSource(Source, Table, keys = Some(Seq("user_id"))))
    // the request path is compiled first, from one thread, so every run
    // profiles it on the same request mix
    for (i <- 0 until WarmupRequests) cl.getOnlineFeatures(Seq(requests(i)), onDemand)
    query = cl.materializeStream(
      view(DataFrameSource("serve_stream", stream.toDF().toDF("user_id", "value", "t_ms"),
        keys = Some(Seq("user_id")), timestampField = Some("t_ms"),
        timestampFormat = "epoch_millis"), "serve_stream_view"),
      MemoryStoreSink(Table), s"${a.dir}/checkpoints/serve")
    phase(1.0, streaming = true, new Window, new Window)
    // the first materializations after it ran slower than later ones
    // (up to 2 s against 1 s), so two run before the timed ones
    materialize(new Window, times = 2)
  }

  /** Read-only serving for three quarters of `seconds`, a segment after
    * each materialization, then the mixed phase. Each window starts the
    * request stream at the same place, so a traced window sends the same
    * requests as the untraced one. */
  def measure(seconds: Double, w: Window): Unit = {
    cursor.set(WarmupRequests)
    for (_ <- 0 until Materializations) {
      materialize(w, times = 1)
      materializedAtRound = round
      // collect the materialization's garbage now rather than during the segment
      System.gc()
      phase(seconds * 0.75 / Materializations, streaming = false, w, new Window)
    }
    mixed.units.clear(); mixed.latMs.clear(); mixed.done = 0; mixed.seconds = 0
    val chunks = new Window
    phase(seconds * 0.25, streaming = true, mixed, chunks)
    res.extra(if (Trace.on) "traced_mixed" else "mixed") = mixed.fields ++ Map(
      "chunk_ms" -> chunks.latMs.toList, "streamed_rows" -> chunks.done,
      "stream_seconds" -> chunks.seconds)
  }

  /** Closed-loop readers for `seconds`, with the streaming writer when
    * `streaming`; request latencies go to `w`, chunk latencies to `c`. */
  private def phase(seconds: Double, streaming: Boolean, w: Window, c: Window): Unit = {
    val stop = new AtomicBoolean(false)
    val logs = Array.fill(Readers)(new Log)
    val readers = (0 until Readers).map { t =>
      new Thread(() => {
        while (!stop.get) {
          val i = cursor.getAndIncrement()
          val idx = i % Requests
          val t0 = System.nanoTime()
          res.attempt("request") {
            Trace.span("client.request", s"r$t-$i")(cl.getOnlineFeatures(Seq(requests(idx)), onDemand))
          }.foreach(out => logs(t).add(idx, (System.nanoTime() - t0) / 1e6, out.head))
        }
      })
    }
    val writer = if (!streaming) None else Some(new Thread(() =>
      while (!stop.get) feedChunk(c)))
    val t0 = System.nanoTime()
    (readers ++ writer).foreach(_.start())
    Thread.sleep((seconds * 1000).toLong)
    stop.set(true)
    (readers ++ writer).foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    w.seconds += wall
    c.seconds += wall
    logs.foreach { l =>
      w.latMs ++= l.latMs
      w.done += l.latMs.size
      verify(l)
    }
  }

  /** One chunk: pool chunk `round mod PoolSize`, moved to hour `round`
    * after every materialized event, added and drained. */
  private def feedChunk(c: Window): Unit = {
    val t0 = StreamStart + round * HourMs
    val rows = pool(round % PoolSize).map(r => (r._1, r._2, t0 + r._3))
    round += 1
    rows.foreach(r => streamed.getOrElseUpdate(r._1, ArrayBuffer.empty) += ((r._3, r._2)))
    val c0 = System.nanoTime()
    res.attempt("chunk") {
      Trace.span("stream.chunk", s"c$round") {
        Trace.span("stream.add", s"c$round")(stream.addData(rows))
        Trace.span("stream.drain", s"c$round")(query.processAllAvailable())
      }
    }.foreach { _ =>
      c.latMs += (System.nanoTime() - c0) / 1e6
      c.done += rows.size
    }
  }

  /** `value_1h` after each streamed row of user `k`: its values over the
    * hour up to and including the row. */
  private def streamedSums(k: Long): Seq[Double] = streamed.get(k).toSeq.flatMap { rows =>
    rows.map { case (t, _) => rows.collect { case (u, v) if u >= t - HourMs && u <= t => v }.sum }
  }

  /** Compare each response with the reference computed from the generated
    * rows: the key's materialized value, or any value streamed for it. */
  private def verify(l: Log): Unit = for (j <- l.idx.indices) {
    val i = l.idx(j)
    val k = keys(i)
    val amount = requests(i)("amount").asInstanceOf[Long]
    val out = l.out(j)
    val ok =
      if (k >= expected.length) out.get("value_1h").contains(null) &&
        out.get("scaled").contains(null) && out.get("is_high").contains(null)
      else out.get("value_1h") match {
        case Some(v: Double) =>
          (v == expected(k.toInt) || streamedSums(k).contains(v)) &&
            out.get("scaled").contains(v * amount + 1.0) && out.get("is_high").contains(v > 10000.0)
        case _ => false
      }
    if (!ok) res.fail(s"request for key $k (${requests(i)("user_id").getClass.getSimpleName}) got $out")
  }

  /** Flush the stream with a far-future row of a user that is never
    * requested, then check that every user streamed since the store was
    * last materialized holds `value_1h` at its latest streamed row. */
  def check(): Unit = {
    stream.addData((-1L, 0.0, StreamStart + (round + 1000) * HourMs))
    query.processAllAvailable()
    query.stop()
    val since = StreamStart + materializedAtRound * HourMs
    val store = MemoryOnlineStore.snapshotRows(Table)
      .map(r => r("user_id").asInstanceOf[Long] -> r("value_1h")).toMap
    var checked = 0
    streamed.foreach { case (k, rows) =>
      if (rows.last._1 >= since) {
        checked += 1
        val want = streamedSums(k).last
        if (!store.get(k).contains(want))
          res.fail(s"key $k holds ${store.get(k)} after streaming, expected $want")
      }
    }
    res.extra("streamed_keys_checked") = checked
    res.extra("store_keys") = expected.length
  }

  /** Per-layer probes on the same request stream, one thread, no writer:
    * direct store lookups, expression parse and evaluation, and the whole
    * request, each as its own span of the request's id. */
  override def probe(seconds: Double): Unit = {
    val parsed = exprs.map(Parser.parse)
    val t0 = System.nanoTime()
    var i = 0
    var found = 0L
    while (i < MaxProbes && (System.nanoTime() - t0) / 1e9 < seconds) {
      val req = requests(i % Requests)
      val id = s"p$i"
      Trace.span("client.request", id)(cl.getOnlineFeatures(Seq(req), onDemand))
      val hit = Trace.span("store.get", id)(MemoryOnlineStore.get(Table, req))
      if (hit.isDefined) found += 1
      val row = req ++ hit.flatMap(_.get("value_1h")).map("value_1h" -> _)
      exprs.foreach(e => Trace.span("expr.parse", id)(Parser.parse(e)))
      exprs.foreach(e => Trace.span("expr.eval", id)(RowInterpreter.eval(e, row)))
      parsed.foreach(n => Trace.span("expr.eval_node", id)(RowInterpreter.eval(n, row)))
      i += 1
    }
    res.extra("probe") = Map("lookups" -> i, "found" -> found)
  }

  override def close(): Unit = {
    if (query != null && query.isActive) query.stop()
    MemoryOnlineStore.clear()
  }
}

object Serving {
  val Readers = 3
  val Requests = 20000
  val Materializations = 4
  val ChunkRows = 500
  val PoolSize = 64
  val MaxProbes = 5000
  val WarmupRequests = 100
  val HourMs: Long = 3600000L
  val StreamStart = 4102444800000L // 2100-01-01T00:00:00Z, after every event
  val Table = "perfbench_serve"
  val Source = "perfbench_serve_src"

  /** One reader's completed requests: index, latency and response. */
  final class Log {
    val idx = ArrayBuffer.empty[Int]
    val latMs = ArrayBuffer.empty[Double]
    val out = ArrayBuffer.empty[Map[String, Any]]
    def add(i: Int, ms: Double, o: Map[String, Any]): Unit = { idx += i; latMs += ms; out += o }
  }
}
