package graft

import graft.client.GraftClient
import graft.table._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, timestamp_millis}

import scala.concurrent.duration._

/** Measured state-size scaling for the stateful streaming twins — the
  * streaming analogue of the batch 1×-vs-8× wall ratios of
  * `JobProf --scale 8`.
  * Each test feeds a twin the same workload at 1× and 8× and reads the
  * engine's own state metrics (`stateOperators.numRowsTotal` = state
  * store rows ≈ live group keys; `memoryUsedBytes` = loaded state size,
  * which DOES grow with a group's internal buffers) off the query
  * progress. Claims under test, matching SCALE.md:
  *
  *  - sliding windows: per-key state is O(maxWindow/step) bucket
  *    partials, INDEPENDENT of row rate — 8× denser input, same keys
  *    and span, must not grow state anywhere near 8×;
  *  - LSH candidates: per-bucket state is horizon-bounded and hard-
  *    capped at `maxBucket` — 8× more docs through one hot bucket must
  *    hold state ~flat (quarantine + cap), not grow it linearly;
  *  - dedup: per-key settled state is ONE timestamp (pending is
  *    lateness-bounded, not rate-bounded), and keys evict a horizon
  *    after their last copy — after the watermark passes, state rows
  *    must collapse to the sentinel keys regardless of how many keys
  *    the run touched.
  *
  * Ratios asserted with slack (state-store bytes include per-version
  * bookkeeping noise); the MEASURED values land in SCALE.md's round-12
  * section.
  */
class StreamingStateSpec extends SparkSuite {

  private case class StateStats(peakRows: Long, peakBytes: Long, finalRows: Long)

  /** Drive a streaming frame through `feeds` (each followed by
    * processAllAvailable) and fold peak/final state metrics over every
    * recorded progress event.
    */
  private def measure(out: DataFrame, name: String)(feeds: (() => Unit)*): StateStats = {
    val query = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    var peakRows = 0L; var peakBytes = 0L; var finalRows = 0L
    try {
      feeds.foreach { f =>
        f()
        query.processAllAvailable()
        for (p <- query.recentProgress; so <- p.stateOperators.headOption) {
          peakRows = math.max(peakRows, so.numRowsTotal)
          peakBytes = math.max(peakBytes, so.memoryUsedBytes)
        }
        for (p <- Option(query.lastProgress); so <- p.stateOperators.headOption)
          finalRows = so.numRowsTotal
      }
    } finally query.stop()
    StateStats(peakRows, peakBytes, finalRows)
  }

  private val day = 86400000L

  test("sliding-window state is row-rate independent (8x density ~ flat)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    // `mult` events per user per day, 16 users, 30 days, 7d/1d windows:
    // bucket partials bound the per-key state at O(span)=7 regardless of
    // how many rows fold into each bucket
    def run(mult: Int, tag: String): StateStats = {
      val stream = MemoryStream[(String, Long, Long)]
      val src = DataFrameSource(s"ss_$tag", stream.toDF().toDF("name", "cost", "t_ms"),
        keys = Some(Seq("name")), timestampField = Some("t_ms"),
        timestampFormat = "epoch_millis")
      val view = SlidingFeatureView(s"ssv_$tag", src, features = Seq(
        Feature("s7", SlidingWindowTransform("cost", AggFunc.Sum, 7.days, 1.day, Seq("name"))),
        Feature("c1", SlidingWindowTransform("cost", AggFunc.Count, 1.day, 1.day, Seq("name")))))
      val out = new GraftClient(spark).getFeatures(view)
      def chunk(days: Range): () => Unit = () => stream.addData(
        for { d <- days; u <- 0 until 16; r <- 0 until mult }
          yield (s"u$u", (d * 16 + u + r).toLong, d * day + r * 3600000L + u))
      measure(out, s"ss_state_$tag")(
        chunk(0 until 10), chunk(10 until 20), chunk(20 until 30),
        () => stream.addData(("zz", 0L, 90 * day)),
        () => stream.addData(("zz", 0L, 180 * day)))
    }
    val s1 = run(1, "d1")
    val s8 = run(8, "d8")
    info(s"sliding 1x: $s1  8x: $s8")
    // 17 live groups either way; bytes must stay far from linear
    assert(s8.peakRows <= s1.peakRows + 2, s"$s1 vs $s8")
    assert(s8.peakBytes.toDouble <= 4.0 * s1.peakBytes, s"$s1 vs $s8")
  }

  test("LSH bucket state holds ~flat under 8x docs through a hot bucket") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    // identical text → one bucket per band; maxBucket far below the doc
    // count, chunks sized alike so pending never differs, watermark
    // advances between chunks
    val text = "the quick brown fox jumps over the lazy dog again and again"
    def run(nDocs: Int, tag: String): StateStats = {
      val stream = MemoryStream[(Long, String, Long)]
      val sdf = stream.toDF().toDF("doc_id", "text", "t_ms")
        .withColumn("ts", timestamp_millis(col("t_ms")))
      val out = graft.streaming.StreamingLsh.candidatePairs(
        sdf, "doc_id", "text", "ts",
        lateness = 5.seconds, horizon = 10.minutes, maxBucket = 16)
      val chunks: Seq[() => Unit] = (0 until nDocs).grouped(10).toSeq.map { ids => () =>
        stream.addData(ids.map(i => (i.toLong, text, 1000L * (i + 1))): _*); ()
      }
      measure(out, s"lsh_state_$tag")(chunks ++ Seq[() => Unit](
        () => { stream.addData((99990L, "wm push one", 7200000L)); () },
        () => { stream.addData((99991L, "wm push two", 14400000L)); () }): _*)
    }
    val s1 = run(40, "n40")
    val s8 = run(320, "n320")
    info(s"lsh 1x: $s1  8x: $s8")
    assert(s8.peakBytes.toDouble <= 3.0 * s1.peakBytes, s"$s1 vs $s8")
    // horizon eviction: after the watermark pushes, only the wm-push
    // doc's buckets may remain
    assert(s8.finalRows <= 8, s"$s8")
  }

  test("seasonal monitor state is O(period), independent of row rate") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    def run(mult: Int, tag: String): StateStats = {
      val stream = MemoryStream[(String, Long, Long, Double)]
      val sdf = stream.toDF().toDF("k", "id", "t_ms", "v")
        .withColumn("ts", org.apache.spark.sql.functions
          .timestamp_millis(org.apache.spark.sql.functions.col("t_ms")))
      val out = graft.streaming.StreamingSeasonal.monitor(
        sdf, "k", "ts", "id", "v", period = 24, bucketMs = 1000L,
        zThresholdMilli = 4000L, lateness = 2.seconds)
      // fixed 200-row chunks: the pending buffer (batch-sized by
      // construction) stays constant, so the measurement isolates the
      // phase-moment state the claim is about
      val rows = (1 until 400).flatMap(i => (0 until mult).map(j =>
        ("k", i * 100L + j, 1000L * i, 10.0 + (i % 24))))
      val chunks: Seq[() => Unit] = rows.grouped(200).map(c => () => {
        stream.addData(c: _*); ()
      }).toSeq
      measure(out, s"seas_state_$tag")(chunks ++ Seq[() => Unit](
        () => { stream.addData(("wm", 9L, 7200000L, 0.0)); () },
        () => { stream.addData(("wm", 8L, 14400000L, 0.0)); () }): _*)
    }
    val s1 = run(1, "m1")
    val s8 = run(8, "m8")
    info(s"seasonal 1x: $s1  8x: $s8")
    // 2 keys (k + wm sentinel) either way; phase moments are fixed-size
    assert(s8.peakRows <= s1.peakRows + 1, s"$s1 vs $s8")
    assert(s8.peakBytes.toDouble <= 3.0 * s1.peakBytes, s"$s1 vs $s8")
  }

  test("cusum monitor state is O(1) per key, independent of row rate") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    def run(mult: Int, tag: String): StateStats = {
      val stream = MemoryStream[(String, Long, Long, Double)]
      val sdf = stream.toDF().toDF("k", "id", "t_ms", "v")
        .withColumn("ts", timestamp_millis(col("t_ms")))
      val out = graft.streaming.StreamingCusum.monitor(
        sdf, "k", "ts", "id", "v", refMeanMicro = 10000000L,
        slackMicro = 500000L, thresholdMicro = 1000000000L,
        lateness = 2.seconds)
      // fixed 200-row chunks: pending is batch-sized by construction, so
      // the measurement isolates the per-key scalar state (n, s, hi, lo)
      val rows = (1 until 400).flatMap(i => (0 until mult).map(j =>
        ("k", i * 100L + j, 1000L * i, 10.0 + (i % 5))))
      val chunks: Seq[() => Unit] = rows.grouped(200).map(c => () => {
        stream.addData(c: _*); ()
      }).toSeq
      measure(out, s"cusum_state_$tag")(chunks ++ Seq[() => Unit](
        () => { stream.addData(("wm", 9L, 7200000L, 0.0)); () },
        () => { stream.addData(("wm", 8L, 14400000L, 0.0)); () }): _*)
    }
    val s1 = run(1, "m1")
    val s8 = run(8, "m8")
    info(s"cusum 1x: $s1  8x: $s8")
    // 2 keys (k + wm sentinel) either way; per-key state is 4 scalars
    assert(s8.peakRows <= s1.peakRows + 1, s"$s1 vs $s8")
    assert(s8.peakBytes.toDouble <= 3.0 * s1.peakBytes, s"$s1 vs $s8")
  }

  test("page-hinkley monitor state is O(1) per key, independent of row rate") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    def run(mult: Int, tag: String): StateStats = {
      val stream = MemoryStream[(String, Long, Long, Double)]
      val sdf = stream.toDF().toDF("k", "id", "t_ms", "v")
        .withColumn("ts", timestamp_millis(col("t_ms")))
      val out = graft.streaming.StreamingPageHinkley.monitor(
        sdf, "k", "ts", "id", "v", lambdaMicro = 1000000000L,
        lateness = 2.seconds)
      val rows = (1 until 400).flatMap(i => (0 until mult).map(j =>
        ("k", i * 100L + j, 1000L * i, 10.0 + (i % 7))))
      val chunks: Seq[() => Unit] = rows.grouped(200).map(c => () => {
        stream.addData(c: _*); ()
      }).toSeq
      measure(out, s"ph_state_$tag")(chunks ++ Seq[() => Unit](
        () => { stream.addData(("wm", 9L, 7200000L, 0.0)); () },
        () => { stream.addData(("wm", 8L, 14400000L, 0.0)); () }): _*)
    }
    val s1 = run(1, "m1")
    val s8 = run(8, "m8")
    info(s"page-hinkley 1x: $s1  8x: $s8")
    // per-key state is (n, s, m, minM) BigInt scalars whose BYTE size
    // grows only logarithmically with the folded mass — far from 8x
    assert(s8.peakRows <= s1.peakRows + 1, s"$s1 vs $s8")
    assert(s8.peakBytes.toDouble <= 3.0 * s1.peakBytes, s"$s1 vs $s8")
  }

  test("drift-window state is O(bins) per open window, independent of row rate") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    // psiVsReference is a plain windowed agg — state per open window is
    // `bins` counter longs, so 8x the rows through the same event-time
    // span must leave both the state-row count (open windows) and the
    // bytes ~flat; ksVsReference shares the identical agg skeleton
    def run(mult: Int, tag: String): StateStats = {
      val stream = MemoryStream[(Long, Long, Double)]
      val sdf = stream.toDF().toDF("id", "t_ms", "v")
        .withColumn("ts", timestamp_millis(col("t_ms")))
      val out = graft.streaming.StreamingDrift.psiVsReference(
        sdf, "ts", "v", refLo = 0.0, refHi = 10.0,
        refCounts = (0 until 10).map(b => b -> 100L).toMap, bins = 10,
        window = 1.minute, lateness = 2.seconds)
      val rows = (1 until 600).flatMap(i => (0 until mult).map(j =>
        (i * 1000L + j, 1000L * i, (i % 50) / 5.0)))
      val chunks: Seq[() => Unit] = rows.grouped(200).map(c => () => {
        stream.addData(c: _*); ()
      }).toSeq
      measure(out, s"drift_state_$tag")(chunks ++ Seq[() => Unit](
        () => { stream.addData((999990L, 7200000L, 0.0)); () },
        () => { stream.addData((999991L, 14400000L, 0.0)); () }): _*)
    }
    val s1 = run(1, "m1")
    val s8 = run(8, "m8")
    info(s"drift 1x: $s1  8x: $s8")
    assert(s8.peakRows <= s1.peakRows + 2, s"$s1 vs $s8")
    assert(s8.peakBytes.toDouble <= 3.0 * s1.peakBytes, s"$s1 vs $s8")
  }

  test("dedup state is per-key O(1) settled and horizon-evicted") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    def run(nKeys: Int, tag: String): StateStats = {
      val stream = MemoryStream[(Long, String, Long)]
      val sdf = stream.toDF().toDF("id", "h", "t_ms")
        .withColumn("ts", timestamp_millis(col("t_ms")))
      val out = graft.streaming.StreamingDedup.markDuplicates(
        sdf, keyCols = Seq("h"), tsCol = "ts", orderCol = "id",
        lateness = 10.seconds, horizon = 60.seconds)
      // each key: one original + one dup, all inside one minute
      val chunks: Seq[() => Unit] = (0 until nKeys).grouped(200).toSeq.map { ks => () =>
        stream.addData(ks.flatMap(k =>
          Seq((k * 2L, s"k$k", 1000L + k), (k * 2L + 1, s"k$k", 2000L + k))): _*); ()
      }
      measure(out, s"dedup_state_$tag")(chunks ++ Seq[() => Unit](
        () => { stream.addData((999990L, "wm", 600000L)); () },
        () => { stream.addData((999991L, "wm2", 1200000L)); () }): _*)
    }
    val s1 = run(400, "k400")
    val s8 = run(3200, "k3200")
    info(s"dedup 1x: $s1  8x: $s8")
    // peak scales with KEYS (the scale-out dimension): linear rows...
    assert(s8.peakRows >= 4 * s1.peakRows / 2, s"$s1 vs $s8")
    // ...but per-key bytes stay flat (settled state = one timestamp)
    val perKey1 = s1.peakBytes.toDouble / s1.peakRows
    val perKey8 = s8.peakBytes.toDouble / s8.peakRows
    assert(perKey8 <= 2.0 * perKey1, s"per-key $perKey1 vs $perKey8")
    // horizon eviction wipes everything but the sentinels
    assert(s1.finalRows <= 2 && s8.finalRows <= 2, s"$s1 / $s8")
  }
}
