package graft

import graft.client.GraftClient
import graft.engine.EventTime
import graft.streaming._
import graft.table._
import org.apache.spark.sql.{DataFrame, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, timestamp_millis}

import scala.collection.mutable
import scala.concurrent.duration._
import scala.util.Random

/** Restart equivalence for the watermark-finalized keyed twins, the
  * temporal join and the sliding-window operator: a query stopped after k
  * of n micro-batches and started again on the same source and checkpoint
  * must emit, in total, exactly the rows of an uninterrupted run — the
  * exactly-once contract of Structured Streaming. Every fixture is fed in event-time order so no
  * row is late (the twins' are their parity fixtures), with the cut placed
  * where the key state already holds finalized history: an operator that
  * kept any of it outside its checkpointed state would diverge after the
  * restart.
  */
class StreamingRestartSpec extends SparkSuite {
  import spark.implicits._

  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Sorted output rows of `build` fed `batches`, one micro-batch each,
    * restarting the query after batch `stopAfter` when given; also the
    * number of rows emitted after the restart.
    */
  private def run[T: Encoder](
      batches: Seq[Seq[T]],
      stopAfter: Option[Int])(build: DataFrame => DataFrame): (Seq[String], Int) = {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[T]
    val out = build(stream.toDF())
    val ckpt = s"${SparkSuite.tmpDir}/restart/${ids.incrementAndGet()}"
    // by batch id: a batch replayed after the restart replaces its first run
    val got = mutable.Map.empty[Long, Seq[String]]
    var firstAfter = Long.MaxValue
    def start() = out.writeStream.option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) =>
        val rows = b.collect().map(_.toString).toSeq
        got.synchronized { got(id) = rows }
      }.start()
    var q = start()
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        stream.addData(b: _*)
        q.processAllAvailable()
        if (stopAfter.contains(i + 1)) {
          q.stop()
          firstAfter = got.synchronized(if (got.isEmpty) 0L else got.keys.max + 1)
          q = start()
        }
      }
    } finally q.stop()
    val all = got.synchronized(got.toSeq)
    (all.flatMap(_._2).sorted, all.filter(_._1 >= firstAfter).map(_._2.size).sum)
  }

  private def withTs(df: DataFrame, names: String*): DataFrame =
    df.toDF(names: _*).withColumn("ts", timestamp_millis(col("t_ms")))

  private def check[T: Encoder](batches: Seq[Seq[T]], stopAfter: Int)(
      build: DataFrame => DataFrame): Unit = {
    val (whole, _) = run(batches, None)(build)
    val (cut, after) = run(batches, Some(stopAfter))(build)
    assert(whole.nonEmpty)
    assert(after > 0, "the restarted query must emit rows")
    assert(cut == whole, s"restarted:\n${cut.mkString("\n")}\nuninterrupted:\n${whole.mkString("\n")}")
  }

  private val h = 3600000L

  private val cases: Seq[(String, () => Unit)] = Seq(
    "CUSUM" -> (() => {
      val rows = Seq((1L, 1000L, 10.0), (1L, 2000L, 12.0), (2L, 1000L, 9.0),
        (2L, 2000L, 10.0), (1L, 3000L, 7.0), (1L, 4000L, 13.0),
        (1L, 5000L, 14.0), (2L, 3000L, 11.0))
      check(Seq(rows.take(4), rows.slice(4, 6), rows.drop(6),
        Seq((9L, 100000L, 10.0))), stopAfter = 2) { df =>
        StreamingCusum.monitor(
          withTs(df, "k", "t_ms", "v").withColumn("tie", col("t_ms")),
          "k", "ts", "tie", "v", refMeanMicro = 10000000L, slackMicro = 0L,
          thresholdMicro = 5000000L, lateness = 0.seconds)
      }
    }),
    "EWMA" -> (() => {
      val rnd = new Random(42)
      val data = (0 until 120).map { i =>
        (1L + i % 3, i.toLong, (i / 3) * 1000L + rnd.nextInt(900),
          math.round(rnd.nextGaussian() * 500 * 1e4) / 1e4)
      }
      check(data.sortBy(_._3).grouped(30).toSeq :+
        Seq((99L, 9999L, data.map(_._3).max + 3700000L, 0.0)), stopAfter = 2) { df =>
        StreamingEwma.ewmaPow2(withTs(df, "k", "id", "t_ms", "v"),
          "k", "ts", "id", "v", lookback = 8, lateness = 1.second)
      }
    }),
    "Page-Hinkley" -> (() => {
      val rnd = new Random(11)
      val rows = for (k <- Seq("a", "b"); i <- 1 to 40) yield {
        val base = if (k == "a" && i > 20) 30.0 else 5.0
        (k, i.toLong, 1000L * i, base + rnd.nextInt(100) / 50.0)
      }
      check(rows.sortBy(_._3).grouped(25).toSeq ++ Seq(
        Seq(("wm", 999L, 7200000L, 0.0)), Seq(("wm", 998L, 14400000L, 0.0))),
        stopAfter = 2) { df =>
        StreamingPageHinkley.monitor(withTs(df, "k", "id", "t_ms", "v"),
          "k", "ts", "id", "v", lambdaMicro = 40000000L, lateness = 5.seconds)
      }
    }),
    "seasonal" -> (() => {
      val rows = (0 until 36).map { i =>
        val phase = (i + 1) % 3
        ("k", i.toLong, 1000L * (i + 1),
          if (i == 28) 95.0 else 10.0 * (phase + 1) + (i % 5) * 0.3)
      }
      check(rows.grouped(12).toSeq ++ Seq(
        Seq(("wm", 999L, 7200000L, 0.0)), Seq(("wm", 998L, 14400000L, 0.0))),
        stopAfter = 2) { df =>
        StreamingSeasonal.monitor(withTs(df, "k", "id", "t_ms", "v"),
          "k", "ts", "id", "v", period = 3, bucketMs = 1000L,
          zThresholdMilli = 4000L, lateness = 2.seconds)
      }
    }),
    "SPRT" -> (() => {
      val rnd = new Random(7)
      val data = (0 until 180).map { i =>
        (1L + i % 6, i.toLong, (i / 6) * 1000L + 1 + rnd.nextInt(900),
          rnd.nextInt(10) < 6)
      }
      check(data.sortBy(_._3).grouped(45).toSeq :+
        Seq((99L, 9999L, data.map(_._3).max + 3700000L, true)), stopAfter = 1) { df =>
        StreamingSprt.sprtBernoulli(withTs(df, "k", "id", "t_ms", "o"),
          "k", "ts", "id", "o", 3L, -2L, 7L, -7L, lateness = 1.second)
      }
    }),
    "mSPRT" -> (() => {
      val rnd = new Random(13)
      val data = (0 until 240).map { i =>
        (1L + i % 6, i.toLong, (i / 6) * 1000L + 1 + rnd.nextInt(900),
          rnd.nextInt(10) < 9)
      }
      check(data.sortBy(_._3).grouped(60).toSeq :+
        Seq((99L, 9999L, data.map(_._3).max + 3700000L, true)), stopAfter = 1) { df =>
        StreamingMsprt.msprt(withTs(df, "k", "id", "t_ms", "o"),
          "k", "ts", "id", "o", 500000L, 40000L, 50000L, lateness = 1.second)
      }
    }),
    "dedup" -> (() => {
      check(Seq(
        Seq((2L, "aaa", 5000L), (1L, "aaa", 1000L), (3L, "bbb", 2000L)),
        Seq((9L, "wm", 100000L)),
        Seq((4L, "aaa", 600000L), (9L, "wm", 7200000L)),
        Seq((5L, "aaa", 9000000L)),
        Seq((9L, "wm2", 99999000L))), stopAfter = 2) { df =>
        StreamingDedup.markDuplicates(withTs(df, "id", "h", "t_ms"),
          keyCols = Seq("h"), tsCol = "ts", orderCol = "id",
          lateness = 10.seconds, horizon = 1.hour)
      }
    }),
    "LSH" -> (() => {
      val texts = Map(
        1L -> "the quick brown fox jumps over the lazy dog",
        2L -> "the quick brown fox jumps over the lazy cat",
        3L -> "a completely different sentence about spark engines",
        4L -> "the quick brown fox jumps over the lazy dog",
        5L -> "der hund und die katze und der vogel")
      check(Seq(
        Seq((1L, texts(1L), 1000L), (2L, texts(2L), 2000L), (3L, texts(3L), 3000L)),
        Seq((4L, texts(4L), 4000L), (5L, texts(5L), 5000L)),
        Seq((9L, "watermark push", 7200000L)),
        Seq((9L, "watermark push two", 14400000L))), stopAfter = 1) { df =>
        StreamingLsh.candidatePairs(withTs(df, "doc_id", "text", "t_ms"),
          "doc_id", "text", "ts", lateness = 1.second, horizon = 1.hour)
      }
    }),
    "temporal join" -> (() => {
      // both sides come from one stream of side-tagged rows, so no
      // micro-batch can start between the left and right rows of a batch;
      // the cut falls after right version ("a", 20) at 3000, which the
      // later left row ("a", 4000) must join from the restored state
      check(Seq(
        Seq(("R", "a", 10L, 1000L), ("R", "b", 5L, 1200L), ("L", "a", 0L, 1500L)),
        Seq(("R", "a", 20L, 3000L), ("L", "b", 0L, 2500L)),
        Seq(("L", "a", 0L, 4000L), ("L", "b", 0L, 4500L), ("R", "b", 7L, 5000L)),
        Seq(("L", "zz", 0L, 100 * h))), stopAfter = 2) { df =>
        val rows = df.toDF("side", "k", "v", "t_ms").withColumn(EventTime.Col, col("t_ms"))
        StreamingTemporalJoin(
          rows.filter(col("side") === "L").select("k", "t_ms", EventTime.Col),
          rows.filter(col("side") === "R").select("k", "v", EventTime.Col),
          Seq("k"), Seq("v" -> "jv"), maxOutOfOrdernessMs = 0L)
      }
    }),
    "over windows" -> (() => {
      val rows = Seq(
        ("u1", "pay", 100L, 1 * h), ("u2", "pay", 10L, 1 * h),
        ("u1", "view", 50L, 2 * h), ("u1", "pay", 200L, 4 * h),
        ("u1", "view", 75L, 5 * h), ("u2", "view", 20L, 7 * h))
      check(Seq(rows.take(3), rows.drop(3), Seq(("zz", "x", 0L, 100 * h))),
        stopAfter = 1) { df =>
        val n = ids.incrementAndGet()
        val src = DataFrameSource(s"rs_ow_src$n", df.toDF("uid", "etype", "value", "t_ms"),
          keys = Some(Seq("uid")), timestampField = Some("t_ms"),
          timestampFormat = "epoch_millis")
        new GraftClient(spark).getFeatures(DerivedFeatureView(
          s"rs_ow_view$n", src,
          features = Seq(
            Feature("sum_3h", OverWindowTransform("value", AggFunc.Sum, Some(3.hours), Seq("uid"))),
            Feature("sum_2r", OverWindowTransform("value", AggFunc.Sum, None, Seq("uid"), limit = Some(2))),
            Feature("rn", OverWindowTransform("value", AggFunc.RowNumber, None, Seq("uid"))),
            Feature("pay_sum_2", OverWindowTransform(
              "value", AggFunc.Sum, None, Seq("uid"),
              filterExpr = Some("etype = 'pay'"), limit = Some(2)))),
          keepSourceFields = true))
      }
    }),
    "sliding windows" -> (() => {
      // u2's lone row makes two equal windows in a row (skipped) before its
      // window empties (one defaults row); the cut leaves buckets of both
      // keys and owed windows in the checkpointed state
      val rows = Seq(
        ("u1", 100L, 1 * h + 1), ("u2", 10L, 1 * h + 5), ("u1", 50L, 2 * h + 1),
        ("u1", 50L, 3 * h + 2), ("u1", 70L, 3 * h + 9), ("u2", 20L, 5 * h),
        ("u1", 200L, 6 * h + 3), ("u2", 20L, 6 * h + 4), ("u1", 30L, 7 * h))
      check(Seq(rows.take(3), rows.slice(3, 6), rows.drop(6),
        Seq(("zz", 0L, 100 * h))), stopAfter = 2) { df =>
        val n = ids.incrementAndGet()
        val src = DataFrameSource(s"rs_sw_src$n", df.toDF("uid", "value", "t_ms"),
          keys = Some(Seq("uid")), timestampField = Some("t_ms"),
          timestampFormat = "epoch_millis")
        new GraftClient(spark).getFeatures(SlidingFeatureView(
          s"rs_sw_view$n", src,
          features = Seq(
            Feature("sum_3h", SlidingWindowTransform("value", AggFunc.Sum, 3.hours, 1.hour, Seq("uid"))),
            Feature("last_2", SlidingWindowTransform(
              "value", AggFunc.LastValue, 3.hours, 1.hour, Seq("uid"), limit = Some(2))),
            Feature("vc_2h", SlidingWindowTransform("value", AggFunc.ValueCounts, 2.hours, 1.hour, Seq("uid")))),
          enableEmptyWindowOutput = true, skipSameWindowOutput = true))
      }
    }))

  cases.foreach { case (name, body) =>
    test(s"$name: a restart from the checkpoint emits what an uninterrupted run emits") {
      body()
    }
  }
}
