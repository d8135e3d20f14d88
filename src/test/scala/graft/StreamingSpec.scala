package graft

import graft.client.GraftClient
import graft.table._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat, lit}

import scala.concurrent.duration._

/** Streaming sliding windows must match the batch goldens on the canonical
  * fixture (ref: test_sliding_window_transform.py:75-141 — the same rows
  * produce 500/1000/1600/1100/0 for SUM over 2d windows stepped daily).
  */
class StreamingSpec extends SparkSuite {

  private def ms(s: String): Long =
    java.time.LocalDateTime.parse(s.replace(" ", "T"))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli

  test("streaming sliding window matches the batch golden") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[(String, Long, Long)]
    val df = stream.toDF().toDF("name", "cost", "t_ms")

    val src = DataFrameSource(
      "s_purchases", df,
      keys = Some(Seq("name")),
      timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    val view = SlidingFeatureView(
      "s_slide", src,
      features = Seq(
        Feature(
          "total_cost",
          SlidingWindowTransform("cost", AggFunc.Sum, 2.days, 1.day))))

    val cl = new GraftClient(spark)
    val out = cl.getFeatures(view)
    val query = out.writeStream.format("memory").queryName("s_slide_out")
      .outputMode("append").start()
    try {
      // F1 fixture rows (no group keys → single global group)
      stream.addData(
        ("Alex", 100L, ms("2022-01-01 08:01:00")),
        ("Emma", 400L, ms("2022-01-01 08:02:00")),
        ("Alex", 300L, ms("2022-01-02 08:03:00")),
        ("Emma", 200L, ms("2022-01-02 08:04:00")),
        ("Jack", 500L, ms("2022-01-03 08:05:00")),
        ("Alex", 600L, ms("2022-01-03 08:06:00")))
      query.processAllAvailable()
      // sentinel advances the watermark past every real window
      stream.addData(("zz", 0L, ms("2022-03-01 00:00:00")))
      query.processAllAvailable()
      stream.addData(("zz", 0L, ms("2022-04-01 00:00:00")))
      query.processAllAvailable()

      val got = spark.sql(
        "SELECT window_time, total_cost FROM s_slide_out " +
          s"WHERE window_time < ${ms("2022-02-01 00:00:00")} ORDER BY window_time")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val day = 86400000L
      val t0 = java.time.LocalDate.parse("2022-01-01").toEpochDay * day
      val expected = Seq(500L, 1000L, 1600L, 1100L, 0L).zipWithIndex.map {
        case (v, i) => (t0 + (i + 1) * day - 1, v)
      }
      assert(got == expected)
    } finally query.stop()
  }

  test("streaming sliding rejects ROW_NUMBER when the view is built") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Long, Long)]
    val src = DataFrameSource(
      "s_rn_src", stream.toDF().toDF("name", "cost", "t_ms"),
      keys = Some(Seq("name")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    val view = SlidingFeatureView("s_rn", src, features = Seq(
      Feature("rn", SlidingWindowTransform("cost", AggFunc.RowNumber, 2.days, 1.day, Seq("name")))))
    val e = intercept[IllegalArgumentException](new GraftClient(spark).getFeatures(view))
    assert(e.getMessage.contains("ROW_NUMBER"))
  }

  test("streaming late data: merged within lateness, dropped past watermark - maxWindow") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[(String, Long, Long)]
    val src = DataFrameSource(
      "late_src", stream.toDF().toDF("name", "cost", "t_ms"),
      keys = Some(Seq("name")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis",
      maxOutOfOrderness = 2.days)
    val view = SlidingFeatureView(
      "late_view", src,
      features = Seq(
        Feature("total", SlidingWindowTransform("cost", AggFunc.Sum, 2.days, 1.day, Seq("name")))),
      enableEmptyWindowOutput = false,
      skipSameWindowOutput = false)
    val cl = new GraftClient(spark)
    val query = cl.getFeatures(view)
      .writeStream.format("memory").queryName("late_out").outputMode("append").start()
    try {
      def d(n: Int) = ms("2022-01-01 08:00:00") + (n - 1) * 86400000L
      stream.addData(("Alex", 100L, d(1)), ("Alex", 300L, d(2)), ("Alex", 600L, d(3)))
      query.processAllAvailable()
      // late by a day but within the 2d lateness bound → merged into d2
      stream.addData(("Alex", 50L, d(2) - 3600000L))
      query.processAllAvailable()
      stream.addData(("zz", 0L, d(30)))
      query.processAllAvailable()
      // beyond watermark - maxWindow → dropped per the reference rule
      stream.addData(("Alex", 999L, d(1)))
      query.processAllAvailable()
      stream.addData(("zz", 0L, d(60)))
      query.processAllAvailable()

      val got = spark.sql(
        "SELECT window_time, total FROM late_out WHERE name = 'Alex' ORDER BY window_time")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val day = 86400000L
      val t0 = java.time.LocalDate.parse("2022-01-01").toEpochDay * day
      // d1: 100; d2: 100+300+50; d3: 300+50+600; d4: 600 — the 999 never lands
      val expected = Seq(100L, 450L, 950L, 600L).zipWithIndex.map {
        case (v, i) => (t0 + (i + 1) * day - 1, v)
      }
      assert(got == expected)
    } finally query.stop()
  }

  test("streaming limit + value_counts match the batch engine") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val rows = Seq(
      ("Alex", 100L, ms("2022-01-01 08:01:00")),
      ("Emma", 400L, ms("2022-01-01 08:02:00")),
      ("Alex", 300L, ms("2022-01-02 08:03:00")),
      ("Emma", 200L, ms("2022-01-02 08:04:00")),
      ("Jack", 500L, ms("2022-01-03 08:05:00")),
      ("Alex", 600L, ms("2022-01-03 08:06:00")))

    def view(src: TableDescriptor, name: String) = SlidingFeatureView(
      name, src,
      features = Seq(
        Feature("newest2", SlidingWindowTransform(
          "cost", AggFunc.Sum, 3.days, 1.day, Seq("name"), limit = Some(2))),
        Feature("counts", SlidingWindowTransform(
          "cost", AggFunc.ValueCounts, 2.days, 1.day, Seq("name"))),
        Feature("lst", SlidingWindowTransform(
          "cost", AggFunc.CollectList, 2.days, 1.day, Seq("name")))),
      enableEmptyWindowOutput = false,
      skipSameWindowOutput = false)

    val cl = new GraftClient(spark)
    val batchSrc = DataFrameSource(
      "lv_batch", rows.toDF("name", "cost", "t_ms"),
      keys = Some(Seq("name")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    def normalize(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getAs[Long]("newest2"),
        Option(r.getAs[Map[Long, Long]]("counts")),
        Option(r.getAs[scala.collection.Seq[Long]]("lst")).map(_.toSeq))
    val expected = cl.getFeatures(view(batchSrc, "lv_batch_view"))
      .orderBy("name", "window_time").collect().map(normalize).toSeq

    val stream = MemoryStream[(String, Long, Long)]
    val streamSrc = DataFrameSource(
      "lv_stream", stream.toDF().toDF("name", "cost", "t_ms"),
      keys = Some(Seq("name")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    val query = cl.getFeatures(view(streamSrc, "lv_stream_view"))
      .writeStream.format("memory").queryName("lv_out").outputMode("append").start()
    try {
      stream.addData(rows: _*)
      query.processAllAvailable()
      stream.addData(("zz", 0L, ms("2022-03-01 00:00:00")))
      query.processAllAvailable()
      stream.addData(("zz", 0L, ms("2022-04-01 00:00:00")))
      query.processAllAvailable()
      val got = spark.sql(
        "SELECT name, window_time, newest2, counts, lst FROM lv_out " +
          s"WHERE window_time < ${ms("2022-02-01 00:00:00")} ORDER BY name, window_time")
        .collect().map(normalize).toSeq
      assert(got == expected)
    } finally query.stop()
  }

  test("streaming composite keys that concatenate equally stay distinct") {
    // Regression: the state key was built by concatenating key parts, so
    // ("ab","c")/("a","bc") and ("12","3")/("1","23") shared one state
    // entry and emitted merged aggregates under the first-seen key values.
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val rows = Seq(
      ("ab", "c", 100L, ms("2022-01-01 08:01:00")),
      ("a", "bc", 200L, ms("2022-01-01 08:02:00")),
      ("12", "3", 400L, ms("2022-01-01 08:03:00")),
      ("1", "23", 800L, ms("2022-01-01 08:04:00")))

    def view(src: TableDescriptor, name: String) = SlidingFeatureView(
      name, src,
      features = Seq(
        Feature("total", SlidingWindowTransform(
          "cost", AggFunc.Sum, 1.day, 1.day, Seq("k1", "k2")))),
      enableEmptyWindowOutput = false,
      skipSameWindowOutput = false)

    val cl = new GraftClient(spark)
    val batchSrc = DataFrameSource(
      "ck_batch", rows.toDF("k1", "k2", "cost", "t_ms"),
      keys = Some(Seq("k1", "k2")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    def norm(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
    val expected = cl.getFeatures(view(batchSrc, "ck_batch_view"))
      .selectExpr("k1", "k2", "window_time", "total")
      .orderBy("k1", "k2").collect().map(norm).toSeq
    assert(expected.map(e => (e._1, e._2, e._4)) ==
      Seq(("1", "23", 800L), ("12", "3", 400L), ("a", "bc", 200L), ("ab", "c", 100L)))

    val stream = MemoryStream[(String, String, Long, Long)]
    val streamSrc = DataFrameSource(
      "ck_stream", stream.toDF().toDF("k1", "k2", "cost", "t_ms"),
      keys = Some(Seq("k1", "k2")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    val query = cl.getFeatures(view(streamSrc, "ck_stream_view"))
      .writeStream.format("memory").queryName("ck_out").outputMode("append").start()
    try {
      stream.addData(rows: _*)
      query.processAllAvailable()
      stream.addData(("zz", "zz", 0L, ms("2022-03-01 00:00:00")))
      query.processAllAvailable()
      stream.addData(("zz", "zz", 0L, ms("2022-04-01 00:00:00")))
      query.processAllAvailable()
      val got = spark.sql(
        "SELECT k1, k2, window_time, total FROM ck_out " +
          s"WHERE window_time < ${ms("2022-02-01 00:00:00")} ORDER BY k1, k2")
        .collect().map(norm).toSeq
      assert(got == expected)
    } finally query.stop()
  }

  test("streaming sliding windows honor the session timezone offset") {
    // Parity with the batch tz golden: GMT+8 day windows close at local
    // midnight (16:00 UTC) in the streaming operator too.
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86400000L
    val jan1 = java.time.LocalDate.parse("2022-01-01").toEpochDay * day
    val rows = Seq(
      ("a", 100L, jan1 + 8 * 3600000L),
      ("a", 200L, jan1 + 20 * 3600000L))
    def view(src: TableDescriptor, name: String) = SlidingFeatureView(
      name, src,
      features = Seq(Feature("total", SlidingWindowTransform(
        "cost", AggFunc.Sum, 1.day, 1.day, Seq("k")))),
      enableEmptyWindowOutput = false, skipSameWindowOutput = false)
    val cl = new GraftClient(spark)
    spark.conf.set("spark.sql.session.timeZone", "GMT+8")
    try {
      val stream = MemoryStream[(String, Long, Long)]
      val src = DataFrameSource(
        "tzs_stream", stream.toDF().toDF("k", "cost", "t_ms"),
        keys = Some(Seq("k")), timestampField = Some("t_ms"),
        timestampFormat = "epoch_millis")
      val query = cl.getFeatures(view(src, "tzs_view"))
        .writeStream.format("memory").queryName("tzs_out").outputMode("append").start()
      try {
        stream.addData(rows: _*)
        query.processAllAvailable()
        stream.addData(("zz", 0L, jan1 + 40 * day)) // advance the watermark
        query.processAllAvailable()
        val got = spark.sql(
            s"SELECT window_time, total FROM tzs_out WHERE k = 'a' ORDER BY window_time")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(got == Seq(
          (jan1 + 16 * 3600000L - 1, 100L),
          (jan1 + 40 * 3600000L - 1, 200L)))
      } finally query.stop()
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("streaming over-windows match the batch engine (range/rows/unbounded/filtered)") {
    // The streaming analogue of the batch q07/q08 shapes: RANGE window AVG/
    // SUM/COUNT, rows-limit SUM and COLLECT_LIST, unbounded ROW_NUMBER, and
    // a filtered SUM with limit — all asserted equal to the batch engine on
    // the same rows.
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val h = 3600000L
    // fed to the stream in two batches split at 2h — later batches may only
    // carry rows above the first batch's watermark (late rows drop, as in
    // Flink OVER)
    val rows = Seq(
      ("u1", "pay", 100L, 1 * h),
      ("u2", "pay", 10L, 1 * h),
      ("u1", "view", 50L, 2 * h),
      ("u1", "pay", 200L, 4 * h),
      ("u1", "view", 75L, 5 * h),
      ("u2", "view", 20L, 7 * h))

    def view(src: TableDescriptor, name: String) = DerivedFeatureView(
      name, src,
      features = Seq(
        Feature("avg_3h", OverWindowTransform("value", AggFunc.Avg, Some(3.hours), Seq("uid"))),
        Feature("sum_3h", OverWindowTransform("value", AggFunc.Sum, Some(3.hours), Seq("uid"))),
        Feature("cnt_3h", OverWindowTransform("value", AggFunc.Count, Some(3.hours), Seq("uid"))),
        Feature("sum_2r", OverWindowTransform("value", AggFunc.Sum, None, Seq("uid"), limit = Some(2))),
        Feature("vals_2r", OverWindowTransform("value", AggFunc.CollectList, None, Seq("uid"), limit = Some(2))),
        Feature("rn", OverWindowTransform("value", AggFunc.RowNumber, None, Seq("uid"))),
        Feature("pay_sum_2", OverWindowTransform(
          "value", AggFunc.Sum, None, Seq("uid"),
          filterExpr = Some("etype = 'pay'"), limit = Some(2))),
        Feature("first_3h", OverWindowTransform("etype", AggFunc.FirstValue, Some(3.hours), Seq("uid")))),
      keepSourceFields = true)

    val cl = new GraftClient(spark)
    def norm(r: org.apache.spark.sql.Row) = (
      r.getAs[String]("uid"), r.getAs[Long]("t_ms"),
      r.getAs[Double]("avg_3h"), r.getAs[Long]("sum_3h"), r.getAs[Long]("cnt_3h"),
      r.getAs[Long]("sum_2r"),
      r.getAs[scala.collection.Seq[Long]]("vals_2r").toList,
      r.getAs[Long]("rn"), r.getAs[Long]("pay_sum_2"), r.getAs[String]("first_3h"))
    val batchSrc = DataFrameSource(
      "owb_src", rows.toDF("uid", "etype", "value", "t_ms"),
      keys = Some(Seq("uid")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    val expected = cl.getFeatures(view(batchSrc, "owb_view"))
      .orderBy("uid", "t_ms").collect().map(norm).toSeq

    val stream = MemoryStream[(String, String, Long, Long)]
    val streamSrc = DataFrameSource(
      "ows_src", stream.toDF().toDF("uid", "etype", "value", "t_ms"),
      keys = Some(Seq("uid")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    val query = cl.getFeatures(view(streamSrc, "ows_view"))
      .writeStream.format("memory").queryName("ows_out").outputMode("append").start()
    try {
      stream.addData(rows.take(3): _*)
      query.processAllAvailable()
      stream.addData(rows.drop(3): _*)
      query.processAllAvailable()
      stream.addData(("zz", "x", 0L, 100 * h)) // advance watermark past all rows
      query.processAllAvailable()
      val got = spark.sql("SELECT * FROM ows_out WHERE uid <> 'zz' ORDER BY uid, t_ms")
        .collect().map(norm).toSeq
      assert(got == expected)
    } finally query.stop()
  }

  test("streaming over-windows: min/max/value_counts parity and late-row drop") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val h = 3600000L
    val rows = Seq(
      ("u1", 30L, 1 * h),
      ("u1", 10L, 2 * h),
      ("u1", 20L, 4 * h))

    def view(src: TableDescriptor, name: String) = DerivedFeatureView(
      name, src,
      features = Seq(
        Feature("min_3h", OverWindowTransform("value", AggFunc.Min, Some(3.hours), Seq("uid"))),
        Feature("max_all", OverWindowTransform("value", AggFunc.Max, None, Seq("uid"))),
        Feature("vc_2r", OverWindowTransform("value", AggFunc.ValueCounts, None, Seq("uid"), limit = Some(2)))),
      keepSourceFields = true)

    val cl = new GraftClient(spark)
    def norm(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("t_ms"), r.getAs[Long]("min_3h"), r.getAs[Long]("max_all"),
      r.getAs[Map[Long, Long]]("vc_2r"))
    val expected = cl.getFeatures(view(DataFrameSource(
        "owm_b", rows.toDF("uid", "value", "t_ms"),
        keys = Some(Seq("uid")), timestampField = Some("t_ms"),
        timestampFormat = "epoch_millis"), "owm_bv"))
      .orderBy("t_ms").collect().map(norm).toSeq
    assert(expected.map(_._4) == Seq(
      Map(30L -> 1L), Map(30L -> 1L, 10L -> 1L), Map(10L -> 1L, 20L -> 1L)))

    val stream = MemoryStream[(String, Long, Long)]
    val src = DataFrameSource(
      "owm_s", stream.toDF().toDF("uid", "value", "t_ms"),
      keys = Some(Seq("uid")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    val query = cl.getFeatures(view(src, "owm_sv"))
      .writeStream.format("memory").queryName("owm_out").outputMode("append").start()
    try {
      stream.addData(rows: _*)
      query.processAllAvailable()
      stream.addData(("zz", 0L, 100 * h)) // watermark to 100h
      query.processAllAvailable()
      stream.addData(("u1", 999L, 3 * h)) // below watermark → dropped
      stream.addData(("zz", 0L, 101 * h))
      query.processAllAvailable()
      val got = spark.sql("SELECT * FROM owm_out WHERE uid = 'u1' ORDER BY t_ms")
        .collect().map(norm).toSeq
      assert(got == expected) // late 999 row emitted nothing
    } finally query.stop()
  }

  test("map-only curation ops run unchanged on an unbounded stream") {
    // stream-batch unification for the pipeline ops: splitAssign and the
    // Gopher rules are pure column expressions, so the SAME operator call
    // works on a streaming frame and agrees row-for-row with batch
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (2L, "der hund und die katze"),
      (3L, "### ### ### ### ###"))
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "text")
    val curated = graft.ops.Sampling.splitAssign(
      graft.ops.TextOps.gopherRules(sdf, "text", Seq("doc_id"))
        .select(col("doc_id"), col("keep")),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.2), salt = "s")
      // canonicalUrl is likewise a pure column expression — verify it
      // rides the same unbounded plan
      .withColumn("curl", graft.ops.TextOps.canonicalUrl(
        concat(lit("HTTPS://Ex.com:443/d/"), col("doc_id"), lit("?b=2&utm_x=1&a=1"))))
    assert(curated.isStreaming, "curation plan must stay unbounded")
    val query = curated.writeStream.format("memory").queryName("s_curate_out")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      query.processAllAvailable()
      val got = spark.sql("SELECT doc_id, keep, split FROM s_curate_out")
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSet
      val curls = spark.sql("SELECT curl FROM s_curate_out WHERE doc_id = 1")
        .collect().map(_.getString(0))
      assert(curls.sameElements(Array("https://ex.com/d/1?a=1&b=2")),
        s"streamed canonicalUrl wrong: ${curls.toSeq}")
      val batch = graft.ops.Sampling.splitAssign(
        graft.ops.TextOps.gopherRules(rows.toDF("doc_id", "text"), "text", Seq("doc_id"))
          .select(col("doc_id"), col("keep")),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.2), salt = "s")
        .collect().map(r => (r.getLong(0), r.getAs[Boolean]("keep"), r.getAs[String]("split"))).toSet
      assert(got == batch, s"stream $got != batch $batch")
    } finally query.stop()
  }

  test("streaming Page-Hinkley matches the batch recurrence row for row") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import scala.concurrent.duration._

    val rnd = new scala.util.Random(11)
    val rows = for (k <- Seq("a", "b"); i <- 1 to 40) yield {
      val base = if (k == "a" && i > 20) 30.0 else 5.0 // 'a' shifts mid-way
      (k, i.toLong, 1000L * i, base + rnd.nextInt(100) / 50.0)
    }
    val lambda = 40000000L

    val stream = MemoryStream[(String, Long, Long, Double)]
    val sdf = stream.toDF().toDF("k", "id", "t_ms", "v")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_millis(col("t_ms")))
    val out = graft.streaming.StreamingPageHinkley.monitor(
      sdf, keyCol = "k", tsCol = "ts", tieCol = "id", valueCol = "v",
      lambdaMicro = lambda, lateness = 5.seconds)
    val query = out.writeStream.format("memory").queryName("s_ph_out")
      .outputMode("append").start()
    try {
      // feed in global event-time order: the watermark advances with
      // the chunks, so no key's early rows arrive already-late
      rows.sortBy(_._3).grouped(25).foreach { chunk =>
        stream.addData(chunk: _*); query.processAllAvailable()
      }
      stream.addData(("wm", 999L, 7200000L, 0.0)); query.processAllAvailable()
      stream.addData(("wm", 998L, 14400000L, 0.0)); query.processAllAvailable()

      val got = spark.sql(
        """SELECT k, CAST(MAX(ph_micro) AS BIGINT) ph,
             MIN(CASE WHEN alarmed THEN ts_ms END) first_alarm
           FROM s_ph_out WHERE k != 'wm' GROUP BY k""")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
      val batch = graft.ops.TimeSeries.pageHinkley(
        rows.toDF("k", "id", "t_ms", "v").select(
          col("k"), col("t_ms"), col("v")),
        "k", "t_ms", "v", lambdaMicro = lambda)
        .collect().map(r => r.getString(0) ->
          (r.getAs[Long]("ph_micro"),
            if (r.isNullAt(3)) -1L else r.getAs[Long]("alarm_bucket"))).toMap
      assert(got == batch, s"stream $got != batch $batch")
      assert(got("a")._2 > 0L && got("b")._2 == -1L, got.toString)
    } finally query.stop()
  }

  test("streaming seasonal anomaly scores against strictly-earlier phase history") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import scala.concurrent.duration._

    // phase = (t/1000) % 3; phases carry distinct baselines 10/20/30
    // with small deterministic jitter; one planted spike in phase 1
    val rows = (0 until 36).map { i =>
      val t = 1000L * (i + 1)
      val phase = ((i + 1) % 3)
      val v =
        if (i == 28) 95.0 // planted anomaly (phase (29 % 3) = 2)
        else 10.0 * (phase + 1) + (i % 5) * 0.3
      ("k", i.toLong, t, v)
    }
    val stream = MemoryStream[(String, Long, Long, Double)]
    val sdf = stream.toDF().toDF("k", "id", "t_ms", "v")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_millis(col("t_ms")))
    val out = graft.streaming.StreamingSeasonal.monitor(
      sdf, keyCol = "k", tsCol = "ts", tieCol = "id", valueCol = "v",
      period = 3, bucketMs = 1000L, zThresholdMilli = 4000L,
      lateness = 2.seconds)
    val query = out.writeStream.format("memory").queryName("s_seas_out")
      .outputMode("append").start()
    try {
      rows.grouped(12).foreach { c => stream.addData(c: _*); query.processAllAvailable() }
      stream.addData(("wm", 999L, 7200000L, 0.0)); query.processAllAvailable()
      stream.addData(("wm", 998L, 14400000L, 0.0)); query.processAllAvailable()

      val got = spark.sql(
        """SELECT id, phase, n_prior, z_milli, anomalous FROM s_seas_out
           WHERE k = 'k' ORDER BY ts_ms""")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3)),
          if (r.isNullAt(4)) null else java.lang.Boolean.valueOf(r.getBoolean(4))))
      // scalar replay: same pre-update integer moments per phase
      var ph = Map.empty[Int, (Long, BigInt, BigInt)]
      val want = rows.map { case (_, id, t, v) =>
        val phase = ((t / 1000) % 3).toInt
        val vm = math.floor(v * 1e6).toLong
        val (n, s, q) = ph.getOrElse(phase, (0L, BigInt(0), BigInt(0)))
        val z: java.lang.Long =
          if (n < 2) null
          else {
            val varN2 = BigInt(n) * q - s * s
            if (varN2 <= 0) null
            else java.lang.Long.valueOf(math.floor(1000.0 *
              (BigInt(n) * vm - s).toDouble /
              math.sqrt((BigInt(n) * varN2).toDouble / (n - 1).toDouble)).toLong)
          }
        ph = ph.updated(phase, (n + 1, s + vm, q + BigInt(vm) * vm))
        (id, phase, n, z,
          if (z == null) null
          else java.lang.Boolean.valueOf(math.abs(z) >= 4000L))
      }
      assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
      // exactly the planted spike alarms
      val alarms = got.filter(g => g._5 != null && g._5.booleanValue()).map(_._1)
      assert(alarms.toSeq == Seq(28L), alarms.toSeq.toString)
    } finally query.stop()
  }

  test("streaming dedup marks event-time duplicates deterministically") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import scala.concurrent.duration._

    val stream = MemoryStream[(Long, String, Long)]
    val sdf = stream.toDF().toDF("id", "h", "t_ms")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_millis(org.apache.spark.sql.functions.col("t_ms")))
    val out = graft.streaming.StreamingDedup.markDuplicates(
      sdf, keyCols = Seq("h"), tsCol = "ts", orderCol = "id",
      lateness = 10.seconds, horizon = 1.hour)
    assert(out.isStreaming)
    val query = out.writeStream.format("memory").queryName("s_dedup_out")
      .outputMode("append").start()
    try {
      // batch 1: id 2 (t=5s) arrives BEFORE id 1 (t=1s) — the event-time
      // earlier copy must still win once the watermark finalizes them
      stream.addData((2L, "aaa", 5000L), (1L, "aaa", 1000L), (3L, "bbb", 2000L))
      query.processAllAvailable()
      // batch 2: another 'aaa' inside the horizon, plus watermark advance
      stream.addData((4L, "aaa", 600000L), (9L, "wm", 7200000L))
      query.processAllAvailable()
      // batch 3: 'aaa' far beyond the horizon of the last copy (and above
      // the current watermark) -> fresh; then a final push to flush it
      stream.addData((5L, "aaa", 9000000L))
      query.processAllAvailable()
      stream.addData((9L, "wm2", 99999000L))
      query.processAllAvailable()

      val got = spark.sql("SELECT id, is_dup FROM s_dedup_out WHERE h = 'aaa' ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toList
      // 1 first (t=1s), 2 dup (t=5s, same key), 4 dup (within 1h of t=5s),
      // 5 fresh (9000s - 600s > 1h after sliding refresh)
      assert(got == List((1L, false), (2L, true), (4L, true), (5L, false)), got.toString)
      val bbb = spark.sql("SELECT id, is_dup FROM s_dedup_out WHERE h = 'bbb'")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toList
      assert(bbb == List((3L, false)))
    } finally query.stop()
  }

  test("streaming firstSeen keeps only the event-time-first copy") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import scala.concurrent.duration._

    val stream = MemoryStream[(Long, String, Long)]
    val sdf = stream.toDF().toDF("id", "h", "t_ms")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_millis(org.apache.spark.sql.functions.col("t_ms")))
    val out = graft.streaming.StreamingDedup.firstSeen(
      sdf, keyCols = Seq("h"), tsCol = "ts", orderCol = "id",
      lateness = 5.seconds, horizon = 1.hour)
    val query = out.writeStream.format("memory").queryName("s_fseen_out")
      .outputMode("append").start()
    try {
      stream.addData((7L, "xx", 3000L), (6L, "xx", 3000L), (8L, "yy", 1000L))
      query.processAllAvailable()
      stream.addData((9L, "wm", 7200000L))
      query.processAllAvailable()
      // exact event-time tie on 'xx': orderCol total order keeps id 6
      val got = spark.sql("SELECT id FROM s_fseen_out ORDER BY id")
        .collect().map(_.getLong(0)).toList
      assert(got == List(6L, 8L), got.toString)
    } finally query.stop()
  }

  test("streaming LSH candidates match batch pairs and honor the horizon") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val texts = Map(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat",
      3L -> "a completely different sentence about spark engines",
      4L -> "the quick brown fox jumps over the lazy dog", // exact dup of 1
      5L -> "der hund und die katze und der vogel")

    val stream = MemoryStream[(Long, String, Long)]
    val sdf = stream.toDF().toDF("doc_id", "text", "t_ms")
      .withColumn("ts",
        org.apache.spark.sql.functions.timestamp_millis(col("t_ms")))
    val out = graft.streaming.StreamingLsh.candidatePairs(
      sdf, "doc_id", "text", "ts",
      lateness = 5.seconds, horizon = 1.hour)
    assert(out.isStreaming)
    val query = out.writeStream.format("memory").queryName("s_lsh_out")
      .outputMode("append").start()
    try {
      // ts ascending with doc_id so batch's id_a<id_b = stream's
      // earlier-first direction; split across two micro-batches
      stream.addData((1L, texts(1L), 1000L), (2L, texts(2L), 2000L), (3L, texts(3L), 3000L))
      query.processAllAvailable()
      stream.addData((4L, texts(4L), 4000L), (5L, texts(5L), 5000L))
      query.processAllAvailable()
      stream.addData((9L, "watermark push", 7200000L)) // flush the horizon
      query.processAllAvailable()
      stream.addData((9L, "watermark push two", 14400000L))
      query.processAllAvailable()

      val got = spark.sql("SELECT id_a, id_b FROM s_lsh_out WHERE id_a < 9 AND id_b < 9")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.ops.Dedup.minhashLshPairs(
        texts.toSeq.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == batch, s"stream $got != batch $batch")
      assert(batch.contains((1L, 4L))) // sanity: the exact dup is found

      // pairs within one band repeat only once per band; per-pair band
      // multiplicity is bounded by the band count
      val perBand = spark.sql(
        "SELECT id_a, id_b, COUNT(DISTINCT band) b, COUNT(*) n FROM s_lsh_out " +
        "WHERE id_a < 9 AND id_b < 9 GROUP BY 1, 2")
        .collect()
      perBand.foreach(r => assert(r.getLong(2) == r.getLong(3) && r.getLong(3) <= 4L))
    } finally query.stop()
  }

  test("streaming LSH horizon bounds pairing; quarantine caps hot buckets") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val txt = "identical boilerplate text repeated in every copy of this page"
    val stream = MemoryStream[(Long, String, Long)]
    val sdf = stream.toDF().toDF("doc_id", "text", "t_ms")
      .withColumn("ts",
        org.apache.spark.sql.functions.timestamp_millis(col("t_ms")))
    val out = graft.streaming.StreamingLsh.candidatePairs(
      sdf, "doc_id", "text", "ts",
      lateness = 1.second, horizon = 10.minutes, maxBucket = 2)
    val query = out.writeStream.format("memory").queryName("s_lsh_cap")
      .outputMode("append").start()
    try {
      // docs 1,2 pair; doc 3 would make the bucket exceed maxBucket=2 →
      // quarantined, no pairs for 3. Doc 4 arrives while quarantined →
      // still nothing.
      stream.addData((1L, txt, 1000L), (2L, txt, 2000L))
      query.processAllAvailable()
      stream.addData((3L, txt, 3000L), (4L, txt, 4000L))
      query.processAllAvailable()
      // doc 6: same text but 20 min later — outside the horizon of
      // everything retained, and past quarantine eviction. Doc 7 right
      // after it pairs with it (fresh bucket state).
      stream.addData((6L, txt, 1200000L), (7L, txt, 1201000L))
      query.processAllAvailable()
      stream.addData((9L, "watermark push", 7200000L))
      query.processAllAvailable()
      stream.addData((9L, "watermark push two", 14400000L))
      query.processAllAvailable()

      val got = spark.sql(
        "SELECT DISTINCT id_a, id_b FROM s_lsh_cap WHERE id_a < 9 AND id_b < 9")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 2L), (6L, 7L)), got.toString)
    } finally query.stop()
  }

  test("kmv aggregator: streaming windowed cardinality equals batch, O(k) state") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{window => fwindow}

    val kmv = graft.functions.KmvAgg.kmv(4)
    val rows = (0 until 40).map { i =>
      // window 1 (minute 0-10): 8 distinct values; window 2: 3 distinct
      if (i < 30) ("w1", s"v${i % 8}", 60000L + (i % 9) * 60000L)
      else ("w2", s"x${i % 3}", 700000L + (i % 3) * 60000L)
    }
    val stream = MemoryStream[(String, String, Long)]
    val sdf = stream.toDF().toDF("tag", "v", "t_ms")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_millis(col("t_ms")))
      .withWatermark("ts", "1 second")
    val out = sdf.groupBy(fwindow(col("ts"), "10 minutes")).agg(kmv(col("v")).as("s"))
      .select(col("window.start").cast("long").as("w_start"),
        col("s.n_kept"), col("s.kth_hash"), col("s.est_distinct"))
    val query = out.writeStream.format("memory").queryName("s_kmv_out")
      .outputMode("append").start()
    try {
      stream.addData(rows.take(20): _*)
      query.processAllAvailable()
      stream.addData(rows.drop(20): _*)
      query.processAllAvailable()
      stream.addData(("wm", "z", 7200000L)) // push watermark past both windows
      query.processAllAvailable()
      stream.addData(("wm2", "z", 14400000L))
      query.processAllAvailable()

      val got = spark.sql(
        "SELECT w_start, n_kept, kth_hash, est_distinct FROM s_kmv_out WHERE w_start < 7200")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
      val batch = rows.toDF("tag", "v", "t_ms")
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_millis(col("t_ms")))
        .groupBy(fwindow(col("ts"), "10 minutes")).agg(kmv(col("v")).as("s"))
        .select(col("window.start").cast("long").as("w_start"),
          col("s.n_kept"), col("s.kth_hash"), col("s.est_distinct"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
      assert(got == batch, s"stream $got != batch $batch")
      // 8 distinct values with k=4 → saturated sketch, estimator engaged
      assert(got.exists(r => r._2 == 4L && r._3 != null))
    } finally query.stop()
  }

  test("streaming interval join equals the batch bucketized interval join") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import scala.concurrent.duration._

    val lRows = Seq(("u1", 1L, 60000L), ("u1", 2L, 120000L), ("u2", 3L, 60000L),
      ("u1", 4L, 600000L))
    val rRows = Seq(("u1", 11L, 90000L), ("u1", 12L, 200000L), ("u2", 13L, 59000L),
      ("u1", 14L, 660000L), ("u3", 15L, 60000L))
    val ls = MemoryStream[(String, Long, Long)]
    val rs = MemoryStream[(String, Long, Long)]
    def prep(df: org.apache.spark.sql.DataFrame) = df.toDF("user_id", "eid", "t_ms")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_millis(col("t_ms")))
    val out = graft.streaming.StreamingIntervalJoin.join(
      prep(ls.toDF()), prep(rs.toDF()), Seq("user_id"), "ts",
      lowerMs = 1L, upperMs = 120000L, lateness = 1.second)
    assert(out.isStreaming)
    val query = out.writeStream.format("memory").queryName("s_ij_out")
      .outputMode("append").start()
    try {
      ls.addData(lRows.take(2): _*); rs.addData(rRows.take(2): _*)
      query.processAllAvailable()
      ls.addData(lRows.drop(2): _*); rs.addData(rRows.drop(2): _*)
      query.processAllAvailable()
      ls.addData(("wm", 99L, 7200000L)); rs.addData(("wm", 99L, 7200000L))
      query.processAllAvailable()

      val got = spark.sql("SELECT eid, eid_r FROM s_ij_out WHERE eid < 99")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.engine.TemporalJoin.intervalJoin(
          lRows.toDF("user_id", "eid", "t_ms"), rRows.toDF("user_id", "eid", "t_ms"),
          Seq("user_id"), "t_ms", 1L, 120000L)
        .select(col("eid"), col("eid_r"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == batch, s"stream $got != batch $batch")
      assert(got.contains((1L, 11L)) && got.contains((4L, 14L)))
      assert(!got.exists(_._2 == 13L)) // 59s is before u2's left event
    } finally query.stop()
  }

  test("streaming file source feeds a derived view") {
    val dir = writeTempParquet(purchases, "stream_files")
    val src = FileSource(
      "sf_src", dir, "parquet",
      schema = Some(graft.types.Schema(
        Seq("name", "cost", "distance", "time"),
        Seq(graft.types.DString, graft.types.DInt64, graft.types.DInt64, graft.types.DString))),
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S",
      isBounded = false)
    val view = DerivedFeatureView(
      "sf_view", src,
      features = Seq(Feature.expr("cost_2x", "cost * 2")),
      keepSourceFields = true)
    val cl = new GraftClient(spark)
    val out = cl.getFeatures(view)
    assert(out.isStreaming)
    val query = out.writeStream.format("memory").queryName("sf_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      val got = spark.sql("SELECT name, cost, cost_2x FROM sf_out ORDER BY cost").collect()
      assert(got.length == 6)
      assert(got.head.getAs[Long]("cost_2x") == 200L)
    } finally query.stop()
  }

  test("unbounded datagen source feeds a sliding view; rows match batch synthesis") {
    // the reference's unbounded generator (datagen_source.py:123-140):
    // rows_per_second paced emission with the same deterministic columns.
    val gen = DataGenSource(
      "ub_gen", numberOfRows = 0L,
      fields = Seq(
        SequenceField("t_ms", graft.types.DInt64, start = 1640995200000L),
        RandomField("cost", graft.types.DInt64, 100, 1000)),
      keys = Some(Seq("cost")),
      timestampField = Some("t_ms"), timestampFormat = "epoch_millis",
      rowsPerSecond = 500L, unbounded = true)
    val cl = new GraftClient(spark)
    val view = SlidingFeatureView(
      "ub_slide", gen,
      features = Seq(Feature(
        "n", SlidingWindowTransform("cost", AggFunc.Count, 100.millis, 100.millis))))
    val out = cl.getFeatures(view)
    assert(out.isStreaming, "unbounded datagen must produce a streaming frame")
    val query = out.writeStream.format("memory").queryName("ub_out")
      .outputMode("append").start()
    try {
      // rate-source rows arrive on wall-clock; poll until windows close
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n == 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        query.processAllAvailable()
        n = spark.sql("SELECT count(*) FROM ub_out").collect()(0).getLong(0)
      }
      assert(n > 0, "no sliding windows closed from the unbounded datagen")
    } finally query.stop()
    // determinism: the streamed synthesis is the same function of row id
    // as the batch generator — batch rows for ids 0..N reproduce it
    val batch = graft.engine.Sources.generate(
      spark, gen.copy(unbounded = false, numberOfRows = 3))
      .orderBy("t_ms").collect()
    assert(batch.map(_.getAs[Long]("t_ms")).toSeq ==
      Seq(1640995200000L, 1640995200001L, 1640995200002L))
    assert(batch.map(_.getAs[Long]("cost")).forall(c => c >= 100 && c <= 1000))
  }

  test("datagen max_past draws timestamps within max_past of now") {
    val gen = DataGenSource(
      "mp_gen", numberOfRows = 200L,
      fields = Seq(
        SequenceField("id", graft.types.DInt64),
        RandomField("ev", graft.types.DTimestamp, maxPast = 1.hour)))
    val before = System.currentTimeMillis() - 3600000L - 5000L
    val rows = graft.engine.Sources.generate(spark, gen).collect()
    val after = System.currentTimeMillis() + 5000L
    assert(rows.length == 200)
    val ts = rows.map(_.getAs[java.sql.Timestamp]("ev").getTime)
    assert(ts.forall(t => t >= before && t <= after),
      s"timestamps outside [now - max_past, now]: ${ts.min}..${ts.max}")
    assert(ts.distinct.length > 100, "max_past timestamps should spread over the range")
  }

  test("streaming keyed multi-size windows match the batch engine") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val rows = Seq(
      ("Alex", 100L, ms("2022-01-01 08:01:00")),
      ("Emma", 400L, ms("2022-01-01 08:02:00")),
      ("Alex", 300L, ms("2022-01-02 08:03:00")),
      ("Emma", 200L, ms("2022-01-02 08:04:00")),
      ("Jack", 500L, ms("2022-01-03 08:05:00")),
      ("Alex", 600L, ms("2022-01-03 08:06:00")))

    def view(src: TableDescriptor, name: String) = SlidingFeatureView(
      name, src,
      features = Seq(
        Feature("sum_1d", SlidingWindowTransform("cost", AggFunc.Sum, 1.day, 1.day, Seq("name"))),
        Feature("max_2d", SlidingWindowTransform("cost", AggFunc.Max, 2.days, 1.day, Seq("name"))),
        Feature("min_2d", SlidingWindowTransform("cost", AggFunc.Min, 2.days, 1.day, Seq("name"))),
        Feature("first_2d", SlidingWindowTransform("cost", AggFunc.FirstValue, 2.days, 1.day, Seq("name"))),
        Feature("last_2d", SlidingWindowTransform("cost", AggFunc.LastValue, 2.days, 1.day, Seq("name"))),
        Feature("avg_2d", SlidingWindowTransform("cost", AggFunc.Avg, 2.days, 1.day, Seq("name")))),
      enableEmptyWindowOutput = true,
      skipSameWindowOutput = true)

    val cl = new GraftClient(spark)

    // batch reference result
    val batchSrc = DataFrameSource(
      "k_batch", rows.toDF("name", "cost", "t_ms"),
      keys = Some(Seq("name")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    def norm(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getAs[Any]("sum_1d"), r.getAs[Any]("max_2d"),
        r.getAs[Any]("min_2d"), r.getAs[Any]("first_2d"), r.getAs[Any]("last_2d"),
        r.getAs[Any]("avg_2d"))
    val expected = cl.getFeatures(view(batchSrc, "k_batch_view"))
      .orderBy("name", "window_time")
      .collect().map(norm).toSeq

    // streaming result over the same rows
    val stream = MemoryStream[(String, Long, Long)]
    val streamSrc = DataFrameSource(
      "k_stream", stream.toDF().toDF("name", "cost", "t_ms"),
      keys = Some(Seq("name")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    val query = cl.getFeatures(view(streamSrc, "k_stream_view"))
      .writeStream.format("memory").queryName("k_stream_out")
      .outputMode("append").start()
    try {
      stream.addData(rows: _*)
      query.processAllAvailable()
      stream.addData(("Alex", 0L, ms("2022-03-01 00:00:00")))
      query.processAllAvailable()
      stream.addData(("Alex", 0L, ms("2022-04-01 00:00:00")))
      query.processAllAvailable()
      val got = spark.sql(
        "SELECT * FROM k_stream_out " +
          s"WHERE window_time < ${ms("2022-02-01 00:00:00")} " +
          "ORDER BY name, window_time")
        .collect().map(norm).toSeq
      assert(got == expected)
    } finally query.stop()
  }

  test("streaming metric report: batch emit, periodic re-emit, endInput flush") {
    import graft.client.{MetricStore, Metrics}
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val day = 86400000L
    val stream = MemoryStream[(String, Long)]
    val src = DataFrameSource(
      "sm_src", stream.toDF().toDF("etype", "t_ms"),
      timestampField = Some("t_ms"), timestampFormat = "epoch_millis")
    val out = java.nio.file.Files.createTempFile("graft_metrics_s", ".prom").toString
    val cl = new GraftClient(spark)
    val report = new MetricStore(cl, out).reportStream(
      src,
      Seq(Metrics.count("ev_cnt", None, 1.day)),
      SparkEnv.scratchDir("sm_ckpt"),
      reportInterval = 200.millis)
    def text(): String =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)))
    try {
      stream.addData(("a", day * 10 + 100), ("b", day * 10 + 200))
      report.query.processAllAvailable()
      // adjacent-day event advances the watermark past day 10's window end,
      // finalizing it without intervening empty windows
      stream.addData(("c", day * 11 + 100))
      report.query.processAllAvailable()
      assert(text().contains("graft_ev_cnt{table=\"sm_src\"} 2"))

      // periodic re-emission: wipe the target; the timer must repopulate it
      // with the cached last value, no new data required (the reference's
      // PeriodicEmitLastValueOperator timer loop)
      java.nio.file.Files.write(java.nio.file.Paths.get(out), Array.empty[Byte])
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!text().contains("graft_ev_cnt") && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(text().contains("graft_ev_cnt{table=\"sm_src\"} 2"))
    } finally {
      // endInput parity: stop() re-emits the final value after the timer dies
      java.nio.file.Files.write(java.nio.file.Paths.get(out), Array.empty[Byte])
      report.stop()
    }
    assert(text().contains("graft_ev_cnt{table=\"sm_src\"} 2"))
  }

  test("attached metrics report on a stream with feature tags as labels") {
    import graft.client.{MetricStore, Metrics}
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val day = 86400000L
    val stream = MemoryStream[(Long, Long)]
    val src = DataFrameSource(
      "sma_src", stream.toDF().toDF("v", "t_ms"),
      timestampField = Some("t_ms"), timestampFormat = "epoch_millis")
    val view = DerivedFeatureView(
      "sma", src,
      features = Seq(Feature.expr("v", "v").copy(metrics = Seq(
        Metric.Count(Some("> 0"), 1.day)))),
      keepSourceFields = true)
    val out = java.nio.file.Files.createTempFile("graft_metrics_sa", ".prom").toString
    val cl = new GraftClient(spark)
    val reports = new MetricStore(cl, out).reportStreamAttached(
      view, SparkEnv.scratchDir("sma_ckpt"), reportInterval = 10.seconds)
    assert(reports.size == 1)
    try {
      stream.addData((5L, day * 10 + 100), (-3L, day * 10 + 200))
      reports.foreach(_.query.processAllAvailable())
      stream.addData((7L, day * 11 + 100))
      reports.foreach(_.query.processAllAvailable())
      val text = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)))
      assert(text.contains(
        """graft_v_count{table="sma",feature_name="v",filter_expr="> 0"} 1"""))
    } finally reports.foreach(_.stop())
  }

  test("streaming exact dedup keeps first arrival per content hash") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[(Long, String, Long)]
    val df = stream.toDF().toDF("doc_id", "text", "t_ms")
      .withColumn("ts",
        org.apache.spark.sql.functions.timestamp_millis(
          org.apache.spark.sql.functions.col("t_ms")))
    val out = graft.ops.Dedup.streamingExactDedup(df, "text", "ts", 10.minutes)
    val query = out.writeStream.format("memory").queryName("sded_out")
      .outputMode("append").start()
    try {
      stream.addData((1L, "same text", 1000L), (2L, "same text", 2000L),
        (3L, "other text", 3000L))
      query.processAllAvailable()
      // duplicate in a later microbatch, still within the watermark window
      stream.addData((4L, "same text", 4000L))
      query.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM sded_out")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L))
    } finally query.stop()
  }

  test("map-only text ops run unchanged on an unbounded source") {
    // stream-batch unification for the pipeline family: every zero-shuffle
    // operator (quality, gopher, entropy, URL, normalization) is a pure
    // column projection, so the SAME code plans on a streaming DataFrame
    // with no watermark, state, or output-mode constraints
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[(Long, String)]
    val df = stream.toDF().toDF("doc_id", "text")
    val gopher = graft.ops.TextOps.gopherRules(df, "text", Seq("doc_id"))
    assert(gopher.isStreaming, "text ops should preserve streaming-ness")
    val query = df.select(col("doc_id"),
        graft.ops.TextOps.normalizeText(col("text")).as("norm"),
        graft.ops.TextOps.fingerprint(col("text")).as("fp"))
      .writeStream.format("memory").queryName("txt_stream_out")
      .outputMode("append").start()
    try {
      stream.addData((1L, "The QUICK, brown fox!"), (2L, "  a  b  "))
      query.processAllAvailable()
      stream.addData((3L, "third doc"))
      query.processAllAvailable()
      val got = spark.sql(
          "SELECT doc_id, norm FROM txt_stream_out ORDER BY doc_id")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "the quick brown fox", 2L -> "a b", 3L -> "third doc"))
    } finally query.stop()
  }

  test("streaming temporal join matches the batch F3 golden") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val leftStream = MemoryStream[(String, Long, Long)]
    val rightStream = MemoryStream[(String, Double, Long)]
    // generous lateness: each addData block becomes its own microbatch, so
    // without it the right-side rows would advance the watermark past the
    // first-day left rows and (correctly) drop them as late
    val leftSrc = DataFrameSource(
      "stj_purch", leftStream.toDF().toDF("name", "cost", "t_ms"),
      keys = Some(Seq("name")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis", maxOutOfOrderness = 3.days)
    val rightSrc = DataFrameSource(
      "stj_dim", rightStream.toDF().toDF("name", "avg_cost", "t_ms"),
      keys = Some(Seq("name")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    graft.engine.Registry.register(rightSrc)

    val view = DerivedFeatureView(
      "stj_join", leftSrc,
      features = Seq(
        Feature("avg_cost", JoinTransform("stj_dim", "avg_cost"),
          keys = Some(Seq("name")))),
      keepSourceFields = true)

    val cl = new GraftClient(spark)
    val query = cl.getFeatures(view)
      .writeStream.format("memory").queryName("stj_out")
      .outputMode("append").start()
    try {
      // F3 fixture: dim versions then purchases, watermark drained by a
      // far-future sentinel on the left stream
      rightStream.addData(
        ("Alex", 100.0, ms("2022-01-01 08:01:00")),
        ("Emma", 300.0, ms("2022-01-01 08:02:00")),
        ("Alex", 200.0, ms("2022-01-02 08:03:00")))
      leftStream.addData(
        ("Alex", 100L, ms("2022-01-01 08:01:00")), // dim at exactly t visible
        ("Emma", 400L, ms("2022-01-01 08:02:00")),
        ("Alex", 300L, ms("2022-01-02 08:03:00")),
        ("Emma", 200L, ms("2022-01-02 08:04:00")),
        ("Jack", 500L, ms("2022-01-03 08:05:00")), // no dim row → NULL
        ("Alex", 600L, ms("2022-01-03 08:06:00")))
      query.processAllAvailable()
      leftStream.addData(("zz", 0L, ms("2022-03-01 00:00:00")))
      query.processAllAvailable()

      val got = spark.sql(
        "SELECT avg_cost FROM stj_out WHERE name <> 'zz' ORDER BY t_ms")
        .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq
      assert(got == Seq(100.0, 300.0, 200.0, 300.0, null, 200.0))
    } finally query.stop()
  }

  test("streaming temporal join: composite keys that concatenate equally stay distinct") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val leftStream = MemoryStream[(String, String, Long)]
    val rightStream = MemoryStream[(String, String, Long, Long)]
    val leftSrc = DataFrameSource(
      "stjc_l", leftStream.toDF().toDF("k1", "k2", "t_ms"),
      keys = Some(Seq("k1", "k2")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis", maxOutOfOrderness = 1.hour)
    val rightSrc = DataFrameSource(
      "stjc_r", rightStream.toDF().toDF("k1", "k2", "v", "t_ms"),
      keys = Some(Seq("k1", "k2")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    graft.engine.Registry.register(rightSrc)
    val view = DerivedFeatureView(
      "stjc_join", leftSrc,
      features = Seq(Feature("v", JoinTransform("stjc_r", "v"),
        keys = Some(Seq("k1", "k2")))),
      keepSourceFields = true)

    val query = new GraftClient(spark).getFeatures(view)
      .writeStream.format("memory").queryName("stjc_out")
      .outputMode("append").start()
    try {
      val minute = 60000L
      // ("ab","c") and ("a","bc") concatenate identically — versions must
      // not leak across; ("a","bc") has no version at all
      rightStream.addData(("ab", "c", 7L, 1 * minute))
      leftStream.addData(("ab", "c", 5 * minute), ("a", "bc", 5 * minute))
      query.processAllAvailable()
      leftStream.addData(("zz", "zz", 1000 * minute))
      query.processAllAvailable()
      val got = spark.sql(
        "SELECT k1, k2, v FROM stjc_out WHERE k1 <> 'zz' ORDER BY k1")
        .collect().map(r => (r.getString(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
      assert(got == Seq(("a", "bc", None), ("ab", "c", Some(7L))))
    } finally query.stop()
  }

  test("streaming temporal join: late right version is dropped, state evicts") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val leftStream = MemoryStream[(String, Long)]
    val rightStream = MemoryStream[(String, Long, Long)]
    val leftSrc = DataFrameSource(
      "stjl_l", leftStream.toDF().toDF("k", "t_ms"),
      keys = Some(Seq("k")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    val rightSrc = DataFrameSource(
      "stjl_r", rightStream.toDF().toDF("k", "v", "t_ms"),
      keys = Some(Seq("k")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    graft.engine.Registry.register(rightSrc)
    val view = DerivedFeatureView(
      "stjl_join", leftSrc,
      features = Seq(Feature("v", JoinTransform("stjl_r", "v"), keys = Some(Seq("k")))),
      keepSourceFields = true)

    val query = new GraftClient(spark).getFeatures(view)
      .writeStream.format("memory").queryName("stjl_out")
      .outputMode("append").start()
    try {
      val minute = 60000L
      rightStream.addData(("a", 10L, 1 * minute))
      leftStream.addData(("a", 5 * minute))
      query.processAllAvailable()
      // drain: watermark jumps past 5min, left row emits with v=10
      leftStream.addData(("zz", 100 * minute))
      query.processAllAvailable()
      // a right version at 2min now arrives LATE (watermark ~100min):
      // dropped, per the Flink late-data rule
      rightStream.addData(("a", 99L, 2 * minute))
      query.processAllAvailable()
      // a fresh left row far ahead still sees the ORIGINAL version only
      leftStream.addData(("a", 150 * minute))
      query.processAllAvailable()
      leftStream.addData(("zz", 500 * minute))
      query.processAllAvailable()

      val got = spark.sql(
        "SELECT t_ms, v FROM stjl_out WHERE k = 'a' ORDER BY t_ms")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((5 * minute, 10L), (150 * minute, 10L)))
    } finally query.stop()
  }

  test("streaming PSI drift equals batch psi per window, flags the shift") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    // reference snapshot: uniform over [0, 100)
    val ref = (0 until 1000).map(i => (i % 100).toDouble).toDF("v")
    // its histogram under the shared bucket rule (bins=10, range 0..99)
    val bins = 10
    val (lo, hi) = (0.0, 99.0)
    val refCounts = (0 until 1000).map(i => (i % 100).toDouble)
      .groupBy(x => math.min(math.max(
        math.floor((x - lo) * bins / (hi - lo)).toInt, 0), bins - 1))
      .map { case (b, xs) => b -> xs.size.toLong }

    val stream = MemoryStream[(Long, Double)]
    val df = stream.toDF().toDF("t_ms", "v")
      .withColumn("ts", org.apache.spark.sql.functions
        .timestamp_millis(col("t_ms")))
    val out = graft.streaming.StreamingDrift.psiVsReference(
      df, "ts", "v", lo, hi, refCounts, bins,
      window = 1.minute, lateness = 0.seconds)
    val query = out.writeStream.format("memory").queryName("drift_out")
      .outputMode("append").start()
    try {
      val minute = 60000L
      // window 0: same uniform distribution → PSI ~ 0
      stream.addData((0 until 200).map(i => (i * 10L, (i % 100).toDouble)): _*)
      // window 1: everything piled on the top decile → drifted
      stream.addData((0 until 200).map(i => (minute + i * 10L, 95.0 + (i % 5))): _*)
      // window 2 watermark pusher (emits nothing itself yet)
      stream.addData((10 * minute, 50.0))
      query.processAllAvailable()
      val got = spark.sql(
        "SELECT window_start_ms, n, psi_pico, drifted FROM drift_out ORDER BY 1")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      assert(got.length == 2, s"two closed windows, got ${got.toSeq}")
      assert(got(0)._2 == 200L && !got(0)._4, s"uniform window drifted? ${got(0)}")
      assert(got(1)._4, s"shifted window must drift: ${got(1)}")

      // bit-for-bit parity with the batch operator per window
      val w0 = (0 until 200).map(i => (i % 100).toDouble).toDF("v")
      val w1 = (0 until 200).map(i => 95.0 + (i % 5)).toDF("v")
      val batch0 = graft.ops.Corpus.psi(ref, w0, Seq("v"), bins)
        .collect()(0).getAs[Long]("psi_pico")
      val batch1 = graft.ops.Corpus.psi(ref, w1, Seq("v"), bins)
        .collect()(0).getAs[Long]("psi_pico")
      assert(got(0)._3 == batch0, s"window 0: ${got(0)._3} vs batch $batch0")
      assert(got(1)._3 == batch1, s"window 1: ${got(1)._3} vs batch $batch1")
    } finally query.stop()
  }

  test("streaming binned KS equals ksFromCells per window, size-aware gate flags only the shift") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val bins = 10
    val (lo, hi) = (0.0, 99.0)
    def bk(x: Double): Int = math.min(math.max(
      math.floor((x - lo) * bins / (hi - lo)).toInt, 0), bins - 1)
    val refVals = (0 until 1000).map(i => (i % 100).toDouble)
    val refCounts = refVals.groupBy(bk).map { case (b, xs) =>
      b -> xs.size.toLong
    }

    val stream = MemoryStream[(Long, Double)]
    val df = stream.toDF().toDF("t_ms", "v")
      .withColumn("ts", org.apache.spark.sql.functions
        .timestamp_millis(col("t_ms")))
    val out = graft.streaming.StreamingDrift.ksVsReference(
      df, "ts", "v", lo, hi, refCounts, bins,
      window = 1.minute, lateness = 0.seconds)
    val query = out.writeStream.format("memory").queryName("ksdrift_out")
      .outputMode("append").start()
    try {
      val minute = 60000L
      val w0Vals = (0 until 200).map(i => (i % 100).toDouble) // uniform
      val w1Vals = (0 until 200).map(i => 60.0 + (i % 40))    // shifted up
      stream.addData(w0Vals.zipWithIndex.map { case (x, i) =>
        (i * 10L, x)
      }: _*)
      stream.addData(w1Vals.zipWithIndex.map { case (x, i) =>
        (minute + i * 10L, x)
      }: _*)
      stream.addData((10 * minute, 50.0))
      query.processAllAvailable()
      val got = spark.sql(
        """SELECT window_start_ms, n, ks_micro, at_bucket, crit_micro,
           drifted FROM ksdrift_out ORDER BY 1""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getLong(4), r.getBoolean(5)))
      assert(got.length == 2, s"two closed windows, got ${got.toSeq}")
      assert(!got(0)._6, s"uniform window flagged: ${got(0)}")
      assert(got(1)._6, s"shifted window must flag: ${got(1)}")

      // bit-for-bit D parity with the batch KS core on the same cells
      def batchKs(cur: Seq[Double]): Long = {
        val cc = cur.groupBy(bk).map { case (b, xs) => b -> xs.size.toLong }
        val cells = (0 until bins)
          .filter(b => refCounts.getOrElse(b, 0L) + cc.getOrElse(b, 0L) > 0)
          .map(b => (b.toLong, refCounts.getOrElse(b, 0L),
            cc.getOrElse(b, 0L)))
        graft.ops.Eval.ksFromCells(cells.toDF("v", "ca", "cb"))
          .collect()(0).getAs[Long]("ks_micro")
      }
      assert(got(0)._3 == batchKs(w0Vals),
        s"window 0: ${got(0)._3} vs batch ${batchKs(w0Vals)}")
      assert(got(1)._3 == batchKs(w1Vals),
        s"window 1: ${got(1)._3} vs batch ${batchKs(w1Vals)}")
      // the shifted window's first max-gap crossing sits at the shift
      // boundary (mass missing below bucket 6)
      assert(got(1)._4 == 5, s"at_bucket: ${got(1)}")
    } finally query.stop()
  }

  test("streaming heavy hitters: exact threshold counts, batch parity, " +
      "late rows below watermark dropped") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val df = stream.toDF().toDF("t_ms", "v")
      .withColumn("ts", org.apache.spark.sql.functions
        .timestamp_millis(col("t_ms")))
    val out = graft.streaming.StreamingHeavyHitters.perWindow(
      df, "ts", "v", window = 1.minute, lateness = 0.seconds, minCount = 3L)
    val query = out.writeStream.format("memory").queryName("hh_out")
      .outputMode("append").start()
    try {
      val minute = 60000L
      // window 0: a×3 (hitter), b×2 (below), split across two batches
      stream.addData((0L, "a"), (1L, "a"), (2L, "b"))
      query.processAllAvailable()
      stream.addData((3L, "a"), (4L, "b"))
      // window 1: c×4; advance watermark past window 0
      stream.addData((0 until 4).map(i => (minute + i, "c")): _*)
      stream.addData((10 * minute, "z"))
      query.processAllAvailable()
      // a late window-0 row arrives after the watermark passed — must NOT
      // resurrect or double-emit the closed window
      stream.addData((5L, "a"))
      stream.addData((20 * minute, "z"))
      query.processAllAvailable()
      val got = spark.sql(
        "SELECT window_start_ms, value, cnt FROM hh_out ORDER BY 1, 2")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(got.toSeq == Seq((0L, "a", 3L), (minute, "c", 4L)),
        s"got ${got.toSeq}")
      // batch parity on window 0's on-time rows
      val batch = Seq("a", "a", "b", "a", "b").toDF("v")
        .groupBy("v").count().filter(col("count") >= 3)
        .as[(String, Long)].collect().toSeq
      assert(batch == Seq(("a", 3L)))
    } finally query.stop()
  }

  test("streaming CUSUM equals the batch closed form across microbatch cuts") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long, Double)]
    val df = stream.toDF().toDF("k", "t_ms", "v")
      .withColumn("tie", col("t_ms"))
      .withColumn("ts", org.apache.spark.sql.functions
        .timestamp_millis(col("t_ms")))
    val out = graft.streaming.StreamingCusum.monitor(
      df, "k", "ts", "tie", "v", refMeanMicro = 10000000L,
      slackMicro = 0L, thresholdMicro = 5000000L, lateness = 0.seconds)
    val query = out.writeStream.format("memory").queryName("cusum_out")
      .outputMode("append").start()
    try {
      // drifted key 1 and quiet key 2; the batch cut advances the
      // watermark to 2000, so every later row stays strictly above it
      // (lateness 0: a row AT the watermark is contractually late)
      val rows = Seq((1L, 1000L, 10.0), (1L, 2000L, 12.0), (2L, 1000L, 9.0),
        (2L, 2000L, 10.0),
        (1L, 3000L, 7.0), (1L, 4000L, 13.0),
        (1L, 5000L, 14.0), (2L, 3000L, 11.0))
      stream.addData(rows.take(4): _*)
      query.processAllAvailable()
      stream.addData(rows.slice(4, 6): _*)
      stream.addData(rows.drop(6): _*)
      stream.addData((9L, 100000L, 10.0)) // watermark pusher
      query.processAllAvailable()
      val got = spark.sql(
        """SELECT k, ts_ms, v_micro, CAST(s_micro AS STRING), alarmed
           FROM cusum_out WHERE k < 9 ORDER BY k, ts_ms""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getBoolean(4))).toSeq
      val batch = graft.ops.TimeSeries.cusumMonitor(
          rows.toDF("k", "ts_ms", "v").withColumn("tie", col("ts_ms")),
          "k", "ts_ms", "tie", "v", 10000000L, 0L, 5000000L)
        .selectExpr("k", "ts_ms", "v_micro", "CAST(s_micro AS STRING)",
          "alarmed")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getBoolean(4))).toSeq
        .sortBy(t => (t._1, t._2))
      assert(got == batch, s"parity:\n$got\n$batch")
      assert(got.exists(_._5), "drifted key must alarm")
    } finally query.stop()
  }

  test("streaming KMV distinct: exact below k, bit-parity with the batch " +
      "sketch across microbatch splits") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val df = stream.toDF().toDF("t_ms", "v")
      .withColumn("ts", org.apache.spark.sql.functions
        .timestamp_millis(col("t_ms")))
    val out = graft.streaming.StreamingDistinct.perWindow(
      df, "ts", "v", window = 1.minute, lateness = 0.seconds, k = 64)
    val query = out.writeStream.format("memory").queryName("kmv_out")
      .outputMode("append").start()
    try {
      val minute = 60000L
      // window 0: 30 distinct users over 90 rows, split across batches
      stream.addData((0 until 45).map(i => (i.toLong, s"u${i % 30}")): _*)
      query.processAllAvailable()
      stream.addData((45 until 90).map(i => (i.toLong, s"u${i % 30}")): _*)
      // window 1: 10 distinct; then a watermark pusher
      stream.addData((0 until 20).map(i => (minute + i, s"w${i % 10}")): _*)
      stream.addData((10 * minute, "z"))
      query.processAllAvailable()
      val got = spark.sql(
        """SELECT window_start_ms, n_rows, n_kept, kth_hash, est_distinct
           FROM kmv_out ORDER BY 1""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getLong(4)))
      assert(got.length == 2, s"two closed windows: ${got.toSeq}")
      assert(got(0)._2 == 90L && got(0)._5 == 30L,
        s"exact below k: ${got(0)}")
      assert(got(1)._5 == 10L, s"window 1 exact: ${got(1)}")
      // bit-parity with the batch aggregator over the same rows
      val batch = (0 until 90).map(i => s"u${i % 30}").toDF("v")
        .agg(graft.functions.KmvAgg.kmv(64)(col("v")).as("s"))
        .select(col("s.n_kept"), col("s.kth_hash"), col("s.est_distinct"))
        .collect()(0)
      assert(got(0)._3 == batch.getLong(0) && got(0)._4 == batch.getString(1)
        && got(0)._5 == batch.getLong(2), s"batch parity: ${got(0)} vs $batch")
    } finally query.stop()
  }
}
