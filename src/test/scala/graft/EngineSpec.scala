package graft

import graft.client.GraftClient
import graft.engine.{EventTime, Registry}
import graft.table._
import graft.types._
import org.apache.spark.sql.Row

import scala.concurrent.duration._

class EngineSpec extends SparkSuite {

  test("EventTime: int64-nanos and timestamp columns yield identical event time") {
    // the driver's testdata flipped events.ts from TIMESTAMP(NANOS)
    // (read as int64) to TIMESTAMP_MICROS across regenerations; the same
    // declared source must produce the same __event_time__ under both
    // physical representations, for append() AND the ad-hoc helper
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val instants = Seq(0L, 1706659165261L, 999L) // epoch ms
    val asNanos = instants.map(_ * 1000000L).toDF("ts")
    val asTimestamp = instants.toDF("ms")
      .select(timestamp_millis(col("ms")).as("ts"))
    def times(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      EventTime.append(df, Some("ts"), "epoch_nanos")
        .select(col(EventTime.Col)).collect().map(_.getLong(0)).toSeq.sorted
    assert(times(asNanos) == instants.sorted)
    assert(times(asTimestamp) == instants.sorted)
    def helper(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(EventTime.epochMillis(df, "ts").as("t"))
        .collect().map(_.getLong(0)).toSeq.sorted
    assert(helper(asNanos) == instants.sorted)
    assert(helper(asTimestamp) == instants.sorted)
  }

  private lazy val client = new GraftClient(spark)

  private lazy val purchaseSource: FileSource = {
    val path = writeTempParquet(purchases, "purchases")
    FileSource(
      "purchases", path, "parquet",
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S")
  }

  test("derived view: expression + filter + output fields") {
    val view = DerivedFeatureView(
      "v_expr", purchaseSource,
      features = Seq(
        Feature.expr("cost_per_mile", "cost / distance", Some(DFloat64)),
        Feature.expr("total", "cost + distance")),
      keepSourceFields = true,
      filterExpr = Some("cost > 150"))
    val got = client.getFeatures(view).orderBy("time").collect()
    assert(got.map(_.getAs[Long]("total")).toSeq == Seq(650L, 500L, 450L, 1000L, 1400L))
    assert(got.head.getAs[Double]("cost_per_mile") == 1.6)
  }

  test("over window: trailing aggs per row") {
    val view = DerivedFeatureView(
      "v_over", purchaseSource,
      features = Seq(
        Feature(
          "total_cost",
          OverWindowTransform("cost", AggFunc.Sum, groupByKeys = Seq("name"))),
        Feature(
          "cnt_2d",
          OverWindowTransform("cost", AggFunc.Count, windowSize = Some(2.days), groupByKeys = Seq("name"))),
        Feature(
          "last_2",
          OverWindowTransform("cost", AggFunc.Sum, limit = Some(2), groupByKeys = Seq("name")))),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("time").collect()
    // Alex rows: 100 -> 400 -> 1000 running totals; the 2-day range window
    // at day-3 08:06 excludes day-1 08:01 (reference golden
    // test_over_window_transform.py:100: total_cost 100,400,900).
    val alex = got.filter(_.getAs[String]("name") == "Alex")
    assert(alex.map(_.getAs[Long]("total_cost")).toSeq == Seq(100L, 400L, 1000L))
    assert(alex.map(_.getAs[Long]("cnt_2d")).toSeq == Seq(1L, 2L, 2L))
    assert(alex.map(_.getAs[Long]("last_2")).toSeq == Seq(100L, 400L, 900L))
  }

  test("over window: reference golden (2-day windows, expr composition)") {
    // Ref: test_over_window_transform.py:96-113 — cost_per_mile = cost /
    // distance + 10; SUM/AVG/MAX/MIN over 2-day windows keyed by name.
    val view = DerivedFeatureView(
      "v_ref_over", purchaseSource,
      features = Seq(
        Feature.expr("cost_per_mile", "cost / distance + 10"),
        Feature("total_cost", OverWindowTransform("cost", AggFunc.Sum, Some(2.days), Seq("name"))),
        Feature("avg_cost", OverWindowTransform("cost", AggFunc.Avg, Some(2.days), Seq("name"))),
        Feature("max_cost", OverWindowTransform("cost", AggFunc.Max, Some(2.days), Seq("name"))),
        Feature("min_cost", OverWindowTransform("cost", AggFunc.Min, Some(2.days), Seq("name")))),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("time").collect()
    assert(got.map(_.getAs[Double]("cost_per_mile")).toSeq ==
      Seq(11.0, 11.6, 11.5, 10.8, 11.0, 10.75))
    assert(got.map(_.getAs[Long]("total_cost")).toSeq == Seq(100L, 400L, 400L, 600L, 500L, 900L))
    assert(got.map(_.getAs[Double]("avg_cost")).toSeq ==
      Seq(100.0, 400.0, 200.0, 300.0, 500.0, 450.0))
    assert(got.map(_.getAs[Long]("max_cost")).toSeq == Seq(100L, 400L, 300L, 400L, 500L, 600L))
    assert(got.map(_.getAs[Long]("min_cost")).toSeq == Seq(100L, 400L, 100L, 200L, 500L, 300L))
  }

  test("over window: reference limit golden (last 2 rows)") {
    // Ref: test_over_window_transform.py:190-212.
    val view = DerivedFeatureView(
      "v_ref_limit", purchaseSource,
      features = Seq(
        Feature("total_cost", OverWindowTransform(
          "cost", AggFunc.Sum, None, Seq("name"), limit = Some(2)))),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("time").collect()
    assert(got.map(_.getAs[Long]("total_cost")).toSeq == Seq(100L, 400L, 400L, 600L, 500L, 900L))
  }

  test("over window: keyless global window golden (and the scale warning fires)") {
    // Ref: test_over_window_transform.py:124-155 — no group keys means one
    // global trailing 2-day window over all rows. That is a GLOBAL
    // single-partition sort, so the build must warn (SCALE.md, "Keyless
    // over-windows") while producing the exact parity output.
    import org.apache.logging.log4j.core.LogEvent
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val appender = new AbstractAppender(
        "keyless-capture", null, null, false, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit =
        captured.add(event.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val logger = ctx.getLogger("graft.engine.OverWindows")
    logger.addAppender(appender)
    try {
      val view = DerivedFeatureView(
        "v_global_over", purchaseSource,
        features = Seq(
          Feature("total_cost", OverWindowTransform("cost", AggFunc.Sum, Some(2.days)))),
        keepSourceFields = true)
      val got = client.getFeatures(view).orderBy("time").collect()
      assert(got.map(_.getAs[Long]("total_cost")).toSeq ==
        Seq(100L, 500L, 800L, 1000L, 1000L, 1600L))
      assert(captured.toArray.exists(_.toString.contains("single-partition")),
        s"keyless over-window build must log the scale warning, got: $captured")
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  test("over window: first/last with window_size AND limit golden") {
    // Ref: test_over_window_transform.py:615-645 — FIRST/LAST of the time
    // string over the newest-2 rows that also fall inside a 2-day window
    // (the combination the reference's Spark processor rejects; Flink
    // semantics are the spec).
    val view = DerivedFeatureView(
      "v_fl_combo", purchaseSource,
      features = Seq(
        Feature("first_time", OverWindowTransform(
          "`time`", AggFunc.FirstValue, Some(2.days), Seq("name"), limit = Some(2))),
        Feature("last_time", OverWindowTransform(
          "`time`", AggFunc.LastValue, Some(2.days), Seq("name"), limit = Some(2)))),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("time").collect()
      .map(r => (r.getAs[String]("first_time"), r.getAs[String]("last_time"))).toSeq
    val expected = Seq(
      ("2022-01-01 08:01:00", "2022-01-01 08:01:00"),
      ("2022-01-01 08:02:00", "2022-01-01 08:02:00"),
      ("2022-01-01 08:01:00", "2022-01-02 08:03:00"),
      ("2022-01-01 08:02:00", "2022-01-02 08:04:00"),
      ("2022-01-03 08:05:00", "2022-01-03 08:05:00"),
      ("2022-01-02 08:03:00", "2022-01-03 08:06:00"))
    assert(got == expected)
  }

  test("over window: row_number with window_size and limit golden") {
    // Ref: test_over_window_transform.py:646-680 — position within the
    // (2-day, newest-2) frame; the reference's Spark processor rejects this
    // combination, Flink semantics are the spec.
    val view = DerivedFeatureView(
      "v_rownum_combo", purchaseSource,
      features = Seq(
        Feature("row_num", OverWindowTransform(
          "cost", AggFunc.RowNumber, Some(2.days), Seq("name"), limit = Some(2)))),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("time").collect()
    assert(got.map(_.getAs[Long]("row_num")).toSeq == Seq(1L, 1L, 2L, 2L, 1L, 2L))
  }

  test("over window filter_expr goldens: limit counts matching rows; SUM default 0") {
    // Ref: test_over_window_transform.py:838-876 + helper :1130-1178 —
    // three variants of a filtered SUM: window-only, limit-only (newest 2
    // PAY rows), and both. Windows with no matching rows report 0.0.
    val data = spark.createDataFrame(Seq(
      ("Alex", "pay", 100.0, "2022-01-01 09:01:00"),
      ("Alex", "receive", 300.0, "2022-01-01 09:01:30"),
      ("Alex", "pay", 200.0, "2022-01-01 09:01:20"),
      ("Emma", "receive", 500.0, "2022-01-01 09:02:30"),
      ("Emma", "pay", 400.0, "2022-01-01 09:02:00"),
      ("Alex", "receive", 200.0, "2022-01-01 09:03:00"),
      ("Emma", "pay", 300.0, "2022-01-01 09:04:00"),
      ("Jack", "receive", 500.0, "2022-01-01 09:05:00"),
      ("Alex", "pay", 450.0, "2022-01-01 09:06:00"))).toDF("name", "action", "cost", "time")
    val src = FileSource(
      "owf_src", writeTempParquet(data, "owf_src"), "parquet",
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S")
    def run(windowSize: Option[scala.concurrent.duration.Duration], limit: Option[Int], tag: String) = {
      client.getFeatures(DerivedFeatureView(
        s"v_owf_$tag", src,
        features = Seq(Feature("total", OverWindowTransform(
          "cost", AggFunc.Sum, windowSize, Seq("name"),
          filterExpr = Some("action = 'pay'"), limit = limit))),
        keepSourceFields = true))
        .orderBy("time").collect().map(_.getAs[Double]("total")).toSeq
    }
    // original-row-order goldens resorted by time:
    // time order = rows (Alex 09:01:00, Alex 09:01:20, Alex 09:01:30,
    //   Emma 09:02:00, Emma 09:02:30, Alex 09:03, Emma 09:04, Jack 09:05, Alex 09:06)
    assert(run(Some(2.minutes), None, "w") ==
      Seq(100.0, 300.0, 300.0, 400.0, 400.0, 300.0, 700.0, 0.0, 450.0))
    assert(run(None, Some(2), "l") ==
      Seq(100.0, 300.0, 300.0, 400.0, 400.0, 300.0, 700.0, 0.0, 650.0))
    assert(run(Some(2.minutes), Some(2), "wl") ==
      Seq(100.0, 300.0, 300.0, 400.0, 400.0, 300.0, 700.0, 0.0, 450.0))
  }

  test("over window filter+limit+window_size: expiry at the OUTPUT row's time") {
    // Regression: the propagated aggregate was frozen at the last MATCHING
    // row's time, so a later non-matching row could still see matching rows
    // that had already expired out of window_size relative to its own time.
    val data = spark.createDataFrame(Seq(
      ("Alex", "pay", 100.0, "2022-01-01 09:01:00"),
      ("Alex", "pay", 200.0, "2022-01-01 09:02:00"),
      ("Alex", "receive", 1.0, "2022-01-01 09:03:00"), // both pays in window
      ("Alex", "receive", 2.0, "2022-01-01 09:10:00")) // both pays expired
    ).toDF("name", "action", "cost", "time")
    val src = FileSource(
      "owx_src", writeTempParquet(data, "owx_src"), "parquet",
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S")
    val got = client.getFeatures(DerivedFeatureView(
        "v_owx", src,
        features = Seq(
          Feature("total", OverWindowTransform(
            "cost", AggFunc.Sum, Some(2.minutes), Seq("name"),
            filterExpr = Some("action = 'pay'"), limit = Some(2))),
          Feature("last_pay", OverWindowTransform(
            "cost", AggFunc.LastValue, Some(2.minutes), Seq("name"),
            filterExpr = Some("action = 'pay'"), limit = Some(2)))),
        keepSourceFields = true))
      .orderBy("time").collect()
      .map(r => (r.getAs[Double]("total"),
        Option(r.get(r.fieldIndex("last_pay"))).map(_.asInstanceOf[Double]))).toSeq
    assert(got == Seq(
      (100.0, Some(100.0)),
      (300.0, Some(200.0)),
      (300.0, Some(200.0)),
      (0.0, None)))
  }

  test("over window: millisecond window size golden (%f fractional seconds)") {
    // Ref: test_over_window_transform.py:222-259 — 3 ms trailing SUM over
    // millisecond-spaced events with a %Y-%m-%d %H:%M:%S.%f timestamp.
    val data = spark.createDataFrame(Seq(
      ("Alex", 100L, "2022-01-01 08:00:00.001"),
      ("Emma", 400L, "2022-01-01 08:00:00.002"),
      ("Alex", 300L, "2022-01-01 08:00:00.003"),
      ("Emma", 200L, "2022-01-01 08:00:00.004"),
      ("Jack", 500L, "2022-01-01 08:00:00.005"),
      ("Alex", 600L, "2022-01-01 08:00:00.006"))).toDF("name", "cost", "time")
    val src = FileSource(
      "msw_src", writeTempParquet(data, "msw_src"), "parquet",
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S.%f")
    val got = client.getFeatures(DerivedFeatureView(
        "v_ms", src,
        features = Seq(Feature("cost_sum", OverWindowTransform(
          "cost", AggFunc.Sum, Some(3.millis), Seq("name")))),
        keepSourceFields = true))
      .orderBy("name", "time").collect()
      .map(_.getAs[Long]("cost_sum")).toSeq
    assert(got == Seq(100L, 400L, 900L, 400L, 600L, 500L))
  }

  test("over window: five distinct criteria in one view golden") {
    // Ref: test_over_window_transform.py:878-962 — global, unbounded-keyed,
    // range-keyed, limit-keyed, and range+limit-keyed sums side by side.
    val view = DerivedFeatureView(
      "v_criteria_golden", purchaseSource,
      features = Seq(
        Feature("all_total", OverWindowTransform("cost", AggFunc.Sum, Some(2.days))),
        Feature("unranged", OverWindowTransform("cost", AggFunc.Sum, None, Seq("name"))),
        Feature("ranged", OverWindowTransform("cost", AggFunc.Sum, Some(2.days), Seq("name"))),
        Feature("limited", OverWindowTransform("cost", AggFunc.Sum, None, Seq("name"), limit = Some(2))),
        Feature("both", OverWindowTransform("cost", AggFunc.Sum, Some(2.days), Seq("name"), limit = Some(2)))),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("time").collect()
      .map(r => (r.getAs[Long]("all_total"), r.getAs[Long]("unranged"),
        r.getAs[Long]("ranged"), r.getAs[Long]("limited"), r.getAs[Long]("both"))).toSeq
    val expected = Seq(
      (100L, 100L, 100L, 100L, 100L),
      (500L, 400L, 400L, 400L, 400L),
      (800L, 400L, 400L, 400L, 400L),
      (1000L, 600L, 600L, 600L, 600L),
      (1000L, 500L, 500L, 500L, 500L),
      (1600L, 1000L, 900L, 900L, 900L))
    assert(got == expected)
  }

  test("over window: value_counts and collect_list") {
    val view = DerivedFeatureView(
      "v_vc", purchaseSource,
      features = Seq(
        Feature(
          "dist_counts",
          OverWindowTransform("distance", AggFunc.ValueCounts, groupByKeys = Seq("name"))),
        Feature(
          "costs",
          OverWindowTransform("cost", AggFunc.CollectList, groupByKeys = Seq("name")))),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("time").collect()
    val emma2 = got.filter(_.getAs[String]("name") == "Emma").last
    assert(emma2.getAs[Map[Long, Long]]("dist_counts") == Map(250L -> 2L))
    assert(emma2.getAs[scala.collection.Seq[Long]]("costs").toSeq == Seq(400L, 200L))
  }

  test("over window: value_counts golden with window_size and limit") {
    // Ref: test_over_window_transform.py:682-757 — VALUE_COUNTS over a
    // 2-day window, with and without a newest-2 limit; duplicate timestamps
    // within the same second distinguish the two.
    val data = spark.createDataFrame(Seq(
      ("Alex", 100L, "2022-01-01 08:01:00"),
      ("Alex", 100L, "2022-01-01 08:01:01"),
      ("Emma", 400L, "2022-01-01 08:02:00"),
      ("Alex", 100L, "2022-01-02 08:03:00"),
      ("Emma", 200L, "2022-01-02 08:04:00"),
      ("Jack", 500L, "2022-01-03 08:05:00"),
      ("Alex", 600L, "2022-01-03 08:06:00"))).toDF("name", "cost", "time")
    val src = FileSource(
      "vc_src", writeTempParquet(data, "vc_src"), "parquet",
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S")
    val view = DerivedFeatureView(
      "v_vc_golden", src,
      features = Seq(
        Feature("vc_limit", OverWindowTransform(
          "cost", AggFunc.ValueCounts, Some(2.days), Seq("name"), limit = Some(2))),
        Feature("vc", OverWindowTransform(
          "cost", AggFunc.ValueCounts, Some(2.days), Seq("name")))),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("name", "time").collect()
      .map(r => (r.getAs[Map[Long, Long]]("vc_limit"), r.getAs[Map[Long, Long]]("vc")))
      .toSeq
    val expected = Seq(
      (Map(100L -> 1L), Map(100L -> 1L)),
      (Map(100L -> 2L), Map(100L -> 2L)),
      (Map(100L -> 2L), Map(100L -> 3L)),
      (Map(100L -> 1L, 600L -> 1L), Map(100L -> 1L, 600L -> 1L)),
      (Map(400L -> 1L), Map(400L -> 1L)),
      (Map(200L -> 1L, 400L -> 1L), Map(200L -> 1L, 400L -> 1L)),
      (Map(500L -> 1L), Map(500L -> 1L)))
    assert(got == expected)
  }

  test("over window: collect_list golden with window_size and limit") {
    // Ref: test_over_window_transform.py:758-836 — COLLECT_LIST over a
    // 2-day window keeps arrival order; the limit keeps the newest 2.
    val data = spark.createDataFrame(Seq(
      ("Alex", 100L, "2022-01-01 08:01:00"),
      ("Alex", 100L, "2022-01-01 08:01:01"),
      ("Emma", 400L, "2022-01-01 08:02:00"),
      ("Alex", 100L, "2022-01-02 08:03:00"),
      ("Emma", 200L, "2022-01-02 08:04:00"),
      ("Jack", 500L, "2022-01-03 08:05:00"),
      ("Alex", 600L, "2022-01-03 08:06:00"))).toDF("name", "cost", "time")
    val src = FileSource(
      "cl_src", writeTempParquet(data, "cl_src"), "parquet",
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S")
    val view = DerivedFeatureView(
      "v_cl_golden", src,
      features = Seq(
        Feature("cl_limit", OverWindowTransform(
          "cost", AggFunc.CollectList, Some(2.days), Seq("name"), limit = Some(2))),
        Feature("cl", OverWindowTransform(
          "cost", AggFunc.CollectList, Some(2.days), Seq("name")))),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("name", "time").collect()
      .map(r => (r.getAs[scala.collection.Seq[Long]]("cl_limit").toSeq,
        r.getAs[scala.collection.Seq[Long]]("cl").toSeq)).toSeq
    val expected = Seq(
      (Seq(100L), Seq(100L)),
      (Seq(100L, 100L), Seq(100L, 100L)),
      (Seq(100L, 100L), Seq(100L, 100L, 100L)),
      (Seq(100L, 600L), Seq(100L, 600L)),
      (Seq(400L), Seq(400L)),
      (Seq(400L, 200L), Seq(400L, 200L)),
      (Seq(500L), Seq(500L)))
    assert(got == expected)
  }

  test("point-in-time join picks latest right row ≤ left time") {
    // F3 fixture (ref: test_join_transform.py semantics)
    val dim = spark.createDataFrame(Seq(
      ("Alex", 100.0, "2022-01-01 08:01:00"),
      ("Alex", 200.0, "2022-01-02 08:03:00"),
      ("Emma", 300.0, "2022-01-01 08:02:00")))
      .toDF("name", "avg_cost", "time")
    val dimSrc = FileSource(
      "dim_table", writeTempParquet(dim, "dim"), "parquet",
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S")
    Registry.register(dimSrc)

    val view = DerivedFeatureView(
      "v_join", purchaseSource,
      features = Seq(
        Feature("avg_cost", JoinTransform("dim_table", "avg_cost"), keys = Some(Seq("name")))),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("time").collect()
    val expected = Seq(100.0, 300.0, 200.0, 300.0, null, 200.0)
    assert(got.map(r => r.getAs[Any]("avg_cost")).toSeq == expected)
  }

  test("join with map subscript golden (static map lookup)") {
    // Ref: test_join_transform.py:374-428 — the joined feature is a map
    // subscript over the right table's map column; missing keys and rows
    // with no point-in-time match yield NULL.
    val dim = spark.createDataFrame(Seq(
      ("Alex", Map("Alex" -> 100.0), "2022-01-01,09:01:00"),
      ("Emma", Map("Emma" -> 400.0), "2022-01-01,09:02:00"),
      ("Alex", Map("Alex" -> 200.0), "2022-01-02,07:03:00"),
      ("Emma", Map("Emma" -> 300.0), "2022-01-02,09:04:00"),
      ("Jack", Map("Jack" -> 500.0), "2022-01-03,09:05:00"),
      ("Alex", Map("Alex" -> 450.0), "2022-01-03,09:06:00")
    )).toDF("name", "avg_cost_map", "time")
    Registry.register(FileSource(
      "map_dim", writeTempParquet(dim, "map_dim"), "parquet",
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d,%H:%M:%S"))
    val view = DerivedFeatureView(
      "v_map_join", purchaseSource,
      features = Seq(
        Feature("avg_alex", JoinTransform("map_dim", "avg_cost_map['Alex']"),
          keys = Some(Seq("name")))),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("name", "time").collect()
      .map(r => Option(r.getAs[Any]("avg_alex"))).toSeq
    assert(got == Seq(None, Some(200.0), Some(200.0), None, None, None))
  }

  test("join with zoned timestamps normalizes mixed offsets") {
    // Ref: test_join_transform.py:217-330 — the right table's strftime
    // format carries %z; rows at +0800 and +0000 must land on the same
    // instant axis as the zoneless left table.
    val left = spark.createDataFrame(Seq(
      ("Alex", "2022-01-01 00:00:00.000"),
      ("Emma", "2022-01-01 00:00:00.002"),
      ("Alex", "2022-01-01 00:00:00.004"),
      ("Emma", "2022-01-01 00:00:00.006"),
      ("Jack", "2022-01-01 00:00:00.008"),
      ("Alex", "2022-01-01 00:00:00.010"))).toDF("name", "time")
    val right = spark.createDataFrame(Seq(
      ("Alex", 100.0, "2022-01-01 08:00:00.001 +0800"),
      ("Emma", 400.0, "2022-01-01 00:00:00.003 +0000"),
      ("Alex", 200.0, "2022-01-01 08:00:00.005 +0800"),
      ("Emma", 300.0, "2022-01-01 00:00:00.007 +0000"),
      ("Jack", 500.0, "2022-01-01 08:00:00.009 +0800"),
      ("Alex", 450.0, "2022-01-01 00:00:00.011 +0000"))).toDF("name", "avg_cost", "time")
    Registry.register(FileSource(
      "zoned_dim", writeTempParquet(right, "zoned_dim"), "parquet",
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S.%f %z"))
    val probeSrc = FileSource(
      "zoned_probes", writeTempParquet(left, "zoned_probes"), "parquet",
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S.%f")
    val view = DerivedFeatureView(
      "v_zoned", probeSrc,
      features = Seq(
        Feature("avg_cost", JoinTransform("zoned_dim", "avg_cost"), keys = Some(Seq("name")))),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("name", "time").collect()
      .map(r => Option(r.getAs[Any]("avg_cost"))).toSeq
    assert(got == Seq(None, Some(100.0), Some(200.0), None, Some(400.0), None))
  }

  test("over window on a joined field golden (phase ordering)") {
    // Ref: test_over_window_transform.py:963-1045 — a window aggregates the
    // point-in-time-joined column; expressions after the join evaluate in
    // the trailing phase over both join and window outputs.
    val dim = spark.createDataFrame(Seq(
      ("Alex", 100.0, "2022-01-01,09:01:00"),
      ("Emma", 400.0, "2022-01-01,09:02:00"),
      ("Alex", 200.0, "2022-01-02,09:03:00"),
      ("Emma", 300.0, "2022-01-02,09:04:00"),
      ("Jack", 500.0, "2022-01-03,09:05:00"),
      ("Alex", 450.0, "2022-01-03,09:06:00"))).toDF("name", "avg_cost", "time")
    Registry.register(FileSource(
      "ojf_dim", writeTempParquet(dim, "ojf_dim"), "parquet",
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d,%H:%M:%S"))
    val view = DerivedFeatureView(
      "v_ojf_golden", purchaseSource,
      features = Seq(
        Feature("avg_cost", JoinTransform("ojf_dim", "avg_cost"), keys = Some(Seq("name"))),
        Feature.expr("derived_cost", "avg_cost * distance"),
        Feature("last_avg_cost", OverWindowTransform(
          "avg_cost", AggFunc.LastValue, Some(2.days), Seq("name"), limit = Some(2))),
        Feature.expr("double_last_avg_cost", "last_avg_cost * 2")),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("name", "time").collect()
      .map(r => (Option(r.getAs[Any]("avg_cost")), Option(r.getAs[Any]("derived_cost")),
        Option(r.getAs[Any]("last_avg_cost")), Option(r.getAs[Any]("double_last_avg_cost"))))
      .toSeq
    val expected = Seq(
      (None, None, None, None),
      (Some(100.0), Some(20000.0), Some(100.0), Some(200.0)),
      (Some(200.0), Some(160000.0), Some(200.0), Some(400.0)),
      (None, None, None, None),
      (Some(400.0), Some(100000.0), Some(400.0), Some(800.0)),
      (None, None, None, None))
    assert(got == expected)
  }

  test("sliding window matches the reference golden (size=2d step=1d)") {
    // Golden from test_sliding_window_transform.py:75-141: SUM(cost) values
    // 500, 1000, 1600, 1100, 0 at window close times 23:59:59.999.
    val view = SlidingFeatureView(
      "v_slide", purchaseSource,
      features = Seq(
        Feature(
          "total_cost",
          SlidingWindowTransform("cost", AggFunc.Sum, windowSize = 2.days, stepSize = 1.day))))
    val got = client.getFeatures(view).orderBy("window_time").collect()
    assert(got.map(_.getAs[Long]("total_cost")).toSeq == Seq(500L, 1000L, 1600L, 1100L, 0L))
    val day = 86400000L
    val expectTimes = (1 to 5).map(d => (19358L + d) * day - 1) // 2022-01-01 = epoch day 18993... computed below
    val t0 = java.time.LocalDate.parse("2022-01-01").toEpochDay * day
    assert(got.map(_.getAs[Long]("window_time")).toSeq ==
      (1 to 5).map(d => t0 + d * day - 1))
  }

  test("sliding window: building and running the view leaves the session as it was") {
    // the batch sliding view must not write session confs or leave
    // persisted intermediates behind in the caller's session
    spark.catalog.clearCache()
    val confBefore = spark.conf.getAll
    val view = SlidingFeatureView(
      "v_slide_no_side_effects", purchaseSource,
      features = Seq(
        Feature("total_cost", SlidingWindowTransform("cost", AggFunc.Sum, 2.days, 1.day)),
        Feature("n", SlidingWindowTransform("cost", AggFunc.Count, 3.days, 1.day))))
    assert(client.getFeatures(view).collect().nonEmpty)
    assert(spark.conf.getAll == confBefore)
    assert(spark.sharedState.cacheManager.isEmpty, "a sliding intermediate was left cached")
  }

  test("sliding window: session timezone aligns day-window boundaries") {
    // Ref: SlidingWindowUtils.java:113-114 — the window offset comes from
    // the local time zone's raw offset, so a GMT+8 session closes day
    // windows at local midnight (16:00 UTC), not UTC midnight.
    val spark2 = spark
    import spark2.implicits._
    val day = 86400000L
    val jan1 = java.time.LocalDate.parse("2022-01-01").toEpochDay * day
    val rows = Seq(
      ("a", 100L, jan1 + 8 * 3600000L),  // 08:00 UTC = 16:00 GMT+8 (local Jan 1)
      ("a", 200L, jan1 + 20 * 3600000L)) // 20:00 UTC = 04:00 GMT+8 (local Jan 2)
      .toDF("k", "cost", "t_ms")
    def run() = client.getFeatures(SlidingFeatureView(
        s"v_tz_${spark.conf.get("spark.sql.session.timeZone")}",
        DataFrameSource(
          s"tz_src_${spark.conf.get("spark.sql.session.timeZone")}", rows,
          keys = Some(Seq("k")), timestampField = Some("t_ms"),
          timestampFormat = "epoch_millis"),
        features = Seq(Feature("total", SlidingWindowTransform(
          "cost", AggFunc.Sum, 1.day, 1.day, Seq("k")))),
        enableEmptyWindowOutput = false, skipSameWindowOutput = false))
      .orderBy("window_time").collect()
      .map(r => (r.getAs[Long]("window_time"), r.getAs[Long]("total"))).toSeq
    val utc = run()
    assert(utc == Seq((jan1 + day - 1, 300L))) // one UTC day holds both
    spark.conf.set("spark.sql.session.timeZone", "GMT+8")
    try {
      val local = run()
      // local midnights at 16:00 UTC: Jan 1 (local) ends jan1+16h, Jan 2
      // (local) ends jan1+40h
      assert(local == Seq(
        (jan1 + 16 * 3600000L - 1, 100L),
        (jan1 + 40 * 3600000L - 1, 200L)))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("sliding window: empty-window disabled drops default rows") {
    val view = SlidingFeatureView(
      "v_slide_noempty", purchaseSource,
      features = Seq(
        Feature(
          "total_cost",
          SlidingWindowTransform("cost", AggFunc.Sum, windowSize = 2.days, stepSize = 1.day))),
      enableEmptyWindowOutput = false,
      skipSameWindowOutput = false)
    val got = client.getFeatures(view).orderBy("window_time").collect()
    assert(got.map(_.getAs[Long]("total_cost")).toSeq == Seq(500L, 1000L, 1600L, 1100L))
  }

  test("sliding window: avg carries (sum,count) across buckets") {
    val view = SlidingFeatureView(
      "v_slide_avg", purchaseSource,
      features = Seq(
        Feature(
          "avg_cost",
          SlidingWindowTransform("cost", AggFunc.Avg, windowSize = 2.days, stepSize = 1.day))))
    // Day-2's window avg equals day-1's (250.0), so the default
    // skip_same_window_output=true suppresses it — the reference drops
    // value-repeat steps the same way (test_sliding_window_transform.py:264-
    // 279: Alex 900@d3 kept, 900@d4 dropped under ENABLE_EMPTY+SKIP_SAME).
    val got = client.getFeatures(view).orderBy("window_time").collect()
    assert(got.map(r => Option(r.getAs[Any]("avg_cost"))).toSeq ==
      Seq(Some(250.0), Some(400.0), Some(550.0), None))
  }

  test("sliding window with limit keeps the newest N within the window") {
    // Reference golden (test_sliding_window_transform.py:264-279, with the
    // plain name key): SUM of the newest 2 costs within a 3-day window.
    val view = SlidingFeatureView(
      "v_slide_limit", purchaseSource,
      features = Seq(
        Feature(
          "total_cost",
          SlidingWindowTransform(
            "cost", AggFunc.Sum, windowSize = 3.days, stepSize = 1.day,
            groupByKeys = Seq("name"), limit = Some(2)))))
    val day = 86400000L
    val t0 = java.time.LocalDate.parse("2022-01-01").toEpochDay * day
    def wt(d: Int): Long = t0 + d * day - 1
    val got = client.getFeatures(view).orderBy("name", "window_time").collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("window_time"), r.getAs[Long]("total_cost")))
      .toSeq
    val expected = Seq(
      ("Alex", wt(1), 100L), ("Alex", wt(2), 400L), ("Alex", wt(3), 900L),
      ("Alex", wt(5), 600L), ("Alex", wt(6), 0L),
      ("Emma", wt(1), 400L), ("Emma", wt(2), 600L), ("Emma", wt(4), 200L),
      ("Emma", wt(5), 0L),
      ("Jack", wt(3), 500L), ("Jack", wt(6), 0L))
    assert(got == expected)
  }

  test("sliding value_counts golden: limit=3 over 2-minute windows") {
    // Ref: test_sliding_window_transform.py:1485-1610 (ENABLE_EMPTY+
    // SKIP_SAME): VALUE_COUNTS of the newest 3 costs per 2-minute window;
    // an all-empty window reports NULL map + COUNT 0 once.
    val data = spark.createDataFrame(Seq(
      ("Alex", 100.0, "2022-01-01 09:01:00"),
      ("Alex", 100.0, "2022-01-01 09:01:20"),
      ("Alex", 200.0, "2022-01-01 09:02:00"),
      ("Alex", 200.0, "2022-01-01 09:02:30"))).toDF("name", "cost", "time")
    val src = FileSource(
      "svc_src", writeTempParquet(data, "svc_src"), "parquet",
      keys = Some(Seq("name")), timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S")
    val view = SlidingFeatureView(
      "v_svc_golden", src,
      features = Seq(
        Feature("vc3", SlidingWindowTransform(
          "cost", AggFunc.ValueCounts, 2.minutes, 1.minute, Seq("name"), limit = Some(3))),
        Feature("cnt", SlidingWindowTransform(
          "1", AggFunc.Count, 2.minutes, 1.minute, Seq("name"), limit = Some(3)))))
    def wt(hm: String): Long =
      java.time.LocalDateTime.parse(s"2022-01-01T$hm:59.999")
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val got = client.getFeatures(view).orderBy("window_time").collect()
      .map(r => (r.getAs[Long]("window_time"),
        Option(r.getAs[Map[Double, Long]]("vc3")), r.getAs[Long]("cnt"))).toSeq
    val expected = Seq(
      (wt("09:01"), Some(Map(100.0 -> 2L)), 2L),
      (wt("09:02"), Some(Map(200.0 -> 2L, 100.0 -> 1L)), 3L),
      (wt("09:03"), Some(Map(200.0 -> 2L)), 2L),
      (wt("09:04"), None, 0L))
    assert(got == expected)
  }

  test("sliding collect_list golden: limit=3, time order, NULL when empty") {
    // Ref: test_sliding_window_transform.py:1637-1789 (ENABLE_EMPTY+
    // SKIP_SAME): COLLECT_LIST of the newest 3 costs in time order; the
    // became-empty row reports NULL list + COUNT 0.
    val data = spark.createDataFrame(Seq(
      ("Alex", 100.0, "2022-01-01 09:01:00"),
      ("Alex", 100.0, "2022-01-01 09:01:20"),
      ("Alex", 200.0, "2022-01-01 09:02:00"),
      ("Alex", 200.0, "2022-01-01 09:02:30"))).toDF("name", "cost", "time")
    val src = FileSource(
      "scl_src", writeTempParquet(data, "scl_src"), "parquet",
      keys = Some(Seq("name")), timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S")
    val view = SlidingFeatureView(
      "v_scl_golden", src,
      features = Seq(
        Feature("cl3", SlidingWindowTransform(
          "cost", AggFunc.CollectList, 2.minutes, 1.minute, Seq("name"), limit = Some(3))),
        Feature("cnt", SlidingWindowTransform(
          "1", AggFunc.Count, 2.minutes, 1.minute, Seq("name"), limit = Some(3)))))
    def wt(hm: String): Long =
      java.time.LocalDateTime.parse(s"2022-01-01T$hm:59.999")
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val got = client.getFeatures(view).orderBy("window_time").collect()
      .map(r => (r.getAs[Long]("window_time"),
        Option(r.getAs[scala.collection.Seq[Double]]("cl3")).map(_.toSeq),
        r.getAs[Long]("cnt"))).toSeq
    val expected = Seq(
      (wt("09:01"), Some(Seq(100.0, 100.0)), 2L),
      (wt("09:02"), Some(Seq(100.0, 200.0, 200.0)), 3L),
      (wt("09:03"), Some(Seq(200.0, 200.0)), 2L),
      (wt("09:04"), None, 0L))
    assert(got == expected)
  }

  test("sliding window value_counts merges maps across buckets") {
    val view = SlidingFeatureView(
      "v_slide_vc", purchaseSource,
      features = Seq(
        Feature(
          "dist_counts",
          SlidingWindowTransform(
            "distance", AggFunc.ValueCounts, windowSize = 2.days, stepSize = 1.day,
            groupByKeys = Seq("name")))),
      enableEmptyWindowOutput = false,
      skipSameWindowOutput = false)
    val got = client.getFeatures(view).orderBy("name", "window_time").collect()
    val emmaD2 = got.filter(r => r.getAs[String]("name") == "Emma")(1)
    // Emma distances 250 (d1) + 250 (d2) → {250: 2} in the 2-day window
    assert(emmaD2.getAs[Map[Long, Long]]("dist_counts") == Map(250L -> 2L))
  }

  test("sliding multi-size golden: shared step, empty/skip interaction") {
    // Ref: test_sliding_window_transform.py:2241-2525
    // (test_multiple_window_size_with_same_step, ENABLE_EMPTY+SKIP_SAME):
    // 2-day aggs + a 3-day AVG share one step; a step where only the longer
    // window has data still emits (any-window rule); the all-empty row
    // appears once; a value-identical step (Jack d4) is skipped.
    val view = SlidingFeatureView(
      "v_multi_golden", purchaseSource,
      features = Seq(
        Feature("total_2d", SlidingWindowTransform("cost", AggFunc.Sum, 2.days, 1.day, Seq("name")), dtype = Some(DInt64)),
        Feature("avg_3d", SlidingWindowTransform("cost", AggFunc.Avg, 3.days, 1.day, Seq("name")), dtype = Some(DFloat64)),
        Feature("min_2d", SlidingWindowTransform("cost", AggFunc.Min, 2.days, 1.day, Seq("name")), dtype = Some(DFloat64)),
        Feature("max_2d", SlidingWindowTransform("cost", AggFunc.Max, 2.days, 1.day, Seq("name")), dtype = Some(DFloat64)),
        Feature("first_2d", SlidingWindowTransform("cost", AggFunc.FirstValue, 2.days, 1.day, Seq("name")), dtype = Some(DFloat64)),
        Feature("last_2d", SlidingWindowTransform("cost", AggFunc.LastValue, 2.days, 1.day, Seq("name")), dtype = Some(DFloat64)),
        Feature("cnt_2d", SlidingWindowTransform("cost", AggFunc.Count, 2.days, 1.day, Seq("name")), dtype = Some(DFloat64)),
        Feature("vc_2d", SlidingWindowTransform("cost", AggFunc.ValueCounts, 2.days, 1.day, Seq("name")))))
    val day = 86400000L
    val t0 = java.time.LocalDate.parse("2022-01-01").toEpochDay * day
    def wt(d: Int): Long = t0 + d * day - 1
    val got = client.getFeatures(view).orderBy("name", "window_time").collect()
      .map(r => (
        r.getAs[String]("name"), r.getAs[Long]("window_time"),
        r.getAs[Long]("total_2d"), Option(r.getAs[Any]("avg_3d")),
        Option(r.getAs[Any]("min_2d")), Option(r.getAs[Any]("max_2d")),
        Option(r.getAs[Any]("first_2d")), Option(r.getAs[Any]("last_2d")),
        r.getAs[Double]("cnt_2d"), Option(r.getAs[Map[Long, Long]]("vc_2d"))))
      .toSeq
    def s(v: Double) = Some(v)
    val expected = Seq(
      ("Alex", wt(1), 100L, s(100.0), s(100.0), s(100.0), s(100.0), s(100.0), 1.0, Some(Map(100L -> 1L))),
      ("Alex", wt(2), 400L, s(200.0), s(100.0), s(300.0), s(100.0), s(300.0), 2.0, Some(Map(100L -> 1L, 300L -> 1L))),
      ("Alex", wt(3), 900L, s(1000.0 / 3), s(300.0), s(600.0), s(300.0), s(600.0), 2.0, Some(Map(300L -> 1L, 600L -> 1L))),
      ("Alex", wt(4), 600L, s(450.0), s(600.0), s(600.0), s(600.0), s(600.0), 1.0, Some(Map(600L -> 1L))),
      ("Alex", wt(5), 0L, s(600.0), None, None, None, None, 0.0, None),
      ("Alex", wt(6), 0L, None, None, None, None, None, 0.0, None),
      ("Emma", wt(1), 400L, s(400.0), s(400.0), s(400.0), s(400.0), s(400.0), 1.0, Some(Map(400L -> 1L))),
      ("Emma", wt(2), 600L, s(300.0), s(200.0), s(400.0), s(400.0), s(200.0), 2.0, Some(Map(400L -> 1L, 200L -> 1L))),
      ("Emma", wt(3), 200L, s(300.0), s(200.0), s(200.0), s(200.0), s(200.0), 1.0, Some(Map(200L -> 1L))),
      ("Emma", wt(4), 0L, s(200.0), None, None, None, None, 0.0, None),
      ("Emma", wt(5), 0L, None, None, None, None, None, 0.0, None),
      ("Jack", wt(3), 500L, s(500.0), s(500.0), s(500.0), s(500.0), s(500.0), 1.0, Some(Map(500L -> 1L))),
      ("Jack", wt(5), 0L, s(500.0), None, None, None, None, 0.0, None),
      ("Jack", wt(6), 0L, None, None, None, None, None, 0.0, None))
    assert(got == expected)
  }

  test("sliding golden: UDF-derived column as group-by key") {
    // Ref: test_sliding_window_transform.py:240-279 — a pre-window UDF
    // feature (name repeated) keys the sliding windows (3d window, newest-2
    // limit, ENABLE_EMPTY+SKIP_SAME).
    val view = SlidingFeatureView(
      "v_udfkey_golden", purchaseSource,
      features = Seq(
        Feature("name_name", UdfTransform(
          (r: Row) => { val n = r.getAs[String]("name"); s"${n}_$n" }, DString)),
        Feature("total_cost", SlidingWindowTransform(
          "cost", AggFunc.Sum, 3.days, 1.day, Seq("name_name"), limit = Some(2)))))
    val day = 86400000L
    val t0 = java.time.LocalDate.parse("2022-01-01").toEpochDay * day
    def wt(d: Int): Long = t0 + d * day - 1
    val got = client.getFeatures(view).orderBy("name_name", "window_time").collect()
      .map(r => (r.getAs[String]("name_name"), r.getAs[Long]("window_time"),
        r.getAs[Long]("total_cost"))).toSeq
    val expected = Seq(
      ("Alex_Alex", wt(1), 100L), ("Alex_Alex", wt(2), 400L), ("Alex_Alex", wt(3), 900L),
      ("Alex_Alex", wt(5), 600L), ("Alex_Alex", wt(6), 0L),
      ("Emma_Emma", wt(1), 400L), ("Emma_Emma", wt(2), 600L),
      ("Emma_Emma", wt(4), 200L), ("Emma_Emma", wt(5), 0L),
      ("Jack_Jack", wt(3), 500L), ("Jack_Jack", wt(6), 0L))
    assert(got == expected)
  }

  test("sliding golden: formatted string output timestamp field") {
    // Ref: test_sliding_window_transform.py:1789-1905 — the view declares a
    // custom timestamp field rendered with a millisecond strftime format;
    // a post-expression parses it back with UNIX_TIMESTAMP.
    val data = spark.createDataFrame(Seq(
      ("Alex", 100.0, "2022-01-01 09:01:00"),
      ("Alex", 100.0, "2022-01-01 09:01:20"),
      ("Alex", 200.0, "2022-01-01 09:02:00"),
      ("Alex", 200.0, "2022-01-01 09:02:30"))).toDF("name", "cost", "time")
    val src = FileSource(
      "msfmt_src", writeTempParquet(data, "msfmt_src"), "parquet",
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S")
    val view = SlidingFeatureView(
      "v_msfmt_golden", src,
      features = Seq(
        Feature("cnt", SlidingWindowTransform(
          "1", AggFunc.Count, 2.minutes, 1.minute, Seq("name"), limit = Some(3))),
        Feature.expr("epoch_window_time",
          "UNIX_TIMESTAMP(sliding_window_timestamp, '%Y-%m-%d %H:%M:%S.%f')")),
      timestampFieldName = "sliding_window_timestamp",
      outputTimestampFormat = "%Y-%m-%d %H:%M:%S.%f")
    def sec(s: String): Long =
      java.time.LocalDateTime.parse(s.replace(" ", "T"))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli / 1000
    val got = client.getFeatures(view).orderBy("sliding_window_timestamp").collect()
      .map(r => (r.getAs[String]("sliding_window_timestamp"), r.getAs[Long]("cnt"),
        r.getAs[Long]("epoch_window_time"))).toSeq
    val expected = Seq(
      ("2022-01-01 09:01:59.999", 2L, sec("2022-01-01 09:01:59")),
      ("2022-01-01 09:02:59.999", 3L, sec("2022-01-01 09:02:59")),
      ("2022-01-01 09:03:59.999", 2L, sec("2022-01-01 09:03:59")),
      ("2022-01-01 09:04:59.999", 0L, sec("2022-01-01 09:04:59")))
    assert(got == expected)
  }

  test("sliding filter_expr golden: per-feature filters with zero defaults") {
    // Ref: test_sliding_window_transform.py:344-447 (ENABLE_EMPTY+SKIP_SAME):
    // 2-minute windows stepped per minute; pay/receive sums filtered per
    // feature; a window with data but no filter matches reports the SUM
    // default 0, not NULL; non-consecutive repeats of (0,0,0) both emit.
    val pays = spark.createDataFrame(Seq(
      ("Alex", "pay", 100.0, "2022-01-01 09:01:00"),
      ("Alex", "receive", 300.0, "2022-01-01 09:01:30"),
      ("Alex", "pay", 200.0, "2022-01-01 09:01:20"),
      ("Emma", "receive", 500.0, "2022-01-01 09:02:30"),
      ("Emma", "pay", 400.0, "2022-01-01 09:02:00"),
      ("Alex", "receive", 200.0, "2022-01-01 09:03:00"),
      ("Emma", "pay", 300.0, "2022-01-01 09:04:00"),
      ("Jack", "receive", 500.0, "2022-01-01 09:05:00"),
      ("Alex", "pay", 450.0, "2022-01-01 09:06:00")
    )).toDF("name", "action", "cost", "time")
    val src = FileSource(
      "pays_src", writeTempParquet(pays, "pays"), "parquet",
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S")
    val view = SlidingFeatureView(
      "v_filter_golden", src,
      features = Seq(
        Feature("pay_2m", SlidingWindowTransform(
          "cost", AggFunc.Sum, 2.minutes, 1.minute, Seq("name"),
          filterExpr = Some("action = 'pay'"))),
        Feature("recv_2m", SlidingWindowTransform(
          "cost", AggFunc.Sum, 2.minutes, 1.minute, Seq("name"),
          filterExpr = Some("action = 'receive'")), dtype = Some(DFloat32)),
        Feature("pay_cnt", SlidingWindowTransform(
          "0", AggFunc.Count, 2.minutes, 1.minute, Seq("name"),
          filterExpr = Some("action = 'pay'")))))
    def wt(hm: String): Long =
      java.time.LocalDateTime.parse(s"2022-01-01T$hm:59.999")
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val got = client.getFeatures(view).orderBy("name", "window_time").collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("window_time"),
        r.getAs[Double]("pay_2m"), r.getAs[Float]("recv_2m"), r.getAs[Long]("pay_cnt")))
      .toSeq
    val expected = Seq(
      ("Alex", wt("09:01"), 300.0, 300.0f, 2L),
      ("Alex", wt("09:03"), 0.0, 200.0f, 0L),
      ("Alex", wt("09:05"), 0.0, 0.0f, 0L),
      ("Alex", wt("09:06"), 450.0, 0.0f, 1L),
      ("Alex", wt("09:08"), 0.0, 0.0f, 0L),
      ("Emma", wt("09:02"), 400.0, 500.0f, 1L),
      ("Emma", wt("09:04"), 300.0, 0.0f, 1L),
      ("Emma", wt("09:06"), 0.0, 0.0f, 0L),
      ("Jack", wt("09:05"), 0.0, 500.0f, 0L),
      ("Jack", wt("09:07"), 0.0, 0.0f, 0L))
    assert(got == expected)
  }

  test("sliding post-expression golden: exprs over window results") {
    // Ref: test_sliding_window_transform.py:742-1140
    // (test_transform_with_expr_feature_after_sliding_feature,
    // ENABLE_EMPTY+SKIP_SAME): FIRST/LAST of the raw time string per 2-day
    // window, then post-expressions UNIX_TIMESTAMP deltas and per-trip avg —
    // NULL-propagating through the empty rows.
    val view = SlidingFeatureView(
      "v_post_golden", purchaseSource,
      features = Seq(
        Feature("first_time", SlidingWindowTransform("`time`", AggFunc.FirstValue, 2.days, 1.day, Seq("name"))),
        Feature("last_time", SlidingWindowTransform("`time`", AggFunc.LastValue, 2.days, 1.day, Seq("name"))),
        Feature.expr("total_time", "(UNIX_TIMESTAMP(last_time) - UNIX_TIMESTAMP(first_time))", Some(DFloat64)),
        Feature("cnt", SlidingWindowTransform("0", AggFunc.Count, 2.days, 1.day, Seq("name"))),
        Feature.expr("avg_time_per_trip", "(UNIX_TIMESTAMP(last_time) - UNIX_TIMESTAMP(first_time)) / cnt", Some(DFloat64))))
    val day = 86400000L
    val t0 = java.time.LocalDate.parse("2022-01-01").toEpochDay * day
    def wt(d: Int): Long = t0 + d * day - 1
    val got = client.getFeatures(view).orderBy("name", "window_time").collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("window_time"),
        Option(r.getAs[String]("first_time")), Option(r.getAs[String]("last_time")),
        Option(r.getAs[Any]("total_time")), r.getAs[Long]("cnt"),
        Option(r.getAs[Any]("avg_time_per_trip"))))
      .toSeq
    val expected = Seq(
      ("Alex", wt(1), Some("2022-01-01 08:01:00"), Some("2022-01-01 08:01:00"), Some(0.0), 1L, Some(0.0)),
      ("Alex", wt(2), Some("2022-01-01 08:01:00"), Some("2022-01-02 08:03:00"), Some(86520.0), 2L, Some(43260.0)),
      ("Alex", wt(3), Some("2022-01-02 08:03:00"), Some("2022-01-03 08:06:00"), Some(86580.0), 2L, Some(43290.0)),
      ("Alex", wt(4), Some("2022-01-03 08:06:00"), Some("2022-01-03 08:06:00"), Some(0.0), 1L, Some(0.0)),
      ("Alex", wt(5), None, None, None, 0L, None),
      ("Emma", wt(1), Some("2022-01-01 08:02:00"), Some("2022-01-01 08:02:00"), Some(0.0), 1L, Some(0.0)),
      ("Emma", wt(2), Some("2022-01-01 08:02:00"), Some("2022-01-02 08:04:00"), Some(86520.0), 2L, Some(43260.0)),
      ("Emma", wt(3), Some("2022-01-02 08:04:00"), Some("2022-01-02 08:04:00"), Some(0.0), 1L, Some(0.0)),
      ("Emma", wt(4), None, None, None, 0L, None),
      ("Jack", wt(3), Some("2022-01-03 08:05:00"), Some("2022-01-03 08:05:00"), Some(0.0), 1L, Some(0.0)),
      ("Jack", wt(5), None, None, None, 0L, None))
    assert(got == expected)
  }

  test("join against no-empty-output sliding view expires after one step") {
    // Ref: flink join_utils.py:57-142 "valid time interval" — a value joined
    // from a SlidingFeatureView with enable_empty_window_output=false
    // reverts to the agg default (SUM→0) once it is older than step_size.
    val slide = SlidingFeatureView(
      "j_slide", purchaseSource,
      features = Seq(
        Feature(
          "daily_cost",
          SlidingWindowTransform(
            "cost", AggFunc.Sum, windowSize = 1.day, stepSize = 1.day,
            groupByKeys = Seq("name")))),
      enableEmptyWindowOutput = false,
      skipSameWindowOutput = false)
    Registry.register(slide)

    val probes = spark.createDataFrame(Seq(
      ("Alex", "2022-01-02 08:00:00"), // d1 window still valid → 100
      ("Alex", "2022-01-05 08:00:00"), // d3 window expired → 0
      ("Jack", "2022-01-01 08:00:00")  // nothing yet → 0 (no match → default)
    )).toDF("name", "time")
    val probeSrc = FileSource(
      "j_probes", writeTempParquet(probes, "j_probes"), "parquet",
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S")
    val view = DerivedFeatureView(
      "j_view", probeSrc,
      features = Seq(
        Feature("daily_cost", JoinTransform("j_slide", "daily_cost"), keys = Some(Seq("name")))),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("name", "time").collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Any]("daily_cost"))).toSeq
    assert(got == Seq(("Alex", 100L), ("Alex", 0L), ("Jack", 0L)))
  }

  test("join sliding feature golden: both emission configs") {
    // Ref: test_sliding_window_transform.py:1140-1265 (test_join_sliding_
    // feature). With empty rows enabled the PIT join reads them directly
    // (no expiry); with empty output disabled the valid-time-interval
    // rewrite replaces stale values with SUM→0.0 / COUNT→0 defaults.
    val srcDf = spark.createDataFrame(Seq(
      ("Alex", 100.0, "2022-01-01 09:01:00"),
      ("Alex", 200.0, "2022-01-01 09:01:20"),
      ("Alex", 450.0, "2022-01-01 09:06:00"))).toDF("name", "cost", "time")
    val probesDf = spark.createDataFrame(Seq(
      ("Alex", "2022-01-01 09:01:00"),
      ("Alex", "2022-01-01 09:02:00"),
      ("Alex", "2022-01-01 09:05:00"),
      ("Alex", "2022-01-01 09:07:00"),
      ("Alex", "2022-01-01 09:09:00"))).toDF("name", "time")
    val src = FileSource(
      "jsf_src", writeTempParquet(srcDf, "jsf_src"), "parquet",
      keys = Some(Seq("name")), timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S")
    val probes = FileSource(
      "jsf_probes", writeTempParquet(probesDf, "jsf_probes"), "parquet",
      keys = Some(Seq("name")), timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S")

    def run(enableEmpty: Boolean, skipSame: Boolean, tag: String) = {
      Registry.register(SlidingFeatureView(
        s"jsf_view_$tag", src,
        features = Seq(
          Feature("total_2m", SlidingWindowTransform("cost", AggFunc.Sum, 2.minutes, 1.minute, Seq("name"))),
          Feature("cnt", SlidingWindowTransform("1", AggFunc.Count, 2.minutes, 1.minute, Seq("name")))),
        enableEmptyWindowOutput = enableEmpty,
        skipSameWindowOutput = skipSame))
      client.getFeatures(DerivedFeatureView(
        s"jsf_joined_$tag", probes,
        features = Seq(
          Feature("total_2m", JoinTransform(s"jsf_view_$tag", "total_2m"), keys = Some(Seq("name"))),
          Feature("cnt", JoinTransform(s"jsf_view_$tag", "cnt"), keys = Some(Seq("name")))),
        keepSourceFields = true))
        .orderBy("time").collect()
        .map(r => (Option(r.getAs[Any]("total_2m")), Option(r.getAs[Any]("cnt")))).toSeq
    }

    assert(run(enableEmpty = true, skipSame = true, "es") == Seq(
      (None, None), (Some(300.0), Some(2L)), (Some(0.0), Some(0L)),
      (Some(450.0), Some(1L)), (Some(0.0), Some(0L))))
    assert(run(enableEmpty = false, skipSame = false, "nene") == Seq(
      (Some(0.0), Some(0L)), (Some(300.0), Some(2L)), (Some(0.0), Some(0L)),
      (Some(450.0), Some(1L)), (Some(0.0), Some(0L))))
  }

  test("sliding zero window size golden: cumulative emit per record") {
    // Ref: test_sliding_window_transform.py:2844-2878 — window_size=0 and
    // step_size=0 means an infinite window emitting the running total at
    // every input record (no keys → one global stream).
    val view = SlidingFeatureView(
      "v_zero_golden", purchaseSource,
      features = Seq(
        Feature("total_cost", SlidingWindowTransform(
          "cost", AggFunc.Sum, Duration.Zero, Duration.Zero))))
    def t(s: String): Long =
      java.time.LocalDateTime.parse(s.replace(" ", "T"))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val got = client.getFeatures(view).orderBy("window_time").collect()
      .map(r => (r.getAs[Long]("window_time"), r.getAs[Long]("total_cost"))).toSeq
    val expected = Seq(
      (t("2022-01-01 08:01:00"), 100L), (t("2022-01-01 08:02:00"), 500L),
      (t("2022-01-02 08:03:00"), 800L), (t("2022-01-02 08:04:00"), 1000L),
      (t("2022-01-03 08:05:00"), 1500L), (t("2022-01-03 08:06:00"), 2100L))
    assert(got == expected)
  }

  test("sliding view as join-left source golden") {
    // Ref: test_sliding_window_transform.py:1389-1483 — a derived view
    // whose SOURCE is a sliding view point-in-time joins another table at
    // each window-close time (including the became-empty rows).
    val srcDf = spark.createDataFrame(Seq(
      ("Alex", 100.0, "2022-01-01 09:01:00"),
      ("Alex", 200.0, "2022-01-01 09:01:20"),
      ("Alex", 450.0, "2022-01-01 09:06:00"))).toDF("name", "cost", "time")
    val dimDf = spark.createDataFrame(Seq(
      ("Alex", "a", "2022-01-01 09:01:00"),
      ("Alex", "b", "2022-01-01 09:02:00"),
      ("Alex", "c", "2022-01-01 09:05:00"),
      ("Alex", "d", "2022-01-01 09:07:00"),
      ("Alex", "e", "2022-01-01 09:09:00"))).toDF("name", "feature", "time")
    val src = FileSource(
      "sjs_src", writeTempParquet(srcDf, "sjs_src"), "parquet",
      keys = Some(Seq("name")), timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S")
    Registry.register(FileSource(
      "sjs_dim", writeTempParquet(dimDf, "sjs_dim"), "parquet",
      keys = Some(Seq("name")), timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S"))
    val slide = SlidingFeatureView(
      "sjs_slide", src,
      features = Seq(
        Feature("total_2m", SlidingWindowTransform("cost", AggFunc.Sum, 2.minutes, 1.minute, Seq("name"))),
        Feature("cnt", SlidingWindowTransform("1", AggFunc.Count, 2.minutes, 1.minute, Seq("name")))))
    val joined = DerivedFeatureView(
      "sjs_joined", slide,
      features = Seq(
        Feature("feature", JoinTransform("sjs_dim", "feature"), keys = Some(Seq("name")))),
      keepSourceFields = true)
    def wt(hm: String): Long =
      java.time.LocalDateTime.parse(s"2022-01-01T$hm:59.999")
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val got = client.getFeatures(joined).orderBy("window_time").collect()
      .map(r => (r.getAs[Long]("window_time"), r.getAs[Double]("total_2m"),
        r.getAs[Long]("cnt"), r.getAs[String]("feature"))).toSeq
    val expected = Seq(
      (wt("09:01"), 300.0, 2L, "a"),
      (wt("09:03"), 0.0, 0L, "b"),
      (wt("09:06"), 450.0, 1L, "c"),
      (wt("09:08"), 0.0, 0L, "d"))
    assert(got == expected)
  }

  test("filter on IS NOT NULL over a null-returning UDF golden") {
    // Ref: test_derived_feature_view.py:165-210 — a UDF returning NULL for
    // some rows, filtered with IS NOT NULL after the transform.
    val view = DerivedFeatureView(
      "v_nullfilter", purchaseSource,
      features = Seq(
        Feature(
          "name_without_alex",
          UdfTransform(
            (r: Row) => { val n = r.getAs[String]("name"); if (n == "Alex") null else n },
            DString,
            failOnException = true))),
      keepSourceFields = true,
      filterExpr = Some("name_without_alex IS NOT NULL"))
    val got = client.getFeatures(view).orderBy("time").collect()
      .map(r => (r.getAs[String]("name"), r.getAs[String]("name_without_alex"))).toSeq
    assert(got == Seq(("Emma", "Emma"), ("Emma", "Emma"), ("Jack", "Jack")))
  }

  test("JSON_STRING golden across all value kinds") {
    // Ref: test_expression_transform.py:466-528 — scalars render bare,
    // strings quoted, vectors/maps as JSON, NULL stays NULL.
    val data = spark.createDataFrame(Seq(
      (1L, true, "Hello", Seq(1L, 2L, 3L), Map("a" -> 1L, "b" -> 2L))
    )).toDF("int_v", "bool_v", "string_v", "list_v", "map_v")
    val src = FileSource(
      "json_src", writeTempParquet(data, "json_src"), "parquet")
    val view = DerivedFeatureView(
      "v_json_golden", src,
      features = Seq(
        Feature.expr("null_json_str", "JSON_STRING(CAST(NULL AS INTEGER))"),
        Feature.expr("int_json_str", "JSON_STRING(int_v)"),
        Feature.expr("bool_json_str", "JSON_STRING(bool_v)"),
        Feature.expr("string_json_str", "JSON_STRING(string_v)"),
        Feature.expr("list_json_str", "JSON_STRING(list_v)"),
        Feature.expr("map_json_str", "JSON_STRING(map_v)")),
      keepSourceFields = true)
    val r = client.getFeatures(view).collect().head
    assert(r.getAs[String]("null_json_str") == null)
    assert(r.getAs[String]("int_json_str") == "1")
    assert(r.getAs[String]("bool_json_str") == "true")
    assert(r.getAs[String]("string_json_str") == "\"Hello\"")
    assert(r.getAs[String]("list_json_str") == "[1,2,3]")
    assert(r.getAs[String]("map_json_str") == "{\"a\":1,\"b\":2}")
  }

  test("udf valueOnException golden; key-filter read golden") {
    // Ref: test_python_udf_transform.py:103-143 — a throwing UDF with
    // fail_on_exception=False substitutes the default value;
    // test_get_features.py:37-67 — get_features(keys=df) restricts rows to
    // the given keys (missing keys contribute nothing).
    val view = DerivedFeatureView(
      "v_udf_default", purchaseSource,
      features = Seq(
        Feature(
          "new_name",
          UdfTransform(
            (r: Row) => {
              if (r.getAs[String]("name") == "Alex") throw new RuntimeException()
              r.getAs[String]("name")
            },
            DString,
            failOnException = false,
            valueOnException = "Bad Name"))),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("time").collect()
      .map(_.getAs[String]("new_name")).toSeq
    assert(got == Seq("Bad Name", "Emma", "Bad Name", "Emma", "Jack", "Bad Name"))

    val keys = spark.createDataFrame(Seq(
      Tuple1("Alex"), Tuple1("Jack"), Tuple1("Dummy"))).toDF("name")
    val filtered = client.getFeatures(purchaseSource, keysDf = Some(keys))
      .orderBy("time").collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("cost"))).toSeq
    assert(filtered == Seq(
      ("Alex", 100L), ("Alex", 300L), ("Jack", 500L), ("Alex", 600L)))

    // keys as a table descriptor: its output columns filter the read
    // (ref: spark_dataframe_builder.py:75-93); unknown key columns raise
    // (ref: :142-148)
    val keyTable = DataFrameSource("key_tbl", keys)
    val viaDesc = client.getFeatures(purchaseSource, keyTable)
      .orderBy("time").collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("cost"))).toSeq
    assert(viaDesc == filtered)
    val badKeys = spark.createDataFrame(Seq(Tuple1("x"))).toDF("nope")
    val e = intercept[IllegalArgumentException](
      client.getFeatures(purchaseSource, keysDf = Some(badKeys)))
    assert(e.getMessage.contains("not in the fields"))
  }

  test("udf transform over whole row") {
    val view = DerivedFeatureView(
      "v_udf", purchaseSource,
      features = Seq(
        Feature(
          "name_cost",
          UdfTransform(
            (r: Row) => s"${r.getAs[String]("name")}:${r.getAs[Long]("cost")}",
            DString))),
      keepSourceFields = true)
    val got = client.getFeatures(view).orderBy("time").collect()
    assert(got.head.getAs[String]("name_cost") == "Alex:100")
  }

  test("partitioned file sink writes hive layout; memory store source reads back") {
    val dir = s"${SparkSuite.tmpDir}/part_sink"
    client.materialize(
      purchaseSource, FileSink(dir, partitionColumns = Seq("name")))
    assert(new java.io.File(s"$dir/name=Alex").isDirectory)
    val back = spark.read.parquet(dir)
    assert(back.count() == 6)

    client.materialize(purchaseSource, MemoryStoreSink("ms_roundtrip"))
    val snap = client.getFeatures(
      MemoryStoreSource("ms_src", "ms_roundtrip", keys = Some(Seq("name"))))
    assert(snap.count() == 3) // latest row per name
    val alex = snap.filter(org.apache.spark.sql.functions.col("name") === "Alex").collect().head
    assert(alex.getAs[Long]("cost") == 600L)

    // time-bounded materialization: start <= t < end reaches the sink
    // (ref: feathub_client.py:92-116)
    def ms(s: String): Long =
      java.time.LocalDateTime.parse(s.replace(" ", "T"))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val bounded = s"${SparkSuite.tmpDir}/bounded_sink"
    client.materialize(
      purchaseSource, FileSink(bounded),
      startMillis = Some(ms("2022-01-02 00:00:00")),
      endMillis = Some(ms("2022-01-03 00:00:00")))
    assert(spark.read.parquet(bounded).count() == 2) // the two Jan-02 rows
  }

  test("bucketed tables join without a shuffle") {
    import org.apache.spark.sql.functions.col
    client.materialize(purchaseSource, BucketedTableSink(
      "b_purchases", 4, Seq("name"),
      path = Some(s"${SparkSuite.tmpDir}/b_purchases")))
    val dim = spark.createDataFrame(Seq(
      ("Alex", "gold"), ("Emma", "silver"), ("Jack", "bronze"))).toDF("name", "tier")
    Registry.register(DataFrameSource("b_dim_src", dim, keys = Some(Seq("name"))))
    client.materialize(
      Registry.get("b_dim_src"),
      BucketedTableSink("b_dim", 4, Seq("name"),
        path = Some(s"${SparkSuite.tmpDir}/b_dim")))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_purchases").join(spark.table("b_dim"), "name")
      assert(joined.count() == 6)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("view validations reject invalid compositions") {
    // Ref: derived_feature_view.py:61-74 (join features need keys),
    // sliding_feature_view.py:83-90 (shared step/keys),
    // :188-195 (empty=false + skip=true forbidden).
    Registry.register(purchaseSource)
    val joinNoKeys = DerivedFeatureView(
      "v_bad_join", purchaseSource,
      features = Seq(Feature("x", JoinTransform("purchases", "cost"))))
    assertThrows[IllegalArgumentException](client.getFeatures(joinNoKeys).collect())

    assertThrows[IllegalArgumentException](SlidingFeatureView(
      "v_bad_step", purchaseSource,
      features = Seq(
        Feature("a", SlidingWindowTransform("cost", AggFunc.Sum, 2.days, 1.day)),
        Feature("b", SlidingWindowTransform("cost", AggFunc.Sum, 2.days, 2.days)))))

    assertThrows[IllegalArgumentException](SlidingFeatureView(
      "v_bad_combo", purchaseSource,
      features = Seq(
        Feature("a", SlidingWindowTransform("cost", AggFunc.Sum, 2.days, 1.day))),
      enableEmptyWindowOutput = false,
      skipSameWindowOutput = true))

    assertThrows[IllegalArgumentException](SlidingWindowTransform(
      "cost", AggFunc.Sum, 2.days, 2.hours + 30.minutes)) // not a divisor

    // pre-window expression feature must serve as a grouping key
    // (ref: test_sliding_feature_view.py:106-134)
    assertThrows[IllegalArgumentException](SlidingFeatureView(
      "v_bad_prefeat", purchaseSource,
      features = Seq(
        Feature.expr("not_a_key", "cost + 1"),
        Feature("s", SlidingWindowTransform("cost", AggFunc.Sum, 2.days, 1.day, Seq("name"))))))
  }

  test("boundedView runs a formerly-streaming view tree in batch") {
    val spark2 = spark
    import spark2.implicits._
    val data = Seq((1L, 10.0, 100L), (2L, 30.0, 200L)).toDF("k", "v", "t_ms")
    // a streaming-declared file source (requires an explicit schema, as
    // Spark's streaming file reader does) under a derived view
    val ufs = FileSource(
      "bv_stream_src", writeTempParquet(data, "bv_stream_src"), "parquet",
      schema = Some(Schema(Seq("k", "v", "t_ms"), Seq(DInt64, DFloat64, DInt64))),
      keys = Some(Seq("k")),
      timestampField = Some("t_ms"), timestampFormat = "epoch_millis",
      isBounded = false)
    val view = DerivedFeatureView(
      "bv_view", ufs,
      features = Seq(Feature.expr("v2", "v * 2", Some(DFloat64))),
      keepSourceFields = true)
    assert(!view.isBoundedView)
    // the recursive bounded twin reads the same tree through the BATCH
    // reader — no hand-copied per-level descriptors
    val got = client.getFeatures(
        view.boundedView.asInstanceOf[DerivedFeatureView])
      .orderBy("k").collect().map(_.getAs[Double]("v2")).toSeq
    assert(got == Seq(20.0, 60.0))
  }

  test("same-name different-descriptor build is an error, same is memoized") {
    // ref: spark_dataframe_builder.py:156-161 — name reuse must not
    // silently serve the first plan
    val cl = new graft.client.GraftClient(spark)
    val v1 = DerivedFeatureView(
      "memo_v", purchaseSource,
      features = Seq(Feature.expr("c2", "cost * 2")), keepSourceFields = true)
    cl.getFeatures(v1).collect()
    cl.getFeatures(v1.copy()).collect() // equal descriptor: served from memo
    val v2 = v1.copy(features = Seq(Feature.expr("c2", "cost * 3")))
    val e = intercept[IllegalArgumentException](cl.getFeatures(v2).collect())
    assert(e.getMessage.contains("same name"))
  }

  test("per-row features share one projection unless one reads another") {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val view = DerivedFeatureView(
      "v_one_projection", purchaseSource,
      features = Seq(
        Feature.expr("c2", "cost * 2"),
        Feature.expr("d2", "distance * 2"),
        Feature.expr("c4", "c2 * 2"),     // reads c2: the next projection
        Feature.expr("cost", "cost + 1"), // replaces a source column
        Feature.expr("c5", "cost + c2")), // sees the replaced cost
      keepSourceFields = true)
    val df = new graft.engine.Builder(spark).build(view)
    val first = df.orderBy("time").head()
    assert(Seq("c2", "d2", "c4", "cost", "c5").map(first.getAs[Long]) ==
      Seq(200L, 200L, 400L, 101L, 301L))
    val names = Set("c2", "d2", "c4", "cost", "c5")
    val projections = df.queryExecution.analyzed.collect { case p: Project =>
      p.projectList.collect { case a: Alias if names(a.name) => a.name }.toSet
    }.filter(_.nonEmpty).reverse
    assert(projections == Seq(Set("c2", "d2"), Set("c4", "cost"), Set("c5")))
  }

  /** The Spark jobs `body` starts on this thread. */
  private def jobsStartedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job's start is
      // seen, so is every job the body started
      sc.setJobGroup(marker, "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(marker), "the marker job's start never arrived")
      groups.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("building a schema-less parquet view a second time starts no Spark job") {
    val src = FileSource(
      "schema_once_src", writeTempParquet(purchases, "schema_once"), "parquet",
      keys = Some(Seq("name")),
      timestampField = Some("time"),
      timestampFormat = "%Y-%m-%d %H:%M:%S")
    val view = DerivedFeatureView(
      "v_schema_once", src,
      features = Seq(Feature.expr("total", "cost + distance")),
      keepSourceFields = true)
    // each build is a new Builder, so nothing is memoized between them
    def build() = new graft.engine.Builder(spark).build(view)
    assert(jobsStartedBy(build()) >= 1, "the first build infers the schema")
    var second: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { second = build() } == 0)
    assert(second.orderBy("time").collect().map(_.getAs[Long]("total")).toSeq ==
      Seq(200L, 650L, 500L, 450L, 1000L, 1400L))
  }

  test("a resolved schema follows rewritten files, parquet confs and CSV headers") {
    import graft.engine.Sources
    import org.apache.spark.sql.types.{LongType, StructType}
    def fresh(format: String, path: String, opts: Map[String, String] = Map.empty) =
      spark.read.format(format).options(opts).load(path).schema
    def resolved(format: String, path: String, opts: Map[String, String] = Map.empty) =
      Sources.readInferred(spark, format, path, opts).schema

    // the same path rewritten with another schema
    val rewritten = s"${SparkSuite.tmpDir}/resolver_rewrite"
    spark.range(3).toDF("a").write.mode("overwrite").parquet(rewritten)
    val before = resolved("parquet", rewritten)
    assert(before == fresh("parquet", rewritten))
    spark.range(3).selectExpr("cast(id AS string) AS b", "id * 2 AS c")
      .write.mode("overwrite").parquet(rewritten)
    assert(resolved("parquet", rewritten) == fresh("parquet", rewritten))
    assert(resolved("parquet", rewritten) != before)

    // a TIMESTAMP(NANOS) column is int64 only under nanosAsLong
    val nanos = s"${SparkSuite.tmpDir}/resolver_nanos"
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val nanosPath = new org.apache.hadoop.fs.Path(s"$nanos/part-0.parquet")
    nanosPath.getFileSystem(hadoopConf).delete(nanosPath.getParent, true)
    val parquetType = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(nanosPath).withType(parquetType).withConf(hadoopConf).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(parquetType)
      .newGroup().append("ts", 1706659165261000000L))
    finally writer.close()
    val nanosConf = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(nanosConf)
    def schemaOrError(read: => StructType): Either[String, StructType] =
      try Right(read) catch { case e: Exception => Left(e.getClass.getName) }
    def check(): Unit = assert(
      schemaOrError(resolved("parquet", nanos)) == schemaOrError(fresh("parquet", nanos)))
    try {
      spark.conf.set(nanosConf, "true")
      check()
      assert(resolved("parquet", nanos).head.dataType == LongType)
      spark.conf.set(nanosConf, "false")
      check()
      spark.conf.set(nanosConf, "true")
      check()
    } finally saved match {
      case Some(v) => spark.conf.set(nanosConf, v)
      case None    => spark.conf.unset(nanosConf)
    }

    // a header CSV: the header names the columns, and a second read, which
    // passes the resolved schema, skips the header line as the first did
    val csvDir = new java.io.File(s"${SparkSuite.tmpDir}/resolver_csv")
    csvDir.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(csvDir, "data.csv").toPath, "k,v,note\n1,2.5,x\n2,,y\n3,4.0,z\n")
    val src = FileSource("resolver_csv_src", csvDir.getPath, "csv")
    val opts = Map("header" -> "true", "inferSchema" -> "true")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("k").collect().toSeq
    val firstRead = graft.engine.Sources.read(spark, src)
    val secondRead = graft.engine.Sources.read(spark, src)
    assert(secondRead.schema == fresh("csv", csvDir.getPath, opts))
    assert(secondRead.schema.fieldNames.toSeq == Seq("k", "v", "note"))
    assert(rows(secondRead) == rows(firstRead))
    assert(rows(secondRead) == rows(spark.read.options(opts).csv(csvDir.getPath)))
    assert(rows(secondRead).map(_.getInt(0)) == Seq(1, 2, 3))
  }

  test("online store upsert keeps latest per key") {
    import graft.client.MemoryOnlineStore
    // materialize → serve with NO manual registerKeys: put must register the
    // key fields itself, and upsert order must honor the descriptor's
    // strftime timestampFormat.
    client.materialize(purchaseSource, MemoryStoreSink("t_online"))
    val alex = MemoryOnlineStore.get("t_online", Map("name" -> "Alex"))
    assert(alex.get("cost") == 600L)
    val served = client.getOnlineFeatures(
      Seq(Map("name" -> "Alex")), "t_online",
      lookupFeatures = Seq("cost", "distance"),
      exprFeatures = Seq(("cost_per_mile", "cost / distance")))
    assert(served.head("cost_per_mile") == 0.75)
  }
}
