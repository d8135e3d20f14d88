package graft

import graft.client.{GraftClient, Metrics}
import graft.engine.{EventTime, TemporalJoin}
import graft.ops.{Causal, Chat, Cluster, Corpus, Decay, Dedup, Entity, Eval, Features, Graph, Multimodal, Packing, Preference, Privacy, Sampling, Scd, SemiStructured, Sessions, Similarity, Sketch, Skew, Survival, TextOps, TimeSeries}
import graft.table._
import graft.types._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.concurrent.duration._

/** The driver-facing query inventory: one entry per operator from
  * SURVEY.md §2 plus the training-data-pipeline operators (dedup,
  * similarity search, text analysis, multimodal). Every oracle is ANSI SQL
  * runnable by DuckDB on the same parquet tables; every aggregate/computed
  * column is aliased identically on both sides.
  *
  * Floating-point policy: per-row arithmetic is left raw (bit-identical
  * across engines); ORDER-DEPENDENT aggregates of doubles (sums/avgs over
  * many rows) are rounded on BOTH sides so partial-aggregation order cannot
  * flip the comparison.
  */
object Queries {

  final case class Q(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def pq(spark: SparkSession, dir: String, table: String): DataFrame =
    graft.engine.Sources.readInferred(spark, "parquet", s"$dir/$table.parquet")

  private def fileSrc(
      name: String,
      dir: String,
      table: String,
      keys: Seq[String] = Nil,
      ts: Option[String] = None,
      tsFormat: String = "auto"): FileSource =
    FileSource(
      name, s"$dir/$table.parquet", "parquet",
      keys = if (keys.isEmpty) None else Some(keys),
      timestampField = ts,
      timestampFormat = tsFormat)

  /** The events table stores TIMESTAMP(NANOS) — Spark reads it as int64
    * nanos (spark.sql.legacy.parquet.nanosAsLong), declared here as an
    * epoch_nanos event time.
    */
  private def eventsSrc(name: String, dir: String): FileSource =
    fileSrc(name, dir, "events", Seq("user_id"), Some("ts"), "epoch_nanos")

  // ------------------------------------------------------------------
  // Feature-store core (SURVEY.md §2.1-2.8)
  // ------------------------------------------------------------------

  private val q01 = Q(
    "q01_derived_expr",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val src = fileSrc("q01_li", dir, "lineitem", Seq("l_orderkey", "l_linenumber"), Some("l_shipdate"))
      cl.getFeatures(DerivedFeatureView(
        "q01", src,
        features = Seq(
          Feature.expr("revenue", "l_extendedprice * (1 - l_discount)"),
          Feature.expr("charge", "l_extendedprice * (1 - l_discount) * (1 + l_tax)"),
          Feature.expr("qty_class",
            "CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END"))))
    },
    Some("""SELECT l_orderkey, l_linenumber, l_shipdate,
      l_extendedprice * (1 - l_discount) AS revenue,
      l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
      CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS qty_class
      FROM lineitem"""))

  private val q02 = Q(
    "q02_derived_filter",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val src = fileSrc("q02_li", dir, "lineitem", Seq("l_orderkey", "l_linenumber"), Some("l_shipdate"))
      cl.getFeatures(DerivedFeatureView(
        "q02", src,
        features = Seq(
          Feature.expr("double_qty", "l_quantity * 2"),
          Feature.expr("neg_qty", "-l_quantity"),
          Feature.expr("bad_cast", "TRY_CAST(l_returnflag AS INTEGER)"),
          Feature.expr("bad_is_null", "TRY_CAST(l_returnflag AS INTEGER) IS NULL"),
          Feature.expr("is_heavy", "l_quantity >= 45")),
        keepSourceFields = true,
        filterExpr = Some("l_returnflag = 'R' AND l_quantity > 30")))
    },
    Some("""SELECT lineitem.*, l_quantity * 2 AS double_qty, -l_quantity AS neg_qty,
      TRY_CAST(l_returnflag AS INTEGER) AS bad_cast,
      TRY_CAST(l_returnflag AS INTEGER) IS NULL AS bad_is_null,
      l_quantity >= 45 AS is_heavy
      FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 30"""))

  private val q03 = Q(
    "q03_expr_functions",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val src = fileSrc("q03_part", dir, "part", Seq("p_partkey"))
      cl.getFeatures(DerivedFeatureView(
        "q03", src,
        features = Seq(
          Feature.expr("name_lower", "LOWER(p_name)"),
          Feature.expr("brand_type", "CONCAT_WS('-', p_brand, p_type)"),
          Feature.expr("size_str", "CAST(p_size AS STRING)"),
          Feature.expr("bad_int", "TRY_CAST(p_brand AS INTEGER)"),
          Feature.expr("size_from_map", "MAP('a', p_size)['a']"),
          Feature.expr("arr_second", "ARRAY(p_brand, p_type)[2]"),
          Feature.expr("size_arr", "SIZE(ARRAY(p_brand, p_type))"),
          Feature.expr("name_json", "JSON_STRING(p_name)"))))
    },
    Some("""SELECT p_partkey, lower(p_name) AS name_lower,
      concat_ws('-', p_brand, p_type) AS brand_type,
      CAST(p_size AS VARCHAR) AS size_str,
      TRY_CAST(p_brand AS INTEGER) AS bad_int,
      p_size AS size_from_map,
      p_type AS arr_second,
      2::INT AS size_arr,
      to_json(p_name)::VARCHAR AS name_json
      FROM part"""))

  private val q04 = Q(
    "q04_expr_unixts",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val src = fileSrc("q04_ord", dir, "orders", Seq("o_orderkey"), Some("o_orderdate"))
      cl.getFeatures(DerivedFeatureView(
        "q04", src,
        features = Seq(
          Feature.expr("ts_sec", "UNIX_TIMESTAMP(CAST(o_orderdate AS STRING))"),
          Feature.expr("ts_plus_day", "UNIX_TIMESTAMP(CAST(o_orderdate AS STRING)) + 86400"),
          Feature.expr("const_ts", "UNIX_TIMESTAMP('02/01/2024', '%d/%m/%Y')"))))
    },
    Some("""SELECT o_orderkey, o_orderdate, epoch(o_orderdate)::BIGINT AS ts_sec,
      epoch(o_orderdate)::BIGINT + 86400 AS ts_plus_day,
      1704153600::BIGINT AS const_ts FROM orders"""))

  private val q05 = Q(
    "q05_udf_row",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val src = fileSrc("q05_ord", dir, "orders", Seq("o_orderkey"), Some("o_orderdate"))
      cl.getFeatures(DerivedFeatureView(
        "q05", src,
        features = Seq(Feature(
          "prio_len",
          UdfTransform(
            (r: Row) => r.getAs[String]("o_orderpriority").length.toLong +
              r.getAs[Long]("o_orderkey") % 7,
            DInt64)))))
    },
    Some("""SELECT o_orderkey, o_orderdate,
      length(o_orderpriority)::BIGINT + o_orderkey % 7 AS prio_len FROM orders"""))

  private val q06 = Q(
    "q06_pit_join",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val ev = eventsSrc("q06_events", dir)
      cl.registerTable(DerivedFeatureView(
        "q06_ev", ev,
        features = Seq(
          Feature.expr("o_custkey", "user_id"),
          Feature.expr("ev_value", "value")),
        keys = Some(Seq("o_custkey"))))
      val orders = fileSrc("q06_ord", dir, "orders", Seq("o_custkey"), Some("o_orderdate"))
      cl.getFeatures(DerivedFeatureView(
        "q06", orders,
        features = Seq(Feature(
          "ev_value", JoinTransform("q06_ev", "ev_value"), keys = Some(Seq("o_custkey")))),
        keepSourceFields = true))
    },
    Some("""WITH e1 AS (SELECT user_id, epoch_ms(ts) AS tms, MAX(value) AS value
        FROM events GROUP BY 1, 2)
      SELECT o.*, e1.value AS ev_value FROM orders o
      ASOF LEFT JOIN e1 ON o.o_custkey = e1.user_id AND epoch_ms(o.o_orderdate) >= e1.tms"""))

  private val q07 = Q(
    "q07_over_window_range",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val ev = eventsSrc("q07_events", dir)
      val inner = DerivedFeatureView(
        "q07_inner", ev,
        features = Seq(
          Feature("avg_1h_raw", OverWindowTransform("value", AggFunc.Avg, Some(1.hour), Seq("user_id"))),
          Feature("sum_1h_raw", OverWindowTransform("value", AggFunc.Sum, Some(1.hour), Seq("user_id"))),
          Feature("cnt_1h", OverWindowTransform("value", AggFunc.Count, Some(1.hour), Seq("user_id"))),
          Feature("first_type", OverWindowTransform("event_type", AggFunc.FirstValue, Some(1.hour), Seq("user_id"))),
          Feature("rn", OverWindowTransform("value", AggFunc.RowNumber, None, Seq("user_id")), dtype = Some(DInt64))),
        keepSourceFields = true)
      cl.registerTable(inner)
      cl.getFeatures(DerivedFeatureView(
        "q07", inner,
        features = Seq(
          Feature.expr("avg_1h", "ROUND(avg_1h_raw, 4)"),
          Feature.expr("sum_1h", "ROUND(sum_1h_raw, 3)"),
          Feature.expr("cnt_1h", "cnt_1h"),
          Feature.expr("first_type", "first_type"),
          Feature.expr("rn", "rn")),
        keys = Some(Seq("event_id", "user_id")))).drop("ts")
    },
    Some("""SELECT event_id, user_id,
      round(avg(value) OVER w, 4) AS avg_1h,
      round(sum(value) OVER w, 3) AS sum_1h,
      count(value) OVER w AS cnt_1h,
      first_value(event_type) OVER w AS first_type,
      (row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)))::BIGINT AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts) RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)"""))

  private val q08 = Q(
    "q08_over_window_rows",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val ev = eventsSrc("q08_events", dir)
      val inner = DerivedFeatureView(
        "q08_inner", ev,
        features = Seq(
          Feature("sum5_raw", OverWindowTransform("value", AggFunc.Sum, None, Seq("user_id"), limit = Some(5))),
          Feature("min_5", OverWindowTransform("value", AggFunc.Min, None, Seq("user_id"), limit = Some(5))),
          Feature("first_5", OverWindowTransform("value", AggFunc.FirstValue, None, Seq("user_id"), limit = Some(5))),
          Feature("types3_raw", OverWindowTransform("event_type", AggFunc.CollectList, None, Seq("user_id"), limit = Some(3)))),
        keepSourceFields = true)
      cl.registerTable(inner)
      cl.getFeatures(DerivedFeatureView(
        "q08", inner,
        features = Seq(
          Feature.expr("sum_5", "ROUND(sum5_raw, 3)"),
          Feature.expr("min_5", "min_5"),
          Feature.expr("first_5", "first_5"),
          Feature.expr("types_3", "ARRAY_JOIN(types3_raw, ',')")),
        keys = Some(Seq("event_id", "user_id")))).drop("ts")
    },
    Some("""SELECT event_id, user_id,
      round(sum(value) OVER w5, 3) AS sum_5,
      min(value) OVER w5 AS min_5,
      first_value(value) OVER w5 AS first_5,
      string_agg(event_type, ',') OVER w3 AS types_3
      FROM events
      WINDOW
        w5 AS (PARTITION BY user_id ORDER BY epoch_ms(ts) ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        w3 AS (PARTITION BY user_id ORDER BY epoch_ms(ts) ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"""))

  private val q09 = Q(
    "q09_over_window_filter",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val ev = eventsSrc("q09_events", dir)
      val inner = DerivedFeatureView(
        "q09_inner", ev,
        features = Seq(
          Feature("clicks_cnt10", OverWindowTransform(
            "value", AggFunc.Count, None, Seq("user_id"),
            filterExpr = Some("event_type = 'click'"), limit = Some(10))),
          Feature("clicks_sum10_raw", OverWindowTransform(
            "value", AggFunc.Sum, None, Seq("user_id"),
            filterExpr = Some("event_type = 'click'"), limit = Some(10))),
          Feature("err_first", OverWindowTransform(
            "value", AggFunc.FirstValue, None, Seq("user_id"),
            filterExpr = Some("event_type = 'error'"))),
          Feature("err_last", OverWindowTransform(
            "value", AggFunc.LastValue, None, Seq("user_id"),
            filterExpr = Some("event_type = 'error'"))),
          Feature("sum_1h3_raw", OverWindowTransform(
            "value", AggFunc.Sum, Some(1.hour), Seq("user_id"), limit = Some(3)))),
        keepSourceFields = true)
      cl.registerTable(inner)
      cl.getFeatures(DerivedFeatureView(
        "q09", inner,
        features = Seq(
          Feature.expr("clicks_cnt10", "clicks_cnt10"),
          Feature.expr("clicks_sum10", "ROUND(clicks_sum10_raw, 3)"),
          Feature.expr("err_first", "err_first"),
          Feature.expr("err_last", "err_last"),
          Feature.expr("sum_1h3", "ROUND(sum_1h3_raw, 3)")),
        keys = Some(Seq("event_id", "user_id")))).drop("ts")
    },
    Some("""WITH x AS (SELECT event_id, user_id, epoch_ms(ts) ms, value, event_type FROM events),
      w AS (SELECT event_id, user_id,
        first_value(CASE WHEN event_type = 'error' THEN value END IGNORE NULLS) OVER wu AS err_first,
        last_value(CASE WHEN event_type = 'error' THEN value END IGNORE NULLS) OVER wu AS err_last
        FROM x WINDOW
        wu AS (PARTITION BY user_id ORDER BY ms ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      p AS (SELECT e.event_id, r.ms rms, r.value rv, e.ms ems,
        ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY r.ms DESC) rn
        FROM x e JOIN x r ON r.user_id = e.user_id AND r.ms <= e.ms),
      c AS (SELECT event_id,
        round(SUM(CASE WHEN rn <= 3 AND rms >= ems - 3600000 THEN rv END), 3) AS sum_1h3
        FROM p GROUP BY 1),
      pc AS (SELECT e.event_id, r.value rv,
        ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY r.ms DESC) crn
        FROM x e LEFT JOIN x r
        ON r.user_id = e.user_id AND r.ms <= e.ms AND r.event_type = 'click'),
      cc AS (SELECT event_id,
        COUNT(CASE WHEN crn <= 10 AND rv IS NOT NULL THEN 1 END) AS clicks_cnt10,
        ROUND(COALESCE(SUM(CASE WHEN crn <= 10 THEN rv END), 0), 3) AS clicks_sum10
        FROM pc GROUP BY 1)
      SELECT w.event_id, w.user_id, cc.clicks_cnt10, cc.clicks_sum10, w.err_first, w.err_last, c.sum_1h3
      FROM w JOIN c ON w.event_id = c.event_id JOIN cc ON w.event_id = cc.event_id"""))

  private val q10 = Q(
    "q10_value_counts",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val ev = eventsSrc("q10_events", dir)
      val df = cl.getFeatures(DerivedFeatureView(
        "q10_inner", ev,
        features = Seq(
          Feature("type_counts", OverWindowTransform("event_type", AggFunc.ValueCounts, None, Seq("user_id")))),
        keepSourceFields = true))
      df.withColumn("__rn",
          row_number().over(Window.partitionBy(col("user_id")).orderBy(col("ts").desc)))
        .filter(col("__rn") === 1)
        .select(col("user_id"), explode(col("type_counts")).as(Seq("v", "cnt")))
    },
    Some("SELECT user_id, event_type AS v, COUNT(*) AS cnt FROM events GROUP BY 1, 2"))

  private val q11 = Q(
    "q11_sliding_multi_size",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val ev = eventsSrc("q11_events", dir)
      val slide = SlidingFeatureView(
        "q11_slide", ev,
        features = Seq(
          Feature("sum_7d_raw", SlidingWindowTransform("value", AggFunc.Sum, 7.days, 1.day, Seq("user_id"))),
          Feature("cnt_7d", SlidingWindowTransform("value", AggFunc.Count, 7.days, 1.day, Seq("user_id"))),
          Feature("cnt_1d", SlidingWindowTransform("value", AggFunc.Count, 1.day, 1.day, Seq("user_id"))),
          Feature("min_7d", SlidingWindowTransform("value", AggFunc.Min, 7.days, 1.day, Seq("user_id"))),
          Feature("first_7d", SlidingWindowTransform("value", AggFunc.FirstValue, 7.days, 1.day, Seq("user_id"))),
          Feature("last_7d", SlidingWindowTransform("value", AggFunc.LastValue, 7.days, 1.day, Seq("user_id"))),
          Feature.expr("day_idx", "CAST((GET_WINDOW_TIME() + 1) / 86400000 AS BIGINT)")),
        enableEmptyWindowOutput = false,
        skipSameWindowOutput = false)
      cl.registerTable(slide)
      cl.getFeatures(DerivedFeatureView(
        "q11", slide,
        features = Seq(
          Feature.expr("sum_7d", "ROUND(sum_7d_raw, 3)"),
          Feature.expr("cnt_7d", "cnt_7d"),
          Feature.expr("cnt_1d", "cnt_1d"),
          Feature.expr("min_7d", "min_7d"),
          Feature.expr("first_7d", "first_7d"),
          Feature.expr("last_7d", "last_7d"),
          Feature.expr("day_idx", "day_idx"))))
    },
    Some("""WITH pre AS (SELECT user_id, CAST(FLOOR(epoch_ms(ts)/86400000.0) AS BIGINT) AS b,
        SUM(value) AS s, COUNT(*) AS c, MIN(value) AS mn,
        arg_min(value, epoch_ms(ts)) AS fm, arg_max(value, epoch_ms(ts)) AS lm
        FROM events GROUP BY 1, 2),
      ends AS (SELECT DISTINCT user_id, b + g AS b
        FROM (SELECT user_id, b, unnest(generate_series(0, 6)) g FROM pre))
      SELECT e.user_id, (e.b + 1) * 86400000 - 1 AS window_time,
        ROUND(SUM(p.s), 3) AS sum_7d,
        SUM(p.c)::BIGINT AS cnt_7d,
        COALESCE(SUM(p.c) FILTER (p.b = e.b), 0)::BIGINT AS cnt_1d,
        MIN(p.mn) AS min_7d,
        arg_min(p.fm, p.b) AS first_7d,
        arg_max(p.lm, p.b) AS last_7d,
        (e.b + 1)::BIGINT AS day_idx
      FROM ends e JOIN pre p ON p.user_id = e.user_id AND p.b BETWEEN e.b - 6 AND e.b
      GROUP BY e.user_id, e.b"""))

  private val q12 = Q(
    "q12_sliding_empty_skip",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val ev = eventsSrc("q12_events", dir)
      cl.getFeatures(SlidingFeatureView(
        "q12", ev,
        features = Seq(
          Feature("cnt_3d", SlidingWindowTransform("value", AggFunc.Count, 3.days, 1.day, Seq("user_id"))),
          Feature("max_3d", SlidingWindowTransform("value", AggFunc.Max, 3.days, 1.day, Seq("user_id"))))))
    },
    Some("""WITH pre AS (SELECT user_id, CAST(FLOOR(epoch_ms(ts)/86400000.0) AS BIGINT) AS b,
        COUNT(*) c, MAX(value) m FROM events GROUP BY 1, 2),
      grid AS (SELECT DISTINCT user_id, b + g AS gb
        FROM (SELECT user_id, b, unnest(generate_series(0, 3)) g FROM pre)),
      win AS (SELECT g.user_id, g.gb AS b, COALESCE(SUM(p.c), 0)::BIGINT cnt, MAX(p.m) mx
        FROM grid g LEFT JOIN pre p ON p.user_id = g.user_id AND p.b BETWEEN g.gb - 2 AND g.gb
        GROUP BY 1, 2),
      flag AS (SELECT *, cnt > 0 AS isany,
        COALESCE(LAG(cnt > 0) OVER (PARTITION BY user_id ORDER BY b), false) AS prev_any FROM win),
      kept AS (SELECT * FROM flag WHERE isany OR prev_any),
      dedup AS (SELECT *, ROW_NUMBER() OVER w rn, LAG(cnt) OVER w pc, LAG(mx) OVER w pm
        FROM kept WINDOW w AS (PARTITION BY user_id ORDER BY b))
      SELECT user_id, (b + 1) * 86400000 - 1 AS window_time, cnt AS cnt_3d, mx AS max_3d
      FROM dedup WHERE rn = 1 OR (cnt IS DISTINCT FROM pc) OR (mx IS DISTINCT FROM pm)"""))

  private val q13 = Q(
    "q13_sliding_cumulative",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val ev = eventsSrc("q13_events", dir)
      cl.getFeatures(SlidingFeatureView(
        "q13", ev,
        features = Seq(
          Feature("cum_cnt", SlidingWindowTransform("value", AggFunc.Count, Duration.Zero, Duration.Zero, Seq("user_id"))),
          Feature("cum_max", SlidingWindowTransform("value", AggFunc.Max, Duration.Zero, Duration.Zero, Seq("user_id"))))))
    },
    Some("""SELECT user_id, epoch_ms(ts) AS window_time,
      COUNT(value) OVER w AS cum_cnt, MAX(value) OVER w AS cum_max FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts) ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""))

  private val tpchQ1 = """SELECT l_returnflag, l_linestatus,
      CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
      ROUND(SUM(l_extendedprice), 2) AS sum_base,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
      ROUND(AVG(l_quantity), 4) AS avg_qty,
      COUNT(*) AS cnt
      FROM lineitem GROUP BY l_returnflag, l_linestatus"""

  private val q14 = Q(
    "q14_sql_view",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      cl.getFeatures(SqlFeatureView(
        "q14", tpchQ1,
        dependencies = Seq(fileSrc("lineitem", dir, "lineitem"))))
    },
    Some(tpchQ1))

  private val q15 = Q(
    "q15_join_expiry",
    (spark, dir) => {
      val left = EventTime.append(
        pq(spark, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate"),
        Some("o_orderdate"), "auto")
      val ev = EventTime.append(
        pq(spark, dir, "events")
          .select(col("user_id").as("o_custkey"), col("ts"), col("value")),
        Some("ts"), "epoch_nanos")
      val right = ev.select(
        col("o_custkey"), col(EventTime.Col),
        col("value").as("ev_value"), col(EventTime.Col).as("ev_t"))
      val joined = TemporalJoin.pointInTime(
        left, right, Seq("o_custkey"),
        Seq(("ev_value", "ev_value"), ("ev_t", "ev_t")))
      TemporalJoin
        .withExpiry(joined, "ev_t", "ev_value", 3L * 86400000L,
          lit(null).cast("double"))
        .select(
          col("o_orderkey"), col("o_custkey"),
          col(EventTime.Col).as("t_ms"), col("ev_value"))
    },
    Some("""WITH e1 AS (SELECT user_id, epoch_ms(ts) tms, MAX(value) AS v FROM events GROUP BY 1, 2),
      j AS (SELECT o.o_orderkey, o.o_custkey, epoch_ms(o.o_orderdate) t_ms, e1.v, e1.tms
        FROM orders o ASOF LEFT JOIN e1
        ON o.o_custkey = e1.user_id AND epoch_ms(o.o_orderdate) >= e1.tms)
      SELECT o_orderkey, o_custkey, t_ms,
        CASE WHEN t_ms < tms + 259200000 THEN v END AS ev_value FROM j"""))

  private val q16 = Q(
    "q16_keyfilter_timerange",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val src = fileSrc("q16_li", dir, "lineitem", Seq("l_orderkey"), Some("l_shipdate"))
      val keysDf = pq(spark, dir, "orders")
        .filter(col("o_totalprice") > 300000)
        .select(col("o_orderkey").as("l_orderkey"))
      cl.getFeatures(
        src,
        keysDf = Some(keysDf),
        startMillis = Some(820454400000L), // 1996-01-01 UTC
        endMillis = Some(915148800000L))   // 1999-01-01 UTC
    },
    Some("""SELECT * FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000)
      AND epoch_ms(l_shipdate) >= 820454400000 AND epoch_ms(l_shipdate) < 915148800000"""))

  private val q17 = Q(
    "q17_datagen",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val gen = DataGenSource(
        "q17_gen", 1000,
        Seq(
          SequenceField("uid", DInt64, start = 1),
          RandomField("tag", DString, length = 12)),
        seed = 42L)
      cl.getFeatures(DerivedFeatureView(
        "q17", gen,
        features = Seq(Feature.expr("tag_up", "UPPER(tag)")),
        keepSourceFields = true))
    },
    Some("""SELECT (g + 1)::BIGINT AS uid,
      substr(md5(concat_ws('-', '42', g::VARCHAR, 'tag')), 1, 12) AS tag,
      upper(substr(md5(concat_ws('-', '42', g::VARCHAR, 'tag')), 1, 12)) AS tag_up
      FROM generate_series(0, 999) t(g)"""))

  private val q18 = Q(
    "q18_metrics",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val ev = eventsSrc("q18_events", dir)
      cl.getFeatures(SlidingFeatureView(
        "q18", ev,
        features = Seq(
          Metrics.count("err_cnt", Some("event_type = 'error'"), 1.day),
          Metrics.ratio("err_ratio", "event_type = 'error'", 1.day)),
        enableEmptyWindowOutput = false,
        skipSameWindowOutput = false))
    },
    Some("""WITH pre AS (SELECT CAST(FLOOR(epoch_ms(ts)/86400000.0) AS BIGINT) b,
        COUNT(CASE WHEN event_type = 'error' THEN 1 END) ec,
        SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) es, COUNT(*) c
        FROM events GROUP BY 1)
      SELECT (b + 1) * 86400000 - 1 AS window_time, ec::BIGINT AS err_cnt,
        es::DOUBLE / c AS err_ratio FROM pre"""))

  /** String feature/source references resolved at build() — the
    * reference's primary ergonomic surface (derived_feature_view.py:
    * 123-169): source by registered name, `"field"` passthrough,
    * `"table.feature"` PIT join, and a string-shorthand expression
    * feature depending on both.
    */
  private val q19 = Q(
    "q19_string_refs",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      cl.registerTable(DerivedFeatureView(
        "q19_ev", eventsSrc("q19_events", dir),
        features = Seq(
          Feature.expr("o_custkey", "user_id"),
          Feature.expr("ev_value", "value")),
        keys = Some(Seq("o_custkey"))))
      cl.registerTable(fileSrc("q19_ord", dir, "orders", Seq("o_custkey"), Some("o_orderdate")))
      cl.getFeatures(UnresolvedDerivedFeatureView(
        "q19", "q19_ord",
        Seq[FeatureRef](
          "o_orderstatus",
          "q19_ev.ev_value",
          Feature("double_price", "o_totalprice * 2"),
          Feature("price_and_ev", "double_price + ev_value"))).build())
    },
    Some("""WITH e1 AS (SELECT user_id, epoch_ms(ts) AS tms, MAX(value) AS value
        FROM events GROUP BY 1, 2)
      SELECT o.o_custkey, o.o_orderdate, o.o_orderstatus, e1.value AS ev_value,
        o.o_totalprice * 2 AS double_price,
        o.o_totalprice * 2 + e1.value AS price_and_ev
      FROM orders o
      ASOF LEFT JOIN e1 ON o.o_custkey = e1.user_id AND epoch_ms(o.o_orderdate) >= e1.tms"""))

  // ------------------------------------------------------------------
  // Training-data pipeline: dedup / similarity / text / multimodal
  // ------------------------------------------------------------------

  private val q20 = Q(
    "q20_dedup_exact",
    (spark, dir) => Dedup.exactGroups(pq(spark, dir, "documents"), "doc_id", "text"),
    Some("""SELECT md5(text) AS text_hash, MIN(doc_id)::BIGINT AS keep_id,
      COUNT(*) AS n_copies FROM documents GROUP BY 1"""))

  private val q21 = Q(
    "q21_dedup_jaccard",
    (spark, dir) =>
      Dedup.ngramJaccardPairs(pq(spark, dir, "documents"), "doc_id", "text", 3, 0.5),
    Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS s
        FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) g FROM toks)),
      sz AS (SELECT doc_id, COUNT(*) sz FROM sh GROUP BY 1),
      common AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c FROM sh a
        JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT ia AS id_a, ib AS id_b, ROUND(c::DOUBLE / (x.sz + y.sz - c), 4) AS jaccard
      FROM common JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      WHERE ROUND(c::DOUBLE / (x.sz + y.sz - c), 4) >= 0.5"""))

  private val q22 = Q(
    "q22_dedup_minhash_lsh",
    (spark, dir) =>
      Dedup.minhashLshPairs(pq(spark, dir, "documents"), "doc_id", "text"),
    Some {
      val mins = (0 until 16)
        .map(i => s"MIN(substr(h, ${i + 1}, 15)) m$i")
        .mkString(", ")
      val bands = (0 until 4).map { b =>
        val cols = (0 until 4).map(r => s"m${b * 4 + r}").mkString(", ")
        s"SELECT doc_id, $b band, md5(concat_ws('|', $cols)) bucket FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS s
        FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) g FROM toks)),
      hh AS (SELECT doc_id, md5(s) h FROM sh),
      sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id),
      bands AS ($bands)
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a
      JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id"""
    })

  private val q23 = Q(
    "q23_dedup_simhash",
    (spark, dir) =>
      Dedup.simhash(pq(spark, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id"),
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) tok FROM documents),
      h AS (SELECT doc_id, md5(tok) h FROM toks),
      bits AS (SELECT doc_id, g,
        CASE WHEN ((instr('0123456789abcdef', substr(h, g//4 + 1, 1)) - 1)
          // CAST(POWER(2, g%4) AS INT)) % 2 = 1 THEN 1 ELSE -1 END w
        FROM (SELECT doc_id, h, unnest(generate_series(0, 63)) g FROM h)),
      s AS (SELECT doc_id, g, SUM(w) sw FROM bits GROUP BY 1, 2)
      SELECT doc_id, string_agg(CASE WHEN sw > 0 THEN '1' ELSE '0' END, '' ORDER BY g) AS simhash
      FROM s GROUP BY doc_id"""))

  /** DuckDB mirror of [[graft.ops.Similarity.srpBucket]]: one '0'/'1' char
    * per plane, sign of the sequential left-fold sum of ±element weights
    * from md5 hex-digit parity of (plane, dim). `list_reduce` is a
    * left-fold like Spark's `aggregate`, so the float sums agree bitwise.
    */
  private def srpBucketSql(planes: Int, vcol: String): String =
    (0 until planes).map { j =>
      val weighted = s"list_transform(generate_series(1, len($vcol)), i -> " +
        s"CASE WHEN (instr('0123456789abcdef', substr(md5('p$j-' || (i-1)::VARCHAR), 1, 1)) - 1) % 2 = 0 " +
        s"THEN $vcol[i] ELSE -$vcol[i] END)"
      s"CASE WHEN list_reduce($weighted, (a,b) -> a+b) > 0 THEN '1' ELSE '0' END"
    }.mkString(" || ")

  /** Banded-SRP near-dup (the 100 TB path; the exact all-pairs kernel stays
    * as the ScalaTest differential baseline).
    */
  private val q24 = Q(
    "q24_embed_neardup",
    (spark, dir) =>
      Dedup.embeddingNearDupPairs(
        pq(spark, dir, "embeddings"), "vec_id", "embedding", 0.45,
        planes = 8, bands = 4),
    Some {
      val bandsSql = (0 until 4)
        .map(b => s"SELECT vec_id, $b band, substr(bk, ${b * 2 + 1}, 2) bucket FROM bk")
        .mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      bk AS (SELECT vec_id, ${srpBucketSql(8, "v")} bk FROM e),
      bands AS ($bandsSql),
      cand AS (SELECT DISTINCT a.vec_id ia, b.vec_id ib FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
      SELECT c.ia id_a, c.ib id_b,
        ROUND(list_dot_product(x.v, y.v) /
          (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS cosine
      FROM cand c JOIN e x ON x.vec_id = c.ia JOIN e y ON y.vec_id = c.ib
      WHERE ROUND(list_dot_product(x.v, y.v) /
        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.45"""
    })

  private val q25 = Q(
    "q25_ann_topk",
    (spark, dir) => {
      val emb = pq(spark, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "vec_id", "embedding", k = 5)
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] qv FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS nbr_id, embedding::DOUBLE[] cv FROM embeddings),
      s AS (SELECT query_id, nbr_id,
        ROUND(list_dot_product(cv, qv) /
          (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 6) AS score
        FROM c, q WHERE nbr_id <> query_id),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, nbr_id) AS rnk FROM s)
      SELECT query_id, rnk::INT AS rank, nbr_id, score FROM r WHERE rnk <= 5"""))

  private val q26 = Q(
    "q26_text_tokens",
    (spark, dir) =>
      TextOps.tokenStats(pq(spark, dir, "documents"), "text", Seq("doc_id")),
    Some("""SELECT doc_id, length(text)::BIGINT AS n_chars,
      len(string_split(trim(text), ' '))::BIGINT AS n_tokens_ws,
      len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::BIGINT AS n_tokens_re,
      ROUND(length(text)::DOUBLE / len(string_split(trim(text), ' ')), 4) AS chars_per_token
      FROM documents"""))

  private val q27 = Q(
    "q27_text_quality",
    (spark, dir) =>
      TextOps.qualitySignals(pq(spark, dir, "documents"), "text", Seq("doc_id")),
    Some("""WITH q AS (SELECT doc_id,
        length(text)::DOUBLE nc,
        len(string_split(trim(text), ' '))::DOUBLE nw,
        length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE na,
        length(regexp_replace(text, '[^.,!?;:]', '', 'g'))::DOUBLE np,
        len(list_filter(string_split(lower(trim(text)), ' '),
          x -> list_contains(['the','a','of','and','in','to','is','for','on','with'], x)))::DOUBLE ns
        FROM documents),
      r AS (SELECT doc_id, nw,
        ROUND(LEAST(nw / 64, 1.0), 4) ws,
        ROUND(na / GREATEST(nc, 1), 4) ar,
        ROUND(ns / GREATEST(nw, 1), 4) sr,
        ROUND(np / GREATEST(nc, 1), 4) pr
        FROM q)
      SELECT doc_id, nw::BIGINT AS n_words,
        ar AS alpha_ratio, sr AS stopword_ratio, pr AS punct_ratio,
        ROUND(0.4 * ws + 0.3 * ar + 0.2 * LEAST(sr * 4, 1.0) +
          0.1 * (1.0 - LEAST(pr * 10, 1.0)), 5) AS quality_score
      FROM r"""))

  private val q28 = Q(
    "q28_text_langid_fp",
    (spark, dir) => {
      val d = pq(spark, dir, "documents")
      d.select(
        col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("lang_pred"),
        TextOps.fingerprint(col("text")).as("fp"))
    },
    Some {
      val markers = TextOps.LangMarkers
        .map { case (l, ws) => s"('$l', [${ws.map(w => s"'$w'").mkString(",")}])" }
        .mkString(", ")
      s"""WITH t AS (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') toks, text FROM documents),
      s AS (SELECT t.doc_id, m.lang mlang,
        len(list_filter(t.toks, x -> list_contains(m.words, x))) score
        FROM t, (VALUES $markers) m(lang, words)),
      r AS (SELECT doc_id, mlang, ROW_NUMBER() OVER
        (PARTITION BY doc_id ORDER BY score DESC, mlang DESC) rn FROM s)
      SELECT d.doc_id, d.lang, r.mlang AS lang_pred,
        md5(array_to_string(list_sort(list_distinct(string_split(trim(d.text), ' '))), ' ')) AS fp
      FROM documents d JOIN r ON r.doc_id = d.doc_id AND r.rn = 1"""
    })

  private val q29 = Q(
    "q29_text_sketch",
    (spark, dir) =>
      // Par.spread: per-character md5 map — full-width when the scan
      // arrives under-partitioned (no-op on well-split inputs)
      graft.ops.Par.spread(pq(spark, dir, "documents")).select(
        col("doc_id"),
        TextOps.shingleSketch(col("text"), 8, 4).as("sketch")),
    Some("""WITH g AS (SELECT doc_id, md5(substr(text, gg::INT, 8)) AS h
        FROM (SELECT doc_id, text,
          unnest(generate_series(1, greatest(length(text) - 7, 1))) gg FROM documents)),
      r AS (SELECT doc_id, h, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h) rn FROM g)
      SELECT doc_id, string_agg(h, '|' ORDER BY h) AS sketch FROM r WHERE rn <= 4 GROUP BY doc_id"""))

  private val q30 = Q(
    "q30_multimodal_meta",
    (spark, dir) => {
      val d = pq(spark, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
      Multimodal.withMeta(d, "payload", "image/fake")
        .select(
          col("doc_id"),
          col("meta.mime").as("mime"),
          col("meta.n_bytes").as("n_bytes"),
          col("meta.width").as("width"),
          col("meta.height").as("height"))
    },
    Some("""SELECT doc_id, 'image/fake' AS mime, octet_length(text::BLOB)::BIGINT AS n_bytes,
      ((16 * (instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1)
        + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)) % 240 + 16)::INT AS width,
      ((16 * (instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1)
        + (instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1)) % 240 + 16)::INT AS height
      FROM documents"""))

  private val q31 = Q(
    "q31_multimodal_frames",
    (spark, dir) => {
      val d = pq(spark, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
      Multimodal.sampleFrames(d, "doc_id", "payload", 64, 2)
        .select(
          col("id").as("doc_id"), col("frame_idx"),
          md5(col("frame_bytes")).as("frame_md5"))
    },
    Some("""SELECT doc_id, (g // 2)::INT AS frame_idx,
      md5(substr(text, (g * 64 + 1)::INT, 64)) AS frame_md5
      FROM (SELECT doc_id, text,
        unnest(generate_series(0, greatest((length(text) // 64) - 1, 0), 2)) g FROM documents)"""))

  /** Media feature extraction through the partition-wise codec stub. The
    * stub derives features from md5(payload ++ "-i") quantized to k/10000,
    * so the first feature is exactly reproducible in SQL over `text` (the
    * payload is the UTF-8 encoding of `text`).
    */
  private val q32 = Q(
    "q32_multimodal_features",
    (spark, dir) => {
      val d = pq(spark, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
      Multimodal.extractFeatures(d, "doc_id", "payload", dim = 8)
        .select(
          col("id").as("doc_id"),
          size(col("features")).as("dim"),
          round(element_at(col("features"), 1).cast("double"), 4).as("f0"))
    },
    Some {
      val hexVal = (1 to 6)
        .map(k => s"(instr('0123456789abcdef', substr(m, $k, 1)) - 1) * ${1L << (4 * (6 - k))}")
        .mkString(" + ")
      s"""WITH f AS (SELECT doc_id, md5(text || '-0') m FROM documents),
      h AS (SELECT doc_id, ($hexVal)::BIGINT h FROM f)
      SELECT doc_id, 8 AS dim, ROUND(((h % 20001) - 10000) / 10000.0, 4) AS f0 FROM h"""
    })

  private val q33 = Q(
    "q33_simhash_pairs",
    (spark, dir) => {
      val sim = Dedup.simhash(pq(spark, dir, "documents"), "doc_id", "text")
      Dedup.simhashPairs(sim, prefixBits = 16, maxHamming = 8)
        .withColumn("hamming", col("hamming").cast("int"))
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) tok FROM documents),
      h AS (SELECT doc_id, md5(tok) h FROM toks),
      bits AS (SELECT doc_id, g,
        CASE WHEN ((instr('0123456789abcdef', substr(h, g//4 + 1, 1)) - 1)
          // CAST(POWER(2, g%4) AS INT)) % 2 = 1 THEN 1 ELSE -1 END w
        FROM (SELECT doc_id, h, unnest(generate_series(0, 63)) g FROM h)),
      s AS (SELECT doc_id, g, SUM(w) sw FROM bits GROUP BY 1, 2),
      sim AS (SELECT doc_id, string_agg(CASE WHEN sw > 0 THEN '1' ELSE '0' END, '' ORDER BY g) AS simhash
        FROM s GROUP BY doc_id),
      p AS (SELECT a.doc_id ia, a.simhash sa, b.doc_id ib, b.simhash sb FROM sim a
        JOIN sim b ON substr(a.simhash, 1, 16) = substr(b.simhash, 1, 16) AND a.doc_id < b.doc_id)
      SELECT ia AS id_a, ib AS id_b,
        len(list_filter(generate_series(1, 64), g -> substr(sa, g::INT, 1) <> substr(sb, g::INT, 1)))::INT AS hamming
      FROM p
      WHERE len(list_filter(generate_series(1, 64), g -> substr(sa, g::INT, 1) <> substr(sb, g::INT, 1))) <= 8"""))

  /** LSH-bucketed approximate top-k; exactness baseline is q25. The SRP
    * bucket is md5-reproducible, so the approximate result has an exact
    * oracle.
    */
  private val q34 = Q(
    "q34_ann_lsh",
    (spark, dir) => {
      val emb = pq(spark, dir, "embeddings")
      Similarity.lshTopK(
        emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "vec_id", "embedding", k = 5, planes = 4)
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      b AS (SELECT vec_id, ${srpBucketSql(4, "v")} bk, v FROM e),
      q AS (SELECT vec_id AS query_id, bk, v qv FROM b WHERE vec_id < 10),
      s AS (SELECT q.query_id, c.vec_id nbr_id,
        ROUND(list_dot_product(c.v, q.qv) /
          (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
        FROM b c JOIN q ON c.bk = q.bk AND c.vec_id <> q.query_id),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, nbr_id) AS rnk FROM s)
      SELECT query_id, rnk::INT AS rank, nbr_id, score FROM r WHERE rnk <= 5"""))

  private val q35 = Q(
    "q35_csv_source",
    (spark, dir) => {
      val tmp = SparkEnv.scratchDir("graft_q35")
      pq(spark, dir, "events")
        .filter(col("event_id") < 100)
        .select("event_id", "user_id", "event_type", "value")
        .coalesce(1)
        // headerless: a declared schema names the columns (reference CSV
        // contract — local/file_system_utils.py pd.read_csv(names=...))
        .write.mode("overwrite").csv(tmp)
      val cl = new GraftClient(spark)
      cl.getFeatures(FileSource(
        "q35_csv", tmp, "csv",
        schema = Some(Schema(
          Seq("event_id", "user_id", "event_type", "value"),
          Seq(DInt64, DInt64, DString, DFloat64)))))
    },
    Some("SELECT event_id, user_id, event_type, value FROM events WHERE event_id < 100"))

  private val q36 = Q(
    "q36_json_source",
    (spark, dir) => {
      val tmp = SparkEnv.scratchDir("graft_q36")
      pq(spark, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
        .coalesce(1)
        .write.mode("overwrite").json(tmp)
      val cl = new GraftClient(spark)
      cl.getFeatures(FileSource(
        "q36_json", tmp, "json",
        schema = Some(Schema(
          Seq("doc_id", "lang", "source", "n_chars"),
          Seq(DInt64, DString, DString, DInt64)))))
    },
    Some("SELECT doc_id, lang, source, n_chars FROM documents"))

  /** Generic lookup join against the in-process KV store with static
    * map-entry pushdown: customers materialize into the store with a
    * map-typed feature; orders lookup-join `m['bal']` (only entry 'bal' is
    * fetched) plus a scalar field. Unique customer keys keep the
    * latest-per-key upsert deterministic for the oracle.
    */
  private val q37 = Q(
    "q37_lookup_join",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      graft.client.MemoryOnlineStore.clear()
      val cust = fileSrc("q37_cust", dir, "customer", Seq("c_custkey"))
      cl.materialize(
        DerivedFeatureView(
          "q37_custm", cust,
          features = Seq(
            Feature.expr("balmap", "MAP('bal', c_acctbal)"),
            Feature.expr("mktseg", "c_mktsegment")),
          keys = Some(Seq("c_custkey"))),
        MemoryStoreSink("q37_store"))
      val orders = pq(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"))
      cl.lookupJoin(orders, "q37_store",
        Seq("bal" -> "balmap['bal']", "mktseg" -> "mktseg"))
    },
    Some("""SELECT o.o_orderkey, o.o_custkey AS c_custkey,
        c.c_acctbal AS bal, c.c_mktsegment AS mktseg
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey"""))

  /** Redis round-trip: customers SET per-feature under key_expr-derived
    * keys, orders probe them back with per-row GETs (the in-process client
    * stands in for Redis; the plumbing — key derivation, partition-wise
    * lookups, schema-typed parsing — is the real path).
    */
  private val q38 = Q(
    "q38_redis_lookup",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      graft.client.MemoryRedis.clear()
      cl.materialize(
        fileSrc("q38_cust", dir, "customer", Seq("c_custkey")),
        RedisSink(host = "localhost", namespace = "q38"))
      val src = RedisSource(
        "q38_redis",
        Schema(Seq("c_custkey", "c_acctbal", "c_mktsegment"),
          Seq(DInt64, DFloat64, DString)),
        keys = Some(Seq("c_custkey")), host = "localhost", namespace = "q38")
      val orders = pq(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"))
      cl.redisLookupJoin(orders, src, Seq("c_acctbal", "c_mktsegment"))
        .withColumnRenamed("c_acctbal", "bal")
        .withColumnRenamed("c_mktsegment", "mktseg")
    },
    Some("""SELECT o.o_orderkey, o.o_custkey AS c_custkey,
        c.c_acctbal AS bal, c.c_mktsegment AS mktseg
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey"""))

  /** IVF-style ANN: deterministic coarse quantizer (lowest-id vectors as
    * centroids), corpus assigned to its nearest centroid, queries probing
    * their nprobe nearest lists — exactly reproducible in SQL, so the
    * approximate result gets an exact oracle (exactness baseline is q25).
    */
  private val q39 = Q(
    "q39_ann_ivf",
    (spark, dir) => {
      val emb = pq(spark, dir, "embeddings")
      Similarity.ivfTopK(
        emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4)
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      cent AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
      ca AS (SELECT a.vec_id, c.cent_id, ROW_NUMBER() OVER (PARTITION BY a.vec_id
          ORDER BY list_dot_product(a.v, c.cv) / sqrt(list_dot_product(c.cv, c.cv)) DESC, c.cent_id) rn
        FROM e a CROSS JOIN cent c),
      corpus AS (SELECT e.vec_id AS nbr_id, e.v AS cv2, ca.cent_id
        FROM e JOIN ca ON ca.vec_id = e.vec_id AND ca.rn = 1),
      qa AS (SELECT q.vec_id AS query_id, q.v AS qv, c.cent_id, ROW_NUMBER() OVER (PARTITION BY q.vec_id
          ORDER BY list_dot_product(q.v, c.cv) / sqrt(list_dot_product(c.cv, c.cv)) DESC, c.cent_id) rn
        FROM e q CROSS JOIN cent c WHERE q.vec_id < 10),
      probes AS (SELECT query_id, qv, cent_id FROM qa WHERE rn <= 4),
      s AS (SELECT p.query_id, c.nbr_id,
          ROUND(list_dot_product(c.cv2, p.qv) /
            (sqrt(list_dot_product(c.cv2, c.cv2)) * sqrt(list_dot_product(p.qv, p.qv))), 6) AS score
        FROM corpus c JOIN probes p ON c.cent_id = p.cent_id AND c.nbr_id <> p.query_id),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, nbr_id) AS rnk FROM s)
      SELECT query_id, rnk::INT AS rank, nbr_id, score FROM r WHERE rnk <= 5"""))

  /** Decontamination sweep: training docs (doc_id >= 25) sharing any
    * 3-gram shingle with the held-out benchmark set (doc_id < 25). The
    * benchmark shingle set broadcasts; the corpus shuffles once, on its
    * own id, for the overlap count.
    */
  private val q40 = Q(
    "q40_decontaminate",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      Dedup.contaminatedBy(
        docs.filter(col("doc_id") >= 25), "doc_id", "text",
        docs.filter(col("doc_id") < 25), "doc_id", "text",
        n = 3, minOverlap = 2L)
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS s
        FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) g FROM toks)),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 25)
      SELECT sh.doc_id AS id, COUNT(*)::BIGINT AS overlap
      FROM sh JOIN bench ON sh.s = bench.s
      WHERE sh.doc_id >= 25 GROUP BY 1 HAVING COUNT(*) >= 2"""))

  /** Deterministic stratified sampling by language: md5-bucket selection,
    * reproducible in any engine with md5 — no rand(), map-only.
    */
  private val q41 = Q(
    "q41_stratified_sample",
    (spark, dir) =>
      Sampling.stratifiedSample(
        pq(spark, dir, "documents").select("doc_id", "lang", "n_chars"),
        "lang", "doc_id",
        fractions = Map("en" -> 0.5, "de" -> 0.25),
        default = 0.125),
    Some("""SELECT doc_id, lang, n_chars FROM documents
      WHERE substr(md5('|' || lang || '#' || doc_id), 1, 2) <
        CASE WHEN lang = 'en' THEN '80' WHEN lang = 'de' THEN '40' ELSE '20' END"""))

  /** Shared edge-generation SQL for q42: q21's 3-gram Jaccard pairs at a
    * 0.5 threshold, as WITH-clause members.
    */
  private val jaccardPairCtes =
    """toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS s
        FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) g FROM toks)),
      sz AS (SELECT doc_id, COUNT(*) sz FROM sh GROUP BY 1),
      common AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c FROM sh a
        JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      pairs AS (SELECT ia, ib FROM common JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
        WHERE ROUND(c::DOUBLE / (x.sz + y.sz - c), 4) >= 0.5)"""

  /** Dedup-cluster resolution: near-dup pairs → connected components →
    * per-doc cluster id + canonical flag. The Spark side runs alternating
    * large-star/small-star; the oracle computes the transitive closure with
    * a recursive CTE — two entirely different algorithms agreeing exactly.
    */
  private val q42 = Q(
    "q42_dedup_clusters",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      Cluster.dedupAssign(docs, "doc_id", pairs, "id_a", "id_b")
    },
    Some(s"""WITH RECURSIVE $jaccardPairCtes,
      sym AS (SELECT ia u, ib v FROM pairs UNION SELECT ib, ia FROM pairs),
      reach(u, v) AS (SELECT u, v FROM sym
        UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
      lbl AS (SELECT u, MIN(v) mv FROM reach GROUP BY u)
      SELECT d.doc_id AS id,
        LEAST(d.doc_id, COALESCE(l.mv, d.doc_id)) AS cluster,
        d.doc_id = LEAST(d.doc_id, COALESCE(l.mv, d.doc_id)) AS is_canonical
      FROM documents d LEFT JOIN lbl l ON l.u = d.doc_id"""))

  /** Repetition signals (Gopher-style repetition filters): distinct-token
    * ratio and top-bigram dominance.
    */
  private val q43 = Q(
    "q43_text_repetition",
    (spark, dir) =>
      TextOps.repetitionSignals(pq(spark, dir, "documents"), "text", Seq("doc_id")),
    Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      base AS (SELECT doc_id, len(ws)::BIGINT n_tokens,
        ROUND(len(list_distinct(ws))::DOUBLE / len(ws), 4) distinct_ratio FROM toks),
      bg AS (SELECT doc_id, ws[g] || ' ' || ws[g+1] AS bigram
        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) g
          FROM toks WHERE len(ws) >= 2)),
      cnts AS (SELECT doc_id, bigram, COUNT(*) cnt FROM bg GROUP BY 1, 2),
      top AS (SELECT doc_id, bigram, cnt, ROW_NUMBER() OVER
        (PARTITION BY doc_id ORDER BY cnt DESC, bigram DESC) rn FROM cnts)
      SELECT b.doc_id, b.n_tokens, b.distinct_ratio, t.bigram AS top_bigram,
        COALESCE(t.cnt, 0)::BIGINT AS top_bigram_cnt,
        ROUND(COALESCE(t.cnt, 0)::DOUBLE / GREATEST(b.n_tokens - 1, 1), 4) AS top_bigram_ratio
      FROM base b LEFT JOIN top t ON t.doc_id = b.doc_id AND t.rn = 1"""))

  /** PII scrub over text with deterministically injected emails/phones
    * (the corpus itself is PII-free word soup; the injection makes the
    * match counts non-trivial while keeping an exact oracle).
    */
  private val q44 = Q(
    "q44_pii_redact",
    (spark, dir) => {
      val d = pq(spark, dir, "documents").select(
        col("doc_id"),
        concat(
          lit("reach "),
          when(col("doc_id") % 3 > 0, concat(col("source"), lit("@example.com")))
            .otherwise(lit("nobody")),
          lit(" or "),
          when(col("doc_id") % 2 === 0,
            format_string("555-%03d-%04d", col("doc_id") % 250, col("doc_id") * 7 % 10000))
            .otherwise(lit("n/a")),
          lit(" :: "), col("text")).as("pii_text"))
      TextOps.redactPii(d, "pii_text", Seq("doc_id"))
        .select(
          col("doc_id"), col("n_emails"), col("n_phones"),
          md5(col("redacted")).as("redacted_md5"))
    },
    Some(s"""WITH p AS (SELECT doc_id,
        'reach ' || CASE WHEN doc_id % 3 > 0 THEN source || '@example.com' ELSE 'nobody' END ||
        ' or ' || CASE WHEN doc_id % 2 = 0
          THEN printf('555-%03d-%04d', doc_id % 250, doc_id * 7 % 10000) ELSE 'n/a' END ||
        ' :: ' || text AS pt FROM documents),
      r AS (SELECT doc_id, pt,
        regexp_replace(pt, '${TextOps.EmailPattern}', '<EMAIL>', 'g') ne FROM p)
      SELECT doc_id,
        len(regexp_extract_all(pt, '${TextOps.EmailPattern}'))::BIGINT AS n_emails,
        len(regexp_extract_all(ne, '${TextOps.PhonePattern}'))::BIGINT AS n_phones,
        md5(regexp_replace(ne, '${TextOps.PhonePattern}', '<PHONE>', 'g')) AS redacted_md5
      FROM r"""))

  /** Per-language top-5 vocabulary. */
  private val q45 = Q(
    "q45_vocab_topk",
    (spark, dir) =>
      TextOps.topTokens(pq(spark, dir, "documents"), "text", "lang", 5)
        .withColumnRenamed("grp", "lang"),
    Some("""WITH t AS (SELECT lang, unnest(string_split(trim(text), ' ')) token FROM documents),
      c AS (SELECT lang, token, COUNT(*) cnt FROM t GROUP BY 1, 2),
      r AS (SELECT lang, token, cnt, ROW_NUMBER() OVER
        (PARTITION BY lang ORDER BY cnt DESC, token) rnk FROM c)
      SELECT lang, rnk::INT AS rank, token, cnt FROM r WHERE rnk <= 5"""))

  /** Segment-level boilerplate dedup: 8-token windows shared by ≥2 docs. */
  private val q46 = Q(
    "q46_segment_dedup",
    (spark, dir) =>
      TextOps.segmentDedup(pq(spark, dir, "documents"), "text", "doc_id",
        segTokens = 8, minDocFreq = 2),
    Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      seg AS (SELECT doc_id, g AS pos, array_to_string(ws[g*8+1:g*8+8], ' ') AS seg
        FROM (SELECT doc_id, ws,
            unnest(generate_series(0, GREATEST(CAST(ceil(len(ws) / 8.0) AS INT), 1) - 1)) g
          FROM toks)),
      hh AS (SELECT doc_id, pos, seg, md5(seg) h FROM seg),
      fr AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) c FROM hh GROUP BY 1) WHERE c >= 2),
      m AS (SELECT hh.*, (fr.h IS NOT NULL) AS is_b FROM hh LEFT JOIN fr ON hh.h = fr.h)
      SELECT doc_id, COUNT(*)::BIGINT AS n_segments,
        SUM(CASE WHEN is_b THEN 1 ELSE 0 END)::BIGINT AS n_boilerplate,
        ROUND(SUM(CASE WHEN is_b THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 4) AS boilerplate_ratio,
        md5(COALESCE(string_agg(CASE WHEN NOT is_b THEN seg END, ' ' ORDER BY pos), ''))
          AS cleaned_md5
      FROM m GROUP BY doc_id"""))

  /** Corpus-trained bigram LM scoring (perplexity-filter shape). */
  private val q47 = Q(
    "q47_bigram_lm",
    (spark, dir) =>
      TextOps.bigramLmScore(pq(spark, dir, "documents"), "text", "doc_id"),
    Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      bg AS (SELECT doc_id, ws[g] AS w1, ws[g] || ' ' || ws[g+1] AS bigram
        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) g
          FROM toks WHERE len(ws) >= 2)),
      cb AS (SELECT bigram, COUNT(*) cb FROM bg GROUP BY 1),
      cu AS (SELECT w1, COUNT(*) cu FROM bg GROUP BY 1),
      sc AS (SELECT doc_id,
          CAST(ROUND(ln(cb.cb::DOUBLE / cu.cu) * 1000000) AS BIGINT) lp
        FROM bg JOIN cb USING (bigram) JOIN cu USING (w1)),
      pd AS (SELECT doc_id, COUNT(*) n, SUM(lp) s,
          -((-SUM(lp) * 2 + 100 * COUNT(*)) // (200 * COUNT(*))) r4
        FROM sc GROUP BY 1)
      SELECT d.doc_id, COALESCE(pd.n, 0)::BIGINT AS n_bigrams,
        pd.r4 / 10000.0 AS avg_logprob,
        ROUND(exp(-(pd.r4 / 10000.0)), 4) AS perplexity
      FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id"""))

  /** Balanced training mix: at most 40 docs per language, exact counts. */
  private val q48 = Q(
    "q48_group_quota",
    (spark, dir) =>
      Sampling.groupQuotaSample(
        pq(spark, dir, "documents").select("doc_id", "lang"),
        "lang", "doc_id", quota = 40, salt = "mix1"),
    Some("""SELECT doc_id, lang FROM (
        SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
          ORDER BY md5('mix1' || '|' || lang || '#' || doc_id), doc_id) rk
        FROM documents) WHERE rk <= 40"""))

  /** Per-document top-3 TF-IDF keywords. */
  private val q49 = Q(
    "q49_tfidf_keywords",
    (spark, dir) =>
      TextOps.tfidfKeywords(pq(spark, dir, "documents"), "text", "doc_id", 3),
    Some("""WITH n AS (SELECT COUNT(*) nd FROM documents),
      tc AS (SELECT doc_id, token, COUNT(*) tf
        FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) token FROM documents)
        GROUP BY 1, 2),
      df AS (SELECT token,
          CAST(ROUND(ln((SELECT nd FROM n)::DOUBLE / COUNT(*)) * 1000000) AS BIGINT) idf_micro
        FROM tc GROUP BY token),
      sc AS (SELECT doc_id, token, tf, tf * idf_micro AS tfidf_micro,
          ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY tf * idf_micro DESC, token) rnk
        FROM tc JOIN df USING (token))
      SELECT doc_id, rnk::INT AS rank, token, tf, tfidf_micro
      FROM sc WHERE rnk <= 3"""))

  /** The q50 k-means unroll (init → assign → integer-mean update → final
    * distances), shared by q50 and the q95 prototypicality layer: ends at
    * `d2` = per-(vector, centroid) exact integer-micro squared distances
    * after one Lloyd round with k=4.
    */
  private val kmeansOracleCte = """WITH xm AS (SELECT vec_id, g - 1 AS pos,
          CAST(ROUND((embedding[g]::DOUBLE + 4.0) * 1000000) AS BIGINT) v
        FROM (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) g
          FROM embeddings)),
      seed AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 cl
        FROM embeddings QUALIFY cl < 4),
      cent0 AS (SELECT s.cl, x.pos, x.v FROM seed s JOIN xm x USING (vec_id)),
      d1 AS (SELECT x.vec_id, c.cl, SUM((x.v - c.v) * (x.v - c.v)) dist
        FROM xm x JOIN cent0 c USING (pos) GROUP BY 1, 2),
      a1 AS (SELECT vec_id, cl FROM (SELECT vec_id, cl,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) rn FROM d1)
        WHERE rn = 1),
      cm AS (SELECT a.cl, x.pos, (2 * SUM(x.v) + COUNT(*)) // (2 * COUNT(*)) v
        FROM a1 a JOIN xm x USING (vec_id) GROUP BY 1, 2),
      cent1 AS (SELECT * FROM cm UNION ALL
        SELECT c0.cl, c0.pos, c0.v FROM cent0 c0
        WHERE c0.cl NOT IN (SELECT DISTINCT cl FROM cm)),
      d2 AS (SELECT x.vec_id, c.cl, SUM((x.v - c.v) * (x.v - c.v)) dist
        FROM xm x JOIN cent1 c USING (pos) GROUP BY 1, 2)"""

  /** Integer-micro k-means over embeddings (k=4, one Lloyd round): exact
    * cross-engine assignments — the oracle unrolls init → assign →
    * integer-mean update → final assign in SQL.
    */
  private val q50 = Q(
    "q50_kmeans",
    (spark, dir) =>
      Cluster.kmeansAssign(
        pq(spark, dir, "embeddings"), "vec_id", "embedding", k = 4, iters = 1),
    Some(s"""$kmeansOracleCte
      SELECT vec_id, cl::INT AS cluster, dist::BIGINT AS dist_micro
      FROM (SELECT vec_id, cl, dist,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) rn FROM d2)
      WHERE rn = 1"""))

  /** Gopher-style duplicated 5-gram character coverage per document. */
  private val q51 = Q(
    "q51_dup_ngram_coverage",
    (spark, dir) =>
      TextOps.dupNgramCoverage(pq(spark, dir, "documents"), "text", "doc_id", n = 5),
    Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      gr AS (SELECT doc_id, g - 1 AS p, array_to_string(ws[g:g+4], ' ') AS gram
        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 4)) g
          FROM toks WHERE len(ws) >= 5)),
      dup AS (SELECT doc_id, gram FROM gr GROUP BY 1, 2 HAVING COUNT(*) > 1),
      pos AS (SELECT DISTINCT d.doc_id, o.p + ofs AS pos
        FROM dup d JOIN gr o USING (doc_id, gram)
        CROSS JOIN (SELECT unnest(generate_series(0, 4)) ofs)),
      np AS (SELECT doc_id, COUNT(*) n_dup_pos FROM pos GROUP BY 1)
      SELECT t.doc_id, len(t.ws)::BIGINT AS n_tokens,
        COALESCE(np.n_dup_pos, 0)::BIGINT AS n_dup_pos,
        ROUND(COALESCE(np.n_dup_pos, 0)::DOUBLE / len(t.ws), 4) AS dup_coverage
      FROM toks t LEFT JOIN np USING (doc_id)"""))

  /** Training-sequence packing manifest: 256-token sequences per source. */
  private val q52 = Q(
    "q52_pack_sequences",
    (spark, dir) =>
      TextOps.packSequences(pq(spark, dir, "documents"), "text", "doc_id",
        "source", seqTokens = 256),
    Some("""WITH t AS (SELECT source, doc_id,
          len(string_split(trim(text), ' '))::BIGINT n_tokens FROM documents),
      c AS (SELECT source, doc_id, n_tokens,
          SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) cum_end FROM t)
      SELECT source, doc_id, n_tokens,
        ((cum_end - n_tokens) // 256)::BIGINT AS start_seq,
        ((cum_end - n_tokens) % 256)::BIGINT AS start_offset,
        (GREATEST(cum_end - 1, cum_end - n_tokens) // 256)::BIGINT AS end_seq
      FROM c"""))

  /** ROLLUP corpus statistics over (source, lang). */
  private val q53 = Q(
    "q53_corpus_rollup",
    (spark, dir) =>
      TextOps.corpusRollup(pq(spark, dir, "documents"), "text", "source", "lang"),
    Some("""WITH b AS (SELECT source src, lang lng,
          len(string_split(trim(text), ' '))::BIGINT n_toks,
          CAST(ROUND(len(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE /
            GREATEST(len(text), 1) * 1000000) AS BIGINT) ar_micro
        FROM documents)
      SELECT COALESCE(src, '__all__') AS source, COALESCE(lng, '__all__') AS lang,
        COUNT(*)::BIGINT AS n_docs, SUM(n_toks)::BIGINT AS n_tokens,
        ((SUM(ar_micro) * 2 + 100 * COUNT(*)) // (200 * COUNT(*)))::BIGINT / 10000.0
          AS mean_alpha_ratio
      FROM b GROUP BY ROLLUP (src, lng)"""))

  /** CCNet-style normalization + dedup-key hash. */
  private val q54 = Q(
    "q54_normalize_text",
    (spark, dir) => {
      val d = pq(spark, dir, "documents")
      d.select(
        col("doc_id"),
        TextOps.normalizeText(
          concat(lit("  The, QUICK brown!  "), col("text"))).as("norm_head"),
        TextOps.normalizedHash(col("text")).as("norm_hash"))
        .withColumn("norm_head", substring(col("norm_head"), 1, 24))
    },
    Some("""SELECT doc_id,
        substr(trim(regexp_replace(regexp_replace(
          lower('  The, QUICK brown!  ' || text),
          '[.,!?;:''"()\[\]{}]', '', 'g'), ' +', ' ', 'g')), 1, 24) AS norm_head,
        md5(trim(regexp_replace(regexp_replace(lower(text),
          '[.,!?;:''"()\[\]{}]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash
      FROM documents"""))

  /** Winnowing fingerprints (k=8 char grams, window 4). */
  private val q55 = Q(
    "q55_winnowing",
    (spark, dir) =>
      TextOps.winnowingFingerprint(pq(spark, dir, "documents"), "text", "doc_id",
        k = 8, w = 4)
        .select(col("doc_id"), md5(col("winnow_fp")).as("fp_md5")),
    Some("""WITH g AS (SELECT doc_id, list_transform(
          generate_series(1, GREATEST(len(text) - 7, 1)),
          i -> md5(substr(text, i, 8))) grams FROM documents),
      m AS (SELECT doc_id, list_transform(
          generate_series(1, GREATEST(len(grams) - 3, 1)),
          i -> list_min(grams[i:i+3])) mins FROM g)
      SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct(mins)), '|')) AS fp_md5
      FROM m"""))

  /** Per-source token-length percentiles. */
  private val q56 = Q(
    "q56_length_percentiles",
    (spark, dir) =>
      TextOps.lengthPercentiles(pq(spark, dir, "documents"), "text", "source")
        .withColumnRenamed("grp", "source"),
    Some("""WITH b AS (SELECT source, len(string_split(trim(text), ' '))::BIGINT n
        FROM documents)
      SELECT source, COUNT(*)::BIGINT AS n_docs,
        quantile_cont(n, 0.5) AS p50_tokens,
        quantile_cont(n, 0.9) AS p90_tokens,
        quantile_cont(n, 0.99) AS p99_tokens
      FROM b GROUP BY source"""))

  /** Gopher quality-rule booleans per document. */
  private val q57 = Q(
    "q57_gopher_rules",
    (spark, dir) =>
      TextOps.gopherRules(pq(spark, dir, "documents"), "text", Seq("doc_id")),
    Some(s"""WITH b AS (SELECT doc_id, text,
          list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') ws,
          len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> ''))::DOUBLE nw
        FROM documents),
      m AS (SELECT doc_id, nw,
          len(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / nw AS mean_len,
          len(list_filter(ws, w -> regexp_matches(w, '^[#\\.]+$$')))::DOUBLE / nw AS sym_r,
          len(list_filter(ws, w -> w LIKE '%...'))::DOUBLE / nw AS ell_r,
          len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE / nw AS alpha_r,
          len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w <> ''),
            w -> w IN (${TextOps.EnglishStopwords.map(w => s"'$w'").mkString(", ")})))
            AS n_stop
        FROM b)
      SELECT doc_id,
        (nw >= 50 AND nw <= 100000) AS ok_word_count,
        (mean_len >= 3.0 AND mean_len <= 10.0) AS ok_mean_word_len,
        (sym_r <= 0.1) AS ok_symbol_ratio,
        (ell_r <= 0.3) AS ok_ellipsis_ratio,
        (alpha_r >= 0.8) AS ok_alpha_words,
        (n_stop >= 2) AS ok_stopwords,
        (nw >= 50 AND nw <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0
          AND sym_r <= 0.1 AND ell_r <= 0.3 AND alpha_r >= 0.8 AND n_stop >= 2)
          AS keep
      FROM m"""))

  /** Training-mix manifest: token inventory per source, target allotment
    * under given weights, and the epochs factor a sampler must apply.
    */
  private val q58 = Q(
    "q58_source_mixing",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
        .withColumn("n_tokens", size(TextOps.tokens(col("text"))))
      Sampling.mixingManifest(
        docs, "source", "n_tokens",
        weights = Map("src0" -> 0.5, "src1" -> 0.3),
        defaultWeight = 0.05,
        unitBudget = 20000L)
    },
    Some("""WITH b AS (SELECT source, len(string_split(trim(text), ' '))::BIGINT n
        FROM documents),
      g AS (SELECT source, COUNT(*)::BIGINT n_docs, SUM(n)::BIGINT n_units FROM b GROUP BY 1),
      t AS (SELECT *, ROUND(n_units::DOUBLE / SUM(n_units) OVER (), 4) corpus_share,
        CASE WHEN source = 'src0' THEN 0.5 WHEN source = 'src1' THEN 0.3 ELSE 0.05 END weight
        FROM g)
      SELECT source, n_docs, n_units, corpus_share, weight,
        CAST(ROUND(20000.0 * weight) AS BIGINT) AS target_units,
        ROUND(CAST(ROUND(20000.0 * weight) AS BIGINT)::DOUBLE / n_units, 4) AS epochs,
        CASE WHEN ROUND(CAST(ROUND(20000.0 * weight) AS BIGINT)::DOUBLE / n_units, 4) > 1.0
          THEN 'upsample' ELSE 'downsample' END AS mode
      FROM t"""))

  /** Character-entropy noise signal (integer-micro-nat determinism). */
  private val q59 = Q(
    "q59_char_entropy",
    (spark, dir) =>
      TextOps.charEntropy(pq(spark, dir, "documents"), "text", Seq("doc_id")),
    Some("""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) ch
        FROM documents),
      g1 AS (SELECT doc_id, ch, COUNT(*) c FROM ch WHERE ch <> '' GROUP BY 1, 2),
      g2 AS (SELECT doc_id, SUM(c) n, COUNT(*) nd,
        SUM(CAST(ROUND(c * ln(c) * 1000000) AS BIGINT)) s FROM g1 GROUP BY 1),
      g3 AS (SELECT doc_id, n, nd,
        CAST(ROUND((ln(n) - s::DOUBLE / 1000000.0 / n) /
          0.6931471805599453 * 1000000) AS BIGINT) em FROM g2)
      SELECT d.doc_id, COALESCE(g3.n, 0)::BIGINT AS n_chars,
        COALESCE(g3.nd, 0)::BIGINT AS n_distinct,
        COALESCE((CASE WHEN em >= 0 THEN (2 * em + 100) // 200
          ELSE -((-2 * em + 100) // 200) END) / 10000.0, 0.0) AS entropy_bits
      FROM documents d LEFT JOIN g3 USING (doc_id)"""))

  /** End-to-end near-dup removal: q42's clusters applied — surviving
    * corpus rows with the count of duplicates each absorbed.
    */
  private val q60 = Q(
    "q60_dedup_apply",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      Cluster.dedupApply(
        docs.select("doc_id", "lang", "source", "n_chars"),
        "doc_id", pairs, "id_a", "id_b")
    },
    Some(s"""WITH RECURSIVE $jaccardPairCtes,
      sym AS (SELECT ia u, ib v FROM pairs UNION SELECT ib, ia FROM pairs),
      reach(u, v) AS (SELECT u, v FROM sym
        UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
      lbl AS (SELECT u, MIN(v) mv FROM reach GROUP BY u),
      asg AS (SELECT d.doc_id,
          LEAST(d.doc_id, COALESCE(l.mv, d.doc_id)) AS cluster
        FROM documents d LEFT JOIN lbl l ON l.u = d.doc_id),
      surv AS (SELECT cluster, COUNT(*) - 1 AS n_dropped FROM asg GROUP BY 1)
      SELECT d.doc_id, d.lang, d.source, d.n_chars, s.n_dropped::BIGINT AS n_dropped
      FROM documents d JOIN surv s ON d.doc_id = s.cluster"""))

  /** URL provenance decomposition + blocklist flag over deterministically
    * injected URLs (the corpus has no URL column; the injection exercises
    * mixed-case schemes, www prefixes, multi-label TLDs, ports, trailing
    * slashes, query strings, and fragments).
    */
  private val q61 = Q(
    "q61_url_parts",
    (spark, dir) => {
      val d = pq(spark, dir, "documents").select(
        col("doc_id"),
        concat(
          when(col("doc_id") % 9 === 0, lit("HTTP")).otherwise(lit("https")),
          lit("://"),
          when(col("doc_id") % 2 === 0, lit("www.")).otherwise(lit("")),
          col("source"),
          when(col("doc_id") % 4 === 0, lit(".co.uk")).otherwise(lit(".org")),
          when(col("doc_id") % 7 === 0, lit(":8080")).otherwise(lit("")),
          lit("/docs/"), col("doc_id"),
          when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("?q=x")).otherwise(lit("")),
          when(col("doc_id") % 6 === 0, lit("#top")).otherwise(lit(""))).as("url"))
      TextOps.urlParts(d, "url", Seq("doc_id"))
        .withColumn("blocked",
          TextOps.domainBlocked(col("domain"), Seq("src0.org", "src1.org")))
    },
    Some("""WITH p AS (SELECT doc_id,
        (CASE WHEN doc_id % 9 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
        (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) || source ||
        (CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.org' END) ||
        (CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END) ||
        '/docs/' || doc_id ||
        (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        (CASE WHEN doc_id % 5 = 0 THEN '?q=x' ELSE '' END) ||
        (CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END) AS url FROM documents),
      x AS (SELECT doc_id, url,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) scheme,
        lower(regexp_replace(
          regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
          ':[0-9]+$', '')) host,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) path
        FROM p)
      SELECT doc_id, scheme, host,
        regexp_extract(host, '([a-z0-9-]+\.[a-z0-9-]+)$', 1) AS domain,
        regexp_extract(host, '\.([a-z0-9-]+)$', 1) AS tld,
        path,
        scheme || '://' || host || regexp_replace(path, '/$', '') AS norm_url,
        regexp_extract(host, '([a-z0-9-]+\.[a-z0-9-]+)$', 1)
          IN ('src0.org', 'src1.org') AS blocked
      FROM x"""))

  /** KMV distinct-token sketch per source — md5-based, so the sketch
    * itself (not just the estimate) hash-matches cross-engine.
    */
  private val q62 = Q(
    "q62_distinct_sketch",
    (spark, dir) => {
      val toks = pq(spark, dir, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      Sketch.distinctSketch(toks, "source", col("tok"), 64)
        .withColumnRenamed("grp", "source")
    },
    Some("""WITH t AS (SELECT source, unnest(string_split(trim(text), ' ')) tok
        FROM documents),
      d AS (SELECT DISTINCT source, md5(tok) h FROM t),
      r AS (SELECT source, h,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) rn FROM d),
      g AS (SELECT source, COUNT(*) n_kept,
        MAX(CASE WHEN rn = 64 THEN h END) kth FROM r WHERE rn <= 64 GROUP BY 1)
      SELECT source, 64 AS k, n_kept::BIGINT AS n_kept, kth AS kth_hash,
        CAST(CASE WHEN kth IS NULL THEN n_kept
          ELSE ROUND(63.0 * 4294967296.0 / (('0x' || substr(kth, 1, 8))::UBIGINT + 1.0))
          END AS BIGINT) AS est_distinct
      FROM g"""))

  /** Gap-based sessionization of the event stream (30-min gap). */
  private val q63 = Q(
    "q63_sessionize",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val ev = raw.select(
        col("user_id"), EventTime.epochMillis(raw, "ts").as("ts_ms"), col("event_id"))
      Sessions.sessionize(ev, "user_id", "ts_ms", "event_id", gapMs = 30 * 60 * 1000L)
    },
    Some("""WITH e AS (SELECT user_id, epoch_ms(ts) tm, event_id FROM events),
      l AS (SELECT user_id, tm, event_id,
        CASE WHEN tm - LAG(tm) OVER w > 1800000 OR LAG(tm) OVER w IS NULL
          THEN 1 ELSE 0 END ns
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tm, event_id)),
      s AS (SELECT user_id, tm, SUM(ns) OVER (PARTITION BY user_id
        ORDER BY tm, event_id ROWS UNBOUNDED PRECEDING) session_idx FROM l)
      SELECT user_id, session_idx::BIGINT AS session_idx,
        COUNT(*)::BIGINT AS n_events, MIN(tm) AS start_ms, MAX(tm) AS end_ms,
        (MAX(tm) - MIN(tm)) AS duration_ms
      FROM s GROUP BY 1, 2"""))

  /** Per-source token-distribution KL divergence vs the whole corpus. */
  private val q64 = Q(
    "q64_token_kl",
    (spark, dir) =>
      TextOps.tokenKlDivergence(pq(spark, dir, "documents"), "text", "source", 200)
        .withColumnRenamed("grp", "source"),
    Some("""WITH t AS (SELECT source, unnest(string_split(trim(text), ' ')) tok
        FROM documents),
      cg AS (SELECT source, tok, COUNT(*) c FROM t GROUP BY 1, 2),
      ct AS (SELECT tok, SUM(c) c FROM cg GROUP BY 1),
      top AS (SELECT tok FROM ct ORDER BY c DESC, tok LIMIT 200),
      cgb AS (SELECT source,
          CASE WHEN top.tok IS NOT NULL THEN cg.tok ELSE '<other>' END b, SUM(c) c
        FROM cg LEFT JOIN top ON cg.tok = top.tok GROUP BY 1, 2),
      cb AS (SELECT b, SUM(c) cq FROM cgb GROUP BY 1),
      ng AS (SELECT source, SUM(c) n FROM cgb GROUP BY 1),
      nn AS (SELECT SUM(cq) nt FROM cb),
      s AS (SELECT cgb.source, SUM(CAST(ROUND(
            (cgb.c::DOUBLE / ng.n) *
            ln((cgb.c::DOUBLE / ng.n) / (cb.cq::DOUBLE / nn.nt)) * 1000000)
          AS BIGINT)) s
        FROM cgb JOIN cb USING (b) JOIN ng USING (source) CROSS JOIN nn GROUP BY 1)
      SELECT s.source, ng.n::BIGINT AS n_tokens,
        (CASE WHEN s >= 0 THEN (2*s + 100) // 200
          ELSE -((-2*s + 100) // 200) END) / 10000.0 AS kl_nats
      FROM s JOIN ng USING (source)"""))

  /** Cross-crawl corpus diff on simulated snapshots: ids %5==0 exist only
    * in the new crawl (added), %7==0 only in the old (removed), %3==0 get
    * a content edit (changed), the rest are unchanged.
    */
  private val q65 = Q(
    "q65_corpus_diff",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      val old = docs.filter(col("doc_id") % 5 =!= 0)
      val cur = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" zedit")))
            .otherwise(col("text")))
      Corpus.diff(old, cur, "doc_id", "text")
    },
    Some("""WITH old AS (SELECT doc_id,
        md5(trim(regexp_replace(regexp_replace(lower(text),
          '[.,!?;:''"()\[\]{}]', '', 'g'), ' +', ' ', 'g'))) h FROM documents
        WHERE doc_id % 5 <> 0),
      cur AS (SELECT doc_id,
        md5(trim(regexp_replace(regexp_replace(lower(
          CASE WHEN doc_id % 3 = 0 THEN text || ' zedit' ELSE text END),
          '[.,!?;:''"()\[\]{}]', '', 'g'), ' +', ' ', 'g'))) h FROM documents
        WHERE doc_id % 7 <> 0)
      SELECT COALESCE(old.doc_id, cur.doc_id) AS id,
        CASE WHEN old.doc_id IS NULL THEN 'added'
          WHEN cur.doc_id IS NULL THEN 'removed'
          WHEN old.h IS NOT DISTINCT FROM cur.h THEN 'unchanged'
          ELSE 'changed' END AS status
      FROM old FULL OUTER JOIN cur ON old.doc_id = cur.doc_id"""))

  /** Int8 embedding quantization with reconstruction-error audit. */
  private val q66 = Q(
    "q66_quantize_int8",
    (spark, dir) =>
      Similarity.quantizeInt8(pq(spark, dir, "embeddings"), "vec_id", "embedding")
        .withColumn("q_str", array_join(col("q"), ","))
        .drop("q"),
    Some("""WITH b AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      s AS (SELECT vec_id, v,
        list_max(list_transform(v, x -> abs(x))) / 127.0 scale FROM b),
      qq AS (SELECT vec_id, v, scale,
        CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
          ELSE list_transform(v, x -> CAST(ROUND(x / scale) AS INT)) END q
        FROM s),
      e AS (SELECT vec_id, scale, q,
        list_sum(list_transform(generate_series(1, len(v)), i ->
          CAST(ROUND((v[i] - q[i] * scale) * (v[i] - q[i] * scale) * 1e12)
            AS BIGINT))) ep,
        len(v) d FROM qq)
      SELECT vec_id, scale,
        ROUND(sqrt(ep::DOUBLE / 1e12 / d), 6) AS rmse,
        array_to_string(q, ',') AS q_str FROM e"""))

  /** Exact-substring decontamination: phrases lifted verbatim from the
    * first five documents, searched in the rest of the corpus.
    */
  private val q67 = Q(
    "q67_substring_contamination",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      val phrases = docs.filter(col("doc_id") < 5)
        .select(substring(col("text"), 11, 30).as("phrase"))
      // every 7th corpus doc quotes one benchmark doc verbatim (the word
      // soup has no natural 30-char overlaps, so the injection makes the
      // flag non-vacuous while both engines build identical inputs)
      val donors = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("__j"), substring(col("text"), 11, 30).as("__frag"))
      val corpus = docs.filter(col("doc_id") >= 5)
        .join(donors, col("doc_id") % 5 === col("__j"))
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" "), col("__frag")))
            .otherwise(col("text")).as("text"))
      Dedup.containsPhrase(corpus, "doc_id", "text", phrases, "phrase")
    },
    Some("""WITH p AS (SELECT DISTINCT substr(text, 11, 30) phrase FROM documents
        WHERE doc_id < 5 AND substr(text, 11, 30) IS NOT NULL
          AND substr(text, 11, 30) <> ''),
      c AS (SELECT d.doc_id,
          CASE WHEN d.doc_id % 7 = 0 THEN d.text || ' ' || substr(j.text, 11, 30)
            ELSE d.text END AS text
        FROM documents d JOIN documents j ON j.doc_id = d.doc_id % 5
        WHERE d.doc_id >= 5),
      h AS (SELECT c.doc_id id, p.phrase FROM c JOIN p ON contains(c.text, p.phrase))
      SELECT id, COUNT(*)::BIGINT AS n_hits, MIN(phrase) AS first_phrase
      FROM h GROUP BY 1"""))

  /** Session-derived features through the feature engine: sessionized
    * events become a timestamped source; over-windows compute per-user
    * trailing session statistics (composition of ops.Sessions with the
    * feature-store core).
    */
  private val q68 = Q(
    "q68_session_features",
    (spark, dir) => {
      val cl = new GraftClient(spark)
      val raw = pq(spark, dir, "events")
      val ev = raw.select(
        col("user_id"), EventTime.epochMillis(raw, "ts").as("ts_ms"), col("event_id"))
      val sess = Sessions.sessionize(ev, "user_id", "ts_ms", "event_id", 30 * 60 * 1000L)
      val src = DataFrameSource(
        "q68_sess", sess, keys = Some(Seq("user_id")),
        timestampField = Some("end_ms"), timestampFormat = "epoch_millis")
      cl.getFeatures(DerivedFeatureView(
        "q68", src,
        features = Seq(
          Feature.expr("dur_raw", "duration_ms"),
          Feature("avg_dur3_raw", OverWindowTransform(
            "duration_ms", AggFunc.Avg, None, Seq("user_id"), limit = Some(3))),
          Feature("sess_rank", OverWindowTransform(
            "duration_ms", AggFunc.Count, None, Seq("user_id")), dtype = Some(DInt64))),
        keepSourceFields = true))
        .select(
          col("user_id"), col("session_idx"), col("n_events"),
          col("start_ms"), col("end_ms"),
          round(col("avg_dur3_raw"), 4).as("avg_dur3"),
          col("sess_rank"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_ms(ts) tm, event_id FROM events),
      l AS (SELECT user_id, tm, event_id,
        CASE WHEN tm - LAG(tm) OVER w > 1800000 OR LAG(tm) OVER w IS NULL
          THEN 1 ELSE 0 END ns
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tm, event_id)),
      s AS (SELECT user_id, tm, SUM(ns) OVER (PARTITION BY user_id
        ORDER BY tm, event_id ROWS UNBOUNDED PRECEDING) session_idx FROM l),
      g AS (SELECT user_id, session_idx::BIGINT session_idx,
        COUNT(*)::BIGINT n_events, MIN(tm) start_ms, MAX(tm) end_ms,
        (MAX(tm) - MIN(tm)) duration_ms
        FROM s GROUP BY 1, 2)
      SELECT user_id, session_idx, n_events, start_ms, end_ms,
        ROUND(AVG(duration_ms) OVER (PARTITION BY user_id ORDER BY end_ms
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS avg_dur3,
        (COUNT(*) OVER (PARTITION BY user_id ORDER BY end_ms
          ROWS UNBOUNDED PRECEDING))::BIGINT AS sess_rank
      FROM g"""))

  /** Per-source percentile-band length filter (p05-p95 keep verdicts). */
  private val q69 = Q(
    "q69_length_outliers",
    (spark, dir) =>
      TextOps.lengthOutliers(pq(spark, dir, "documents"), "text", "doc_id",
        "source", 0.05, 0.95),
    Some("""WITH b AS (SELECT doc_id, source,
        len(string_split(trim(text), ' '))::BIGINT n_tokens FROM documents),
      q AS (SELECT source, quantile_cont(n_tokens, 0.05) lo_tokens,
        quantile_cont(n_tokens, 0.95) hi_tokens FROM b GROUP BY 1)
      SELECT doc_id, b.source, n_tokens, lo_tokens, hi_tokens,
        (n_tokens >= lo_tokens AND n_tokens <= hi_tokens) AS keep
      FROM b JOIN q USING (source)"""))

  /** Semi-structured event properties: JSON extraction at scan time plus a
    * per-type rollup with exact-integer mean rounding — metadata columns
    * at corpus scale are JSON strings, and the extraction must stay inside
    * codegen (get_json_object), not a UDF.
    */
  private val q70 = Q(
    "q70_json_props",
    (spark, dir) => {
      val ev = pq(spark, dir, "events")
        .select(
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
      ev.groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum("k").as("sum_k"),
          max("k").as("max_k"))
        // sign-split half-up: Spark's `div` truncates toward zero while
        // DuckDB's `//` floors, so the +n offset trick is only shared for
        // non-negative numerators — negate, round, re-negate for sums < 0
        // (the charEntropy/bigramLmScore recipe)
        .withColumn("avg_k",
          expr("""CASE WHEN sum_k >= 0
                  THEN (2 * sum_k * 10000 + n) div (2 * n)
                  ELSE -((-2 * sum_k * 10000 + n) div (2 * n)) END""") / 1e4)
        .drop("sum_k")
    },
    Some("""WITH g AS (SELECT event_type, COUNT(*)::BIGINT AS n,
        SUM(json_extract(props, '$.k')::BIGINT) AS sum_k,
        MAX(json_extract(props, '$.k')::BIGINT) AS max_k
      FROM events GROUP BY 1)
      SELECT event_type, n, max_k,
        (CASE WHEN sum_k >= 0
          THEN (2 * sum_k * 10000 + n) // (2 * n)
          ELSE -((-2 * sum_k * 10000 + n) // (2 * n)) END) / 10000.0 AS avg_k
      FROM g"""))

  /** Incremental near-dup: the "new crawl" (doc_id >= 400) deduped against
    * the existing corpus (doc_id < 400) plus itself — old↔old pairs never
    * generated.
    */
  private val q71 = Q(
    "q71_incremental_lsh",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      Dedup.minhashLshPairsIncremental(
        docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") >= 400),
        "doc_id", "text")
    },
    Some {
      val mins = (0 until 16)
        .map(i => s"MIN(substr(h, ${i + 1}, 15)) m$i")
        .mkString(", ")
      val bands = (0 until 4).map { b =>
        val cols = (0 until 4).map(r => s"m${b * 4 + r}").mkString(", ")
        s"SELECT doc_id, $b band, md5(concat_ws('|', $cols)) bucket FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS s
        FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) g FROM toks)),
      hh AS (SELECT doc_id, md5(s) h FROM sh),
      sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id),
      bands AS ($bands),
      onb AS (SELECT a.doc_id id_a, b.doc_id id_b FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
        WHERE a.doc_id < 400 AND b.doc_id >= 400),
      nnb AS (SELECT a.doc_id id_a, b.doc_id id_b FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
          AND a.doc_id < b.doc_id
        WHERE a.doc_id >= 400 AND b.doc_id >= 400)
      SELECT DISTINCT id_a, id_b FROM (SELECT * FROM onb UNION ALL SELECT * FROM nnb)"""
    })

  /** Rotated-table multi-pass SimHash at the guaranteed-recall setting
    * (maxHamming 3 < 64/16 tables): union of the four per-block equi-joins
    * — the oracle states it as an OR over block equalities, an entirely
    * different formulation that must agree pair-for-pair.
    */
  private val q72 = Q(
    "q72_simhash_multipass",
    (spark, dir) => {
      val sim = Dedup.simhash(pq(spark, dir, "documents"), "doc_id", "text")
      Dedup.simhashPairsMultiPass(sim, prefixBits = 16, maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("int"))
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) tok FROM documents),
      h AS (SELECT doc_id, md5(tok) h FROM toks),
      bits AS (SELECT doc_id, g,
        CASE WHEN ((instr('0123456789abcdef', substr(h, g//4 + 1, 1)) - 1)
          // CAST(POWER(2, g%4) AS INT)) % 2 = 1 THEN 1 ELSE -1 END w
        FROM (SELECT doc_id, h, unnest(generate_series(0, 63)) g FROM h)),
      s AS (SELECT doc_id, g, SUM(w) sw FROM bits GROUP BY 1, 2),
      sim AS (SELECT doc_id, string_agg(CASE WHEN sw > 0 THEN '1' ELSE '0' END, '' ORDER BY g) AS simhash
        FROM s GROUP BY doc_id),
      p AS (SELECT a.doc_id ia, a.simhash sa, b.doc_id ib, b.simhash sb FROM sim a
        JOIN sim b ON a.doc_id < b.doc_id
          AND (substr(a.simhash, 1, 16) = substr(b.simhash, 1, 16)
            OR substr(a.simhash, 17, 16) = substr(b.simhash, 17, 16)
            OR substr(a.simhash, 33, 16) = substr(b.simhash, 33, 16)
            OR substr(a.simhash, 49, 16) = substr(b.simhash, 49, 16)))
      SELECT ia AS id_a, ib AS id_b,
        len(list_filter(generate_series(1, 64), g -> substr(sa, g::INT, 1) <> substr(sb, g::INT, 1)))::INT AS hamming
      FROM p
      WHERE len(list_filter(generate_series(1, 64), g -> substr(sa, g::INT, 1) <> substr(sb, g::INT, 1))) <= 3"""))

  /** Near-dup removal keeping the BEST cluster member (longest doc) rather
    * than the smallest id — the keep-the-highest-quality rule; oracle
    * re-derives the clusters with the recursive CTE and ranks inside SQL.
    */
  private val q73 = Q(
    "q73_dedup_keep_best",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      Cluster.dedupApplyByScore(
        docs.select("doc_id", "lang", "source", "n_chars"),
        "doc_id", "n_chars", pairs, "id_a", "id_b")
    },
    Some(s"""WITH RECURSIVE $jaccardPairCtes,
      sym AS (SELECT ia u, ib v FROM pairs UNION SELECT ib, ia FROM pairs),
      reach(u, v) AS (SELECT u, v FROM sym
        UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
      lbl AS (SELECT u, MIN(v) mv FROM reach GROUP BY u),
      asg AS (SELECT d.doc_id, d.n_chars,
          LEAST(d.doc_id, COALESCE(l.mv, d.doc_id)) AS cluster
        FROM documents d LEFT JOIN lbl l ON l.u = d.doc_id),
      rk AS (SELECT doc_id, cluster,
          ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) rn,
          COUNT(*) OVER (PARTITION BY cluster) - 1 AS n_dropped
        FROM asg)
      SELECT d.doc_id, d.lang, d.source, d.n_chars, r.n_dropped::BIGINT AS n_dropped
      FROM documents d JOIN rk r ON d.doc_id = r.doc_id AND r.rn = 1"""))

  /** CCNet-style quality bucketing (Wenzek et al. 2020): per-language
    * head/middle/tail from discrete quantile thresholds of a deterministic
    * md5 sample — the oracle replays the sample predicate and indexes the
    * sorted sample list with the same max(ceil(p·n), 1) rule. Probabilities
    * 0.25/0.75 are binary-exact, so ceil can never straddle an engine.
    */
  private val q74 = Q(
    "q74_score_buckets",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      val thr = Sampling.quantileThresholds(
        docs, "lang", "n_chars", "doc_id",
        probs = Seq(0.25, 0.75), sampleFraction = 0.5, salt = "ccnet")
      Sampling.scoreBuckets(docs, thr, "lang", "n_chars",
          Seq("head", "middle", "tail"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("bucket"))
    },
    Some("""WITH s AS (SELECT lang, n_chars FROM documents
        WHERE substr(md5('ccnet|' || doc_id), 1, 2) < '80'),
      t AS (SELECT lang, list_sort(list(n_chars)) xs, COUNT(*) n FROM s GROUP BY 1),
      thr AS (SELECT lang,
          xs[greatest(ceil(0.25 * n), 1)::INT] t0,
          xs[greatest(ceil(0.75 * n), 1)::INT] t1 FROM t)
      SELECT d.doc_id, d.lang, d.n_chars,
        CASE WHEN d.n_chars <= t.t0 THEN 'head'
             WHEN d.n_chars <= t.t1 THEN 'middle'
             ELSE 'tail' END AS bucket
      FROM documents d JOIN thr t ON d.lang = t.lang"""))

  /** Temperature-scaled source mixing (alpha = 0.5, the multilingual-LM
    * flattening): per-language quotas from sqrt-scaled shares in exact
    * integer micros, rows kept by the md5 rank rule — quota arithmetic and
    * membership both bit-reproducible in SQL.
    */
  private val q75 = Q(
    "q75_temperature_mix",
    (spark, dir) =>
      Sampling.temperatureSample(
          pq(spark, dir, "documents"), "lang", "doc_id",
          alpha = 0.5, budget = 300L)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
    Some("""WITH g AS (SELECT lang, COUNT(*) n FROM documents GROUP BY 1),
      w AS (SELECT lang, n, round(sqrt(n::DOUBLE) * 1e6)::BIGINT wm FROM g),
      q AS (SELECT lang, n,
          least(n, round(300.0 * (wm::DOUBLE / (SELECT SUM(wm)::DOUBLE FROM w)))::BIGINT) quota
        FROM w),
      r AS (SELECT doc_id, lang, source, n_chars, ROW_NUMBER() OVER
          (PARTITION BY lang ORDER BY md5('|' || lang || '#' || doc_id), doc_id) rk
        FROM documents)
      SELECT r.doc_id, r.lang, r.source, r.n_chars
      FROM r JOIN q ON r.lang = q.lang WHERE r.rk <= q.quota"""))

  /** Deterministic train/val/test assignment: md5 bucket of the key
    * against cumulative 4-hex-digit boundaries (0.9/0.05/0.05 →
    * e666/f333) — map-only, leak-proof under re-runs.
    */
  private val q76 = Q(
    "q76_split_assign",
    (spark, dir) =>
      Sampling.splitAssign(
          pq(spark, dir, "documents"), "doc_id",
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = "split")
        .select(col("doc_id"), col("lang"), col("split")),
    Some("""SELECT doc_id, lang,
      CASE WHEN substr(md5('split|' || doc_id), 1, 4) < 'e666' THEN 'train'
           WHEN substr(md5('split|' || doc_id), 1, 4) < 'f333' THEN 'val'
           ELSE 'test' END AS split
      FROM documents"""))

  /** DSIR data selection (Xie et al. 2023): hashed unigram+bigram
    * importance weights of the corpus against a trusted target domain
    * (source src0), deterministic top-k. The oracle rebuilds both
    * bag-of-ngram models and the integer-micro log-ratio table in SQL.
    */
  private val q77 = Q(
    "q77_dsir_select",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      Sampling.dsirSelect(
          docs, "doc_id", "text",
          docs.filter(col("source") === "src0"), "text",
          k = 200)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_grams"), col("w_micro"))
    },
    Some("""WITH ct AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      cg AS (SELECT doc_id, unnest(ws) g FROM ct
        UNION ALL
        SELECT doc_id, ws[i] || ' ' || ws[i+1] FROM
          (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) i FROM ct WHERE len(ws) >= 2)),
      cb AS (SELECT doc_id, substr(md5(g), 1, 3) b FROM cg),
      tt AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents WHERE source = 'src0'),
      tg AS (SELECT unnest(ws) g FROM tt
        UNION ALL
        SELECT ws[i] || ' ' || ws[i+1] FROM
          (SELECT ws, unnest(generate_series(1, len(ws) - 1)) i FROM tt WHERE len(ws) >= 2)),
      tbk AS (SELECT substr(md5(g), 1, 3) b FROM tg),
      qc AS (SELECT b, COUNT(*) cq FROM cb GROUP BY 1),
      pc AS (SELECT b, COUNT(*) cp FROM tbk GROUP BY 1),
      lr AS (SELECT COALESCE(qc.b, pc.b) b,
          round(ln((COALESCE(cp, 0) + 1)::DOUBLE / ((SELECT COUNT(*) FROM tbk) + 4096)) * 1e6)::BIGINT
          - round(ln((COALESCE(cq, 0) + 1)::DOUBLE / ((SELECT COUNT(*) FROM cb) + 4096)) * 1e6)::BIGINT AS lr_micro
        FROM qc FULL JOIN pc ON qc.b = pc.b),
      w AS (SELECT doc_id, COUNT(*)::BIGINT n_grams, SUM(lr_micro)::BIGINT w_micro
        FROM cb JOIN lr USING (b) GROUP BY 1)
      SELECT d.doc_id, d.lang, d.source, w.n_grams, w.w_micro
      FROM documents d JOIN w ON d.doc_id = w.doc_id
      ORDER BY w.w_micro DESC, d.doc_id LIMIT 200"""))

  /** SemDeDup (Abbas et al. 2023): k-means clusters (q50's unrolled
    * integer-micro round) restrict the cosine pair space, connected
    * components resolve semantic-dup groups, one survivor each. The
    * oracle replays k-means, the within-cluster cosine join, and the
    * recursive-CTE closure — three independent algorithm replications
    * agreeing exactly.
    */
  private val q78 = Q(
    "q78_semdedup",
    (spark, dir) =>
      Cluster.semDedup(
        pq(spark, dir, "embeddings"), "vec_id", "embedding",
        k = 4, iters = 1, eps = 0.45),
    Some("""WITH RECURSIVE xm AS (SELECT vec_id, g - 1 AS pos,
          CAST(ROUND((embedding[g]::DOUBLE + 4.0) * 1000000) AS BIGINT) v
        FROM (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) g
          FROM embeddings)),
      seed AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 cl
        FROM embeddings QUALIFY cl < 4),
      cent0 AS (SELECT s.cl, x.pos, x.v FROM seed s JOIN xm x USING (vec_id)),
      d1 AS (SELECT x.vec_id, c.cl, SUM((x.v - c.v) * (x.v - c.v)) dist
        FROM xm x JOIN cent0 c USING (pos) GROUP BY 1, 2),
      a1 AS (SELECT vec_id, cl FROM (SELECT vec_id, cl,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) rn FROM d1)
        WHERE rn = 1),
      cm AS (SELECT a.cl, x.pos, (2 * SUM(x.v) + COUNT(*)) // (2 * COUNT(*)) v
        FROM a1 a JOIN xm x USING (vec_id) GROUP BY 1, 2),
      cent1 AS (SELECT * FROM cm UNION ALL
        SELECT c0.cl, c0.pos, c0.v FROM cent0 c0
        WHERE c0.cl NOT IN (SELECT DISTINCT cl FROM cm)),
      d2 AS (SELECT x.vec_id, c.cl, SUM((x.v - c.v) * (x.v - c.v)) dist
        FROM xm x JOIN cent1 c USING (pos) GROUP BY 1, 2),
      asg AS (SELECT vec_id, cl FROM (SELECT vec_id, cl,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) rn FROM d2)
        WHERE rn = 1),
      e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      p AS (SELECT a.vec_id ia, b.vec_id ib
        FROM asg a JOIN asg b ON a.cl = b.cl AND a.vec_id < b.vec_id
        JOIN e x ON x.vec_id = a.vec_id JOIN e y ON y.vec_id = b.vec_id
        WHERE ROUND(list_dot_product(x.v, y.v) /
          (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.45),
      sym AS (SELECT ia u, ib v FROM p UNION SELECT ib, ia FROM p),
      reach(u, v) AS (SELECT u, v FROM sym
        UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
      lbl AS (SELECT u, MIN(v) mv FROM reach GROUP BY u),
      a2 AS (SELECT g.vec_id, g.cl, LEAST(g.vec_id, COALESCE(l.mv, g.vec_id)) c2
        FROM asg g LEFT JOIN lbl l ON l.u = g.vec_id),
      surv AS (SELECT c2, MIN(vec_id) vec_id, COUNT(*) - 1 n_dropped FROM a2 GROUP BY 1)
      SELECT a.vec_id, a.cl::INT AS cluster, s.n_dropped::BIGINT AS n_dropped
      FROM surv s JOIN a2 a ON a.vec_id = s.vec_id"""))

  /** Embedding-space decontamination: corpus vectors within cosine 0.3 of
    * a held-out pseudo-benchmark slice (vec_id % 101 = 0) — the
    * paraphrase-robust complement of q40/q67's n-gram checks.
    */
  private val q79 = Q(
    "q79_semantic_decontaminate",
    (spark, dir) => {
      val emb = pq(spark, dir, "embeddings")
      Similarity.semanticContaminatedBy(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") % 101 === 0), "vec_id", "embedding",
        threshold = 0.3, excludeSameId = true) // bench is a corpus slice
    },
    Some("""WITH b AS (SELECT vec_id bench_id, embedding::DOUBLE[] bv FROM embeddings WHERE vec_id % 101 = 0),
      c AS (SELECT vec_id id, embedding::DOUBLE[] cv FROM embeddings),
      s AS (SELECT id, bench_id, ROUND(list_dot_product(cv, bv) /
          (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(bv, bv))), 6) score
        FROM c, b WHERE id <> bench_id),
      f AS (SELECT * FROM s WHERE score >= 0.3),
      r AS (SELECT id, score, bench_id,
          ROW_NUMBER() OVER (PARTITION BY id ORDER BY score DESC, bench_id DESC) rn,
          COUNT(*) OVER (PARTITION BY id) n_hits FROM f)
      SELECT id, score AS best_cosine, bench_id AS best_bench_id, n_hits
      FROM r WHERE rn = 1"""))

  /** Fixed-token-window chunking with overlap — the RAG/embedding prep
    * unit. 40-token chunks, 8-token overlap (stride 32): every token
    * covered, consecutive chunks share 8 tokens, map-only.
    */
  private val q80 = Q(
    "q80_chunk_docs",
    (spark, dir) =>
      TextOps.chunkDocuments(pq(spark, dir, "documents"), "doc_id", "text",
        chunkTokens = 40, overlapTokens = 8),
    Some("""WITH t AS (SELECT doc_id AS id,
        string_split(trim(coalesce(text, '')), ' ') AS toks FROM documents),
      c AS (SELECT id, toks, len(toks) AS n,
        CASE WHEN len(toks) <= 40 THEN 1
             ELSE CAST(ceil((len(toks) - 8) / 32.0) AS BIGINT) END AS nc FROM t),
      e AS (SELECT id, toks, n, unnest(generate_series(0, nc - 1)) AS i FROM c)
      SELECT id, i AS chunk_idx,
        array_to_string(toks[i*32 + 1 : i*32 + 40], ' ') AS chunk_text,
        LEAST(40, n - i*32)::BIGINT AS n_tokens
      FROM e"""))

  /** Encoding-quality / mojibake signals — decode-failure replacement
    * chars, C0 control chars, UTF-8-as-Latin-1 lead sequences, ascii
    * ratio. Map-only codegen regex counts.
    */
  private val q81 = Q(
    "q81_encoding_quality",
    (spark, dir) =>
      TextOps.encodingQuality(pq(spark, dir, "documents"), Seq("doc_id"), "text"),
    Some("""SELECT doc_id,
        len(regexp_extract_all(coalesce(text,''), '\x{FFFD}'))::BIGINT AS n_replacement,
        len(regexp_extract_all(coalesce(text,''), '[\x00-\x08\x0B\x0C\x0E-\x1F]'))::BIGINT AS n_control,
        len(regexp_extract_all(coalesce(text,''), '[\x{C3}\x{C2}\x{E2}][\x{80}-\x{BF}]'))::BIGINT AS n_mojibake,
        CASE WHEN length(coalesce(text,'')) = 0 THEN 1.0
             ELSE round(len(regexp_extract_all(coalesce(text,''), '[\x00-\x7F]')) /
               CAST(length(coalesce(text,'')) AS DOUBLE), 4) END AS ascii_ratio
      FROM documents"""))

  /** Product-quantization two-stage ANN top-5: corpus encoded to 4
    * sub-codes of 16 centroids each (64× smaller than the raw floats),
    * queries ADC-score the codes via broadcast integer LUTs, then only
    * the per-query top-20 shortlist fetches raw vectors for an exact
    * squared-L2 rerank — the corpus never shuffles in either stage.
    * Oracle replays the encode argmin, LUT sum, and rerank with DuckDB
    * list ops; distances are micro-quantized BIGINTs, so the compare is
    * fp-order-proof.
    */
  private val q82 = Q(
    "q82_pq_ann",
    (spark, dir) => {
      val emb = pq(spark, dir, "embeddings")
      Similarity.pqTopK(
        emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, m = 4, codes = 16, rerank = 20)
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      js AS (SELECT unnest(generate_series(0, 3)) AS j),
      sub AS (SELECT vec_id, j, v[j*16 + 1 : (j+1)*16] AS sv FROM e CROSS JOIN js),
      cent AS (SELECT vec_id + 1 AS c, j, sv AS cv FROM sub WHERE vec_id < 16),
      dists AS (SELECT s.vec_id, s.j, cent.c,
          list_dot_product(s.sv, s.sv) - 2*list_dot_product(s.sv, cent.cv)
            + list_dot_product(cent.cv, cent.cv) AS d2
        FROM sub s JOIN cent ON s.j = cent.j),
      enc AS (SELECT vec_id AS nbr_id, j, c AS code
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2 ASC, c ASC) rn FROM dists)
        WHERE rn = 1),
      lut AS (SELECT vec_id AS query_id, j, c, CAST(round(d2 * 1e6) AS BIGINT) AS md
        FROM dists WHERE vec_id < 10),
      score AS (SELECT l.query_id, enc.nbr_id, SUM(l.md)::BIGINT AS adc
        FROM enc JOIN lut l ON enc.j = l.j AND enc.code = l.c
        WHERE enc.nbr_id <> l.query_id GROUP BY 1, 2),
      cand AS (SELECT query_id, nbr_id FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, nbr_id ASC) rnk
          FROM score) WHERE rnk <= 20),
      rr AS (SELECT c.query_id, c.nbr_id,
          CAST(round((list_dot_product(n.v, n.v) - 2*list_dot_product(n.v, q.v)
            + list_dot_product(q.v, q.v)) * 1e6) AS BIGINT) AS dist
        FROM cand c JOIN e n ON n.vec_id = c.nbr_id JOIN e q ON q.vec_id = c.query_id),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist ASC, nbr_id ASC) AS rnk FROM rr)
      SELECT query_id, rnk::INT AS rank, nbr_id, dist FROM r WHERE rnk <= 5"""))

  /** PageRank SQL replay: unrolled power iterations over the
    * user→item interaction graph, in the same exact integer micro-unit
    * arithmetic as [[graft.ops.Graph.pageRank]] (floor division at every
    * step, all values non-negative, so DuckDB `//` and Spark `div`
    * agree bit-for-bit).
    */
  private def pageRankOracleSql(iters: Int): String = {
    val head = """WITH ed AS (SELECT DISTINCT user_id AS src,
        100000000 + json_extract(props, '$.k')::BIGINT AS dst FROM events
        WHERE user_id IS NOT NULL AND json_extract(props, '$.k') IS NOT NULL),
      nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
      dg AS (SELECT src, COUNT(*)::BIGINT AS outdeg FROM ed GROUP BY 1),
      c AS (SELECT COUNT(*)::BIGINT AS n FROM nodes),
      r0 AS (SELECT node, (1000000000000 // c.n) AS r FROM nodes CROSS JOIN c)"""
    val iterCtes = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s""", r$i AS (SELECT n0.node,
        ((1000000000000 // c.n) * 15) // 100
          + (COALESCE(f.s, 0) * 85) // 100
          + ((d.dm // c.n) * 85) // 100 AS r
        FROM nodes n0 CROSS JOIN c
        CROSS JOIN (SELECT COALESCE(SUM(p.r), 0) AS dm FROM $p p
          WHERE NOT EXISTS (SELECT 1 FROM dg WHERE dg.src = p.node)) d
        LEFT JOIN (SELECT ed.dst AS node, SUM(p.r // dg.outdeg) AS s
          FROM ed JOIN $p p ON ed.src = p.node JOIN dg ON dg.src = ed.src
          GROUP BY 1) f ON f.node = n0.node)"""
    }.mkString
    head + iterCtes + s" SELECT node, r::BIGINT AS rank_micro FROM r$iters"
  }

  /** Link-analysis centrality over the user→item interaction graph
    * (items offset into their own id space): 5 exact-integer PageRank
    * iterations — the web-graph authority prior a crawl-curation
    * pipeline attaches to hosts/pages. One shuffle per iteration;
    * dangling mass (items have no out-edges here) redistributes
    * uniformly.
    */
  private val q83 = Q(
    "q83_pagerank",
    (spark, dir) => {
      val ev = pq(spark, dir, "events").select(
        col("user_id"),
        (get_json_object(col("props"), "$.k").cast("long") + 100000000L).as("item"))
      Graph.pageRank(ev, "user_id", "item", iters = 5)
    },
    Some(pageRankOracleSql(5)))

  /** GPT-style sequence packing of the documents table: whitespace token
    * counts, concatenate in doc_id order, split every 512 tokens; emit the
    * (sequence, doc piece) assembly plan. The oracle replays the prefix
    * sum with a single global window (fine at oracle scale; the operator
    * itself uses the bucketed two-level prefix sum — see
    * [[graft.ops.Corpus.packPieces]]).
    */
  private val q84 = Q(
    "q84_pack_pieces",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      Corpus.packPieces(docs, "doc_id", "n_tok", seqLen = 512L)
    },
    Some("""WITH t AS (
        SELECT doc_id, len(string_split(trim(text), ' '))::BIGINT AS n
        FROM documents WHERE doc_id IS NOT NULL),
      c AS (SELECT doc_id, n,
        SUM(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t WHERE n > 0),
      s AS (SELECT doc_id, n, cum - n AS st, cum AS en FROM c),
      e AS (SELECT doc_id, st, en,
        unnest(generate_series((st // 512)::BIGINT, ((en - 1) // 512)::BIGINT)) AS seq_id FROM s)
      SELECT seq_id, doc_id,
        (GREATEST(st, seq_id * 512) - seq_id * 512)::BIGINT AS start_in_seq,
        (GREATEST(st, seq_id * 512) - st)::BIGINT AS start_in_doc,
        (LEAST(en, seq_id * 512 + 512) - GREATEST(st, seq_id * 512))::BIGINT AS piece_len
      FROM e"""))

  /** BM25 ranked retrieval against a 4-term query over the documents
    * table — integer micro-unit replay of the Okapi formula (idf floored
    * to micros per term, then exact integer arithmetic throughout; see
    * [[graft.ops.TextOps.bm25Scores]]).
    */
  private val q85 = Q(
    "q85_bm25",
    (spark, dir) =>
      TextOps.bm25Scores(pq(spark, dir, "documents"), "text", "doc_id",
        Seq("spark", "join", "stream", "window")),
    Some("""WITH toks AS (SELECT doc_id AS d,
        unnest(string_split(lower(trim(text)), ' ')) AS tok FROM documents),
      dl AS (SELECT d, COUNT(*)::BIGINT AS dl FROM toks GROUP BY 1),
      c AS (SELECT COUNT(*)::BIGINT AS n, SUM(dl)::BIGINT AS tot FROM dl),
      tf AS (SELECT d, tok, COUNT(*)::BIGINT AS tf FROM toks
        WHERE tok IN ('spark','join','stream','window') GROUP BY 1, 2),
      idf AS (SELECT tok,
        FLOOR(LN(1 + (c.n - df + 0.5) / (df + 0.5)) * 1000000)::BIGINT AS idf6
        FROM (SELECT tok, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1) CROSS JOIN c),
      s AS (SELECT tf.d, tf.tf, idf.idf6, dl.dl,
          (250000 + (750000 * dl.dl * 100) // ((c.tot * 100) // c.n))::BIGINT AS norm6
        FROM tf JOIN idf USING (tok) JOIN dl USING (d) CROSS JOIN c),
      p AS (SELECT d,
          ((tf * 2200000 * 1000000 // (tf * 1000000 + (1200000 * norm6) // 1000000))
            * idf6 // 1000000)::BIGINT AS contrib6
        FROM s)
      SELECT d AS doc_id, COUNT(*)::BIGINT AS n_terms_hit,
        SUM(contrib6)::BIGINT AS score_micro
      FROM p GROUP BY 1"""))

  /** TrustRank SQL replay: same unrolled exact-integer recurrence as
    * [[pageRankOracleSql]], but reset mass and dangling redistribution
    * concentrate on the seed set (`node % 50 = 0`).
    */
  private def trustRankOracleSql(iters: Int): String = {
    val head = """WITH ed AS (SELECT DISTINCT user_id AS src,
        100000000 + json_extract(props, '$.k')::BIGINT AS dst FROM events
        WHERE user_id IS NOT NULL AND json_extract(props, '$.k') IS NOT NULL),
      nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
      dg AS (SELECT src, COUNT(*)::BIGINT AS outdeg FROM ed GROUP BY 1),
      c AS (SELECT COUNT(*)::BIGINT AS ns FROM nodes WHERE node % 50 = 0),
      r0 AS (SELECT node, CASE WHEN node % 50 = 0
        THEN (1000000000000 // c.ns) ELSE 0 END AS r FROM nodes CROSS JOIN c)"""
    val iterCtes = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s""", r$i AS (SELECT n0.node,
        CASE WHEN n0.node % 50 = 0 THEN ((1000000000000 // c.ns) * 15) // 100 ELSE 0 END
          + (COALESCE(f.s, 0) * 85) // 100
          + CASE WHEN n0.node % 50 = 0 THEN ((d.dm // c.ns) * 85) // 100 ELSE 0 END AS r
        FROM nodes n0 CROSS JOIN c
        CROSS JOIN (SELECT COALESCE(SUM(p.r), 0) AS dm FROM $p p
          WHERE NOT EXISTS (SELECT 1 FROM dg WHERE dg.src = p.node)) d
        LEFT JOIN (SELECT ed.dst AS node, SUM(p.r // dg.outdeg) AS s
          FROM ed JOIN $p p ON ed.src = p.node JOIN dg ON dg.src = ed.src
          GROUP BY 1) f ON f.node = n0.node)"""
    }.mkString
    head + iterCtes + s" SELECT node, r::BIGINT AS rank_micro FROM r$iters"
  }

  /** TrustRank / personalized PageRank from a seed set (every 50th node):
    * authority propagates outward from trusted seeds only — the classic
    * spam-demotion / seed-expansion prior for crawl curation. Same
    * scale shape as q83.
    */
  private val q86 = Q(
    "q86_trustrank",
    (spark, dir) => {
      val ev = pq(spark, dir, "events").select(
        col("user_id"),
        (get_json_object(col("props"), "$.k").cast("long") + 100000000L).as("item"))
      val seeds = ev.select(col("user_id").as("n"))
        .union(ev.select(col("item").as("n")))
        .filter(col("n") % 50 === 0)
      Graph.personalizedPageRank(ev, "user_id", "item", seeds, "n", iters = 5)
    },
    Some(trustRankOracleSql(5)))

  /** Item-item co-occurrence over the user→item interaction graph:
    * distinct-user pair counts with the hyperactive-source cap, exact
    * integer Jaccard. The related-items / co-click projection.
    */
  private val q87 = Q(
    "q87_cooccurrence",
    (spark, dir) => {
      val ev = pq(spark, dir, "events").select(
        col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      Graph.cooccurrence(ev, "user_id", "item", maxPerSrc = 50, minCommon = 3L)
    },
    Some("""WITH ed AS (SELECT DISTINCT user_id AS src,
        json_extract(props, '$.k')::BIGINT AS dst FROM events
        WHERE user_id IS NOT NULL AND json_extract(props, '$.k') IS NOT NULL),
      kept AS (SELECT src, dst FROM (
        SELECT src, dst, COUNT(*) OVER (PARTITION BY src) AS k FROM ed)
        WHERE k <= 50),
      ic AS (SELECT dst AS item, COUNT(*)::BIGINT AS n FROM kept GROUP BY 1),
      p AS (SELECT a.dst AS item_a, b.dst AS item_b, COUNT(*)::BIGINT AS n_common
        FROM kept a JOIN kept b ON a.src = b.src AND a.dst < b.dst
        GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      SELECT p.item_b, p.item_a, p.n_common, ia.n AS n_a, ib.n AS n_b,
        (p.n_common * 1000000 // (ia.n + ib.n - p.n_common))::BIGINT AS jaccard_micro
      FROM p JOIN ic ia ON ia.item = p.item_a JOIN ic ib ON ib.item = p.item_b"""))

  /** Johnson–Lindenstrauss sign projection of the embedding corpus to 8
    * components, dumped one row per (vector, component) for exact replay:
    * the dimensionality-reduction front end for clustering / near-dup /
    * ANN at scale. Pure map — oracle replays the ±1 md5 weight family and
    * the sequential fold.
    */
  private val q88 = Q(
    "q88_jl_project",
    (spark, dir) => {
      val emb = pq(spark, dir, "embeddings")
      Similarity.jlProject(emb, "embedding", outDim = 8)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "comp")))
    },
    Some {
      val comp = "ROUND(list_reduce(list_transform(generate_series(1, len(v)), i -> " +
        "CASE WHEN (instr('0123456789abcdef', substr(md5('jl' || j::VARCHAR || '-' || (i-1)::VARCHAR), 1, 1)) - 1) % 2 = 0 " +
        "THEN v[i] ELSE -v[i] END), (a,b) -> a+b) / sqrt(8.0), 6)"
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        js AS (SELECT unnest(generate_series(0, 7)) j)
      SELECT vec_id, j::INT AS j, $comp AS comp FROM e CROSS JOIN js"""
    })

  /** Leakage-safe split: near-dup clusters (q42's pair+CC machinery)
    * hashed as a UNIT into train/val/test, so a duplicate family never
    * straddles the eval boundary. Oracle replays CC then buckets the
    * cluster label with q76's md5 recipe.
    */
  private val q89 = Q(
    "q89_leakage_safe_split",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      Sampling.leakageSafeSplit(docs, "doc_id", pairs, "id_a", "id_b",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = "split")
    },
    Some(s"""WITH RECURSIVE $jaccardPairCtes,
      sym AS (SELECT ia u, ib v FROM pairs UNION SELECT ib, ia FROM pairs),
      reach(u, v) AS (SELECT u, v FROM sym
        UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
      lbl AS (SELECT u, MIN(v) mv FROM reach GROUP BY u),
      asg AS (SELECT d.doc_id, LEAST(d.doc_id, COALESCE(l.mv, d.doc_id)) AS cluster
        FROM documents d LEFT JOIN lbl l ON l.u = d.doc_id)
      SELECT doc_id, cluster,
        CASE WHEN substr(md5('split|' || cluster), 1, 4) < 'e666' THEN 'train'
             WHEN substr(md5('split|' || cluster), 1, 4) < 'f333' THEN 'val'
             ELSE 'test' END AS split
      FROM asg"""))

  /** Per-domain empirical-Bayes prior over document length: small sources
    * shrink toward the corpus mean with m=500 pseudo-observations. Exact
    * integer micros; the oracle replays both floor divisions.
    */
  private val q90 = Q(
    "q90_domain_prior",
    (spark, dir) =>
      Corpus.domainPrior(
        pq(spark, dir, "documents")
          .select(col("source"), length(col("text")).as("len")),
        Seq("source"), "len", m = 500L),
    Some("""WITH g AS (SELECT source, COUNT(*)::BIGINT n, SUM(length(text))::BIGINT s
        FROM documents GROUP BY 1),
      t AS (SELECT SUM(n)::BIGINT tn, SUM(s)::BIGINT ts FROM g)
      SELECT source, n AS n_rows, (s * 1000000 // n)::BIGINT AS mean_micro,
        ((s * 1000000 + 500 * (ts * 1000000 // tn)) // (n + 500))::BIGINT AS shrunk_micro
      FROM g CROSS JOIN t"""))

  /** DuckDB replay of the MMR greedy: k unrolled select-one steps, each
    * an argmax of `λ·rel − (1−λ)·max_sim_to_selected` over the remaining
    * candidates with ascending-id tie-break. λ and 1−λ are emitted as
    * Scala doubles (shortest-roundtrip decimal), so both engines compute
    * with bit-identical constants — `0.3` parsed fresh is NOT `1.0 − 0.7`
    * in IEEE.
    */
  private def mmrOracleSql(k: Int, lambdaPct: Int): String = {
    val lam = lambdaPct / 100.0
    val oneMinus = 1.0 - lam
    def cos(a: String, b: String) =
      s"ROUND(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"
    val head = s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      q AS (SELECT v qv FROM e WHERE vec_id = 0),
      c AS (SELECT vec_id id, v, ${cos("v", "qv")} rel
        FROM e, q WHERE vec_id < 60 AND vec_id <> 0),
      s1 AS (SELECT 1 rank, id, v, rel mmr FROM c ORDER BY rel DESC, id LIMIT 1),
      sel1 AS (SELECT * FROM s1)"""
    val steps = (2 to k).map { i =>
      s""", c$i AS (SELECT c.id, c.v,
        $lam * c.rel - $oneMinus * (SELECT MAX(${cos("c.v", "s.v")}) FROM sel${i - 1} s) mmr
        FROM c WHERE c.id NOT IN (SELECT id FROM sel${i - 1})),
      s$i AS (SELECT $i rank, id, v, mmr FROM c$i ORDER BY mmr DESC, id LIMIT 1),
      sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)"""
    }.mkString
    head + steps + s" SELECT rank::INT AS rank, id AS vec_id, mmr AS mmr_score FROM sel$k"
  }

  /** Diversity-aware retrieval: MMR top-5 among the first 60 embeddings
    * against vector 0 as the query — relevance balanced against
    * redundancy with already-picked items, λ=0.7.
    */
  private val q91 = Q(
    "q91_mmr_diverse",
    (spark, dir) => {
      val emb = pq(spark, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      Similarity.mmrSelect(
        emb.filter(col("vec_id") < 60 && col("vec_id") =!= 0),
        "vec_id", "embedding", qv, k = 5, lambdaPct = 70)
    },
    Some(mmrOracleSql(5, 70)))

  /** Column profile of the documents table (k=64 so the id column takes
    * the KMV estimate path while the categoricals stay exact): the
    * trust-a-new-drop data-quality pass.
    */
  private val q92 = Q(
    "q92_profile",
    (spark, dir) =>
      Corpus.profile(
        pq(spark, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"), k = 64),
    Some("""WITH s AS (
        SELECT 'doc_id' AS col_name, doc_id::VARCHAR AS value FROM documents
        UNION ALL SELECT 'text', text FROM documents
        UNION ALL SELECT 'lang', lang FROM documents
        UNION ALL SELECT 'source', source FROM documents
        UNION ALL SELECT 'n_chars', n_chars::VARCHAR FROM documents),
      st AS (SELECT col_name, COUNT(*)::BIGINT n_rows, COUNT(value)::BIGINT nn,
        MIN(value) mn, MAX(value) mx FROM s GROUP BY 1),
      d AS (SELECT DISTINCT col_name, md5(value) h FROM s WHERE value IS NOT NULL),
      r AS (SELECT col_name, h, ROW_NUMBER() OVER (PARTITION BY col_name ORDER BY h) rn FROM d),
      g AS (SELECT col_name, COUNT(*) n_kept,
        MAX(CASE WHEN rn = 64 THEN h END) kth FROM r WHERE rn <= 64 GROUP BY 1)
      SELECT st.col_name, st.n_rows, (st.n_rows - st.nn)::BIGINT AS n_null,
        st.mn AS min_str, st.mx AS max_str,
        COALESCE(CAST(CASE WHEN g.kth IS NULL THEN g.n_kept
          ELSE ROUND(63.0 * 4294967296.0 / (('0x' || substr(g.kth, 1, 8))::UBIGINT + 1.0))
          END AS BIGINT), 0) AS n_distinct_est
      FROM st LEFT JOIN g ON g.col_name = st.col_name"""))

  /** Contrastive triplet mining over the embedding corpus: cluster =
    * `vec_id % 5` (stand-in for a k-means/domain label), anchors = first
    * 20 vectors. Oracle replays both per-anchor argmaxes with the
    * larger-id tie rule.
    */
  private val q93 = Q(
    "q93_mine_triplets",
    (spark, dir) => {
      val e = pq(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), (col("vec_id") % 5).as("cl"))
      Similarity.mineTriplets(
        e, "vec_id", "embedding", "cl",
        e.filter(col("vec_id") < 20), "vec_id", "embedding", "cl")
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v, vec_id % 5 AS cl FROM embeddings),
      a AS (SELECT vec_id aid, v av, cl acl FROM e WHERE vec_id < 20),
      s AS (SELECT a.aid, e.vec_id nid, e.cl ncl, a.acl,
        ROUND(list_dot_product(e.v, a.av) /
          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(a.av, a.av))), 6) sc
        FROM e JOIN a ON e.vec_id <> a.aid),
      p AS (SELECT aid, nid, sc, ROW_NUMBER() OVER
        (PARTITION BY aid ORDER BY sc DESC, nid DESC) rn FROM s WHERE ncl = acl),
      n AS (SELECT aid, nid, sc, ROW_NUMBER() OVER
        (PARTITION BY aid ORDER BY sc DESC, nid DESC) rn FROM s WHERE ncl <> acl)
      SELECT p.aid AS anchor_id, p.nid AS pos_id, p.sc AS pos_score,
        n.nid AS neg_id, n.sc AS neg_score
      FROM p JOIN n ON n.aid = p.aid AND p.rn = 1 AND n.rn = 1"""))

  /** SQL replay of [[Corpus.zorderValue]]'s bit interleave: the same
    * `bits·n` shift/mask terms, spelled with portable `>> & <<` integer
    * ops (inputs must already be in range — the oracle replays the
    * interleave, the clamp is a no-op for in-range data).
    */
  private def zorderSqlTerms(xs: Seq[String], bits: Int): String = {
    val n = xs.length
    (for { i <- 0 until bits; (x, ci) <- xs.zipWithIndex }
      yield s"((($x >> $i) & 1) << ${i * n + ci})").mkString(" + ")
  }

  /** Z-order layout value over two bucketized event dimensions: the
    * map-side expression a storage OPTIMIZE job sorts by. */
  private val q94 = Q(
    "q94_zorder_value",
    (spark, dir) => {
      val ev = pq(spark, dir, "events")
      ev.select(
        col("event_id"),
        pmod(col("user_id"), lit(256L)).as("zx"),
        pmod(col("event_id"), lit(256L)).as("zy"),
        Corpus.zorderValue(
          Seq(pmod(col("user_id"), lit(256L)), pmod(col("event_id"), lit(256L))),
          bits = 8).as("zval"))
    },
    Some(s"""SELECT event_id, user_id % 256 AS zx, event_id % 256 AS zy,
      ${zorderSqlTerms(Seq("(user_id % 256)", "(event_id % 256)"), 8)} AS zval
      FROM events"""))

  /** Prototypicality / outlier flag by centroid distance: q50's k-means
    * plus a per-cluster farthest-rank window — the farthest 10% of each
    * cluster flagged (exact integer rank·100 ≤ n·pct rule).
    */
  private val q95 = Q(
    "q95_centroid_outliers",
    (spark, dir) =>
      Cluster.outlierByCentroidDist(
        pq(spark, dir, "embeddings"), "vec_id", "embedding",
        k = 4, iters = 1, outlierPct = 10),
    Some(s"""$kmeansOracleCte,
      a2 AS (SELECT vec_id, cl, dist FROM (SELECT vec_id, cl, dist,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) rn FROM d2)
        WHERE rn = 1)
      SELECT vec_id, cl::INT AS cluster, dist::BIGINT AS dist_micro,
        (COUNT(*) OVER (PARTITION BY cl))::BIGINT AS n_cluster,
        (ROW_NUMBER() OVER (PARTITION BY cl ORDER BY dist DESC, vec_id))::INT AS rank_far,
        ROW_NUMBER() OVER (PARTITION BY cl ORDER BY dist DESC, vec_id) * 100
          <= COUNT(*) OVER (PARTITION BY cl) * 10 AS is_outlier
      FROM a2"""))

  /** Curation filter cascade with first-fail drop attribution over the
    * documents table: three named rules applied in order.
    */
  private val q96 = Q(
    "q96_filter_cascade",
    (spark, dir) =>
      Corpus.filterCascade(
        pq(spark, dir, "documents"), Seq("doc_id"),
        Seq(
          "too_short" -> (length(col("text")) >= 120),
          "bad_lang" -> col("lang").isin("en", "de", "es"),
          "low_diversity" -> (size(array_distinct(split(trim(col("text")), " "))) >= 25))),
    Some("""SELECT doc_id,
        CASE
          WHEN NOT (length(text) >= 120) THEN 'too_short'
          WHEN NOT (lang IN ('en', 'de', 'es')) THEN 'bad_lang'
          WHEN NOT (len(list_distinct(string_split(trim(text), ' '))) >= 25)
            THEN 'low_diversity'
        END AS drop_reason,
        (length(text) >= 120 AND lang IN ('en', 'de', 'es')
          AND len(list_distinct(string_split(trim(text), ' '))) >= 25) AS keep
      FROM documents"""))

  /** Exact-substring duplicated-span removal (Lee et al. 2022 apply step):
    * 8-token sliding windows, corpus-wide occurrence >= 2, merged spans cut
    * out and the document reassembled. Integer-only — the oracle replays
    * the interval merge with the same running-max-end window.
    */
  private val q97 = Q(
    "q97_dup_span_removal",
    (spark, dir) =>
      Dedup.dupSpanRemoval(pq(spark, dir, "documents"), "doc_id", "text", w = 8),
    Some("""WITH t AS (SELECT doc_id, string_split(trim(text), ' ') tk FROM documents),
      w0 AS (SELECT doc_id, tk, unnest(generate_series(0, len(tk) - 8)) p
        FROM t WHERE len(tk) >= 8),
      w2 AS (SELECT doc_id, p, md5(array_to_string(tk[p+1:p+8], ' ')) h FROM w0),
      d AS (SELECT h FROM w2 GROUP BY h HAVING count(*) >= 2),
      st AS (SELECT doc_id, p FROM w2 JOIN d USING (h)),
      m AS (SELECT doc_id, p, max(p + 8) OVER (PARTITION BY doc_id ORDER BY p
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) prev_end FROM st),
      agg AS (SELECT doc_id, count(*) n_dup_windows,
          sum(CASE WHEN prev_end IS NULL OR p > prev_end THEN 1 ELSE 0 END) n_spans,
          sum(greatest(p + 8 - greatest(coalesce(prev_end, p), p), 0)) n_removed
        FROM m GROUP BY doc_id),
      cov AS (SELECT doc_id, unnest(generate_series(p, p + 7)) pos FROM st),
      tp AS (SELECT doc_id, unnest(tk) tok,
          unnest(generate_series(0, len(tk) - 1)) pos FROM t),
      cl AS (SELECT doc_id,
          array_to_string(list(tok ORDER BY pos), ' ') cleaned_text
        FROM tp WHERE NOT EXISTS (SELECT 1 FROM cov
          WHERE cov.doc_id = tp.doc_id AND cov.pos = tp.pos)
        GROUP BY doc_id)
      SELECT t.doc_id, len(tk)::BIGINT AS n_tokens,
        coalesce(n_dup_windows, 0)::BIGINT AS n_dup_windows,
        coalesce(n_spans, 0)::BIGINT AS n_spans,
        coalesce(n_removed, 0)::BIGINT AS n_removed,
        coalesce(cleaned_text, '') AS cleaned_text
      FROM t LEFT JOIN agg USING (doc_id) LEFT JOIN cl USING (doc_id)"""))

  /** Asymmetric containment pairs (quote/subset detection): 3-gram
    * distinct-shingle containment, dominant direction >= 0.6.
    */
  private val q98 = Q(
    "q98_containment_pairs",
    (spark, dir) =>
      Dedup.containmentPairs(pq(spark, dir, "documents"), "doc_id", "text", 3, 0.6),
    Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS s
        FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) g FROM toks)),
      sz AS (SELECT doc_id, COUNT(*) sz FROM sh GROUP BY 1),
      common AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c FROM sh a
        JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT ia AS id_a, ib AS id_b,
        ROUND(c::DOUBLE / x.sz, 4) AS containment_a_in_b,
        ROUND(c::DOUBLE / y.sz, 4) AS containment_b_in_a,
        greatest(ROUND(c::DOUBLE / x.sz, 4), ROUND(c::DOUBLE / y.sz, 4)) AS containment
      FROM common JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      WHERE greatest(ROUND(c::DOUBLE / x.sz, 4), ROUND(c::DOUBLE / y.sz, 4)) >= 0.6"""))

  /** Bootstrap NB quality classifier: seed label = token count >= 55,
    * top-4096 vocab log-odds model trained and applied in one pipeline.
    */
  private val q99 = Q(
    "q99_nb_quality",
    (spark, dir) =>
      TextOps.nbQualityScores(
        pq(spark, dir, "documents"), "doc_id", "text",
        seedRule = size(split(trim(col("text")), " ")) >= 55),
    Some("""WITH d AS (SELECT doc_id, text,
        len(string_split(trim(text), ' ')) >= 55 AS good FROM documents),
      p0 AS (SELECT doc_id, good, unnest(string_split(trim(text), ' ')) tok FROM d),
      p AS (SELECT DISTINCT doc_id, good, tok FROM p0),
      tot AS (SELECT sum(CASE WHEN good THEN 1 ELSE 0 END) npos,
        sum(CASE WHEN good THEN 0 ELSE 1 END) nneg FROM d),
      tc AS (SELECT tok, count(*) df,
          sum(CASE WHEN good THEN 1 ELSE 0 END) dfpos
        FROM p GROUP BY tok ORDER BY df DESC, tok LIMIT 4096),
      w AS (SELECT tok, floor(ln(((dfpos + 1)::DOUBLE / (npos + 2)) /
          ((df - dfpos + 1)::DOUBLE / (nneg + 2))) * 1000000)::BIGINT w6
        FROM tc, tot),
      pr AS (SELECT floor(ln((npos + 1)::DOUBLE / (nneg + 1)) * 1000000)::BIGINT prior6
        FROM tot),
      ds AS (SELECT doc_id, count(*) nv, sum(w6) s6 FROM p JOIN w USING (tok)
        GROUP BY doc_id)
      SELECT d.doc_id, coalesce(nv, 0)::BIGINT AS n_vocab_tokens,
        (coalesce(s6, 0) + prior6)::BIGINT AS score_micro,
        (coalesce(s6, 0) + prior6) > 0 AS quality_pred
      FROM d LEFT JOIN ds USING (doc_id), pr"""))

  /** Numeric histograms over three lineitem measures: data-driven 20-bin
    * equi-width, IEEE-exact bucket rule replayed verbatim in the oracle.
    */
  private val q100 = Q(
    "q100_histogram",
    (spark, dir) =>
      Corpus.histogram(
        pq(spark, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"), bins = 20),
    Some("""WITH lf AS (
        SELECT 'l_quantity' AS col_name, l_quantity::DOUBLE v FROM lineitem
        UNION ALL SELECT 'l_extendedprice', l_extendedprice::DOUBLE FROM lineitem
        UNION ALL SELECT 'l_discount', l_discount::DOUBLE FROM lineitem),
      nn AS (SELECT * FROM lf WHERE v IS NOT NULL),
      r AS (SELECT col_name, min(v) lo, max(v) hi FROM nn GROUP BY 1),
      b AS (SELECT nn.col_name,
          CASE WHEN lo = hi THEN 0
            ELSE least(floor((v - lo) * 20 / (hi - lo))::INT, 19) END bucket,
          lo, hi
        FROM nn JOIN r USING (col_name))
      SELECT col_name, bucket::INT AS bucket,
        lo + bucket * (hi - lo) / 20 AS bucket_lo,
        lo + (bucket + 1) * (hi - lo) / 20 AS bucket_hi,
        count(*)::BIGINT n
      FROM b GROUP BY col_name, bucket, lo, hi"""))

  /** Deterministic training-order shuffle of documents into 8 shards,
    * seed "epoch0": md5 order key, broadcast-offset exact global position.
    */
  private val q101 = Q(
    "q101_training_order",
    (spark, dir) =>
      Sampling.trainingOrder(
        pq(spark, dir, "documents").select(col("doc_id")), "doc_id",
        numShards = 8, seed = "epoch0"),
    Some("""WITH h AS (SELECT doc_id, md5('epoch0|' || doc_id::VARCHAR) h FROM documents),
      s AS (SELECT doc_id, h,
        (('0x' || substr(h, 1, 8))::UBIGINT % 8)::INT shard FROM h),
      p AS (SELECT doc_id, shard,
        (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1)::BIGINT pos FROM s),
      o AS (SELECT shard, count(*) c FROM s GROUP BY 1),
      off AS (SELECT shard, (sum(c) OVER (ORDER BY shard) - c)::BIGINT offs FROM o)
      SELECT doc_id, shard, pos, (offs + pos)::BIGINT AS global_pos
      FROM p JOIN off USING (shard)"""))

  /** Histogram-read quantiles (64 bins, nearest-rank + uniform within-bin
    * interpolation) over two lineitem measures — the no-sort quantile path.
    */
  private val q102 = Q(
    "q102_hist_quantiles",
    (spark, dir) =>
      Corpus.histogramQuantiles(
        pq(spark, dir, "lineitem"), Seq("l_quantity", "l_extendedprice"),
        percents = Seq(25, 50, 75, 95), bins = 64),
    Some("""WITH lf AS (
        SELECT 'l_quantity' AS col_name, l_quantity::DOUBLE v FROM lineitem
        UNION ALL SELECT 'l_extendedprice', l_extendedprice::DOUBLE FROM lineitem),
      nn AS (SELECT * FROM lf WHERE v IS NOT NULL),
      r0 AS (SELECT col_name, min(v) lo, max(v) hi FROM nn GROUP BY 1),
      b AS (SELECT nn.col_name,
          CASE WHEN lo = hi THEN 0
            ELSE least(floor((v - lo) * 64 / (hi - lo))::INT, 63) END bucket, lo, hi
        FROM nn JOIN r0 USING (col_name)),
      h AS (SELECT col_name, bucket,
          lo + bucket * (hi - lo) / 64 bucket_lo,
          lo + (bucket + 1) * (hi - lo) / 64 bucket_hi, count(*) n
        FROM b GROUP BY col_name, bucket, lo, hi),
      c AS (SELECT *,
          (sum(n) OVER (PARTITION BY col_name ORDER BY bucket) - n)::BIGINT cum,
          (sum(n) OVER (PARTITION BY col_name))::BIGINT total FROM h),
      q AS (SELECT c.*, p."percent" FROM c
        CROSS JOIN (SELECT unnest([25, 50, 75, 95]) AS "percent") p),
      f AS (SELECT col_name, "percent", bucket, cum, n, bucket_lo, bucket_hi,
          floor("percent" * (total - 1) / 100)::BIGINT r FROM q)
      SELECT col_name, "percent", bucket::INT AS bucket,
        bucket_lo + (bucket_hi - bucket_lo) * ((r - cum)::DOUBLE + 0.5) / n AS est_value
      FROM f WHERE r >= cum AND r < cum + n"""))

  /** Label-propagation communities (3 synchronous rounds, count-desc /
    * label-asc deterministic argmax) over the user–item interaction
    * graph. The oracle unrolls the three rounds with row_number argmax.
    */
  private val q103 = Q(
    "q103_label_prop",
    (spark, dir) => {
      val ev = pq(spark, dir, "events").select(
        col("user_id"),
        (get_json_object(col("props"), "$.k").cast("long") + 100000000L).as("item"))
      Graph.labelPropagation(ev, "user_id", "item", iters = 3)
    },
    Some {
      val round = (prev: String, out: String) =>
        s"""$out AS (SELECT node, label FROM (
          SELECT e.a node, l.label,
            ROW_NUMBER() OVER (PARTITION BY e.a
              ORDER BY count(*) DESC, l.label) rn
          FROM e JOIN $prev l ON l.node = e.b
          GROUP BY e.a, l.label) WHERE rn = 1)"""
      s"""WITH d AS (SELECT user_id a,
          (json_extract_string(props, '$$.k')::BIGINT + 100000000) b
        FROM events WHERE props IS NOT NULL
          AND json_extract_string(props, '$$.k') IS NOT NULL),
      e AS (SELECT DISTINCT a, b FROM
        (SELECT a, b FROM d UNION ALL SELECT b, a FROM d)),
      l0 AS (SELECT DISTINCT a AS node, a AS label FROM e),
      ${round("l0", "l1")},
      ${round("l1", "l2")},
      ${round("l2", "l3")}
      SELECT node, label FROM l3"""
    })

  /** Top-100 PMI collocations over documents (min pair count 5); the
    * oracle replays the three separately-floored logs and the tie-broken
    * top-k.
    */
  private val q104 = Q(
    "q104_pmi_collocations",
    (spark, dir) =>
      TextOps.pmiCollocations(pq(spark, dir, "documents"), "text", minCount = 5L, k = 100),
    Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') tk FROM documents),
      u AS (SELECT unnest(tk) w FROM toks),
      uc AS (SELECT w, count(*) c FROM u GROUP BY 1),
      n AS (SELECT sum(c) n FROM uc),
      bg AS (SELECT tk[g] w1, tk[g+1] w2 FROM
        (SELECT tk, unnest(generate_series(1, len(tk) - 1)) g FROM toks
         WHERE len(tk) >= 2)),
      bc0 AS (SELECT w1, w2, count(*) c12 FROM bg GROUP BY 1, 2),
      nb AS (SELECT sum(c12) nb FROM bc0)
      SELECT w1, w2, c12 AS n_pair,
        (floor(ln(c12 / nb.nb::DOUBLE) * 1000000)::BIGINT
         - floor(ln(u1.c / n.n::DOUBLE) * 1000000)::BIGINT
         - floor(ln(u2.c / n.n::DOUBLE) * 1000000)::BIGINT) AS pmi_micro
      FROM bc0
      JOIN uc u1 ON u1.w = w1 JOIN uc u2 ON u2.w = w2
      CROSS JOIN nb CROSS JOIN n
      WHERE c12 >= 5
      ORDER BY pmi_micro DESC, w1, w2 LIMIT 100"""))

  /** Embedding centroid drift per label between the even-id and odd-id
    * halves of the embeddings table (two-snapshot stand-in).
    */
  private val q105 = Q(
    "q105_centroid_drift",
    (spark, dir) => {
      val em = pq(spark, dir, "embeddings")
      Similarity.centroidDrift(
        em.filter(col("vec_id") % 2 === 0), em.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", "label")
    },
    Some("""WITH ax AS (SELECT label,
          unnest(generate_series(0, len(embedding) - 1)) dim,
          round(unnest(embedding)::DOUBLE * 1000000)::BIGINT m
        FROM embeddings WHERE vec_id % 2 = 0 AND embedding IS NOT NULL),
      an AS (SELECT label, count(*) n_a FROM embeddings
        WHERE vec_id % 2 = 0 AND embedding IS NOT NULL GROUP BY 1),
      ac AS (SELECT label, dim, n_a, floor(sum(m)::DOUBLE / n_a)::BIGINT ca
        FROM ax JOIN an USING (label) GROUP BY label, dim, n_a),
      bx AS (SELECT label,
          unnest(generate_series(0, len(embedding) - 1)) dim,
          round(unnest(embedding)::DOUBLE * 1000000)::BIGINT m
        FROM embeddings WHERE vec_id % 2 = 1 AND embedding IS NOT NULL),
      bn AS (SELECT label, count(*) n_b FROM embeddings
        WHERE vec_id % 2 = 1 AND embedding IS NOT NULL GROUP BY 1),
      bc AS (SELECT label, dim, n_b, floor(sum(m)::DOUBLE / n_b)::BIGINT cb
        FROM bx JOIN bn USING (label) GROUP BY label, dim, n_b)
      SELECT label, n_a, n_b,
        CASE WHEN sum(ca*ca) = 0 OR sum(cb*cb) = 0 THEN NULL
          ELSE round(sum(ca*cb)::DOUBLE /
            (sqrt(sum(ca*ca)::DOUBLE) * sqrt(sum(cb*cb)::DOUBLE)), 6) END AS centroid_cos,
        round(sqrt(sum((ca-cb)*(ca-cb))::DOUBLE))::BIGINT AS l2_micro
      FROM ac JOIN bc USING (label, dim)
      GROUP BY label, n_a, n_b"""))

  /** Weighted sample without replacement: 20 docs per lang, probability
    * proportional to n_chars (Efraimidis–Spirakis, md5 uniforms).
    */
  private val q106 = Q(
    "q106_weighted_sample",
    (spark, dir) =>
      Sampling.weightedSample(
        pq(spark, dir, "documents"), "doc_id", "n_chars", "lang",
        k = 20, salt = "ws0"),
    Some("""WITH s AS (SELECT lang, doc_id, n_chars,
        (('0x' || substr(md5('ws0|' || doc_id::VARCHAR), 1, 8))::UBIGINT + 1)::DOUBLE
          / 4294967296.0 u
      FROM documents WHERE n_chars > 0),
      key AS (SELECT lang, doc_id, n_chars,
        (-floor(ln(u) * 1000000)::BIGINT) * 1000000 // n_chars k
      FROM s),
      r AS (SELECT lang, doc_id, n_chars,
        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY k, doc_id) rank FROM key)
      SELECT lang, doc_id, n_chars::BIGINT AS weight, rank::INT AS rank
      FROM r WHERE rank <= 20"""))

  /** Mixed-language detection: segment-level langId (8-token segments)
    * aggregated per document.
    */
  private val q107 = Q(
    "q107_mixed_language",
    (spark, dir) =>
      TextOps.mixedLanguageSignals(pq(spark, dir, "documents"), "doc_id", "text", 8),
    Some {
      val markers = TextOps.LangMarkers
        .map { case (l, ws) => s"('$l', [${ws.map(w => s"'$w'").mkString(",")}])" }
        .mkString(", ")
      s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      seg AS (SELECT doc_id, g AS pos, array_to_string(ws[g*8+1:g*8+8], ' ') AS seg
        FROM (SELECT doc_id, ws,
            unnest(generate_series(0, GREATEST(CAST(ceil(len(ws) / 8.0) AS INT), 1) - 1)) g
          FROM toks)),
      sc AS (SELECT doc_id, pos, m.lang mlang,
          len(list_filter(string_split(lower(trim(seg)), ' '),
            x -> list_contains(m.words, x))) score
        FROM seg, (VALUES $markers) m(lang, words)),
      sl AS (SELECT doc_id, pos, mlang FROM (SELECT doc_id, pos, mlang,
          ROW_NUMBER() OVER (PARTITION BY doc_id, pos ORDER BY score DESC, mlang DESC) rn
        FROM sc) WHERE rn = 1),
      lc AS (SELECT doc_id, mlang, count(*) c FROM sl GROUP BY 1, 2),
      best AS (SELECT doc_id, mlang, c FROM (SELECT doc_id, mlang, c,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, mlang DESC) rn
        FROM lc) WHERE rn = 1),
      agg AS (SELECT doc_id, sum(c)::BIGINT n_segments, count(*)::BIGINT n_langs
        FROM lc GROUP BY 1)
      SELECT a.doc_id, a.n_segments, a.n_langs, b.mlang AS majority_lang,
        ROUND(b.c::DOUBLE / a.n_segments, 4) AS majority_share,
        a.n_langs > 1 AS is_mixed
      FROM agg a JOIN best b USING (doc_id)"""
    })

  /** URL canonicalization for crawl dedup: synthetic URLs with tracking
    * params, fragments, default ports, unsorted params; emits the
    * canonical form and its md5 dedup key.
    */
  private val q108 = Q(
    "q108_canonical_url",
    (spark, dir) => {
      val d = pq(spark, dir, "documents").select(
        col("doc_id"),
        concat(
          when(col("doc_id") % 9 === 0, lit("HTTP")).otherwise(lit("https")),
          lit("://"), col("source"), lit(".org"),
          when(col("doc_id") % 7 === 0, lit(":443")).otherwise(lit("")),
          lit("/p/"), col("doc_id"),
          when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
          lit("?b=2&a=1"),
          when(col("doc_id") % 2 === 0, lit("&utm_source=x&ref=tw")).otherwise(lit("")),
          when(col("doc_id") % 6 === 0, lit("#frag")).otherwise(lit(""))).as("url"))
      d.select(
        col("doc_id"), col("url"),
        TextOps.canonicalUrl(col("url")).as("canonical_url"),
        md5(TextOps.canonicalUrl(col("url"))).as("url_key"))
    },
    Some("""WITH d AS (SELECT doc_id,
        (CASE WHEN doc_id % 9 = 0 THEN 'HTTP' ELSE 'https' END || '://' ||
         source || '.org' ||
         CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END ||
         '/p/' || doc_id ||
         CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
         '?b=2&a=1' ||
         CASE WHEN doc_id % 2 = 0 THEN '&utm_source=x&ref=tw' ELSE '' END ||
         CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) url
      FROM documents),
      c AS (SELECT doc_id, url,
        regexp_replace(url, '#.*$', '') nofrag,
        regexp_extract(regexp_replace(url, '#.*$', ''),
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0) sh
      FROM d),
      p AS (SELECT doc_id, url,
        regexp_replace(lower(sh), ':(80|443)$', '') hostn,
        substr(nofrag, length(sh) + 1) rest
      FROM c),
      q AS (SELECT doc_id, url, hostn,
        strpos(rest, '?') qp, rest
      FROM p),
      parts AS (SELECT doc_id, url, hostn,
        regexp_replace(CASE WHEN qp > 0 THEN substr(rest, 1, qp - 1) ELSE rest END,
          '/+$', '') path,
        CASE WHEN qp > 0 THEN substr(rest, qp + 1) ELSE '' END qs
      FROM q),
      canon AS (SELECT doc_id, url,
        hostn || path ||
        CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END cu
      FROM (SELECT *, list_sort(list_filter(string_split(qs, '&'),
          x -> NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid|ref)=') AND x <> '')) kept
        FROM parts))
      SELECT doc_id, url, cu AS canonical_url, md5(cu) AS url_key FROM canon"""))

  /** Deterministic negative sampling over the user-item interaction
    * graph: 5 true negatives per user from md5-proposed catalog draws.
    * The oracle replays the dense-index construction (q101's shard +
    * offset SQL), the proposal hashes, the self-hit anti-join, the
    * collision dedupe, and the keep-first-k.
    */
  private val q109 = Q(
    "q109_negative_sample",
    (spark, dir) => {
      val ev = pq(spark, dir, "events").select(
        col("user_id"),
        (get_json_object(col("props"), "$.k").cast("long") + 100000000L).as("item"))
      Sampling.negativeSample(ev, "user_id", "item", k = 5, oversample = 4, salt = "neg0")
    },
    Some("""WITH inter AS (SELECT DISTINCT user_id u,
        (json_extract_string(props, '$.k')::BIGINT + 100000000) i
      FROM events WHERE props IS NOT NULL
        AND json_extract_string(props, '$.k') IS NOT NULL),
      cat AS (SELECT DISTINCT i FROM inter),
      h AS (SELECT i, md5('ns|neg0|' || i::VARCHAR) h FROM cat),
      s AS (SELECT i, h, (('0x' || substr(h, 1, 8))::UBIGINT % 32)::INT shard FROM h),
      p AS (SELECT i, shard,
        (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, i) - 1)::BIGINT pos FROM s),
      o AS (SELECT shard, count(*) c FROM s GROUP BY 1),
      off AS (SELECT shard, (sum(c) OVER (ORDER BY shard) - c)::BIGINT offs FROM o),
      idx AS (SELECT i AS item, (offs + pos)::BIGINT idx FROM p JOIN off USING (shard)),
      csize AS (SELECT count(*) c FROM cat),
      prop AS (SELECT u, j,
          (('0x' || substr(md5('neg0|' || u::VARCHAR || '|' || j::VARCHAR), 1, 8))::UBIGINT
            % c)::BIGINT idx
        FROM (SELECT DISTINCT u FROM inter),
          (SELECT unnest(generate_series(0, 19)) j), csize),
      cand AS (SELECT u, j, item FROM prop JOIN idx USING (idx)),
      neg AS (SELECT u, item, min(j) j FROM cand
        WHERE NOT EXISTS (SELECT 1 FROM inter
          WHERE inter.u = cand.u AND inter.i = cand.item)
        GROUP BY u, item),
      r AS (SELECT u, item, ROW_NUMBER() OVER (PARTITION BY u ORDER BY j) rank FROM neg)
      SELECT u AS user_id, item, rank::INT AS rank FROM r WHERE rank <= 5"""))

  /** Snapshot half-life decay score per user (1-day half-life, reference
    * instant 2024-01-31T00:00Z, just past the events table's range).
    */
  private val q110 = Q(
    "q110_snapshot_decay",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val ev = raw.select(
        col("user_id"), EventTime.epochMillis(raw, "ts").as("ts_ms"), col("value"))
      Decay.snapshotDecay(ev, Seq("user_id"), "ts_ms", "value",
        halfLifeMs = 86400000L, refTimeMs = 1706659200000L)
    },
    Some("""WITH e AS (SELECT user_id, epoch_ms(ts) tms, value FROM events),
      w AS (SELECT user_id,
        floor(pow(2.0, -((1706659200000 - tms)::DOUBLE / 86400000.0)) * 1000000)::BIGINT w6,
        round(value * 1000000)::BIGINT v6
      FROM e WHERE 1706659200000 - tms >= 0)
      SELECT user_id, count(*)::BIGINT AS n_events,
        sum(w6)::BIGINT AS decayed_count_micro,
        sum(CASE WHEN v6 < 0 THEN -((-v6) * w6 // 1000000)
          ELSE v6 * w6 // 1000000 END)::BIGINT AS decayed_sum_micro
      FROM w GROUP BY user_id"""))

  /** Reciprocal-rank fusion of two retrieval signals (cosine and raw dot)
    * per query over the embeddings table; top-10 fused per query.
    */
  private val q111 = Q(
    "q111_rank_fusion",
    (spark, dir) => {
      val em = pq(spark, dir, "embeddings")
      val q = em.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val c = em.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("item"), col("embedding").as("cv"))
      val pairs = c.crossJoin(broadcast(q))
      val cand = pairs.select(col("qid"), col("item"), lit("cos").as("method"),
          round(Similarity.dot(col("cv"), col("qv")) /
            (Similarity.norm(col("cv")) * Similarity.norm(col("qv"))), 6).as("score"))
        .unionByName(pairs.select(col("qid"), col("item"), lit("dot").as("method"),
          round(Similarity.dot(col("cv"), col("qv")), 6).as("score")))
      Similarity.rrfFuse(cand, "qid", "item", "method", "score", k0 = 60)
        .filter(col("fused_rank") <= 10)
    },
    Some("""WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] qv FROM embeddings
        WHERE vec_id < 5),
      c AS (SELECT vec_id item, embedding::DOUBLE[] cv FROM embeddings
        WHERE vec_id >= 5),
      p AS (SELECT qid, item,
        ROUND(list_dot_product(cv, qv) /
          (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 6) cosv,
        ROUND(list_dot_product(cv, qv), 6) dotv FROM c, q),
      cand AS (SELECT qid, item, 'cos' mth, cosv score FROM p
        UNION ALL SELECT qid, item, 'dot', dotv FROM p),
      r AS (SELECT qid, item, mth,
        ROW_NUMBER() OVER (PARTITION BY qid, mth ORDER BY score DESC, item) rr
        FROM cand),
      f AS (SELECT qid, item, count(*) n_methods,
        sum(1000000 // (60 + rr)) rrf FROM r GROUP BY 1, 2),
      o AS (SELECT qid, item, n_methods, rrf,
        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, item) fr FROM f)
      SELECT qid, item, n_methods::BIGINT AS n_methods, rrf::BIGINT AS rrf_micro,
        fr::INT AS fused_rank
      FROM o WHERE fr <= 10"""))

  /** Hot-key skew report over three lineitem columns (a low-cardinality
    * flag, a status, and a real join key), top-5 values each.
    */
  private val q112 = Q(
    "q112_skew_report",
    (spark, dir) =>
      Corpus.skewReport(
        pq(spark, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_suppkey"), k = 5),
    Some("""WITH lf AS (
        SELECT 'l_returnflag' AS col_name, l_returnflag::VARCHAR AS "value" FROM lineitem
        UNION ALL SELECT 'l_linestatus', l_linestatus::VARCHAR FROM lineitem
        UNION ALL SELECT 'l_suppkey', l_suppkey::VARCHAR FROM lineitem),
      c AS (SELECT col_name, "value", count(*) cnt FROM lf GROUP BY 1, 2),
      t AS (SELECT col_name, sum(cnt) tot FROM c GROUP BY 1),
      r AS (SELECT col_name, "value", cnt,
        ROW_NUMBER() OVER (PARTITION BY col_name
          ORDER BY cnt DESC, "value" ASC NULLS LAST) rank FROM c)
      SELECT r.col_name, rank::INT AS rank, "value", cnt::BIGINT AS cnt,
        ROUND(cnt::DOUBLE / tot, 4) AS share
      FROM r JOIN t USING (col_name) WHERE rank <= 5"""))

  /** Prefix-filtered (All-Pairs/PPJoin) Jaccard set-similarity join: the
    * SAME oracle as q21 byte-for-byte — prefix filtering is lossless for a
    * fixed threshold, and this query proves it cross-engine: a candidate
    * generator that only joins rarity-ordered shingle prefixes reproduces
    * the full inverted-index join's output exactly.
    */
  private val q113 = Q(
    "q113_jaccard_prefix",
    (spark, dir) =>
      Dedup.ngramJaccardPairsPrefix(pq(spark, dir, "documents"), "doc_id", "text", 3, 0.5),
    Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS s
        FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) g FROM toks)),
      sz AS (SELECT doc_id, COUNT(*) sz FROM sh GROUP BY 1),
      common AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c FROM sh a
        JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT ia AS id_a, ib AS id_b, ROUND(c::DOUBLE / (x.sz + y.sz - c), 4) AS jaccard
      FROM common JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      WHERE ROUND(c::DOUBLE / (x.sz + y.sz - c), 4) >= 0.5"""))

  /** Bloom-guarded decontamination: q40's exact sweep with the benchmark
    * shingle set behind a Bloom filter + shuffle join instead of a full
    * broadcast — the beyond-broadcast-benchmark path. Oracle is q40's
    * byte-for-byte: the Bloom prefilter has no false negatives and the
    * exact join removes its false positives.
    */
  private val q114 = Q(
    "q114_bloom_decontaminate",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      Dedup.contaminatedByBloom(
        docs.filter(col("doc_id") >= 25), "doc_id", "text",
        docs.filter(col("doc_id") < 25), "doc_id", "text",
        n = 3, minOverlap = 2L)
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS s
        FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) g FROM toks)),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 25)
      SELECT sh.doc_id AS id, COUNT(*)::BIGINT AS overlap
      FROM sh JOIN bench ON sh.s = bench.s
      WHERE sh.doc_id >= 25 GROUP BY 1 HAVING COUNT(*) >= 2"""))

  /** Temporal leave-last-k holdout split on the events stream: per user,
    * the latest 3 events (ties by event_id desc) are held out.
    */
  private val q115 = Q(
    "q115_leave_last_k",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Sampling.leaveLastKSplit(raw, "user_id", "ts", "event_id", k = 3)
        .select(col("user_id"), col("event_id"),
          EventTime.epochMillis(raw, "ts").as("ts_ms"), col("value"), col("split"))
    },
    Some("""WITH r AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
        FROM events)
      SELECT user_id, event_id, ts_ms, value,
        CASE WHEN rn <= 3 THEN 'test' ELSE 'train' END AS split FROM r"""))

  /** Edit-distance-verified near-dup pairs: q22's MinHash+LSH candidates
    * adjudicated by exact Levenshtein <= 200 (Spark's banded threshold
    * variant; DuckDB computes the full distance — same verdict).
    */
  private val q116 = Q(
    "q116_edit_verified",
    (spark, dir) =>
      Dedup.editVerifiedPairs(pq(spark, dir, "documents"), "doc_id", "text", maxDist = 200),
    Some {
      val mins = (0 until 16)
        .map(i => s"MIN(substr(h, ${i + 1}, 15)) m$i")
        .mkString(", ")
      val bands = (0 until 4).map { b =>
        val cols = (0 until 4).map(r => s"m${b * 4 + r}").mkString(", ")
        s"SELECT doc_id, $b band, md5(concat_ws('|', $cols)) bucket FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS s
        FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) g FROM toks)),
      hh AS (SELECT doc_id, md5(s) h FROM sh),
      sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id),
      bands AS ($bands),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
      SELECT c.id_a, c.id_b, levenshtein(x.text, y.text)::BIGINT AS edit_dist
      FROM cand c JOIN documents x ON x.doc_id = c.id_a
      JOIN documents y ON y.doc_id = c.id_b
      WHERE levenshtein(x.text, y.text) <= 200"""
    })

  /** Per-document OOV rate against the corpus's own top-500 vocabulary. */
  private val q117 = Q(
    "q117_oov_rate",
    (spark, dir) =>
      TextOps.oovRate(pq(spark, dir, "documents"), Seq("doc_id"), "text", vocabSize = 500),
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) token
        FROM documents),
      cnt AS (SELECT token, COUNT(*) c FROM tok GROUP BY 1),
      vocab AS (SELECT token FROM cnt ORDER BY c DESC, token ASC LIMIT 500),
      j AS (SELECT t.doc_id, v.token IS NOT NULL AS inv
        FROM tok t LEFT JOIN vocab v ON t.token = v.token)
      SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
        SUM(CASE WHEN inv THEN 0 ELSE 1 END)::BIGINT AS n_oov,
        ROUND(SUM(CASE WHEN inv THEN 0 ELSE 1 END)::DOUBLE / COUNT(*), 4) AS oov_ratio
      FROM j GROUP BY 1"""))

  /** Corpus-overlap estimation between sources from per-source MinHash
    * signatures — no row-level pair join; the signature table has one row
    * per source.
    */
  private val q118 = Q(
    "q118_corpus_overlap",
    (spark, dir) =>
      Sketch.corpusOverlap(pq(spark, dir, "documents"), "source", "text"),
    Some {
      val mins = (0 until 16)
        .map(i => s"MIN(substr(h, ${i + 1}, 15)) m$i")
        .mkString(", ")
      val agree = (0 until 16)
        .map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH toks AS (SELECT source, string_split(trim(text), ' ') ws FROM documents),
      sh AS (SELECT source, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS s
        FROM (SELECT source, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) g FROM toks)),
      hh AS (SELECT source, md5(s) h FROM sh),
      sig AS (SELECT source, $mins FROM hh GROUP BY source)
      SELECT a.source AS grp_a, b.source AS grp_b,
        ($agree)::BIGINT AS n_agree,
        ROUND(($agree)::DOUBLE / 16, 4) AS est_jaccard
      FROM sig a JOIN sig b ON a.source < b.source"""
    })

  /** Perceptual-hash near-dup pairs over image payloads: the aHash bits
    * (exact-integer thresholding over the stubbed deterministic decode)
    * feed the existing SimHash prefix-blocked Hamming join. The stub
    * decode is locality-preserving only for identical payloads (a real
    * decoder adds resize/re-encode tolerance), so re-uploaded copies are
    * injected: every doc_id < 20 reappears under id + 1000000.
    */
  private val q119 = Q(
    "q119_phash_neardup",
    (spark, dir) => {
      val base = pq(spark, dir, "documents").select(col("doc_id"), col("text"))
      val reupload = base.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val d = base.unionByName(reupload)
        .withColumn("payload", encode(col("text"), "UTF-8"))
      val ph = Multimodal.perceptualHash(d, "doc_id", "payload")
      Dedup.simhashPairs(ph, prefixBits = 16, maxHamming = 8)
        .withColumn("hamming", col("hamming").cast("int"))
    },
    Some {
      val hsel = "CASE WHEN k < 16 THEN h0 WHEN k < 32 THEN h1 WHEN k < 48 THEN h2 ELSE h3 END"
      s"""WITH docs AS (SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 20),
      h AS (SELECT doc_id, md5(text || '-p0') h0, md5(text || '-p1') h1,
        md5(text || '-p2') h2, md5(text || '-p3') h3 FROM docs),
      px AS (SELECT doc_id, k,
        (16 * (instr('0123456789abcdef', substr($hsel, (k % 16) * 2 + 1, 1)) - 1)
           + (instr('0123456789abcdef', substr($hsel, (k % 16) * 2 + 2, 1)) - 1)) p
        FROM (SELECT doc_id, h0, h1, h2, h3, unnest(generate_series(0, 63)) k FROM h)),
      s AS (SELECT doc_id, SUM(p) sp FROM px GROUP BY 1),
      ph AS (SELECT px.doc_id,
        string_agg(CASE WHEN p * 64 > sp THEN '1' ELSE '0' END, '' ORDER BY k) phash
        FROM px JOIN s USING (doc_id) GROUP BY px.doc_id),
      pr AS (SELECT a.doc_id ia, a.phash sa, b.doc_id ib, b.phash sb FROM ph a
        JOIN ph b ON substr(a.phash, 1, 16) = substr(b.phash, 1, 16) AND a.doc_id < b.doc_id)
      SELECT ia AS id_a, ib AS id_b,
        len(list_filter(generate_series(1, 64), g -> substr(sa, g::INT, 1) <> substr(sb, g::INT, 1)))::INT AS hamming
      FROM pr
      WHERE len(list_filter(generate_series(1, 64), g -> substr(sa, g::INT, 1) <> substr(sb, g::INT, 1))) <= 8"""
    })

  /** Packing-efficiency forecast per source at seqLen 2048 over the
    * n_chars length column.
    */
  private val q120 = Q(
    "q120_packing_efficiency",
    (spark, dir) =>
      Corpus.packingEfficiency(pq(spark, dir, "documents"), "source", "n_chars", seqLen = 2048),
    Some("""SELECT source AS grp, COUNT(*)::BIGINT AS n_docs,
      SUM(n_chars)::BIGINT AS n_tokens,
      SUM((n_chars + 2047) // 2048)::BIGINT AS n_seqs_padded,
      ((SUM(n_chars) + 2047) // 2048)::BIGINT AS n_seqs_packed,
      ROUND(SUM(n_chars)::DOUBLE / (SUM((n_chars + 2047) // 2048) * 2048), 4) AS util_padded,
      ROUND(SUM(n_chars)::DOUBLE / (((SUM(n_chars) + 2047) // 2048) * 2048), 4) AS util_packed,
      (SUM((n_chars + 2047) // 2048) - ((SUM(n_chars) + 2047) // 2048))::BIGINT AS seqs_saved
      FROM documents GROUP BY 1"""))

  /** First three BPE merges learned from the corpus — the Spark side runs
    * the driver-looped merge rounds; the oracle replays all three rounds
    * as chained CTEs (pair count → top-1 → literal replace), agreeing
    * because left-to-right non-overlapping replace IS the greedy BPE fold
    * in both engines.
    */
  private val q121 = Q(
    "q121_bpe_merges",
    (spark, dir) =>
      TextOps.bpeMerges(pq(spark, dir, "documents"), "text", rounds = 3),
    Some {
      val rounds = 3
      val sep = "chr(31)"
      val stages = (1 to rounds).map { r =>
        val pair =
          s"""p$r AS (SELECT sy[i] a, sy[i+1] b, SUM(c)::BIGINT cnt
            FROM (SELECT sy, c, unnest(generate_series(1, len(sy) - 1)) i
              FROM (SELECT string_split(substr(rep, 2, length(rep) - 2), $sep || $sep) sy, c
                FROM r$r))
            GROUP BY 1, 2),
          t$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1)"""
        val next =
          if (r == rounds) ""
          else s""",
          r${r + 1} AS (SELECT replace(rep, $sep || t$r.a || $sep || $sep || t$r.b || $sep,
            $sep || t$r.a || t$r.b || $sep) rep, c FROM r$r, t$r)"""
        pair + next
      }.mkString(",\n          ")
      val out = (1 to rounds)
        .map(r => s"SELECT $r AS round, a AS sym_a, b AS sym_b, cnt FROM t$r")
        .mkString(" UNION ALL ")
      s"""WITH wc AS (SELECT w, COUNT(*) c
          FROM (SELECT unnest(string_split(trim(text), ' ')) w FROM documents)
          WHERE length(w) > 0 GROUP BY 1),
        r1 AS (SELECT $sep || array_to_string(string_split(w, ''), $sep || $sep) || $sep AS rep, c
          FROM wc),
        $stages
        $out"""
    })

  /** Video near-dup via shared frame fingerprints: re-uploads (full copy)
    * and clips (256-byte prefix — shares the first two sampled frames)
    * injected over the corpus payloads.
    */
  private val q122 = Q(
    "q122_video_overlap",
    (spark, dir) => {
      val base = pq(spark, dir, "documents").select(col("doc_id"), col("text"))
      val reups = base.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val clips = base.filter(col("doc_id") < 15)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          expr("substring(text, 1, 256)").as("text"))
      val d = base.unionByName(reups).unionByName(clips)
        .withColumn("payload", encode(col("text"), "UTF-8"))
      Multimodal.frameOverlapPairs(d, "doc_id", "payload", 64, 2, minShared = 2L)
    },
    Some("""WITH docs AS (SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10
        UNION ALL SELECT doc_id + 2000000, substring(text, 1, 256) FROM documents WHERE doc_id < 15),
      fr AS (SELECT DISTINCT doc_id, md5(substr(text, (g * 64 + 1)::INT, 64)) fh
        FROM (SELECT doc_id, text,
          unnest(generate_series(0, greatest((length(text) // 64) - 1, 0), 2)) g FROM docs)),
      sz AS (SELECT doc_id, COUNT(*) nf FROM fr GROUP BY 1),
      cm AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c FROM fr a
        JOIN fr b ON a.fh = b.fh AND a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT ia AS id_a, ib AS id_b, c::BIGINT AS shared,
        x.nf::BIGINT AS nf_a, y.nf::BIGINT AS nf_b,
        ROUND(c::DOUBLE / x.nf, 4) AS overlap_a, ROUND(c::DOUBLE / y.nf, 4) AS overlap_b
      FROM cm JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      WHERE c >= 2"""))

  /** Data-quality expectation gate over lineitem: six declarative checks
    * compiled to one aggregation pass; l_discount and l_linestatus checks
    * are deliberately violated so both verdicts appear.
    */
  private val q123 = Q(
    "q123_expectations",
    (spark, dir) =>
      Corpus.expectations(pq(spark, dir, "lineitem"), Seq(
        Corpus.Check.NotNull("l_orderkey"),
        Corpus.Check.InRange("l_quantity", 1, 50),
        Corpus.Check.InRange("l_discount", 0, 0.05),
        Corpus.Check.Accepted("l_returnflag", Seq("A", "N", "R")),
        Corpus.Check.Matches("l_linestatus", "^O$"),
        Corpus.Check.Unique(Seq("l_orderkey", "l_linenumber")))),
    Some("""SELECT "check", "column", n_violations, n_violations = 0 AS passed FROM (
      SELECT 'not_null' AS "check", 'l_orderkey' AS "column",
        SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_violations FROM lineitem
      UNION ALL SELECT 'in_range', 'l_quantity',
        SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)::BIGINT FROM lineitem
      UNION ALL SELECT 'in_range', 'l_discount',
        SUM(CASE WHEN l_discount < 0 OR l_discount > 0.05 THEN 1 ELSE 0 END)::BIGINT FROM lineitem
      UNION ALL SELECT 'accepted', 'l_returnflag',
        SUM(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END)::BIGINT FROM lineitem
      UNION ALL SELECT 'matches', 'l_linestatus',
        SUM(CASE WHEN l_linestatus IS NOT NULL AND NOT regexp_matches(l_linestatus, '^O$') THEN 1 ELSE 0 END)::BIGINT FROM lineitem
      UNION ALL SELECT 'unique', 'l_orderkey,l_linenumber',
        (COUNT(*) - COUNT(DISTINCT concat_ws('|', l_orderkey, l_linenumber)))::BIGINT FROM lineitem)"""))

  /** KMV as a mergeable typed Aggregator (map-side partial aggregation;
    * k hashes per group per task cross the wire instead of every distinct
    * hash row) — same oracle as q62: the two formulations are
    * output-identical by construction.
    */
  private val q124 = Q(
    "q124_kmv_udaf",
    (spark, dir) => {
      val toks = pq(spark, dir, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      toks.groupBy(col("source"))
        .agg(graft.functions.KmvAgg.kmv(64)(col("tok")).as("s"))
        .select(col("source"), col("s.k").as("k"), col("s.n_kept").as("n_kept"),
          col("s.kth_hash").as("kth_hash"), col("s.est_distinct").as("est_distinct"))
    },
    Some("""WITH t AS (SELECT source, unnest(string_split(trim(text), ' ')) tok
        FROM documents),
      d AS (SELECT DISTINCT source, md5(tok) h FROM t),
      r AS (SELECT source, h,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) rn FROM d),
      g AS (SELECT source, COUNT(*) n_kept,
        MAX(CASE WHEN rn = 64 THEN h END) kth FROM r WHERE rn <= 64 GROUP BY 1)
      SELECT source, 64 AS k, n_kept::BIGINT AS n_kept, kth AS kth_hash,
        CAST(CASE WHEN kth IS NULL THEN n_kept
          ELSE ROUND(63.0 * 4294967296.0 / (('0x' || substr(kth, 1, 8))::UBIGINT + 1.0))
          END AS BIGINT) AS est_distinct
      FROM g"""))

  /** Bucketized interval join: follow-on events per user within 30
    * minutes (strictly after). The oracle is the plain non-equi join —
    * the bucketed plan must reproduce it exactly, pair for pair.
    */
  private val q125 = Q(
    "q125_interval_join",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val e = raw.select(col("user_id"), col("event_id"),
        EventTime.epochMillis(raw, "ts").as("ts_ms"))
      TemporalJoin.intervalJoin(e, e, Seq("user_id"), "ts_ms",
          lowerMs = 1L, upperMs = 1800000L)
        .select(col("user_id"), col("event_id"), col("ts_ms"),
          col("event_id_r"), col("ts_ms_r"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) tms FROM events)
      SELECT a.user_id, a.event_id, a.tms AS ts_ms, b.event_id AS event_id_r,
        b.tms AS ts_ms_r
      FROM e a JOIN e b ON a.user_id = b.user_id
        AND b.tms >= a.tms + 1 AND b.tms <= a.tms + 1800000"""))

  /** Rank-biased overlap of approximate vs exact ANN rankings: lshTopK
    * scored against bruteForceTopK per query — the approximation-quality
    * audit as a first-class query. Weights are driver-floored nano
    * constants inlined in both engines.
    */
  private val q126 = Q(
    "q126_rbo_ann",
    (spark, dir) => {
      val emb = pq(spark, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(
        emb, qs, "vec_id", "embedding", "vec_id", "embedding", k = 5)
      val approx = Similarity.lshTopK(
        emb, qs, "vec_id", "embedding", "vec_id", "embedding", k = 5, planes = 4)
      Similarity.rankBiasedOverlap(exact, approx, "query_id", "nbr_id", "rank", k = 5)
    },
    Some {
      // identical fp recipe to rankBiasedOverlap's: (1 - p) in DOUBLE is
      // 0.09999999999999998, not 0.1 — the floored nanos must match
      val w = (1 to 5).map(d => math.floor((1 - 0.9) * math.pow(0.9, d - 1) * 1e9).toLong)
      val wCase = "CASE d " + w.zipWithIndex.map { case (v, i) => s"WHEN ${i + 1} THEN $v" }
        .mkString(" ") + " END"
      s"""WITH bq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] qv FROM embeddings WHERE vec_id < 10),
        bc AS (SELECT vec_id AS nbr_id, embedding::DOUBLE[] cv FROM embeddings),
        bs AS (SELECT query_id, nbr_id,
          ROUND(list_dot_product(cv, qv) /
            (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 6) AS score
          FROM bc, bq WHERE nbr_id <> query_id),
        ex AS (SELECT query_id, rnk, nbr_id FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, nbr_id) AS rnk FROM bs)
          WHERE rnk <= 5),
        e2 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        bb AS (SELECT vec_id, ${srpBucketSql(4, "v")} bk, v FROM e2),
        qq AS (SELECT vec_id AS query_id, bk, v qv FROM bb WHERE vec_id < 10),
        ls AS (SELECT qq.query_id, c.vec_id nbr_id,
          ROUND(list_dot_product(c.v, qq.qv) /
            (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(qq.qv, qq.qv))), 6) AS score
          FROM bb c JOIN qq ON c.bk = qq.bk AND c.vec_id <> qq.query_id),
        ap AS (SELECT query_id, rnk, nbr_id FROM
          (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, nbr_id) AS rnk FROM ls)
          WHERE rnk <= 5),
        mm AS (SELECT ex.query_id qid, GREATEST(ex.rnk, ap.rnk) m
          FROM ex JOIN ap ON ex.query_id = ap.query_id AND ex.nbr_id = ap.nbr_id),
        xd AS (SELECT qid, d, COUNT(*) x
          FROM (SELECT qid, unnest(generate_series(m, 5)) d FROM mm) GROUP BY 1, 2),
        tt AS (SELECT qid, SUM(($wCase * x) // d) rbo,
          MAX(CASE WHEN d = 5 THEN x END) ok FROM xd GROUP BY 1),
        qs AS (SELECT DISTINCT query_id qid FROM ex)
      SELECT qs.qid AS qid, COALESCE(rbo, 0)::BIGINT AS rbo_nano,
        COALESCE(ok, 0)::BIGINT AS overlap_k,
        ROUND(COALESCE(ok, 0)::DOUBLE / 5, 4) AS recall_k
      FROM qs LEFT JOIN tt ON tt.qid = qs.qid"""
    })

  /** Count-min sketch over the token stream (depth 4 × width 512) probed
    * with the tokens of the first three documents, next to their exact
    * counts — the never-underestimates property is visible in the output.
    */
  private val q127 = Q(
    "q127_cms_frequency",
    (spark, dir) => {
      val toks = pq(spark, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      val sketch = Sketch.cmsSketch(toks, col("tok"), depth = 4, width = 512)
      val probes = toks.filter(col("doc_id") < 3).select(col("tok")).distinct()
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
      Sketch.cmsEstimate(sketch, probes, "tok", depth = 4, width = 512)
        .join(exact.withColumnRenamed("tok", "probe"), Seq("probe"))
        .select(col("probe").as("token"), col("exact_cnt"), col("cms_est"))
    },
    Some {
      val buckets = (0 until 4).map { d =>
        s"SELECT $d AS d, ('0x' || substr(md5('cms$d' || '|' || tok), 1, 8))::UBIGINT % 512 AS bucket, tok FROM t"
      }.mkString(" UNION ALL ")
      s"""WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) tok FROM documents),
        cells AS ($buckets),
        sk AS (SELECT d, bucket, COUNT(*) cnt FROM cells GROUP BY 1, 2),
        probes AS (SELECT DISTINCT tok FROM t WHERE doc_id < 3),
        pb AS (SELECT p.tok, c.d,
          ('0x' || substr(md5('cms' || c.d || '|' || p.tok), 1, 8))::UBIGINT % 512 AS bucket
          FROM probes p, (SELECT unnest(generate_series(0, 3)) d) c),
        est AS (SELECT pb.tok, MIN(COALESCE(sk.cnt, 0)) e
          FROM pb LEFT JOIN sk ON sk.d = pb.d AND sk.bucket = pb.bucket GROUP BY 1),
        ex AS (SELECT tok, COUNT(*) exact_cnt FROM t GROUP BY 1)
      SELECT est.tok AS token, ex.exact_cnt::BIGINT AS exact_cnt, est.e::BIGINT AS cms_est
      FROM est JOIN ex ON ex.tok = est.tok"""
    })

  /** Deterministic 15% token dropout: the augmentation decision is
    * md5(salt|doc|position) — both engines filter on the same indexed
    * lambda (DuckDB 1-based list_filter index = the op's 1-based
    * position).
    */
  private val q128 = Q(
    "q128_augment_dropout",
    (spark, dir) =>
      TextOps.augmentDropout(pq(spark, dir, "documents"), Seq("doc_id"), "text",
        dropProb = 0.15, salt = "ep1"),
    Some {
      val t = math.floor(0.15 * 65536).toLong // 9830
      s"""WITH w AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
        k AS (SELECT doc_id, ws, list_filter(ws, (x, i) ->
          ('0x' || substr(md5('ep1' || '|' || doc_id || '|' || i), 1, 4))::UBIGINT >= $t) kept
          FROM w)
      SELECT doc_id, array_to_string(kept, ' ') AS aug_text,
        len(ws)::BIGINT AS n_tokens, len(kept)::BIGINT AS n_kept FROM k"""
    })

  /** BPE learn→encode composition: the 3 merges q121 learns, applied back
    * to the corpus. The oracle replays BOTH halves — the q121 learning
    * CTE chain, then per-word application of the three learned replaces
    * in round order — because left-to-right non-overlapping literal
    * replace is the greedy BPE fold in both engines.
    */
  private val q129 = Q(
    "q129_bpe_encode",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      TextOps.bpeEncode(docs, Seq("doc_id"), "text", TextOps.bpeMerges(docs, "text", rounds = 3))
    },
    Some(bpeEncodeOracleSql(3)))

  /** DuckDB replay of learn-then-encode BPE at `rounds` merges: learn
    * the merge table from the word-frequency table (one top-1 per
    * round), then apply the rounds to every word in order. Shared by
    * q129 (literal-replace engine path) and q306 (the large-vocab
    * min-rank encoder — parity-locked to the literal path on learned
    * tables, so the SAME oracle gates both).
    */
  private def bpeEncodeOracleSql(rounds: Int): String = {
      val sep = "chr(31)"
      val stages = (1 to rounds).map { r =>
        val pair =
          s"""p$r AS (SELECT sy[i] a, sy[i+1] b, SUM(c)::BIGINT cnt
            FROM (SELECT sy, c, unnest(generate_series(1, len(sy) - 1)) i
              FROM (SELECT string_split(substr(rep, 2, length(rep) - 2), $sep || $sep) sy, c
                FROM r$r))
            GROUP BY 1, 2),
          t$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1)"""
        val next =
          if (r == rounds) ""
          else s""",
          r${r + 1} AS (SELECT replace(rep, $sep || t$r.a || $sep || $sep || t$r.b || $sep,
            $sep || t$r.a || t$r.b || $sep) rep, c FROM r$r, t$r)"""
        pair + next
      }.mkString(",\n          ")
      val applies = (1 to rounds).map { r =>
        s"""e$r AS (SELECT doc_id, i, replace(rep, $sep || t$r.a || $sep || $sep || t$r.b || $sep,
          $sep || t$r.a || t$r.b || $sep) rep FROM e${r - 1}, t$r)"""
      }.mkString(",\n          ")
      s"""WITH wc AS (SELECT w, COUNT(*) c
          FROM (SELECT unnest(string_split(trim(text), ' ')) w FROM documents)
          WHERE length(w) > 0 GROUP BY 1),
        r1 AS (SELECT $sep || array_to_string(string_split(w, ''), $sep || $sep) || $sep AS rep, c
          FROM wc),
        $stages,
        dw AS (SELECT doc_id, g i, ws[g] w
          FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) g
            FROM (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents))
          WHERE length(ws[g]) > 0),
        e0 AS (SELECT doc_id, i,
          $sep || array_to_string(string_split(w, ''), $sep || $sep) || $sep AS rep FROM dw),
        $applies,
        sy AS (SELECT doc_id, i,
          string_split(substr(rep, 2, length(rep) - 2), $sep || $sep) syms FROM e$rounds),
        agg AS (SELECT doc_id, string_agg(array_to_string(syms, ' '), ' ' ORDER BY i) bpe_text,
          SUM(len(syms))::BIGINT n FROM sy GROUP BY 1)
        SELECT d.doc_id, COALESCE(agg.bpe_text, '') AS bpe_text,
          COALESCE(agg.n, 0)::BIGINT AS n_bpe_tokens
        FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id"""
  }

  /** Audio near-dup: delta-sign fingerprints over payload windows feeding
    * the standard prefix-blocked Hamming pair join. Injected: 12
    * re-uploads (identical payload → Hamming 0) and 8 tail-append
    * "remixes" (few flipped delta bits near the old tail → small
    * Hamming). Single-pass content-prefix blocking by design — see the
    * [[graft.ops.Multimodal.audioFingerprint]] stub caveat.
    */
  private val q130 = Q(
    "q130_audio_neardup",
    (spark, dir) => {
      val base = pq(spark, dir, "documents").select(col("doc_id"), col("text"))
      val reups = base.filter(col("doc_id") < 12)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val remixes = base.filter(col("doc_id") < 8)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" remix")).as("text"))
      val d = base.unionByName(reups).unionByName(remixes)
        .withColumn("payload", encode(col("text"), "UTF-8"))
      val fp = Multimodal.audioFingerprint(d, "doc_id", "payload", windowBytes = 8)
      Dedup.simhashPairs(fp, prefixBits = 16, maxHamming = 4)
        .withColumn("hamming", col("hamming").cast("int"))
    },
    Some("""WITH docs AS (SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 12
        UNION ALL SELECT doc_id + 2000000, text || ' remix' FROM documents WHERE doc_id < 8),
      en AS (SELECT doc_id, list_transform(generate_series(0, 64), k ->
          ('0x' || substr(md5(substr(text, (k*8 + 1)::INT, 8)), 1, 8))::BIGINT) e FROM docs),
      fp AS (SELECT doc_id, array_to_string(list_transform(generate_series(1, 64), i ->
          CASE WHEN e[i+1] > e[i] THEN '1' ELSE '0' END), '') simhash FROM en),
      p AS (SELECT a.doc_id ia, a.simhash sa, b.doc_id ib, b.simhash sb FROM fp a
        JOIN fp b ON substr(a.simhash, 1, 16) = substr(b.simhash, 1, 16) AND a.doc_id < b.doc_id)
      SELECT ia AS id_a, ib AS id_b,
        len(list_filter(generate_series(1, 64), g -> substr(sa, g::INT, 1) <> substr(sb, g::INT, 1)))::INT AS hamming
      FROM p
      WHERE len(list_filter(generate_series(1, 64), g -> substr(sa, g::INT, 1) <> substr(sb, g::INT, 1))) <= 4"""))

  /** Nearest-event forward join: each event's NEXT event for the same
    * user within 30 minutes (strictly after), one row per left event,
    * unmatched events kept with NULLs. Oracle replays the argmin as a
    * row_number over the plain range join with the operator's exact
    * (|Δ|, right ts, right payload) tie order.
    */
  private val q131 = Q(
    "q131_nearest_join",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val e = raw.select(col("user_id"), col("event_id"),
        EventTime.epochMillis(raw, "ts").as("ts_ms"))
      TemporalJoin.nearestJoin(e, e, Seq("user_id"), "ts_ms",
          leftIdCols = Seq("event_id"), lowerMs = 1L, upperMs = 1800000L)
        .select(col("user_id"), col("event_id"), col("ts_ms"),
          col("event_id_r"), col("ts_ms_r"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) tms FROM events),
      c AS (SELECT a.event_id ia, b.event_id eb, b.tms tb,
          ROW_NUMBER() OVER (PARTITION BY a.event_id
            ORDER BY abs(b.tms - a.tms), b.tms, b.event_id) rn
        FROM e a JOIN e b ON a.user_id = b.user_id
          AND b.tms >= a.tms + 1 AND b.tms <= a.tms + 1800000)
      SELECT e.user_id, e.event_id, e.tms AS ts_ms,
        c.eb AS event_id_r, c.tb AS ts_ms_r
      FROM e LEFT JOIN (SELECT * FROM c WHERE rn = 1) c ON c.ia = e.event_id"""))

  /** CM-inner-product join-size pre-flight: events⋈orders cardinality
    * estimated from two fixed-memory sketches, exact count alongside —
    * the never-underestimates guarantee is visible in the output.
    */
  private val q132 = Q(
    "q132_cms_join_size",
    (spark, dir) => {
      val ev = pq(spark, dir, "events").select(col("user_id"))
      val ord = pq(spark, dir, "orders").select(col("o_custkey"))
      val est = Sketch.cmsJoinSize(
        Sketch.cmsSketch(ev, col("user_id"), depth = 4, width = 8192),
        Sketch.cmsSketch(ord, col("o_custkey"), depth = 4, width = 8192),
        depth = 4)
      val exact = ev.join(ord, ev("user_id") === ord("o_custkey"))
        .agg(count(lit(1)).as("exact_join_size"))
      est.crossJoin(exact)
    },
    Some {
      val bucketsA = (0 until 4).map(d =>
        s"SELECT $d AS d, ('0x' || substr(md5('cms$d' || '|' || user_id), 1, 8))::UBIGINT % 8192 AS bucket FROM events WHERE user_id IS NOT NULL")
        .mkString(" UNION ALL ")
      val bucketsB = (0 until 4).map(d =>
        s"SELECT $d AS d, ('0x' || substr(md5('cms$d' || '|' || o_custkey), 1, 8))::UBIGINT % 8192 AS bucket FROM orders WHERE o_custkey IS NOT NULL")
        .mkString(" UNION ALL ")
      s"""WITH ska AS (SELECT d, bucket, COUNT(*) cnt FROM ($bucketsA) GROUP BY 1, 2),
        skb AS (SELECT d, bucket, COUNT(*) cnt FROM ($bucketsB) GROUP BY 1, 2),
        pr AS (SELECT a.d, SUM(a.cnt * b.cnt) s FROM ska a JOIN skb b USING (d, bucket) GROUP BY 1),
        sp AS (SELECT unnest(generate_series(0, 3)) d),
        est AS (SELECT MIN(COALESCE(s, 0)) e FROM sp LEFT JOIN pr USING (d)),
        ex AS (SELECT COUNT(*) c FROM events e JOIN orders o ON e.user_id = o.o_custkey)
      SELECT est.e::BIGINT AS est_join_size, ex.c::BIGINT AS exact_join_size FROM est, ex"""
    })

  /** Content-defined chunk dedup: corpus + 10 head-edited copies; CDC
    * boundaries re-synchronize after the edit, so nearly all of a copy's
    * chunks hash-match the original (visible as n_shared ≈ n_chunks).
    * Oracle replays boundary rule, bounds, slicing, and the shared-hash
    * rollup.
    */
  private val q133 = Q(
    "q133_cdc_chunks",
    (spark, dir) => {
      val base = pq(spark, dir, "documents").select(col("doc_id"), col("text"))
      val edited = base.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("EDITEDTOKEN "), col("text")).as("text"))
      // Checkpointed (round 16): the chunk table feeds both the shared-hash
      // rollup and the join side — without it the tokenize + per-position
      // md5 chunking pass runs twice.
      val ch = TextOps.cdcChunks(base.unionByName(edited), Seq("doc_id"), "text",
        window = 3, avgChunkTokens = 8).localCheckpoint(true)
      val nd = ch.groupBy(col("chunk_hash"))
        .agg(countDistinct(col("doc_id")).as("__nd"))
      ch.join(nd, "chunk_hash")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_shared"))
    },
    Some("""WITH docs AS (SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 1000000, 'EDITEDTOKEN ' || text FROM documents WHERE doc_id < 10),
      t AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), w -> length(w) > 0) ws FROM docs),
      b AS (SELECT doc_id, ws,
          list_concat(list_filter(generate_series(1, len(ws) - 1), i ->
            ('0x' || substr(md5(array_to_string(ws[greatest(i - 2, 1):i], ' ')), 1, 4))::UBIGINT < 8192),
            [len(ws)]) bounds
        FROM t WHERE len(ws) >= 1),
      ch AS (SELECT doc_id, md5(array_to_string(
          ws[(CASE WHEN j = 1 THEN 0 ELSE bounds[j-1] END) + 1:bounds[j]], ' ')) h
        FROM (SELECT doc_id, ws, bounds, unnest(generate_series(1, len(bounds))) j FROM b)),
      nd AS (SELECT h, COUNT(DISTINCT doc_id) ndocs FROM ch GROUP BY 1)
      SELECT c.doc_id, COUNT(*)::BIGINT AS n_chunks,
        SUM(CASE WHEN nd.ndocs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared
      FROM ch c JOIN nd USING (h) GROUP BY 1"""))

  /** SFT chat-contract validation over synthesized conversations (five
    * deterministic variants per doc: valid-with-system, valid-bare,
    * double-user, blank assistant turn, truncated before the reply).
    * Oracle replays every rule in the same first-violation order.
    */
  private val q134 = Q(
    "q134_chat_checks",
    (spark, dir) => {
      def mk(role: String, c: Column) = struct(lit(role).as("role"), c.as("content"))
      val sys = mk("system", lit("You are helpful"))
      val base = pq(spark, dir, "documents").select(col("doc_id"),
          filter(TextOps.tokens(col("text")), w => length(w) > 0).as("ws"))
        .withColumn("u",
          array_join(slice(col("ws"), lit(1), least(size(col("ws")), lit(5))), " "))
        .withColumn("a",
          array_join(slice(col("ws"), greatest(size(col("ws")) - 4, lit(1)),
            least(size(col("ws")), lit(5))), " "))
      val v = pmod(col("doc_id"), lit(5))
      val msgs = when(v === 0, array(sys, mk("user", col("u")), mk("assistant", col("a"))))
        .when(v === 1, array(mk("user", col("u")), mk("assistant", col("a"))))
        .when(v === 2,
          array(mk("user", col("u")), mk("user", col("u")), mk("assistant", col("a"))))
        .when(v === 3, array(mk("user", col("u")), mk("assistant", lit(""))))
        .otherwise(array(sys, mk("user", col("u"))))
      Chat.chatChecks(base.withColumn("msgs", msgs), Seq("doc_id"), "msgs")
    },
    Some("""WITH t AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), w -> length(w) > 0) ws FROM documents),
      p AS (SELECT doc_id, array_to_string(ws[1:least(len(ws), 5)], ' ') u,
          array_to_string(ws[greatest(len(ws) - 4, 1):len(ws)], ' ') a FROM t),
      c AS (SELECT doc_id, CASE (doc_id % 5)
          WHEN 0 THEN [{'role': 'system', 'content': 'You are helpful'}, {'role': 'user', 'content': u}, {'role': 'assistant', 'content': a}]
          WHEN 1 THEN [{'role': 'user', 'content': u}, {'role': 'assistant', 'content': a}]
          WHEN 2 THEN [{'role': 'user', 'content': u}, {'role': 'user', 'content': u}, {'role': 'assistant', 'content': a}]
          WHEN 3 THEN [{'role': 'user', 'content': u}, {'role': 'assistant', 'content': ''}]
          ELSE [{'role': 'system', 'content': 'You are helpful'}, {'role': 'user', 'content': u}]
          END msgs FROM p),
      chk AS (SELECT doc_id, msgs, len(msgs) n,
          list_transform(msgs, x -> x.role) roles,
          CASE WHEN msgs[1].role = 'system' THEN msgs[2:] ELSE msgs END body
        FROM c),
      flg AS (SELECT *, list_transform(generate_series(1, len(body)), i ->
          body[i].role <> (CASE WHEN i % 2 = 1 THEN 'user' ELSE 'assistant' END)) altflags FROM chk),
      iss AS (SELECT doc_id, n, msgs,
        CASE WHEN n = 0 THEN 'empty'
          WHEN roles[1] NOT IN ('system', 'user') THEN 'bad_first_role'
          WHEN len(body) = 0 OR list_contains(altflags, true) THEN 'role_alternation'
          WHEN len(list_filter(msgs, x -> length(trim(x.content)) = 0)) > 0 THEN 'empty_content'
          WHEN roles[n] <> 'assistant' THEN 'no_assistant_end'
          END issue FROM flg)
      SELECT doc_id, n::BIGINT AS n_turns, issue IS NULL AS valid, issue,
        CASE WHEN issue IS NULL THEN array_to_string(list_transform(msgs, x -> x.role || ': ' || x.content), chr(10)) END AS chat_text
      FROM iss"""))

  /** HITS SQL replay: unrolled `a ← Eᵀh; h ← E·a` rounds with the same
    * exact integer L1 normalization (floor division, non-negative) as
    * [[graft.ops.Graph.hits]].
    */
  private def hitsOracleSql(iters: Int): String = {
    val U = 1000000L
    val head = s"""WITH ed AS (SELECT DISTINCT user_id AS src,
        100000000 + json_extract(props, '$$.k')::BIGINT AS dst FROM events
        WHERE user_id IS NOT NULL AND json_extract(props, '$$.k') IS NOT NULL),
      nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed)),
      h0 AS (SELECT node, $U::BIGINT AS h FROM nodes)"""
    val iterCtes = (1 to iters).map { i =>
      s""", ar$i AS (SELECT ed.dst AS node, SUM(p.h) AS ar FROM ed JOIN h${i - 1} p ON ed.src = p.node GROUP BY 1),
      da$i AS (SELECT greatest(COALESCE(SUM(ar), 0) // $U, 1) AS dn FROM ar$i),
      a$i AS (SELECT n0.node, COALESCE(ar.ar, 0) // da$i.dn AS a
        FROM nodes n0 CROSS JOIN da$i LEFT JOIN ar$i ar ON ar.node = n0.node),
      hr$i AS (SELECT ed.src AS node, SUM(p.a) AS hr FROM ed JOIN a$i p ON ed.dst = p.node GROUP BY 1),
      dh$i AS (SELECT greatest(COALESCE(SUM(hr), 0) // $U, 1) AS dn FROM hr$i),
      h$i AS (SELECT n0.node, COALESCE(hr.hr, 0) // dh$i.dn AS h
        FROM nodes n0 CROSS JOIN dh$i LEFT JOIN hr$i hr ON hr.node = n0.node)"""
    }.mkString
    head + iterCtes +
      s""" SELECT h$iters.node, h$iters.h::BIGINT AS hub_micro, a$iters.a::BIGINT AS auth_micro
      FROM h$iters JOIN a$iters ON h$iters.node = a$iters.node"""
  }

  /** HITS hubs/authorities over the same user→item graph as q83 — users
    * are pure hubs (no in-edges), items pure authorities (no
    * out-edges), and the iteration makes the scores refine each other.
    */
  private val q135 = Q(
    "q135_hits",
    (spark, dir) => {
      val ev = pq(spark, dir, "events").select(
        col("user_id"),
        (get_json_object(col("props"), "$.k").cast("long") + 100000000L).as("item"))
      Graph.hits(ev, "user_id", "item", iters = 4)
    },
    Some(hitsOracleSql(4)))

  /** LSH candidate-quality audit: MinHash+LSH candidate pairs scored
    * against the exact Jaccard≥0.5 pair set — recall (missed near-dups)
    * and precision (wasted verifications) as one auditable row. Both
    * pipelines are the exact q21/q22 formulations, so the oracle is
    * their CTEs plus the rollup.
    */
  private val q136 = Q(
    "q136_lsh_audit",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      // NOTE (round 16): checkpointing exact/cand here was A/B'd and
      // reverted — AQE exchange reuse already dedupes the heavy pair
      // pipelines across their two consumers (the query is genuinely
      // CPU-bound: ~107 s of task time at sf0.1 ≈ wall × 32 cores), and
      // the eager barriers only added jobs.
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
        .select(col("id_a"), col("id_b"))
      val cand = Dedup.minhashLshPairs(docs, "doc_id", "text")
      val hit = exact.join(cand, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"), col("n_cand"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_exact"), 4).as("recall"),
          round(col("n_hit").cast("double") / col("n_cand"), 4).as("precision"))
    },
    Some {
      val mins = (0 until 16)
        .map(i => s"MIN(substr(h, ${i + 1}, 15)) m$i")
        .mkString(", ")
      val bands = (0 until 4).map { b =>
        val cols = (0 until 4).map(r => s"m${b * 4 + r}").mkString(", ")
        s"SELECT doc_id, $b band, md5(concat_ws('|', $cols)) bucket FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS s
        FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) g FROM toks)),
      sz AS (SELECT doc_id, COUNT(*) sz FROM sh GROUP BY 1),
      common AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c FROM sh a
        JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      ex AS (SELECT ia AS id_a, ib AS id_b
        FROM common JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
        WHERE ROUND(c::DOUBLE / (x.sz + y.sz - c), 4) >= 0.5),
      hh AS (SELECT doc_id, md5(s) h FROM sh),
      sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id),
      bands AS ($bands),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      hit AS (SELECT ex.id_a, ex.id_b FROM ex JOIN cand USING (id_a, id_b)),
      ne AS (SELECT COUNT(*)::BIGINT n_exact FROM ex),
      nc AS (SELECT COUNT(*)::BIGINT n_cand FROM cand),
      nh AS (SELECT COUNT(*)::BIGINT n_hit FROM hit)
      SELECT n_exact, n_cand, n_hit,
        ROUND(n_hit::DOUBLE / n_exact, 4) AS recall,
        ROUND(n_hit::DOUBLE / n_cand, 4) AS precision
      FROM ne, nc, nh"""
    })

  /** License-marker detection over the corpus with injected rights
    * footers: restrictive markers on docs <20, permissive on 20–39, and
    * one cc-by-nc doc proving restrictive-first precedence.
    */
  private val q137 = Q(
    "q137_license_signals",
    (spark, dir) => {
      val d = pq(spark, dir, "documents").select(col("doc_id"),
        when(col("doc_id") < 20, concat(col("text"), lit(" All Rights Reserved.")))
          .when(col("doc_id") < 40, concat(col("text"), lit(" Licensed under Creative Commons.")))
          .when(col("doc_id") === 40, concat(col("text"), lit(" License: CC-BY-NC 4.0")))
          .otherwise(col("text")).as("text"))
      TextOps.licenseSignals(d, Seq("doc_id"), "text")
    },
    Some(s"""WITH d AS (SELECT doc_id,
        CASE WHEN doc_id < 20 THEN text || ' All Rights Reserved.'
          WHEN doc_id < 40 THEN text || ' Licensed under Creative Commons.'
          WHEN doc_id = 40 THEN text || ' License: CC-BY-NC 4.0'
          ELSE text END AS text FROM documents)
      SELECT doc_id,
        regexp_matches(lower(text), '${TextOps.PermissiveLicensePattern}') AS has_permissive,
        regexp_matches(lower(text), '${TextOps.RestrictiveLicensePattern}') AS has_restrictive,
        CASE WHEN regexp_matches(lower(text), '${TextOps.RestrictiveLicensePattern}') THEN 'restricted'
          WHEN regexp_matches(lower(text), '${TextOps.PermissiveLicensePattern}') THEN 'permissive'
          ELSE 'none' END AS license_class
      FROM d"""))

  /** Embedding QA gate with injected failure modes: NULL vector (id 3),
    * truncated dim (id 5), NaN element (id 7), zero vector (id 11); the
    * rest emit their micro-rounded L2 norms.
    */
  private val q138 = Q(
    "q138_embedding_checks",
    (spark, dir) => {
      val e = pq(spark, dir, "embeddings").select(col("vec_id"),
        when(col("vec_id") === 3, lit(null).cast("array<float>"))
          .when(col("vec_id") === 5, slice(col("embedding"), 1, 10))
          .when(col("vec_id") === 7,
            concat(array(lit(Float.NaN)), slice(col("embedding"), 2, 63)))
          .when(col("vec_id") === 11,
            transform(col("embedding"), _ => lit(0.0f)))
          .otherwise(col("embedding")).as("embedding"))
      Similarity.embeddingChecks(e, "vec_id", "embedding", expectedDim = 64)
        .withColumnRenamed("id", "vec_id")
    },
    Some("""WITH e AS (SELECT vec_id,
        CASE WHEN vec_id = 3 THEN NULL
          WHEN vec_id = 5 THEN embedding[1:10]
          WHEN vec_id = 7 THEN list_concat(['NaN'::FLOAT], embedding[2:64])
          WHEN vec_id = 11 THEN list_transform(embedding, x -> 0.0::FLOAT)
          ELSE embedding END AS v FROM embeddings),
      chk AS (SELECT vec_id, v,
        CASE WHEN v IS NULL THEN 'null_vector'
          WHEN len(v) <> 64 THEN 'bad_dim'
          WHEN len(list_filter(v, x -> x IS NULL OR isnan(x))) > 0 THEN 'bad_element'
          WHEN len(list_filter(v, x -> x <> 0.0)) = 0 THEN 'zero_vector'
          END issue FROM e)
      SELECT vec_id, COALESCE(len(v), 0)::BIGINT AS dim, issue, issue IS NULL AS valid,
        CASE WHEN issue IS NULL THEN CAST(round(sqrt(list_reduce(
          list_prepend(0.0, list_transform(v, x -> x::DOUBLE * x::DOUBLE)),
          (a, b) -> a + b)) * 1e6) AS BIGINT) END AS l2_micro
      FROM chk"""))

  /** Time-series resampling: the 10k-event stream densified to hourly
    * per-user buckets with forward-filled sums — gap buckets are visible
    * as n_events = 0 / NULL sum.
    */
  private val q139 = Q(
    "q139_ts_resample",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val e = raw.select(col("user_id"),
        EventTime.epochMillis(raw, "ts").as("ts_ms"), col("value"))
      TimeSeries.resample(e, Seq("user_id"), "ts_ms", "value", 3600000L)
    },
    Some("""WITH e AS (SELECT user_id,
          (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
          floor(value * 1e6)::BIGINT vm
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL),
      a AS (SELECT user_id, bucket_ms, COUNT(*)::BIGINT n_events,
          SUM(vm)::BIGINT sum_micro FROM e GROUP BY 1, 2),
      sp AS (SELECT user_id, unnest(generate_series(lo, hi, 3600000)) bucket_ms
        FROM (SELECT user_id, MIN(bucket_ms) lo, MAX(bucket_ms) hi
              FROM a GROUP BY 1)),
      j AS (SELECT sp.user_id, sp.bucket_ms,
          COALESCE(a.n_events, 0)::BIGINT n_events, a.sum_micro
        FROM sp LEFT JOIN a USING (user_id, bucket_ms))
      SELECT user_id, bucket_ms, n_events, sum_micro,
        last_value(sum_micro IGNORE NULLS) OVER (PARTITION BY user_id
          ORDER BY bucket_ms
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_micro
      FROM j"""))

  /** PSI drift between pre/post-1998 order snapshots over two numeric
    * columns — the monitoring statistic every production feature pipeline
    * recomputes daily; exact-integer pico units hash across engines.
    */
  private val q140 = Q(
    "q140_psi_drift",
    (spark, dir) => {
      val o = pq(spark, dir, "orders")
      val cut = "1998-01-01"
      Corpus.psi(
        o.filter(col("o_orderdate") < lit(cut)),
        o.filter(col("o_orderdate") >= lit(cut)),
        Seq("o_totalprice", "o_custkey"), bins = 10)
    },
    Some("""WITH sref AS (
        SELECT 'o_totalprice' col_name, o_totalprice::DOUBLE v FROM orders
          WHERE o_orderdate < TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL
        UNION ALL
        SELECT 'o_custkey', o_custkey::DOUBLE FROM orders
          WHERE o_orderdate < TIMESTAMP '1998-01-01' AND o_custkey IS NOT NULL),
      scur AS (
        SELECT 'o_totalprice' col_name, o_totalprice::DOUBLE v FROM orders
          WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_totalprice IS NOT NULL
        UNION ALL
        SELECT 'o_custkey', o_custkey::DOUBLE FROM orders
          WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_custkey IS NOT NULL),
      rg AS (SELECT col_name, MIN(v) lo, MAX(v) hi FROM sref GROUP BY 1),
      ca AS (SELECT s.col_name,
          CASE WHEN lo = hi THEN 0
            ELSE LEAST(GREATEST(floor((v - lo) * 10 / (hi - lo))::INT, 0), 9)
          END bucket, COUNT(*) c
        FROM sref s JOIN rg USING (col_name) GROUP BY 1, 2),
      cb AS (SELECT s.col_name,
          CASE WHEN lo = hi THEN 0
            ELSE LEAST(GREATEST(floor((v - lo) * 10 / (hi - lo))::INT, 0), 9)
          END bucket, COUNT(*) c
        FROM scur s JOIN rg USING (col_name) GROUP BY 1, 2),
      sp AS (SELECT col_name, unnest(generate_series(0, 9)) bucket FROM rg),
      j AS (SELECT sp.col_name, sp.bucket,
          (COALESCE(ca.c, 0) + 1)::BIGINT ca1, (COALESCE(cb.c, 0) + 1)::BIGINT cb1
        FROM sp LEFT JOIN ca USING (col_name, bucket)
                LEFT JOIN cb USING (col_name, bucket)),
      t AS (SELECT col_name, SUM(ca1)::BIGINT ta, SUM(cb1)::BIGINT tb
        FROM j GROUP BY 1),
      g AS (SELECT j.col_name,
          MAX(ta - 10)::BIGINT n_ref, MAX(tb - 10)::BIGINT n_cur,
          SUM((ca1 * 1000000 // ta - cb1 * 1000000 // tb) *
            (floor(ln(ca1) * 1e6)::BIGINT - floor(ln(ta) * 1e6)::BIGINT
             - floor(ln(cb1) * 1e6)::BIGINT + floor(ln(tb) * 1e6)::BIGINT))::BIGINT psi_pico
        FROM j JOIN t USING (col_name) GROUP BY 1)
      SELECT col_name, n_ref, n_cur, psi_pico,
        psi_pico > 200000000000 AS drifted FROM g"""))

  /** Trailing 24-bucket (24 h) rolling features over the hourly resample:
    * the lag-feature block models train on, exact-integer end to end.
    */
  private val q141 = Q(
    "q141_ts_rolling",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val e = raw.select(col("user_id"),
        EventTime.epochMillis(raw, "ts").as("ts_ms"), col("value"))
      TimeSeries.rolling(
        TimeSeries.resample(e, Seq("user_id"), "ts_ms", "value", 3600000L),
        Seq("user_id"), nBuckets = 24)
    },
    Some("""WITH e AS (SELECT user_id,
          (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
          floor(value * 1e6)::BIGINT vm
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL),
      a AS (SELECT user_id, bucket_ms, COUNT(*)::BIGINT n_events,
          SUM(vm)::BIGINT sum_micro FROM e GROUP BY 1, 2),
      sp AS (SELECT user_id, unnest(generate_series(lo, hi, 3600000)) bucket_ms
        FROM (SELECT user_id, MIN(bucket_ms) lo, MAX(bucket_ms) hi
              FROM a GROUP BY 1)),
      j AS (SELECT sp.user_id, sp.bucket_ms,
          COALESCE(a.n_events, 0)::BIGINT n_events, a.sum_micro
        FROM sp LEFT JOIN a USING (user_id, bucket_ms))
      SELECT user_id, bucket_ms, n_events, sum_micro,
        last_value(sum_micro IGNORE NULLS) OVER wff AS ffill_micro,
        (SUM(n_events) OVER wtr)::BIGINT AS roll_n_events,
        (SUM(sum_micro) OVER wtr)::BIGINT AS roll_sum_micro,
        MIN(sum_micro) OVER wtr AS roll_min_micro,
        MAX(sum_micro) OVER wtr AS roll_max_micro,
        LAG(sum_micro, 1) OVER wlag AS lag1_sum_micro
      FROM j
      WINDOW wff AS (PARTITION BY user_id ORDER BY bucket_ms
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wtr AS (PARTITION BY user_id ORDER BY bucket_ms
          ROWS BETWEEN 23 PRECEDING AND CURRENT ROW),
        wlag AS (PARTITION BY user_id ORDER BY bucket_ms)"""))

  /** Exact per-language doc-length quantiles (nearest-rank): the
    * fine-grained-group case where a per-group sort is the RIGHT call
    * and the answer is a value that actually occurs.
    */
  private val q142 = Q(
    "q142_group_quantiles",
    (spark, dir) =>
      Corpus.groupQuantiles(pq(spark, dir, "documents"),
        Seq("lang"), "n_chars", Seq(0, 25, 50, 75, 90, 99, 100)),
    Some("""WITH b AS (SELECT lang, n_chars FROM documents
          WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
      cnt AS (SELECT lang, COUNT(*)::BIGINT n FROM b GROUP BY 1),
      pr AS (SELECT lang, n,
          unnest([0, 25, 50, 75, 90, 99, 100]) AS percent FROM cnt),
      tr AS (SELECT lang, n, percent,
          floor(percent * (n - 1) / 100)::BIGINT r FROM pr),
      rk AS (SELECT lang, n_chars,
          (ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) - 1) r
        FROM b)
      SELECT tr.lang, tr.percent, tr.n, rk.n_chars AS value
      FROM tr JOIN rk ON tr.lang = rk.lang AND tr.r = rk.r"""))

  /** JSON key discovery on a mixed-shape payload (three schema variants
    * incl. a JSON-null field): the promotion-planning profile.
    */
  private val q143 = Q(
    "q143_json_key_profile",
    (spark, dir) => {
      val o = pq(spark, dir, "orders")
      val payload = when(col("o_orderkey") % 3 === 0, concat(
          lit("{\"okey\":"), col("o_orderkey").cast("string"),
          lit(",\"price_cents\":"),
          floor(col("o_totalprice") * 100).cast("long").cast("string"),
          lit("}")))
        .when(col("o_orderkey") % 3 === 1, concat(
          lit("{\"okey\":"), col("o_orderkey").cast("string"),
          lit(",\"priority\":\""), col("o_orderpriority"),
          lit("\",\"rush\":"), (col("o_orderkey") % 2 === 0).cast("string"),
          lit("}")))
        .otherwise(concat(
          lit("{\"okey\":"), col("o_orderkey").cast("string"),
          lit(",\"status\":\""), col("o_orderstatus"),
          lit("\",\"note\":null}")))
      SemiStructured.jsonKeyProfile(o.select(payload.as("payload")), "payload")
    },
    Some("""WITH j AS (SELECT CASE
          WHEN o_orderkey % 3 = 0 THEN '{"okey":' || o_orderkey
            || ',"price_cents":' || floor(o_totalprice * 100)::BIGINT || '}'
          WHEN o_orderkey % 3 = 1 THEN '{"okey":' || o_orderkey
            || ',"priority":"' || o_orderpriority || '","rush":'
            || (o_orderkey % 2 = 0) || '}'
          ELSE '{"okey":' || o_orderkey || ',"status":"' || o_orderstatus
            || '","note":null}' END payload FROM orders),
      k AS (SELECT payload, unnest(json_keys(payload)) AS key FROM j),
      v AS (SELECT key, json_extract_string(payload, '$.' || key) v FROM k),
      t AS (SELECT COUNT(*)::BIGINT n_rows FROM j),
      g AS (SELECT key, COUNT(*)::BIGINT n_keys, COUNT(v)::BIGINT n_present,
          COUNT(CASE WHEN regexp_matches(v, '^-?[0-9]+$') THEN 1 END)::BIGINT n_int_like,
          COUNT(CASE WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL THEN 1 END)::BIGINT n_num_like,
          COUNT(CASE WHEN v IN ('true', 'false') THEN 1 END)::BIGINT n_bool_like
        FROM v GROUP BY 1)
      SELECT g.*, t.n_rows, n_present * 1000000 // t.n_rows AS share_micro
      FROM g, t"""))

  /** Salted join: events (big side) to customers with salt 8 — result is
    * byte-identical to the plain join, which IS the oracle.
    */
  private val q144 = Q(
    "q144_salted_join",
    (spark, dir) => {
      val e = pq(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val c = pq(spark, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_name"), col("c_acctbal"))
      Skew.saltedJoin(e, c, Seq("user_id"), salt = 8)
        .select("event_id", "user_id", "value", "c_name", "c_acctbal")
    },
    Some("""SELECT event_id, user_id, value, c_name, c_acctbal
      FROM events JOIN customer ON user_id = c_custkey"""))

  /** Per-slice classifier eval: a synthetic parity label scored by the
    * event value — exact tie-aware AUC plus the threshold confusion row.
    */
  private val q145 = Q(
    "q145_binary_eval",
    (spark, dir) => {
      val e = pq(spark, dir, "events").select(col("event_type"),
        (get_json_object(col("props"), "$.k").cast("long") % 2 === 0)
          .as("label"),
        col("value").as("score"))
      Eval.binaryEval(e, Seq("event_type"), "label", "score", threshold = 250.0)
    },
    Some("""WITH b AS (SELECT event_type,
          (json_extract(props, '$.k')::BIGINT % 2 = 0) AS label, value AS score
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
          AND json_extract(props, '$.k') IS NOT NULL),
      blk AS (SELECT event_type, score, COUNT(*)::BIGINT c,
          COUNT(CASE WHEN label THEN 1 END)::BIGINT cp FROM b GROUP BY 1, 2),
      rk AS (SELECT *, (SUM(c) OVER (PARTITION BY event_type ORDER BY score)
          - c)::BIGINT cum FROM blk),
      g AS (SELECT event_type, SUM(c)::BIGINT n, SUM(cp)::BIGINT n_pos,
          COALESCE(SUM(CASE WHEN score >= 250.0 THEN cp END), 0)::BIGINT tp,
          COALESCE(SUM(CASE WHEN score >= 250.0 THEN c - cp END), 0)::BIGINT fp,
          SUM(cp * (2 * cum + c + 1))::BIGINT r2
        FROM rk GROUP BY 1)
      SELECT event_type, n, n_pos, (n - n_pos) AS n_neg, tp, fp,
        (n_pos - tp) AS fn, ((n - n_pos) - fp) AS tn,
        tp * 1000000 // NULLIF(tp + fp, 0) AS precision_micro,
        tp * 1000000 // NULLIF(n_pos, 0) AS recall_micro,
        2 * tp * 1000000 // NULLIF(tp + fp + n_pos, 0) AS f1_micro,
        (r2 - n_pos * (n_pos + 1)) * 1000000
          // NULLIF(2 * n_pos * (n - n_pos), 0) AS auc_micro
      FROM g"""))

  /** KMV overlap pre-flight: how much of the customer key space shows up
    * in the event stream, from one bottom-256 union sketch.
    */
  private val q146 = Q(
    "q146_kmv_overlap",
    (spark, dir) => Sketch.kmvOverlap(
      pq(spark, dir, "events"), col("user_id"),
      pq(spark, dir, "customer"), col("c_custkey"), k = 256),
    Some("""WITH ha AS (SELECT DISTINCT md5(user_id::VARCHAR) h FROM events
          WHERE user_id IS NOT NULL),
      hb AS (SELECT DISTINCT md5(c_custkey::VARCHAR) h FROM customer
          WHERE c_custkey IS NOT NULL),
      u AS (SELECT h, MAX(ia)::BIGINT in_a, MAX(ib)::BIGINT in_b FROM (
          SELECT h, 1 ia, 0 ib FROM ha
          UNION ALL SELECT h, 0 ia, 1 ib FROM hb) GROUP BY 1),
      bot AS (SELECT * FROM u ORDER BY h LIMIT 256),
      agg AS (SELECT COUNT(*)::BIGINT n_kept,
          COALESCE(SUM(in_a * in_b), 0)::BIGINT n_both, MAX(h) max_h FROM bot),
      est AS (SELECT n_kept, n_both,
          CASE WHEN n_kept < 256 THEN n_kept
            ELSE CAST(round(255 * 4294967296.0 /
              (('0x' || substr(max_h, 1, 8))::UBIGINT + 1)) AS BIGINT)
          END est_union FROM agg)
      SELECT 256 AS k, n_kept, n_both, est_union,
        COALESCE(CAST(round(n_both::DOUBLE * est_union / NULLIF(n_kept, 0))
          AS BIGINT), 0) AS est_intersection,
        COALESCE(n_both * 1000000 // NULLIF(n_kept, 0), 0) AS jaccard_micro
      FROM est"""))

  /** Robust length outliers per language: median/MAD flags at k=3 —
    * exact nearest-rank statistics, not a stddev that one megadoc drags.
    */
  private val q147 = Q(
    "q147_mad_outliers",
    (spark, dir) => Corpus.madOutliers(
        pq(spark, dir, "documents").select("doc_id", "lang", "n_chars"),
        Seq("lang"), "n_chars", kMicro = 3000000L)
      .select("doc_id", "lang", "n_chars", "x_micro", "med_micro",
        "mad_micro", "dev_micro", "is_outlier"),
    Some("""WITH b AS (SELECT doc_id, lang, n_chars,
          floor(n_chars * 1e6)::BIGINT x_micro FROM documents),
      m1 AS (SELECT lang, COUNT(*)::BIGINT n FROM b GROUP BY 1),
      r1 AS (SELECT lang, x_micro,
          (ROW_NUMBER() OVER (PARTITION BY lang ORDER BY x_micro) - 1) r
        FROM b),
      med AS (SELECT r1.lang, r1.x_micro med_micro FROM r1 JOIN m1 USING (lang)
        WHERE r1.r = floor(50 * (n - 1) / 100)::BIGINT),
      d AS (SELECT b.doc_id, b.lang, b.n_chars, b.x_micro, med.med_micro,
          abs(b.x_micro - med.med_micro) dev_micro FROM b JOIN med USING (lang)),
      m2 AS (SELECT lang, COUNT(*)::BIGINT n FROM d GROUP BY 1),
      r2 AS (SELECT lang, dev_micro,
          (ROW_NUMBER() OVER (PARTITION BY lang ORDER BY dev_micro) - 1) r
        FROM d),
      mad AS (SELECT r2.lang, r2.dev_micro mad_micro FROM r2 JOIN m2 USING (lang)
        WHERE r2.r = floor(50 * (n - 1) / 100)::BIGINT)
      SELECT d.doc_id, d.lang, d.n_chars, d.x_micro, d.med_micro,
        mad.mad_micro, d.dev_micro,
        (d.dev_micro * 1000000 > 3000000 * mad.mad_micro) AS is_outlier
      FROM d JOIN mad USING (lang)"""))

  /** Daily retention cohorts over the event stream: first-active-day
    * cohorts × offsets, integer-micro retention shares.
    */
  private val q148 = Q(
    "q148_retention",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      TimeSeries.retention(
        raw.select(col("user_id"), EventTime.epochMillis(raw, "ts").as("ts_ms")),
        "user_id", "ts_ms")
    },
    Some("""WITH days AS (SELECT DISTINCT user_id,
          (epoch_ms(ts) // 86400000) * 86400000 AS day
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      f AS (SELECT user_id, MIN(day) cohort_ms FROM days GROUP BY 1),
      sz AS (SELECT cohort_ms, COUNT(*)::BIGINT n_cohort FROM f GROUP BY 1),
      act AS (SELECT f.cohort_ms, (days.day - f.cohort_ms) // 86400000 AS day_offset,
          COUNT(*)::BIGINT n_active
        FROM days JOIN f USING (user_id) GROUP BY 1, 2)
      SELECT act.cohort_ms, act.day_offset, act.n_active, sz.n_cohort,
        act.n_active * 1000000 // sz.n_cohort AS retention_micro
      FROM act JOIN sz USING (cohort_ms)"""))

  /** Conversion funnel view→click→purchase within 7 days of the first
    * view, greedy-earliest matching.
    */
  private val q149 = Q(
    "q149_funnel",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Sessions.funnel(
        raw.select(col("user_id"),
          EventTime.epochMillis(raw, "ts").as("ts_ms"), col("event_type")),
        "user_id", "ts_ms", "event_type",
        Seq("view", "click", "purchase"), windowMs = Some(604800000L))
    },
    Some("""WITH e AS (SELECT user_id, epoch_ms(ts) tms, event_type
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      s0 AS (SELECT user_id, MIN(tms) t0 FROM e
        WHERE event_type = 'view' GROUP BY 1),
      s1 AS (SELECT e.user_id, s0.t0, MIN(e.tms) t1
        FROM e JOIN s0 USING (user_id)
        WHERE e.event_type = 'click' AND e.tms > s0.t0
          AND e.tms <= s0.t0 + 604800000 GROUP BY 1, 2),
      s2 AS (SELECT e.user_id, MIN(e.tms) t2
        FROM e JOIN s1 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.tms > s1.t1
          AND e.tms <= s1.t0 + 604800000 GROUP BY 1)
      SELECT 0 AS step_idx, 'view' AS step, COUNT(*)::BIGINT n_keys FROM s0
      UNION ALL SELECT 1, 'click', COUNT(*)::BIGINT FROM s1
      UNION ALL SELECT 2, 'purchase', COUNT(*)::BIGINT FROM s2"""))

  /** First-order event-type transition matrix with conditional
    * probabilities — the Markov behavioral fingerprint.
    */
  private val q150 = Q(
    "q150_transitions",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Sessions.transitions(
        raw.select(col("user_id"), col("event_id"),
          EventTime.epochMillis(raw, "ts").as("ts_ms"), col("event_type")),
        "user_id", "ts_ms", "event_type", "event_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) tms, event_type
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL),
      lp AS (SELECT event_type to_type,
          LAG(event_type, 1) OVER (PARTITION BY user_id
            ORDER BY tms, event_id) from_type FROM e),
      p AS (SELECT from_type, to_type, COUNT(*)::BIGINT cnt FROM lp
        WHERE from_type IS NOT NULL GROUP BY 1, 2),
      t AS (SELECT from_type, SUM(cnt)::BIGINT row_total FROM p GROUP BY 1)
      SELECT p.from_type, p.to_type, p.cnt, t.row_total,
        p.cnt * 1000000 // t.row_total AS prob_micro
      FROM p JOIN t USING (from_type)"""))

  /** Smoothed target encoding of event_type by the value target
    * (m = 100 pseudo-observations) — the serving encoding table.
    */
  private val q151 = Q(
    "q151_target_encode",
    (spark, dir) => Features.targetEncode(
      pq(spark, dir, "events"), "event_type", "value", m = 100L),
    Some("""WITH b AS (SELECT COALESCE(event_type, '__NULL__') category,
          floor(value * 1e6)::BIGINT tm
        FROM events WHERE value IS NOT NULL),
      pc AS (SELECT category, COUNT(*)::BIGINT n, SUM(tm)::BIGINT sum_micro
        FROM b GROUP BY 1),
      pr AS (SELECT (SUM(sum_micro) // SUM(n))::BIGINT prior_micro FROM pc)
      SELECT category, n, sum_micro, pr.prior_micro,
        ((sum_micro + 100 * pr.prior_micro) // (n + 100))::BIGINT AS enc_micro
      FROM pc, pr"""))

  /** χ² + Cramér's V between order status and priority — the
    * feature-selection screen, integer-replayable by per-cell flooring.
    */
  private val q152 = Q(
    "q152_chi_square",
    (spark, dir) => Features.chiSquare(
      pq(spark, dir, "orders"), "o_orderstatus", "o_orderpriority"),
    Some("""WITH cells AS (SELECT o_orderstatus::VARCHAR a,
          o_orderpriority::VARCHAR b, COUNT(*)::BIGINT o FROM orders
        WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
        GROUP BY 1, 2),
      ma AS (SELECT a, SUM(o)::BIGINT na FROM cells GROUP BY 1),
      mb AS (SELECT b, SUM(o)::BIGINT nb FROM cells GROUP BY 1),
      t AS (SELECT SUM(o)::BIGINT n, COUNT(DISTINCT a)::BIGINT n_a,
          COUNT(DISTINCT b)::BIGINT n_b FROM cells),
      terms AS (SELECT n, n_a, n_b,
          floor(1000000.0 * (o::DOUBLE - e) * (o::DOUBLE - e) / e)::BIGINT term
        FROM (SELECT COALESCE(cells.o, 0) o, t.n, t.n_a, t.n_b,
            na::DOUBLE * nb::DOUBLE / t.n::DOUBLE e
          FROM ma CROSS JOIN mb
            LEFT JOIN cells USING (a, b), t)),
      g AS (SELECT n, n_a, n_b, SUM(term)::BIGINT chi2_micro
        FROM terms GROUP BY 1, 2, 3)
      SELECT n, n_a, n_b, chi2_micro,
        floor(1000000.0 * sqrt(chi2_micro::DOUBLE / 1e6
          / (n::DOUBLE * least(n_a - 1, n_b - 1)::DOUBLE)))::BIGINT
          AS cramers_v_micro
      FROM g"""))

  /** Exact-integer mutual information between document language and
    * source — "how much does knowing the source tell you the language".
    */
  private val q153 = Q(
    "q153_mutual_info",
    (spark, dir) => Features.mutualInfo(
      pq(spark, dir, "documents"), "lang", "source"),
    Some("""WITH cells AS (SELECT lang::VARCHAR a, source::VARCHAR b,
          COUNT(*)::BIGINT o FROM documents
        WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
      ma AS (SELECT a, SUM(o)::BIGINT na FROM cells GROUP BY 1),
      mb AS (SELECT b, SUM(o)::BIGINT nb FROM cells GROUP BY 1),
      t AS (SELECT SUM(o)::BIGINT n FROM cells),
      s AS (SELECT t.n, SUM(o * (floor(ln(o::DOUBLE) * 1e6)::BIGINT
            + floor(ln(t.n::DOUBLE) * 1e6)::BIGINT
            - floor(ln(na::DOUBLE) * 1e6)::BIGINT
            - floor(ln(nb::DOUBLE) * 1e6)::BIGINT))::BIGINT mi_sum
        FROM cells JOIN ma USING (a) JOIN mb USING (b), t GROUP BY 1)
      SELECT n, mi_sum, mi_sum // n AS mi_micro FROM s"""))

  /** Calibration curve + Brier score for the parity-label/value-score
    * synthetic classifier, 10 reliability bins.
    */
  private val q154 = Q(
    "q154_calibration",
    (spark, dir) => {
      val e = pq(spark, dir, "events").select(
        (get_json_object(col("props"), "$.k").cast("long") % 2 === 0)
          .as("label"),
        (col("value") / 500.0).as("score"))
      Eval.calibration(e, "label", "score", bins = 10)
    },
    Some("""WITH b AS (SELECT
          (json_extract(props, '$.k')::BIGINT % 2 = 0) AS lab,
          value / 500.0 s FROM events
        WHERE value IS NOT NULL AND json_extract(props, '$.k') IS NOT NULL),
      r AS (SELECT LEAST(GREATEST(floor(s * 10)::INT, 0), 9) bin,
          CASE WHEN lab THEN 1 ELSE 0 END y,
          floor(s * 1e6)::BIGINT sm,
          floor(1000000.0 * (s - CASE WHEN lab THEN 1.0 ELSE 0.0 END)
            * (s - CASE WHEN lab THEN 1.0 ELSE 0.0 END))::BIGINT bm
        FROM b),
      pb AS (SELECT bin, COUNT(*)::BIGINT n, SUM(y)::BIGINT n_pos,
          SUM(sm)::BIGINT ssm, SUM(bm)::BIGINT sbm FROM r GROUP BY 1),
      g AS (SELECT (SUM(sbm) // SUM(n))::BIGINT brier_micro FROM pb)
      SELECT bin, n, n_pos, (ssm // n)::BIGINT AS avg_score_micro,
        n_pos * 1000000 // n AS obs_rate_micro, g.brier_micro
      FROM pb, g"""))

  /** Z-score scaling table over three lineitem measures — exact integer
    * moments, one correctly-rounded sqrt.
    */
  private val q155 = Q(
    "q155_standardize",
    (spark, dir) => Features.standardize(pq(spark, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount")),
    Some("""WITH s AS (SELECT col_name, floor(v * 1e6)::BIGINT xm FROM (
          SELECT 'l_quantity' col_name, l_quantity::DOUBLE v FROM lineitem
          UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
          UNION ALL SELECT 'l_discount', l_discount FROM lineitem)
        WHERE v IS NOT NULL),
      g AS (SELECT col_name, COUNT(*)::BIGINT n, SUM(xm::HUGEINT) s1,
          SUM(xm::HUGEINT * xm) s2 FROM s GROUP BY 1)
      SELECT col_name, n, (s1 // n)::BIGINT mean_micro,
        floor(sqrt((n * s2 - s1 * s1)::DOUBLE
          / (n::DOUBLE * n::DOUBLE)))::BIGINT std_micro
      FROM g"""))

  /** Pairwise Jensen–Shannon divergence between sources' language
    * distributions — the mixture-drift comparison statistic.
    */
  private val q156 = Q(
    "q156_jsd_groups",
    (spark, dir) => Corpus.jsdGroups(
      pq(spark, dir, "documents"), "source", "lang"),
    Some("""WITH cells AS (SELECT source::VARCHAR g, lang::VARCHAR val,
          COUNT(*)::BIGINT c FROM documents
        WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
      t AS (SELECT g, SUM(c)::BIGINT nt FROM cells GROUP BY 1),
      pr AS (SELECT a.g grp_a, a.nt n_a, b.g grp_b, b.nt n_b
        FROM t a CROSS JOIN t b WHERE a.g < b.g),
      supp AS (SELECT DISTINCT pr.grp_a, pr.grp_b, pr.n_a, pr.n_b, cells.val
        FROM pr JOIN cells ON cells.g = pr.grp_a OR cells.g = pr.grp_b),
      wc AS (SELECT supp.*, COALESCE(ca.c, 0) c1, COALESCE(cb.c, 0) c2
        FROM supp
          LEFT JOIN cells ca ON ca.g = supp.grp_a AND ca.val = supp.val
          LEFT JOIN cells cb ON cb.g = supp.grp_b AND cb.val = supp.val),
      terms AS (SELECT grp_a, grp_b, n_a, n_b,
          CASE WHEN c1 > 0 THEN c1 * (floor(ln(c1::DOUBLE) * 1e6)::BIGINT
            + 693147 + floor(ln(n_b::DOUBLE) * 1e6)::BIGINT
            - floor(ln((c1 * n_b + c2 * n_a)::DOUBLE) * 1e6)::BIGINT)
            ELSE 0 END kl1,
          CASE WHEN c2 > 0 THEN c2 * (floor(ln(c2::DOUBLE) * 1e6)::BIGINT
            + 693147 + floor(ln(n_a::DOUBLE) * 1e6)::BIGINT
            - floor(ln((c1 * n_b + c2 * n_a)::DOUBLE) * 1e6)::BIGINT)
            ELSE 0 END kl2
        FROM wc),
      g2 AS (SELECT grp_a, grp_b, n_a, n_b, SUM(kl1::HUGEINT) k1,
          SUM(kl2::HUGEINT) k2 FROM terms GROUP BY 1, 2, 3, 4)
      SELECT grp_a, grp_b, n_a, n_b,
        ((k1 * n_b + k2 * n_a) // (2 * n_a::HUGEINT * n_b))::BIGINT jsd_micro
      FROM g2"""))

  /** Market-basket association rules over (user, day) baskets of event
    * types: support / confidence / lift, exact integers.
    */
  private val q157 = Q(
    "q157_assoc_rules",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val e = raw.select(col("user_id"), col("event_type"),
          EventTime.epochMillis(raw, "ts").as("ts_ms"))
        .withColumn("day", expr("ts_ms div 86400000L"))
      Sessions.associationRules(e, Seq("user_id", "day"), "event_type",
        minSupport = 5L)
    },
    Some("""WITH it AS (SELECT DISTINCT user_id,
          epoch_ms(ts) // 86400000 AS day, event_type item FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL),
      nb AS (SELECT COUNT(*)::BIGINT n_baskets FROM
        (SELECT DISTINCT user_id, day FROM it)),
      tot AS (SELECT item, COUNT(*)::BIGINT n_item FROM it GROUP BY 1),
      pc AS (SELECT a.item item_a, b.item item_b, COUNT(*)::BIGINT n_ab
        FROM it a JOIN it b ON a.user_id = b.user_id AND a.day = b.day
          AND a.item <> b.item
        GROUP BY 1, 2 HAVING COUNT(*) >= 5)
      SELECT item_a, item_b, n_ab, ta.n_item n_a, tb.n_item n_b,
        nb.n_baskets,
        n_ab * 1000000 // ta.n_item AS confidence_micro,
        (n_ab::HUGEINT * nb.n_baskets * 1000000
          // (ta.n_item::HUGEINT * tb.n_item))::BIGINT AS lift_micro
      FROM pc JOIN tot ta ON ta.item = pc.item_a
        JOIN tot tb ON tb.item = pc.item_b, nb"""))

  /** Blocked Levenshtein candidate pairs over part names (block = the
    * noun + the adjective's first letter — the standard initial-letter
    * recall tradeoff that keeps blocks bounded as parts scale).
    */
  private val q158 = Q(
    "q158_fuzzy_pairs",
    (spark, dir) => Entity.fuzzyPairs(
      pq(spark, dir, "part"), "p_partkey", "p_name",
      expr("concat(split(p_name, ' ')[1], '|', substring(p_name, 1, 1))"),
      maxDist = 3),
    // The hot-block anti-join is mirrored STRUCTURALLY (blocks over
    // maxBlock=10000 rows are dropped on both sides), so the oracle
    // encodes the operator's semantics rather than relying on no block
    // crossing the cap at the tested scale factors.
    Some("""WITH t0 AS (SELECT p_partkey id, p_name txt,
          split_part(p_name, ' ', 2) || '|' || substr(p_name, 1, 1) blk
        FROM part
        WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL),
      keep AS (SELECT blk FROM t0 GROUP BY 1 HAVING COUNT(*) <= 10000),
      t AS (SELECT t0.* FROM t0 JOIN keep USING (blk)),
      p AS (SELECT a.id id_a, b.id id_b,
          levenshtein(a.txt, b.txt) dist,
          GREATEST(length(a.txt), length(b.txt)) max_len
        FROM t a JOIN t b ON a.blk = b.blk AND a.id < b.id)
      SELECT id_a, id_b, dist, max_len,
        (max_len - dist) * 1000000 // max_len AS sim_micro
      FROM p WHERE dist <= 3"""))

  /** k-anonymity / l-diversity release gate on the event stream's
    * (event_type, day) quasi-identifier with user_id sensitive.
    */
  private val q159 = Q(
    "q159_k_anonymity",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val e = raw.select(col("event_type"), col("user_id"),
          EventTime.epochMillis(raw, "ts").as("ts_ms"))
        .withColumn("day", expr("ts_ms div 86400000L"))
      Privacy.kAnonymity(e, Seq("event_type", "day"), k = 20L,
        sensitiveCol = Some("user_id"), l = 15L)
    },
    Some("""WITH e AS (SELECT event_type, user_id,
          epoch_ms(ts) // 86400000 AS day FROM events)
      SELECT event_type, day, COUNT(*)::BIGINT n,
        COUNT(DISTINCT user_id)::BIGINT n_distinct_sensitive,
        COUNT(*) < 20 AS k_violation,
        COUNT(DISTINCT user_id) < 15 AS l_violation
      FROM e GROUP BY 1, 2"""))

  /** Flesch reading-ease over the corpus — regex-count heuristic, one
    * floored double expression.
    */
  private val q160 = Q(
    "q160_readability",
    (spark, dir) => TextOps.readability(
      pq(spark, dir, "documents"), "doc_id", "text"),
    Some("""WITH c AS (SELECT doc_id,
          len(regexp_extract_all(text, '\S+'))::BIGINT n_words,
          GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT n_sentences,
          len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))::BIGINT n_syllables
        FROM documents WHERE text IS NOT NULL)
      SELECT doc_id, n_words, n_sentences, n_syllables,
        CASE WHEN n_words > 0 THEN
          floor(1000000.0 * (206.835
            - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
            - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE)))::BIGINT
        END AS flesch_micro
      FROM c"""))

  /** Hashing-trick sparse encoding of two customer categoricals into 64
    * signed buckets — the vocabulary-free encoder.
    */
  private val q161 = Q(
    "q161_feature_hash",
    (spark, dir) => Features.featureHash(
      pq(spark, dir, "customer"), "c_custkey",
      Seq("c_mktsegment", "c_nationkey"), dim = 64),
    Some("""WITH s AS (
        SELECT c_custkey, 'c_mktsegment' || '|' || c_mktsegment fv
          FROM customer WHERE c_mktsegment IS NOT NULL
        UNION ALL
        SELECT c_custkey, 'c_nationkey' || '|' || c_nationkey
          FROM customer WHERE c_nationkey IS NOT NULL),
      h AS (SELECT c_custkey, md5(fv) hh FROM s),
      b AS (SELECT c_custkey,
          (('0x' || substr(hh, 1, 8))::UBIGINT % 64)::BIGINT bucket,
          CASE WHEN ('0x' || substr(hh, 9, 1))::UBIGINT % 2 = 0
            THEN 1 ELSE -1 END sgn FROM h)
      SELECT c_custkey, bucket, SUM(sgn)::BIGINT val
      FROM b GROUP BY 1, 2"""))

  /** Gini concentration of per-source character mass — the one-number
    * mixture-balance gauge.
    */
  private val q162 = Q(
    "q162_gini",
    (spark, dir) => Corpus.gini(
      pq(spark, dir, "documents"), "source", weightCol = Some("n_chars")),
    Some("""WITH m AS (SELECT source g,
          SUM(floor(n_chars * 1e6)::BIGINT)::BIGINT x FROM documents
        WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
      r AS (SELECT g, x, ROW_NUMBER() OVER (ORDER BY x, g) i FROM m),
      a AS (SELECT COUNT(*)::BIGINT n_groups, SUM(x)::BIGINT total_mass,
          SUM(i::HUGEINT * x) ixs FROM r)
      SELECT n_groups, total_mass,
        ((2 * ixs - (n_groups + 1) * total_mass::HUGEINT) * 1000000
          // (n_groups::HUGEINT * total_mass))::BIGINT gini_micro
      FROM a"""))

  /** Lead–lag cross-correlation of hourly click vs purchase counts —
    * does one series anticipate the other.
    */
  private val q163 = Q(
    "q163_cross_correlation",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val series = raw
        .select(EventTime.epochMillis(raw, "ts").as("ts_ms"),
          col("event_type"))
        .withColumn("bucket_ms", expr("(ts_ms div 3600000L) * 3600000L"))
        .groupBy("bucket_ms")
        .agg(count(when(col("event_type") === "click", 1))
            .cast("double").as("x"),
          count(when(col("event_type") === "purchase", 1))
            .cast("double").as("y"))
      TimeSeries.crossCorrelation(series, "bucket_ms", "x", "y",
        Seq(-3, -2, -1, 0, 1, 2, 3), everyMs = 3600000L)
    },
    Some("""WITH e AS (SELECT (epoch_ms(ts) // 3600000) * 3600000 b,
          COUNT(CASE WHEN event_type = 'click' THEN 1 END)::BIGINT x,
          COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)::BIGINT y
        FROM events WHERE ts IS NOT NULL GROUP BY 1),
      l AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag),
      p AS (SELECT l.lag, a.x * 1000000 xm, b2.y * 1000000 ym
        FROM e a CROSS JOIN l
        JOIN e b2 ON b2.b = a.b + l.lag * 3600000),
      g AS (SELECT lag, COUNT(*)::BIGINT n, SUM(xm::HUGEINT) sx,
          SUM(ym::HUGEINT) sy, SUM(xm::HUGEINT * ym) sxy,
          SUM(xm::HUGEINT * xm) sxx, SUM(ym::HUGEINT * ym) syy
        FROM p GROUP BY 1)
      SELECT lag, n,
        CASE WHEN n > 1 AND n * sxx > sx * sx AND n * syy > sy * sy THEN
          floor(1000000.0 * (n * sxy - sx * sy)::DOUBLE
            / sqrt((n * sxx - sx * sx)::DOUBLE
                   * (n * syy - sy * sy)::DOUBLE))::BIGINT
        END corr_micro
      FROM g"""))

  /** CUSUM changepoint per user over the hourly resample — where did
    * each user's activity level shift.
    */
  private val q164 = Q(
    "q164_cusum_changepoint",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val e = raw.select(col("user_id"),
        EventTime.epochMillis(raw, "ts").as("ts_ms"), col("value"))
      TimeSeries.cusumChangepoint(
        TimeSeries.resample(e, Seq("user_id"), "ts_ms", "value", 3600000L),
        Seq("user_id"), "bucket_ms", "sum_micro")
    },
    Some("""WITH e AS (SELECT user_id,
          (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
          floor(value * 1e6)::BIGINT vm
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL),
      a AS (SELECT user_id, bucket_ms, SUM(vm)::BIGINT sum_micro
        FROM e GROUP BY 1, 2),
      sp AS (SELECT user_id, unnest(generate_series(lo, hi, 3600000)) bucket_ms
        FROM (SELECT user_id, MIN(bucket_ms) lo, MAX(bucket_ms) hi
              FROM a GROUP BY 1)),
      j AS (SELECT sp.user_id, sp.bucket_ms,
          COALESCE(a.sum_micro, 0)::BIGINT v
        FROM sp LEFT JOIN a USING (user_id, bucket_ms)),
      st AS (SELECT user_id, COUNT(*)::BIGINT n_buckets,
          (SUM(v) // COUNT(*))::BIGINT mean_micro FROM j GROUP BY 1),
      c AS (SELECT j.user_id, j.bucket_ms, st.n_buckets, st.mean_micro,
          (SUM(j.v - st.mean_micro) OVER (PARTITION BY j.user_id
            ORDER BY j.bucket_ms
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT cusum
        FROM j JOIN st USING (user_id)),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY -abs(cusum), bucket_ms) rn FROM c)
      SELECT user_id, n_buckets, mean_micro, bucket_ms AS change_bucket_ms,
        cusum AS cusum_at_change
      FROM r WHERE rn = 1"""))

  /** Pairwise Pearson matrix over three lineitem measures — the numeric
    * feature-selection screen, one aggregation pass.
    */
  private val q165 = Q(
    "q165_corr_matrix",
    (spark, dir) => Features.corrMatrix(pq(spark, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount")),
    Some {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val pairs = for {
        i <- cols.indices; j <- (i + 1) until cols.size
      } yield (cols(i), cols(j))
      val per = pairs.map { case (a, b) =>
        val both = s"$a IS NOT NULL AND $b IS NOT NULL"
        val (x, y) = (s"floor($a::DOUBLE * 1e6)::BIGINT",
          s"floor($b::DOUBLE * 1e6)::BIGINT")
        s"""SELECT '$a' col_a, '$b' col_b,
            COUNT(CASE WHEN $both THEN 1 END)::BIGINT n,
            SUM(CASE WHEN $both THEN ($x)::HUGEINT END) sx,
            SUM(CASE WHEN $both THEN ($y)::HUGEINT END) sy,
            SUM(CASE WHEN $both THEN ($x)::HUGEINT * ($y) END) sxy,
            SUM(CASE WHEN $both THEN ($x)::HUGEINT * ($x) END) sxx,
            SUM(CASE WHEN $both THEN ($y)::HUGEINT * ($y) END) syy
          FROM lineitem"""
      }.mkString(" UNION ALL ")
      s"""WITH g AS ($per)
        SELECT col_a, col_b, n,
          CASE WHEN n > 1 AND n * sxx > sx * sx AND n * syy > sy * sy THEN
            floor(1000000.0 * (n * sxy - sx * sy)::DOUBLE
              / sqrt((n * sxx - sx * sx)::DOUBLE
                     * (n * syy - sy * sy)::DOUBLE))::BIGINT
          END corr_micro
        FROM g"""
    })

  /** PII audit extraction over documents with injected contact footers —
    * one row per match, positions included.
    */
  private val q166 = Q(
    "q166_pii_extract",
    (spark, dir) => {
      val d = pq(spark, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"),
              lit(" contact: user"), col("doc_id").cast("string"),
              lit("@example.com or 555-123-4567 and x555-987-6543")))
            .otherwise(col("text")).as("text"))
      TextOps.extractPii(d, "text", Seq("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id,
          CASE WHEN doc_id % 7 = 0 THEN text || ' contact: user' || doc_id
            || '@example.com or 555-123-4567 and x555-987-6543'
          ELSE text END t
        FROM documents WHERE text IS NOT NULL),
      em AS (SELECT doc_id,
          regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+') ms
        FROM d),
      ph AS (SELECT doc_id, regexp_extract_all(
          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
            '<EMAIL>', 'g'),
          '[0-9]{3}-[0-9]{3}-[0-9]{4}') ms FROM d),
      x AS (
        SELECT doc_id, 'email' kind, unnest(ms) AS match,
          unnest(generate_series(1, len(ms))) AS pos FROM em
        UNION ALL
        SELECT doc_id, 'phone', unnest(ms), unnest(generate_series(1, len(ms)))
        FROM ph)
      SELECT doc_id, kind, match, pos::BIGINT pos FROM x"""))

  /** Supplier-ring triangles on the TOP-300 co-occurring supplier pairs
    * (strength-thresholded backbone — scale-stable where an absolute
    * count cut is not), per-node triangle membership counts.
    */
  private val q167 = Q(
    "q167_triangles",
    (spark, dir) => {
      val li = pq(spark, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("k"))
        .distinct()
      val top = li.join(li.withColumnRenamed("k", "k2"), "o")
        .filter(col("k") < col("k2"))
        .groupBy("k", "k2").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("k"), col("k2"))
        .limit(300)
      Graph.triangles(top, "k", "k2")
    },
    Some("""WITH s AS (SELECT DISTINCT l_orderkey o, l_suppkey k
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_suppkey IS NOT NULL),
      e AS (SELECT a.k u, b.k v, COUNT(*) cnt FROM s a
        JOIN s b ON a.o = b.o AND a.k < b.k GROUP BY 1, 2
        ORDER BY cnt DESC, u, v LIMIT 300),
      w AS (SELECT e1.u, e1.v AS m, e2.v AS w
        FROM e e1 JOIN e e2 ON e2.u = e1.v),
      t AS (SELECT w.u, w.m, w.w FROM w
        JOIN e e3 ON e3.u = w.u AND e3.v = w.w),
      x AS (SELECT unnest([u, m, w]) node FROM t)
      SELECT node, COUNT(*)::BIGINT n_triangles FROM x GROUP BY 1"""))

  /** Order-independent shipping manifest per source — count + content
    * checksum; equal manifests ⇒ identical rows, any layout.
    */
  private val q168 = Q(
    "q168_manifest",
    (spark, dir) => Corpus.manifest(pq(spark, dir, "documents"),
      Seq("source"), Seq("doc_id", "lang", "n_chars")),
    Some("""SELECT source, COUNT(*)::BIGINT n_rows,
        SUM(('0x' || substr(md5(concat_ws(chr(31), doc_id::VARCHAR, lang,
          n_chars::VARCHAR)), 1, 8))::UBIGINT)::BIGINT content_sum
      FROM documents GROUP BY 1"""))

  /** Histogram rarity scores for every order over price and customer —
    * the no-fit anomaly score from two reference passes.
    */
  private val q169 = Q(
    "q169_rarity_score",
    (spark, dir) => {
      val o = pq(spark, dir, "orders")
      Corpus.rarityScore(o, o, "o_orderkey",
        Seq("o_totalprice", "o_custkey"), bins = 64)
    },
    Some("""WITH st AS (SELECT 'o_totalprice' col_name, o_totalprice::DOUBLE v
          FROM orders WHERE o_totalprice IS NOT NULL
        UNION ALL SELECT 'o_custkey', o_custkey::DOUBLE FROM orders
          WHERE o_custkey IS NOT NULL),
      rg AS (SELECT col_name, MIN(v) lo, MAX(v) hi FROM st GROUP BY 1),
      cnts AS (SELECT s.col_name,
          CASE WHEN lo = hi THEN 0 ELSE LEAST(GREATEST(
            floor((v - lo) * 64 / (hi - lo))::INT, 0), 63) END bucket,
          COUNT(*)::BIGINT n
        FROM st s JOIN rg USING (col_name) GROUP BY 1, 2),
      tot AS (SELECT col_name, SUM(n)::BIGINT nt FROM cnts GROUP BY 1),
      rowsl AS (SELECT o_orderkey, 'o_totalprice' col_name,
          o_totalprice::DOUBLE v FROM orders
        UNION ALL SELECT o_orderkey, 'o_custkey', o_custkey::DOUBLE
          FROM orders),
      scored AS (SELECT r.o_orderkey, r.col_name, r.v, tot.nt,
          CASE WHEN rg.lo = rg.hi THEN 0 ELSE LEAST(GREATEST(
            floor((r.v - rg.lo) * 64 / (rg.hi - rg.lo))::INT, 0), 63)
          END bucket
        FROM rowsl r LEFT JOIN rg USING (col_name)
          LEFT JOIN tot USING (col_name)),
      contrib AS (SELECT s.o_orderkey,
          CASE WHEN s.v IS NULL THEN 0
            ELSE floor(ln((s.nt + 64)::DOUBLE) * 1e6)::BIGINT
              - floor(ln((COALESCE(c.n, 0) + 1)::DOUBLE) * 1e6)::BIGINT
          END ctr,
          CASE WHEN s.v IS NULL THEN 1 ELSE 0 END miss
        FROM scored s LEFT JOIN cnts c
          ON c.col_name = s.col_name AND c.bucket = s.bucket)
      SELECT o_orderkey, SUM(ctr)::BIGINT surprise_micro,
        SUM(miss)::BIGINT n_missing
      FROM contrib GROUP BY 1"""))

  /** SCD2 validity intervals of each user's event-type state from the
    * raw change log.
    */
  private val q170 = Q(
    "q170_scd2_history",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Scd.scd2FromLog(
        raw.select(col("user_id"), col("event_id"),
          EventTime.epochMillis(raw, "ts").as("ts_ms"), col("event_type")),
        Seq("user_id"), "ts_ms", Seq("event_type"), "event_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) tms, event_type
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      d AS (SELECT *, LAG(event_type) OVER w prev,
          ROW_NUMBER() OVER w rn FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)),
      ch AS (SELECT user_id, event_id, tms, event_type FROM d
        WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
      o AS (SELECT user_id, event_type, tms AS valid_from_ms,
          LEAD(tms) OVER (PARTITION BY user_id ORDER BY tms, event_id)
            AS valid_to_ms
        FROM ch)
      SELECT user_id, event_type, valid_from_ms, valid_to_ms,
        valid_to_ms IS NULL AS is_current FROM o"""))

  /** Point-in-time dimension snapshot from the SCD2 table — what was
    * every user's state on 2024-01-16.
    */
  private val q171 = Q(
    "q171_scd2_snapshot",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Scd.snapshotAt(Scd.scd2FromLog(
        raw.select(col("user_id"), col("event_id"),
          EventTime.epochMillis(raw, "ts").as("ts_ms"), col("event_type")),
        Seq("user_id"), "ts_ms", Seq("event_type"), "event_id"),
        asOfMs = 1705363200000L)
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) tms, event_type
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      d AS (SELECT *, LAG(event_type) OVER w prev,
          ROW_NUMBER() OVER w rn FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)),
      ch AS (SELECT user_id, event_id, tms, event_type FROM d
        WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
      o AS (SELECT user_id, event_type, tms AS valid_from_ms,
          LEAD(tms) OVER (PARTITION BY user_id ORDER BY tms, event_id)
            AS valid_to_ms
        FROM ch)
      SELECT user_id, event_type, valid_from_ms, valid_to_ms,
        valid_to_ms IS NULL AS is_current FROM o
      WHERE valid_from_ms <= 1705363200000
        AND (valid_to_ms IS NULL OR valid_to_ms > 1705363200000)"""))

  /** Quantile normalization of per-type event values onto the global
    * value distribution — exact nearest-rank, distributed global rank
    * (no single-task window).
    */
  private val q172 = Q(
    "q172_quantile_normalize",
    (spark, dir) => Features.quantileNormalize(
      pq(spark, dir, "events"), "event_id", "event_type", "value"),
    Some("""WITH b AS (SELECT event_id, event_type, value AS v FROM events
          WHERE value IS NOT NULL AND event_type IS NOT NULL),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY v, event_id) rg,
          COUNT(*) OVER (PARTITION BY event_type) ng FROM b),
      g AS (SELECT v gv, ROW_NUMBER() OVER (ORDER BY v, event_id) pos FROM b),
      t AS (SELECT COUNT(*)::BIGINT n FROM b)
      SELECT r.event_id, r.event_type, r.v AS value, g.gv AS norm_value
      FROM r CROSS JOIN t
        JOIN g ON g.pos = (r.rg * t.n + r.ng - 1) // r.ng"""))

  /** Serpentine group-balanced k-fold assignment over customers —
    * GroupKFold without the sequential greedy loop.
    */
  private val q173 = Q(
    "q173_group_folds",
    (spark, dir) => Sampling.groupFolds(pq(spark, dir, "orders"),
      "o_custkey", k = 5),
    Some("""WITH s AS (SELECT o_custkey, COUNT(*)::BIGINT n_rows FROM orders
          WHERE o_custkey IS NOT NULL GROUP BY 1),
      r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY n_rows DESC, o_custkey) rn
        FROM s)
      SELECT o_custkey, n_rows,
        (CASE WHEN ((rn - 1) // 5) % 2 = 0 THEN (rn - 1) % 5
         ELSE 4 - (rn - 1) % 5 END)::BIGINT AS fold
      FROM r"""))

  /** Split-conformal 90% thresholds per event type (even ids calibrate,
    * odd ids test) with the empirical coverage audit.
    */
  private val q174 = Q(
    "q174_conformal",
    (spark, dir) => {
      val e = pq(spark, dir, "events")
      Eval.conformalThreshold(
        e.filter(col("event_id") % 2 === 0),
        e.filter(col("event_id") % 2 === 1),
        "event_type", "value", "event_id", alphaPermille = 100)
    },
    Some("""WITH b AS (SELECT event_id, event_type, value FROM events
          WHERE value IS NOT NULL AND event_type IS NOT NULL),
      cal AS (SELECT * FROM b WHERE event_id % 2 = 0),
      tst AS (SELECT * FROM b WHERE event_id % 2 = 1),
      r AS (SELECT event_type, value, event_id,
          ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY value, event_id) rn,
          COUNT(*) OVER (PARTITION BY event_type) n_cal FROM cal),
      th AS (SELECT event_type, n_cal,
          LEAST(((n_cal + 1) * 900 + 999) // 1000, n_cal) q_index,
          value AS threshold
        FROM r
        WHERE rn = LEAST(((n_cal + 1) * 900 + 999) // 1000, n_cal)),
      cv AS (SELECT t.event_type, COUNT(*)::BIGINT n_test,
          COUNT(CASE WHEN t.value <= th.threshold THEN 1 END)::BIGINT n_covered
        FROM tst t JOIN th ON th.event_type = t.event_type GROUP BY 1)
      SELECT th.event_type, th.n_cal, th.q_index, th.threshold,
        COALESCE(cv.n_test, 0)::BIGINT AS n_test,
        COALESCE(cv.n_covered, 0)::BIGINT AS n_covered
      FROM th LEFT JOIN cv USING (event_type)"""))

  /** Exact balanced range-partition plan for a sorted orders write —
    * TeraSort boundaries plus the per-partition row audit.
    */
  private val q175 = Q(
    "q175_range_plan",
    (spark, dir) => Skew.rangePartitionPlan(pq(spark, dir, "orders"),
      "o_totalprice", "o_orderkey", p = 8),
    Some("""WITH b AS (SELECT o_totalprice v, o_orderkey k FROM orders
          WHERE o_totalprice IS NOT NULL),
      t AS (SELECT COUNT(*)::BIGINT n FROM b),
      r AS (SELECT v, k, ROW_NUMBER() OVER (ORDER BY v, k) rn FROM b),
      ids AS (SELECT unnest(generate_series(0, 7))::INT partition_id),
      bd AS (SELECT (gs.i - 1)::INT partition_id, r.v bv, r.k bk
        FROM t, (SELECT unnest(generate_series(1, 7)) i) gs
        JOIN r ON r.rn = (gs.i * t.n + 7) // 8),
      cnt AS (SELECT LEAST((8 * (r.rn - 1)) // t.n, 7)::INT partition_id,
          COUNT(*)::BIGINT n_rows
        FROM r, t GROUP BY 1)
      SELECT ids.partition_id, bd.bv AS upper_value, bd.bk AS upper_tie,
        COALESCE(cnt.n_rows, 0)::BIGINT AS n_rows
      FROM ids LEFT JOIN bd USING (partition_id)
        LEFT JOIN cnt USING (partition_id)"""))

  /** Exact binary-decay EWMA (α = 1/2, 8 lags) of event values per user
    * — integer power-of-two weights, no float recurrence.
    */
  private val q176 = Q(
    "q176_ewma",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      // The op's decimal(38,0) ewma_num is internal exactness; the query
      // emits the smoothed value itself — a weighted AVERAGE of int64
      // micro values, so `ewma_micro = num div den` always fits a long.
      // Sign-split before div: Spark div truncates, DuckDB // floors.
      // (No DECIMAL/HUGEINT output columns: the gate's two readers
      // convert them differently — float64 vs Decimal — and hash-split.)
      TimeSeries.ewmaPow2(
        raw.select(col("user_id"), col("event_id"),
          EventTime.epochMillis(raw, "ts").as("ts_ms"), col("value")),
        "user_id", "ts_ms", "event_id", "value", lookback = 8)
        .withColumn("ewma_micro", expr(
          """case when ewma_num >= 0 then ewma_num div ewma_den
             else -((-ewma_num) div ewma_den) end"""))
        .drop("ewma_num")
    },
    Some {
      val num = (0 to 8).map { k =>
        val wgt = 1L << (8 - k)
        val lagv = if (k == 0) "v" else s"lag(v, $k) OVER w"
        s"COALESCE($lagv * $wgt, 0)"
      }.mkString(" + ")
      val den = (0 to 8).map { k =>
        val wgt = 1L << (8 - k)
        val lagv = if (k == 0) "v" else s"lag(v, $k) OVER w"
        s"CASE WHEN $lagv IS NULL THEN 0 ELSE $wgt END"
      }.mkString(" + ")
      s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) ts_ms,
          floor(value * 1e6)::BIGINT v FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
      f AS (SELECT user_id, event_id, ts_ms, v,
          ($num)::BIGINT num, ($den)::BIGINT den
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
      SELECT user_id, event_id, ts_ms, v AS v_micro,
        (CASE WHEN num >= 0 THEN num // den
          ELSE -((-num) // den) END)::BIGINT AS ewma_micro,
        den AS ewma_den
      FROM f"""
    })

  /** Per-order anomaly attribution — which measure deviates most from
    * its global distribution, in integer z-milli.
    */
  private val q177 = Q(
    "q177_anomaly_attrib",
    (spark, dir) => Eval.anomalyAttribution(
      pq(spark, dir, "orders"),
      "o_orderkey", Seq("o_totalprice", "o_custkey")),
    Some("""WITH s AS (SELECT col_name, floor(v * 1e6)::BIGINT xm FROM (
          SELECT 'o_totalprice' col_name, o_totalprice::DOUBLE v FROM orders
          UNION ALL SELECT 'o_custkey', o_custkey::DOUBLE FROM orders)
        WHERE v IS NOT NULL),
      g AS (SELECT col_name, COUNT(*)::BIGINT n, SUM(xm::HUGEINT) s1,
          SUM(xm::HUGEINT * xm) s2 FROM s GROUP BY 1),
      st AS (SELECT col_name, (s1 // n)::BIGINT mean_micro,
          GREATEST(floor(sqrt((n * s2 - s1 * s1)::DOUBLE
            / (n::DOUBLE * n::DOUBLE)))::BIGINT, 1) std_micro
        FROM g),
      rz AS (SELECT o_orderkey, col_name,
          CASE WHEN v IS NULL THEN 0
            ELSE abs(floor(v * 1e6)::BIGINT - mean_micro) * 1000 // std_micro
          END z
        FROM (SELECT o_orderkey, 'o_totalprice' col_name,
            o_totalprice::DOUBLE v FROM orders
          UNION ALL SELECT o_orderkey, 'o_custkey', o_custkey::DOUBLE
            FROM orders) x
          JOIN st USING (col_name)),
      pick AS (SELECT o_orderkey, col_name, z, ROW_NUMBER() OVER (
          PARTITION BY o_orderkey ORDER BY z DESC, col_name DESC) rn FROM rz),
      ext AS (SELECT o_orderkey,
          COUNT(CASE WHEN z > 3000 THEN 1 END)::BIGINT n_extreme
        FROM rz GROUP BY 1)
      SELECT p.o_orderkey, p.col_name AS top_col, p.z AS top_z_milli,
        ext.n_extreme
      FROM pick p JOIN ext USING (o_orderkey) WHERE p.rn = 1"""))

  /** JSON schema drift between two payload snapshots: a key removed, a
    * key added, a bool re-typed to string, a presence share collapsing.
    */
  private val q178 = Q(
    "q178_schema_drift",
    (spark, dir) => {
      val o = pq(spark, dir, "orders")
      val k = col("o_orderkey")
      val cents = floor(col("o_totalprice") * 100).cast("long").cast("string")
      val oldPayload = concat(
        lit("{\"okey\":"), k.cast("string"),
        lit(",\"price_cents\":"), cents,
        lit(",\"flag\":"), (k % 2 === 0).cast("string"),
        lit(",\"note\":\"n\"}"))
      val newPayload = when(k % 3 === 0, concat(
          lit("{\"okey\":"), k.cast("string"),
          lit(",\"price_cents\":"), cents,
          lit(",\"flag\":\"y\",\"priority\":\""), col("o_orderpriority"),
          lit("\"}")))
        .otherwise(concat(
          lit("{\"okey\":"), k.cast("string"),
          lit(",\"flag\":\"n\",\"priority\":\""), col("o_orderpriority"),
          lit("\"}")))
      SemiStructured.schemaDrift(
        o.select(oldPayload.as("payload")),
        o.select(newPayload.as("payload")), "payload")
    },
    Some("""WITH o AS (SELECT '{"okey":' || o_orderkey || ',"price_cents":'
          || floor(o_totalprice * 100)::BIGINT || ',"flag":'
          || (o_orderkey % 2 = 0) || ',"note":"n"}' payload FROM orders),
      nw AS (SELECT CASE WHEN o_orderkey % 3 = 0 THEN
            '{"okey":' || o_orderkey || ',"price_cents":'
              || floor(o_totalprice * 100)::BIGINT
              || ',"flag":"y","priority":"' || o_orderpriority || '"}'
          ELSE '{"okey":' || o_orderkey || ',"flag":"n","priority":"'
            || o_orderpriority || '"}' END payload FROM orders),
      vo AS (SELECT key, json_extract_string(payload, '$.' || key) v
        FROM (SELECT payload, unnest(json_keys(payload)) AS key FROM o) ko),
      go AS (SELECT key, COUNT(v)::BIGINT n_present,
          COUNT(CASE WHEN regexp_matches(v, '^-?[0-9]+$') THEN 1 END)::BIGINT ni,
          COUNT(CASE WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL THEN 1 END)::BIGINT nn,
          COUNT(CASE WHEN v IN ('true', 'false') THEN 1 END)::BIGINT nb
        FROM vo GROUP BY 1),
      po AS (SELECT key, CASE WHEN n_present = 0 THEN 'null'
            WHEN nb * 2 > n_present THEN 'bool'
            WHEN ni * 2 > n_present THEN 'int'
            WHEN nn * 2 > n_present THEN 'num' ELSE 'str' END old_type,
          n_present * 1000000 // (SELECT COUNT(*) FROM o) old_share_micro
        FROM go),
      vn AS (SELECT key, json_extract_string(payload, '$.' || key) v
        FROM (SELECT payload, unnest(json_keys(payload)) AS key FROM nw) kn),
      gn AS (SELECT key, COUNT(v)::BIGINT n_present,
          COUNT(CASE WHEN regexp_matches(v, '^-?[0-9]+$') THEN 1 END)::BIGINT ni,
          COUNT(CASE WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL THEN 1 END)::BIGINT nn,
          COUNT(CASE WHEN v IN ('true', 'false') THEN 1 END)::BIGINT nb
        FROM vn GROUP BY 1),
      pn AS (SELECT key, CASE WHEN n_present = 0 THEN 'null'
            WHEN nb * 2 > n_present THEN 'bool'
            WHEN ni * 2 > n_present THEN 'int'
            WHEN nn * 2 > n_present THEN 'num' ELSE 'str' END new_type,
          n_present * 1000000 // (SELECT COUNT(*) FROM nw) new_share_micro
        FROM gn)
      SELECT COALESCE(po.key, pn.key) AS key,
        CASE WHEN po.key IS NULL THEN 'added'
          WHEN pn.key IS NULL THEN 'removed'
          WHEN old_type <> new_type THEN 'type_changed'
          WHEN abs(new_share_micro - old_share_micro) >= 100000
            THEN 'share_shifted'
          ELSE 'stable' END AS status,
        old_type, new_type,
        old_share_micro::BIGINT old_share_micro,
        new_share_micro::BIGINT new_share_micro
      FROM po FULL OUTER JOIN pn ON po.key = pn.key"""))

  /** Purged temporal split: first 70% of events by time train, a 1-hour
    * embargo gap excluded, the rest test — the leakage guard for lagged
    * features.
    */
  private val q179 = Q(
    "q179_embargo_split",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Sampling.temporalEmbargoSplit(
        raw.select(col("event_id"), col("user_id"),
          EventTime.epochMillis(raw, "ts").as("ts_ms")),
        "ts_ms", "event_id", trainPermille = 700, embargoMs = 3600000L)
    },
    Some("""WITH b AS (SELECT event_id, user_id, epoch_ms(ts) ts_ms
          FROM events WHERE ts IS NOT NULL),
      t AS (SELECT COUNT(*)::BIGINT n FROM b),
      r AS (SELECT ts_ms, event_id,
          ROW_NUMBER() OVER (ORDER BY ts_ms, event_id) rn FROM b),
      c AS (SELECT r.ts_ms cut_ts, r.event_id cut_tie FROM r, t
        WHERE r.rn = GREATEST(1, t.n * 700 // 1000))
      SELECT b.event_id, b.user_id, b.ts_ms,
        CASE WHEN b.ts_ms < c.cut_ts
            OR (b.ts_ms = c.cut_ts AND b.event_id <= c.cut_tie) THEN 'train'
          WHEN b.ts_ms > c.cut_ts + 3600000 THEN 'test'
          ELSE 'embargo' END AS split
      FROM b, c"""))

  /** Mutual top-1 cosine neighbors on the 300-vector audit sample — the
    * reciprocity filter over one-way nearest neighbors.
    */
  private val q180 = Q(
    "q180_mutual_nn",
    (spark, dir) => Similarity.mutualTop1(
      pq(spark, dir, "embeddings").filter(col("vec_id") < 300),
      "vec_id", "embedding"),
    Some("""WITH q AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
          WHERE vec_id < 300),
      s AS (SELECT a.vec_id qid, b.vec_id nid,
          ROUND(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))), 6) score
        FROM q a JOIN q b ON a.vec_id <> b.vec_id),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY score DESC, nid) rn FROM s),
      nn AS (SELECT qid, nid, score FROM r WHERE rn = 1)
      SELECT f.qid AS id_a, f.nid AS id_b, f.score AS score
      FROM nn f JOIN nn r2
        ON f.qid = r2.nid AND f.nid = r2.qid AND f.qid < f.nid"""))

  /** Theil–Sen robust trend per user over hourly value buckets — the
    * median pairwise slope, outlier-immune.
    */
  private val q181 = Q(
    "q181_theil_sen",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val buckets = raw
        .select(col("user_id"),
          EventTime.epochMillis(raw, "ts").as("ts_ms"), col("value"))
        .filter(col("user_id").isNotNull && col("ts_ms").isNotNull &&
          col("value").isNotNull)
        .withColumn("t", expr("ts_ms div 3600000"))
        .groupBy("user_id", "t")
        .agg(sum(floor(col("value") * 1e6).cast("long")).as("v"))
      TimeSeries.theilSen(buckets, "user_id", "t", "v")
    },
    Some("""WITH e AS (SELECT user_id, epoch_ms(ts) // 3600000 t,
          floor(value * 1e6)::BIGINT vm FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      p AS (SELECT user_id, t, SUM(vm)::BIGINT v FROM e GROUP BY 1, 2),
      c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t) rn
        FROM p),
      pts AS (SELECT user_id, t, v FROM c WHERE rn <= 256),
      pr AS (SELECT a.user_id, a.t t1, b.t t2,
          (b.v - a.v)::DOUBLE / (b.t - a.t)::DOUBLE slope
        FROM pts a JOIN pts b ON a.user_id = b.user_id AND a.t < b.t),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY slope, t1, t2) rr,
          COUNT(*) OVER (PARTITION BY user_id) m FROM pr),
      np AS (SELECT user_id, COUNT(*)::BIGINT n_points FROM pts GROUP BY 1)
      SELECT r.user_id, np.n_points, r.m AS n_pairs,
        r.slope AS slope_per_ms
      FROM r JOIN np USING (user_id) WHERE rr = (m + 1) // 2"""))

  /** Benford first-digit audit of order totals per priority class —
    * hardcoded log-law expectations, integer shares.
    */
  private val q182 = Q(
    "q182_benford",
    (spark, dir) => Corpus.benford(pq(spark, dir, "orders"),
      "o_orderpriority", "o_totalprice"),
    Some("""WITH b AS (SELECT o_orderpriority g,
          substr(floor(o_totalprice * 100)::BIGINT::VARCHAR, 1, 1)::INT digit
        FROM orders WHERE o_orderpriority IS NOT NULL
          AND o_totalprice IS NOT NULL AND o_totalprice > 0),
      c AS (SELECT g, digit, COUNT(*)::BIGINT n FROM b
        WHERE digit >= 1 GROUP BY 1, 2),
      t AS (SELECT g, SUM(n)::BIGINT n_group FROM c GROUP BY 1),
      e AS (SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938),
          (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152),
          (9, 45757)) v(digit, bm))
      SELECT c.g AS o_orderpriority, c.digit, c.n, t.n_group,
        c.n * 1000000 // t.n_group AS share_micro,
        e.bm::BIGINT AS benford_micro,
        abs(c.n * 1000000 // t.n_group - e.bm)::BIGINT AS dev_micro
      FROM c JOIN t USING (g) JOIN e USING (digit)"""))

  /** Blocking-strategy audit over documents: candidate-pair cost and
    * straggler-block size of two blocking keys, before any matcher runs.
    */
  private val q183 = Q(
    "q183_blocking_audit",
    (spark, dir) => Entity.blockingAudit(pq(spark, dir, "documents"), Seq(
      "lang_lenbucket" -> concat(col("lang"), lit("|"),
        expr("cast(n_chars div 100 as string)")),
      "md5_prefix3" -> substring(md5(substring(col("text"), 1, 32)), 1, 3))),
    Some("""WITH s1 AS (SELECT lang || '|' || (n_chars // 100) blk
          FROM documents),
      b1 AS (SELECT blk, COUNT(*)::BIGINT b FROM s1
        WHERE blk IS NOT NULL GROUP BY 1),
      a1 AS (SELECT 'lang_lenbucket' strategy, SUM(b)::BIGINT n_rows,
          COUNT(*)::BIGINT n_blocks,
          SUM(b * (b - 1) // 2)::BIGINT n_candidate_pairs,
          MAX(b) max_block FROM b1),
      s2 AS (SELECT substr(md5(substr(text, 1, 32)), 1, 3) blk
          FROM documents),
      b2 AS (SELECT blk, COUNT(*)::BIGINT b FROM s2
        WHERE blk IS NOT NULL GROUP BY 1),
      a2 AS (SELECT 'md5_prefix3' strategy, SUM(b)::BIGINT n_rows,
          COUNT(*)::BIGINT n_blocks,
          SUM(b * (b - 1) // 2)::BIGINT n_candidate_pairs,
          MAX(b) max_block FROM b2),
      u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
      SELECT strategy, n_rows, n_blocks, n_candidate_pairs,
        CASE WHEN n_rows > 1 THEN (n_candidate_pairs::HUGEINT * 1000000
          // (n_rows::HUGEINT * (n_rows - 1) // 2))::BIGINT END
          AS reduction_micro,
        max_block
      FROM u"""))

  /** Clustering-vs-labels quality: purity and NMI of document sources
    * against language tags, integer-ln exact.
    */
  private val q184 = Q(
    "q184_cluster_purity",
    (spark, dir) => Cluster.purityNmi(pq(spark, dir, "documents"),
      "source", "lang"),
    Some("""WITH cells AS (SELECT source c, lang l, COUNT(*)::BIGINT o
          FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
          GROUP BY 1, 2),
      mc AS (SELECT c, SUM(o)::BIGINT nc, MAX(o)::BIGINT maxc
        FROM cells GROUP BY 1),
      ml AS (SELECT l, SUM(o)::BIGINT nl FROM cells GROUP BY 1),
      t AS (SELECT SUM(o)::BIGINT n FROM cells),
      mi AS (SELECT SUM(o * (floor(ln(o::DOUBLE) * 1e6)::BIGINT
            + floor(ln(t.n::DOUBLE) * 1e6)::BIGINT
            - floor(ln(nc::DOUBLE) * 1e6)::BIGINT
            - floor(ln(nl::DOUBLE) * 1e6)::BIGINT))::BIGINT mi_sum
        FROM cells JOIN mc USING (c) JOIN ml USING (l), t),
      hc AS (SELECT COUNT(*)::BIGINT n_clusters, SUM(maxc)::BIGINT pure_sum,
          SUM(nc * (floor(ln(t.n::DOUBLE) * 1e6)::BIGINT
            - floor(ln(nc::DOUBLE) * 1e6)::BIGINT))::BIGINT hc_sum
        FROM mc, t),
      hl AS (SELECT COUNT(*)::BIGINT n_labels,
          SUM(nl * (floor(ln(t.n::DOUBLE) * 1e6)::BIGINT
            - floor(ln(nl::DOUBLE) * 1e6)::BIGINT))::BIGINT hl_sum
        FROM ml, t)
      SELECT t.n, hc.n_clusters, hl.n_labels,
        pure_sum * 1000000 // t.n AS purity_micro,
        mi.mi_sum, hc.hc_sum, hl.hl_sum,
        CASE WHEN GREATEST(hc_sum, hl_sum) > 0
          THEN GREATEST(mi_sum, 0) * 1000 // GREATEST(hc_sum, hl_sum)
        END AS nmi_milli
      FROM t, mi, hc, hl"""))

  /** Hour-of-day seasonal profile of event values per type — exact
    * integer cell averages and lift against the type's overall mean.
    */
  private val q185 = Q(
    "q185_seasonal",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      TimeSeries.seasonalProfile(
        raw.select(col("event_type"),
          EventTime.epochMillis(raw, "ts").as("ts_ms"), col("value")),
        "event_type", "ts_ms", "value",
        periodMs = 86400000L, bucketMs = 3600000L)
    },
    Some("""WITH e AS (SELECT event_type, epoch_ms(ts) ts_ms,
          floor(value * 1e6)::BIGINT vm FROM events
        WHERE event_type IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL AND epoch_ms(ts) >= 0),
      c AS (SELECT event_type, (ts_ms // 3600000) % 24 phase,
          COUNT(*)::BIGINT n, SUM(vm)::BIGINT sum_micro
        FROM e GROUP BY 1, 2),
      k AS (SELECT event_type, SUM(n)::BIGINT kn, SUM(sum_micro)::BIGINT ks
        FROM c GROUP BY 1)
      SELECT c.event_type, c.phase, c.n, c.sum_micro,
        sum_micro // n AS avg_micro,
        CASE WHEN ks > 0 THEN (sum_micro::HUGEINT * kn * 1000
          // (n::HUGEINT * ks))::BIGINT END AS lift_milli
      FROM c JOIN k USING (event_type)"""))

  /** Multi-evidence dedup: clusters over the UNION of content-hash,
    * head-hash, and tail-hash star edges — the "merge by any
    * fingerprint" union-find of production crawl dedup.
    */
  private val q186 = Q(
    "q186_multikey_dedup",
    (spark, dir) => Dedup.multiKeyClusters(
      pq(spark, dir, "documents"), "doc_id", Seq(
        "content" -> md5(lower(trim(col("text")))),
        "head64" -> md5(substring(col("text"), 1, 64)),
        "tail64" -> md5(expr("right(text, 64)")))),
    Some("""WITH RECURSIVE
      k1 AS (SELECT doc_id, md5(lower(trim(text))) kv FROM documents
        WHERE text IS NOT NULL),
      r1 AS (SELECT kv, MIN(doc_id) root FROM k1 GROUP BY 1
        HAVING COUNT(*) BETWEEN 2 AND 1000),
      p1 AS (SELECT r1.root ia, k1.doc_id ib FROM k1 JOIN r1 USING (kv)
        WHERE k1.doc_id <> r1.root),
      k2 AS (SELECT doc_id, md5(substr(text, 1, 64)) kv FROM documents
        WHERE text IS NOT NULL),
      r2 AS (SELECT kv, MIN(doc_id) root FROM k2 GROUP BY 1
        HAVING COUNT(*) BETWEEN 2 AND 1000),
      p2 AS (SELECT r2.root ia, k2.doc_id ib FROM k2 JOIN r2 USING (kv)
        WHERE k2.doc_id <> r2.root),
      k3 AS (SELECT doc_id, md5(right(text, 64)) kv FROM documents
        WHERE text IS NOT NULL),
      r3 AS (SELECT kv, MIN(doc_id) root FROM k3 GROUP BY 1
        HAVING COUNT(*) BETWEEN 2 AND 1000),
      p3 AS (SELECT r3.root ia, k3.doc_id ib FROM k3 JOIN r3 USING (kv)
        WHERE k3.doc_id <> r3.root),
      pairs AS (SELECT * FROM p1 UNION SELECT * FROM p2
        UNION SELECT * FROM p3),
      sym AS (SELECT ia u, ib v FROM pairs UNION SELECT ib, ia FROM pairs),
      reach(u, v) AS (SELECT u, v FROM sym
        UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
      lbl AS (SELECT u, MIN(v) mv FROM reach GROUP BY u)
      SELECT d.doc_id AS id,
        LEAST(d.doc_id, COALESCE(l.mv, d.doc_id)) AS cluster,
        d.doc_id = LEAST(d.doc_id, COALESCE(l.mv, d.doc_id)) AS is_canonical
      FROM documents d LEFT JOIN lbl l ON l.u = d.doc_id"""))

  /** Sorted-neighborhood candidate pairs over part names (prefix sort
    * key, window 4) with a Levenshtein verify — the bounded-budget ER
    * pass that catches matches hash blocking straddles.
    */
  private val q187 = Q(
    "q187_sorted_neighbors",
    (spark, dir) => {
      val parts = pq(spark, dir, "part")
        .select(col("p_partkey"), col("p_name"))
        .filter(col("p_partkey").isNotNull && col("p_name").isNotNull)
      val pairs = Entity.sortedNeighborPairs(
        parts, "p_partkey", lower(substring(col("p_name"), 1, 12)), window = 4)
      val named = parts.select(col("p_partkey").as("id_a"), col("p_name").as("na"))
      val namedB = parts.select(col("p_partkey").as("id_b"), col("p_name").as("nb"))
      pairs.join(named, "id_a").join(namedB, "id_b")
        .withColumn("dist", levenshtein(col("na"), col("nb")))
        .filter(col("dist") <= 12)
        .select("id_a", "id_b", "gap", "dist")
    },
    Some("""WITH t AS (SELECT p_partkey id, p_name,
          lower(substr(p_name, 1, 12)) k FROM part
        WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL),
      r AS (SELECT id, p_name, ROW_NUMBER() OVER (ORDER BY k, id) rn FROM t),
      p AS (SELECT a.id id_a, b.id id_b, (b.rn - a.rn)::INT gap,
          levenshtein(a.p_name, b.p_name) dist
        FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3)
      SELECT id_a, id_b, gap, dist FROM p WHERE dist <= 12"""))

  /** Referential-integrity audit: orders→customer (clean FK) and
    * events.user→customer (dangling users) — the orphan report before a
    * join-heavy run hides them.
    */
  private val q188 = Q(
    "q188_integrity_audit",
    (spark, dir) => Corpus.integrityAudit(Seq(
      ("orders_customer", pq(spark, dir, "orders"), "o_custkey",
        pq(spark, dir, "customer"), "c_custkey"),
      ("events_customer", pq(spark, dir, "events"), "user_id",
        pq(spark, dir, "customer"), "c_custkey"),
      ("lineitem_orders", pq(spark, dir, "lineitem"), "l_orderkey",
        pq(spark, dir, "orders"), "o_orderkey"))),
    Some("""WITH r1 AS (SELECT 'orders_customer' relation,
          COUNT(*)::BIGINT n_rows, COUNT(o_custkey)::BIGINT n_child,
          COUNT(CASE WHEN o_custkey IS NOT NULL AND o_custkey NOT IN
            (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
            THEN 1 END)::BIGINT n_orphans
        FROM orders),
      r2 AS (SELECT 'events_customer',
          COUNT(*)::BIGINT, COUNT(user_id)::BIGINT,
          COUNT(CASE WHEN user_id IS NOT NULL AND user_id NOT IN
            (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
            THEN 1 END)::BIGINT
        FROM events),
      r3 AS (SELECT 'lineitem_orders',
          COUNT(*)::BIGINT, COUNT(l_orderkey)::BIGINT,
          COUNT(CASE WHEN l_orderkey IS NOT NULL AND l_orderkey NOT IN
            (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)
            THEN 1 END)::BIGINT
        FROM lineitem),
      u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
        UNION ALL SELECT * FROM r3)
      SELECT relation, n_rows, n_child,
        (n_rows - n_child)::BIGINT AS n_null_fk, n_orphans,
        n_orphans * 1000000 // GREATEST(n_child, 1) AS orphan_micro
      FROM u"""))

  /** Exact two-sample KS statistic between click and view value
    * distributions — binless drift, integer-exact via the distributed
    * prefix-sum CDF.
    */
  private val q189 = Q(
    "q189_ks_statistic",
    // d_scaled is exact decimal(38,0) inside the op; emitted as DOUBLE
    // (diagnostic — the statistic ks_micro stays exact int64). DECIMAL
    // output columns hash-split across the gate's two readers.
    (spark, dir) => Eval.ksStatistic(pq(spark, dir, "events"),
      "event_type", "value", "click", "view")
      .withColumn("d_scaled", col("d_scaled").cast("double")),
    Some("""WITH c AS (SELECT v, SUM(ca)::BIGINT ca, SUM(cb)::BIGINT cb
          FROM (SELECT value v, 1 ca, 0 cb FROM events
              WHERE event_type = 'click' AND value IS NOT NULL
            UNION ALL SELECT value, 0, 1 FROM events
              WHERE event_type = 'view' AND value IS NOT NULL) x
          GROUP BY 1),
      t AS (SELECT SUM(ca)::BIGINT n_a, SUM(cb)::BIGINT n_b FROM c),
      w AS (SELECT v, SUM(ca) OVER (ORDER BY v)::BIGINT cuma,
          SUM(cb) OVER (ORDER BY v)::BIGINT cumb FROM c),
      d AS (SELECT v, abs(cuma::HUGEINT * t.n_b - cumb::HUGEINT * t.n_a) dd
        FROM w, t),
      m AS (SELECT MAX(dd) d_scaled FROM d)
      SELECT t.n_a, t.n_b, m.d_scaled::DOUBLE AS d_scaled,
        (m.d_scaled * 1000000 //
          GREATEST(t.n_a::HUGEINT * t.n_b, 1))::BIGINT AS ks_micro,
        MAX(CASE WHEN d.dd = m.d_scaled THEN d.v END) AS at_value
      FROM d, t, m GROUP BY 1, 2, 3, 4"""))

  /** Exact-count stratified 70/15/15 split per language — every stratum
    * hits its proportions exactly, md5-ordered and deterministic.
    */
  private val q190 = Q(
    "q190_stratified_split",
    (spark, dir) => Sampling.stratifiedExactSplit(
      pq(spark, dir, "documents"), "lang", "doc_id",
      Seq(("train", 700), ("dev", 150), ("test", 150)), salt = "s1"),
    Some("""WITH b AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
          ORDER BY md5('s1' || '|' || doc_id), doc_id) rn,
          COUNT(*) OVER (PARTITION BY lang) ng
        FROM documents)
      SELECT doc_id, text, lang, source, n_chars,
        CASE WHEN rn <= ng * 700 // 1000 THEN 'train'
          WHEN rn <= ng * 850 // 1000 THEN 'dev'
          ELSE 'test' END AS split
      FROM b"""))

  /** k-NN label-noise audit on the 400-vector embedding sample: rows
    * whose 5 nearest neighbors vote a different label get flagged.
    */
  private val q191 = Q(
    "q191_label_noise",
    (spark, dir) => Eval.knnLabelAudit(
      pq(spark, dir, "embeddings").filter(col("vec_id") < 400),
      "vec_id", "embedding", "label", k = 5),
    Some("""WITH q AS (SELECT vec_id, label::BIGINT lab,
          embedding::DOUBLE[] v FROM embeddings
        WHERE vec_id < 400 AND label IS NOT NULL),
      s AS (SELECT a.vec_id qid, b.vec_id nid, b.lab nlab,
          ROUND(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))), 6) score
        FROM q a JOIN q b ON a.vec_id <> b.vec_id),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY score DESC, nid) rn FROM s),
      kn AS (SELECT qid, nlab FROM r WHERE rn <= 5),
      cnt AS (SELECT qid, nlab, COUNT(*)::BIGINT c FROM kn GROUP BY 1, 2),
      mj AS (SELECT qid, nlab, ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY c DESC, nlab) mrn FROM cnt)
      SELECT q.vec_id AS id, q.lab AS label, mj.nlab AS knn_label,
        COALESCE(ag.c, 0)::BIGINT AS n_agree,
        (mj.nlab <> q.lab) AS flagged
      FROM q JOIN mj ON mj.qid = q.vec_id AND mj.mrn = 1
        LEFT JOIN cnt ag ON ag.qid = q.vec_id AND ag.nlab = q.lab"""))

  /** Customer-revenue Lorenz curve in deciles — the inequality shape
    * behind the q162 Gini scalar.
    */
  private val q192 = Q(
    "q192_lorenz_curve",
    (spark, dir) => Corpus.lorenzCurve(pq(spark, dir, "orders"),
      "o_custkey", "o_totalprice", buckets = 10),
    Some("""WITH h AS (SELECT o_custkey hh,
          SUM(floor(o_totalprice * 1e6)::BIGINT)::BIGINT w FROM orders
        WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1),
      r AS (SELECT w, ROW_NUMBER() OVER (ORDER BY w, hh) rn FROM h),
      t AS (SELECT COUNT(*)::BIGINT n FROM h),
      c AS (SELECT ((10 * (rn - 1)) // t.n)::INT bucket,
          COUNT(*)::BIGINT n_holders, SUM(w)::BIGINT weight_micro
        FROM r, t GROUP BY 1),
      tot AS (SELECT SUM(weight_micro)::BIGINT tw FROM c)
      SELECT bucket, n_holders, weight_micro,
        (SUM(n_holders) OVER wo)::BIGINT AS cum_holders,
        (SUM(weight_micro) OVER wo)::BIGINT AS cum_weight_micro,
        ((SUM(weight_micro) OVER wo) * 1000000
          // GREATEST(tot.tw, 1))::BIGINT AS cum_share_micro
      FROM c, tot
      WINDOW wo AS (ORDER BY bucket
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""))

  /** Truncation loss at three candidate context lengths over the document
    * corpus (n_chars as the cost unit): what survives least(n, L).
    */
  private val q193 = Q(
    "q193_truncation_stats",
    (spark, dir) => Packing.truncationStats(
      pq(spark, dir, "documents"), "n_chars", Seq(500L, 2000L, 8000L)),
    Some("""WITH d AS (SELECT n_chars::BIGINT n FROM documents
          WHERE n_chars IS NOT NULL),
      l AS (SELECT unnest([500, 2000, 8000])::BIGINT context_len)
      SELECT context_len, COUNT(*)::BIGINT n_docs,
        SUM(CASE WHEN n > context_len THEN 1 ELSE 0 END)::BIGINT n_truncated,
        (SUM(CASE WHEN n > context_len THEN 1 ELSE 0 END)::HUGEINT * 1000000
          // GREATEST(COUNT(*), 1))::BIGINT trunc_frac_micro,
        SUM(n)::BIGINT tokens_total,
        SUM(LEAST(n, context_len))::BIGINT tokens_kept,
        (SUM(n) - SUM(LEAST(n, context_len)))::BIGINT tokens_lost,
        (SUM(LEAST(n, context_len))::HUGEINT * 1000000
          // GREATEST(SUM(n), 1))::BIGINT kept_frac_micro
      FROM d CROSS JOIN l GROUP BY 1"""))

  /** Concat-and-chunk packing audit at context 2048 chars in the salted
    * md5 epoch order: per document, its exact chunk span and how many
    * chunk boundaries cut it.
    */
  private val q194 = Q(
    "q194_packing_audit",
    (spark, dir) => Packing.packingAudit(
      pq(spark, dir, "documents"), "doc_id", "n_chars", 2048L, salt = "s1"),
    Some("""WITH d AS (SELECT doc_id id, n_chars::BIGINT n_cost,
          md5('s1' || '|' || doc_id) ord
        FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
      c AS (SELECT id, n_cost,
          (SUM(n_cost) OVER (ORDER BY ord, id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT cum
        FROM d)
      SELECT id, n_cost, (cum - n_cost)::BIGINT start_offset,
        ((cum - n_cost) // 2048)::BIGINT chunk_first,
        (GREATEST(cum - 1, cum - n_cost) // 2048)::BIGINT chunk_last,
        (GREATEST(cum - 1, cum - n_cost) // 2048
          - (cum - n_cost) // 2048)::BIGINT n_splits
      FROM c"""))

  /** Kaplan–Meier churn curve over the event stream: per-user lifespan
    * (first→last activity, day-floored), churn observed iff the user
    * went quiet ≥ 30 days before the study end — otherwise right-
    * censored. The honest counterpart to q148's naive retention.
    */
  private val q195 = Q(
    "q195_km_churn",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val u = raw
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), EventTime.epochMillis(raw, "ts").as("ts_ms"))
        .groupBy("user_id")
        .agg(min("ts_ms").as("first_ms"), max("ts_ms").as("last_ms"))
      val subj = u
        .crossJoin(broadcast(u.agg(max("last_ms").as("study_end_ms"))))
        .select(
          expr("(last_ms - first_ms) div 86400000").as("dur_days"),
          (col("last_ms") <= col("study_end_ms") - lit(2592000000L))
            .as("churned"))
      Survival.kaplanMeier(subj, "dur_days", "churned")
    },
    Some("""WITH e AS (SELECT user_id, epoch_ms(ts) tms FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      u AS (SELECT user_id, MIN(tms) f, MAX(tms) l FROM e GROUP BY 1),
      se AS (SELECT MAX(l) m FROM u),
      s AS (SELECT (l - f) // 86400000 t,
          (l <= se.m - 2592000000) ev FROM u, se),
      g AS (SELECT t,
          COUNT(*) FILTER (WHERE ev)::BIGINT n_event,
          COUNT(*) FILTER (WHERE NOT ev)::BIGINT n_censored
        FROM s GROUP BY 1),
      tot AS (SELECT SUM(n_event + n_censored)::BIGINT n FROM g),
      w AS (SELECT g.*, tot.n,
          (SUM(n_event + n_censored) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT cum
        FROM g, tot),
      r AS (SELECT t, n_event, n_censored,
          (n - cum + n_event + n_censored)::BIGINT n_risk FROM w),
      h AS (SELECT *,
          (n_event::HUGEINT * 1000000 // n_risk)::BIGINT hazard_micro,
          CASE WHEN n_event = 0 THEN 0
            WHEN n_risk > n_event THEN
              floor(ln((n_risk - n_event)::DOUBLE) * 1e6)::BIGINT
                - floor(ln(n_risk::DOUBLE) * 1e6)::BIGINT
            ELSE -1000000000000000 END term
        FROM r),
      f AS (SELECT t, n_risk, n_event, n_censored, hazard_micro,
          (SUM(term) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT lc
        FROM h)
      SELECT t, n_risk, n_event, n_censored, hazard_micro,
        CASE WHEN lc <= -500000000000000 THEN NULL ELSE lc END
          AS ln_surv_micro
      FROM f"""))

  /** Log-rank churn A/B: hash-bucketed experiment arms (user_id parity —
    * the deterministic arm assignment an experimentation system uses),
    * same per-user lifespans and 30-day churn rule as q195, compared
    * with the censoring-aware test. Under a null split χ² should sit
    * far below the 3841-milli 5% line.
    */
  private val q196 = Q(
    "q196_logrank_churn",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val u = raw
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), EventTime.epochMillis(raw, "ts").as("ts_ms"))
        .groupBy("user_id")
        .agg(min("ts_ms").as("first_ms"), max("ts_ms").as("last_ms"))
      val subj = u
        .crossJoin(broadcast(u.agg(max("last_ms").as("study_end_ms"))))
        .select(
          expr("(last_ms - first_ms) div 86400000").as("dur_days"),
          (col("last_ms") <= col("study_end_ms") - lit(2592000000L))
            .as("churned"),
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b").as("cohort"))
      Survival.logRank(subj, "dur_days", "churned", "cohort")
    },
    Some("""WITH e AS (SELECT user_id, epoch_ms(ts) tms
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      u AS (SELECT user_id, MIN(tms) f, MAX(tms) l FROM e GROUP BY 1),
      se AS (SELECT MAX(l) m FROM u),
      s AS (SELECT (l - f) // 86400000 t, (l <= se.m - 2592000000) ev,
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g
        FROM u, se),
      c AS (SELECT t,
          COUNT(*) FILTER (WHERE g = 'arm_a' AND ev)::BIGINT d_a,
          COUNT(*) FILTER (WHERE g = 'arm_b' AND ev)::BIGINT d_b,
          COUNT(*) FILTER (WHERE g = 'arm_a')::BIGINT at_a,
          COUNT(*) FILTER (WHERE g = 'arm_b')::BIGINT at_b
        FROM s GROUP BY 1),
      tot AS (SELECT SUM(at_a)::BIGINT ta, SUM(at_b)::BIGINT tb FROM c),
      w AS (SELECT c.*, tot.ta, tot.tb,
          (SUM(at_a) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT ca,
          (SUM(at_b) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT cb
        FROM c, tot),
      r AS (SELECT t, d_a, d_b, ta, tb,
          (ta - ca + at_a)::BIGINT na, (tb - cb + at_b)::BIGINT nb,
          (ta - ca + at_a + tb - cb + at_b)::BIGINT nn,
          (d_a + d_b)::BIGINT d FROM w),
      p AS (SELECT *,
          (d::HUGEINT * na * 1000000 // nn) e_a,
          (d::HUGEINT * nb * 1000000 // nn) e_b,
          CASE WHEN nn > 1 THEN
            ((d::HUGEINT * (nn - d) * 1000000 // (nn - 1))
              * (na::HUGEINT * 1000000 // nn) // 1000000)
              * (nb::HUGEINT * 1000000 // nn) // 1000000
          ELSE 0 END v FROM r),
      agg AS (SELECT SUM(d_a)::BIGINT oa, SUM(d_b)::BIGINT ob,
          SUM(e_a)::BIGINT ea, SUM(e_b)::BIGINT eb, SUM(v)::BIGINT v,
          ANY_VALUE(ta) ta, ANY_VALUE(tb) tb FROM p),
      chi AS (SELECT *, CASE WHEN v <= 0 THEN NULL ELSE
          (((oa::HUGEINT * 1000000 - ea) * (oa::HUGEINT * 1000000 - ea))
            // (1000::HUGEINT * v))::BIGINT END chi2_milli FROM agg)
      SELECT 'arm_a' AS grp, ta AS n_subjects, oa AS n_events,
        ea AS expected_micro, v AS var_micro, chi2_milli FROM chi
      UNION ALL
      SELECT 'arm_b', tb, ob, eb, v, chi2_milli FROM chi"""))

  /** t-closeness release audit on orders: does any (priority, year)
    * class skew its order-status distribution > 0.1 TVD from the
    * table's? Completes the k/l/t privacy-gate triple with q159.
    */
  private val q197 = Q(
    "q197_t_closeness",
    (spark, dir) => Privacy.tCloseness(
      pq(spark, dir, "orders").select(
        col("o_orderpriority").as("prio"),
        year(col("o_orderdate")).cast("long").as("yr"),
        col("o_orderstatus").as("status")),
      Seq("prio", "yr"), "status", tMicro = 100000L),
    Some("""WITH b AS (SELECT o_orderpriority prio,
          year(o_orderdate)::BIGINT yr, o_orderstatus s
        FROM orders WHERE o_orderstatus IS NOT NULL),
      cell AS (SELECT prio, yr, s, COUNT(*)::BIGINT n_cs
        FROM b GROUP BY 1, 2, 3),
      tot AS (SELECT COUNT(*)::BIGINT n_tot FROM b),
      g2 AS (SELECT s,
          (COUNT(*)::HUGEINT * 1000000 // tot.n_tot)::BIGINT q
        FROM b, tot GROUP BY s, tot.n_tot),
      qt AS (SELECT SUM(q)::BIGINT qtot FROM g2),
      cl AS (SELECT prio, yr, SUM(n_cs)::BIGINT n FROM cell GROUP BY 1, 2),
      t AS (SELECT cell.prio, cell.yr, cl.n,
          SUM(ABS((cell.n_cs::HUGEINT * 1000000 // cl.n)::BIGINT - g2.q)
            - g2.q)::BIGINT st
        FROM cell JOIN cl USING (prio, yr) JOIN g2 USING (s)
        GROUP BY 1, 2, 3)
      SELECT prio, yr, n, ((st + qt.qtot) // 2)::BIGINT tvd_micro,
        ((st + qt.qtot) // 2 > 100000) AS t_violation
      FROM t, qt"""))

  /** Cumulative gains/lift deciles: events ranked by value as the
    * score, purchase as the positive — "what share of purchases does
    * the top-k score slice capture, and at what lift over random?"
    */
  private val q198 = Q(
    "q198_gains_curve",
    (spark, dir) => Eval.gainsCurve(
      pq(spark, dir, "events").select(
        col("event_id"), col("value"),
        (col("event_type") === "purchase").as("y")),
      "event_id", "value", "y", buckets = 10),
    Some("""WITH b AS (SELECT event_id id, floor(value * 1e6)::BIGINT s,
          (event_type = 'purchase') y
        FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL
          AND event_type IS NOT NULL),
      r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY s DESC, id) rn FROM b),
      t AS (SELECT COUNT(*)::BIGINT n,
          COUNT(*) FILTER (WHERE y)::BIGINT npos FROM b),
      c AS (SELECT ((10 * (rn - 1)) // t.n)::INT bucket,
          COUNT(*)::BIGINT n, COUNT(*) FILTER (WHERE y)::BIGINT n_pos,
          ANY_VALUE(t.n) tn, ANY_VALUE(t.npos) tp
        FROM r, t GROUP BY 1),
      w AS (SELECT bucket, n, n_pos, tn, tp,
          (SUM(n) OVER wo)::BIGINT cum_n,
          (SUM(n_pos) OVER wo)::BIGINT cum_pos
        FROM c WINDOW wo AS (ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT bucket, n, n_pos, cum_n, cum_pos,
        (cum_pos::HUGEINT * 1000000 // GREATEST(tp, 1))::BIGINT gain_micro,
        (cum_pos::HUGEINT * tn * 1000
          // GREATEST(tp::HUGEINT * cum_n, 1))::BIGINT lift_milli
      FROM w"""))

  /** k-core of the customer–supplier trade graph (bipartite, ids
    * disambiguated by parity): who survives 4 rounds of parallel
    * peeling at k=5 — the mutual-support subgraph ring/spam detection
    * thresholds on. Oracle unrolls the same 4 rounds.
    */
  private val q199 = Q(
    "q199_k_core",
    (spark, dir) => {
      val e = pq(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(pq(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("cu"),
          (col("l_suppkey") * 2 + 1).as("su"))
      Graph.kCore(e, "cu", "su", k = 5, iters = 4)
    },
    Some("""WITH e0 AS (SELECT DISTINCT LEAST(c, s) u, GREATEST(c, s) v
        FROM (SELECT o_custkey * 2 c, l_suppkey * 2 + 1 s
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL)),
      a0 AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      k1 AS (SELECT u FROM a0 GROUP BY u HAVING COUNT(*) >= 5),
      a1 AS (SELECT a.u, a.v FROM a0 a JOIN k1 x ON a.u = x.u
        JOIN k1 y ON a.v = y.u),
      k2 AS (SELECT u FROM a1 GROUP BY u HAVING COUNT(*) >= 5),
      a2 AS (SELECT a.u, a.v FROM a1 a JOIN k2 x ON a.u = x.u
        JOIN k2 y ON a.v = y.u),
      k3 AS (SELECT u FROM a2 GROUP BY u HAVING COUNT(*) >= 5),
      a3 AS (SELECT a.u, a.v FROM a2 a JOIN k3 x ON a.u = x.u
        JOIN k3 y ON a.v = y.u),
      k4 AS (SELECT u FROM a3 GROUP BY u HAVING COUNT(*) >= 5),
      a4 AS (SELECT a.u, a.v FROM a3 a JOIN k4 x ON a.u = x.u
        JOIN k4 y ON a.v = y.u)
      SELECT u AS node, COUNT(*)::BIGINT degree,
        (COUNT(*) >= 5) AS in_core
      FROM a4 GROUP BY u"""))

  /** Out-of-orderness profile of the event stream in arrival order
    * (event_id): the exact-log2 disorder histogram that sizes a
    * watermark — read cumulatively it is the late-drop-rate-vs-W curve.
    */
  private val q200 = Q(
    "q200_disorder_profile",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      TimeSeries.disorderProfile(
        raw.filter(col("event_id").isNotNull && col("ts").isNotNull)
          .select(col("event_id"),
            EventTime.epochMillis(raw, "ts").as("ts_ms")),
        "event_id", "ts_ms")
    },
    Some("""WITH b AS (SELECT event_id a, epoch_ms(ts) t FROM events
          WHERE event_id IS NOT NULL AND ts IS NOT NULL),
      r AS (SELECT a, t, MAX(t) OVER (ORDER BY a
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) pm FROM b),
      l AS (SELECT CASE WHEN pm IS NULL THEN 0
          ELSE GREATEST(pm - t, 0) END lt FROM r),
      h AS (SELECT (CASE WHEN lt = 0 THEN 0
            ELSE LENGTH(bin(lt)) END)::INT disorder_bucket,
          COUNT(*)::BIGINT n_events, MAX(lt)::BIGINT max_disorder_ms
        FROM l GROUP BY 1),
      tot AS (SELECT COUNT(*)::BIGINT n FROM l)
      SELECT disorder_bucket, n_events, max_disorder_ms,
        (n_events::HUGEINT * 1000000 // tot.n)::BIGINT share_micro
      FROM h, tot"""))

  /** Exact KNN-Shapley data valuation on the embedding sample: which
    * training vectors help or hurt a 5-NN classifier on the first-50
    * validation slice — the data-pruning / mislabel-bounty signal.
    */
  private val q201 = Q(
    "q201_knn_shapley",
    (spark, dir) => {
      val em = pq(spark, dir, "embeddings")
        .filter(col("label").isNotNull)
      Eval.knnShapley(
        em.filter(col("vec_id") >= 50 && col("vec_id") < 500),
        em.filter(col("vec_id") < 50),
        "vec_id", "embedding", "label", k = 5)
    },
    Some("""WITH tr AS (SELECT vec_id tid, label::BIGINT ty,
          embedding::DOUBLE[] tv FROM embeddings
        WHERE vec_id >= 50 AND vec_id < 500 AND label IS NOT NULL),
      va AS (SELECT vec_id vid, label::BIGINT vy,
          embedding::DOUBLE[] vv FROM embeddings
        WHERE vec_id < 50 AND label IS NOT NULL),
      s AS (SELECT vid, vy, tid, ty,
          ROUND(list_dot_product(tv, vv) /
            (sqrt(list_dot_product(tv, tv))
             * sqrt(list_dot_product(vv, vv))), 6) score
        FROM tr, va WHERE tid <> vid),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vid
            ORDER BY score DESC, tid) i,
          COUNT(*) OVER (PARTITION BY vid) n,
          CASE WHEN ty = vy THEN 1 ELSE 0 END ind
        FROM s),
      d AS (SELECT *, LEAD(ind, 1) OVER (PARTITION BY vid
          ORDER BY score DESC, tid) ind_next FROM r),
      c AS (SELECT vid, tid, ty, i,
          CASE WHEN i = n THEN ind * 1000000 // n
            ELSE (ind - ind_next) * ((LEAST(5, i) * 1000000) // (5 * i))
          END contrib FROM d),
      sfx AS (SELECT vid, tid, ty,
          (SUM(contrib) OVER (PARTITION BY vid ORDER BY i DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
            s_micro FROM c)
      SELECT tid AS id, MAX(ty)::BIGINT AS label, COUNT(*)::BIGINT n_val,
        SUM(s_micro)::BIGINT shapley_sum_micro,
        (CASE WHEN SUM(s_micro) >= 0 THEN SUM(s_micro) // COUNT(*)
          ELSE -((-SUM(s_micro)) // COUNT(*)) END)::BIGINT shapley_micro
      FROM sfx GROUP BY tid"""))

  /** Heaps-law vocabulary-growth audit over documents in salted-md5
    * order: per equal-count slice, never-seen-before tokens plus the
    * cumulative vocabulary and type/token-ratio curve.
    */
  private val q202 = Q(
    "q202_vocab_growth",
    (spark, dir) => TextOps.vocabGrowth(
      pq(spark, dir, "documents"), "doc_id", "text", buckets = 10,
      salt = "s1"),
    Some("""WITH b AS (SELECT doc_id id, text,
          md5('s1' || '|' || doc_id) ord FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL),
      r AS (SELECT id, text, ROW_NUMBER() OVER (ORDER BY ord, id) rn FROM b),
      tot AS (SELECT COUNT(*)::BIGINT n FROM b),
      tk AS (SELECT rn, unnest(string_split(trim(text), ' ')) token FROM r),
      tk2 AS (SELECT rn, token FROM tk WHERE token <> ''),
      docb AS (SELECT ((10 * (rn - 1)) // tot.n)::INT bucket,
          COUNT(*)::BIGINT n_docs FROM r, tot GROUP BY 1),
      tokb AS (SELECT ((10 * (rn - 1)) // tot.n)::INT bucket,
          COUNT(*)::BIGINT n_tokens FROM tk2, tot GROUP BY 1),
      fo AS (SELECT token, MIN(rn) frn FROM tk2 GROUP BY 1),
      vb AS (SELECT ((10 * (frn - 1)) // tot.n)::INT bucket,
          COUNT(*)::BIGINT new_vocab FROM fo, tot GROUP BY 1),
      j AS (SELECT d.bucket, d.n_docs,
          COALESCE(t.n_tokens, 0)::BIGINT n_tokens,
          COALESCE(v.new_vocab, 0)::BIGINT new_vocab
        FROM docb d LEFT JOIN tokb t USING (bucket)
          LEFT JOIN vb v USING (bucket)),
      w AS (SELECT bucket, n_docs, n_tokens, new_vocab,
          (SUM(n_tokens) OVER wo)::BIGINT tokens_cum,
          (SUM(new_vocab) OVER wo)::BIGINT vocab_cum
        FROM j WINDOW wo AS (ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT bucket, n_docs, n_tokens, new_vocab, tokens_cum, vocab_cum,
        (vocab_cum::HUGEINT * 1000000
          // GREATEST(tokens_cum, 1))::BIGINT ttr_micro
      FROM w"""))

  /** Simhash dedup yield sweep: pairs and first-affected docs per
    * Hamming distance 0..3 — the removal-budget curve that picks the
    * threshold q33/q72 assume.
    */
  private val q203 = Q(
    "q203_dedup_yield",
    (spark, dir) => Dedup.simhashYieldCurve(
      pq(spark, dir, "documents"), "doc_id", "text",
      prefixBits = 16, maxHamming = 3),
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) tok FROM documents),
      h AS (SELECT doc_id, md5(tok) h FROM toks),
      bits AS (SELECT doc_id, g,
        CASE WHEN ((instr('0123456789abcdef', substr(h, g//4 + 1, 1)) - 1)
          // CAST(POWER(2, g%4) AS INT)) % 2 = 1 THEN 1 ELSE -1 END w
        FROM (SELECT doc_id, h, unnest(generate_series(0, 63)) g FROM h)),
      s AS (SELECT doc_id, g, SUM(w) sw FROM bits GROUP BY 1, 2),
      sim AS (SELECT doc_id, string_agg(CASE WHEN sw > 0 THEN '1' ELSE '0' END, '' ORDER BY g) AS simhash
        FROM s GROUP BY doc_id),
      p AS (SELECT a.doc_id ia, a.simhash sa, b.doc_id ib, b.simhash sb FROM sim a
        JOIN sim b ON a.doc_id < b.doc_id
          AND (substr(a.simhash, 1, 16) = substr(b.simhash, 1, 16)
            OR substr(a.simhash, 17, 16) = substr(b.simhash, 17, 16)
            OR substr(a.simhash, 33, 16) = substr(b.simhash, 33, 16)
            OR substr(a.simhash, 49, 16) = substr(b.simhash, 49, 16))),
      pr AS (SELECT ia, ib,
          len(list_filter(generate_series(1, 64),
            g -> substr(sa, g::INT, 1) <> substr(sb, g::INT, 1)))::INT hamming
        FROM p
        WHERE len(list_filter(generate_series(1, 64),
          g -> substr(sa, g::INT, 1) <> substr(sb, g::INT, 1))) <= 3),
      fr AS (SELECT unnest(generate_series(0, 3))::INT hamming),
      pc AS (SELECT hamming, COUNT(*)::BIGINT n_pairs FROM pr GROUP BY 1),
      dm AS (SELECT id, MIN(hamming)::INT hamming FROM
          (SELECT ia id, hamming FROM pr
           UNION ALL SELECT ib, hamming FROM pr) GROUP BY 1),
      dc AS (SELECT hamming, COUNT(*)::BIGINT n_docs_new FROM dm GROUP BY 1),
      j AS (SELECT fr.hamming, COALESCE(pc.n_pairs, 0)::BIGINT n_pairs,
          COALESCE(dc.n_docs_new, 0)::BIGINT n_docs_new
        FROM fr LEFT JOIN pc USING (hamming) LEFT JOIN dc USING (hamming))
      SELECT hamming, n_pairs,
        (SUM(n_pairs) OVER wo)::BIGINT n_pairs_cum, n_docs_new,
        (SUM(n_docs_new) OVER wo)::BIGINT n_docs_cum
      FROM j WINDOW wo AS (ORDER BY hamming
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""))

  /** RFM quintile segmentation of customers over their order history —
    * recency in epoch days, exact micro monetary, codes 111..555.
    */
  private val q204 = Q(
    "q204_rfm_segments",
    (spark, dir) => Features.rfmSegments(
      pq(spark, dir, "orders").select(
        col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).as("day"),
        col("o_totalprice")),
      "o_custkey", "day", "o_totalprice", buckets = 5),
    Some("""WITH b AS (SELECT o_custkey e,
          (o_orderdate::DATE - DATE '1970-01-01')::BIGINT d, o_totalprice a
        FROM orders WHERE o_custkey IS NOT NULL
          AND o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
      per AS (SELECT e entity, MAX(d)::BIGINT last_active,
          COUNT(*)::BIGINT n_events,
          SUM(floor(a * 1e6)::BIGINT)::BIGINT monetary_micro
        FROM b GROUP BY 1),
      t AS (SELECT COUNT(*)::BIGINT n FROM per),
      r AS (SELECT entity, ((5 * (ROW_NUMBER() OVER
          (ORDER BY last_active, entity) - 1)) // t.n + 1)::INT r_score
        FROM per, t),
      f AS (SELECT entity, ((5 * (ROW_NUMBER() OVER
          (ORDER BY n_events, entity) - 1)) // t.n + 1)::INT f_score
        FROM per, t),
      m AS (SELECT entity, ((5 * (ROW_NUMBER() OVER
          (ORDER BY monetary_micro, entity) - 1)) // t.n + 1)::INT m_score
        FROM per, t)
      SELECT per.entity, last_active, n_events, monetary_micro,
        r_score, f_score, m_score,
        (r_score * 100 + f_score * 10 + m_score)::INT rfm_code
      FROM per JOIN r USING (entity) JOIN f USING (entity)
        JOIN m USING (entity)"""))

  /** Foreign-key discovery across the TPC-H core: which column pairs
    * satisfy ≥95% value containment — should surface l_orderkey ⊆
    * o_orderkey, o_custkey ⊆ c_custkey, the nationkey FKs, etc.
    */
  private val q205 = Q(
    "q205_fk_discovery",
    (spark, dir) => Corpus.inclusionDependencies(Seq(
      ("orders", pq(spark, dir, "orders"), Seq("o_orderkey", "o_custkey")),
      ("customer", pq(spark, dir, "customer"), Seq("c_custkey", "c_nationkey")),
      ("nation", pq(spark, dir, "nation"), Seq("n_nationkey")),
      ("supplier", pq(spark, dir, "supplier"), Seq("s_suppkey", "s_nationkey")),
      ("lineitem", pq(spark, dir, "lineitem"), Seq("l_orderkey", "l_suppkey")))),
    Some("""WITH vals AS (
        SELECT 'orders.o_orderkey' qcol, o_orderkey::VARCHAR v FROM orders WHERE o_orderkey IS NOT NULL
        UNION ALL SELECT 'orders.o_custkey', o_custkey::VARCHAR FROM orders WHERE o_custkey IS NOT NULL
        UNION ALL SELECT 'customer.c_custkey', c_custkey::VARCHAR FROM customer WHERE c_custkey IS NOT NULL
        UNION ALL SELECT 'customer.c_nationkey', c_nationkey::VARCHAR FROM customer WHERE c_nationkey IS NOT NULL
        UNION ALL SELECT 'nation.n_nationkey', n_nationkey::VARCHAR FROM nation WHERE n_nationkey IS NOT NULL
        UNION ALL SELECT 'supplier.s_suppkey', s_suppkey::VARCHAR FROM supplier WHERE s_suppkey IS NOT NULL
        UNION ALL SELECT 'supplier.s_nationkey', s_nationkey::VARCHAR FROM supplier WHERE s_nationkey IS NOT NULL
        UNION ALL SELECT 'lineitem.l_orderkey', l_orderkey::VARCHAR FROM lineitem WHERE l_orderkey IS NOT NULL
        UNION ALL SELECT 'lineitem.l_suppkey', l_suppkey::VARCHAR FROM lineitem WHERE l_suppkey IS NOT NULL),
      d AS (SELECT DISTINCT qcol, v FROM vals),
      rc AS (
        SELECT 'orders.o_orderkey' qcol, (SELECT COUNT(*) FROM orders)::BIGINT n
        UNION ALL SELECT 'orders.o_custkey', (SELECT COUNT(*) FROM orders)
        UNION ALL SELECT 'customer.c_custkey', (SELECT COUNT(*) FROM customer)
        UNION ALL SELECT 'customer.c_nationkey', (SELECT COUNT(*) FROM customer)
        UNION ALL SELECT 'nation.n_nationkey', (SELECT COUNT(*) FROM nation)
        UNION ALL SELECT 'supplier.s_suppkey', (SELECT COUNT(*) FROM supplier)
        UNION ALL SELECT 'supplier.s_nationkey', (SELECT COUNT(*) FROM supplier)
        UNION ALL SELECT 'lineitem.l_orderkey', (SELECT COUNT(*) FROM lineitem)
        UNION ALL SELECT 'lineitem.l_suppkey', (SELECT COUNT(*) FROM lineitem)),
      cs AS (SELECT qcol, COUNT(*)::BIGINT nd FROM d GROUP BY 1),
      m AS (SELECT a.qcol child, b.qcol parent, COUNT(*)::BIGINT n_common
        FROM d a JOIN d b ON a.v = b.v AND a.qcol <> b.qcol GROUP BY 1, 2)
      SELECT m.child, m.parent, ca.nd AS n_child_distinct,
        pa.nd AS n_parent_distinct, m.n_common,
        (m.n_common::HUGEINT * 1000000 // ca.nd)::BIGINT containment_micro,
        (pa.nd::HUGEINT * 1000000 // GREATEST(rc.n, 1))::BIGINT parent_unique_micro,
        (m.n_common::HUGEINT * 1000000 // ca.nd >= 950000) is_candidate
      FROM m JOIN cs ca ON ca.qcol = m.child
        JOIN cs pa ON pa.qcol = m.parent
        JOIN rc ON rc.qcol = m.parent"""))

  /** Annotator consensus over a synthetic labeling stream (item =
    * event_id mod 300, annotator = user, label = event type): majority,
    * reliability-weighted re-vote, and the flipped-item queue.
    */
  private val q206 = Q(
    "q206_annotator_consensus",
    (spark, dir) => Eval.annotatorConsensus(
      pq(spark, dir, "events").select(
        pmod(col("event_id"), lit(300)).as("item"),
        col("user_id"), col("event_type")),
      "item", "user_id", "event_type"),
    Some("""WITH b AS (SELECT event_id % 300 item, user_id ann,
          event_type lab FROM events
        WHERE event_id IS NOT NULL AND user_id IS NOT NULL
          AND event_type IS NOT NULL),
      mc AS (SELECT item, lab, COUNT(*)::BIGINT c FROM b GROUP BY 1, 2),
      mj AS (SELECT item, lab majority_label FROM
        (SELECT *, ROW_NUMBER() OVER (PARTITION BY item
          ORDER BY c DESC, lab) r FROM mc) WHERE r = 1),
      w AS (SELECT ann,
          ((COUNT(*) FILTER (WHERE lab = majority_label) + 1)::HUGEINT
            * 1000000 // (COUNT(*) + 2))::BIGINT w_micro
        FROM b JOIN mj USING (item) GROUP BY ann),
      v AS (SELECT item, lab, COUNT(*)::BIGINT votes,
          SUM(w_micro)::BIGINT wsum
        FROM b JOIN w USING (ann) GROUP BY 1, 2),
      t AS (SELECT item, lab, votes, wsum,
          (SUM(wsum) OVER (PARTITION BY item))::BIGINT wtot,
          (SUM(votes) OVER (PARTITION BY item))::BIGINT n_ann,
          ROW_NUMBER() OVER (PARTITION BY item
            ORDER BY wsum DESC, lab) r FROM v)
      SELECT t.item, n_ann AS n_annotations, mj.majority_label,
        t.lab AS consensus_label,
        (wsum::HUGEINT * 1000000 // wtot)::BIGINT confidence_micro,
        (t.lab <> mj.majority_label) AS changed
      FROM t JOIN mj USING (item) WHERE r = 1"""))

  /** Medoid per k-means cluster over the embeddings — the exemplar
    * vector dataset summarization hands a human, chosen by exact
    * micro-long pairwise L2.
    */
  private val q207 = Q(
    "q207_cluster_medoids",
    (spark, dir) => {
      val em = pq(spark, dir, "embeddings")
      val assign = Cluster.kmeansAssign(em, "vec_id", "embedding",
        k = 4, iters = 1)
      Cluster.medoids(
        em.join(assign.select("vec_id", "cluster"), "vec_id"),
        "vec_id", "embedding", "cluster")
    },
    Some(s"""$kmeansOracleCte,
      asg AS (SELECT vec_id, cl::INT cl FROM (SELECT vec_id, cl,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) rn
        FROM d2) WHERE rn = 1),
      mv AS (SELECT e.vec_id id, asg.cl,
          list_transform(e.embedding::DOUBLE[],
            x -> round((x + 4.0) * 1000000)::BIGINT) xmv
        FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id),
      pc AS (SELECT a.cl, a.id,
          SUM(list_sum(list_transform(list_zip(a.xmv, b.xmv),
            p -> (p[1] - p[2]) * (p[1] - p[2]))))::HUGEINT AS cost
        FROM mv a JOIN mv b ON a.cl = b.cl AND a.id <> b.id GROUP BY 1, 2),
      sz AS (SELECT cl, COUNT(*)::BIGINT n_members, MIN(id) only_id
        FROM mv GROUP BY 1),
      md AS (SELECT cl, id, cost, ROW_NUMBER() OVER (PARTITION BY cl
          ORDER BY cost, id) r FROM pc)
      SELECT md.cl AS cluster, md.id AS medoid_id, sz.n_members,
        (md.cost // GREATEST(sz.n_members - 1, 1))::BIGINT avg_dist2
      FROM md JOIN sz USING (cl) WHERE r = 1
      UNION ALL
      SELECT cl, only_id, n_members, 0::BIGINT FROM sz
      WHERE n_members = 1"""))

  /** Per-cluster silhouette of the k-means assignment — cluster-quality
    * milli scores plus the mis-assignment count per cluster.
    */
  private val q208 = Q(
    "q208_silhouette",
    (spark, dir) => {
      val em = pq(spark, dir, "embeddings")
      val assign = Cluster.kmeansAssign(em, "vec_id", "embedding",
        k = 4, iters = 1)
      Cluster.silhouette(
        em.join(assign.select("vec_id", "cluster"), "vec_id"),
        "vec_id", "embedding", "cluster")
    },
    Some(s"""$kmeansOracleCte,
      asg AS (SELECT vec_id, cl::INT cl FROM (SELECT vec_id, cl,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) rn
        FROM d2) WHERE rn = 1),
      mv AS (SELECT e.vec_id id, asg.cl,
          list_transform(e.embedding::DOUBLE[],
            x -> round((x + 4.0) * 1000000)::BIGINT) xmv
        FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id),
      pp AS (SELECT a.id, a.cl, b.cl ocl,
          list_sum(list_transform(list_zip(a.xmv, b.xmv),
            p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dd
        FROM mv a JOIN mv b ON a.id <> b.id),
      pc AS (SELECT id, cl, ocl,
          (SUM(dd::HUGEINT) // COUNT(*))::BIGINT mean2
        FROM pp GROUP BY 1, 2, 3),
      own AS (SELECT id, mean2 a_mean FROM pc WHERE cl = ocl),
      oth AS (SELECT id, MIN(mean2)::BIGINT b_mean FROM pc
        WHERE cl <> ocl GROUP BY 1),
      pts AS (SELECT mv.id, mv.cl,
          CASE WHEN own.a_mean IS NULL OR oth.b_mean IS NULL THEN 0
            WHEN oth.b_mean > own.a_mean THEN
              ((oth.b_mean - own.a_mean)::HUGEINT * 1000 // oth.b_mean)::BIGINT
            WHEN own.a_mean > oth.b_mean THEN
              -(((own.a_mean - oth.b_mean)::HUGEINT * 1000 // own.a_mean)::BIGINT)
            ELSE 0 END s
        FROM mv LEFT JOIN own ON own.id = mv.id
          LEFT JOIN oth ON oth.id = mv.id)
      SELECT cl AS cluster, COUNT(*)::BIGINT n_points,
        (CASE WHEN SUM(s) >= 0 THEN SUM(s) // COUNT(*)
          ELSE -((-SUM(s)) // COUNT(*)) END)::BIGINT mean_silhouette_milli,
        (COUNT(*) FILTER (WHERE s < 0))::BIGINT n_negative
      FROM pts GROUP BY 1"""))

  /** Confusable/invisible-character hygiene audit. The synthetic corpus
    * is clean, so the query plants deterministic artifacts (a zero-width
    * space on doc_id≡0 mod 50, a Latin-Cyrillic homoglyph token on
    * doc_id≡0 mod 77) identically in both engines — the audit must
    * find exactly those.
    */
  private val q209 = Q(
    "q209_confusable_audit",
    (spark, dir) => TextOps.confusableAudit(
      pq(spark, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(50)) === 0, lit("\u200B"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(77)) === 0, lit(" p\u0430yment"))
            .otherwise(lit(""))).as("text")),
      "doc_id", "text"),
    Some("""WITH d AS (SELECT doc_id,
          text || (CASE WHEN doc_id % 50 = 0 THEN chr(8203) ELSE '' END)
               || (CASE WHEN doc_id % 77 = 0 THEN ' p' || chr(1072) || 'yment'
                   ELSE '' END) t
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
      SELECT doc_id,
        (length(t) - length(regexp_replace(t,
          '[' || chr(8203) || chr(8204) || chr(8205) || chr(65279) || ']',
          '', 'g')))::BIGINT n_zero_width,
        (length(t) - length(regexp_replace(t,
          '[' || chr(8234) || '-' || chr(8238) || chr(8294) || '-'
              || chr(8297) || ']', '', 'g')))::BIGINT n_bidi,
        (length(t) - length(regexp_replace(t,
          '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')))::BIGINT n_control,
        len(list_filter(string_split(trim(t), ' '), w ->
          regexp_matches(w, '[A-Za-z]')
          AND regexp_matches(w, '[\x{0400}-\x{04FF}]')))::BIGINT
          n_mixed_script_tokens,
        ((length(t) - length(regexp_replace(t,
            '[' || chr(8203) || chr(8204) || chr(8205) || chr(65279) || ']',
            '', 'g')))
          + (length(t) - length(regexp_replace(t,
            '[' || chr(8234) || '-' || chr(8238) || chr(8294) || '-'
                || chr(8297) || ']', '', 'g')))
          + (length(t) - length(regexp_replace(t,
            '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')))
          + len(list_filter(string_split(trim(t), ' '), w ->
              regexp_matches(w, '[A-Za-z]')
              AND regexp_matches(w, '[\x{0400}-\x{04FF}]'))) > 0)
          AS suspicious
      FROM d"""))

  /** One-sided CUSUM drift monitor per user vs a fixed reference mean
    * of 50 (slack 5, threshold 200) — Page's test in closed window
    * form; the streaming twin replays it bit-for-bit.
    */
  private val q210 = Q(
    "q210_cusum_monitor",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      TimeSeries.cusumMonitor(
        raw.filter(col("user_id").isNotNull && col("ts").isNotNull &&
            col("value").isNotNull)
          .select(col("user_id"), col("event_id"),
            EventTime.epochMillis(raw, "ts").as("ts_ms"), col("value")),
        "user_id", "ts_ms", "event_id", "value",
        refMeanMicro = 50000000L, slackMicro = 5000000L,
        thresholdMicro = 200000000L)
        // Prefix sums stay decimal(38,0) inside the op; the clamped
        // statistic is bounded by rows_per_key·max|v−ref−slack| and fits
        // int64 to ~1.6·10¹¹ events per key at these magnitudes. DECIMAL
        // output columns hash-split across the gate's two readers.
        .withColumn("s_micro", col("s_micro").cast("long"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) ts_ms,
          floor(value * 1e6)::BIGINT v FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      p AS (SELECT *,
          (SUM((v - 55000000)::HUGEINT) OVER
            (PARTITION BY user_id ORDER BY ts_ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) prefix
        FROM e),
      m AS (SELECT *,
          (MIN(prefix) OVER
            (PARTITION BY user_id ORDER BY ts_ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) runmin
        FROM p)
      SELECT user_id, event_id, ts_ms, v AS v_micro,
        (prefix - LEAST(0::HUGEINT, runmin))::BIGINT AS s_micro,
        ((prefix - LEAST(0::HUGEINT, runmin)) > 200000000) AS alarmed
      FROM m"""))

  /** Spearman rank-correlation matrix over lineitem measures — the
    * monotonic-association view next to q165's Pearson, on exact
    * integer midranks.
    */
  private val q211 = Q(
    "q211_spearman",
    (spark, dir) => Features.spearmanMatrix(
      pq(spark, dir, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount")),
      "rid", Seq("l_quantity", "l_extendedprice", "l_discount")),
    Some("""WITH b AS (SELECT l_orderkey * 10 + l_linenumber id,
          l_quantity::DOUBLE q, l_extendedprice::DOUBLE p,
          l_discount::DOUBLE d
        FROM lineitem WHERE l_orderkey IS NOT NULL
          AND l_linenumber IS NOT NULL AND l_quantity IS NOT NULL
          AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL),
      tot AS (SELECT COUNT(*)::BIGINT n FROM b),
      cq AS (SELECT q v, COUNT(*)::BIGINT c FROM b GROUP BY 1),
      rq AS (SELECT v, (2 * SUM(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - c + 1)::BIGINT r2 FROM cq),
      cp AS (SELECT p v, COUNT(*)::BIGINT c FROM b GROUP BY 1),
      rp AS (SELECT v, (2 * SUM(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - c + 1)::BIGINT r2 FROM cp),
      cd AS (SELECT d v, COUNT(*)::BIGINT c FROM b GROUP BY 1),
      rd AS (SELECT v, (2 * SUM(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - c + 1)::BIGINT r2 FROM cd),
      j AS (SELECT (rq.r2 - tot.n - 1)::HUGEINT aq,
          (rp.r2 - tot.n - 1)::HUGEINT ap,
          (rd.r2 - tot.n - 1)::HUGEINT ad
        FROM b JOIN rq ON b.q = rq.v JOIN rp ON b.p = rp.v
          JOIN rd ON b.d = rd.v CROSS JOIN tot),
      s AS (SELECT SUM(aq * ap) qp, SUM(aq * aq) qq, SUM(ap * ap) pp,
          SUM(aq * ad) qd, SUM(ad * ad) dd, SUM(ap * ad) pd FROM j)
      SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, tot.n,
        CASE WHEN qq > 0 AND pp > 0 THEN floor(1000000.0 * qp::DOUBLE
          / sqrt(qq::DOUBLE * pp::DOUBLE))::BIGINT END AS spearman_micro
      FROM s, tot
      UNION ALL
      SELECT 'l_quantity', 'l_discount', tot.n,
        CASE WHEN qq > 0 AND dd > 0 THEN floor(1000000.0 * qd::DOUBLE
          / sqrt(qq::DOUBLE * dd::DOUBLE))::BIGINT END
      FROM s, tot
      UNION ALL
      SELECT 'l_extendedprice', 'l_discount', tot.n,
        CASE WHEN pp > 0 AND dd > 0 THEN floor(1000000.0 * pd::DOUBLE
          / sqrt(pp::DOUBLE * dd::DOUBLE))::BIGINT END
      FROM s, tot"""))

  /** One-way ANOVA of order value by priority — η² and F for the
    * categorical↔numeric association slot (χ²/V is cat↔cat, Spearman/
    * Pearson num↔num).
    */
  private val q212 = Q(
    "q212_anova_eta",
    (spark, dir) => Features.anovaEta(
      pq(spark, dir, "orders"), "o_orderpriority", "o_totalprice"),
    Some("""WITH b AS (SELECT o_orderpriority c,
          floor(o_totalprice * 1e6)::BIGINT v FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
      g AS (SELECT c, COUNT(*)::BIGINT ng, SUM(v)::HUGEINT sg,
          SUM(v::HUGEINT * v)::HUGEINT qg FROM b GROUP BY 1),
      t AS (SELECT SUM(ng)::BIGINT n, COUNT(*)::BIGINT k,
          SUM(sg)::HUGEINT s, SUM(qg)::HUGEINT q,
          SUM((sg * sg) // ng)::HUGEINT sb
        FROM g)
      SELECT n, k AS n_groups,
        CASE WHEN k >= 2 AND n > k THEN
          floor(1000000.0 * (sb::DOUBLE - s::DOUBLE * s::DOUBLE / n)
            / nullif(q::DOUBLE - s::DOUBLE * s::DOUBLE / n, 0.0))::BIGINT
        END AS eta2_micro,
        CASE WHEN k >= 2 AND n > k THEN
          floor(1000.0 *
            ((sb::DOUBLE - s::DOUBLE * s::DOUBLE / n) / (k - 1))
            / nullif((q::DOUBLE - sb::DOUBLE) / (n - k), 0.0))::BIGINT
        END AS f_milli
      FROM t"""))

  /** Kruskal–Wallis H of order value across priorities — the rank-based
    * (outlier-proof) sibling of q212's ANOVA.
    */
  private val q213 = Q(
    "q213_kruskal_wallis",
    // tie_sum is exact decimal(38,0) inside the op; emitted as DOUBLE
    // (diagnostic — the statistic h_milli is already int64). DECIMAL
    // output columns hash-split across the gate's two readers.
    (spark, dir) => Features.kruskalWallis(
      pq(spark, dir, "orders"), "o_orderpriority", "o_totalprice")
      .withColumn("tie_sum", col("tie_sum").cast("double")),
    Some("""WITH b AS (SELECT o_orderpriority g2, o_totalprice::DOUBLE v
          FROM orders WHERE o_orderpriority IS NOT NULL
            AND o_totalprice IS NOT NULL),
      c AS (SELECT v, COUNT(*)::BIGINT c FROM b GROUP BY 1),
      r AS (SELECT v, (2 * SUM(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - c + 1)::BIGINT r2 FROM c),
      tt AS (SELECT SUM(c::HUGEINT * c * c - c)::HUGEINT t FROM c),
      gg AS (SELECT g2, COUNT(*)::BIGINT ng, SUM(r2)::HUGEINT r2g
        FROM b JOIN r USING (v) GROUP BY 1),
      s AS (SELECT SUM(ng)::BIGINT n, COUNT(*)::BIGINT k,
          SUM((r2g * r2g) // ng)::HUGEINT sq4 FROM gg)
      SELECT n, k AS n_groups, tt.t::DOUBLE AS tie_sum,
        CASE WHEN k >= 2 AND n >= 2
            AND n::DOUBLE * n * n - n > tt.t::DOUBLE THEN
          floor(1000.0 *
            (12.0 * (sq4::DOUBLE / 4.0) / (n::DOUBLE * (n + 1))
              - 3.0 * (n + 1))
            / (1.0 - tt.t::DOUBLE
               / (n::DOUBLE * n * n - n)))::BIGINT END AS h_milli
      FROM s, tt"""))

  /** Mann–Whitney U on event values between user-parity experiment
    * arms — exact U and Cliff's delta, tie-corrected z.
    */
  private val q214 = Q(
    "q214_mann_whitney",
    (spark, dir) => Features.mannWhitney(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b").as("arm"),
          col("value")),
      "arm", "value"),
    Some("""WITH b AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'arm_a'
            ELSE 'arm_b' END g, value::DOUBLE v
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      c AS (SELECT v, COUNT(*)::BIGINT c FROM b GROUP BY 1),
      r AS (SELECT v, (2 * SUM(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - c + 1)::BIGINT r2 FROM c),
      tt AS (SELECT SUM(c::HUGEINT * c * c - c)::HUGEINT t FROM c),
      gg AS (SELECT g, COUNT(*)::BIGINT ng, SUM(r2)::HUGEINT r2g
        FROM b JOIN r USING (v) GROUP BY 1),
      a AS (SELECT ng na, r2g r2a FROM gg WHERE g = 'arm_a'),
      b2 AS (SELECT ng nb, r2g r2b FROM gg WHERE g = 'arm_b'),
      u AS (SELECT na, nb,
          (r2a - na::HUGEINT * (na + 1)) u2a,
          (r2b - nb::HUGEINT * (nb + 1)) u2b FROM a, b2)
      SELECT 'arm_a' AS grp_a, 'arm_b' AS grp_b, na AS n_a, nb AS n_b,
        (u2a::DOUBLE / 2) AS u_a, (u2b::DOUBLE / 2) AS u_b,
        (CASE WHEN u2a - na::HUGEINT * nb >= 0
          THEN ((u2a - na::HUGEINT * nb) * 1000000 // (na::HUGEINT * nb))
          ELSE -(((na::HUGEINT * nb - u2a) * 1000000)
                 // (na::HUGEINT * nb)) END)::BIGINT
          AS rank_biserial_micro,
        floor(1000.0 * (u2a::DOUBLE - na::DOUBLE * nb)
          / sqrt(na::DOUBLE * nb / 12.0
            * ((na + nb + 1)::DOUBLE
               - tt.t::DOUBLE / ((na + nb)::DOUBLE * (na + nb - 1)))
            * 4.0))::BIGINT AS z_milli
      FROM u, tt"""))

  /** Wilcoxon signed-rank on paired per-user metrics: micro-average
    * view value vs click value for users with both — "does the same
    * user value views and clicks differently?"
    */
  private val q215 = Q(
    "q215_wilcoxon",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val per = raw
        .filter(col("user_id").isNotNull && col("value").isNotNull &&
          col("event_type").isNotNull)
        .withColumn("__v", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "view", col("__v"))).as("sv"),
          count(when(col("event_type") === "view", 1)).as("cv"),
          sum(when(col("event_type") === "click", col("__v"))).as("sc"),
          count(when(col("event_type") === "click", 1)).as("cc"))
        .filter(col("cv") > 0 && col("cc") > 0)
        // Per-user micro averages stay INTEGER end-to-end (no /1e6
        // round-trip; a 1-ulp double wobble could floor to m−1).
        // Sign-split before div on both sides: Spark div truncates,
        // DuckDB // floors — they agree only on non-negative dividends.
        .select(
          expr("""case when sv >= 0 then sv div cv
                  else -((-sv) div cv) end""").as("a_micro"),
          expr("""case when sc >= 0 then sc div cc
                  else -((-sc) div cc) end""").as("b_micro"))
      Features.wilcoxonSignedRankMicro(per, "a_micro", "b_micro")
    },
    Some("""WITH e AS (SELECT user_id, event_type,
          floor(value * 1e6)::BIGINT v FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
          AND event_type IS NOT NULL),
      p AS (SELECT user_id,
          SUM(CASE WHEN event_type = 'view' THEN v END)::BIGINT sv,
          COUNT(CASE WHEN event_type = 'view' THEN 1 END)::BIGINT cv,
          SUM(CASE WHEN event_type = 'click' THEN v END)::BIGINT sc,
          COUNT(CASE WHEN event_type = 'click' THEN 1 END)::BIGINT cc
        FROM e GROUP BY 1),
      d0 AS (SELECT
          (CASE WHEN sv >= 0 THEN sv // cv ELSE -((-sv) // cv) END)
          - (CASE WHEN sc >= 0 THEN sc // cc ELSE -((-sc) // cc) END) d
        FROM p WHERE cv > 0 AND cc > 0),
      nzc AS (SELECT COUNT(*) FILTER (WHERE d = 0)::BIGINT n_zero FROM d0),
      nz AS (SELECT d, ABS(d) ad FROM d0 WHERE d <> 0),
      c AS (SELECT ad, COUNT(*)::BIGINT c FROM nz GROUP BY 1),
      r AS (SELECT ad, (2 * SUM(c) OVER (ORDER BY ad
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - c + 1)::BIGINT r2 FROM c),
      tt AS (SELECT COALESCE(SUM(c::HUGEINT * c * c - c), 0)::HUGEINT t
        FROM c),
      s AS (SELECT COUNT(*)::BIGINT n,
          COALESCE(SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END), 0)::HUGEINT w2p
        FROM nz JOIN r USING (ad))
      SELECT s.n AS n_pairs, nzc.n_zero, (w2p::DOUBLE / 2) AS w_plus,
        (CASE WHEN n = 0 THEN NULL
          WHEN w2p * 2 - n::HUGEINT * (n + 1) >= 0 THEN
            ((w2p * 2 - n::HUGEINT * (n + 1)) * 1000000
              // (n::HUGEINT * (n + 1)))
          ELSE -(((n::HUGEINT * (n + 1) - w2p * 2) * 1000000)
                 // (n::HUGEINT * (n + 1))) END)::BIGINT
          AS rank_biserial_micro,
        CASE WHEN n > 0 THEN
          floor(1000.0 * (w2p::DOUBLE - n::DOUBLE * (n + 1) / 2.0)
            / sqrt(n::DOUBLE * (n + 1) * (2 * n + 1) / 6.0
                   - tt.t::DOUBLE / 12.0))::BIGINT END AS z_milli
      FROM s, nzc, tt"""))

  /** Leave-one-out target encoding of order priority against total
    * price — the leakage-safe row-level encoding (each order's value is
    * excluded from its own category mean), m = 10 smoothing.
    */
  private val q216 = Q(
    "q216_target_encode_loo",
    (spark, dir) => Features.targetEncodeLoo(
      pq(spark, dir, "orders"), "o_orderkey", "o_orderpriority",
      "o_totalprice", m = 10L),
    Some("""WITH b AS (SELECT o_orderkey id,
          COALESCE(o_orderpriority, '__NULL__') category,
          floor(o_totalprice * 1e6)::BIGINT tm
        FROM orders WHERE o_totalprice IS NOT NULL
          AND o_orderkey IS NOT NULL),
      g AS (SELECT category, COUNT(*)::BIGINT n, SUM(tm)::BIGINT sum_micro
        FROM b GROUP BY 1),
      pr AS (SELECT (CASE WHEN SUM(sum_micro) >= 0
            THEN SUM(sum_micro) // SUM(n)
            ELSE -((-SUM(sum_micro)) // SUM(n)) END)::BIGINT prior_micro
        FROM g)
      SELECT id, category, n,
        (CASE WHEN n - 1 + 10 = 0 THEN NULL
          WHEN sum_micro - tm + 10 * prior_micro >= 0
            THEN (sum_micro - tm + 10 * prior_micro) // (n - 1 + 10)
          ELSE -((-(sum_micro - tm + 10 * prior_micro)) // (n - 1 + 10))
          END)::BIGINT AS enc_loo_micro
      FROM b JOIN g USING (category), pr"""))

  /** Per-label embedding centroid geometry — exact integer centroids,
    * norm and cosine-to-global-centroid per class.
    */
  private val q217 = Q(
    "q217_class_centroids",
    (spark, dir) => Similarity.classCentroids(
      pq(spark, dir, "embeddings"), "vec_id", "embedding", "label"),
    Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v
          FROM embeddings WHERE label IS NOT NULL
            AND embedding IS NOT NULL),
      js AS (SELECT unnest(generate_series(1, 64)) j),
      c AS (SELECT label, j - 1 AS dim, COUNT(*)::BIGINT n,
          SUM(floor(v[j] * 1e6)::BIGINT)::BIGINT s
        FROM e CROSS JOIN js GROUP BY 1, 2),
      gg AS (SELECT dim, (CASE WHEN SUM(s) >= 0 THEN SUM(s) // SUM(n)
            ELSE -((-SUM(s)) // SUM(n)) END)::BIGINT g
        FROM c GROUP BY 1),
      m AS (SELECT label, dim, n,
          (CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END)::BIGINT m
        FROM c),
      agg AS (SELECT label, MAX(n)::BIGINT n, SUM(m * m)::BIGINT qa,
          SUM(m * g)::BIGINT dot, SUM(g * g)::BIGINT qg
        FROM m JOIN gg USING (dim) GROUP BY 1)
      SELECT label, n,
        floor(sqrt(qa::DOUBLE))::BIGINT AS norm_micro,
        CASE WHEN qa > 0 AND qg > 0 THEN
          floor(1000000.0 * dot::DOUBLE
            / (sqrt(qa::DOUBLE) * sqrt(qg::DOUBLE)))::BIGINT
        END AS cos_global_micro
      FROM agg"""))

  /** Wald SPRT per user on "value ≥ 50" outcomes over the event stream —
    * H0 p=0.5 vs H1 p=0.6 at α=β=0.05; all four log literals hardcoded
    * micro-nats, the walk itself exact integer prefix sums.
    */
  private val q218 = Q(
    "q218_sprt",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Features.sprtBernoulli(
        raw.filter(col("user_id").isNotNull && col("ts").isNotNull &&
            col("value").isNotNull)
          .select(col("user_id"), col("event_id"),
            EventTime.epochMillis(raw, "ts").as("ts_ms"),
            (col("value") >= 50.0).as("outcome")),
        "user_id", "ts_ms", "event_id", "outcome",
        llrPosMicro = 182321L,   // ⌊1e6·ln(0.6/0.5)⌋
        llrNegMicro = -223144L,  // ⌊1e6·ln(0.4/0.5)⌋
        upperMicro = 2944438L,   // ⌊1e6·ln(0.95/0.05)⌋
        lowerMicro = -2944439L)  // ⌊1e6·ln(0.05/0.95)⌋
        .withColumnRenamed("key", "user_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) ts_ms,
          (value >= 50.0) outcome FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      p AS (SELECT user_id,
          SUM(CASE WHEN outcome THEN 182321 ELSE -223144 END)
            OVER w::BIGINT llr,
          COUNT(*) OVER w::BIGINT step
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      f AS (SELECT user_id, COUNT(*)::BIGINT n_obs,
          MAX_BY(llr, step) llr_final_micro,
          MIN(CASE WHEN llr >= 2944438 OR llr <= -2944439
            THEN step END)::BIGINT n_at_decision
        FROM p GROUP BY 1)
      SELECT f.user_id, f.n_obs, f.llr_final_micro,
        CASE WHEN d.llr >= 2944438 THEN 'accept_h1'
          WHEN d.llr <= -2944439 THEN 'accept_h0' END AS decision,
        f.n_at_decision, d.llr AS llr_at_decision_micro
      FROM f LEFT JOIN p d
        ON d.user_id = f.user_id AND d.step = f.n_at_decision"""))

  /** NDCG@10 of a deterministic pseudo-score ranking against value
    * relevance per user — exact integer position-discounted gains on
    * hardcoded log₂ literals.
    */
  private val q219 = Q(
    "q219_ndcg",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Eval.ndcgAtK(
        raw.filter(col("user_id").isNotNull && col("event_id").isNotNull &&
            col("value").isNotNull)
          .withColumn("score",
            md5(concat(lit("s9|"), col("event_id").cast("string")))),
        "user_id", "event_id", "score", "value", k = 10)
        .withColumnRenamed("query", "user_id")
    },
    Some {
      val weights = Eval.DcgWeightMicro.take(10).zipWithIndex
        .map { case (w, i) => s"(${i + 1}, ${w})" }.mkString(", ")
      s"""WITH b AS (SELECT user_id, event_id,
          GREATEST(floor(value * 1e6)::BIGINT, 0) rel,
          md5('s9|' || event_id::VARCHAR) score
        FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
          AND value IS NOT NULL),
      w(i, wt) AS (VALUES $weights),
      r AS (SELECT *,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY score DESC, event_id ASC) rs,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY rel DESC, event_id ASC) ri
        FROM b),
      d AS (SELECT r.user_id, r.rel,
          COALESCE(ws.wt, 0)::BIGINT ws, COALESCE(wi.wt, 0)::BIGINT wi
        FROM r LEFT JOIN w ws ON ws.i = r.rs
          LEFT JOIN w wi ON wi.i = r.ri)
      SELECT user_id, COUNT(*)::BIGINT n_items,
        SUM(rel * ws)::BIGINT dcg_mm, SUM(rel * wi)::BIGINT idcg_mm,
        CASE WHEN SUM(rel * wi) > 0 THEN
          (SUM(rel * ws)::HUGEINT * 1000000 // SUM(rel * wi))::BIGINT
        END AS ndcg_micro
      FROM d GROUP BY 1"""
    })

  /** Hill tail-index of document lengths — top-100 tail, exact floored
    * log-micro terms, Pareto α in milli.
    */
  private val q220 = Q(
    "q220_tail_index",
    (spark, dir) => Corpus.hillTailIndex(
      pq(spark, dir, "documents"), "doc_id", "n_chars", k = 100),
    Some("""WITH pos AS (SELECT doc_id,
          floor(n_chars * 1e6)::BIGINT v FROM documents
        WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL
          AND floor(n_chars * 1e6) > 0),
      top AS (SELECT v, ROW_NUMBER() OVER
          (ORDER BY v DESC, doc_id ASC) rn
        FROM (SELECT * FROM pos ORDER BY v DESC, doc_id ASC LIMIT 101) t),
      th AS (SELECT v AS x_threshold_micro FROM top WHERE rn = 101),
      s AS (SELECT COUNT(*)::BIGINT n_tail,
          SUM(floor(ln(v::DOUBLE) * 1e6)::BIGINT)::BIGINT lsum
        FROM top WHERE rn <= 100),
      n AS (SELECT COUNT(*)::BIGINT n_total FROM pos),
      h AS (SELECT n.n_total, s.n_tail, th.x_threshold_micro,
          ((s.lsum - s.n_tail *
            floor(ln(th.x_threshold_micro::DOUBLE) * 1e6)::BIGINT)
           // s.n_tail)::BIGINT hill_micro
        FROM s, th, n)
      SELECT n_total, n_tail, x_threshold_micro, hill_micro,
        (CASE WHEN hill_micro > 0
          THEN 1000000000 // hill_micro END)::BIGINT AS alpha_milli
      FROM h"""))

  /** Fuzzy train↔eval contamination over an 80/20 doc_id split —
    * MinHash+LSH candidates across the boundary, exact-Jaccard-verified
    * at 0.5, best match per contaminated eval doc.
    */
  private val q221 = Q(
    "q221_contamination_fuzzy",
    (spark, dir) => Dedup.crossSplitContamination(
      pq(spark, dir, "documents")
        .withColumn("split",
          when(pmod(col("doc_id"), lit(10)) < 8, "train").otherwise("eval")),
      "doc_id", "text", "split", "eval",
      shingleLen = 3, numHashes = 16, bands = 4, threshold = 0.5),
    Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws
          FROM documents),
      sh AS (SELECT DISTINCT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS s
        FROM (SELECT doc_id, ws,
            unnest(generate_series(1, greatest(len(ws) - 2, 1))) g
          FROM toks)),
      hh AS (SELECT doc_id, md5(s) h FROM sh),
      sig AS (SELECT doc_id, MIN(substr(h, 1, 15)) m0, MIN(substr(h, 2, 15)) m1,
          MIN(substr(h, 3, 15)) m2, MIN(substr(h, 4, 15)) m3,
          MIN(substr(h, 5, 15)) m4, MIN(substr(h, 6, 15)) m5,
          MIN(substr(h, 7, 15)) m6, MIN(substr(h, 8, 15)) m7,
          MIN(substr(h, 9, 15)) m8, MIN(substr(h, 10, 15)) m9,
          MIN(substr(h, 11, 15)) m10, MIN(substr(h, 12, 15)) m11,
          MIN(substr(h, 13, 15)) m12, MIN(substr(h, 14, 15)) m13,
          MIN(substr(h, 15, 15)) m14, MIN(substr(h, 16, 15)) m15
        FROM hh GROUP BY doc_id),
      bands AS (SELECT doc_id, 0 band, md5(concat_ws('|', m0, m1, m2, m3)) bucket
          FROM sig
        UNION ALL SELECT doc_id, 1, md5(concat_ws('|', m4, m5, m6, m7)) FROM sig
        UNION ALL SELECT doc_id, 2, md5(concat_ws('|', m8, m9, m10, m11)) FROM sig
        UNION ALL SELECT doc_id, 3, md5(concat_ws('|', m12, m13, m14, m15)) FROM sig),
      keepb AS (SELECT band, bucket FROM bands
        GROUP BY 1, 2 HAVING COUNT(*) <= 10000),
      capped AS (SELECT bands.* FROM bands JOIN keepb USING (band, bucket)),
      cand AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b FROM capped a
        JOIN capped b ON a.band = b.band AND a.bucket = b.bucket
          AND a.doc_id < b.doc_id),
      cx AS (SELECT CASE WHEN id_a % 10 >= 8 THEN id_a ELSE id_b END eval_id,
          CASE WHEN id_a % 10 >= 8 THEN id_b ELSE id_a END other_id
        FROM cand
        WHERE (id_a % 10 >= 8) <> (id_b % 10 >= 8)),
      sz AS (SELECT doc_id, COUNT(*)::BIGINT sz FROM sh GROUP BY 1),
      common AS (SELECT cx.eval_id, cx.other_id, COUNT(*)::BIGINT common
        FROM cx JOIN sh sa ON sa.doc_id = cx.eval_id
          JOIN sh sb ON sb.doc_id = cx.other_id AND sb.s = sa.s
        GROUP BY 1, 2),
      v AS (SELECT c.eval_id, c.other_id,
          round(c.common::DOUBLE / (se.sz + so.sz - c.common), 4) jaccard
        FROM common c JOIN sz se ON se.doc_id = c.eval_id
          JOIN sz so ON so.doc_id = c.other_id),
      flt AS (SELECT * FROM v WHERE jaccard >= 0.5),
      best AS (SELECT eval_id, jaccard best_jaccard, other_id best_match_id
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY eval_id
            ORDER BY jaccard DESC, other_id ASC) rn FROM flt) t
        WHERE rn = 1)
      SELECT f.eval_id, COUNT(*)::BIGINT n_matches,
        MAX(b.best_jaccard) best_jaccard,
        MAX(b.best_match_id)::BIGINT best_match_id
      FROM flt f JOIN best b USING (eval_id)
      GROUP BY 1"""))

  /** Int8 scalar-quantization audit of the embedding corpus — per-dim
    * min/max grid, half-up integer codes, exact reconstruction error.
    */
  private val q222 = Q(
    "q222_sq8_audit",
    (spark, dir) => Similarity.sqQuantizeAudit(
      pq(spark, dir, "embeddings"), "vec_id", "embedding"),
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
          WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
      js AS (SELECT unnest(generate_series(1, 64)) j),
      c AS (SELECT j - 1 AS dim, floor(v[j] * 1e6)::BIGINT c
        FROM e CROSS JOIN js),
      b AS (SELECT dim, MIN(c) min_micro, MAX(c) max_micro,
          (MAX(c) - MIN(c))::BIGINT rng FROM c GROUP BY 1),
      q AS (SELECT c.dim, c.c, b.min_micro, b.max_micro, b.rng,
          CASE WHEN b.rng = 0 THEN 0
            ELSE (2 * 255 * (c.c - b.min_micro) + b.rng)
              // (2 * b.rng) END AS code
        FROM c JOIN b USING (dim)),
      r AS (SELECT dim, c, min_micro, max_micro,
          CASE WHEN rng = 0 THEN min_micro
            ELSE min_micro + (2 * code * rng + 255) // (2 * 255)
            END AS recon
        FROM q)
      SELECT dim, COUNT(*)::BIGINT n,
        MIN(min_micro)::BIGINT min_micro, MAX(max_micro)::BIGINT max_micro,
        (SUM(abs(c - recon)) // COUNT(*))::BIGINT mean_abs_err_micro,
        MAX(abs(c - recon))::BIGINT max_abs_err_micro
      FROM r GROUP BY 1"""))

  /** Mixture plan over document sources — 40/40/20 target weights at a
    * 10M-token (char-proxy) budget; exact integer allocations and
    * repeat factors.
    */
  private val q223 = Q(
    "q223_mixture_plan",
    (spark, dir) => Packing.mixturePlan(
      pq(spark, dir, "documents"), "source", "n_chars",
      weights = Seq(("src0", 40L), ("src1", 40L), ("src2", 20L)),
      tokenBudget = 10000000L),
    Some("""WITH a AS (SELECT source, COUNT(*)::BIGINT n_docs,
          SUM(n_chars)::BIGINT tokens_available
        FROM documents WHERE source IS NOT NULL GROUP BY 1),
      w(source, w) AS (VALUES ('src0', 40), ('src1', 40), ('src2', 20))
      SELECT a.source, n_docs, tokens_available,
        (w * 1000000 // 100)::BIGINT weight_micro,
        (10000000::HUGEINT * w // 100)::BIGINT tokens_target,
        ((10000000::HUGEINT * w // 100) * 1000000
          // GREATEST(tokens_available, 1))::BIGINT sample_rate_micro,
        ((10000000::HUGEINT * w // 100) * 1000
          // GREATEST(tokens_available, 1))::BIGINT epochs_milli,
        LEAST((10000000::HUGEINT * w // 100)::BIGINT, tokens_available)
          AS tokens_taken_norepeat
      FROM a JOIN w USING (source)"""))

  /** Binary-relevance retrieval metrics (hit/precision/recall/RR@10) of
    * the q219 pseudo-score ranking against "is a purchase" relevance —
    * every ratio a single int64 floor division.
    */
  private val q224 = Q(
    "q224_rank_eval",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Eval.rankEval(
        raw.filter(col("user_id").isNotNull && col("event_id").isNotNull &&
            col("event_type").isNotNull)
          .withColumn("score",
            md5(concat(lit("s9|"), col("event_id").cast("string"))))
          .withColumn("is_rel", col("event_type") === "purchase"),
        "user_id", "event_id", "score", "is_rel", k = 10)
        .withColumnRenamed("query", "user_id")
    },
    Some("""WITH b AS (SELECT user_id, event_id,
          (event_type = 'purchase') rel,
          md5('s9|' || event_id::VARCHAR) score
        FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
          AND event_type IS NOT NULL),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY score DESC, event_id ASC) rs FROM b),
      g AS (SELECT user_id, COUNT(*)::BIGINT n_items,
          COUNT(*) FILTER (WHERE rel)::BIGINT n_rel,
          COUNT(*) FILTER (WHERE rel AND rs <= 10)::BIGINT hits_at_k,
          MIN(CASE WHEN rel AND rs <= 10 THEN rs END)::BIGINT fr
        FROM r GROUP BY 1)
      SELECT user_id, n_items, n_rel, hits_at_k,
        (hits_at_k * 1000000 // 10)::BIGINT AS precision_at_k_micro,
        (CASE WHEN n_rel > 0 THEN hits_at_k * 1000000 // n_rel
          END)::BIGINT AS recall_at_k_micro,
        (CASE WHEN fr IS NOT NULL THEN 1000000 // fr ELSE 0 END)::BIGINT
          AS rr_micro,
        (CASE WHEN hits_at_k > 0 THEN 1 ELSE 0 END)::BIGINT AS hit_at_k
      FROM g"""))

  /** Zipf power-law fit of the document token-frequency curve — OLS of
    * ln(freq) on ln(rank) over the top 1000 terms, exact integer
    * moments.
    */
  private val q225 = Q(
    "q225_zipf_fit",
    (spark, dir) => Corpus.zipfFit(
      pq(spark, dir, "documents"), "text", maxRank = 1000),
    Some("""WITH t AS (SELECT unnest(string_split(trim(text), ' ')) tok
          FROM documents WHERE text IS NOT NULL),
      f AS (SELECT tok, COUNT(*)::BIGINT f FROM t GROUP BY 1),
      r AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok ASC) rnk
        FROM f),
      p AS (SELECT floor(ln(rnk::DOUBLE) * 1e6)::BIGINT x,
          floor(ln(f::DOUBLE) * 1e6)::BIGINT y
        FROM r WHERE rnk <= 1000),
      m AS (SELECT COUNT(*)::BIGINT n, SUM(x::HUGEINT)::HUGEINT sx,
          SUM(y::HUGEINT)::HUGEINT sy, SUM(x::HUGEINT * y)::HUGEINT sxy,
          SUM(x::HUGEINT * x)::HUGEINT sxx, SUM(y::HUGEINT * y)::HUGEINT syy
        FROM p)
      SELECT (SELECT COUNT(*) FROM f)::BIGINT n_terms, n AS n_points,
        (CASE WHEN n >= 2 AND n * sxx > sx * sx THEN
          floor(1000000.0 * (n * sxy - sx * sy)::DOUBLE
            / (n * sxx - sx * sx)::DOUBLE) END)::BIGINT AS slope_micro,
        (CASE WHEN n >= 2 AND n * sxx > sx * sx THEN
          floor((sy::DOUBLE
              - (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
                * sx::DOUBLE) / n::DOUBLE) END)::BIGINT AS intercept_micro,
        (CASE WHEN n >= 2 AND n * sxx > sx * sx AND n * syy > sy * sy THEN
          floor(1000000.0 *
            ((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE)
            / ((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE))
          END)::BIGINT AS r2_micro
      FROM m"""))

  /** Per-returnflag OLS of extended price on quantity — slope,
    * intercept, R² from exact decimal moments, doubles only in the
    * finish.
    */
  private val q226 = Q(
    "q226_ols_group",
    (spark, dir) => Features.olsByGroup(
      pq(spark, dir, "lineitem"), "l_returnflag", "l_quantity",
      "l_extendedprice"),
    Some("""WITH b AS (SELECT l_returnflag grp,
          floor(l_quantity::DOUBLE * 1e6)::BIGINT x,
          floor(l_extendedprice::DOUBLE * 1e6)::BIGINT y
        FROM lineitem WHERE l_returnflag IS NOT NULL
          AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
      m AS (SELECT grp, COUNT(*)::BIGINT n, SUM(x::HUGEINT)::HUGEINT sx,
          SUM(y::HUGEINT)::HUGEINT sy, SUM(x::HUGEINT * y)::HUGEINT sxy,
          SUM(x::HUGEINT * x)::HUGEINT sxx, SUM(y::HUGEINT * y)::HUGEINT syy
        FROM b GROUP BY 1)
      SELECT grp, n,
        (CASE WHEN n >= 2 AND n * sxx > sx * sx THEN
          floor(1000000.0 * (n * sxy - sx * sy)::DOUBLE
            / (n * sxx - sx * sx)::DOUBLE) END)::BIGINT AS slope_micro,
        (CASE WHEN n >= 2 AND n * sxx > sx * sx THEN
          floor((sy::DOUBLE
              - (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
                * sx::DOUBLE) / n::DOUBLE) END)::BIGINT AS intercept_micro,
        (CASE WHEN n >= 2 AND n * sxx > sx * sx AND n * syy > sy * sy THEN
          floor(1000000.0 *
            ((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE)
            / ((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE))
          END)::BIGINT AS r2_micro
      FROM m"""))

  /** Kendall τ-b between quantity and tax rate — exact concordance from
    * the ~450-cell contingency table, never the O(n²) row-pair space.
    */
  private val q227 = Q(
    "q227_kendall_tau",
    (spark, dir) => Features.kendallTauBinned(
      pq(spark, dir, "lineitem"), "l_quantity", "l_tax"),
    Some("""WITH b AS (SELECT floor(l_quantity::DOUBLE * 1e6)::BIGINT x,
          floor(l_tax::DOUBLE * 1e6)::BIGINT y
        FROM lineitem WHERE l_quantity IS NOT NULL AND l_tax IS NOT NULL),
      c AS (SELECT x, y, COUNT(*)::BIGINT c FROM b GROUP BY 1, 2),
      cd AS (SELECT
          SUM(CASE WHEN b2.y > a.y THEN a.c::HUGEINT * b2.c
            ELSE 0 END)::HUGEINT cc,
          SUM(CASE WHEN b2.y < a.y THEN a.c::HUGEINT * b2.c
            ELSE 0 END)::HUGEINT dd
        FROM c a JOIN c b2 ON b2.x > a.x),
      t AS (SELECT SUM(c::HUGEINT)::HUGEINT nn FROM c),
      txx AS (SELECT SUM(cx * (cx - 1))::HUGEINT tx2 FROM
        (SELECT SUM(c)::HUGEINT cx FROM c GROUP BY x)),
      tyy AS (SELECT SUM(cy * (cy - 1))::HUGEINT ty2 FROM
        (SELECT SUM(c)::HUGEINT cy FROM c GROUP BY y))
      SELECT nn::BIGINT n, (SELECT COUNT(*) FROM c)::BIGINT n_cells,
        cc::DOUBLE AS concordant, dd::DOUBLE AS discordant,
        (CASE WHEN (nn * (nn - 1) - tx2) > 0
            AND (nn * (nn - 1) - ty2) > 0 THEN
          floor(1000000.0 * (cc - dd)::DOUBLE
            / sqrt((nn * (nn - 1) - tx2)::DOUBLE
                   * (nn * (nn - 1) - ty2)::DOUBLE) * 2.0) END)::BIGINT
          AS tau_b_micro
      FROM cd, t, txx, tyy"""))

  /** Poisson-hash bootstrap CI for the mean order price — 200
    * deterministic replicas, exact nearest-rank 95% bounds.
    */
  private val q228 = Q(
    "q228_bootstrap_ci",
    (spark, dir) => Eval.bootstrapMeanCI(
      pq(spark, dir, "orders"), "o_orderkey", "o_totalprice",
      b = 200, seed = "boot"),
    Some("""WITH base AS (SELECT o_orderkey::VARCHAR id,
          floor(o_totalprice * 1e6)::BIGINT vm
        FROM orders WHERE o_orderkey IS NOT NULL
          AND o_totalprice IS NOT NULL),
      reps AS (SELECT unnest(generate_series(0, 199)) rep),
      u AS (SELECT rep, vm,
          substr(md5('boot|' || rep::VARCHAR || '|' || id), 1, 8) u
        FROM base CROSS JOIN reps),
      w AS (SELECT rep, vm,
          CASE WHEN u < '5e2d58d8' THEN 0 WHEN u < 'bc5ab1b1' THEN 1
            WHEN u < 'eb715e1d' THEN 2 WHEN u < 'fb239797' THEN 3
            WHEN u < 'ff1025f5' THEN 4 WHEN u < 'ffd90f3b' THEN 5
            WHEN u < 'fffa8b71' THEN 6 WHEN u < 'ffff540c' THEN 7
            WHEN u < 'ffffed1f' THEN 8 ELSE 9 END w
        FROM u),
      rm AS (SELECT rep, COUNT(*)::BIGINT cf, SUM(vm)::HUGEINT sf,
          SUM(w)::BIGINT c, SUM(w::HUGEINT * vm)::HUGEINT s
        FROM w GROUP BY 1),
      means AS (SELECT rep,
          (CASE WHEN s >= 0 THEN s // c ELSE -((-s) // c) END)::BIGINT m
        FROM rm WHERE c > 0),
      nb AS (SELECT COUNT(*)::BIGINT beff FROM means),
      ranked AS (SELECT m,
          ROW_NUMBER() OVER (ORDER BY m ASC, rep ASC) rk FROM means),
      ix AS (SELECT beff, (25 * beff + 999) // 1000 lo,
          (975 * beff + 999) // 1000 hi FROM nb),
      mv AS (SELECT SUM(m::HUGEINT) sm, SUM(m::HUGEINT * m) sm2,
          COUNT(*)::BIGINT k FROM means),
      f AS (SELECT MAX(cf)::BIGINT n, MAX(sf)::HUGEINT stot FROM rm)
      SELECT f.n, ix.beff AS b_effective,
        (CASE WHEN stot >= 0 THEN stot // n
          ELSE -((-stot) // n) END)::BIGINT AS mean_micro,
        (SELECT m FROM ranked, ix WHERE rk = ix.lo) AS boot_lo_micro,
        (SELECT m FROM ranked, ix WHERE rk = ix.hi) AS boot_hi_micro,
        (CASE WHEN k >= 2 THEN floor(sqrt((k * sm2 - sm * sm)::DOUBLE
          / (k::DOUBLE * (k - 1)))) END)::BIGINT AS boot_se_micro
      FROM f, ix, mv"""))

  /** Randomization test for the arm-A vs arm-B mean event value — 200
    * hash-permuted re-splits, exact cross-multiplied extremity
    * comparisons, add-one p.
    */
  private val q229 = Q(
    "q229_permutation_test",
    (spark, dir) => Eval.permutationTestMeans(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b")),
      "event_id", "arm", "value", b = 200, seed = "perm"),
    Some("""WITH base AS (SELECT event_id::VARCHAR id,
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          floor(value * 1e6)::BIGINT vm
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
          AND event_id IS NOT NULL),
      obs AS (SELECT
          COUNT(*) FILTER (WHERE g = 'arm_a')::HUGEINT ca,
          SUM(CASE WHEN g = 'arm_a' THEN vm ELSE 0 END)::HUGEINT sa,
          COUNT(*) FILTER (WHERE g = 'arm_b')::HUGEINT cb,
          SUM(CASE WHEN g = 'arm_b' THEN vm ELSE 0 END)::HUGEINT sb
        FROM base),
      th AS (SELECT printf('%08x',
          ((4294967296::HUGEINT * ca) // (ca + cb))::BIGINT) tx FROM obs),
      reps AS (SELECT unnest(generate_series(0, 199)) rep),
      r AS (SELECT rep,
          SUM(CASE WHEN u < tx THEN 1 ELSE 0 END)::HUGEINT cab,
          SUM(CASE WHEN u < tx THEN vm ELSE 0 END)::HUGEINT sab
        FROM (SELECT rep, vm,
            substr(md5('perm|' || rep::VARCHAR || '|' || id), 1, 8) u
          FROM base CROSS JOIN reps) z, th
        GROUP BY rep),
      ext AS (SELECT
          COUNT(*) FILTER (WHERE cab > 0 AND cab < ca + cb)::BIGINT beff,
          COUNT(*) FILTER (WHERE cab > 0 AND cab < ca + cb
            AND abs(sab * (ca + cb - cab) - (sa + sb - sab) * cab)
                * (ca * cb)
              >= abs(sa * cb - sb * ca) * (cab * (ca + cb - cab)))::BIGINT
            n_extreme
        FROM r, obs)
      SELECT 'arm_a' AS grp_a, 'arm_b' AS grp_b,
        ca::BIGINT AS n_a, cb::BIGINT AS n_b,
        ((CASE WHEN sa >= 0 THEN sa // ca ELSE -((-sa) // ca) END)
         - (CASE WHEN sb >= 0 THEN sb // cb
             ELSE -((-sb) // cb) END))::BIGINT AS diff_micro,
        beff AS b_effective, n_extreme,
        ((1 + n_extreme)::HUGEINT * 1000000 // (1 + beff))::BIGINT
          AS p_micro
      FROM ext, obs"""))

  /** Stratified ATE of experiment arm on event value, stratified by
    * event type — exact per-stratum arm means, size-weighted combine,
    * naive gap alongside.
    */
  private val q230 = Q(
    "q230_stratified_ate",
    (spark, dir) => Causal.stratifiedAte(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull)
        .withColumn("treated", pmod(col("user_id"), lit(2)) === 0),
      "event_type", "treated", "value"),
    Some("""WITH b AS (SELECT event_type s, (user_id % 2 = 0) t,
          floor(value * 1e6)::BIGINT v
        FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          AND value IS NOT NULL),
      g AS (SELECT s,
          COUNT(*) FILTER (WHERE t)::BIGINT nt,
          SUM(CASE WHEN t THEN v ELSE 0 END)::HUGEINT st,
          COUNT(*) FILTER (WHERE NOT t)::BIGINT nc,
          SUM(CASE WHEN NOT t THEN v ELSE 0 END)::HUGEINT sc
        FROM b GROUP BY 1),
      d AS (SELECT *, CASE WHEN nt > 0 AND nc > 0 THEN
          (CASE WHEN st >= 0 THEN st // nt ELSE -((-st) // nt) END)
          - (CASE WHEN sc >= 0 THEN sc // nc ELSE -((-sc) // nc) END)
          END diff FROM g),
      r AS (SELECT COUNT(*)::BIGINT n_strata,
          COUNT(*) FILTER (WHERE diff IS NOT NULL)::BIGINT n_strata_used,
          SUM(nt + nc)::BIGINT n,
          SUM(CASE WHEN diff IS NOT NULL THEN nt + nc ELSE 0 END)::BIGINT
            n_used,
          SUM(nt)::BIGINT n_treat, SUM(nc)::BIGINT n_control,
          SUM(st)::HUGEINT stt, SUM(sc)::HUGEINT sct,
          SUM(CASE WHEN diff IS NOT NULL THEN (nt + nc)::HUGEINT * diff
            ELSE 0 END)::HUGEINT wsum
        FROM d)
      SELECT n_strata, n_strata_used, n, n_used, n_treat, n_control,
        (CASE WHEN n_treat > 0 AND n_control > 0 THEN
          (CASE WHEN stt >= 0 THEN stt // n_treat
            ELSE -((-stt) // n_treat) END)
          - (CASE WHEN sct >= 0 THEN sct // n_control
            ELSE -((-sct) // n_control) END) END)::BIGINT
          AS naive_diff_micro,
        (CASE WHEN n_used > 0 THEN
          (CASE WHEN wsum >= 0 THEN wsum // n_used
            ELSE -((-wsum) // n_used) END) END)::BIGINT AS ate_micro
      FROM r"""))

  /** Difference-in-differences of event value across the mid-January
    * cut, arm-parity cohorts — four exact cell means, pure integer DiD.
    */
  private val q231 = Q(
    "q231_did",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Causal.diffInDiff(
        raw.filter(col("user_id").isNotNull && col("ts").isNotNull)
          .withColumn("treated", pmod(col("user_id"), lit(2)) === 0)
          .withColumn("post",
            EventTime.epochMillis(raw, "ts") >= 1705363200000L),
        "treated", "post", "value")
    },
    Some("""WITH b AS (SELECT (user_id % 2 = 0) t,
          (epoch_ms(ts) >= 1705363200000) p, floor(value * 1e6)::BIGINT v
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      a AS (SELECT
          COUNT(*) FILTER (WHERE t AND NOT p)::BIGINT n_t0,
          SUM(CASE WHEN t AND NOT p THEN v ELSE 0 END)::HUGEINT s_t0,
          COUNT(*) FILTER (WHERE t AND p)::BIGINT n_t1,
          SUM(CASE WHEN t AND p THEN v ELSE 0 END)::HUGEINT s_t1,
          COUNT(*) FILTER (WHERE NOT t AND NOT p)::BIGINT n_c0,
          SUM(CASE WHEN NOT t AND NOT p THEN v ELSE 0 END)::HUGEINT s_c0,
          COUNT(*) FILTER (WHERE NOT t AND p)::BIGINT n_c1,
          SUM(CASE WHEN NOT t AND p THEN v ELSE 0 END)::HUGEINT s_c1
        FROM b),
      m AS (SELECT n_t0, n_t1, n_c0, n_c1,
          (CASE WHEN n_t0 > 0 THEN (CASE WHEN s_t0 >= 0 THEN s_t0 // n_t0
            ELSE -((-s_t0) // n_t0) END) END)::BIGINT mean_t0_micro,
          (CASE WHEN n_t1 > 0 THEN (CASE WHEN s_t1 >= 0 THEN s_t1 // n_t1
            ELSE -((-s_t1) // n_t1) END) END)::BIGINT mean_t1_micro,
          (CASE WHEN n_c0 > 0 THEN (CASE WHEN s_c0 >= 0 THEN s_c0 // n_c0
            ELSE -((-s_c0) // n_c0) END) END)::BIGINT mean_c0_micro,
          (CASE WHEN n_c1 > 0 THEN (CASE WHEN s_c1 >= 0 THEN s_c1 // n_c1
            ELSE -((-s_c1) // n_c1) END) END)::BIGINT mean_c1_micro
        FROM a)
      SELECT *,
        (mean_t1_micro - mean_t0_micro) AS treat_diff_micro,
        (mean_c1_micro - mean_c0_micro) AS control_diff_micro,
        ((mean_t1_micro - mean_t0_micro)
         - (mean_c1_micro - mean_c0_micro)) AS did_micro
      FROM m"""))

  /** Two-proportion z-test of purchase rate between arms with Wilson
    * 95% intervals — exact counts, one fixed double tree per statistic.
    */
  private val q232 = Q(
    "q232_two_prop",
    (spark, dir) => Causal.twoProportionTest(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b"))
        .withColumn("purchased", col("event_type") === "purchase"),
      "arm", "purchased"),
    Some("""WITH b AS (SELECT
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          (event_type = 'purchase') x
        FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
      g AS (SELECT g, COUNT(*)::BIGINT n,
          COUNT(*) FILTER (WHERE x)::BIGINT x FROM b GROUP BY 1),
      w AS (SELECT
          a.n na, a.x xa, c.n nb, c.x xb
        FROM (SELECT * FROM g WHERE g = 'arm_a') a,
          (SELECT * FROM g WHERE g = 'arm_b') c)
      SELECT 'arm_a' AS grp_a, 'arm_b' AS grp_b, na AS n_a, nb AS n_b,
        xa AS x_a, xb AS x_b,
        (xa * 1000000 // na)::BIGINT AS p_a_micro,
        (xb * 1000000 // nb)::BIGINT AS p_b_micro,
        (xa * 1000000 // na - xb * 1000000 // nb)::BIGINT AS diff_micro,
        (CASE WHEN ((xa + xb)::DOUBLE / (na + nb))
              * (1.0 - (xa + xb)::DOUBLE / (na + nb))
              * (1.0 / na + 1.0 / nb) > 0 THEN
          floor(1000.0 * (xa::DOUBLE / na - xb::DOUBLE / nb)
            / sqrt(((xa + xb)::DOUBLE / (na + nb))
                   * (1.0 - (xa + xb)::DOUBLE / (na + nb))
                   * (1.0 / na + 1.0 / nb))) END)::BIGINT AS z_milli,
        floor(1000000.0 * ((xa::DOUBLE / na + (1.96 * 1.96) / (2.0 * na))
            - 1.96 * sqrt((xa::DOUBLE / na) * (1.0 - xa::DOUBLE / na) / na
                          + (1.96 * 1.96) / (4.0 * na * na)))
          / (1.0 + (1.96 * 1.96) / na))::BIGINT AS wilson_lo_a_micro,
        floor(1000000.0 * ((xa::DOUBLE / na + (1.96 * 1.96) / (2.0 * na))
            + 1.96 * sqrt((xa::DOUBLE / na) * (1.0 - xa::DOUBLE / na) / na
                          + (1.96 * 1.96) / (4.0 * na * na)))
          / (1.0 + (1.96 * 1.96) / na))::BIGINT AS wilson_hi_a_micro,
        floor(1000000.0 * ((xb::DOUBLE / nb + (1.96 * 1.96) / (2.0 * nb))
            - 1.96 * sqrt((xb::DOUBLE / nb) * (1.0 - xb::DOUBLE / nb) / nb
                          + (1.96 * 1.96) / (4.0 * nb * nb)))
          / (1.0 + (1.96 * 1.96) / nb))::BIGINT AS wilson_lo_b_micro,
        floor(1000000.0 * ((xb::DOUBLE / nb + (1.96 * 1.96) / (2.0 * nb))
            + 1.96 * sqrt((xb::DOUBLE / nb) * (1.0 - xb::DOUBLE / nb) / nb
                          + (1.96 * 1.96) / (4.0 * nb * nb)))
          / (1.0 + (1.96 * 1.96) / nb))::BIGINT AS wilson_hi_b_micro
      FROM w"""))

  /** Leave-one-source-out jackknife of mean document length — which
    * source pulls the corpus statistic, exact floored means.
    */
  private val q233 = Q(
    "q233_jackknife",
    (spark, dir) => Eval.jackknifeGroups(
      pq(spark, dir, "documents"), "source", "n_chars")
      .withColumnRenamed("group", "source"),
    Some("""WITH g AS (SELECT source, COUNT(*)::BIGINT n_g,
          SUM(floor(n_chars::DOUBLE * 1e6)::BIGINT)::HUGEINT s
        FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
        GROUP BY 1),
      t AS (SELECT SUM(n_g)::BIGINT nt, SUM(s)::HUGEINT st FROM g)
      SELECT source, n_g,
        (CASE WHEN st >= 0 THEN st // nt
          ELSE -((-st) // nt) END)::BIGINT AS mean_micro,
        (CASE WHEN nt > n_g THEN
          (CASE WHEN st - s >= 0 THEN (st - s) // (nt - n_g)
            ELSE -((-(st - s)) // (nt - n_g)) END) END)::BIGINT
          AS mean_excl_micro,
        ((CASE WHEN st >= 0 THEN st // nt ELSE -((-st) // nt) END)
         - (CASE WHEN nt > n_g THEN
             (CASE WHEN st - s >= 0 THEN (st - s) // (nt - n_g)
               ELSE -((-(st - s)) // (nt - n_g)) END) END))::BIGINT
          AS influence_micro
      FROM g, t"""))

  /** Preference-tournament consistency over per-user event-type value
    * rankings — majority edges, directed 3-cycle count, Kendall ζ.
    */
  private val q234 = Q(
    "q234_preference_cycles",
    (spark, dir) => Preference.preferenceCycles(
      pq(spark, dir, "events"), "user_id", "event_type", "value"),
    Some("""WITH b AS (SELECT user_id r, event_type i,
          floor(value * 1e6)::BIGINT v
        FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          AND value IS NOT NULL),
      m AS (SELECT r, i,
          (CASE WHEN SUM(v) >= 0 THEN SUM(v) // COUNT(*)
            ELSE -((-SUM(v)) // COUNT(*)) END)::BIGINT m
        FROM b GROUP BY 1, 2),
      votes AS (SELECT a.i ia, c.i ib,
          SUM(CASE WHEN a.m > c.m THEN 1 ELSE 0 END)::BIGINT vab,
          SUM(CASE WHEN c.m > a.m THEN 1 ELSE 0 END)::BIGINT vba
        FROM m a JOIN m c ON a.r = c.r AND a.i < c.i GROUP BY 1, 2),
      e AS (SELECT CASE WHEN vab > vba THEN ia ELSE ib END src,
          CASE WHEN vab > vba THEN ib ELSE ia END dst
        FROM votes WHERE vab <> vba),
      cyc AS (SELECT COUNT(*)::BIGINT n_cycles FROM e e1
        JOIN e e2 ON e1.dst = e2.src
        JOIN e e3 ON e2.dst = e3.src AND e3.dst = e1.src
          AND e1.src < e2.src AND e1.src < e3.src),
      k AS (SELECT COUNT(DISTINCT i)::BIGINT k FROM m),
      nr AS (SELECT COUNT(DISTINCT r)::BIGINT n_raters FROM m),
      np AS (SELECT COUNT(*)::BIGINT n_pairs FROM votes),
      ne AS (SELECT COUNT(*)::BIGINT n_edges FROM e),
      md AS (SELECT k, (CASE WHEN k < 3 THEN 0 WHEN k % 2 = 1
          THEN k * (k * k - 1) // 24
          ELSE k * (k * k - 4) // 24 END)::BIGINT maxd FROM k)
      SELECT nr.n_raters, md.k AS n_items, np.n_pairs AS n_pairs_observed,
        ne.n_edges, cyc.n_cycles,
        (CASE WHEN ne.n_edges = md.k * (md.k - 1) // 2 AND md.maxd > 0
          THEN (md.maxd - cyc.n_cycles) * 1000000 // md.maxd
          WHEN ne.n_edges = md.k * (md.k - 1) // 2 AND md.k = 2
          THEN 1000000 END)::BIGINT AS consistence_micro
      FROM nr, md, np, ne, cyc"""))

  /** Trimmed/winsorized mean of event value at 1% per side — exact
    * order-statistic caps off a distinct-value prefix sum.
    */
  private val q235 = Q(
    "q235_robust_mean",
    (spark, dir) => Features.robustMean(
      pq(spark, dir, "events"), "value", trimPpm = 10000L),
    Some("""WITH b AS (SELECT floor(value * 1e6)::BIGINT vm FROM events
          WHERE value IS NOT NULL),
      c AS (SELECT vm, COUNT(*)::BIGINT c FROM b GROUP BY 1),
      p AS (SELECT vm, c, SUM(c) OVER (ORDER BY vm
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT cum
        FROM c),
      t AS (SELECT SUM(c)::BIGINT n, SUM(vm::HUGEINT * c)::HUGEINT s
        FROM c),
      kk AS (SELECT n, s, (n * 10000) // 1000000 k FROM t),
      tr AS (SELECT MAX(n)::BIGINT n, MAX(k)::BIGINT trim_k,
          MAX(s)::HUGEINT s,
          SUM(vm::HUGEINT * GREATEST(0, LEAST(cum, n - k)
            - GREATEST(cum - c + 1, k + 1) + 1))::HUGEINT strim,
          MAX(CASE WHEN cum - c + 1 <= k + 1 AND k + 1 <= cum
            THEN vm END)::BIGINT lo_cap_micro,
          MAX(CASE WHEN cum - c + 1 <= n - k AND n - k <= cum
            THEN vm END)::BIGINT hi_cap_micro
        FROM p, kk)
      SELECT n, trim_k,
        (CASE WHEN s >= 0 THEN s // n
          ELSE -((-s) // n) END)::BIGINT AS mean_micro,
        (CASE WHEN n - 2 * trim_k > 0 THEN
          (CASE WHEN strim >= 0 THEN strim // (n - 2 * trim_k)
            ELSE -((-strim) // (n - 2 * trim_k)) END) END)::BIGINT
          AS trimmed_mean_micro,
        (CASE WHEN n - 2 * trim_k > 0 THEN
          (CASE WHEN strim + trim_k::HUGEINT * lo_cap_micro
              + trim_k::HUGEINT * hi_cap_micro >= 0 THEN
            (strim + trim_k::HUGEINT * lo_cap_micro
             + trim_k::HUGEINT * hi_cap_micro) // n
          ELSE -((-(strim + trim_k::HUGEINT * lo_cap_micro
                    + trim_k::HUGEINT * hi_cap_micro)) // n) END)
          END)::BIGINT AS winsorized_mean_micro,
        lo_cap_micro, hi_cap_micro
      FROM tr"""))

  /** CUPED-adjusted arm gap on event value with the JSON `k` prop as
    * pre-period covariate — pooled θ, raw vs adjusted diff, ρ².
    */
  private val q236 = Q(
    "q236_cuped",
    (spark, dir) => Causal.cuped(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b"))
        .withColumn("k_cov",
          get_json_object(col("props"), "$.k").cast("double")),
      "arm", "value", "k_cov"),
    Some("""WITH b AS (SELECT
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          floor(value * 1e6)::BIGINT y,
          floor(json_extract(props, '$.k')::DOUBLE * 1e6)::BIGINT x
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
          AND json_extract(props, '$.k') IS NOT NULL),
      g AS (SELECT g, COUNT(*)::BIGINT n, SUM(x::HUGEINT)::HUGEINT sx,
          SUM(y::HUGEINT)::HUGEINT sy, SUM(x::HUGEINT * y)::HUGEINT sxy,
          SUM(x::HUGEINT * x)::HUGEINT sxx, SUM(y::HUGEINT * y)::HUGEINT syy
        FROM b GROUP BY 1),
      w AS (SELECT a.n na, a.sx sxa, a.sy sya, c.n nb, c.sx sxb, c.sy syb,
          a.n + c.n n, a.sx + c.sx sx, a.sy + c.sy sy,
          a.sxy + c.sxy sxy, a.sxx + c.sxx sxx, a.syy + c.syy syy
        FROM (SELECT * FROM g WHERE g = 'arm_a') a,
          (SELECT * FROM g WHERE g = 'arm_b') c)
      SELECT 'arm_a' AS grp_a, 'arm_b' AS grp_b,
        na AS n_a, nb AS n_b,
        (CASE WHEN n * sxx - sx * sx > 0 THEN
          floor(1000000.0 * ((n * sxy - sx * sy)::DOUBLE
            / (n * sxx - sx * sx)::DOUBLE)) END)::BIGINT AS theta_micro,
        floor(sya::DOUBLE / na - syb::DOUBLE / nb)::BIGINT
          AS diff_raw_micro,
        (CASE WHEN n * sxx - sx * sx > 0 THEN
          floor((sya::DOUBLE / na - syb::DOUBLE / nb)
            - ((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE)
              * (sxa::DOUBLE / na - sxb::DOUBLE / nb)) END)::BIGINT
          AS diff_cuped_micro,
        (CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
          floor(1000000.0 *
            ((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE)
            / ((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE))
          END)::BIGINT AS var_reduction_micro
      FROM w"""))

  /** Quantile treatment effects of arm on event value at the 10/25/50/
    * 75/90th percentiles — exact per-arm order statistics, integer QTE.
    */
  private val q237 = Q(
    "q237_qte",
    (spark, dir) => Causal.quantileTreatmentEffect(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b")),
      "arm", "value"),
    Some("""WITH b AS (SELECT
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          floor(value * 1e6)::BIGINT vm
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      n AS (SELECT g, COUNT(*)::BIGINT n FROM b GROUP BY 1),
      pc(percent) AS (VALUES (10), (25), (50), (75), (90)),
      rk AS (SELECT g, percent, n, (percent * (n - 1)) // 100 r
        FROM n CROSS JOIN pc),
      o AS (SELECT g, vm,
          ROW_NUMBER() OVER (PARTITION BY g ORDER BY vm) - 1 rn FROM b),
      q AS (SELECT rk.g, rk.percent, rk.n, o.vm
        FROM rk JOIN o ON o.g = rk.g AND o.rn = rk.r)
      SELECT qa.percent, qa.n AS n_a, qb.n AS n_b,
        qa.vm AS q_a_micro, qb.vm AS q_b_micro,
        (qa.vm - qb.vm)::BIGINT AS qte_micro
      FROM (SELECT * FROM q WHERE g = 'arm_a') qa
        JOIN (SELECT * FROM q WHERE g = 'arm_b') qb USING (percent)"""))

  /** ICC(1) and the cluster design effect of event values clustered by
    * user — exact ANOVA moments, one double finish.
    */
  private val q238 = Q(
    "q238_icc",
    (spark, dir) => Features.icc(
      pq(spark, dir, "events"), "user_id", "value"),
    Some("""WITH b AS (SELECT user_id g2, floor(value * 1e6)::BIGINT v
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      c AS (SELECT g2, COUNT(*)::BIGINT ng, SUM(v)::HUGEINT sg,
          SUM(v::HUGEINT * v)::HUGEINT qg FROM b GROUP BY 1),
      s AS (SELECT SUM(ng)::BIGINT n, COUNT(*)::BIGINT k,
          SUM(sg)::HUGEINT s, SUM(qg)::HUGEINT q,
          SUM((sg * sg) // ng)::HUGEINT sb_raw,
          SUM(ng::HUGEINT * ng)::HUGEINT sq2 FROM c),
      r AS (SELECT n, k,
          (CASE WHEN k >= 2 AND n > k THEN
            floor(1000.0 * (n::DOUBLE - sq2::DOUBLE / n) / (k - 1))
            END)::BIGINT n0_milli,
          (CASE WHEN k >= 2 AND n > k THEN
            floor(1000000.0 *
              ((sb_raw::DOUBLE - s::DOUBLE * s::DOUBLE / n) / (k - 1)
               - (q::DOUBLE - sb_raw::DOUBLE) / (n - k))
              / nullif((sb_raw::DOUBLE - s::DOUBLE * s::DOUBLE / n)
                  / (k - 1)
                + ((n::DOUBLE - sq2::DOUBLE / n) / (k - 1) - 1.0)
                  * ((q::DOUBLE - sb_raw::DOUBLE) / (n - k)), 0.0))
            END)::BIGINT icc_micro
        FROM s)
      SELECT n, k, n0_milli, icc_micro,
        (CASE WHEN icc_micro IS NOT NULL THEN
          floor(1000.0 * (1.0 + (n::DOUBLE / k - 1.0)
            * (icc_micro::DOUBLE / 1e6))) END)::BIGINT AS deff_milli
      FROM r"""))

  /** Always-valid mixture SPRT per user on "value ≥ 50" — exact integer
    * walk core, milli-floored lnΛ, always-valid p off the running max.
    */
  private val q239 = Q(
    "q239_msprt",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Features.msprt(
        raw.filter(col("user_id").isNotNull && col("ts").isNotNull &&
            col("value").isNotNull)
          .select(col("user_id"), col("event_id"),
            EventTime.epochMillis(raw, "ts").as("ts_ms"),
            (col("value") >= 50.0).as("outcome")),
        "user_id", "ts_ms", "event_id", "outcome",
        p0Micro = 500000L, tau2Micro = 10000L, alphaMicro = 50000L)
        .withColumnRenamed("key", "user_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) ts_ms,
          (value >= 50.0) outcome FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      p AS (SELECT user_id,
          SUM(CASE WHEN outcome THEN 500000 ELSE -500000 END)
            OVER w::BIGINT d,
          COUNT(*) OVER w::BIGINT n
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      l AS (SELECT user_id, n, d,
          0.5 * ln((500000.0 * 500000.0 / 1e12)
            / ((500000.0 * 500000.0 / 1e12) + n::DOUBLE * (10000.0 / 1e6)))
          + (d::DOUBLE / 1e6) * (d::DOUBLE / 1e6) * (10000.0 / 1e6)
            / (2.0 * (500000.0 * 500000.0 / 1e12)
               * ((500000.0 * 500000.0 / 1e12)
                  + n::DOUBLE * (10000.0 / 1e6))) lam
        FROM p),
      m AS (SELECT user_id, n, lam,
          floor(1000.0 * lam)::BIGINT lam_milli FROM l),
      f AS (SELECT user_id, COUNT(*)::BIGINT n_obs,
          MAX_BY(lam_milli, n) lnlam_final_milli,
          MAX(lam_milli)::BIGINT lnlam_max_milli,
          MAX(lam) lam_max_raw,
          MIN(CASE WHEN lam_milli >=
            floor(1000.0 * ln(1000000.0 / 50000.0))::BIGINT
            THEN n END)::BIGINT n_at_decision
        FROM m GROUP BY 1)
      SELECT user_id, n_obs, lnlam_final_milli, lnlam_max_milli,
        CASE WHEN n_at_decision IS NOT NULL THEN 'reject_h0' END
          AS decision,
        n_at_decision,
        floor(1000000.0 / exp(GREATEST(lam_max_raw, 0.0)))::BIGINT
          AS avp_micro
      FROM f"""))

  /** Welch's t-test on event value between arms — exact moments, milli
    * t and Welch–Satterthwaite df.
    */
  private val q240 = Q(
    "q240_welch_t",
    (spark, dir) => Causal.welchTTest(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b")),
      "arm", "value"),
    Some("""WITH b AS (SELECT
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          floor(value * 1e6)::BIGINT v
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      g AS (SELECT g, COUNT(*)::BIGINT n, SUM(v)::HUGEINT s,
          SUM(v::HUGEINT * v)::HUGEINT q FROM b GROUP BY 1),
      w AS (SELECT a.n na, a.s sa, a.q qa, c.n nb, c.s sb, c.q qb
        FROM (SELECT * FROM g WHERE g = 'arm_a') a,
          (SELECT * FROM g WHERE g = 'arm_b') c),
      v AS (SELECT *,
          (qa::DOUBLE - sa::DOUBLE * sa::DOUBLE / na) / (na - 1) va,
          (qb::DOUBLE - sb::DOUBLE * sb::DOUBLE / nb) / (nb - 1) vb
        FROM w),
      v2 AS (SELECT *, va / na van, vb / nb vbn FROM v),
      v3 AS (SELECT *, van + vbn se2 FROM v2)
      SELECT 'arm_a' AS grp_a, 'arm_b' AS grp_b, na AS n_a, nb AS n_b,
        (CASE WHEN sa >= 0 THEN sa // na
          ELSE -((-sa) // na) END)::BIGINT AS mean_a_micro,
        (CASE WHEN sb >= 0 THEN sb // nb
          ELSE -((-sb) // nb) END)::BIGINT AS mean_b_micro,
        ((CASE WHEN sa >= 0 THEN sa // na ELSE -((-sa) // na) END)
         - (CASE WHEN sb >= 0 THEN sb // nb
             ELSE -((-sb) // nb) END))::BIGINT AS diff_micro,
        (CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0 THEN
          floor(1000.0 * (sa::DOUBLE / na - sb::DOUBLE / nb) / sqrt(se2))
          END)::BIGINT AS t_milli,
        (CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0 THEN
          floor(1000.0 * (se2 * se2 / (van * van / (na - 1)
            + vbn * vbn / (nb - 1)))) END)::BIGINT AS df_milli
      FROM v3"""))

  /** Exact W₁ (earth mover's) distance between the arms' event-value
    * distributions — cross-multiplied CDF segments, one floor division.
    */
  private val q241 = Q(
    "q241_wasserstein",
    (spark, dir) => Eval.wasserstein1d(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b")),
      "arm", "value"),
    Some("""WITH b AS (SELECT
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          floor(value * 1e6)::BIGINT vm
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      c AS (SELECT vm,
          COUNT(*) FILTER (WHERE g = 'arm_a')::BIGINT ca,
          COUNT(*) FILTER (WHERE g = 'arm_b')::BIGINT cb
        FROM b GROUP BY 1),
      t AS (SELECT SUM(ca)::BIGINT na, SUM(cb)::BIGINT nb,
          COUNT(*)::BIGINT nv FROM c),
      p AS (SELECT vm,
          SUM(ca) OVER w::HUGEINT cca, SUM(cb) OVER w::HUGEINT ccb,
          LEAD(vm) OVER (ORDER BY vm) vn
        FROM c WINDOW w AS (ORDER BY vm
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      s AS (SELECT COALESCE(SUM((vn - vm)::HUGEINT
            * abs(cca * nb - ccb * na)), 0)::HUGEINT num
        FROM p, t WHERE vn IS NOT NULL)
      SELECT 'arm_a' AS grp_a, 'arm_b' AS grp_b, na AS n_a, nb AS n_b,
        nv AS n_values, (num // (na::HUGEINT * nb))::BIGINT AS w1_micro
      FROM s, t"""))

  /** Bradley–Terry strengths of event types from per-user preference
    * votes — 3 integer-quantized MM iterations, oracle unrolled.
    */
  private val q242 = Q(
    "q242_bradley_terry",
    (spark, dir) => Preference.bradleyTerry(
      pq(spark, dir, "events"), "user_id", "event_type", "value",
      iters = 3),
    Some("""WITH b AS (SELECT user_id r, event_type i,
          floor(value * 1e6)::BIGINT v
        FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          AND value IS NOT NULL),
      m AS (SELECT r, i,
          (CASE WHEN SUM(v) >= 0 THEN SUM(v) // COUNT(*)
            ELSE -((-SUM(v)) // COUNT(*)) END)::BIGINT m
        FROM b GROUP BY 1, 2),
      votes AS (SELECT a.i ia, c.i ib,
          SUM(CASE WHEN a.m > c.m THEN 1 ELSE 0 END)::BIGINT vab,
          SUM(CASE WHEN c.m > a.m THEN 1 ELSE 0 END)::BIGINT vba
        FROM m a JOIN m c ON a.r = c.r AND a.i < c.i GROUP BY 1, 2),
      dir AS (SELECT ia i, ib j, vab w, (vab + vba)::BIGINT g FROM votes
          WHERE vab + vba > 0
        UNION ALL SELECT ib, ia, vba, (vab + vba) FROM votes
          WHERE vab + vba > 0),
      wg AS (SELECT i, SUM(w)::HUGEINT wins, SUM(g)::HUGEINT games
        FROM dir GROUP BY 1),
      p0 AS (SELECT i, 1000000::HUGEINT pi FROM wg),
      d1 AS (SELECT dir.i, SUM(dir.g::HUGEINT * 1000000000000
          // GREATEST(a.pi + b2.pi, 1)) den
        FROM dir JOIN p0 a ON a.i = dir.i JOIN p0 b2 ON b2.i = dir.j
        GROUP BY 1),
      p1 AS (SELECT wg.i, CASE WHEN d1.den > 0
          THEN wg.wins * 1000000000000 // d1.den ELSE p0.pi END pi
        FROM wg JOIN d1 ON d1.i = wg.i JOIN p0 ON p0.i = wg.i),
      d2 AS (SELECT dir.i, SUM(dir.g::HUGEINT * 1000000000000
          // GREATEST(a.pi + b2.pi, 1)) den
        FROM dir JOIN p1 a ON a.i = dir.i JOIN p1 b2 ON b2.i = dir.j
        GROUP BY 1),
      p2 AS (SELECT wg.i, CASE WHEN d2.den > 0
          THEN wg.wins * 1000000000000 // d2.den ELSE p1.pi END pi
        FROM wg JOIN d2 ON d2.i = wg.i JOIN p1 ON p1.i = wg.i),
      d3 AS (SELECT dir.i, SUM(dir.g::HUGEINT * 1000000000000
          // GREATEST(a.pi + b2.pi, 1)) den
        FROM dir JOIN p2 a ON a.i = dir.i JOIN p2 b2 ON b2.i = dir.j
        GROUP BY 1),
      p3 AS (SELECT wg.i, CASE WHEN d3.den > 0
          THEN wg.wins * 1000000000000 // d3.den ELSE p2.pi END pi
        FROM wg JOIN d3 ON d3.i = wg.i JOIN p2 ON p2.i = wg.i)
      SELECT wg.i AS item, wg.wins::BIGINT AS wins,
        wg.games::BIGINT AS games, p3.pi::BIGINT AS bt_micro,
        ROW_NUMBER() OVER (ORDER BY p3.pi DESC, wg.i ASC)::BIGINT
          AS bt_rank
      FROM wg JOIN p3 ON p3.i = wg.i"""))

  /** Top principal component of the centered embedding corpus — 3
    * integer-quantized power iterations, oracle unrolled; deterministic
    * sign via the largest-|v| pivot.
    */
  private val q243 = Q(
    "q243_top_pc",
    (spark, dir) => Similarity.topPrincipalComponent(
      pq(spark, dir, "embeddings"), "vec_id", "embedding", iters = 3),
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] ve
          FROM embeddings WHERE vec_id IS NOT NULL
            AND embedding IS NOT NULL),
      js AS (SELECT unnest(generate_series(1, 64)) j),
      x AS (SELECT vec_id id, j - 1 dim, floor(ve[j] * 1e6)::BIGINT xm0
        FROM e CROSS JOIN js),
      mu AS (SELECT dim, COUNT(*)::BIGINT n,
          (CASE WHEN SUM(xm0) >= 0 THEN SUM(xm0) // COUNT(*)
            ELSE -((-SUM(xm0)) // COUNT(*)) END)::BIGINT mean_micro
        FROM x GROUP BY 1),
      xc AS (SELECT id, x.dim, (xm0 - mean_micro)::BIGINT xm
        FROM x JOIN mu USING (dim)),
      v0 AS (SELECT dim, 1000000::HUGEINT v FROM mu),
      d1 AS (SELECT id, SUM(xm::HUGEINT * v)::HUGEINT dot
        FROM xc JOIN v0 USING (dim) GROUP BY 1),
      d1m AS (SELECT id, (CASE WHEN dot >= 0 THEN dot // 1000000
          ELSE -((-dot) // 1000000) END)::BIGINT dotmu FROM d1),
      w1 AS (SELECT dim, SUM(xm::HUGEINT * dotmu)::HUGEINT w
        FROM xc JOIN d1m USING (id) GROUP BY 1),
      w1m AS (SELECT dim, (CASE WHEN w >= 0 THEN w // 1000000
          ELSE -((-w) // 1000000) END)::BIGINT wmu FROM w1),
      n1 AS (SELECT floor(sqrt(SUM(wmu::HUGEINT * wmu)::DOUBLE))::BIGINT
          nrm FROM w1m),
      v1 AS (SELECT dim, (CASE WHEN nrm <= 0 THEN 0
          WHEN wmu >= 0 THEN (wmu::HUGEINT * 1000000) // nrm
          ELSE -((-(wmu::HUGEINT * 1000000)) // nrm) END)::HUGEINT v
        FROM w1m, n1),
      d2 AS (SELECT id, SUM(xm::HUGEINT * v)::HUGEINT dot
        FROM xc JOIN v1 USING (dim) GROUP BY 1),
      d2m AS (SELECT id, (CASE WHEN dot >= 0 THEN dot // 1000000
          ELSE -((-dot) // 1000000) END)::BIGINT dotmu FROM d2),
      w2 AS (SELECT dim, SUM(xm::HUGEINT * dotmu)::HUGEINT w
        FROM xc JOIN d2m USING (id) GROUP BY 1),
      w2m AS (SELECT dim, (CASE WHEN w >= 0 THEN w // 1000000
          ELSE -((-w) // 1000000) END)::BIGINT wmu FROM w2),
      n2 AS (SELECT floor(sqrt(SUM(wmu::HUGEINT * wmu)::DOUBLE))::BIGINT
          nrm FROM w2m),
      v2 AS (SELECT dim, (CASE WHEN nrm <= 0 THEN 0
          WHEN wmu >= 0 THEN (wmu::HUGEINT * 1000000) // nrm
          ELSE -((-(wmu::HUGEINT * 1000000)) // nrm) END)::HUGEINT v
        FROM w2m, n2),
      d3 AS (SELECT id, SUM(xm::HUGEINT * v)::HUGEINT dot
        FROM xc JOIN v2 USING (dim) GROUP BY 1),
      d3m AS (SELECT id, (CASE WHEN dot >= 0 THEN dot // 1000000
          ELSE -((-dot) // 1000000) END)::BIGINT dotmu FROM d3),
      w3 AS (SELECT dim, SUM(xm::HUGEINT * dotmu)::HUGEINT w
        FROM xc JOIN d3m USING (id) GROUP BY 1),
      w3m AS (SELECT dim, (CASE WHEN w >= 0 THEN w // 1000000
          ELSE -((-w) // 1000000) END)::BIGINT wmu FROM w3),
      n3 AS (SELECT floor(sqrt(SUM(wmu::HUGEINT * wmu)::DOUBLE))::BIGINT
          nrm FROM w3m),
      v3 AS (SELECT dim, (CASE WHEN nrm <= 0 THEN 0
          WHEN wmu >= 0 THEN (wmu::HUGEINT * 1000000) // nrm
          ELSE -((-(wmu::HUGEINT * 1000000)) // nrm) END)::HUGEINT v
        FROM w3m, n3),
      piv AS (SELECT CASE WHEN (SELECT v FROM v3
          ORDER BY abs(v) DESC, dim ASC LIMIT 1) < 0
          THEN -1 ELSE 1 END flip)
      SELECT mu.dim, mu.n, mu.mean_micro,
        (v3.v * piv.flip)::BIGINT AS pc_micro,
        n3.nrm::BIGINT AS score_micro
      FROM mu JOIN v3 USING (dim), piv, n3"""))

  /** Pooled per-user autocorrelation of hourly event-value sums at lags
    * 1/2/3/6/12/24 h — exact keyed-lag join moments, one Pearson finish
    * per lag.
    */
  private val q244 = Q(
    "q244_acf",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val hourly = raw
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("user_id"),
          (EventTime.epochMillis(raw, "ts") / lit(3600000L))
            .cast("long").as("bucket"),
          floor(col("value") * 1e6).cast("long").as("__v"))
        .groupBy("user_id", "bucket")
        .agg(sum("__v").as("sm"))
      TimeSeries.acf(hourly, "user_id", "bucket", "sm",
        lags = Seq(1, 2, 3, 6, 12, 24), everyMs = 1L)
    },
    Some("""WITH e AS (SELECT user_id, epoch_ms(ts) // 3600000 b,
          floor(value * 1e6)::BIGINT v
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      g AS (SELECT user_id k, b, SUM(v)::BIGINT sm FROM e GROUP BY 1, 2),
      m AS (SELECT k, b, floor(sm::DOUBLE * 1e6)::BIGINT vm FROM g),
      l(lag) AS (VALUES (1), (2), (3), (6), (12), (24)),
      p AS (SELECT a.lag, a.vm xm, c.vm ym
        FROM (SELECT k, b, vm, lag FROM m CROSS JOIN l) a
        JOIN m c ON c.k = a.k AND c.b = a.b + a.lag),
      s AS (SELECT lag, COUNT(*)::BIGINT n, SUM(xm::HUGEINT)::HUGEINT sx,
          SUM(ym::HUGEINT)::HUGEINT sy, SUM(xm::HUGEINT * ym)::HUGEINT sxy,
          SUM(xm::HUGEINT * xm)::HUGEINT sxx,
          SUM(ym::HUGEINT * ym)::HUGEINT syy
        FROM p GROUP BY 1)
      SELECT lag, n,
        (CASE WHEN n > 1 AND n * sxx > sx * sx AND n * syy > sy * sy THEN
          floor(1000000.0 * (n * sxy - sx * sy)::DOUBLE
            / sqrt((n * sxx - sx * sx)::DOUBLE
                   * (n * syy - sy * sy)::DOUBLE)) END)::BIGINT
          AS acf_micro
      FROM s"""))

  /** Average precision per user of the q224 pseudo-ranking — per-term
    * floored exact AP, the MAP building block.
    */
  private val q245 = Q(
    "q245_avg_precision",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Eval.averagePrecision(
        raw.filter(col("user_id").isNotNull && col("event_id").isNotNull &&
            col("event_type").isNotNull)
          .withColumn("score",
            md5(concat(lit("s9|"), col("event_id").cast("string"))))
          .withColumn("is_rel", col("event_type") === "purchase"),
        "user_id", "event_id", "score", "is_rel")
        .withColumnRenamed("query", "user_id")
    },
    Some("""WITH b AS (SELECT user_id, event_id,
          (event_type = 'purchase') rel,
          md5('s9|' || event_id::VARCHAR) score
        FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
          AND event_type IS NOT NULL),
      r AS (SELECT user_id, rel,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY score DESC, event_id ASC) rs,
          SUM(CASE WHEN rel THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
            ORDER BY score DESC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT hits,
          SUM(CASE WHEN rel THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id)::BIGINT nrel
        FROM b)
      SELECT user_id, COUNT(*)::BIGINT n_items, MAX(nrel)::BIGINT n_rel,
        (CASE WHEN MAX(nrel) > 0 THEN
          SUM(CASE WHEN rel THEN (hits::HUGEINT * 1000000)
            // (rs::HUGEINT * nrel) ELSE 0 END) END)::BIGINT AS ap_micro
      FROM r GROUP BY 1"""))

  /** Greedy k-center selection of 4 maximally-diverse embeddings —
    * deterministic farthest-point rounds, exact integer micro²
    * distances, covering-radius curve.
    */
  private val q246 = Q(
    "q246_kcenter",
    (spark, dir) => Similarity.kCenterSelect(
      pq(spark, dir, "embeddings"), "vec_id", "embedding", k = 4),
    Some("""WITH e AS (SELECT vec_id id, embedding::DOUBLE[] ve
          FROM embeddings WHERE vec_id IS NOT NULL
            AND embedding IS NOT NULL),
      js AS (SELECT unnest(generate_series(1, 64)) j),
      x AS (SELECT id, j, floor(ve[j] * 1e6)::BIGINT xm
        FROM e CROSS JOIN js),
      c1 AS (SELECT MIN(id) cid FROM e),
      m1 AS (SELECT x.id,
          SUM((x.xm - c.xm) * (x.xm - c.xm))::BIGINT mind
        FROM x JOIN (SELECT x.j, x.xm FROM x, c1 WHERE x.id = c1.cid) c
          ON c.j = x.j
        GROUP BY 1),
      c2 AS (SELECT id cid, mind FROM m1
        ORDER BY mind DESC, id ASC LIMIT 1),
      m2 AS (SELECT m1.id, LEAST(m1.mind, d.d2) mind FROM m1 JOIN
        (SELECT x.id, SUM((x.xm - c.xm) * (x.xm - c.xm))::BIGINT d2
         FROM x JOIN (SELECT x.j, x.xm FROM x, c2 WHERE x.id = c2.cid) c
           ON c.j = x.j
         GROUP BY 1) d USING (id)),
      c3 AS (SELECT id cid, mind FROM m2
        ORDER BY mind DESC, id ASC LIMIT 1),
      m3 AS (SELECT m2.id, LEAST(m2.mind, d.d2) mind FROM m2 JOIN
        (SELECT x.id, SUM((x.xm - c.xm) * (x.xm - c.xm))::BIGINT d2
         FROM x JOIN (SELECT x.j, x.xm FROM x, c3 WHERE x.id = c3.cid) c
           ON c.j = x.j
         GROUP BY 1) d USING (id)),
      c4 AS (SELECT id cid, mind FROM m3
        ORDER BY mind DESC, id ASC LIMIT 1)
      SELECT 1::BIGINT AS round, cid::BIGINT AS centroid_id,
        NULL::BIGINT AS radius_mm FROM c1
      UNION ALL SELECT 2::BIGINT, cid::BIGINT, mind::BIGINT FROM c2
      UNION ALL SELECT 3::BIGINT, cid::BIGINT, mind::BIGINT FROM c3
      UNION ALL SELECT 4::BIGINT, cid::BIGINT, mind::BIGINT FROM c4"""))

  /** Nelson–Aalen cumulative churn hazard on the q195 lifespans — the
    * additive hazard curve, per-term-floored prefix sum.
    */
  private val q247 = Q(
    "q247_nelson_aalen",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val u = raw
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), EventTime.epochMillis(raw, "ts").as("ts_ms"))
        .groupBy("user_id")
        .agg(min("ts_ms").as("first_ms"), max("ts_ms").as("last_ms"))
      val subj = u
        .crossJoin(broadcast(u.agg(max("last_ms").as("study_end_ms"))))
        .select(
          expr("(last_ms - first_ms) div 86400000").as("dur_days"),
          (col("last_ms") <= col("study_end_ms") - lit(2592000000L))
            .as("churned"))
      Survival.nelsonAalen(subj, "dur_days", "churned")
    },
    Some("""WITH e AS (SELECT user_id, epoch_ms(ts) tms FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      u AS (SELECT user_id, MIN(tms) f, MAX(tms) l FROM e GROUP BY 1),
      se AS (SELECT MAX(l) m FROM u),
      s AS (SELECT (l - f) // 86400000 t,
          (l <= se.m - 2592000000) ev FROM u, se),
      g AS (SELECT t,
          COUNT(*) FILTER (WHERE ev)::BIGINT n_event,
          COUNT(*) FILTER (WHERE NOT ev)::BIGINT n_censored
        FROM s GROUP BY 1),
      tot AS (SELECT SUM(n_event + n_censored)::BIGINT n FROM g),
      w AS (SELECT g.*, tot.n,
          (SUM(n_event + n_censored) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT cum
        FROM g, tot),
      r AS (SELECT t, n_event, n_censored,
          (n - cum + n_event + n_censored)::BIGINT n_risk FROM w),
      h AS (SELECT *,
          (n_event::HUGEINT * 1000000 // n_risk)::BIGINT hazard_micro
        FROM r)
      SELECT t, n_risk, n_event, n_censored, hazard_micro,
        (SUM(hazard_micro) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
          AS cum_hazard_micro
      FROM h"""))

  /** Co-purchase link prediction on the user↔prop-k bipartite graph —
    * top-20 non-edges by capped-degree Jaccard.
    */
  private val q248 = Q(
    "q248_link_predict",
    (spark, dir) => Graph.linkPrediction(
      pq(spark, dir, "events")
        .filter(col("event_type") === "purchase" &&
          col("user_id").isNotNull &&
          get_json_object(col("props"), "$.k").isNotNull)
        .select(col("user_id").as("src"),
          (get_json_object(col("props"), "$.k").cast("long") + 100000000L)
            .as("dst")),
      "src", "dst", k = 20),
    Some("""WITH ed AS (SELECT DISTINCT
          LEAST(user_id, 100000000 + json_extract(props, '$.k')::BIGINT) u,
          GREATEST(user_id, 100000000 + json_extract(props, '$.k')::BIGINT) v
        FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
          AND json_extract(props, '$.k') IS NOT NULL
          AND user_id <> 100000000 + json_extract(props, '$.k')::BIGINT),
      deg AS (SELECT x, COUNT(*)::BIGINT deg FROM
        (SELECT u x FROM ed UNION ALL SELECT v FROM ed) GROUP BY 1),
      keep AS (SELECT x FROM deg WHERE deg <= 10000),
      e2 AS (SELECT u, v FROM ed WHERE u IN (SELECT x FROM keep)
        AND v IN (SELECT x FROM keep)),
      deg2 AS (SELECT x, COUNT(*)::BIGINT deg FROM
        (SELECT u x FROM e2 UNION ALL SELECT v FROM e2) GROUP BY 1),
      nbr AS (SELECT u m, v x FROM e2 UNION ALL SELECT v, u FROM e2),
      cand AS (SELECT a.x a, b.x b, COUNT(*)::BIGINT cn
        FROM nbr a JOIN nbr b ON a.m = b.m AND a.x < b.x GROUP BY 1, 2),
      np AS (SELECT cand.* FROM cand LEFT JOIN e2
          ON e2.u = cand.a AND e2.v = cand.b
        WHERE e2.u IS NULL),
      j AS (SELECT np.a, np.b, np.cn, da.deg deg_a, db.deg deg_b,
          (np.cn * 1000000 // (da.deg + db.deg - np.cn))::BIGINT
            jaccard_micro
        FROM np JOIN deg2 da ON da.x = np.a JOIN deg2 db ON db.x = np.b)
      SELECT a AS node_a, b AS node_b, cn AS common_neighbors,
        deg_a AS degree_a, deg_b AS degree_b, jaccard_micro
      FROM j ORDER BY jaccard_micro DESC, a ASC, b ASC LIMIT 20"""))

  /** ECE/MCE + Brier of the "prop k predicts purchase" score — the
    * one-row calibration gate over the q-family reliability curve.
    */
  private val q249 = Q(
    "q249_ece",
    (spark, dir) => Eval.calibrationError(
      pq(spark, dir, "events")
        .filter(col("event_type").isNotNull &&
          get_json_object(col("props"), "$.k").isNotNull)
        .withColumn("label", col("event_type") === "purchase")
        .withColumn("score",
          get_json_object(col("props"), "$.k").cast("double") / 100.0),
      "label", "score", bins = 10),
    Some("""WITH b AS (SELECT
          LEAST(GREATEST(floor((json_extract(props, '$.k')::DOUBLE / 100.0)
            * 10), 0), 9)::BIGINT bin,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END y,
          floor((json_extract(props, '$.k')::DOUBLE / 100.0)
            * 1e6)::BIGINT sm,
          floor(1000000.0
            * ((json_extract(props, '$.k')::DOUBLE / 100.0)
               - (CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END))
            * ((json_extract(props, '$.k')::DOUBLE / 100.0)
               - (CASE WHEN event_type = 'purchase' THEN 1.0
                  ELSE 0.0 END)))::BIGINT bm
        FROM events WHERE event_type IS NOT NULL
          AND json_extract(props, '$.k') IS NOT NULL),
      p AS (SELECT bin, COUNT(*)::BIGINT n, SUM(y)::BIGINT n_pos,
          SUM(sm)::HUGEINT ssm, SUM(bm)::HUGEINT sbm FROM b GROUP BY 1),
      g AS (SELECT (SUM(sbm) // SUM(n))::BIGINT brier_micro FROM p),
      c AS (SELECT bin, n, (ssm // n)::BIGINT avg_score_micro,
          (n_pos::HUGEINT * 1000000 // n)::BIGINT obs_rate_micro FROM p)
      SELECT SUM(n)::BIGINT n, COUNT(*)::BIGINT n_bins_used,
        (SUM(n::HUGEINT * abs(avg_score_micro - obs_rate_micro))
          // SUM(n))::BIGINT AS ece_micro,
        MAX(abs(avg_score_micro - obs_rate_micro))::BIGINT AS mce_micro,
        MAX(g.brier_micro)::BIGINT AS brier_micro
      FROM c, g"""))

  /** Corpus unigram entropy and effective vocabulary (perplexity) — the
    * redundancy early-warning, exact per-type floored log terms.
    */
  private val q250 = Q(
    "q250_unigram_entropy",
    (spark, dir) => Corpus.unigramEntropy(
      pq(spark, dir, "documents"), "text"),
    Some("""WITH t AS (SELECT unnest(string_split(trim(text), ' ')) tok
          FROM documents WHERE text IS NOT NULL),
      f AS (SELECT tok, COUNT(*)::BIGINT f FROM t GROUP BY 1),
      s AS (SELECT SUM(f)::BIGINT n_tokens, COUNT(*)::BIGINT n_types,
          SUM(f::HUGEINT
            * floor(ln(f::DOUBLE) * 1e6)::BIGINT)::HUGEINT sf
        FROM f)
      SELECT n_tokens, n_types,
        ((n_tokens::HUGEINT * floor(ln(n_tokens::DOUBLE) * 1e6)::BIGINT
          - sf) // n_tokens)::BIGINT AS entropy_micro,
        floor(1000.0 * exp(
          (((n_tokens::HUGEINT
             * floor(ln(n_tokens::DOUBLE) * 1e6)::BIGINT - sf)
            // n_tokens))::DOUBLE / 1e6))::BIGINT AS perplexity_milli
      FROM s"""))

  /** Re-identification risk histogram over (nation, market segment)
    * quasi-identifiers — class-size distribution, uniqueness rate at
    * size 1, exact cumulative row shares.
    */
  private val q251 = Q(
    "q251_uniqueness_risk",
    (spark, dir) => Privacy.uniquenessRisk(
      pq(spark, dir, "customer")
        // sign-split truncating band (the house `div`/`//` idiom) so
        // negative balances band identically in both engines
        .withColumn("__vm", floor(col("c_acctbal") * 1e6).cast("long"))
        .withColumn("acct_band", expr(
          """case when __vm >= 0 then __vm div 500000000
             else -((-__vm) div 500000000) end"""))
        .drop("__vm"),
      Seq("c_nationkey", "c_mktsegment", "acct_band")),
    Some("""WITH cls AS (SELECT c_nationkey, c_mktsegment,
          (CASE WHEN floor(c_acctbal * 1e6) >= 0
            THEN floor(c_acctbal * 1e6)::BIGINT // 500000000
            ELSE -((-floor(c_acctbal * 1e6))::BIGINT // 500000000)
            END) AS acct_band,
          COUNT(*)::BIGINT class_size
        FROM customer GROUP BY 1, 2, 3),
      h AS (SELECT class_size, COUNT(*)::BIGINT n_classes,
          (class_size * COUNT(*))::BIGINT n_rows
        FROM cls GROUP BY 1),
      t AS (SELECT SUM(n_rows)::BIGINT n FROM h),
      p AS (SELECT h.*, t.n,
          (SUM(n_rows) OVER (ORDER BY class_size
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT cum
        FROM h, t)
      SELECT class_size, n_classes, n_rows,
        (n_rows::HUGEINT * 1000000 // n)::BIGINT AS row_share_micro,
        cum AS cum_rows,
        (cum::HUGEINT * 1000000 // n)::BIGINT AS cum_row_share_micro
      FROM p"""))

  /** Cohen's κ between the value-heuristic and the prop-k-heuristic
    * purchase raters — exact integer chance-corrected agreement.
    */
  private val q252 = Q(
    "q252_cohens_kappa",
    (spark, dir) => Eval.cohensKappa(
      pq(spark, dir, "events")
        .filter(col("value").isNotNull &&
          get_json_object(col("props"), "$.k").isNotNull)
        .withColumn("rater_a", col("value") >= 50.0)
        .withColumn("rater_b",
          get_json_object(col("props"), "$.k").cast("long") >= 50L),
      "rater_a", "rater_b"),
    Some("""WITH b AS (SELECT (value >= 50.0)::VARCHAR a,
          (json_extract(props, '$.k')::BIGINT >= 50)::VARCHAR bb
        FROM events WHERE value IS NOT NULL
          AND json_extract(props, '$.k') IS NOT NULL),
      cells AS (SELECT a, bb, COUNT(*)::BIGINT c FROM b GROUP BY 1, 2),
      ma AS (SELECT a, SUM(c)::BIGINT na FROM cells GROUP BY 1),
      mb AS (SELECT bb, SUM(c)::BIGINT nb FROM cells GROUP BY 1),
      pe AS (SELECT COALESCE(SUM(na::HUGEINT * nb), 0)::HUGEINT s
        FROM ma JOIN mb ON ma.a = mb.bb),
      t AS (SELECT SUM(c)::BIGINT n,
          SUM(CASE WHEN a = bb THEN c ELSE 0 END)::BIGINT n_agree
        FROM cells)
      SELECT n, n_agree,
        (n_agree::HUGEINT * 1000000 // n)::BIGINT AS po_micro,
        (s * 1000000 // (n::HUGEINT * n))::BIGINT AS pe_micro,
        (CASE WHEN n::HUGEINT * n - s > 0 THEN
          (CASE WHEN n_agree::HUGEINT * n - s >= 0 THEN
            (n_agree::HUGEINT * n - s) * 1000000 // (n::HUGEINT * n - s)
          ELSE -((s - n_agree::HUGEINT * n) * 1000000
            // (n::HUGEINT * n - s)) END) END)::BIGINT AS kappa_micro
      FROM t, pe"""))

  /** McNemar's paired test: value-heuristic vs prop-k-heuristic against
    * the true purchase label — exact discordant-cell χ².
    */
  private val q253 = Q(
    "q253_mcnemar",
    (spark, dir) => Eval.mcnemar(
      pq(spark, dir, "events")
        .filter(col("value").isNotNull && col("event_type").isNotNull &&
          get_json_object(col("props"), "$.k").isNotNull)
        .withColumn("pred_a", col("value") >= 50.0)
        .withColumn("pred_b",
          get_json_object(col("props"), "$.k").cast("long") >= 50L)
        .withColumn("truth", col("event_type") === "purchase"),
      "pred_a", "pred_b", "truth"),
    Some("""WITH b AS (SELECT
          ((value >= 50.0) = (event_type = 'purchase')) ra,
          ((json_extract(props, '$.k')::BIGINT >= 50)
            = (event_type = 'purchase')) rb
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
          AND json_extract(props, '$.k') IS NOT NULL)
      SELECT COUNT(*)::BIGINT n,
        COUNT(*) FILTER (WHERE ra AND rb)::BIGINT n_both_right,
        COUNT(*) FILTER (WHERE ra AND NOT rb)::BIGINT n_a_only,
        COUNT(*) FILTER (WHERE NOT ra AND rb)::BIGINT n_b_only,
        COUNT(*) FILTER (WHERE NOT ra AND NOT rb)::BIGINT n_both_wrong,
        (CASE WHEN COUNT(*) FILTER (WHERE ra AND NOT rb)
            + COUNT(*) FILTER (WHERE NOT ra AND rb) > 0 THEN
          (COUNT(*) FILTER (WHERE ra AND NOT rb)
            - COUNT(*) FILTER (WHERE NOT ra AND rb))::HUGEINT
          * (COUNT(*) FILTER (WHERE ra AND NOT rb)
            - COUNT(*) FILTER (WHERE NOT ra AND rb)) * 1000
          // (COUNT(*) FILTER (WHERE ra AND NOT rb)
            + COUNT(*) FILTER (WHERE NOT ra AND rb)) END)::BIGINT
          AS chi2_milli
      FROM b"""))

  /** Mergeable bottom-k-by-hash quantile sketch
    * ([[graft.functions.QuantileSketchAgg]]) per event type — the
    * streamable complement of q102's exact groupQuantiles. The oracle
    * replays the md5-driven compaction verbatim: `ORDER BY md5(id)
    * LIMIT k` is the entire keep/drop rule, so DuckDB rebuilds the
    * identical sample and nearest-rank quantiles.
    */
  private val q254 = Q(
    "q254_quantile_sketch",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val base = raw
        .filter(col("event_type").isNotNull && col("event_id").isNotNull &&
          col("value").isNotNull)
        .select(col("event_type"),
          col("event_id").cast("string").as("__id"),
          floor(col("value") * 1e6).cast("long").as("__v"))
      val f = graft.functions.QuantileSketchAgg.qsketch(64, Seq(25, 50, 75, 90))
      base.groupBy("event_type")
        .agg(f(col("__id"), col("__v")).as("s"))
        .select(col("event_type"),
          col("s.n").as("n"), col("s.m").as("m"),
          element_at(col("s.q_micro"), 1).as("p25_micro"),
          element_at(col("s.q_micro"), 2).as("p50_micro"),
          element_at(col("s.q_micro"), 3).as("p75_micro"),
          element_at(col("s.q_micro"), 4).as("p90_micro"))
    },
    Some("""WITH x AS (SELECT event_type g, md5(event_id::VARCHAR) h,
          floor(value * 1e6)::BIGINT v
        FROM events WHERE event_type IS NOT NULL AND event_id IS NOT NULL
          AND value IS NOT NULL),
      d AS (SELECT g, h, MIN(v) v FROM x GROUP BY 1, 2),
      tk AS (SELECT g, v,
          ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) rn FROM d),
      s AS (SELECT g, v FROM tk WHERE rn <= 64),
      nn AS (SELECT g, COUNT(*)::BIGINT n FROM x GROUP BY 1),
      mm AS (SELECT g, COUNT(*)::BIGINT m FROM s GROUP BY 1),
      rv AS (SELECT g, v,
          ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) - 1 r FROM s),
      p(percent) AS (VALUES (25), (50), (75), (90)),
      t AS (SELECT mm.g, percent, percent * (m - 1) // 100 r
        FROM mm CROSS JOIN p),
      q AS (SELECT t.g, t.percent, rv.v qv
        FROM t JOIN rv ON rv.g = t.g AND rv.r = t.r)
      SELECT nn.g AS event_type, nn.n AS n, mm.m AS m,
        MAX(CASE WHEN q.percent = 25 THEN q.qv END)::BIGINT AS p25_micro,
        MAX(CASE WHEN q.percent = 50 THEN q.qv END)::BIGINT AS p50_micro,
        MAX(CASE WHEN q.percent = 75 THEN q.qv END)::BIGINT AS p75_micro,
        MAX(CASE WHEN q.percent = 90 THEN q.qv END)::BIGINT AS p90_micro
      FROM q JOIN nn ON nn.g = q.g JOIN mm ON mm.g = q.g
      GROUP BY 1, 2, 3"""))

  /** Per-event-type permutation tests (user-parity arms, the q229
    * machinery distributed per segment) with Benjamini–Hochberg FDR
    * over the resulting p-values — the many-hypotheses experiment
    * readout. Everything exact-integer: md5-driven permutations,
    * cross-multiplied extremeness, and the step-up scan's
    * `p_i·m ≤ i·α` compare.
    */
  private val q255 = Q(
    "q255_bh_fdr",
    (spark, dir) => Eval.bhFdr(
      Eval.permutationTestMeansBySegment(
        pq(spark, dir, "events")
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .withColumn("arm",
            when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
              .otherwise("arm_b")),
        "event_type", "event_id", "arm", "value", b = 200, seed = "perm"),
      "segment", "p_micro", alphaMicro = 250000L),
    Some("""WITH base AS (SELECT event_type seg, event_id::VARCHAR id,
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          floor(value * 1e6)::BIGINT vm
        FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          AND value IS NOT NULL AND event_id IS NOT NULL),
      obs AS (SELECT seg,
          COUNT(*) FILTER (WHERE g = 'arm_a')::HUGEINT ca,
          SUM(CASE WHEN g = 'arm_a' THEN vm ELSE 0 END)::HUGEINT sa,
          COUNT(*) FILTER (WHERE g = 'arm_b')::HUGEINT cb,
          SUM(CASE WHEN g = 'arm_b' THEN vm ELSE 0 END)::HUGEINT sb
        FROM base GROUP BY 1 HAVING COUNT(DISTINCT g) = 2),
      th AS (SELECT seg, printf('%08x',
          ((4294967296::HUGEINT * ca) // (ca + cb))::BIGINT) tx FROM obs),
      reps AS (SELECT unnest(generate_series(0, 199)) rep),
      r AS (SELECT z.seg, z.rep,
          SUM(CASE WHEN z.u < th.tx THEN 1 ELSE 0 END)::HUGEINT cab,
          SUM(CASE WHEN z.u < th.tx THEN z.vm ELSE 0 END)::HUGEINT sab
        FROM (SELECT seg, rep, vm,
            substr(md5('perm|' || rep::VARCHAR || '|' || id), 1, 8) u
          FROM base CROSS JOIN reps) z JOIN th ON th.seg = z.seg
        GROUP BY 1, 2),
      ext AS (SELECT r.seg,
          COUNT(*) FILTER (WHERE cab > 0 AND cab < ca + cb)::BIGINT beff,
          COUNT(*) FILTER (WHERE cab > 0 AND cab < ca + cb
            AND abs(sab * (ca + cb - cab) - (sa + sb - sab) * cab)
                * (ca * cb)
              >= abs(sa * cb - sb * ca) * (cab * (ca + cb - cab)))::BIGINT
            n_extreme
        FROM r JOIN obs ON obs.seg = r.seg GROUP BY 1),
      hyp AS (SELECT obs.seg, ca::BIGINT n_a, cb::BIGINT n_b,
          ((CASE WHEN sa >= 0 THEN sa // ca ELSE -((-sa) // ca) END)
           - (CASE WHEN sb >= 0 THEN sb // cb
               ELSE -((-sb) // cb) END))::BIGINT diff_micro,
          beff b_effective, n_extreme,
          ((1 + n_extreme)::HUGEINT * 1000000 // (1 + beff))::BIGINT
            p_micro
        FROM ext JOIN obs ON obs.seg = ext.seg),
      rk AS (SELECT *,
          ROW_NUMBER() OVER (ORDER BY p_micro, seg)::BIGINT rank,
          COUNT(*) OVER ()::BIGINT m FROM hyp),
      ks AS (SELECT COALESCE(MAX(CASE WHEN p_micro * m <= rank * 250000
          THEN rank END), 0)::BIGINT k FROM rk)
      SELECT seg AS segment, n_a, n_b, diff_micro, b_effective,
        n_extreme, p_micro, rank, m,
        (rank * 250000 // m)::BIGINT AS bh_crit_micro,
        (rank <= k) AS significant
      FROM rk, ks"""))

  /** DSIR importance RESAMPLING (the paper's Gumbel-top-k sampler, vs
    * q77's deterministic greedy head): Sampling.dsirWeights' hashed
    * unigram+bigram log-ratio weights against the lang='en' target
    * slice, perturbed by md5-driven Gumbel keys and ranked. Disproves
    * the old "Gumbel can't hash-match cross-engine" note: u is an exact
    * dyadic rational, the Gumbel one mirrored double tree.
    */
  private val q256 = Q(
    "q256_dsir_resample",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      Sampling.dsirResample(docs, "doc_id", "text",
        docs.filter(col("lang") === "en"), "text",
        k = 100, hashDigits = 3, seed = "dsir")
    },
    Some("""WITH ct AS (SELECT doc_id, string_split(trim(text), ' ') ws
        FROM documents),
      cg AS (SELECT doc_id, unnest(ws) g FROM ct
        UNION ALL
        SELECT doc_id, ws[i] || ' ' || ws[i+1] FROM
          (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) i
            FROM ct WHERE len(ws) >= 2)),
      cb AS (SELECT doc_id, substr(md5(g), 1, 3) b FROM cg),
      tt AS (SELECT doc_id, string_split(trim(text), ' ') ws
        FROM documents WHERE lang = 'en'),
      tg AS (SELECT unnest(ws) g FROM tt
        UNION ALL
        SELECT ws[i] || ' ' || ws[i+1] FROM
          (SELECT ws, unnest(generate_series(1, len(ws) - 1)) i
            FROM tt WHERE len(ws) >= 2)),
      tbk AS (SELECT substr(md5(g), 1, 3) b FROM tg),
      qc AS (SELECT b, COUNT(*) cq FROM cb GROUP BY 1),
      pc AS (SELECT b, COUNT(*) cp FROM tbk GROUP BY 1),
      lr AS (SELECT COALESCE(qc.b, pc.b) b,
          round(ln((COALESCE(cp, 0) + 1)::DOUBLE
              / ((SELECT COUNT(*) FROM tbk) + 4096)) * 1e6)::BIGINT
          - round(ln((COALESCE(cq, 0) + 1)::DOUBLE
              / ((SELECT COUNT(*) FROM cb) + 4096)) * 1e6)::BIGINT
            AS lr_micro
        FROM qc FULL JOIN pc ON qc.b = pc.b),
      w AS (SELECT doc_id, COUNT(*)::BIGINT n_grams,
          SUM(lr_micro)::BIGINT w_micro
        FROM cb JOIN lr USING (b) GROUP BY 1),
      sc AS (SELECT d.doc_id,
          COALESCE(w.n_grams, 0)::BIGINT n_grams,
          COALESCE(w.w_micro, 0)::BIGINT w_micro,
          floor(-1e6 * ln(-ln(
            (('0x' || substr(md5('dsir|' || d.doc_id::VARCHAR), 1, 8))
              ::UBIGINT + 1)::DOUBLE / 4294967297.0)))::BIGINT
            gumbel_micro
        FROM (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL) d
        LEFT JOIN w ON w.doc_id = d.doc_id),
      rk AS (SELECT *, w_micro + gumbel_micro score_micro FROM sc)
      SELECT doc_id, n_grams, w_micro, gumbel_micro, score_micro,
        ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)::BIGINT
          AS rank,
        (ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) <= 100)
          AS selected
      FROM rk"""))

  /** Temperature-flattened training mixture over document languages:
    * α=0.3 shares of a 100k-token budget with exact largest-remainder
    * rounding — allocations sum to the budget exactly.
    */
  private val q257 = Q(
    "q257_mixture_alloc",
    (spark, dir) => Corpus.mixtureAllocation(
      pq(spark, dir, "documents")
        .select(col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok")),
      "lang", "n_tok", alpha = 0.3, budget = 100000L),
    Some("""WITH rows_ AS (SELECT lang,
          len(string_split(trim(text), ' '))::BIGINT nt
        FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
      d AS (SELECT lang AS domain, SUM(nt)::BIGINT n_tokens
        FROM rows_ WHERE nt > 0 GROUP BY 1),
      s AS (SELECT domain, n_tokens,
          floor(1e6 * exp(0.3 * ln(n_tokens::DOUBLE)))::HUGEINT sw FROM d),
      tot AS (SELECT SUM(sw)::HUGEINT ss FROM s),
      q AS (SELECT domain, n_tokens, sw,
          ((100000::HUGEINT * sw) // ss)::BIGINT qq,
          (100000::HUGEINT * sw - ((100000::HUGEINT * sw) // ss) * ss)
            rem,
          ((1000000::HUGEINT * sw) // ss)::BIGINT share_micro
        FROM s, tot),
      lf AS (SELECT (100000 - SUM(qq))::BIGINT leftn FROM q),
      rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, domain) rr
        FROM q)
      SELECT domain, n_tokens, share_micro,
        (qq + CASE WHEN rr <= leftn THEN 1 ELSE 0 END)::BIGINT
          AS alloc_tokens,
        ((qq + CASE WHEN rr <= leftn THEN 1 ELSE 0 END) * 1000
          // n_tokens)::BIGINT AS epochs_milli
      FROM rk, lf"""))

  /** Off-policy IPS/SNIPS readout: events as logged bandit rounds with
    * propensity (k+1)/102 and a target policy that concentrates on
    * purchase actions — counterfactual value plus the weight/ESS
    * diagnostics.
    */
  private val q258 = Q(
    "q258_off_policy",
    (spark, dir) => Eval.offPolicyValue(
      pq(spark, dir, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull &&
          get_json_object(col("props"), "$.k").isNotNull)
        .withColumn("p0_micro",
          expr("(CAST(get_json_object(props, '$.k') AS BIGINT) + 1) " +
            "* 1000000 div 102"))
        .withColumn("p1_micro",
          when(col("event_type") === "purchase", 600000L).otherwise(100000L)),
      "value", "p0_micro", "p1_micro"),
    Some("""WITH b AS (SELECT floor(value * 1e6)::BIGINT rm,
          ((CASE WHEN event_type = 'purchase' THEN 600000
            ELSE 100000 END)::HUGEINT * 1000000
           // ((json_extract(props, '$.k')::BIGINT + 1) * 1000000 // 102))
            w
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
          AND json_extract(props, '$.k') IS NOT NULL
          AND (json_extract(props, '$.k')::BIGINT + 1) * 1000000 // 102 > 0)
      SELECT COUNT(*)::BIGINT n,
        (SUM(rm::HUGEINT * w) // (COUNT(*)::HUGEINT * 1000000))::BIGINT
          AS ips_micro,
        (CASE WHEN SUM(w) > 0 THEN SUM(rm::HUGEINT * w) // SUM(w)
          END)::BIGINT AS snips_micro,
        MAX(w)::BIGINT AS max_w_micro,
        (CASE WHEN SUM(w * w) > 0 THEN
          CASE WHEN SUM(w) <= 300000000000000000 THEN
            (SUM(w) * SUM(w) * 1000) // (COUNT(*)::HUGEINT * SUM(w * w))
          ELSE ((SUM(w) // 1000000) * (SUM(w) // 1000000)) //
            ((COUNT(*)::HUGEINT * SUM(w * w)) // 1000000000000000) END
          END)::BIGINT AS ess_milli
      FROM b"""))

  /** Entropy + recursive (c,l)-diversity over customer classes — the
    * strong-form privacy gates q251's uniqueness histogram and the
    * kAnonymity report stop short of. Cross-multiplied entropy compare,
    * zero divisions.
    */
  private val q259 = Q(
    "q259_l_diversity",
    (spark, dir) => Privacy.lDiversity(
      pq(spark, dir, "customer")
        .withColumn("__vm", floor(col("c_acctbal") * 1e6).cast("long"))
        .withColumn("acct_band", expr(
          """case when __vm >= 0 then __vm div 500000000
             else -((-__vm) div 500000000) end"""))
        .drop("__vm"),
      Seq("c_nationkey", "acct_band"), "c_mktsegment", l = 3, c = 2L),
    Some("""WITH b AS (SELECT c_nationkey,
          (CASE WHEN floor(c_acctbal * 1e6) >= 0
            THEN floor(c_acctbal * 1e6)::BIGINT // 500000000
            ELSE -((-floor(c_acctbal * 1e6)::BIGINT) // 500000000) END)
            acct_band,
          c_mktsegment s FROM customer),
      cells AS (SELECT c_nationkey, acct_band, s, COUNT(*)::BIGINT c
        FROM b GROUP BY 1, 2, 3),
      rk AS (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY c_nationkey, acct_band ORDER BY c DESC, s) rnk
        FROM cells),
      cls AS (SELECT c_nationkey, acct_band, SUM(c)::BIGINT n,
          COUNT(*)::BIGINT nd,
          MAX(CASE WHEN rnk = 1 THEN c END)::BIGINT r1,
          SUM(CASE WHEN rnk < 3 THEN c ELSE 0 END)::BIGINT topl,
          SUM(c::HUGEINT * floor(1e6 * ln(c::DOUBLE))::HUGEINT) ent
        FROM rk GROUP BY 1, 2)
      SELECT c_nationkey, acct_band, n, nd AS n_distinct_sensitive,
        r1, (n - topl)::BIGINT AS tail_from_l,
        ((n::HUGEINT * floor(1e6 * ln(n::DOUBLE))::HUGEINT - ent) // n)
          ::BIGINT AS entropy_micro,
        (n::HUGEINT * floor(1e6 * ln(n::DOUBLE))::HUGEINT - ent
          >= n::HUGEINT * 1098612) AS entropy_l_ok,
        (r1 < 2 * (n - topl)) AS recursive_cl_ok
      FROM cls"""))

  /** Mann–Kendall trend gate over per-type daily value series — the
    * monotone-drift detector pairing with q148's Theil–Sen slope;
    * exact integer S and tie-corrected variance, one fixed double tree
    * for the continuity-corrected z.
    */
  private val q260 = Q(
    "q260_mann_kendall",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val daily = raw
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(raw, "ts"))
        .withColumn("day", expr("__ms div 86400000"))
        .withColumn("__v", floor(col("value") * 1e6).cast("long"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum("__v").as("sv"))
      TimeSeries.mannKendall(daily, "event_type", "day", "sv")
    },
    Some("""WITH e AS (SELECT event_type k, epoch_ms(ts) // 86400000 d,
          floor(value * 1e6)::BIGINT v
        FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      g AS (SELECT k, d, SUM(v)::BIGINT sv FROM e GROUP BY 1, 2),
      p AS (SELECT a.k,
          SUM(CASE WHEN b.sv > a.sv THEN 1 WHEN b.sv < a.sv THEN -1
            ELSE 0 END)::BIGINT s
        FROM g a JOIN g b ON b.k = a.k AND b.d > a.d GROUP BY 1),
      t AS (SELECT k, sv, COUNT(*)::BIGINT tc FROM g GROUP BY 1, 2),
      v AS (SELECT k, SUM(tc)::BIGINT n,
          SUM(tc * (tc - 1) * (2 * tc + 5))::BIGINT tsum
        FROM t GROUP BY 1),
      j AS (SELECT v.k, n, COALESCE(p.s, 0)::BIGINT s,
          (n * (n - 1) * (2 * n + 5) - tsum)::BIGINT vs
        FROM v LEFT JOIN p ON p.k = v.k),
      z AS (SELECT k, n, s, vs,
          (CASE WHEN vs > 0 THEN
            CASE WHEN s > 0 THEN
              floor(1000.0 * (s - 1) / sqrt(vs::DOUBLE / 18.0))::BIGINT
            WHEN s < 0 THEN
              floor(1000.0 * (s + 1) / sqrt(vs::DOUBLE / 18.0))::BIGINT
            ELSE 0 END END) zm FROM j)
      SELECT k AS key, n, s AS s_stat, vs AS var_s_x18, zm AS z_milli,
        (CASE WHEN zm IS NULL THEN NULL
          ELSE abs(zm) >= 1960 END) AS trending
      FROM z"""))

  /** HyperLogLog distinct users per event type
    * ([[graft.functions.HllAgg]]) next to the exact count — the oracle
    * rebuilds all 256 registers with pure hex-string arithmetic and
    * replays the estimator's double tree.
    */
  private val q261 = Q(
    "q261_hll_distinct",
    (spark, dir) => pq(spark, dir, "events")
      .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      .groupBy("event_type")
      .agg(graft.functions.HllAgg.hll(col("user_id").cast("string")).as("s"),
        countDistinct(col("user_id")).as("exact_distinct"))
      .select(col("event_type"), col("s.n_zero_regs"), col("s.s49"),
        col("s.est_distinct"), col("exact_distinct")),
    Some("""WITH u AS (SELECT DISTINCT event_type g, user_id
        FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
      h AS (SELECT g, md5(user_id::VARCHAR) hx FROM u),
      rr AS (SELECT g, ('0x' || substr(hx, 1, 2))::INT reg,
          CASE WHEN length(regexp_extract(substr(hx, 3, 12), '^0*')) = 12
            THEN 49
            ELSE 4 * length(regexp_extract(substr(hx, 3, 12), '^0*'))
              + (CASE substr(substr(hx, 3, 12),
                  length(regexp_extract(substr(hx, 3, 12), '^0*')) + 1, 1)
                WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                WHEN '7' THEN 1 ELSE 0 END) + 1 END rho
        FROM h),
      mx AS (SELECT g, reg, MAX(rho)::BIGINT mr FROM rr GROUP BY 1, 2),
      agg AS (SELECT g, COUNT(*)::BIGINT n_present,
          SUM(1::BIGINT << (49 - mr))::BIGINT s_present
        FROM mx GROUP BY 1),
      st AS (SELECT g, (256 - n_present)::BIGINT vz,
          (s_present
            + (256 - n_present) * (1::BIGINT << 49))::BIGINT s49
        FROM agg),
      est AS (SELECT g, vz, s49,
          (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 562949953421312.0
            / s49::DOUBLE raw
        FROM st),
      ex AS (SELECT event_type g, COUNT(DISTINCT user_id)::BIGINT ed
        FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        GROUP BY 1)
      SELECT est.g AS event_type, vz AS n_zero_regs, s49,
        (CASE WHEN raw <= 640.0 AND vz > 0
          THEN floor(256.0 * ln(256.0 / vz))
          ELSE floor(raw) END)::BIGINT AS est_distinct,
        ex.ed AS exact_distinct
      FROM est JOIN ex ON ex.g = est.g"""))

  /** Chao1 vocabulary richness + Good–Turing unseen mass over the
    * document corpus — the "has the crawl converged" gate; pure
    * counting on the frequency-of-frequencies histogram.
    */
  private val q262 = Q(
    "q262_vocab_coverage",
    (spark, dir) => Corpus.vocabularyCoverage(
      pq(spark, dir, "documents"), "text"),
    Some("""WITH t AS (SELECT unnest(string_split(trim(text), ' ')) tok
        FROM documents WHERE text IS NOT NULL),
      ty AS (SELECT tok, COUNT(*)::BIGINT c FROM t WHERE tok <> ''
        GROUP BY 1),
      h AS (SELECT c, COUNT(*)::BIGINT f FROM ty GROUP BY 1)
      SELECT SUM(c * f)::BIGINT AS n_tokens,
        SUM(f)::BIGINT AS n_types,
        COALESCE(SUM(CASE WHEN c = 1 THEN f END), 0)::BIGINT AS f1,
        COALESCE(SUM(CASE WHEN c = 2 THEN f END), 0)::BIGINT AS f2,
        (SUM(f) + CASE WHEN COALESCE(SUM(CASE WHEN c = 2 THEN f END), 0) > 0
          THEN (COALESCE(SUM(CASE WHEN c = 1 THEN f END), 0)::HUGEINT
            * COALESCE(SUM(CASE WHEN c = 1 THEN f END), 0))
            // (2 * COALESCE(SUM(CASE WHEN c = 2 THEN f END), 0))
          ELSE (COALESCE(SUM(CASE WHEN c = 1 THEN f END), 0)::HUGEINT
            * (COALESCE(SUM(CASE WHEN c = 1 THEN f END), 0) - 1)) // 2
          END)::BIGINT AS chao1_total,
        (1000000::HUGEINT * COALESCE(SUM(CASE WHEN c = 1 THEN f END), 0)
          // SUM(c * f))::BIGINT AS gt_unseen_micro
      FROM h"""))

  /** Cochran's Q over three purchase heuristics — the k-classifier
    * McNemar; exact integer Q vs the χ²(2) 5% critical value.
    */
  private val q263 = Q(
    "q263_cochran_q",
    (spark, dir) => Eval.cochransQ(
      pq(spark, dir, "events")
        .filter(col("value").isNotNull && col("event_type").isNotNull &&
          col("user_id").isNotNull &&
          get_json_object(col("props"), "$.k").isNotNull)
        .withColumn("pred_a", col("value") >= 50.0)
        .withColumn("pred_b",
          get_json_object(col("props"), "$.k").cast("long") >= 50L)
        .withColumn("pred_c", pmod(col("user_id"), lit(2)) === 0)
        .withColumn("truth", col("event_type") === "purchase"),
      "truth", Seq("pred_a", "pred_b", "pred_c")),
    Some("""WITH b AS (SELECT
          CASE WHEN (value >= 50.0) = (event_type = 'purchase')
            THEN 1 ELSE 0 END xa,
          CASE WHEN (json_extract(props, '$.k')::BIGINT >= 50)
              = (event_type = 'purchase') THEN 1 ELSE 0 END xb,
          CASE WHEN (user_id % 2 = 0) = (event_type = 'purchase')
            THEN 1 ELSE 0 END xc
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
          AND user_id IS NOT NULL
          AND json_extract(props, '$.k') IS NOT NULL),
      m AS (SELECT COUNT(*)::BIGINT n,
          SUM(xa + xb + xc)::HUGEINT t,
          SUM((xa + xb + xc) * (xa + xb + xc))::HUGEINT l2,
          SUM(xa)::HUGEINT ga, SUM(xb)::HUGEINT gb, SUM(xc)::HUGEINT gc
        FROM b)
      SELECT n, 3::BIGINT AS k, t::BIGINT AS t_total,
        (ga * ga + gb * gb + gc * gc)::BIGINT AS sum_g2,
        l2::BIGINT AS sum_l2,
        (CASE WHEN 3 * t - l2 > 0 THEN
          1000 * 2 * (3 * (ga * ga + gb * gb + gc * gc) - t * t)
            // (3 * t - l2) END)::BIGINT AS q_milli,
        (CASE WHEN 3 * t - l2 > 0 THEN
          (1000 * 2 * (3 * (ga * ga + gb * gb + gc * gc) - t * t)
            // (3 * t - l2)) >= 5991 END) AS significant
      FROM m"""))

  /** Jonckheere–Terpstra ordered trend of event value across prop-k
    * deciles — the monotone-dose alternative Kruskal–Wallis (q225
    * family) has no power for; exact doubled-U with the mirrored
    * z tree.
    */
  private val q264 = Q(
    "q264_jonckheere",
    (spark, dir) => Features.jonckheereTerpstra(
      pq(spark, dir, "events")
        .filter(col("value").isNotNull &&
          get_json_object(col("props"), "$.k").isNotNull)
        .withColumn("dec10",
          expr("CAST(get_json_object(props, '$.k') AS BIGINT) div 10"))
        // BIN the continuous value (unit steps): the cell join is the
        // op's pair stage, and near-unique values would push the cell
        // table to the maxCells boundary — the kendallTauBinned rule
        .withColumn("vbin", floor(col("value")).cast("long")),
      "dec10", "vbin"),
    Some("""WITH b AS (SELECT json_extract(props, '$.k')::BIGINT // 10 g,
          floor(floor(value) * 1e6)::BIGINT v
        FROM events WHERE value IS NOT NULL
          AND json_extract(props, '$.k') IS NOT NULL),
      cells AS (SELECT g, v, COUNT(*)::BIGINT c FROM b GROUP BY 1, 2),
      u AS (SELECT COALESCE(SUM(CASE WHEN bb.v > aa.v
            THEN 2::HUGEINT * aa.c * bb.c
          WHEN bb.v = aa.v THEN aa.c::HUGEINT * bb.c
          ELSE 0 END), 0) u2
        FROM cells aa JOIN cells bb ON bb.g > aa.g),
      gs AS (SELECT g, SUM(c)::BIGINT n FROM cells GROUP BY 1),
      m AS (SELECT COUNT(*)::BIGINT k_groups, SUM(n)::HUGEINT nn,
          SUM(n::HUGEINT * n) sn2,
          SUM(n::HUGEINT * n * (2 * n + 3)) sn23
        FROM gs),
      f AS (SELECT nn::BIGINT n, k_groups, u2::BIGINT u2,
          ((nn * nn - sn2) // 2)::BIGINT e2,
          (nn * nn * (2 * nn + 3) - sn23) vx18
        FROM u, m)
      SELECT n, k_groups, u2, e2,
        (CASE WHEN vx18 > 0 THEN
          floor(1000.0 * (u2 - e2)
            / sqrt(vx18::DOUBLE / 18.0))::BIGINT END) AS z_milli,
        (CASE WHEN vx18 > 0 THEN
          abs(CASE WHEN vx18 > 0 THEN
            floor(1000.0 * (u2 - e2)
              / sqrt(vx18::DOUBLE / 18.0))::BIGINT END) >= 1960
          END) AS trending
      FROM f"""))

  /** Two-sample Kolmogorov–Smirnov drift gate between click and purchase
    * value distributions — exact cross-multiplied CDF gap off one
    * prefix-sum range exchange; the 1.358·√((n_a+n_b)/(n_a·n_b)) 5%
    * critical value is one mirrored double tree.
    */
  private val q265 = Q(
    "q265_ks_test",
    (spark, dir) => Features.ksTestTwoSample(
      pq(spark, dir, "events")
        .filter(col("event_type").isin("click", "purchase")),
      "event_type", "value"),
    Some("""WITH b AS (SELECT event_type g, value::DOUBLE v FROM events
          WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
      n AS (SELECT SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END)::BIGINT na,
          SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END)::BIGINT nb FROM b),
      c AS (SELECT v,
          SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END)::BIGINT ca,
          SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END)::BIGINT cb
        FROM b GROUP BY 1),
      cum AS (SELECT v, SUM(ca) OVER (ORDER BY v)::BIGINT cca,
          SUM(cb) OVER (ORDER BY v)::BIGINT ccb FROM c),
      m AS (SELECT COALESCE(MAX(ABS(cca::HUGEINT * nb - ccb::HUGEINT * na)),
          0) mx FROM cum, n),
      r AS (SELECT na, nb,
          (mx * 1000000 // (na::HUGEINT * nb))::BIGINT d,
          floor(1e6 * 1.358 *
            sqrt((na + nb)::DOUBLE / (na::DOUBLE * nb::DOUBLE)))::BIGINT crit
        FROM n, m)
      SELECT 'click' AS grp_a, 'purchase' AS grp_b, na AS n_a, nb AS n_b,
        d AS d_micro, crit AS crit_micro, d > crit AS significant
      FROM r"""))

  /** Fleiss' κ over orders with exactly 4 line items — the 4 line
    * numbers as "raters" voting the line's returnflag; exact integer κ
    * with the structural r-votes precondition replayed as a HAVING.
    */
  private val q266 = Q(
    "q266_fleiss_kappa",
    (spark, dir) => Eval.fleissKappa(
      pq(spark, dir, "lineitem"),
      "l_orderkey", "l_linenumber", "l_returnflag", r = 4),
    Some("""WITH votes AS (SELECT l_orderkey::VARCHAR i,
          l_linenumber::VARCHAR r, MIN(l_returnflag) l
        FROM lineitem WHERE l_orderkey IS NOT NULL
          AND l_linenumber IS NOT NULL AND l_returnflag IS NOT NULL
        GROUP BY 1, 2),
      kept AS (SELECT i FROM votes GROUP BY i HAVING COUNT(*) = 4),
      cells AS (SELECT v.i, v.l, COUNT(*)::BIGINT c
        FROM votes v JOIN kept k ON v.i = k.i GROUP BY 1, 2),
      ia AS (SELECT COUNT(*)::BIGINT n_items, SUM(s2) s1 FROM
        (SELECT i, SUM(c::HUGEINT * c) s2 FROM cells GROUP BY 1) t),
      ca AS (SELECT COUNT(*)::BIGINT n_categories, SUM(cc::HUGEINT * cc) b
        FROM (SELECT l, SUM(c)::BIGINT cc FROM cells GROUP BY 1) t),
      f AS (SELECT n_items, 4::BIGINT n_raters, n_categories, s1, b,
          n_items::HUGEINT * 4 nn, n_items::HUGEINT * 4 * 3 d
        FROM ia, ca)
      SELECT n_items, n_raters, n_categories,
        (CASE WHEN n_items > 0 THEN (s1 - nn) * 1000000 // d
          END)::BIGINT AS p_bar_micro,
        (CASE WHEN n_items > 0 THEN b * 1000000 // (nn * nn)
          END)::BIGINT AS p_e_micro,
        (CASE WHEN nn * nn - b > 0 THEN
           CASE WHEN (s1 - nn) * (nn * nn) - b * d >= 0 THEN
             ((s1 - nn) * (nn * nn) - b * d) * 1000000
               // (d * (nn * nn - b))
           ELSE -((b * d - (s1 - nn) * (nn * nn)) * 1000000
               // (d * (nn * nn - b))) END
         END)::BIGINT AS kappa_micro
      FROM f"""))

  /** Chi-square + Cramér's V association between market segment and
    * nation over customers — observed-cells-only χ² with per-cell
    * mirrored truncation and the hard maxCells require.
    */
  private val q267 = Q(
    "q267_cramers_v",
    (spark, dir) => Eval.cramersV(
      pq(spark, dir, "customer"), "c_mktsegment", "c_nationkey"),
    Some("""WITH cells AS (SELECT c_mktsegment::VARCHAR a,
          c_nationkey::VARCHAR b, COUNT(*)::BIGINT o
        FROM customer WHERE c_mktsegment IS NOT NULL
          AND c_nationkey IS NOT NULL GROUP BY 1, 2),
      ra AS (SELECT a, SUM(o)::BIGINT ra FROM cells GROUP BY 1),
      cb AS (SELECT b, SUM(o)::BIGINT cb FROM cells GROUP BY 1),
      tot AS (SELECT SUM(o)::BIGINT n, COUNT(DISTINCT a)::BIGINT nr,
          COUNT(DISTINCT b)::BIGINT nc FROM cells),
      t AS (SELECT SUM(c.o::HUGEINT * c.o * 1000000 * tot.n
            // (ra.ra::HUGEINT * cb.cb)) tt,
          COUNT(*)::BIGINT n_cells
        FROM cells c JOIN ra ON c.a = ra.a JOIN cb ON c.b = cb.b, tot)
      SELECT tot.n, tot.nr AS n_rows_cat, tot.nc AS n_cols_cat, t.n_cells,
        (t.tt - tot.n::HUGEINT * 1000000)::BIGINT AS chi2_micro,
        (CASE WHEN least(tot.nr, tot.nc) >= 2 AND tot.n > 0 THEN
          floor(1000.0 * sqrt(
            ((t.tt - tot.n::HUGEINT * 1000000)::DOUBLE / 1e6)
            / (tot.n::DOUBLE * (least(tot.nr, tot.nc) - 1))))
          END)::BIGINT AS v_milli
      FROM tot, t"""))

  /** Friedman repeated-measures rank test: days as blocks, the 5 event
    * types as treatments, daily value sums as the measure — the blocked
    * design Kruskal–Wallis (q213) has no pairing for. Exact integer
    * Conover form with doubled within-block midranks.
    */
  private val q268 = Q(
    "q268_friedman",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val daily = raw
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(raw, "ts"))
        .withColumn("day", expr("__ms div 86400000"))
        .withColumn("__v", floor(col("value") * 1e6).cast("long"))
        .groupBy(col("day"), col("event_type"))
        .agg(sum("__v").as("sv"))
      Features.friedmanTest(daily, "day", "event_type", "sv")
    },
    Some("""WITH e AS (SELECT epoch_ms(ts) // 86400000 blk, event_type t,
          floor(value * 1e6)::BIGINT v
        FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      cellv AS (SELECT blk, t, SUM(v)::BIGINT sv FROM e GROUP BY 1, 2),
      obs AS (SELECT blk::VARCHAR blk, t, MIN(sv::DOUBLE) v
        FROM cellv GROUP BY 1, 2),
      kk AS (SELECT COUNT(DISTINCT t)::BIGINT k FROM obs),
      keptb AS (SELECT blk FROM obs GROUP BY blk
        HAVING COUNT(*) = (SELECT k FROM kk)),
      kept AS (SELECT o.blk, o.t, o.v FROM obs o JOIN keptb USING (blk)),
      cnt AS (SELECT blk, v, COUNT(*)::BIGINT c FROM kept GROUP BY 1, 2),
      rk AS (SELECT blk, v, (2 * SUM(c) OVER (PARTITION BY blk ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1)
          ::BIGINT r2 FROM cnt),
      rws AS (SELECT kept.blk, kept.t, rk.r2 FROM kept
        JOIN rk ON kept.blk = rk.blk AND kept.v = rk.v),
      rt AS (SELECT t, SUM(r2)::HUGEINT r2j FROM rws GROUP BY 1),
      g AS (SELECT COUNT(DISTINCT blk)::BIGINT n,
          SUM(r2::HUGEINT * r2) a2 FROM rws),
      nm AS (SELECT SUM((r2j - g.n::HUGEINT * ((SELECT k FROM kk) + 1)) *
          (r2j - g.n::HUGEINT * ((SELECT k FROM kk) + 1))) s FROM rt, g)
      SELECT g.n AS n_blocks, (SELECT k FROM kk) AS k_treatments,
        (CASE WHEN g.a2 - g.n::HUGEINT * (SELECT k FROM kk) *
            ((SELECT k FROM kk) + 1) * ((SELECT k FROM kk) + 1) > 0 THEN
          ((SELECT k FROM kk) - 1) * 1000 * nm.s
            // (g.a2 - g.n::HUGEINT * (SELECT k FROM kk) *
              ((SELECT k FROM kk) + 1) * ((SELECT k FROM kk) + 1))
          END)::BIGINT AS chi2_milli,
        ((CASE WHEN g.a2 - g.n::HUGEINT * (SELECT k FROM kk) *
            ((SELECT k FROM kk) + 1) * ((SELECT k FROM kk) + 1) > 0 THEN
          ((SELECT k FROM kk) - 1) * 1000 * nm.s
            // (g.a2 - g.n::HUGEINT * (SELECT k FROM kk) *
              ((SELECT k FROM kk) + 1) * ((SELECT k FROM kk) + 1))
          END) >= 9488) AS significant
      FROM g, nm"""))

  /** Kendall's W concordance: the 25 nations as raters ranking the 5
    * market segments by summed account balance — do the cohorts agree
    * on a segment ordering? Exact integer tie-corrected W.
    */
  private val q269 = Q(
    "q269_kendalls_w",
    (spark, dir) => Eval.kendallsW(
      pq(spark, dir, "customer")
        .withColumn("__vm", floor(col("c_acctbal") * 1e6).cast("long"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(sum("__vm").as("sv")),
      "c_nationkey", "c_mktsegment", "sv"),
    Some("""WITH b AS (SELECT c_nationkey r, c_mktsegment i,
          SUM(floor(c_acctbal * 1e6)::BIGINT)::BIGINT sv
        FROM customer GROUP BY 1, 2),
      obs AS (SELECT r::VARCHAR r, i, MIN(sv::DOUBLE) v FROM b
        GROUP BY 1, 2),
      mm AS (SELECT COUNT(DISTINCT r)::BIGINT m FROM obs),
      kepti AS (SELECT i FROM obs GROUP BY i
        HAVING COUNT(*) = (SELECT m FROM mm)),
      kept AS (SELECT o.r, o.i, o.v FROM obs o JOIN kepti USING (i)),
      cnt AS (SELECT r, v, COUNT(*)::BIGINT c FROM kept GROUP BY 1, 2),
      rk AS (SELECT r, v, (2 * SUM(c) OVER (PARTITION BY r ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1)
          ::BIGINT r2 FROM cnt),
      tt AS (SELECT COALESCE(SUM(c::HUGEINT * c * c - c), 0) t FROM cnt),
      ri AS (SELECT kept.i, SUM(rk.r2)::HUGEINT r2i FROM kept
        JOIN rk ON kept.r = rk.r AND kept.v = rk.v GROUP BY 1),
      g AS (SELECT COUNT(*)::BIGINT n, SUM(r2i * r2i) a FROM ri)
      SELECT g.n AS n_items, (SELECT m FROM mm) AS m_raters,
        tt.t::BIGINT AS tie_sum,
        (CASE WHEN (SELECT m FROM mm)::HUGEINT * (SELECT m FROM mm) * g.n *
            (g.n::HUGEINT * g.n - 1) - (SELECT m FROM mm) * tt.t > 0 THEN
          CASE WHEN g.a - (SELECT m FROM mm)::HUGEINT * (SELECT m FROM mm) *
              g.n * (g.n::HUGEINT + 1) * (g.n + 1) >= 0 THEN
            3000 * (g.a - (SELECT m FROM mm)::HUGEINT * (SELECT m FROM mm) *
                g.n * (g.n::HUGEINT + 1) * (g.n + 1))
              // ((SELECT m FROM mm)::HUGEINT * (SELECT m FROM mm) * g.n *
                (g.n::HUGEINT * g.n - 1) - (SELECT m FROM mm) * tt.t)
          ELSE -(3000 * ((SELECT m FROM mm)::HUGEINT * (SELECT m FROM mm) *
                g.n * (g.n::HUGEINT + 1) * (g.n + 1) - g.a)
              // ((SELECT m FROM mm)::HUGEINT * (SELECT m FROM mm) * g.n *
                (g.n::HUGEINT * g.n - 1) - (SELECT m FROM mm) * tt.t)) END
          END)::BIGINT AS w_milli
      FROM g, tt"""))

  /** Murphy decomposition of the q258 propensity score as a purchase
    * predictor — reliability (recalibratable miscalibration) vs
    * resolution (real discrimination) vs the ȳ(1−ȳ) floor; exact
    * per-bin cross-multiplied integers on calibration's bin table.
    */
  private val q270 = Q(
    "q270_brier_decomp",
    (spark, dir) => Eval.brierDecomposition(
      pq(spark, dir, "events")
        .filter(col("event_type").isNotNull &&
          get_json_object(col("props"), "$.k").isNotNull)
        .withColumn("y", col("event_type") === "purchase")
        // Column-API double literal: in expr() SQL, `102.0` would parse
        // as DECIMAL(4,1) and the division would round at scale 6 —
        // off-by-one vs the oracle's IEEE double at floor boundaries
        .withColumn("p",
          (get_json_object(col("props"), "$.k").cast("long") + 1) /
            lit(102.0)),
      "y", "p", bins = 10),
    Some("""WITH b0 AS (SELECT (event_type = 'purchase') y,
          (json_extract(props, '$.k')::BIGINT + 1) / 102.0 p
        FROM events WHERE event_type IS NOT NULL
          AND json_extract(props, '$.k') IS NOT NULL),
      b AS (SELECT least(greatest(floor(p * 10), 0), 9)::BIGINT bin,
          (CASE WHEN y THEN 1 ELSE 0 END)::BIGINT yy,
          floor(p * 1e6)::BIGINT sm,
          floor(1000000.0 * (p - (CASE WHEN y THEN 1.0 ELSE 0.0 END))
            * (p - (CASE WHEN y THEN 1.0 ELSE 0.0 END)))::BIGINT bm
        FROM b0),
      pb AS (SELECT bin, COUNT(*)::BIGINT nb, SUM(yy)::BIGINT pos,
          SUM(sm)::HUGEINT ssm, SUM(bm)::HUGEINT sbm FROM b GROUP BY 1),
      t AS (SELECT SUM(nb)::BIGINT n, SUM(pos)::BIGINT p,
          SUM(sbm)::HUGEINT sb FROM pb),
      agg AS (SELECT COUNT(*)::BIGINT n_bins_used,
          SUM((ssm - pos::HUGEINT * 1000000) *
            (ssm - pos::HUGEINT * 1000000) // nb) rel,
          SUM((pos::HUGEINT * t.n - nb::HUGEINT * t.p) *
            (pos::HUGEINT * t.n - nb::HUGEINT * t.p)
            // (nb::HUGEINT * t.n)) res
        FROM pb, t)
      SELECT t.n, agg.n_bins_used,
        (t.sb // t.n)::BIGINT AS brier_micro,
        (agg.rel // (t.n::HUGEINT * 1000000))::BIGINT AS reliability_micro,
        (1000000 * agg.res // (t.n::HUGEINT * t.n))::BIGINT
          AS resolution_micro,
        (1000000 * t.p::HUGEINT * (t.n - t.p) // (t.n::HUGEINT * t.n))
          ::BIGINT AS uncertainty_micro
      FROM t, agg"""))

  /** Neyman allocation of a 1000-row eval budget across order-status
    * strata by totalprice spread — weights N_h·S_h, largest-remainder
    * rounding sums to the budget exactly, remainder rank via the
    * range-exchange globalRank.
    */
  private val q271 = Q(
    "q271_neyman_alloc",
    (spark, dir) => Sampling.neymanAllocation(
      pq(spark, dir, "orders"), "o_orderstatus", "o_totalprice",
      budget = 1000L),
    Some("""WITH b AS (SELECT o_orderstatus::VARCHAR s,
          floor(o_totalprice * 1e6)::BIGINT vm
        FROM orders WHERE o_orderstatus IS NOT NULL
          AND o_totalprice IS NOT NULL),
      g AS (SELECT s, COUNT(*)::BIGINT nh, SUM(vm)::HUGEINT sv,
          SUM(vm::HUGEINT * vm) sv2 FROM b GROUP BY 1),
      sm AS (SELECT s, nh, (CASE WHEN nh >= 2 THEN
            floor(sqrt((nh * sv2 - sv * sv)::DOUBLE
              / (nh::HUGEINT * (nh - 1))::DOUBLE))::BIGINT
          ELSE 0 END) s_micro FROM g),
      w AS (SELECT s, nh, s_micro, nh::HUGEINT * s_micro wt FROM sm),
      tot AS (SELECT SUM(wt) tw FROM w),
      q AS (SELECT s, nh, s_micro, wt, (1000 * wt // tot.tw) qb,
          (1000 * wt - (1000 * wt // tot.tw) * tot.tw) rem FROM w, tot),
      sp AS (SELECT SUM(qb) spent FROM q),
      r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, s) rk FROM q)
      SELECT s AS stratum, nh AS n_rows, s_micro, wt::BIGINT AS weight,
        (qb + (CASE WHEN rk <= 1000 - sp.spent THEN 1 ELSE 0 END))::BIGINT
          AS quota
      FROM r, sp"""))

  /** Hellinger distance between the language distributions of two
    * sources — the categorical drift gate pairing with q265's numeric
    * KS; per-label mirrored sqrt trees, BC ≤ 10⁶ by Cauchy–Schwarz.
    */
  private val q272 = Q(
    "q272_hellinger",
    (spark, dir) => Eval.hellingerDistance(
      pq(spark, dir, "documents")
        .filter(col("source").isin("src0", "src1")),
      "source", "lang"),
    Some("""WITH b AS (SELECT source g, lang l FROM documents
          WHERE source IN ('src0', 'src1') AND lang IS NOT NULL),
      n AS (SELECT SUM(CASE WHEN g = 'src0' THEN 1 ELSE 0 END)::BIGINT na,
          SUM(CASE WHEN g = 'src1' THEN 1 ELSE 0 END)::BIGINT nb FROM b),
      c AS (SELECT l,
          SUM(CASE WHEN g = 'src0' THEN 1 ELSE 0 END)::BIGINT ca,
          SUM(CASE WHEN g = 'src1' THEN 1 ELSE 0 END)::BIGINT cb
        FROM b GROUP BY 1),
      agg AS (SELECT COUNT(*)::BIGINT n_labels,
          COALESCE(SUM(floor(1000000.0 * sqrt(
            ca::DOUBLE * cb / (na::DOUBLE * nb)))::BIGINT), 0) bc
        FROM c, n)
      SELECT 'src0' AS grp_a, 'src1' AS grp_b,
        n.na AS n_a, n.nb AS n_b, agg.n_labels,
        agg.bc::BIGINT AS bc_micro,
        (1000000 - agg.bc)::BIGINT AS h2_micro,
        floor(1000.0 * sqrt((1000000 - agg.bc)::DOUBLE / 1e6))::BIGINT
          AS hellinger_milli
      FROM n, agg"""))

  /** Page's L ordered trend across prop-k quintile "doses", blocked by
    * day — the blocked counterpart to q264's Jonckheere; exact integer
    * L2 and chi-square over doubled within-block midranks.
    */
  private val q273 = Q(
    "q273_pages_trend",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val daily = raw
        .filter(col("ts").isNotNull && col("value").isNotNull &&
          get_json_object(col("props"), "$.k").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(raw, "ts"))
        .withColumn("day", expr("__ms div 86400000"))
        .withColumn("dose", expr(
          "CAST(get_json_object(props, '$.k') AS BIGINT) div 20"))
        .withColumn("__v", floor(col("value") * 1e6).cast("long"))
        .groupBy(col("day"), col("dose"))
        .agg(sum("__v").as("sv"))
      Features.pagesTrendTest(daily, "day", "dose", "sv")
    },
    Some("""WITH e AS (SELECT epoch_ms(ts) // 86400000 blk,
          json_extract(props, '$.k')::BIGINT // 20 t,
          floor(value * 1e6)::BIGINT v
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
          AND json_extract(props, '$.k') IS NOT NULL),
      cellv AS (SELECT blk, t, SUM(v)::BIGINT sv FROM e GROUP BY 1, 2),
      obs AS (SELECT blk::VARCHAR blk, t, MIN(sv::DOUBLE) v
        FROM cellv GROUP BY 1, 2),
      ks AS (SELECT COUNT(DISTINCT t)::BIGINT k FROM obs),
      pos AS (SELECT t, ROW_NUMBER() OVER (ORDER BY t)::BIGINT j
        FROM (SELECT DISTINCT t FROM obs) d),
      keptb AS (SELECT blk FROM obs GROUP BY 1
        HAVING COUNT(*) = (SELECT k FROM ks)),
      kept AS (SELECT o.blk, o.t, o.v FROM obs o JOIN keptb USING (blk)),
      cnt AS (SELECT blk, v, COUNT(*)::BIGINT c FROM kept GROUP BY 1, 2),
      rk AS (SELECT blk, v, (2 * SUM(c) OVER (PARTITION BY blk ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c + 1)
          ::BIGINT r2 FROM cnt),
      l AS (SELECT COUNT(DISTINCT kept.blk)::BIGINT n,
          SUM(pos.j::HUGEINT * rk.r2) l2
        FROM kept JOIN rk ON kept.blk = rk.blk AND kept.v = rk.v
          JOIN pos ON kept.t = pos.t)
      SELECT n AS n_blocks, (SELECT k FROM ks) AS k_treatments,
        l2::BIGINT AS l2,
        (CASE WHEN n > 0 THEN (6 * l2 - n::HUGEINT * 540) *
            (6 * l2 - n::HUGEINT * 540) * 1000 // (n::HUGEINT * 3600)
          END)::BIGINT AS chi2_milli,
        (CASE WHEN n > 0 THEN
            CASE WHEN 6 * l2 - n::HUGEINT * 540 > 0 THEN 1
              WHEN 6 * l2 - n::HUGEINT * 540 < 0 THEN -1 ELSE 0 END
          END)::BIGINT AS direction,
        ((CASE WHEN n > 0 THEN (6 * l2 - n::HUGEINT * 540) *
            (6 * l2 - n::HUGEINT * 540) * 1000 // (n::HUGEINT * 3600)
          END) >= 3841) AS significant
      FROM l"""))

  /** Cochran–Armitage trend of purchase rate across prop-k deciles —
    * the 1-df ordered-dose test for a binary outcome; exact decimal
    * moments, one mirrored z tree.
    */
  private val q274 = Q(
    "q274_cochran_armitage",
    (spark, dir) => Causal.cochranArmitage(
      pq(spark, dir, "events")
        .filter(col("event_type").isNotNull &&
          get_json_object(col("props"), "$.k").isNotNull)
        .withColumn("decile", expr(
          "CAST(get_json_object(props, '$.k') AS BIGINT) div 10"))
        .withColumn("purchased", col("event_type") === "purchase"),
      "decile", "purchased"),
    Some("""WITH b AS (SELECT json_extract(props, '$.k')::BIGINT // 10 w,
          (CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT y
        FROM events WHERE event_type IS NOT NULL
          AND json_extract(props, '$.k') IS NOT NULL),
      g AS (SELECT w, COUNT(*)::BIGINT n, SUM(y)::BIGINT x
        FROM b GROUP BY 1),
      m AS (SELECT SUM(n)::BIGINT n, SUM(x)::BIGINT p,
          COUNT(*)::BIGINT k, SUM(w::HUGEINT * x) swx,
          SUM(w::HUGEINT * n) swn, SUM(w::HUGEINT * w * n) sw2n FROM g)
      SELECT n, p AS n_pos, k AS k_groups,
        (CASE WHEN p > 0 AND p < n
            AND n::HUGEINT * sw2n - swn * swn > 0 THEN
          floor(1000.0 *
            (n::HUGEINT * swx - p::HUGEINT * swn)::DOUBLE
            / sqrt((p::HUGEINT * (n - p))::DOUBLE
              * (n::HUGEINT * sw2n - swn * swn)::DOUBLE / n::DOUBLE))
          END)::BIGINT AS z_milli,
        (abs(CASE WHEN p > 0 AND p < n
            AND n::HUGEINT * sw2n - swn * swn > 0 THEN
          floor(1000.0 *
            (n::HUGEINT * swx - p::HUGEINT * swn)::DOUBLE
            / sqrt((p::HUGEINT * (n - p))::DOUBLE
              * (n::HUGEINT * sw2n - swn * swn)::DOUBLE / n::DOUBLE))
          END) >= 1960) AS significant
      FROM m"""))

  /** CMH pooled odds ratio + 1-df chi-square of (even-user cohort) ×
    * (value ≥ 50) stratified by event type — the confounder-adjusted
    * 2×2; exact per-stratum micro floors, pure-integer chi-square.
    */
  private val q275 = Q(
    "q275_mantel_haenszel",
    (spark, dir) => Causal.mantelHaenszel(
      pq(spark, dir, "events")
        .filter(col("event_type").isNotNull && col("user_id").isNotNull &&
          col("value").isNotNull)
        .withColumn("treat", pmod(col("user_id"), lit(2)) === 0)
        .withColumn("hit", col("value") >= 50.0),
      "event_type", "treat", "hit"),
    Some("""WITH b AS (SELECT event_type s, (user_id % 2 = 0) t,
          (value >= 50.0) y FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          AND value IS NOT NULL),
      c AS (SELECT s,
          SUM(CASE WHEN t AND y THEN 1 ELSE 0 END)::BIGINT a,
          SUM(CASE WHEN t AND NOT y THEN 1 ELSE 0 END)::BIGINT b2,
          SUM(CASE WHEN NOT t AND y THEN 1 ELSE 0 END)::BIGINT c2,
          SUM(CASE WHEN NOT t AND NOT y THEN 1 ELSE 0 END)::BIGINT d
        FROM b GROUP BY 1),
      e AS (SELECT a, b2, c2, d, (a + b2 + c2 + d)::BIGINT nn,
          (a + b2 + c2 + d >= 2 AND a + b2 > 0 AND c2 + d > 0
            AND a + c2 > 0 AND b2 + d > 0) ok FROM c),
      m AS (SELECT SUM(nn)::BIGINT n, COUNT(*)::BIGINT n_strata,
          SUM(CASE WHEN ok THEN 1 ELSE 0 END)::BIGINT n_strata_used,
          SUM(a::HUGEINT * d * 1000000 // nn) r,
          SUM(b2::HUGEINT * c2 * 1000000 // nn) sden,
          SUM(CASE WHEN ok THEN a::HUGEINT * 1000000
            - (a + b2)::HUGEINT * (a + c2) * 1000000 // nn
            ELSE 0::HUGEINT END) dev,
          SUM(CASE WHEN ok THEN (a + b2)::HUGEINT * (c2 + d) * (a + c2)
              * (b2 + d) * 1000000 // (nn::HUGEINT * nn * (nn - 1))
            ELSE 0::HUGEINT END) vr FROM e)
      SELECT n, n_strata, n_strata_used,
        (CASE WHEN sden > 0 THEN r * 1000000 // sden END)::BIGINT
          AS or_mh_micro,
        (CASE WHEN vr > 0 THEN (dev * dev) // (vr * 1000) END)::BIGINT
          AS chi2_milli,
        (CASE WHEN vr > 0 THEN (dev * dev) // (vr * 1000) >= 3841 END)
          AS significant
      FROM m"""))

  /** Brown–Forsythe spread-homogeneity F across event types — exact
    * integer median deviations, anovaEta's decimal rollup.
    */
  private val q276 = Q(
    "q276_brown_forsythe",
    (spark, dir) => Features.brownForsythe(
      pq(spark, dir, "events"), "event_type", "value"),
    Some("""WITH b AS (SELECT event_type g, floor(value * 1e6)::BIGINT v
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      c AS (SELECT g, v, COUNT(*)::BIGINT c FROM b GROUP BY 1, 2),
      w AS (SELECT g, v, c,
          SUM(c) OVER (PARTITION BY g ORDER BY v) cum,
          SUM(c) OVER (PARTITION BY g) n FROM c),
      m AS (SELECT g,
          MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END)
          + MIN(CASE WHEN cum >= n // 2 + 1 THEN v END) m2
        FROM w GROUP BY 1),
      z AS (SELECT b.g, abs(2 * b.v - m.m2)::HUGEINT z
        FROM b JOIN m ON b.g = m.g),
      cells AS (SELECT g, COUNT(*)::HUGEINT ng, SUM(z) sg, SUM(z * z) qg
        FROM z GROUP BY 1),
      r AS (SELECT SUM(ng) n, COUNT(*)::HUGEINT k, SUM(sg) s, SUM(qg) q,
          SUM((sg * sg - (sg * sg) % ng) // ng) sb FROM cells)
      SELECT n::BIGINT AS n, k::BIGINT AS n_groups,
        (CASE WHEN k >= 2 AND n > k THEN floor(1000.0 *
            ((sb::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE)
              / (k - 1)::DOUBLE)
            / nullif((q::DOUBLE - sb::DOUBLE) / (n - k)::DOUBLE, 0.0))
          END)::BIGINT AS f_milli
      FROM r"""))

  /** Cronbach's alpha of the 5-event-type "instrument" per user —
    * complete-case units, min-dedup votes, exact n²-scaled variances.
    */
  private val q277 = Q(
    "q277_cronbach_alpha",
    (spark, dir) => Eval.cronbachAlpha(
      pq(spark, dir, "events"), "user_id", "event_type", "value", k = 5),
    Some("""WITH v AS (SELECT user_id u, event_type i,
          MIN(floor(value * 1e6)::BIGINT) v FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          AND value IS NOT NULL GROUP BY 1, 2),
      units AS (SELECT u, COUNT(*)::BIGINT ni FROM v GROUP BY 1),
      c AS (SELECT v.* FROM v JOIN units USING (u) WHERE ni = 5),
      item AS (SELECT SUM(nj * qj - sj * sj) dsum FROM (
        SELECT i, COUNT(*)::HUGEINT nj, SUM(v::HUGEINT) sj,
          SUM(v::HUGEINT * v) qj FROM c GROUP BY 1)),
      tot AS (SELECT COUNT(*)::HUGEINT n_units, SUM(tu) st,
          SUM(tu * tu) qt FROM (
        SELECT u, SUM(v::HUGEINT) tu FROM c GROUP BY 1)),
      d AS (SELECT n_units,
          (SELECT COUNT(*)::BIGINT FROM units WHERE ni != 5) n_dropped,
          dsum, n_units * qt - st * st dtot FROM tot, item)
      SELECT n_units::BIGINT AS n_units, n_dropped,
        5::BIGINT AS n_items,
        (CASE WHEN n_units >= 2 AND dtot > 0 THEN
          CASE WHEN dtot - dsum >= 0 THEN
            5 * (dtot - dsum) * 1000000 // (4 * dtot)
          ELSE -(5 * (dsum - dtot) * 1000000 // (4 * dtot)) END
        END)::BIGINT AS alpha_micro
      FROM d"""))

  /** Lin's CCC between each user's even-event and odd-event mean score
    * (two "scorers" of the same unit) — micro means via exact floor
    * divisions feed the micro entry point; nonneg-value filter keeps
    * the per-user division sign-free on both engines.
    */
  private val q278 = Q(
    "q278_lin_ccc",
    (spark, dir) => Features.linCccMicro(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("event_id").isNotNull &&
          col("value").isNotNull && col("value") >= 0.0)
        .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id")
        .agg(
          sum(when(pmod(col("event_id"), lit(2)) === 0, col("__vm")))
            .as("se"),
          count(when(pmod(col("event_id"), lit(2)) === 0, 1)).as("ne"),
          sum(when(pmod(col("event_id"), lit(2)) === 1, col("__vm")))
            .as("so"),
          count(when(pmod(col("event_id"), lit(2)) === 1, 1)).as("no"))
        .filter(col("ne") > 0 && col("no") > 0)
        .select(expr("se div ne").as("x_micro"),
          expr("so div no").as("y_micro")),
      "x_micro", "y_micro"),
    Some("""WITH b AS (SELECT user_id u, event_id,
          floor(value * 1e6)::BIGINT vm FROM events
        WHERE user_id IS NOT NULL AND event_id IS NOT NULL
          AND value IS NOT NULL AND value >= 0.0),
      p AS (SELECT u,
          SUM(CASE WHEN event_id % 2 = 0 THEN vm END) se,
          COUNT(CASE WHEN event_id % 2 = 0 THEN 1 END)::BIGINT ne,
          SUM(CASE WHEN event_id % 2 = 1 THEN vm END) so,
          COUNT(CASE WHEN event_id % 2 = 1 THEN 1 END)::BIGINT nodd
        FROM b GROUP BY 1),
      xy AS (SELECT se // ne x, so // nodd y FROM p
        WHERE ne > 0 AND nodd > 0),
      m AS (SELECT COUNT(*)::HUGEINT n, SUM(x::HUGEINT) sx,
          SUM(y::HUGEINT) sy, SUM(x::HUGEINT * x) sxx,
          SUM(y::HUGEINT * y) syy, SUM(x::HUGEINT * y) sxy FROM xy),
      d AS (SELECT n, sx, sy, sxx, syy, sxy,
          2 * (n * sxy - sx * sy) num,
          (n * sxx - sx * sx) + (n * syy - sy * sy)
            + (sx - sy) * (sx - sy) den FROM m)
      SELECT n::BIGINT AS n,
        (CASE WHEN den > 0 THEN
          CASE WHEN num >= 0 THEN (num * 1000000) // den
            ELSE -(((-num) * 1000000) // den) END END)::BIGINT
          AS ccc_micro,
        (CASE WHEN n > 1 AND n * sxx - sx * sx > 0
            AND n * syy - sy * sy > 0 THEN
          floor(1000.0 * (n * sxy - sx * sy)::DOUBLE
            / sqrt((n * sxx - sx * sx)::DOUBLE
              * (n * syy - sy * sy)::DOUBLE)) END)::BIGINT AS r_milli
      FROM d"""))

  /** Ljung–Box whiteness Q over each user's hourly activity series
    * (lags 1..6) — per-key pairwise-complete autocorrelations, pure
    * integer pooling.
    */
  private val q279 = Q(
    "q279_ljung_box",
    (spark, dir) => TimeSeries.ljungBox(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(
          pq(spark, dir, "events"), "ts"))
        .withColumn("bucket", expr("__ms div 3600000"))
        .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id", "bucket").agg(sum("__vm").as("sv")),
      "user_id", "bucket", "sv", maxLag = 6),
    Some("""WITH h AS (SELECT user_id::VARCHAR k,
          epoch_ms(ts) // 3600000 t,
          SUM(floor(value * 1e6)::BIGINT)::BIGINT sv FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL GROUP BY 1, 2),
      base AS (SELECT k, t, floor(sv::DOUBLE * 1e6)::BIGINT vm FROM h),
      np AS (SELECT k, COUNT(*)::BIGINT n_buckets FROM base GROUP BY 1),
      a AS (SELECT k, t + lg t2, vm xm, lg FROM base,
        (SELECT unnest(generate_series(1, 6)) lg)),
      j AS (SELECT a.k, a.lg, a.xm, b.vm ym FROM a
        JOIN base b ON a.k = b.k AND a.t2 = b.t),
      r AS (SELECT k, lg, COUNT(*)::HUGEINT np,
          SUM(xm::HUGEINT) sx, SUM(ym::HUGEINT) sy,
          SUM(xm::HUGEINT * ym) sxy, SUM(xm::HUGEINT * xm) sxx,
          SUM(ym::HUGEINT * ym) syy FROM j GROUP BY 1, 2),
      rr AS (SELECT k, lg,
          (CASE WHEN np > 1 AND np * sxx > sx * sx
              AND np * syy > sy * sy THEN
            floor(1000000.0 * (np * sxy - sx * sy)::DOUBLE
              / sqrt((np * sxx - sx * sx)::DOUBLE
                * (np * syy - sy * sy)::DOUBLE)) END)::BIGINT r_micro
        FROM r),
      q AS (SELECT rr.k, COUNT(*)::BIGINT n_lags_used,
          SUM(rr.r_micro::HUGEINT * rr.r_micro
            // (np.n_buckets - rr.lg)) tsum
        FROM rr JOIN np ON rr.k = np.k
        WHERE rr.r_micro IS NOT NULL AND np.n_buckets > rr.lg
        GROUP BY 1)
      SELECT np.k AS key, np.n_buckets,
        COALESCE(q.n_lags_used, 0)::BIGINT AS n_lags_used,
        (np.n_buckets::HUGEINT * (np.n_buckets + 2) * q.tsum
          // 1000000000)::BIGINT AS q_milli
      FROM np LEFT JOIN q ON np.k = q.k"""))

  /** Wald–Wolfowitz runs test of each user's hourly high/low activity
    * sequence — clumping vs oscillation, exact integer numerator.
    */
  private val q280 = Q(
    "q280_runs_test",
    (spark, dir) => TimeSeries.runsTest(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(
          pq(spark, dir, "events"), "ts"))
        .withColumn("bucket", expr("__ms div 3600000"))
        .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id", "bucket").agg(sum("__vm").as("sv"))
        .withColumn("hot", col("sv") >= 50000000L),
      "user_id", "bucket", "hot"),
    Some("""WITH h AS (SELECT user_id::VARCHAR k,
          epoch_ms(ts) // 3600000 t,
          SUM(floor(value * 1e6)::BIGINT)::BIGINT sv FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL GROUP BY 1, 2),
      b AS (SELECT k, t, (sv >= 50000000) x FROM h),
      c AS (SELECT k, x, CASE WHEN lag(x) OVER
            (PARTITION BY k ORDER BY t) IS DISTINCT FROM x
          THEN 1 ELSE 0 END chg FROM b),
      g AS (SELECT k, COUNT(*)::BIGINT n,
          SUM(CASE WHEN x THEN 1 ELSE 0 END)::BIGINT n_true,
          SUM(CASE WHEN NOT x THEN 1 ELSE 0 END)::BIGINT n_false,
          SUM(chg)::BIGINT runs FROM c GROUP BY 1)
      SELECT k AS key, n, n_true, n_false, runs,
        (CASE WHEN n_true > 0 AND n_false > 0 AND n >= 2
            AND 2 * n_true::HUGEINT * n_false
              * (2 * n_true::HUGEINT * n_false - n) > 0 THEN
          floor(1000.0 * (runs::HUGEINT * n
              - 2 * n_true::HUGEINT * n_false - n)::DOUBLE
            / sqrt((2 * n_true::HUGEINT * n_false
                * (2 * n_true::HUGEINT * n_false - n))::DOUBLE
              / (n::DOUBLE - 1.0))) END)::BIGINT AS z_milli,
        (CASE WHEN n_true > 0 AND n_false > 0 AND n >= 2
            AND 2 * n_true::HUGEINT * n_false
              * (2 * n_true::HUGEINT * n_false - n) > 0 THEN
          floor(1000.0 * (runs::HUGEINT * n
              - 2 * n_true::HUGEINT * n_false - n)::DOUBLE
            / sqrt((2 * n_true::HUGEINT * n_false
                * (2 * n_true::HUGEINT * n_false - n))::DOUBLE
              / (n::DOUBLE - 1.0))) <= -1960 END) AS clumped
      FROM g"""))

  /** Bowker symmetry of the user-journey transition matrix (event type →
    * next event type): is drift between states directional? Capped cell
    * table, exact per-pair floors.
    */
  private val q281 = Q(
    "q281_bowker",
    (spark, dir) => {
      val ev = pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull && col("event_id").isNotNull)
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      Eval.bowkerSymmetry(
        ev.withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull),
        "event_type", "next_type")
    },
    Some("""WITH s AS (SELECT event_type a, lead(event_type) OVER
          (PARTITION BY user_id ORDER BY ts, event_id) b FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL AND event_id IS NOT NULL),
      cells AS (SELECT a, b, COUNT(*)::BIGINT c FROM s
        WHERE b IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT SUM(c)::BIGINT n,
          SUM(CASE WHEN a != b THEN c ELSE 0 END)::BIGINT n_offdiag
        FROM cells),
      cats AS (SELECT COUNT(DISTINCT l)::BIGINT n_categories FROM (
        SELECT a l FROM cells UNION SELECT b FROM cells)),
      pr AS (SELECT coalesce(c1.c, 0)::BIGINT nij,
          coalesce(c2.c, 0)::BIGINT nji
        FROM cells c1 FULL OUTER JOIN cells c2
          ON c1.a = c2.b AND c1.b = c2.a
        WHERE coalesce(c1.a, c2.b) < coalesce(c1.b, c2.a)),
      st AS (SELECT COUNT(*)::BIGINT df_pairs,
          SUM((nij - nji)::HUGEINT * (nij - nji) * 1000000
            // (nij + nji)) chi2 FROM pr WHERE nij + nji > 0)
      SELECT n, n_categories, coalesce(df_pairs, 0) AS df_pairs,
        n_offdiag, coalesce(chi2, 0)::BIGINT AS chi2_micro
      FROM tot, cats, st"""))

  /** Church–Gale term burstiness: top-50 most over-dispersed terms
    * (Fano VMR of per-doc counts, zeros included) with df ≥ 5.
    */
  private val q282 = Q(
    "q282_burstiness",
    (spark, dir) => Corpus.termBurstiness(
      pq(spark, dir, "documents"), "doc_id", "text", minDf = 5L, k = 50),
    Some("""WITH d AS (SELECT doc_id, text FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL),
      nd AS (SELECT COUNT(*)::BIGINT n_docs FROM d),
      cells AS (SELECT doc_id,
          unnest(string_split(trim(text), ' ')) term FROM d),
      pc AS (SELECT doc_id, term, COUNT(*)::BIGINT c FROM cells
        GROUP BY 1, 2),
      v AS (SELECT term, COUNT(*)::BIGINT df, SUM(c)::BIGINT cf,
          SUM(c::HUGEINT * c) sq FROM pc GROUP BY 1),
      f AS (SELECT term, cf, df, nd.n_docs,
          ((nd.n_docs::HUGEINT * sq - cf::HUGEINT * cf) * 1000000
            // (nd.n_docs::HUGEINT * cf))::BIGINT vmr_micro,
          (cf::HUGEINT * 1000000 // df)::BIGINT repeat_micro
        FROM v, nd WHERE df >= 5),
      r AS (SELECT *, ROW_NUMBER() OVER
          (ORDER BY vmr_micro DESC, term) rnk FROM f)
      SELECT rnk::BIGINT AS rank, term, cf, df, n_docs, vmr_micro,
        repeat_micro FROM r WHERE rnk <= 50"""))

  /** Cohen's d / Hedges' g standardized effect between the user-parity
    * arms — the magnitude readout next to q240's significance.
    */
  private val q283 = Q(
    "q283_cohens_d",
    (spark, dir) => Causal.cohensD(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b")),
      "arm", "value"),
    Some("""WITH b AS (SELECT
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          floor(value * 1e6)::BIGINT v
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      g AS (SELECT g, COUNT(*)::BIGINT n, SUM(v)::HUGEINT s,
          SUM(v::HUGEINT * v)::HUGEINT q FROM b GROUP BY 1),
      w AS (SELECT a.n na, a.s sa, a.q qa, c.n nb, c.s sb, c.q qb
        FROM (SELECT * FROM g WHERE g = 'arm_a') a,
          (SELECT * FROM g WHERE g = 'arm_b') c),
      v AS (SELECT *,
          (qa::DOUBLE - sa::DOUBLE * sa::DOUBLE / na) ssa,
          (qb::DOUBLE - sb::DOUBLE * sb::DOUBLE / nb) ssb FROM w),
      v2 AS (SELECT *, (ssa + ssb) / (na + nb - 2) sp2 FROM v),
      v3 AS (SELECT *,
          (CASE WHEN na >= 2 AND nb >= 2 AND sp2 > 0 THEN
            floor(1000.0 * (sa::DOUBLE / na - sb::DOUBLE / nb)
              / sqrt(sp2)) END)::BIGINT dm,
          (CASE WHEN na >= 2 AND nb >= 2 AND sp2 > 0 THEN
            floor(1000.0 * ((sa::DOUBLE / na - sb::DOUBLE / nb)
              / sqrt(sp2)) * (4.0 * (na + nb - 2) - 4.0)
              / (4.0 * (na + nb - 2) - 1.0)) END)::BIGINT gm
        FROM v2)
      SELECT 'arm_a' AS grp_a, 'arm_b' AS grp_b, na AS n_a, nb AS n_b,
        (CASE WHEN sa >= 0 THEN sa // na
          ELSE -((-sa) // na) END)::BIGINT AS mean_a_micro,
        (CASE WHEN sb >= 0 THEN sb // nb
          ELSE -((-sb) // nb) END)::BIGINT AS mean_b_micro,
        ((CASE WHEN sa >= 0 THEN sa // na ELSE -((-sa) // na) END)
         - (CASE WHEN sb >= 0 THEN sb // nb
             ELSE -((-sb) // nb) END))::BIGINT AS diff_micro,
        dm AS d_milli, gm AS g_milli,
        (CASE WHEN dm IS NULL THEN NULL
          WHEN abs(dm) < 200 THEN 'negligible'
          WHEN abs(dm) < 500 THEN 'small'
          WHEN abs(dm) < 800 THEN 'medium'
          ELSE 'large' END) AS magnitude
      FROM v3"""))

  /** Krippendorff's alpha over the naturally-incomplete (user ×
    * event-type) rating matrix — variable raters per unit, the case
    * Fleiss (q266) drops.
    */
  private val q284 = Q(
    "q284_krippendorff",
    (spark, dir) => Eval.krippendorffAlpha(
      pq(spark, dir, "events")
        .filter(col("value").isNotNull && col("value") >= 0.0)
        .withColumn("label", floor(col("value") / 25.0).cast("long")),
      "user_id", "event_type", "label"),
    Some("""WITH votes AS (SELECT user_id::VARCHAR u, event_type r,
          MIN((floor(value / 25.0)::BIGINT)::VARCHAR) l FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          AND value IS NOT NULL AND value >= 0.0 GROUP BY 1, 2),
      cells AS (SELECT u, l, COUNT(*)::BIGINT c FROM votes GROUP BY 1, 2),
      units AS (SELECT u, SUM(c)::BIGINT m,
          SUM(c::HUGEINT * (c - 1)) agree FROM cells GROUP BY 1),
      drp AS (SELECT COUNT(*)::BIGINT n_dropped FROM units WHERE m < 2),
      ua AS (SELECT COUNT(*)::BIGINT n_units,
          SUM((m::HUGEINT * (m - 1) - agree) * 1000000 // (m - 1)) s
        FROM units WHERE m >= 2),
      la AS (SELECT COUNT(*)::BIGINT n_labels, SUM(nc)::HUGEINT n,
          SUM(nc::HUGEINT * nc) nc2 FROM (
        SELECT l, SUM(c)::BIGINT nc FROM cells
        JOIN (SELECT u FROM units WHERE m >= 2) k USING (u) GROUP BY 1))
      SELECT n_units, n_dropped, n::BIGINT AS n_values, n_labels,
        (CASE WHEN n_units > 0 AND n * n - nc2 > 0 THEN
          1000000 - (n - 1) * s // (n * n - nc2) END)::BIGINT
          AS alpha_micro
      FROM ua, la, drp"""))

  /** Cox–Stuart sign trend over each user's hourly activity series —
    * the n/2-pair monotone-drift alarm next to q260's full Mann–Kendall.
    */
  private val q285 = Q(
    "q285_cox_stuart",
    (spark, dir) => TimeSeries.coxStuart(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(
          pq(spark, dir, "events"), "ts"))
        .withColumn("bucket", expr("__ms div 3600000"))
        .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id", "bucket").agg(sum("__vm").as("sv")),
      "user_id", "bucket", "sv"),
    Some("""WITH h AS (SELECT user_id::VARCHAR k,
          epoch_ms(ts) // 3600000 t,
          SUM(floor(value * 1e6)::BIGINT)::BIGINT sv FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL GROUP BY 1, 2),
      r AS (SELECT k, sv, ROW_NUMBER() OVER
            (PARTITION BY k ORDER BY t) rn,
          COUNT(*) OVER (PARTITION BY k) n FROM h),
      a AS (SELECT k, n, rn, sv va FROM r WHERE rn <= n // 2),
      b AS (SELECT k, rn - (n - n // 2) rn2, sv vb FROM r),
      j AS (SELECT a.k, a.n, a.va, b.vb FROM a
        JOIN b ON a.k = b.k AND a.rn = b.rn2),
      g AS (SELECT k, n, COUNT(*)::BIGINT n_pairs,
          SUM(CASE WHEN vb > va THEN 1 ELSE 0 END)::BIGINT n_rise,
          SUM(CASE WHEN vb < va THEN 1 ELSE 0 END)::BIGINT n_fall
        FROM j GROUP BY 1, 2)
      SELECT k AS key, n, n_pairs, n_rise, n_fall,
        (CASE WHEN n_rise + n_fall > 0 THEN
          floor(1000.0 * (n_rise::DOUBLE - n_fall)
            / sqrt((n_rise + n_fall)::DOUBLE)) END)::BIGINT AS z_milli,
        (CASE WHEN n_rise + n_fall > 0 THEN
          abs(floor(1000.0 * (n_rise::DOUBLE - n_fall)
            / sqrt((n_rise + n_fall)::DOUBLE))) >= 1960 END)
          AS trending
      FROM g"""))

  /** Kish design effect / effective sample size of the per-type value
    * weights — the weighted-sampling health audit.
    */
  private val q286 = Q(
    "q286_design_effect",
    (spark, dir) => Sampling.designEffect(
      pq(spark, dir, "events"), "event_type", "value"),
    Some("""WITH b AS (SELECT event_type stratum,
          floor(value * 1e6)::BIGINT w FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL),
      g AS (SELECT stratum,
          COUNT(CASE WHEN w > 0 THEN 1 END)::BIGINT n,
          COUNT(CASE WHEN w <= 0 THEN 1 END)::BIGINT n_nonpos,
          SUM(CASE WHEN w > 0 THEN w::HUGEINT ELSE 0::HUGEINT END) sw,
          SUM(CASE WHEN w > 0 THEN w::HUGEINT * w
            ELSE 0::HUGEINT END) sw2,
          MAX(CASE WHEN w > 0 THEN w END)::BIGINT wmax
        FROM b GROUP BY 1)
      SELECT stratum, n, n_nonpos, sw::BIGINT AS sum_w_micro,
        (CASE WHEN sw > 0 THEN n::HUGEINT * sw2 * 1000000 // (sw * sw)
          END)::BIGINT AS deff_micro,
        (CASE WHEN sw2 > 0 THEN sw * sw * 1000 // sw2 END)::BIGINT
          AS ess_milli,
        (CASE WHEN sw > 0 THEN wmax::HUGEINT * 1000000 // sw
          END)::BIGINT AS max_w_share_micro
      FROM g"""))

  /** Grubbs extreme-deviation audit: top-20 event values by exact
    * integer deviation, z against the fitted normal.
    */
  private val q287 = Q(
    "q287_grubbs",
    (spark, dir) => Features.grubbsOutliers(
      pq(spark, dir, "events")
        .filter(col("event_id").isNotNull),
      "event_id", "value", k = 20),
    Some("""WITH b AS (SELECT event_id id, floor(value * 1e6)::BIGINT v
        FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
      s AS (SELECT COUNT(*)::BIGINT n, SUM(v)::HUGEINT s,
          SUM(v::HUGEINT * v)::HUGEINT q FROM b),
      d AS (SELECT id, v value_micro, abs(v::HUGEINT * n - s) dev,
          n, s, q FROM b, s),
      r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY dev DESC, id) rnk
        FROM d)
      SELECT rnk::BIGINT AS rank, id, value_micro,
        (CASE WHEN n >= 3 AND q::DOUBLE - s::DOUBLE * s::DOUBLE / n > 0
          THEN floor(1000.0 * dev::DOUBLE / (n::DOUBLE
            * sqrt((q::DOUBLE - s::DOUBLE * s::DOUBLE / n) / (n - 1))))
          END)::BIGINT AS z_milli, n
      FROM r WHERE rnk <= 20"""))

  /** Mood's median test of the per-type value locations — the
    * one-bit-rank k-group location check beside q213's Kruskal–Wallis.
    */
  private val q288 = Q(
    "q288_moods_median",
    (spark, dir) => Features.moodsMedian(
      pq(spark, dir, "events"), "event_type", "value"),
    Some("""WITH b AS (SELECT event_type g, floor(value * 1e6)::BIGINT v
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      c AS (SELECT v, COUNT(*)::BIGINT c FROM b GROUP BY 1),
      w AS (SELECT v, SUM(c) OVER (ORDER BY v) cum,
          (SELECT SUM(c) FROM c) n FROM c),
      m AS (SELECT MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END)
          + MIN(CASE WHEN cum >= n // 2 + 1 THEN v END) m2 FROM w),
      cells AS (SELECT g, COUNT(*)::BIGINT ng,
          COUNT(CASE WHEN 2 * b.v > m.m2 THEN 1 END)::BIGINT oa
        FROM b, m GROUP BY 1),
      c2 AS (SELECT g, ng, oa, (ng - oa)::BIGINT ob FROM cells),
      t AS (SELECT SUM(ng)::BIGINT n, COUNT(*)::BIGINT k,
          SUM(oa)::BIGINT n_above, SUM(ob)::BIGINT nb FROM c2),
      s AS (SELECT t.n, t.k, t.n_above, t.nb,
          SUM(CASE WHEN t.n_above > 0 AND t.nb > 0 THEN
            t.n::HUGEINT * oa * oa * 1000000
              // (ng::HUGEINT * t.n_above)
            + t.n::HUGEINT * ob * ob * 1000000
              // (ng::HUGEINT * t.nb) END) sm
        FROM c2, t GROUP BY 1, 2, 3, 4)
      SELECT n, k AS n_groups, n_above,
        (CASE WHEN k >= 2 AND n_above > 0 AND nb > 0 THEN
          sm - n::HUGEINT * 1000000 END)::BIGINT AS chi2_micro
      FROM s"""))

  /** Durbin–Watson residual autocorrelation per user's hourly series —
    * the one-number lag-1 readout beside q279's pooled Ljung–Box.
    */
  private val q289 = Q(
    "q289_durbin_watson",
    (spark, dir) => TimeSeries.durbinWatson(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(
          pq(spark, dir, "events"), "ts"))
        .withColumn("bucket", expr("__ms div 3600000"))
        .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id", "bucket").agg(sum("__vm").as("sv")),
      "user_id", "bucket", "sv"),
    Some("""WITH h AS (SELECT user_id::VARCHAR k,
          epoch_ms(ts) // 3600000 t,
          SUM(floor(value * 1e6)::BIGINT)::BIGINT sv FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL GROUP BY 1, 2),
      b AS (SELECT k, t, floor(sv::DOUBLE * 1e6)::BIGINT vm FROM h),
      d AS (SELECT k, vm, vm - lag(vm) OVER
          (PARTITION BY k ORDER BY t) dd FROM b),
      g AS (SELECT k, COUNT(*)::BIGINT n_buckets,
          SUM(dd::HUGEINT * dd) num, SUM(vm::HUGEINT * vm) den
        FROM d GROUP BY 1)
      SELECT k AS key, n_buckets,
        (CASE WHEN n_buckets >= 2 AND den > 0 THEN num * 1000 // den
          END)::BIGINT AS dw_milli
      FROM g"""))

  /** Two-sample Cramér–von Mises drift criterion between the user-parity
    * arms — the integrated-square member beside q265's KS and q241's W₁.
    */
  private val q290 = Q(
    "q290_cvm",
    (spark, dir) => Features.cramerVonMises(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b")),
      "arm", "value"),
    Some("""WITH b AS (SELECT
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          floor(value * 1e6)::BIGINT v
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      t AS (SELECT
          COUNT(CASE WHEN g = 'arm_a' THEN 1 END)::BIGINT na,
          COUNT(CASE WHEN g = 'arm_b' THEN 1 END)::BIGINT nb FROM b),
      c AS (SELECT v,
          COUNT(CASE WHEN g = 'arm_a' THEN 1 END)::BIGINT c1,
          COUNT(CASE WHEN g = 'arm_b' THEN 1 END)::BIGINT c2
        FROM b GROUP BY 1),
      p AS (SELECT v, c1, c2, SUM(c1) OVER (ORDER BY v) cum1,
          SUM(c2) OVER (ORDER BY v) cum2 FROM c),
      u AS (SELECT SUM((c1 + c2)::HUGEINT
          * (t.nb::HUGEINT * cum1 - t.na::HUGEINT * cum2)
          * (t.nb::HUGEINT * cum1 - t.na::HUGEINT * cum2)) uu
        FROM p, t)
      SELECT 'arm_a' AS grp_a, 'arm_b' AS grp_b, t.na AS n_a,
        t.nb AS n_b,
        (CASE WHEN t.na > 0 AND t.nb > 0 THEN
          floor(1e6 * uu::DOUBLE / ((t.na + t.nb)::DOUBLE
            * (t.na + t.nb) * t.na * t.nb)) END)::BIGINT AS t_micro,
        (CASE WHEN t.na > 0 AND t.nb > 0 THEN
          floor(1e6 * uu::DOUBLE / ((t.na + t.nb)::DOUBLE
            * (t.na + t.nb) * t.na * t.nb)) >= 461000 END)
          AS significant
      FROM u, t"""))

  /** TOST equivalence of the user-parity arms within δ = 5.0 — the
    * "nothing moved more than δ" release gate beside q240's Welch.
    */
  private val q291 = Q(
    "q291_tost_equivalence",
    (spark, dir) => Causal.tostEquivalence(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b")),
      "arm", "value", deltaMicro = 5000000L),
    Some("""WITH b AS (SELECT
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          floor(value * 1e6)::BIGINT v
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      g AS (SELECT g, COUNT(*)::BIGINT n, SUM(v)::HUGEINT s,
          SUM(v::HUGEINT * v)::HUGEINT q FROM b GROUP BY 1),
      w AS (SELECT a.n na, a.s sa, a.q qa, c.n nb, c.s sb, c.q qb
        FROM (SELECT * FROM g WHERE g = 'arm_a') a,
          (SELECT * FROM g WHERE g = 'arm_b') c),
      v AS (SELECT *,
          (qa::DOUBLE - sa::DOUBLE * sa::DOUBLE / na) / (na - 1) va,
          (qb::DOUBLE - sb::DOUBLE * sb::DOUBLE / nb) / (nb - 1) vb
        FROM w),
      v2 AS (SELECT *, va / na + vb / nb se2,
          sa::DOUBLE / na - sb::DOUBLE / nb d FROM v),
      v3 AS (SELECT *,
          (CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0 THEN
            floor(1000.0 * (d + 5000000) / sqrt(se2)) END)::BIGINT zl,
          (CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0 THEN
            floor(1000.0 * (5000000 - d) / sqrt(se2)) END)::BIGINT zu
        FROM v2)
      SELECT 'arm_a' AS grp_a, 'arm_b' AS grp_b, na AS n_a, nb AS n_b,
        ((CASE WHEN sa >= 0 THEN sa // na ELSE -((-sa) // na) END)
         - (CASE WHEN sb >= 0 THEN sb // nb
             ELSE -((-sb) // nb) END))::BIGINT AS diff_micro,
        5000000::BIGINT AS delta_micro,
        zl AS z_lower_milli, zu AS z_upper_milli,
        (CASE WHEN zl IS NOT NULL THEN LEAST(zl, zu) >= 1645 END)
          AS equivalent
      FROM v3"""))

  /** Poisson rate-ratio test of error rates per exposure hour between
    * the user-parity arms — incidents per machine-time, not per trial.
    */
  private val q292 = Q(
    "q292_rate_ratio",
    (spark, dir) => Causal.rateRatioTest(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
        .withColumn("t_ms", EventTime.epochMillis(
          pq(spark, dir, "events"), "ts"))
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b"))
        .withColumn("is_err", col("event_type") === "error"),
      "arm", "t_ms", "is_err"),
    Some("""WITH b AS (SELECT
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          epoch_ms(ts) tm, (event_type = 'error') e FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL),
      g AS (SELECT g, SUM(CASE WHEN e THEN 1 ELSE 0 END)::BIGINT x,
          (MAX(tm) - MIN(tm))::BIGINT t FROM b GROUP BY 1),
      w AS (SELECT a.x xa, a.t ta, c.x xb, c.t tb
        FROM (SELECT * FROM g WHERE g = 'arm_a') a,
          (SELECT * FROM g WHERE g = 'arm_b') c)
      SELECT 'arm_a' AS grp_a, 'arm_b' AS grp_b,
        xa AS n_events_a, xb AS n_events_b,
        ta AS exposure_ms_a, tb AS exposure_ms_b,
        (xa::HUGEINT * 3600000 * 1000000 // ta)::BIGINT AS rate_a_micro,
        (xb::HUGEINT * 3600000 * 1000000 // tb)::BIGINT AS rate_b_micro,
        (CASE WHEN xb > 0 THEN
          xa::HUGEINT * tb * 1000000 // (xb::HUGEINT * ta) END)::BIGINT
          AS rate_ratio_micro,
        (CASE WHEN xa > 0 AND xb > 0 THEN
          floor(1000.0 * (ln(xa::DOUBLE / ta) - ln(xb::DOUBLE / tb))
            / sqrt(1.0 / xa + 1.0 / xb)) END)::BIGINT AS z_milli,
        (CASE WHEN xa > 0 AND xb > 0 THEN
          abs(floor(1000.0 * (ln(xa::DOUBLE / ta) - ln(xb::DOUBLE / tb))
            / sqrt(1.0 / xa + 1.0 / xb))) >= 1960 END) AS significant
      FROM w"""))

  /** Unrolled k-core oracle: `n` peel rounds over the canonicalized
    * undirected edge set `body` (must select columns u, v), plus the
    * global `converged` fact (all survivors ≥ k ⇔ the peel reached its
    * fixed point within n rounds). Rounds past the fixed point are
    * no-ops on both engines, so the unrolled SQL stays exact even when
    * the Spark side early-exits.
    */
  private def kCoreOracle(n: Int, k: Int, body: String): String = {
    // each round references the prior CTE three times (FROM + two
    // semi-join sides); without MATERIALIZED DuckDB inlines the
    // expansion 3^n times and dies on file handles past ~4 rounds
    val sb = new StringBuilder
    sb.append(s"""WITH e0 AS MATERIALIZED ($body),
      a0 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0)""")
    for (i <- 1 to n) sb.append(s""",
      k$i AS (SELECT u FROM a${i - 1} GROUP BY u HAVING COUNT(*) >= $k),
      a$i AS MATERIALIZED (SELECT a.u, a.v FROM a${i - 1} a JOIN k$i x ON a.u = x.u
        JOIN k$i y ON a.v = y.u)""")
    sb.append(s""",
      core AS (SELECT u AS node, COUNT(*)::BIGINT degree,
        (COUNT(*) >= $k) AS in_core FROM a$n GROUP BY u)
      SELECT node, degree, in_core,
        (SELECT COALESCE(bool_and(in_core), true) FROM core) AS converged
      FROM core""")
    sb.toString
  }

  /** k-core with the round-12 provably-exact early exit and the honest
    * `converged` column: 8 permitted peel rounds on the customer—supplier
    * trade graph — the loop breaks at the first stable round (edge count
    * unchanged ⇒ fixed point), the oracle replays all 8 (no-ops past the
    * fixed point), and `converged` reports the all-survivors-≥-k global
    * fact via a broadcast one-row rollup.
    */
  private val q293 = Q(
    "q293_k_core_converged",
    (spark, dir) => {
      val e = pq(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(pq(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("cu"),
          (col("l_suppkey") * 2 + 1).as("su"))
      Graph.kCore(e, "cu", "su", k = 5, iters = 8, emitConverged = true)
    },
    Some(kCoreOracle(8, 5,
      """SELECT DISTINCT LEAST(c, s) u, GREATEST(c, s) v
        FROM (SELECT o_custkey * 2 c, l_suppkey * 2 + 1 s
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL)""")))

  /** Degree assortativity of the customer—supplier trade graph — do
    * high-degree traders link to each other? Exact integer moments over
    * both edge directions, r_milli double tree.
    */
  private val q294 = Q(
    "q294_assortativity",
    (spark, dir) => {
      val e = pq(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(pq(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("cu"),
          (col("l_suppkey") * 2 + 1).as("su"))
      Graph.degreeAssortativity(e, "cu", "su")
    },
    Some("""WITH e0 AS MATERIALIZED (
        SELECT DISTINCT LEAST(c, s) u, GREATEST(c, s) v
        FROM (SELECT o_custkey * 2 c, l_suppkey * 2 + 1 s
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL)),
      deg AS MATERIALIZED (SELECT x, COUNT(*)::BIGINT deg FROM
        (SELECT u x FROM e0 UNION ALL SELECT v x FROM e0) GROUP BY 1),
      pr AS (SELECT du.deg dx, dv.deg dy FROM e0
          JOIN deg du ON e0.u = du.x JOIN deg dv ON e0.v = dv.x
        UNION ALL
        SELECT dv.deg dx, du.deg dy FROM e0
          JOIN deg du ON e0.u = du.x JOIN deg dv ON e0.v = dv.x),
      mo AS (SELECT COUNT(*)::HUGEINT np, SUM(dx::HUGEINT) sx,
          SUM(dy::HUGEINT) sy, SUM(dx::HUGEINT * dy) sxy,
          SUM(dx::HUGEINT * dx) sxx, SUM(dy::HUGEINT * dy) syy FROM pr)
      SELECT (SELECT COUNT(*) FROM deg)::BIGINT AS n_nodes,
        (SELECT COUNT(*) FROM e0)::BIGINT AS n_edges,
        (CASE WHEN np > 1 AND np * sxx - sx * sx > 0
            AND np * syy - sy * sy > 0 THEN
          floor(1000.0 * (np * sxy - sx * sy)::DOUBLE
            / sqrt((np * sxx - sx * sx)::DOUBLE
              * (np * syy - sy * sy)::DOUBLE)) END)::BIGINT AS r_milli
      FROM mo"""))

  /** Newman modularity of the nation partition over the trade graph —
    * does trade cluster within nations? Exact integer
    * `⌊10⁶·Σ(4m·m_c − D_c²)/(4m²)⌋`, sign-split.
    */
  private val q295 = Q(
    "q295_modularity",
    (spark, dir) => {
      val e = pq(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(pq(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("cu"),
          (col("l_suppkey") * 2 + 1).as("su"))
      val labels = pq(spark, dir, "customer")
          .select((col("c_custkey") * 2).as("node"),
            col("c_nationkey").cast("string").as("nat"))
        .unionByName(pq(spark, dir, "supplier")
          .select((col("s_suppkey") * 2 + 1).as("node"),
            col("s_nationkey").cast("string").as("nat")))
      Graph.modularity(e, "cu", "su", labels, "node", "nat")
    },
    Some("""WITH e0 AS MATERIALIZED (
        SELECT DISTINCT LEAST(c, s) u, GREATEST(c, s) v
        FROM (SELECT o_custkey * 2 c, l_suppkey * 2 + 1 s
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL)),
      lab AS MATERIALIZED (SELECT x, MIN(c) c FROM (
          SELECT c_custkey * 2 x, c_nationkey::VARCHAR c FROM customer
          UNION ALL
          SELECT s_suppkey * 2 + 1 x, s_nationkey::VARCHAR c FROM supplier)
        GROUP BY 1),
      deg AS MATERIALIZED (SELECT x, COUNT(*)::BIGINT deg FROM
        (SELECT u x FROM e0 UNION ALL SELECT v x FROM e0) GROUP BY 1),
      dl AS (SELECT deg.x, deg.deg, lab.c FROM deg
        LEFT JOIN lab ON deg.x = lab.x),
      cd AS (SELECT c, SUM(deg::HUGEINT) dc FROM dl
        WHERE c IS NOT NULL GROUP BY 1),
      intra AS (SELECT lu.c, COUNT(*)::BIGINT mc FROM e0
        JOIN lab lu ON e0.u = lu.x JOIN lab lv ON e0.v = lv.x
        WHERE lu.c = lv.c GROUP BY 1),
      comm AS (SELECT cd.c, cd.dc, COALESCE(intra.mc, 0) mc
        FROM cd LEFT JOIN intra ON cd.c = intra.c),
      mm AS (SELECT (SELECT COUNT(*) FROM e0)::HUGEINT m),
      num AS (SELECT SUM(4 * mm.m * mc::HUGEINT - dc * dc) nu FROM comm, mm)
      SELECT (SELECT COUNT(*) FROM deg)::BIGINT AS n_nodes,
        (SELECT m FROM mm)::BIGINT AS n_edges,
        (SELECT COUNT(*) FROM comm)::BIGINT AS n_communities,
        (SELECT COUNT(*) FROM dl WHERE c IS NULL)::BIGINT AS n_unlabeled,
        (CASE WHEN (SELECT m FROM mm) > 0 THEN
          CASE WHEN nu >= 0 THEN nu * 1000000 // (4 * (SELECT m FROM mm) * (SELECT m FROM mm))
          ELSE -((-nu) * 1000000 // (4 * (SELECT m FROM mm) * (SELECT m FROM mm))) END
         END)::BIGINT AS q_micro
      FROM num"""))

  /** Yule's K vocabulary-repetitiveness characteristic per document
    * source — size-invariant, pure integer (Σtf² rollup).
    */
  private val q296 = Q(
    "q296_yules_k",
    (spark, dir) => Corpus.yulesK(
      pq(spark, dir, "documents"), "source", "text"),
    Some("""WITH t AS (SELECT source::VARCHAR grp,
          unnest(string_split(trim(text), ' ')) term FROM documents
        WHERE source IS NOT NULL AND text IS NOT NULL),
      tf AS (SELECT grp, term, COUNT(*)::BIGINT tf FROM t
        WHERE length(term) > 0 GROUP BY 1, 2),
      r AS (SELECT grp, COUNT(*)::BIGINT n_types, SUM(tf)::BIGINT n_tokens,
          SUM(tf::HUGEINT * tf) s2 FROM tf GROUP BY 1)
      SELECT grp, n_tokens, n_types,
        ((s2 - n_tokens) * 10000000000
          // (n_tokens::HUGEINT * n_tokens))::BIGINT AS k_micro
      FROM r"""))

  /** Kuiper two-sample test of the hour-of-day distribution between the
    * user-parity arms — the cyclic drift gate KS can miss at the cut
    * point; D⁺ + D⁻ as cross-multiplied integers off one prefix pass.
    */
  private val q297 = Q(
    "q297_kuiper",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Features.kuiperTwoSample(
        raw.filter(col("user_id").isNotNull && col("ts").isNotNull)
          .withColumn("arm",
            when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
              .otherwise("arm_b"))
          .withColumn("__ms", EventTime.epochMillis(raw, "ts"))
          .withColumn("hod", expr("(__ms div 3600000) % 24")),
        "arm", "hod")
    },
    Some("""WITH b AS (SELECT
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          ((epoch_ms(ts) // 3600000) % 24)::DOUBLE v FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      n AS (SELECT
          SUM(CASE WHEN g = 'arm_a' THEN 1 ELSE 0 END)::BIGINT na,
          SUM(CASE WHEN g = 'arm_b' THEN 1 ELSE 0 END)::BIGINT nb FROM b),
      c AS (SELECT v,
          SUM(CASE WHEN g = 'arm_a' THEN 1 ELSE 0 END)::BIGINT ca,
          SUM(CASE WHEN g = 'arm_b' THEN 1 ELSE 0 END)::BIGINT cb
        FROM b GROUP BY 1),
      cum AS (SELECT v,
          SUM(ca) OVER (ORDER BY v) cca, SUM(cb) OVER (ORDER BY v) ccb
        FROM c),
      mx AS (SELECT
          MAX(cca::HUGEINT * n.nb - ccb::HUGEINT * n.na) mp,
          MAX(ccb::HUGEINT * n.na - cca::HUGEINT * n.nb) mn
        FROM cum, n)
      SELECT 'arm_a' AS grp_a, 'arm_b' AS grp_b, n.na AS n_a, n.nb AS n_b,
        ((mx.mp + mx.mn) * 1000000 // (n.na::HUGEINT * n.nb))::BIGINT
          AS v_micro,
        floor(1e6 * 1.747 * sqrt((n.na + n.nb)::DOUBLE
          / (n.na::DOUBLE * n.nb)))::BIGINT AS crit_micro,
        ((mx.mp + mx.mn) * 1000000 // (n.na::HUGEINT * n.nb))
          > floor(1e6 * 1.747 * sqrt((n.na + n.nb)::DOUBLE
            / (n.na::DOUBLE * n.nb))) AS significant
      FROM mx, n"""))

  /** Energy distance between the user-parity arms' value
    * distributions — all three mean-distance components off ONE prefix
    * pass, no pair stage.
    */
  private val q298 = Q(
    "q298_energy_distance",
    (spark, dir) => Features.energyDistance(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b")),
      "arm", "value"),
    Some("""WITH b AS (SELECT
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          floor(value * 1e6)::BIGINT vm FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL),
      n AS (SELECT SUM(CASE WHEN g = 'arm_a' THEN 1 ELSE 0 END)::BIGINT na,
          SUM(CASE WHEN g = 'arm_b' THEN 1 ELSE 0 END)::BIGINT nb FROM b),
      c AS (SELECT vm, SUM(CASE WHEN g = 'arm_a' THEN 1 ELSE 0 END)::BIGINT ca,
          SUM(CASE WHEN g = 'arm_b' THEN 1 ELSE 0 END)::BIGINT cb
        FROM b GROUP BY 1),
      cum AS (SELECT vm, ca, cb,
          SUM(ca) OVER w cca, SUM(cb) OVER w ccb,
          SUM(vm * ca) OVER w csa, SUM(vm * cb) OVER w csb
        FROM c WINDOW w AS (ORDER BY vm
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      t AS (SELECT SUM(vm * ca)::HUGEINT tsa, SUM(vm * cb)::HUGEINT tsb FROM c),
      s AS (SELECT
          SUM(ca::HUGEINT * (vm::HUGEINT * (ccb - cb)
            - (csb::HUGEINT - vm::HUGEINT * cb)
            + (t.tsb - csb) - vm::HUGEINT * (n.nb - ccb))) sab,
          SUM(ca::HUGEINT * (vm::HUGEINT * (cca - ca)
            - (csa::HUGEINT - vm::HUGEINT * ca)
            + (t.tsa - csa) - vm::HUGEINT * (n.na - cca))) saa,
          SUM(cb::HUGEINT * (vm::HUGEINT * (ccb - cb)
            - (csb::HUGEINT - vm::HUGEINT * cb)
            + (t.tsb - csb) - vm::HUGEINT * (n.nb - ccb))) sbb
        FROM cum, t, n),
      m AS (SELECT (s.sab // (n.na::HUGEINT * n.nb)) mab,
          (s.saa // (n.na::HUGEINT * n.na)) maa,
          (s.sbb // (n.nb::HUGEINT * n.nb)) mbb FROM s, n)
      SELECT 'arm_a' AS grp_a, 'arm_b' AS grp_b, n.na AS n_a, n.nb AS n_b,
        mab::BIGINT AS m_ab_micro, maa::BIGINT AS m_aa_micro,
        mbb::BIGINT AS m_bb_micro,
        (2 * mab - maa - mbb)::BIGINT AS e2_micro
      FROM m, n"""))

  /** Page–Hinkley mean-shift alarm over each event type's hourly value
    * series — running-mean deviation cumulated per key, exact integer
    * alarm bucket.
    */
  private val q299 = Q(
    "q299_page_hinkley",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      TimeSeries.pageHinkley(
        raw.filter(col("event_type").isNotNull && col("ts").isNotNull &&
            col("value").isNotNull)
          .withColumn("__ms", EventTime.epochMillis(raw, "ts"))
          .withColumn("b", expr("__ms div 3600000"))
          .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
          .groupBy("event_type", "b").agg(sum("__vm").as("sv")),
        "event_type", "b", "sv", lambdaMicro = 100000000000L)
    },
    Some("""WITH h AS (SELECT event_type::VARCHAR k,
          epoch_ms(ts) // 3600000 b,
          SUM(floor(value * 1e6)::BIGINT)::BIGINT sv FROM events
        WHERE event_type IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL GROUP BY 1, 2),
      base AS (SELECT k, b, floor(sv::DOUBLE * 1e6)::BIGINT vm FROM h),
      r1 AS (SELECT k, b, vm,
          SUM(vm::HUGEINT) OVER w s, COUNT(*) OVER w t
        FROM base WINDOW w AS (PARTITION BY k ORDER BY b
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      r2 AS (SELECT k, b, vm, s, t,
          (CASE WHEN s >= 0 THEN s // t ELSE -((-s) // t) END) mean
        FROM r1),
      r3 AS (SELECT k, b,
          SUM(vm::HUGEINT - mean) OVER w m
        FROM r2 WINDOW w AS (PARTITION BY k ORDER BY b
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      r4 AS (SELECT k, b, m - MIN(m) OVER w exc
        FROM r3 WINDOW w AS (PARTITION BY k ORDER BY b
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT k AS key, COUNT(*)::BIGINT n_buckets,
        MAX(exc)::BIGINT AS ph_micro,
        MIN(CASE WHEN exc > 100000000000 THEN b END)::BIGINT AS alarm_bucket,
        (MIN(CASE WHEN exc > 100000000000 THEN b END) IS NOT NULL) AS alarmed
      FROM r4 GROUP BY 1"""))

  /** Hodges–Lehmann shift between the user-parity arms — the robust
    * median-of-pairwise-differences effect size, computed over the
    * capped distinct-value cell product and one prefix pass.
    */
  private val q300 = Q(
    "q300_hodges_lehmann",
    (spark, dir) => Features.hodgesLehmannShift(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b"))
        // deci-bucket the continuous metric: the distinct-cell product
        // is then bounded by the value RANGE, not the row count
        .withColumn("v10", floor(col("value") * 10) / 10.0),
      "arm", "v10"),
    Some("""WITH b AS (SELECT
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          floor((floor(value * 10) / 10) * 1e6)::BIGINT vm FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL),
      n AS (SELECT SUM(CASE WHEN g = 'arm_a' THEN 1 ELSE 0 END)::BIGINT na,
          SUM(CASE WHEN g = 'arm_b' THEN 1 ELSE 0 END)::BIGINT nb FROM b),
      va AS (SELECT vm av, COUNT(*)::BIGINT ca FROM b
        WHERE g = 'arm_a' GROUP BY 1),
      vb AS (SELECT vm bv, COUNT(*)::BIGINT cb FROM b
        WHERE g = 'arm_b' GROUP BY 1),
      df AS (SELECT av - bv dv, SUM(ca * cb)::BIGINT w
        FROM va, vb GROUP BY 1),
      cw AS (SELECT dv, SUM(w) OVER (ORDER BY dv
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) c FROM df)
      SELECT 'arm_a' AS grp_a, 'arm_b' AS grp_b, n.na AS n_a, n.nb AS n_b,
        (n.na * n.nb)::BIGINT AS n_pairs,
        (SELECT MIN(dv) FROM cw
          WHERE c >= (n.na * n.nb + 1) // 2)::BIGINT AS hl_micro
      FROM n"""))

  /** Anderson–Darling tail-weighted drift test between the arms —
    * Pettitt's rank form off one prefix pass + map-side rank explode,
    * (value, a-first) pooled-order convention.
    */
  private val q301 = Q(
    "q301_anderson_darling",
    (spark, dir) => Features.andersonDarlingTwoSample(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b")),
      "arm", "value"),
    Some("""WITH b AS (SELECT
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          floor(value * 1e6)::BIGINT vm FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL),
      n AS (SELECT SUM(CASE WHEN g = 'arm_a' THEN 1 ELSE 0 END)::BIGINT na,
          SUM(CASE WHEN g = 'arm_b' THEN 1 ELSE 0 END)::BIGINT nb FROM b),
      c AS (SELECT vm,
          SUM(CASE WHEN g = 'arm_a' THEN 1 ELSE 0 END)::BIGINT ca,
          SUM(CASE WHEN g = 'arm_b' THEN 1 ELSE 0 END)::BIGINT cb
        FROM b GROUP BY 1),
      cum AS (SELECT vm, ca, cb,
          SUM(ca) OVER w cca, SUM(cb) OVER w ccb
        FROM c WINDOW w AS (ORDER BY vm
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      ar AS (SELECT unnest(generate_series(1, ca)) j, cca, ca, ccb, cb
        FROM cum WHERE ca > 0),
      a2 AS (SELECT (cca - ca + ccb - cb) + j i, (cca - ca) + j m FROM ar),
      br AS (SELECT unnest(generate_series(1, cb)) j, cca, ccb, cb
        FROM cum WHERE cb > 0),
      b2 AS (SELECT (cca + ccb - cb) + j i, cca m FROM br),
      r AS (SELECT * FROM a2 UNION ALL SELECT * FROM b2),
      t AS (SELECT SUM(
          (m::HUGEINT * (n.na + n.nb) - n.na * i)
          * (m::HUGEINT * (n.na + n.nb) - n.na * i) * 1000000
          // (i::HUGEINT * (n.na + n.nb - i))) s
        FROM r, n WHERE r.i < n.na + n.nb)
      SELECT 'arm_a' AS grp_a, 'arm_b' AS grp_b, n.na AS n_a, n.nb AS n_b,
        (t.s // (n.na::HUGEINT * n.nb))::BIGINT AS ad_micro,
        (t.s // (n.na::HUGEINT * n.nb)) > 2492000 AS significant
      FROM t, n"""))

  /** Seasonal strength of each event type's hourly series over the
    * 24-hour cycle — the ANOVA R² of hour-of-day phase means, exact
    * integer with one floor per phase.
    */
  private val q302 = Q(
    "q302_seasonal_strength",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      TimeSeries.seasonalStrength(
        raw.filter(col("event_type").isNotNull && col("ts").isNotNull &&
            col("value").isNotNull)
          .withColumn("__ms", EventTime.epochMillis(raw, "ts"))
          .withColumn("b", expr("__ms div 3600000"))
          .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
          .groupBy("event_type", "b").agg(sum("__vm").as("sv")),
        "event_type", "b", "sv", period = 24)
    },
    Some("""WITH h AS (SELECT event_type::VARCHAR k,
          epoch_ms(ts) // 3600000 b,
          SUM(floor(value * 1e6)::BIGINT)::BIGINT sv FROM events
        WHERE event_type IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL GROUP BY 1, 2),
      base AS (SELECT k, b % 24 p, floor(sv::DOUBLE * 1e6)::BIGINT v FROM h),
      ph AS (SELECT k, p, COUNT(*)::BIGINT np, SUM(v::HUGEINT) sp,
          SUM(v::HUGEINT * v) qp FROM base GROUP BY 1, 2),
      r AS (SELECT k, COUNT(*)::BIGINT n_phases, SUM(np)::BIGINT n_buckets,
          SUM(sp) s, SUM(qp) q, SUM(sp * sp // np) w FROM ph GROUP BY 1),
      f AS (SELECT k, n_buckets, n_phases,
          q - (s * s // n_buckets) t, w - (s * s // n_buckets) num FROM r)
      SELECT k AS key, n_buckets, n_phases,
        (CASE WHEN t > 0 THEN
          CASE WHEN num >= 0 THEN num * 1000000 // t
          ELSE -((-num) * 1000000 // t) END END)::BIGINT AS strength_micro
      FROM f"""))

  /** Seasonal (Hirsch–Slack) Mann–Kendall per event type over daily
    * sums with a weekly cycle — each weekday compared only with itself
    * across weeks, S and Var pooled.
    */
  private val q303 = Q(
    "q303_seasonal_mk",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      TimeSeries.seasonalMannKendall(
        raw.filter(col("event_type").isNotNull && col("ts").isNotNull &&
            col("value").isNotNull)
          .withColumn("__ms", EventTime.epochMillis(raw, "ts"))
          .withColumn("day", expr("__ms div 86400000"))
          .withColumn("__v", floor(col("value") * 1e6).cast("long"))
          .groupBy("event_type", "day").agg(sum("__v").as("sv")),
        "event_type", "day", "sv", period = 7)
    },
    Some("""WITH e AS (SELECT event_type::VARCHAR k,
          epoch_ms(ts) // 86400000 d, floor(value * 1e6)::BIGINT v
        FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      g AS (SELECT k, d, SUM(v)::BIGINT sv FROM e GROUP BY 1, 2),
      gp AS (SELECT k, d % 7 p, d, sv FROM g),
      pr AS (SELECT a.k, a.p,
          SUM(CASE WHEN b.sv > a.sv THEN 1 WHEN b.sv < a.sv THEN -1
            ELSE 0 END)::BIGINT s
        FROM gp a JOIN gp b ON b.k = a.k AND b.p = a.p AND b.d > a.d
        GROUP BY 1, 2),
      t AS (SELECT k, p, sv, COUNT(*)::BIGINT tc FROM gp GROUP BY 1, 2, 3),
      v AS (SELECT k, p, SUM(tc)::BIGINT n,
          SUM(tc * (tc - 1) * (2 * tc + 5))::BIGINT tsum FROM t GROUP BY 1, 2),
      j AS (SELECT v.k, v.p, n, COALESCE(pr.s, 0)::BIGINT s,
          (n * (n - 1) * (2 * n + 5) - tsum)::BIGINT vs
        FROM v LEFT JOIN pr ON pr.k = v.k AND pr.p = v.p),
      agg AS (SELECT k, SUM(n)::BIGINT n, COUNT(*)::BIGINT n_phases,
          SUM(s)::BIGINT s, SUM(vs)::BIGINT vs FROM j GROUP BY 1),
      z AS (SELECT k, n, n_phases, s, vs,
          (CASE WHEN vs > 0 THEN
            CASE WHEN s > 0 THEN
              floor(1000.0 * (s - 1) / sqrt(vs::DOUBLE / 18.0))::BIGINT
            WHEN s < 0 THEN
              floor(1000.0 * (s + 1) / sqrt(vs::DOUBLE / 18.0))::BIGINT
            ELSE 0 END END) zm FROM agg)
      SELECT k AS key, n, n_phases, s AS s_stat, vs AS var_s_x18,
        zm AS z_milli,
        (CASE WHEN zm IS NULL THEN NULL
          ELSE abs(zm) >= 1960 END) AS trending
      FROM z"""))

  /** Partial correlation of per-user activity volume and total value,
    * controlling for active-day span — the continuous confounding
    * check; all three r's off one exact moment pass.
    */
  private val q304 = Q(
    "q304_partial_corr",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Features.partialCorrelation(
        raw.filter(col("user_id").isNotNull && col("ts").isNotNull &&
            col("value").isNotNull)
          .withColumn("__ms", EventTime.epochMillis(raw, "ts"))
          .groupBy("user_id")
          .agg(count(lit(1)).cast("double").as("nx"),
            (sum(floor(col("value") * 1e6).cast("long")) / 1e6).as("sy"),
            ((max("__ms") - min("__ms")) / lit(86400000.0)).as("zd")),
        "nx", "sy", "zd")
    },
    Some("""WITH u AS (SELECT user_id,
          COUNT(*)::DOUBLE nx,
          (SUM(floor(value * 1e6)::BIGINT)::DOUBLE / 1e6) sy,
          ((MAX(epoch_ms(ts)) - MIN(epoch_ms(ts)))::DOUBLE / 86400000.0) zd
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL GROUP BY 1),
      b AS (SELECT floor(nx * 1e6)::BIGINT x, floor(sy * 1e6)::BIGINT y,
          floor(zd * 1e6)::BIGINT z FROM u),
      m AS (SELECT COUNT(*)::HUGEINT n, SUM(x::HUGEINT) sx,
          SUM(y::HUGEINT) sy, SUM(z::HUGEINT) sz,
          SUM(x::HUGEINT * x) sxx, SUM(y::HUGEINT * y) syy,
          SUM(z::HUGEINT * z) szz, SUM(x::HUGEINT * y) sxy,
          SUM(x::HUGEINT * z) sxz, SUM(y::HUGEINT * z) syz FROM b),
      d AS (SELECT n, n * sxx - sx * sx dxx, n * syy - sy * sy dyy,
          n * szz - sz * sz dzz, n * sxy - sx * sy dxy,
          n * sxz - sx * sz dxz, n * syz - sy * sz dyz FROM m),
      r AS (SELECT n, dxx, dyy, dzz,
          dxy::DOUBLE / sqrt(dxx::DOUBLE * dyy::DOUBLE) rxy,
          dxz::DOUBLE / sqrt(dxx::DOUBLE * dzz::DOUBLE) rxz,
          dyz::DOUBLE / sqrt(dyy::DOUBLE * dzz::DOUBLE) ryz FROM d)
      SELECT n::BIGINT AS n,
        (CASE WHEN dxx > 0 AND dyy > 0 THEN floor(1000.0 * rxy) END)::BIGINT
          AS r_xy_milli,
        (CASE WHEN dxx > 0 AND dzz > 0 THEN floor(1000.0 * rxz) END)::BIGINT
          AS r_xz_milli,
        (CASE WHEN dyy > 0 AND dzz > 0 THEN floor(1000.0 * ryz) END)::BIGINT
          AS r_yz_milli,
        (CASE WHEN dxx > 0 AND dyy > 0 AND dzz > 0
            AND (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0 THEN
          floor(1000.0 * (rxy - rxz * ryz)
            / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))) END)::BIGINT
          AS partial_r_milli
      FROM r"""))

  /** Chow structural-break F per event type: did the daily
    * day-index → mean-value regression change between the first and
    * second half of the window (split at day 19738)?
    */
  private val q305 = Q(
    "q305_chow_test",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Features.chowTest(
        raw.filter(col("event_type").isNotNull && col("ts").isNotNull &&
            col("value").isNotNull)
          .withColumn("__ms", EventTime.epochMillis(raw, "ts"))
          .withColumn("day", expr("__ms div 86400000"))
          .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
          .groupBy("event_type", "day")
          .agg(count(lit(1)).as("cnt"), sum("__vm").as("sv"))
          .withColumn("xd", (col("day") - lit(19723L)).cast("double"))
          .withColumn("yv", (col("sv") / lit(1e6)) / col("cnt"))
          .withColumn("post", col("day") >= 19738L),
        "event_type", "xd", "yv", "post")
    },
    Some("""WITH g AS (SELECT event_type::VARCHAR k,
          epoch_ms(ts) // 86400000 d, COUNT(*)::BIGINT cnt,
          SUM(floor(value * 1e6)::BIGINT)::BIGINT sv FROM events
        WHERE event_type IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL GROUP BY 1, 2),
      b AS (SELECT k, (d >= 19738) post,
          floor((d - 19723)::DOUBLE * 1e6)::BIGINT x,
          floor(((sv::DOUBLE / 1e6) / cnt) * 1e6)::BIGINT y FROM g),
      m AS (SELECT k, post, COUNT(*)::HUGEINT n, SUM(x::HUGEINT) sx,
          SUM(y::HUGEINT) sy, SUM(x::HUGEINT * x) sxx,
          SUM(y::HUGEINT * y) syy, SUM(x::HUGEINT * y) sxy
        FROM b GROUP BY 1, 2),
      pl AS (SELECT k, SUM(n) n, SUM(sx) sx, SUM(sy) sy, SUM(sxx) sxx,
          SUM(syy) syy, SUM(sxy) sxy FROM m GROUP BY 1),
      s AS (SELECT pl.k,
          a.n an, bb.n bn,
          (CASE WHEN pl.n >= 3 AND pl.n * pl.sxx - pl.sx * pl.sx > 0 THEN
            ((pl.n * pl.syy - pl.sy * pl.sy)::DOUBLE
             - (pl.n * pl.sxy - pl.sx * pl.sy)::DOUBLE
               * (pl.n * pl.sxy - pl.sx * pl.sy)::DOUBLE
               / (pl.n * pl.sxx - pl.sx * pl.sx)::DOUBLE)
            / pl.n::DOUBLE END) sp,
          (CASE WHEN a.n >= 3 AND a.n * a.sxx - a.sx * a.sx > 0 THEN
            ((a.n * a.syy - a.sy * a.sy)::DOUBLE
             - (a.n * a.sxy - a.sx * a.sy)::DOUBLE
               * (a.n * a.sxy - a.sx * a.sy)::DOUBLE
               / (a.n * a.sxx - a.sx * a.sx)::DOUBLE)
            / a.n::DOUBLE END) s1,
          (CASE WHEN bb.n >= 3 AND bb.n * bb.sxx - bb.sx * bb.sx > 0 THEN
            ((bb.n * bb.syy - bb.sy * bb.sy)::DOUBLE
             - (bb.n * bb.sxy - bb.sx * bb.sy)::DOUBLE
               * (bb.n * bb.sxy - bb.sx * bb.sy)::DOUBLE
               / (bb.n * bb.sxx - bb.sx * bb.sx)::DOUBLE)
            / bb.n::DOUBLE END) s2
        FROM pl JOIN m a ON a.k = pl.k AND NOT a.post
          JOIN m bb ON bb.k = pl.k AND bb.post)
      SELECT k AS key, an::BIGINT AS n_pre, bn::BIGINT AS n_post,
        (CASE WHEN sp IS NOT NULL AND s1 IS NOT NULL AND s2 IS NOT NULL
            AND s1 + s2 > 0 THEN
          floor(1000.0 * ((sp - s1 - s2) / 2.0)
            / ((s1 + s2) / (an + bn - 4))) END)::BIGINT AS f_milli
      FROM s"""))

  /** Large-vocab BPE encoder over the SAME 3-round learned table as
    * q129 — the min-rank loop is parity-locked to the literal-replace
    * path on learned tables, so q129's oracle gates this engine too.
    */
  private val q306 = Q(
    "q306_bpe_encode_large",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      TextOps.bpeEncodeLarge(docs, Seq("doc_id"), "text",
        TextOps.bpeMerges(docs, "text", rounds = 3))
    },
    Some(bpeEncodeOracleSql(3)))

  /** Chapman capture–recapture estimate of the total user population
    * from the first-half vs second-half observation windows — the
    * detector-audit primitive, pure integers.
    */
  private val q307 = Q(
    "q307_capture_recapture",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      val base = raw.filter(col("user_id").isNotNull && col("ts").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(raw, "ts"))
        .withColumn("__day", expr("__ms div 86400000"))
      Dedup.captureRecapture(
        base.filter(col("__day") < 19738L), "user_id",
        base.filter(col("__day") >= 19738L), "user_id")
    },
    Some("""WITH e AS (SELECT user_id::VARCHAR id,
          epoch_ms(ts) // 86400000 d FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      a AS (SELECT DISTINCT id FROM e WHERE d < 19738),
      b AS (SELECT DISTINCT id FROM e WHERE d >= 19738),
      c AS (SELECT (SELECT COUNT(*) FROM a)::BIGINT na,
          (SELECT COUNT(*) FROM b)::BIGINT nb,
          (SELECT COUNT(*) FROM a JOIN b USING (id))::BIGINT m)
      SELECT na AS n_a, nb AS n_b, m AS n_both,
        ((na + 1)::HUGEINT * (nb + 1) // (m + 1) - 1)::BIGINT
          AS chapman_est,
        (CASE WHEN nb > 0 THEN m * 1000000 // nb END)::BIGINT
          AS recall_a_micro,
        (CASE WHEN na > 0 THEN m * 1000000 // na END)::BIGINT
          AS recall_b_micro
      FROM c"""))

  /** Hill tail index of the per-user activity-count distribution
    * (k = 10) — how Pareto-heavy is user activity; sizes the skew caps.
    */
  private val q308 = Q(
    "q308_hill_tail",
    (spark, dir) => Features.hillTailIndex(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull)
        .groupBy("user_id").agg(count(lit(1)).as("cnt")),
      "cnt", k = 10),
    Some("""WITH c AS (SELECT COUNT(*)::BIGINT cnt FROM events
        WHERE user_id IS NOT NULL GROUP BY user_id),
      b AS (SELECT floor(cnt::DOUBLE * 1e6)::BIGINT v FROM c WHERE cnt > 0),
      n AS (SELECT COUNT(*)::BIGINT n FROM b),
      top AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v DESC) r FROM b
        QUALIFY r <= 11),
      xk AS (SELECT v xk1 FROM top WHERE r = 11),
      t AS (SELECT SUM(floor(1e6 * ln(top.v::DOUBLE / xk.xk1))::BIGINT)::BIGINT s
        FROM top, xk WHERE top.r <= 10)
      SELECT n.n, 10::BIGINT AS k, xk.xk1 AS xk_micro,
        t.s AS sum_ln_micro,
        (CASE WHEN t.s > 0 THEN 10::BIGINT * 1000000000 // t.s END)::BIGINT
          AS alpha_milli
      FROM n, xk, t"""))

  /** Standardized-mean-difference balance check of the value covariate
    * between the user-parity arms within each event-type stratum — the
    * pre-flight every stratified effect estimate owes its reader.
    */
  private val q309 = Q(
    "q309_covariate_balance",
    (spark, dir) => Causal.covariateBalance(
      pq(spark, dir, "events")
        .filter(col("event_type").isNotNull && col("user_id").isNotNull &&
          col("value").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b")),
      "event_type", "arm", "value"),
    Some("""WITH b AS (SELECT event_type::VARCHAR s,
          CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END g,
          floor(value * 1e6)::BIGINT v FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          AND value IS NOT NULL),
      m AS (SELECT s, g, COUNT(*)::BIGINT n, SUM(v::HUGEINT) sv,
          SUM(v::HUGEINT * v) qv FROM b GROUP BY 1, 2),
      j AS (SELECT a.s, a.n an, a.sv asv, a.qv aqv,
          c.n bn, c.sv bsv, c.qv bqv
        FROM (SELECT * FROM m WHERE g = 'arm_a') a
        JOIN (SELECT * FROM m WHERE g = 'arm_b') c ON a.s = c.s),
      r AS (SELECT s, an, bn, asv, bsv,
          (CASE WHEN an >= 2 AND bn >= 2 AND
              (aqv::DOUBLE - asv::DOUBLE * asv::DOUBLE / an) / (an - 1)
              + (bqv::DOUBLE - bsv::DOUBLE * bsv::DOUBLE / bn) / (bn - 1)
                > 0 THEN
            floor(1000.0 * (asv::DOUBLE / an - bsv::DOUBLE / bn)
              / sqrt((
                (aqv::DOUBLE - asv::DOUBLE * asv::DOUBLE / an) / (an - 1)
                + (bqv::DOUBLE - bsv::DOUBLE * bsv::DOUBLE / bn)
                  / (bn - 1)) / 2.0)) END)::BIGINT smd
        FROM j)
      SELECT s AS stratum, an AS n_a, bn AS n_b,
        (CASE WHEN asv >= 0 THEN asv // an
          ELSE -((-asv) // an) END)::BIGINT AS mean_a_micro,
        (CASE WHEN bsv >= 0 THEN bsv // bn
          ELSE -((-bsv) // bn) END)::BIGINT AS mean_b_micro,
        smd AS smd_milli,
        (CASE WHEN smd IS NULL THEN NULL
          ELSE abs(smd) < 100 END) AS balanced
      FROM r"""))

  /** Pairwise cosine of label centroids over the embeddings table —
    * the corpus-slice similarity map; exact integer sum vectors, one
    * double tree per pair.
    */
  private val q310 = Q(
    "q310_centroid_matrix",
    (spark, dir) => Similarity.centroidCosineMatrix(
      pq(spark, dir, "embeddings"), "label", "embedding"),
    Some("""WITH ax AS (SELECT label::VARCHAR g,
          unnest(generate_series(0, len(embedding) - 1)) d,
          round(unnest(embedding)::DOUBLE * 1000000)::BIGINT m
        FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL
          AND len(embedding) > 0),
      s AS (SELECT g, d, SUM(m)::BIGINT sv FROM ax GROUP BY 1, 2),
      n AS (SELECT label::VARCHAR g, COUNT(*)::BIGINT n FROM embeddings
        WHERE label IS NOT NULL AND embedding IS NOT NULL
          AND len(embedding) > 0 GROUP BY 1),
      p AS (SELECT a.g ga, b.g gb, SUM(a.sv::HUGEINT * b.sv) dot
        FROM s a JOIN s b ON a.d = b.d AND a.g < b.g GROUP BY 1, 2),
      nn AS (SELECT g, SUM(sv::HUGEINT * sv) n2 FROM s GROUP BY 1)
      SELECT p.ga AS grp_a, p.gb AS grp_b, na.n AS n_a, nb.n AS n_b,
        (CASE WHEN a2.n2 > 0 AND b2.n2 > 0 THEN
          floor(1000.0 * p.dot::DOUBLE
            / sqrt(a2.n2::DOUBLE * b2.n2::DOUBLE)) END)::BIGINT
          AS cos_milli
      FROM p JOIN n na ON na.g = p.ga JOIN n nb ON nb.g = p.gb
        JOIN nn a2 ON a2.g = p.ga JOIN nn b2 ON b2.g = p.gb"""))

  /** Diagonal-Mahalanobis joint-outlier audit over (n_chars, n_tokens)
    * of the documents table — top-20 rows by exact integer Σ⌊10⁶·z²⌋.
    */
  private val q311 = Q(
    "q311_multivariate_outliers",
    (spark, dir) => Features.multivariateOutliers(
      pq(spark, dir, "documents")
        .filter(col("text").isNotNull && col("n_chars").isNotNull)
        .withColumn("n_tokens",
          size(split(trim(col("text")), " ")).cast("double")),
      "doc_id", Seq("n_chars", "n_tokens"), k = 20),
    Some("""WITH b AS (SELECT doc_id,
          floor(n_chars::DOUBLE * 1e6)::BIGINT v0,
          floor(len(string_split(trim(text), ' '))::DOUBLE * 1e6)::BIGINT v1
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
          AND n_chars IS NOT NULL),
      m AS (SELECT COUNT(*)::HUGEINT n, SUM(v0::HUGEINT) s0,
          SUM(v0::HUGEINT * v0) q0, SUM(v1::HUGEINT) s1,
          SUM(v1::HUGEINT * v1) q1 FROM b),
      sc AS (SELECT doc_id, n,
          (CASE WHEN n >= 2 AND n * q0 - s0 * s0 > 0 THEN
            floor(1000000.0 * ((n * v0 - s0) * (n * v0 - s0))::DOUBLE
              / (n::DOUBLE * (n * q0 - s0 * s0)::DOUBLE
                / (n::DOUBLE - 1.0))) ELSE 0 END)
          + (CASE WHEN n >= 2 AND n * q1 - s1 * s1 > 0 THEN
            floor(1000000.0 * ((n * v1 - s1) * (n * v1 - s1))::DOUBLE
              / (n::DOUBLE * (n * q1 - s1 * s1)::DOUBLE
                / (n::DOUBLE - 1.0))) ELSE 0 END) score,
          (CASE WHEN n * q0 - s0 * s0 > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN n * q1 - s1 * s1 > 0 THEN 1 ELSE 0 END) used
        FROM b, m),
      r AS (SELECT doc_id, score, used, n,
          ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) rk FROM sc)
      SELECT rk AS rank, doc_id AS id, score::BIGINT AS score_micro,
        used::BIGINT AS n_cols_used, n::BIGINT AS n
      FROM r WHERE rk <= 20"""))

  /** Dunn's post-hoc pairwise rank test across order priorities — the
    * which-pair companion to q213's one-row Kruskal–Wallis H; pooled
    * tie-midranks, exact gap numerators, one double tree per pair.
    */
  private val q312 = Q(
    "q312_dunn_posthoc",
    (spark, dir) => Features.dunnPosthoc(
      pq(spark, dir, "orders"), "o_orderpriority", "o_totalprice"),
    Some("""WITH b AS (SELECT o_orderpriority g, o_totalprice::DOUBLE v
          FROM orders WHERE o_orderpriority IS NOT NULL
            AND o_totalprice IS NOT NULL),
      c AS (SELECT v, COUNT(*)::BIGINT c FROM b GROUP BY 1),
      r AS (SELECT v, (2 * SUM(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - c + 1)::BIGINT r2 FROM c),
      tt AS (SELECT COALESCE(SUM(c::HUGEINT * c * c - c), 0)::HUGEINT t
        FROM c),
      gg AS (SELECT g, COUNT(*)::BIGINT ng, SUM(r2)::HUGEINT r2g
        FROM b JOIN r USING (v) GROUP BY 1),
      s AS (SELECT SUM(ng)::BIGINT n FROM gg)
      SELECT a.g AS grp_a, bb.g AS grp_b, a.ng AS n_a, bb.ng AS n_b,
        ((a.r2g * 500) // a.ng)::BIGINT AS mean_rank_a_milli,
        ((bb.r2g * 500) // bb.ng)::BIGINT AS mean_rank_b_milli,
        (CASE WHEN s.n >= 2 AND s.n::DOUBLE * (s.n + 1) / 12.0
              - tt.t::DOUBLE / (12.0 * (s.n - 1)) > 0 THEN
          floor(1000.0 *
            ((a.r2g * bb.ng - bb.r2g * a.ng)::DOUBLE
              / (2.0 * a.ng * bb.ng))
            / sqrt((s.n::DOUBLE * (s.n + 1) / 12.0
                - tt.t::DOUBLE / (12.0 * (s.n - 1)))
              * (a.ng::DOUBLE + bb.ng) / (a.ng::DOUBLE * bb.ng)))
          END)::BIGINT AS z_milli
      FROM gg a JOIN gg bb ON a.g < bb.g, s, tt"""))

  /** HHI source concentration inside each language slice of the
    * documents table — pure integer, no doubles.
    */
  private val q313 = Q(
    "q313_hhi_concentration",
    (spark, dir) => Corpus.hhiConcentration(
      pq(spark, dir, "documents"), "lang", "source"),
    Some("""WITH cc AS (SELECT lang::VARCHAR grp, source::VARCHAR c,
          COUNT(*)::BIGINT nc FROM documents
        WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
      g AS (SELECT grp, SUM(nc)::BIGINT n, COUNT(*)::BIGINT k,
          SUM(nc::HUGEINT * nc)::HUGEINT sq FROM cc GROUP BY 1)
      SELECT grp, n, k,
        ((sq * 1000000) // (n::HUGEINT * n))::BIGINT AS hhi_micro,
        (CASE WHEN k >= 2 THEN
          ((k * sq - n::HUGEINT * n) * 1000000)
            // (n::HUGEINT * n * (k - 1)) END)::BIGINT AS hhi_norm_micro
      FROM g"""))

  /** Isotonic (PAVA) recalibration map of the q154 reliability curve —
    * minimax over exact integer segment rates, monotone by
    * construction.
    */
  private val q314 = Q(
    "q314_isotonic_calibration",
    (spark, dir) => {
      val e = pq(spark, dir, "events").select(
        (get_json_object(col("props"), "$.k").cast("long") % 2 === 0)
          .as("label"),
        (col("value") / 500.0).as("score"))
      Eval.isotonicCalibration(e, "label", "score", bins = 12)
    },
    Some("""WITH b AS (SELECT
          (json_extract(props, '$.k')::BIGINT % 2 = 0) AS lab,
          value / 500.0 s FROM events
        WHERE value IS NOT NULL AND json_extract(props, '$.k') IS NOT NULL),
      r AS (SELECT LEAST(GREATEST(floor(s * 12)::BIGINT, 0), 11) bin,
          CASE WHEN lab THEN 1 ELSE 0 END y FROM b),
      pb AS (SELECT bin, COUNT(*)::BIGINT n, SUM(y)::BIGINT n_pos
        FROM r GROUP BY 1),
      cand AS (SELECT a.bin ab, c.bin bb,
          (SUM(x.n_pos)::HUGEINT * 1000000 // SUM(x.n)) cv
        FROM pb a JOIN pb c ON a.bin <= c.bin
          JOIN pb x ON x.bin BETWEEN a.bin AND c.bin
        GROUP BY 1, 2),
      mn AS (SELECT cand.ab, i.bin ib, MIN(cv) m
        FROM cand JOIN pb i ON cand.ab <= i.bin AND cand.bb >= i.bin
        GROUP BY 1, 2),
      iso AS (SELECT ib bin, MAX(m)::BIGINT iso FROM mn GROUP BY 1)
      SELECT pb.bin, pb.n, pb.n_pos,
        (pb.n_pos::HUGEINT * 1000000 // pb.n)::BIGINT AS obs_rate_micro,
        iso.iso AS iso_micro
      FROM pb JOIN iso USING (bin)"""))

  /** Poisson overdispersion of per-user event counts by event type —
    * pure integer VMR and chi-square dispersion statistic.
    */
  private val q315 = Q(
    "q315_dispersion_index",
    (spark, dir) => Features.dispersionIndex(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).cast("double").as("cnt")),
      "event_type", "cnt"),
    Some("""WITH c AS (SELECT event_type::VARCHAR grp, user_id,
          COUNT(*)::BIGINT v FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2),
      g AS (SELECT grp, COUNT(*)::BIGINT n, SUM(v::HUGEINT)::HUGEINT s,
          SUM(v::HUGEINT * v)::HUGEINT q FROM c GROUP BY 1)
      SELECT grp, n,
        (CASE WHEN s >= 0 THEN (s * 1000000) // n
          ELSE -(((-s) * 1000000) // n) END)::BIGINT AS mean_micro,
        (CASE WHEN n >= 2 AND s > 0 THEN
          ((n * q - s * s) * 1000000) // ((n - 1) * s) END)::BIGINT
          AS vmr_micro,
        (CASE WHEN n >= 2 AND s > 0 THEN
          ((n * q - s * s) * 1000) // s END)::BIGINT AS stat_milli
      FROM g"""))

  /** Linear-weighted Cohen's κ between two derived ordinal ratings of
    * events — exact confusion cells, exact marginal cross product, one
    * sign-split integer division; no doubles.
    */
  private val q316 = Q(
    "q316_weighted_kappa",
    (spark, dir) => {
      val e = pq(spark, dir, "events")
        .filter(col("value").isNotNull && col("user_id").isNotNull)
        .select(
          least(greatest(floor(col("value") / 100.0), lit(0L)), lit(5L))
            .as("ra"),
          least(greatest(
            floor((col("value") + pmod(col("user_id"), lit(50L))) / 100.0),
            lit(0L)), lit(5L)).as("rb"))
      Eval.weightedKappa(e, "ra", "rb")
    },
    Some("""WITH b AS (SELECT
          LEAST(GREATEST(floor(value / 100)::BIGINT, 0), 5) ra,
          LEAST(GREATEST(floor((value + user_id % 50) / 100)::BIGINT, 0), 5) rb
        FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
      cells AS (SELECT ra a, rb bc, COUNT(*)::BIGINT c FROM b GROUP BY 1, 2),
      ma AS (SELECT a, SUM(c)::BIGINT na FROM cells GROUP BY 1),
      mb AS (SELECT bc, SUM(c)::BIGINT nb FROM cells GROUP BY 1),
      o AS (SELECT SUM(c)::BIGINT n,
          SUM(c::HUGEINT * abs(a - bc))::HUGEINT ow FROM cells),
      e AS (SELECT SUM(na::HUGEINT * nb * abs(a - bc))::HUGEINT ew
        FROM ma, mb)
      SELECT o.n, (SELECT COUNT(*) FROM ma)::BIGINT AS k_a,
        (SELECT COUNT(*) FROM mb)::BIGINT AS k_b,
        (ow * 1000000 // n)::BIGINT AS obs_mean_w_micro,
        (ew * 1000000 // (n::HUGEINT * n))::BIGINT AS exp_mean_w_micro,
        (CASE WHEN ew > 0 THEN
          CASE WHEN ew - ow * n >= 0 THEN (ew - ow * n) * 1000000 // ew
          ELSE -(((ow * n - ew) * 1000000) // ew) END END)::BIGINT
          AS kappa_w_micro
      FROM o, e"""))

  /** Gwet's AC1 between event_type and a value-gated copy — the
    * prevalence-robust agreement companion to q252's Cohen κ; pure
    * integer through the 4n²(k−1) common denominator.
    */
  private val q317 = Q(
    "q317_gwet_ac1",
    (spark, dir) => {
      val e = pq(spark, dir, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_type").as("ra"),
          when(col("value") > 250, col("event_type")).otherwise(lit("other"))
            .as("rb"))
      Eval.gwetAc1(e, "ra", "rb")
    },
    Some("""WITH b AS (SELECT event_type::VARCHAR ra,
          (CASE WHEN value > 250 THEN event_type ELSE 'other' END)::VARCHAR rb
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      cells AS (SELECT ra, rb, COUNT(*)::BIGINT c FROM b GROUP BY 1, 2),
      m AS (SELECT v, SUM(c)::HUGEINT mv FROM (SELECT ra v, c FROM cells
          UNION ALL SELECT rb v, c FROM cells) GROUP BY 1),
      t AS (SELECT SUM(c)::HUGEINT n,
          SUM(CASE WHEN ra = rb THEN c ELSE 0 END)::HUGEINT agree FROM cells),
      kk AS (SELECT COUNT(*)::BIGINT k FROM m),
      s AS (SELECT SUM(mv * (2 * t.n - mv))::HUGEINT sv FROM m, t)
      SELECT t.n::BIGINT AS n, kk.k, t.agree::BIGINT AS n_agree,
        (CASE WHEN t.n > 0 THEN t.agree * 1000000 // t.n END)::BIGINT
          AS po_micro,
        (CASE WHEN kk.k >= 2 AND 4 * t.n * t.n * (kk.k - 1) > 0 THEN
          s.sv * 1000000 // (4 * t.n * t.n * (kk.k - 1)) END)::BIGINT
          AS pe_micro,
        (CASE WHEN kk.k >= 2 AND 4 * t.n * t.n * (kk.k - 1) - s.sv > 0 THEN
          CASE WHEN t.agree * 4 * t.n * (kk.k - 1) - s.sv >= 0 THEN
            (t.agree * 4 * t.n * (kk.k - 1) - s.sv) * 1000000
              // (4 * t.n * t.n * (kk.k - 1) - s.sv)
          ELSE -((s.sv - t.agree * 4 * t.n * (kk.k - 1)) * 1000000
              // (4 * t.n * t.n * (kk.k - 1) - s.sv)) END
         END)::BIGINT AS ac1_micro
      FROM t, kk, s"""))

  /** Cohen's h effect size between user-parity arms' high-value rates —
    * the sample-size-free magnitude q232's z cannot be.
    */
  private val q318 = Q(
    "q318_cohens_h",
    (spark, dir) => Causal.cohensH(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b").as("arm"),
          (col("value") > 250).as("succ")),
      "arm", "succ"),
    Some("""WITH b AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'arm_a'
            ELSE 'arm_b' END g, (value > 250) x FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL),
      g AS (SELECT g, COUNT(*)::BIGINT n,
          SUM(CASE WHEN x THEN 1 ELSE 0 END)::BIGINT x FROM b GROUP BY 1),
      a AS (SELECT * FROM g ORDER BY g LIMIT 1),
      bb AS (SELECT * FROM g ORDER BY g DESC LIMIT 1)
      SELECT a.g AS grp_a, bb.g AS grp_b, a.n AS n_a, bb.n AS n_b,
        a.x AS x_a, bb.x AS x_b,
        (a.x::HUGEINT * 1000000 // a.n)::BIGINT AS p_a_micro,
        (bb.x::HUGEINT * 1000000 // bb.n)::BIGINT AS p_b_micro,
        floor(1000.0 * (2.0 * asin(sqrt(a.x::DOUBLE / a.n))
          - 2.0 * asin(sqrt(bb.x::DOUBLE / bb.n))))::BIGINT AS h_milli
      FROM a, bb"""))

  /** Scott's π on the q316 ordinal-rater pair — the pooled-marginal leg
    * of the agreement triad (κ per-rater, AC1 unclear-fraction).
    */
  private val q319 = Q(
    "q319_scotts_pi",
    (spark, dir) => Eval.scottsPi(
      pq(spark, dir, "events")
        .filter(col("value").isNotNull && col("user_id").isNotNull)
        .select(
          least(greatest(floor(col("value") / 100.0), lit(0L)), lit(5L))
            .as("ra"),
          least(greatest(
            floor((col("value") + pmod(col("user_id"), lit(50L))) / 100.0),
            lit(0L)), lit(5L)).as("rb")),
      "ra", "rb"),
    Some("""WITH b AS (SELECT
          LEAST(GREATEST(floor(value / 100.0), 0), 5)::BIGINT ra,
          LEAST(GREATEST(floor((value + user_id % 50) / 100.0), 0), 5)
            ::BIGINT rb
        FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
      cells AS (SELECT ra, rb, COUNT(*)::BIGINT c FROM b GROUP BY 1, 2),
      m AS (SELECT v, SUM(c)::HUGEINT mv FROM (SELECT ra v, c FROM cells
          UNION ALL SELECT rb v, c FROM cells) GROUP BY 1),
      t AS (SELECT SUM(c)::HUGEINT n,
          SUM(CASE WHEN ra = rb THEN c ELSE 0 END)::HUGEINT agree
        FROM cells),
      s AS (SELECT SUM(mv * mv)::HUGEINT sv FROM m)
      SELECT t.n::BIGINT AS n, t.agree::BIGINT AS n_agree,
        (CASE WHEN t.n > 0 THEN t.agree * 1000000 // t.n END)::BIGINT
          AS po_micro,
        (CASE WHEN t.n > 0 THEN s.sv * 1000000 // (4 * t.n * t.n) END)
          ::BIGINT AS pe_micro,
        (CASE WHEN 4 * t.n * t.n - s.sv > 0 THEN
          CASE WHEN 4 * t.n * t.agree - s.sv >= 0 THEN
            (4 * t.n * t.agree - s.sv) * 1000000
              // (4 * t.n * t.n - s.sv)
          ELSE -((s.sv - 4 * t.n * t.agree) * 1000000
              // (4 * t.n * t.n - s.sv)) END
         END)::BIGINT AS pi_micro
      FROM t, s"""))

  /** Goodman–Kruskal λ: does event_type predict the value band's mode?
    * Pure integer proportional-reduction-in-error, both directions +
    * symmetric.
    */
  private val q320 = Q(
    "q320_gk_lambda",
    (spark, dir) => Eval.gkLambda(
      pq(spark, dir, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_type").as("a"),
          least(greatest(floor(col("value") / 100.0), lit(0L)), lit(5L))
            .as("b")),
      "a", "b"),
    Some("""WITH b AS (SELECT event_type::VARCHAR a,
          LEAST(GREATEST(floor(value / 100.0), 0), 5)::BIGINT bb
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      cells AS (SELECT a, bb, COUNT(*)::BIGINT c FROM b GROUP BY 1, 2),
      t AS (SELECT SUM(c)::HUGEINT n FROM cells),
      rm AS (SELECT SUM(mx)::HUGEINT s FROM
        (SELECT a, MAX(c) mx FROM cells GROUP BY 1)),
      cm AS (SELECT SUM(mx)::HUGEINT s FROM
        (SELECT bb, MAX(c) mx FROM cells GROUP BY 1)),
      cmm AS (SELECT MAX(m)::HUGEINT m FROM
        (SELECT bb, SUM(c) m FROM cells GROUP BY 1)),
      rmm AS (SELECT MAX(m)::HUGEINT m FROM
        (SELECT a, SUM(c) m FROM cells GROUP BY 1))
      SELECT t.n::BIGINT AS n, rm.s::BIGINT AS sum_rowmax,
        cm.s::BIGINT AS sum_colmax, cmm.m::BIGINT AS max_col_marginal,
        rmm.m::BIGINT AS max_row_marginal,
        (CASE WHEN t.n - cmm.m > 0 THEN
          (rm.s - cmm.m) * 1000000 // (t.n - cmm.m) END)::BIGINT
          AS lambda_b_given_a_micro,
        (CASE WHEN t.n - rmm.m > 0 THEN
          (cm.s - rmm.m) * 1000000 // (t.n - rmm.m) END)::BIGINT
          AS lambda_a_given_b_micro,
        (CASE WHEN 2 * t.n - cmm.m - rmm.m > 0 THEN
          (rm.s + cm.s - cmm.m - rmm.m) * 1000000
            // (2 * t.n - cmm.m - rmm.m) END)::BIGINT
          AS lambda_sym_micro
      FROM t, rm, cm, cmm, rmm"""))

  /** Theil's U between documents.lang and documents.source — how much
    * of the source mix does knowing the language resolve, and vice
    * versa (asymmetric by design).
    */
  private val q321 = Q(
    "q321_theils_u",
    (spark, dir) => Eval.theilsU(
      pq(spark, dir, "documents"), "lang", "source"),
    Some("""WITH b AS (SELECT lang::VARCHAR a, source::VARCHAR bb
        FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL),
      cells AS (SELECT a, bb, COUNT(*)::BIGINT c FROM b GROUP BY 1, 2),
      t AS (SELECT SUM(c)::BIGINT n FROM cells),
      ma AS (SELECT a, SUM(c)::BIGINT na FROM cells GROUP BY 1),
      mb AS (SELECT bb, SUM(c)::BIGINT nb FROM cells GROUP BY 1),
      ha AS (SELECT SUM(CAST(ROUND(1e6 * na * (ln(t.n::DOUBLE)
          - ln(na::DOUBLE)) / t.n) AS BIGINT))::BIGINT h FROM ma, t),
      hb AS (SELECT SUM(CAST(ROUND(1e6 * nb * (ln(t.n::DOUBLE)
          - ln(nb::DOUBLE)) / t.n) AS BIGINT))::BIGINT h FROM mb, t),
      hba AS (SELECT SUM(CAST(ROUND(1e6 * c * (ln(ma.na::DOUBLE)
          - ln(c::DOUBLE)) / t.n) AS BIGINT))::BIGINT h
        FROM cells JOIN ma USING(a), t),
      hab AS (SELECT SUM(CAST(ROUND(1e6 * c * (ln(mb.nb::DOUBLE)
          - ln(c::DOUBLE)) / t.n) AS BIGINT))::BIGINT h
        FROM cells JOIN mb USING(bb), t)
      SELECT t.n AS n, ha.h AS h_a_micro, hb.h AS h_b_micro,
        hba.h AS h_b_given_a_micro, hab.h AS h_a_given_b_micro,
        (CASE WHEN hb.h > 0 THEN
          GREATEST(hb.h - hba.h, 0)::HUGEINT * 1000000 // hb.h END)
          ::BIGINT AS u_b_given_a_micro,
        (CASE WHEN ha.h > 0 THEN
          GREATEST(ha.h - hab.h, 0)::HUGEINT * 1000000 // ha.h END)
          ::BIGINT AS u_a_given_b_micro
      FROM t, ha, hb, hba, hab"""))

  /** Youden-J optimal threshold for "value predicts the user-parity
    * class" over a 20-bin score sweep.
    */
  private val q322 = Q(
    "q322_youden_j",
    (spark, dir) => Eval.youdenJ(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select((pmod(col("user_id"), lit(3)) === 0).as("y"),
          (col("value") / 500.0).as("score")),
      "y", "score", bins = 20),
    Some("""WITH b AS (SELECT (user_id % 3 = 0) y,
          LEAST(GREATEST(floor((value / 500.0) * 20), 0), 19)::BIGINT bin
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      pb AS (SELECT bin, SUM(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT pos,
          SUM(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT neg
        FROM b GROUP BY 1),
      t AS (SELECT SUM(pos)::BIGINT p, SUM(neg)::BIGINT ng FROM pb),
      c AS (SELECT bin, SUM(pos) OVER (ORDER BY bin DESC)::BIGINT tp,
          SUM(neg) OVER (ORDER BY bin DESC)::BIGINT fp FROM pb),
      j AS (SELECT c.bin, c.tp, c.fp,
          (c.tp * 1000000 // t.p)::BIGINT tpr,
          (c.fp * 1000000 // t.ng)::BIGINT fpr FROM c, t)
      SELECT (t.p + t.ng)::BIGINT AS n, t.p AS n_pos, t.ng AS n_neg,
        j.bin AS best_bin, j.tp AS tp, j.fp AS fp,
        j.tpr AS tpr_micro, j.fpr AS fpr_micro,
        (j.tpr - j.fpr)::BIGINT AS j_micro
      FROM j, t ORDER BY (j.tpr - j.fpr) DESC, j.bin ASC LIMIT 1"""))

  /** Calinski–Harabasz validity of the embedding labels — are the
    * label groups geometrically real clusters?
    */
  private val q323 = Q(
    "q323_calinski_harabasz",
    (spark, dir) => Similarity.calinskiHarabasz(
      pq(spark, dir, "embeddings"), "label", "embedding"),
    Some("""WITH b AS (SELECT label::VARCHAR g, embedding e
        FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL
          AND len(embedding) > 0),
      x AS (SELECT g, unnest(generate_series(0, len(e) - 1)) d,
          round(unnest(e)::DOUBLE * 1e6)::BIGINT m FROM b),
      pd AS (SELECT g, d, SUM(m)::HUGEINT s, SUM(m::HUGEINT * m) q
        FROM x GROUP BY 1, 2),
      cnt AS (SELECT g, COUNT(*)::HUGEINT ng FROM b GROUP BY 1),
      pg AS (SELECT pd.g, SUM(pd.s * pd.s) qg, SUM(pd.q) tg
        FROM pd GROUP BY 1),
      agg AS (SELECT SUM(cnt.ng)::HUGEINT n, COUNT(*)::HUGEINT k,
          SUM(pg.tg) t, SUM(pg.qg // cnt.ng) sqg
        FROM pg JOIN cnt ON cnt.g = pg.g),
      qt AS (SELECT SUM(sd * sd)::HUGEINT q FROM
        (SELECT d, SUM(s) sd FROM pd GROUP BY 1))
      SELECT agg.n::BIGINT AS n, agg.k::BIGINT AS k,
        (CASE WHEN agg.k >= 2 AND agg.n > agg.k
            AND agg.t - agg.sqg > 0 THEN
          1000 * GREATEST(agg.sqg - qt.q // agg.n, 0) * (agg.n - agg.k)
            // ((agg.t - agg.sqg) * (agg.k - 1)) END)::BIGINT AS ch_milli
      FROM agg, qt"""))

  /** Spiegelhalter's z for "value/500 as a probability of the
    * user-parity class" — the no-binning calibration test next to
    * q275's binned Brier decomposition.
    */
  private val q324 = Q(
    "q324_spiegelhalter_z",
    (spark, dir) => Eval.spiegelhalterZ(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select((pmod(col("user_id"), lit(3)) === 0).as("y"),
          (col("value") / 500.0).as("score")),
      "y", "score"),
    Some("""WITH b AS (SELECT
          (CASE WHEN user_id % 3 = 0 THEN 1000000 ELSE 0 END)::BIGINT y,
          LEAST(GREATEST(floor((value / 500.0) * 1000000), 0), 1000000)
            ::BIGINT p
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      t AS (SELECT COUNT(*)::BIGINT n,
          SUM((y - p)::HUGEINT * (1000000 - 2 * p)) num,
          SUM(p::HUGEINT * (1000000 - p) * (1000000 - 2 * p)
            * (1000000 - 2 * p)) den
        FROM b)
      SELECT n,
        (CASE WHEN num >= 0 THEN num // 1000000
          ELSE -((-num) // 1000000) END)::BIGINT AS num_micro,
        (CASE WHEN den > 0 THEN
          floor(1000.0 * num::DOUBLE / sqrt(den::DOUBLE)) END)::BIGINT
          AS z_milli
      FROM t"""))

  /** MCC of "value > 200" predicting the user-parity class — the
    * imbalance-honest single number next to q322's threshold sweep.
    */
  private val q325 = Q(
    "q325_mcc",
    (spark, dir) => Eval.matthewsCorrelation(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select((pmod(col("user_id"), lit(3)) === 0).as("y"),
          (col("value") > 200).as("p")),
      "y", "p"),
    Some("""WITH b AS (SELECT (user_id % 3 = 0) y, (value > 200) p
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      t AS (SELECT COUNT(*)::BIGINT n,
          SUM(CASE WHEN y AND p THEN 1 ELSE 0 END)::BIGINT tp,
          SUM(CASE WHEN NOT y AND p THEN 1 ELSE 0 END)::BIGINT fp,
          SUM(CASE WHEN y AND NOT p THEN 1 ELSE 0 END)::BIGINT fn,
          SUM(CASE WHEN NOT y AND NOT p THEN 1 ELSE 0 END)::BIGINT tn
        FROM b)
      SELECT n, tp, fp, fn, tn,
        (CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0
            AND tn + fn > 0 THEN
          floor(1000.0 * (tp::HUGEINT * tn - fp::HUGEINT * fn)::DOUBLE
            / sqrt(((tp + fp)::HUGEINT * (tp + fn) * (tn + fp)
              * (tn + fn))::DOUBLE)) END)::BIGINT AS mcc_milli
      FROM t"""))

  /** Log-loss of value/500 as a probability of the user-parity class —
    * the proper-scoring-rule companion to q324's calibration z.
    */
  private val q326 = Q(
    "q326_log_loss",
    (spark, dir) => Eval.logLoss(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select((pmod(col("user_id"), lit(3)) === 0).as("y"),
          (col("value") / 500.0).as("score")),
      "y", "score"),
    Some("""WITH b AS (SELECT (user_id % 3 = 0) y,
          LEAST(GREATEST(floor((value / 500.0) * 1000000), 0), 1000000)
            ::BIGINT p
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      q AS (SELECT y, LEAST(GREATEST(
          CASE WHEN y THEN p ELSE 1000000 - p END, 1), 999999)::BIGINT q
        FROM b),
      t AS (SELECT COUNT(*)::BIGINT n,
          SUM(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT n_pos,
          SUM(CAST(ROUND(-1e6 * ln(q / 1000000.0)) AS BIGINT))::BIGINT s
        FROM q)
      SELECT n, n_pos,
        (CASE WHEN n > 0 THEN s // n END)::BIGINT AS mean_logloss_micro
      FROM t"""))

  /** Good–Turing smoothing profile of the documents token stream —
    * r* table for r 1..10 plus the unseen-mass constant.
    */
  private val q327 = Q(
    "q327_good_turing_profile",
    (spark, dir) => Corpus.goodTuring(
      pq(spark, dir, "documents"), "text", maxR = 10),
    Some("""WITH tf AS (SELECT term, COUNT(*)::BIGINT tf FROM
          (SELECT unnest(string_split(trim(text), ' ')) term
           FROM documents WHERE text IS NOT NULL)
        WHERE length(term) > 0 GROUP BY 1),
      tot AS (SELECT COALESCE(SUM(tf), 0)::BIGINT n, COUNT(*)::BIGINT v
        FROM tf),
      f AS (SELECT tf r, COUNT(*)::BIGINT f FROM tf
        WHERE tf <= 11 GROUP BY 1),
      u AS (SELECT COALESCE((SELECT f FROM f WHERE r = 1), 0)::HUGEINT f1),
      rs AS (SELECT unnest(generate_series(1, 10)) r)
      SELECT rs.r::BIGINT AS r, COALESCE(fr.f, 0)::BIGINT AS f_r,
        COALESCE(fn.f, 0)::BIGINT AS f_next,
        (CASE WHEN COALESCE(fr.f, 0) > 0 THEN
          (rs.r + 1)::HUGEINT * COALESCE(fn.f, 0) * 1000000 // fr.f END)
          ::BIGINT AS r_star_micro,
        tot.n AS n_tokens, tot.v AS n_types,
        (CASE WHEN tot.n > 0 THEN u.f1 * 1000000 // tot.n END)::BIGINT
          AS unseen_mass_micro
      FROM rs LEFT JOIN f fr ON fr.r = rs.r
        LEFT JOIN f fn ON fn.r = rs.r + 1, tot, u"""))

  /** MAP@10 on the q219 ranking shape (md5 scores, value>=50 relevance)
    * — every-relevant-item ranking quality next to NDCG's graded gain.
    */
  private val q328 = Q(
    "q328_map_at_k",
    (spark, dir) => {
      val raw = pq(spark, dir, "events")
      Eval.meanAveragePrecision(
        raw.filter(col("user_id").isNotNull && col("event_id").isNotNull &&
            col("value").isNotNull)
          .withColumn("score",
            md5(concat(lit("s9|"), col("event_id").cast("string"))))
          .withColumn("rel", col("value") >= 50.0),
        "user_id", "event_id", "score", "rel", k = 10)
    },
    Some("""WITH b AS (SELECT user_id, event_id, (value >= 50.0) rel,
          md5('s9|' || event_id::VARCHAR) score
        FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
          AND value IS NOT NULL),
      r AS (SELECT *,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY score DESC, event_id ASC) pos,
          SUM(CASE WHEN rel THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
            ORDER BY score DESC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) hits
        FROM b),
      pq AS (SELECT user_id,
          SUM(CASE WHEN rel THEN 1 ELSE 0 END)::BIGINT nrel,
          SUM(CASE WHEN rel AND pos <= 10
            THEN hits * 1000000 // pos ELSE 0 END)::BIGINT tsum
        FROM r GROUP BY 1),
      ap AS (SELECT (tsum // LEAST(nrel, 10))::BIGINT ap FROM pq
        WHERE nrel > 0)
      SELECT COUNT(*)::BIGINT AS n_queries,
        (CASE WHEN COUNT(*) > 0 THEN SUM(ap) // COUNT(*) END)::BIGINT
          AS map_micro
      FROM ap"""))

  /** Corpus next-token predictability: Theil's U of (prev → next)
    * token pairs over documents — the sequential-structure audit
    * behind the per-doc bigram LM score.
    */
  private val q329 = Q(
    "q329_bigram_cond_entropy",
    (spark, dir) => TextOps.bigramConditionalEntropy(
      pq(spark, dir, "documents"), "text"),
    Some("""WITH ws AS (SELECT list_filter(string_split(trim(text), ' '),
          w -> length(w) > 0) ws
        FROM documents WHERE text IS NOT NULL),
      cells AS (SELECT w1, w2, COUNT(*)::BIGINT c FROM
        (SELECT ws[g] w1, ws[g + 1] w2 FROM
          (SELECT ws, unnest(generate_series(1, len(ws) - 1)) g FROM ws))
        GROUP BY 1, 2),
      t AS (SELECT COALESCE(SUM(c), 0)::BIGINT n,
          COUNT(*)::BIGINT nt FROM cells),
      m1 AS (SELECT w1, SUM(c)::BIGINT c1 FROM cells GROUP BY 1),
      p AS (SELECT COUNT(*)::BIGINT np FROM m1),
      hn AS (SELECT SUM(CAST(ROUND(1e6 * c2 * (ln(t.n::DOUBLE)
          - ln(c2::DOUBLE)) / t.n) AS BIGINT))::BIGINT h FROM
        (SELECT w2, SUM(c)::BIGINT c2 FROM cells GROUP BY 1), t),
      hc AS (SELECT SUM(CAST(ROUND(1e6 * c * (ln(c1::DOUBLE)
          - ln(c::DOUBLE)) / t.n) AS BIGINT))::BIGINT h
        FROM cells JOIN m1 USING (w1), t)
      SELECT t.n AS n_bigrams, p.np AS n_prev_types,
        t.nt AS n_bigram_types, hn.h AS h_next_micro,
        hc.h AS h_cond_micro,
        (CASE WHEN hn.h > 0 THEN
          GREATEST(hn.h - hc.h, 0)::HUGEINT * 1000000 // hn.h END)
          ::BIGINT AS predictability_u_micro
      FROM t, p, hn, hc"""))

  /** Bartlett variance-homogeneity χ² across event types — the
    * normal-theory companion to q277's Brown–Forsythe (disagreement
    * between the two is the heavy-tail diagnostic).
    */
  private val q330 = Q(
    "q330_bartlett",
    (spark, dir) => Features.bartlett(
      pq(spark, dir, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull),
      "event_type", "value"),
    Some("""WITH b AS (SELECT event_type::VARCHAR g,
          floor(value * 1e6)::BIGINT v
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      gg AS (SELECT g, COUNT(*)::BIGINT ng, SUM(v::HUGEINT) sg,
          SUM(v::HUGEINT * v) qg FROM b GROUP BY 1),
      gv AS (SELECT g, ng, ng * qg - sg * sg AS vv FROM gg),
      u AS (SELECT * FROM gv WHERE ng >= 2 AND vv > 0),
      tot AS (SELECT COALESCE(SUM(ng), 0)::HUGEINT n,
          COUNT(*)::HUGEINT k,
          (SELECT COUNT(*) FROM gv)::BIGINT total_groups FROM u),
      s AS (SELECT SUM((ng - 1) * CAST(ROUND(1e6 *
            ln(vv::DOUBLE / (ng::DOUBLE * (ng - 1)))) AS BIGINT))
            ::HUGEINT lnsum,
          SUM(vv // ng)::HUGEINT pooled,
          SUM(1000000000000 // (ng - 1))::HUGEINT recips FROM u)
      SELECT tot.n::BIGINT AS n, tot.k::BIGINT AS n_groups,
        (tot.total_groups - tot.k)::BIGINT AS n_dropped,
        GREATEST(tot.k - 1, 0)::BIGINT AS df,
        (CASE WHEN tot.k >= 2 AND tot.n > tot.k THEN
          floor(1000.0 * (((tot.n - tot.k) * CAST(ROUND(1e6 *
              ln(s.pooled::DOUBLE / (tot.n - tot.k)::DOUBLE)) AS BIGINT)
            - s.lnsum)::DOUBLE / 1e6)
            / (1.0 + (s.recips - 1000000000000
                // (tot.n - tot.k))::DOUBLE / 1e12
              / (3.0 * (tot.k - 1)::DOUBLE)))
         END)::BIGINT AS chi2_milli
      FROM tot, s"""))

  /** Star salvage of over-cap LSH buckets, end-to-end on an injected
    * boilerplate family (the ScaleCheck `minhash_capstress` shape at
    * oracle scale): every 5th doc's text becomes one fixed string, so
    * each of the 4 bands holds ONE bucket with the whole family — far
    * over maxBucket=50 — and the round-15 salvage must star the family
    * through its min-id representative instead of silently dropping it
    * (the pre-salvage behavior: ZERO pairs from the corpus's
    * most-duplicated content). The rollup proves full-family linkage
    * without an iterative CC oracle: family members bucket ONLY into hot
    * buckets, so every family pair goes through the rep — n_star must
    * equal n_fam − 1, one audited hot bucket per band, rep = family min
    * id. n_pairs counts the whole candidate set (star + full-density
    * under-cap pairs), pinning that salvage ADDS to the under-cap output
    * rather than replacing it.
    */
  private val q331 = Q(
    "q331_lsh_star_salvage",
    (spark, dir) => {
      val boiler = "terms of service apply to every page of this mirror archive"
      val docs = pq(spark, dir, "documents")
      val injected = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(boiler))
          .otherwise(col("text")).as("text"))
      // ONE band-bucket pass feeds pairs AND the audit (the production
      // pattern the audit scaladoc prescribes)
      val bb = Dedup.minhashBandBuckets(injected, "doc_id", "text", 3, 16, 4)
      val pairs = Dedup.minhashLshPairsFromBuckets(bb, maxBucket = 50L)
        .localCheckpoint(true)
      val fam = injected.filter(pmod(col("doc_id"), lit(5)) === 0)
        .agg(count(lit(1)).as("n_fam"), min(col("doc_id")).as("rep"))
      val audit = Dedup.overCapBucketsFromBuckets(bb, maxBucket = 50L)
      fam
        .crossJoin(audit.agg(count(lit(1)).as("n_hot_buckets")))
        .crossJoin(pairs.crossJoin(fam.select(col("rep").as("__r")))
          .filter(col("id_a") === col("__r"))
          .agg(count(lit(1)).as("n_star")))
        .crossJoin(pairs.agg(count(lit(1)).as("n_pairs")))
        .select(col("n_fam"), col("rep"), col("n_hot_buckets"),
          col("n_star"), col("n_pairs"))
    },
    Some {
      val mins = (0 until 16)
        .map(i => s"MIN(substr(h, ${i + 1}, 15)) m$i")
        .mkString(", ")
      val bands = (0 until 4).map { b =>
        val cols = (0 until 4).map(r => s"m${b * 4 + r}").mkString(", ")
        s"SELECT doc_id, $b band, md5(concat_ws('|', $cols)) bucket FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH d AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN
          'terms of service apply to every page of this mirror archive'
          ELSE text END AS text FROM documents),
      toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM d),
      sh AS (SELECT DISTINCT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS s
        FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) g FROM toks)),
      hh AS (SELECT doc_id, md5(s) h FROM sh),
      sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id),
      bands AS ($bands),
      cnt AS (SELECT band, bucket, COUNT(*) n, MIN(doc_id) rep
        FROM bands GROUP BY 1, 2),
      hot AS (SELECT * FROM cnt WHERE n > 50),
      kept AS (SELECT b.doc_id, b.band, b.bucket FROM bands b
        WHERE NOT EXISTS (SELECT 1 FROM hot h
          WHERE h.band = b.band AND h.bucket = b.bucket)),
      fullp AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b FROM kept a
        JOIN kept b ON a.band = b.band AND a.bucket = b.bucket
          AND a.doc_id < b.doc_id),
      star AS (SELECT DISTINCT h.rep id_a, b.doc_id id_b FROM bands b
        JOIN hot h ON h.band = b.band AND h.bucket = b.bucket
        WHERE b.doc_id <> h.rep),
      pairs AS (SELECT id_a, id_b FROM fullp UNION
        SELECT id_a, id_b FROM star),
      fam AS (SELECT COUNT(*)::BIGINT n_fam, MIN(doc_id)::BIGINT rep
        FROM d WHERE doc_id % 5 = 0),
      nh AS (SELECT COUNT(*)::BIGINT n_hot_buckets FROM hot),
      ns AS (SELECT COUNT(*)::BIGINT n_star FROM pairs, fam
        WHERE id_a = fam.rep),
      np AS (SELECT COUNT(*)::BIGINT n_pairs FROM pairs)
      SELECT fam.n_fam, fam.rep, nh.n_hot_buckets, ns.n_star, np.n_pairs
      FROM fam, nh, ns, np"""
    })

  /** The `maxDf` audit side channel ([[Dedup.hotShingles]]) on an
    * injected boilerplate tail (the `jaccard_capstress` shape at oracle
    * scale): every 4th doc gains a fixed 4-word suffix, making its two
    * interior shingles hot (df = ~n/4 ≫ maxDf=50) while tail-boundary
    * shingles stay per-doc-rare. Output is the dropped-shingle table the
    * no-silent-caps rule requires — what a production run materializes
    * next to the pair output to see exactly which recall the skew cap
    * traded away.
    */
  private val q332 = Q(
    "q332_hot_shingle_audit",
    (spark, dir) => {
      val docs = pq(spark, dir, "documents")
      val injected = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(col("text"), lit(" zq alpha beta gamma")))
          .otherwise(col("text")).as("text"))
      Dedup.hotShingles(injected, "doc_id", "text", 3, maxDf = 50L)
    },
    Some("""WITH d AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN
          text || ' zq alpha beta gamma' ELSE text END AS text
        FROM documents),
      toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM d),
      sh AS (SELECT DISTINCT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS s
        FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) g FROM toks))
      SELECT s AS shingle, COUNT(*)::BIGINT AS df FROM sh
      GROUP BY 1 HAVING COUNT(*) > 50"""))

  /** Cluster-level proof of the star salvage (q331's companion): the
    * injected over-cap family must come out of the FULL dedup pipeline —
    * LSH candidates → connected components → survivor assignment — as
    * ONE cluster absorbing n_fam−1 duplicates, which is exactly what the
    * pre-salvage drop made impossible (the family produced zero pairs,
    * so every boilerplate copy survived as its own "cluster"). Oracle
    * recomputes the salvaged pair set and closes it with a recursive
    * CTE (two different CC algorithms agreeing exactly, the q42
    * convention).
    */
  private val q333 = Q(
    "q333_salvage_clusters",
    (spark, dir) => {
      val boiler = "terms of service apply to every page of this mirror archive"
      val docs = pq(spark, dir, "documents")
      val injected = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(boiler))
          .otherwise(col("text")).as("text"))
      val pairs = Dedup.minhashLshPairs(injected, "doc_id", "text",
        maxBucket = 50L)
      Cluster.dedupApply(docs.select("doc_id", "lang"), "doc_id",
        pairs, "id_a", "id_b")
    },
    Some {
      val mins = (0 until 16)
        .map(i => s"MIN(substr(h, ${i + 1}, 15)) m$i")
        .mkString(", ")
      val bands = (0 until 4).map { b =>
        val cols = (0 until 4).map(r => s"m${b * 4 + r}").mkString(", ")
        s"SELECT doc_id, $b band, md5(concat_ws('|', $cols)) bucket FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH RECURSIVE d AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN
          'terms of service apply to every page of this mirror archive'
          ELSE text END AS text FROM documents),
      toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM d),
      sh AS (SELECT DISTINCT doc_id, concat_ws(' ', ws[g], ws[g+1], ws[g+2]) AS s
        FROM (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) g FROM toks)),
      hh AS (SELECT doc_id, md5(s) h FROM sh),
      sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id),
      bands AS ($bands),
      cnt AS (SELECT band, bucket, COUNT(*) n, MIN(doc_id) rep
        FROM bands GROUP BY 1, 2),
      hot AS (SELECT * FROM cnt WHERE n > 50),
      kept AS (SELECT b.doc_id, b.band, b.bucket FROM bands b
        WHERE NOT EXISTS (SELECT 1 FROM hot h
          WHERE h.band = b.band AND h.bucket = b.bucket)),
      fullp AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b FROM kept a
        JOIN kept b ON a.band = b.band AND a.bucket = b.bucket
          AND a.doc_id < b.doc_id),
      star AS (SELECT DISTINCT h.rep id_a, b.doc_id id_b FROM bands b
        JOIN hot h ON h.band = b.band AND h.bucket = b.bucket
        WHERE b.doc_id <> h.rep),
      pairs AS (SELECT id_a, id_b FROM fullp UNION
        SELECT id_a, id_b FROM star),
      sym AS (SELECT id_a u, id_b v FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(u, v) AS (SELECT u, v FROM sym
        UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
      lbl AS (SELECT u, MIN(v) mv FROM reach GROUP BY u),
      asg AS (SELECT dd.doc_id,
          LEAST(dd.doc_id, COALESCE(l.mv, dd.doc_id)) AS cluster
        FROM documents dd LEFT JOIN lbl l ON l.u = dd.doc_id),
      surv AS (SELECT cluster, COUNT(*) - 1 AS n_dropped FROM asg GROUP BY 1)
      SELECT dd.doc_id, dd.lang, s.n_dropped::BIGINT AS n_dropped
      FROM documents dd JOIN surv s ON dd.doc_id = s.cluster"""
    })

  /** Davies–Bouldin over the labelled embedding clusters — the
    * worst-neighbor-overlap validity index next to q323's variance
    * ratio and q84's silhouette.
    */
  private val q334 = Q(
    "q334_davies_bouldin",
    (spark, dir) => Similarity.daviesBouldin(
      pq(spark, dir, "embeddings"), "label", "embedding"),
    Some("""WITH b AS (SELECT vec_id, label::VARCHAR g, embedding e
        FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL
          AND len(embedding) > 0),
      m AS (SELECT vec_id, g, unnest(generate_series(0, len(e) - 1)) d,
          round(unnest(e)::DOUBLE * 1e6)::BIGINT v FROM b),
      pd AS (SELECT g, d, SUM(v)::HUGEINT s, COUNT(*) c FROM m GROUP BY 1, 2),
      cnt AS (SELECT g, MAX(CASE WHEN d = 0 THEN c END)::HUGEINT ng
        FROM pd GROUP BY 1),
      ms AS (SELECT m.vec_id, m.g,
          SUM((cnt.ng * m.v - pd.s) * (cnt.ng * m.v - pd.s)) ssq
        FROM m JOIN pd ON pd.g = m.g AND pd.d = m.d
        JOIN cnt ON cnt.g = m.g GROUP BY 1, 2),
      dm AS (SELECT ms.g, CAST(ROUND(sqrt(ssq::DOUBLE) / cnt.ng) AS BIGINT) t
        FROM ms JOIN cnt ON cnt.g = ms.g),
      si AS (SELECT dm.g, SUM(t) // cnt.ng si
        FROM dm JOIN cnt ON cnt.g = dm.g GROUP BY dm.g, cnt.ng),
      pr AS (SELECT a.g ga, b.g gb, CAST(ROUND(
            sqrt(SUM((cb.ng * a.s - ca.ng * b.s) *
                     (cb.ng * a.s - ca.ng * b.s))::DOUBLE)
            / (ca.ng * cb.ng)) AS BIGINT) mm
        FROM pd a JOIN pd b ON a.d = b.d AND a.g <> b.g
        JOIN cnt ca ON ca.g = a.g JOIN cnt cb ON cb.g = b.g
        GROUP BY a.g, b.g, ca.ng, cb.ng),
      r AS (SELECT pr.ga, MAX((sa.si + sb.si) * 1000 // pr.mm) rmax
        FROM pr JOIN si sa ON sa.g = pr.ga JOIN si sb ON sb.g = pr.gb
        WHERE pr.mm > 0 GROUP BY 1),
      agg AS (SELECT COUNT(*) kc, COALESCE(SUM(rmax), 0) sr FROM r),
      tot AS (SELECT COALESCE(SUM(ng), 0)::BIGINT n, COUNT(*)::BIGINT k
        FROM cnt)
      SELECT tot.n, tot.k,
        (CASE WHEN tot.k >= 2 AND agg.kc > 0 THEN agg.sr // agg.kc
         END)::BIGINT AS db_milli
      FROM tot, agg"""))

  /** Adjusted Rand between the two real categorical partitions of the
    * corpus (language vs source) — pair-counting agreement, chance-
    * corrected; the q104-family association tests measure dependence,
    * ARI measures partition REPRODUCTION.
    */
  private val q335 = Q(
    "q335_adjusted_rand",
    (spark, dir) => Cluster.adjustedRand(
      pq(spark, dir, "documents"), "lang", "source"),
    Some("""WITH c AS (SELECT lang c, source l FROM documents
        WHERE lang IS NOT NULL AND source IS NOT NULL),
      cells AS (SELECT c, l, COUNT(*)::BIGINT o FROM c GROUP BY 1, 2),
      sab AS (SELECT COALESCE(SUM(o), 0)::BIGINT n,
          COALESCE(SUM(o::HUGEINT * (o - 1) // 2), 0)::HUGEINT sp FROM cells),
      sa AS (SELECT COUNT(*)::BIGINT n_clusters,
          COALESCE(SUM(ac::HUGEINT * (ac - 1) // 2), 0)::HUGEINT s FROM
        (SELECT c, SUM(o) ac FROM cells GROUP BY 1)),
      sb AS (SELECT COUNT(*)::BIGINT n_labels,
          COALESCE(SUM(bl::HUGEINT * (bl - 1) // 2), 0)::HUGEINT s FROM
        (SELECT l, SUM(o) bl FROM cells GROUP BY 1)),
      f AS (SELECT sab.n, sa.n_clusters, sb.n_labels, sab.sp, sa.s sa2,
          sb.s sb2, (sab.n::HUGEINT * (sab.n - 1) // 2) t
        FROM sab, sa, sb),
      g AS (SELECT *, 2 * (sp * t - sa2 * sb2) num,
          (sa2 + sb2) * t - 2 * sa2 * sb2 den FROM f)
      SELECT n, n_clusters, n_labels, sp::BIGINT AS s_pairs,
        sa2::BIGINT AS s_a, sb2::BIGINT AS s_b,
        (CASE WHEN den > 0 THEN
          CASE WHEN num >= 0 THEN 1000 * num // den
               ELSE -((1000 * (-num)) // den) END
         END)::BIGINT AS ari_milli
      FROM g"""))

  /** BCubed of exact-duplicate families (md5(text) groups) against the
    * source column — the per-item dedup-cluster quality readout: does a
    * family stay within one source (precision) and does a source's
    * duplicated content land in one family (recall)?
    */
  private val q336 = Q(
    "q336_bcubed",
    (spark, dir) => Cluster.bcubed(
      pq(spark, dir, "documents")
        .select(md5(col("text")).as("fam"), col("source")),
      "fam", "source"),
    Some("""WITH c AS (SELECT md5(text) c, source l FROM documents
        WHERE text IS NOT NULL AND source IS NOT NULL),
      cells AS (SELECT c, l, COUNT(*)::BIGINT o FROM c GROUP BY 1, 2),
      mc AS (SELECT c, SUM(o) nc FROM cells GROUP BY 1),
      ml AS (SELECT l, SUM(o) nl FROM cells GROUP BY 1),
      t AS (SELECT COALESCE(SUM(o), 0)::BIGINT n,
          COALESCE(SUM((o::HUGEINT * o * 1000000) // nc), 0)::HUGEINT pt,
          COALESCE(SUM((o::HUGEINT * o * 1000000) // nl), 0)::HUGEINT rt
        FROM cells JOIN mc USING (c) JOIN ml USING (l)),
      pr AS (SELECT t.n,
          (SELECT COUNT(*) FROM mc)::BIGINT n_clusters,
          (SELECT COUNT(*) FROM ml)::BIGINT n_labels,
          (CASE WHEN t.n > 0 THEN pt // t.n END)::BIGINT p,
          (CASE WHEN t.n > 0 THEN rt // t.n END)::BIGINT r
        FROM t)
      SELECT n, n_clusters, n_labels, p AS bcubed_p_micro,
        r AS bcubed_r_micro,
        (CASE WHEN p + r > 0 THEN (2 * p::HUGEINT * r) // (p + r)
         END)::BIGINT AS bcubed_f_micro
      FROM pr"""))

  /** Hosmer–Lemeshow on the q324/q326 score shape — the binned
    * goodness-of-fit test completing the calibration battery
    * (reliability diagram q275, Spiegelhalter z q324, log-loss q326).
    */
  private val q337 = Q(
    "q337_hosmer_lemeshow",
    (spark, dir) => Eval.hosmerLemeshow(
      pq(spark, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select((pmod(col("user_id"), lit(3)) === 0).as("y"),
          (col("value") / 500.0).as("score")),
      "y", "score"),
    Some("""WITH b AS (SELECT (user_id % 3 = 0) y,
          LEAST(GREATEST(floor((value / 500.0) * 1000000), 0), 1000000)
            ::BIGINT p
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      bb AS (SELECT y, p, LEAST(p * 10 // 1000000, 9)::BIGINT bin FROM b),
      g AS (SELECT bin, COUNT(*)::BIGINT nb,
          SUM(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT o,
          SUM(p)::BIGINT e FROM bb GROUP BY 1),
      t AS (SELECT *, (e > 0 AND e < nb * 1000000) usable,
          CAST(ROUND((o * 1000000 - e)::DOUBLE * (o * 1000000 - e)::DOUBLE
            * nb::DOUBLE * 1e6 / e::DOUBLE
            / (nb * 1000000 - e)::DOUBLE) AS BIGINT) term FROM g),
      agg AS (SELECT COALESCE(SUM(nb), 0)::BIGINT n,
          COALESCE(SUM(CASE WHEN usable THEN 1 ELSE 0 END), 0)::BIGINT kept,
          COALESCE(SUM(CASE WHEN NOT usable THEN 1 ELSE 0 END), 0)::BIGINT dropped,
          SUM(CASE WHEN usable THEN term END)::BIGINT s FROM t)
      SELECT n, kept AS n_bins_kept, dropped AS n_dropped_bins,
        (CASE WHEN kept > 0 THEN GREATEST(kept - 2, 1) END)::BIGINT AS df,
        (CASE WHEN kept > 0 THEN s // 1000 END)::BIGINT AS chi2_milli
      FROM agg"""))

  /** Matryoshka truncation audit: brute-force cosine top-10 with the
    * full 64-dim embedding vs the first-32-dims prefix — per-query
    * overlap is the recall the dimension cut trades away (the modern
    * "can I store half the vector" capacity decision, measured instead
    * of guessed). Composes [[Similarity.bruteForceTopK]] at two widths;
    * exact because both sides rank on 6-dp-rounded cosine with the
    * same id tiebreak.
    */
  private val q338 = Q(
    "q338_matryoshka_audit",
    (spark, dir) => {
      val emb = pq(spark, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 50)
      def topk(d: DataFrame, q: DataFrame) = Similarity.bruteForceTopK(
        d, q, "vec_id", "embedding", "vec_id", "embedding", k = 10)
      val half = topk(
        emb.withColumn("embedding", slice(col("embedding"), 1, 32)),
        qs.withColumn("embedding", slice(col("embedding"), 1, 32)))
      val full = topk(emb, qs)
      full.join(half, Seq("query_id", "nbr_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_common"))
        .join(full.groupBy("query_id").agg(count(lit(1)).as("__k")),
          Seq("query_id"), "right")
        .select(col("query_id"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          expr("coalesce(n_common, 0L) * 1000000 div __k").as("recall_micro"))
        .distinct()
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] qv,
          (embedding[1:32])::DOUBLE[] qh FROM embeddings WHERE vec_id < 50),
      c AS (SELECT vec_id AS nbr_id, embedding::DOUBLE[] cv,
          (embedding[1:32])::DOUBLE[] ch FROM embeddings),
      sf AS (SELECT query_id, nbr_id,
          ROUND(list_dot_product(cv, qv) /
            (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 6) AS score
        FROM c, q WHERE nbr_id <> query_id),
      rf AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY score DESC, nbr_id) rnk FROM sf),
      tf AS (SELECT query_id, nbr_id FROM rf WHERE rnk <= 10),
      sh AS (SELECT query_id, nbr_id,
          ROUND(list_dot_product(ch, qh) /
            (sqrt(list_dot_product(ch, ch)) * sqrt(list_dot_product(qh, qh))), 6) AS score
        FROM c, q WHERE nbr_id <> query_id),
      rh AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY score DESC, nbr_id) rnk FROM sh),
      th AS (SELECT query_id, nbr_id FROM rh WHERE rnk <= 10),
      kk AS (SELECT query_id, COUNT(*) k FROM tf GROUP BY 1),
      ov AS (SELECT tf.query_id, COUNT(*) n_common FROM tf
        JOIN th ON th.query_id = tf.query_id AND th.nbr_id = tf.nbr_id
        GROUP BY 1)
      SELECT kk.query_id, COALESCE(ov.n_common, 0)::BIGINT AS n_common,
        (COALESCE(ov.n_common, 0) * 1000000 // kk.k)::BIGINT AS recall_micro
      FROM kk LEFT JOIN ov ON ov.query_id = kk.query_id"""))

  val all: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19,
    q20, q21, q22, q23, q24, q25, q26, q27, q28, q29,
    q30, q31, q32, q33, q34, q35, q36, q37, q38, q39,
    q40, q41, q42, q43, q44, q45, q46, q47, q48, q49, q50,
    q51, q52, q53, q54, q55, q56, q57, q58, q59, q60, q61, q62, q63, q64, q65, q66, q67, q68, q69, q70, q71, q72,
    q73, q74, q75, q76, q77, q78, q79, q80, q81, q82, q83, q84, q85, q86, q87, q88,
    q89, q90, q91, q92, q93, q94, q95, q96, q97, q98, q99, q100, q101, q102,
    q103, q104, q105, q106, q107, q108, q109, q110, q111, q112, q113,
    q114, q115, q116, q117, q118, q119, q120, q121, q122, q123, q124, q125, q126, q127, q128,
    q129, q130, q131, q132, q133, q134, q135, q136, q137, q138, q139, q140,
    q141, q142, q143, q144, q145, q146, q147, q148, q149, q150, q151,
    q152, q153, q154, q155, q156, q157, q158, q159, q160, q161, q162,
    q163, q164, q165, q166, q167, q168, q169, q170, q171,
    q172, q173, q174, q175, q176, q177, q178, q179, q180,
    q181, q182, q183, q184, q185, q186, q187, q188, q189, q190, q191, q192,
    q193, q194, q195, q196, q197, q198, q199, q200, q201, q202, q203,
    q204, q205, q206, q207, q208, q209, q210, q211, q212, q213, q214,
    q215, q216, q217, q218, q219, q220, q221, q222, q223,
    q224, q225, q226, q227, q228, q229, q230, q231, q232, q233, q234,
    q235, q236, q237, q238, q239, q240, q241, q242, q243, q244, q245, q246, q247, q248, q249, q250, q251, q252, q253,
    q254, q255, q256, q257, q258, q259, q260, q261, q262, q263, q264,
    q265, q266, q267, q268, q269, q270, q271, q272, q273, q274,
    q275, q276, q277, q278, q279, q280, q281, q282,
    q283, q284, q285, q286, q287, q288, q289, q290, q291, q292,
    q293, q294, q295, q296, q297, q298, q299, q300, q301,
    q302, q303, q304, q305, q306, q307, q308, q309, q310, q311,
    q312, q313, q314, q315, q316, q317, q318,
    q319, q320, q321, q322, q323, q324,
    q325, q326, q327, q328, q329, q330, q331, q332,
    q333, q334, q335, q336, q337, q338)

  /** Flagship end-to-end pipeline on sf0.001: expression + over-window +
    * point-in-time self-join + filter, through the full client path.
    * Avoids the nanos-timestamped events table — the driver smoke-checks
    * this with its own SparkSession, whose parquet reader config we don't
    * control.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val cl = new GraftClient(spark)
    val hist = fileSrc("entry_hist_src", dir, "orders", Seq("o_custkey"), Some("o_orderdate"))
    cl.registerTable(DerivedFeatureView(
      "entry_hist", hist,
      features = Seq(Feature.expr("prev_price", "o_totalprice")),
      keys = Some(Seq("o_custkey"))))
    val orders = fileSrc("entry_ord", dir, "orders", Seq("o_custkey"), Some("o_orderdate"))
    cl.getFeatures(DerivedFeatureView(
      "entry", orders,
      features = Seq(
        Feature.expr("price_k", "o_totalprice / 1000"),
        Feature("prev_price", JoinTransform("entry_hist", "prev_price"), keys = Some(Seq("o_custkey"))),
        Feature("cnt_30d", OverWindowTransform(
          "o_totalprice", AggFunc.Count, Some(30.days), Seq("o_custkey")))),
      keepSourceFields = true,
      filterExpr = Some("o_totalprice > 1000")))
  }
}
