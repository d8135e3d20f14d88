package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-interval time-series shaping for feature pipelines: event
  * streams rarely arrive on the grid a model trains on — resampling
  * turns (key, ts, value) rows into a DENSE per-key bucket series with
  * explicit empty buckets and a deterministic forward fill, the input
  * shape for lag features, decay windows, and gap-sensitive models.
  */
object TimeSeries {

  /** Resample to `everyMs` buckets per key, densely from each key's
    * first to last observed bucket: `(keys..., bucket_ms, n_events,
    * sum_micro, ffill_micro)`. Gap buckets appear with `n_events = 0`
    * and NULL `sum_micro`; `ffill_micro` carries the last OBSERVED
    * bucket sum forward (never NULL — the first bucket of every key is
    * observed by construction). Values are per-row micro-floored before
    * summing (`floor(v·1e6)` — exact integers after that, so the result
    * is partitioning- and engine-independent; no float sum order
    * dependence, no integer division anywhere).
    *
    * Timestamps must be non-negative epoch millis (the truncating
    * bucket division needs non-negative operands to equal floor).
    *
    * 100 TB shape: ONE map-side-combined aggregation keyed by
    * (keys, bucket); the dense spine explodes at most
    * `span / everyMs` rows per key — the caller's interval choice
    * bounds it — and the forward fill is a per-key window over the
    * BUCKET series (span-sized), never over raw events.
    */
  def resample(
      df: DataFrame,
      keys: Seq[String],
      tsMsCol: String,
      valueCol: String,
      everyMs: Long): DataFrame = {
    require(keys.nonEmpty, "resample needs at least one key")
    require(everyMs >= 1, s"everyMs $everyMs must be >= 1")
    val agg = df
      .filter(col(tsMsCol).isNotNull && col(valueCol).isNotNull &&
        keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("bucket_ms", expr(s"(`$tsMsCol` div ${everyMs}L) * ${everyMs}L"))
      .withColumn("__vm", floor(col(valueCol) * 1e6).cast("long"))
      .groupBy(keys.map(col) :+ col("bucket_ms"): _*)
      .agg(count(lit(1)).as("n_events"), sum("__vm").as("sum_micro"))
    // Pin the spine's parallelism BEFORE the explode (round 16 — the
    // round-15 attempt placed a repartition(par, keys) ABOVE the spine
    // aggregate, where the child already provided hashpartitioning(keys)
    // and the planner pruned it as redundant; AQE's byte-based coalescing
    // then packed the keys-sized exchange into 1-2 partitions and the
    // `span/everyMs`-fold explode + join probe + ffill window all ran
    // nearly single-task, since AQE cannot see through a Generate's
    // fan-out). The fix places the user repartition BELOW the spine
    // aggregate, on the (keys, bucket) rollup: its child is partitioned
    // hash(keys, bucket_ms) — different expressions, so nothing prunes
    // it — and a REPARTITION_BY_NUM exchange is one AQE may never
    // coalesce. It REPLACES the ENSURE_REQUIREMENTS exchange the spine
    // agg needed anyway (same exchange count, observed-bucket-sized
    // bytes), and hash(keys) at `par` partitions is exactly the
    // distribution the spine agg, the ffill window and the left join's
    // probe side all want — everything from here to the window runs at
    // `par` tasks with no further exchange. defaultParallelism spine
    // partitions is right at any scale — the grid is the big thing, not
    // the key table.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val spine = agg
      .repartition(par, keys.map(col): _*)
      .groupBy(keys.map(col): _*)
      .agg(min("bucket_ms").as("__lo"), max("bucket_ms").as("__hi"))
      .select(keys.map(col) :+
        explode(sequence(col("__lo"), col("__hi"), lit(everyMs))).as("bucket_ms"): _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("bucket_ms"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(agg, keys :+ "bucket_ms", "left")
      .select(keys.map(col) ++ Seq(
        col("bucket_ms"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("sum_micro"),
        last(col("sum_micro"), ignoreNulls = true).over(w).as("ffill_micro")): _*)
  }

  /** Trailing-window features over a [[resample]]d series: per key and
    * bucket, the rolling event count / sum / min / max of the last
    * `nBuckets` buckets (current included) plus the 1-bucket lag —
    * the standard lag-feature block a model trains on. Operates on the
    * DENSE bucket series, so "last n rows" IS "last n intervals" — gap
    * buckets participate (count 0, NULL sum skipped by min/max/sum),
    * which is what makes row frames time-correct here.
    *
    * All outputs are exact longs on the resample's micro units — no
    * float accumulation, engine- and partitioning-independent.
    *
    * 100 TB shape: one window pass partitioned by key over the
    * bucket series (span-sized per key, not event-sized); reuses the
    * resample's (keys) clustering when pipelined — Spark plans a single
    * sort covering resample's ffill window and this one.
    */
  def rolling(
      resampled: DataFrame,
      keys: Seq[String],
      nBuckets: Int): DataFrame = {
    require(keys.nonEmpty, "rolling needs at least one key")
    require(nBuckets >= 1, s"nBuckets $nBuckets must be >= 1")
    val trail = Window.partitionBy(keys.map(col): _*).orderBy(col("bucket_ms"))
      .rowsBetween(-(nBuckets - 1).toLong, Window.currentRow)
    val byBucket = Window.partitionBy(keys.map(col): _*).orderBy(col("bucket_ms"))
    resampled
      .withColumn("roll_n_events", sum(col("n_events")).over(trail))
      .withColumn("roll_sum_micro", sum(col("sum_micro")).over(trail))
      .withColumn("roll_min_micro", min(col("sum_micro")).over(trail))
      .withColumn("roll_max_micro", max(col("sum_micro")).over(trail))
      .withColumn("lag1_sum_micro", lag(col("sum_micro"), 1).over(byBucket))
  }

  /** Retention cohorts: users grouped by their FIRST active bucket
    * (cohort), then counted at each later bucket offset —
    * `(cohort_ms, day_offset, n_active, n_cohort, retention_micro)`,
    * the curve behind "day-N retention". `bucketMs` defaults to days;
    * any activity in a bucket counts once (presence, not volume).
    *
    * retention_micro is the integer-micro share of the cohort active at
    * the offset; offset 0 is the cohort itself (retention 1.0 by
    * construction — kept as the sanity row).
    *
    * 100 TB shape: one distinct on (user, bucket) — THE shuffle — then
    * the first-bucket agg reuses that clustering (map-side combine on
    * the same key prefix), a user-keyed join, and a cohort-keyed count
    * whose output is calendar-sized, not user-sized. No count-distinct
    * at the end: the (user, bucket) grain is already distinct, so the
    * final count is a plain sum.
    */
  def retention(
      df: DataFrame,
      userCol: String,
      tsMsCol: String,
      bucketMs: Long = 86400000L): DataFrame = {
    require(bucketMs >= 1, s"bucketMs $bucketMs must be >= 1")
    val days = df
      .filter(col(userCol).isNotNull && col(tsMsCol).isNotNull)
      .select(col(userCol).as("__u"),
        expr(s"(`$tsMsCol` div ${bucketMs}L) * ${bucketMs}L").as("__day"))
      .distinct()
    val first = days.groupBy("__u").agg(min(col("__day")).as("cohort_ms"))
    val sizes = first.groupBy("cohort_ms").agg(count(lit(1)).as("n_cohort"))
    days.join(first, "__u")
      .withColumn("day_offset", expr(s"(__day - cohort_ms) div ${bucketMs}L"))
      .groupBy("cohort_ms", "day_offset")
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort_ms")
      .withColumn("retention_micro", expr("cast(n_active as decimal(38,0)) * 1000000 div n_cohort"))
  }

  /** Lead–lag cross-correlation between two bucketed series: Pearson
    * corr of `(x_t, y_{t+lag})` for each requested lag (in buckets,
    * negative = y leads) — "do purchases follow clicks, and by how many
    * hours". Input must be one row per bucket (a [[resample]] output or
    * any dense bucketed frame); missing/NULL values drop that pair.
    *
    * Returns `(lag, n, corr_micro)` — corr_micro NULL when either side
    * is constant over the overlap. Moments are micro-floored exact
    * decimal sums; the final Pearson is one fixed correctly-rounded
    * double expression, floored.
    *
    * 100 TB shape: |lags| shifted self-joins on the bucket key of the
    * SERIES table (bucket-count-sized, not event-sized) with map-side
    * combined moment sums.
    */
  def crossCorrelation(
      df: DataFrame,
      bucketCol: String,
      xCol: String,
      yCol: String,
      lags: Seq[Int],
      everyMs: Long): DataFrame = {
    require(lags.nonEmpty, "at least one lag")
    require(everyMs >= 1, s"everyMs $everyMs must be >= 1")
    val a = df.filter(col(bucketCol).isNotNull && col(xCol).isNotNull)
      .select(col(bucketCol).as("__t"),
        floor(col(xCol) * 1e6).cast("long").as("xm"))
    val b = df.filter(col(bucketCol).isNotNull && col(yCol).isNotNull)
      .select(col(bucketCol).as("__ty"),
        floor(col(yCol) * 1e6).cast("long").as("ym"))
    val withLag = a
      .select(col("__t"), col("xm"),
        explode(array(lags.distinct.sorted.map(lit): _*)).as("lag"))
      .withColumn("__ty", col("__t") + col("lag") * everyMs)
      .join(b, "__ty")
    val dec = (c: String) => col(c).cast("decimal(38,0)")
    withLag.groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum(dec("xm")).as("sx"), sum(dec("ym")).as("sy"),
        sum(dec("xm") * col("ym")).as("sxy"),
        sum(dec("xm") * col("xm")).as("sxx"),
        sum(dec("ym") * col("ym")).as("syy"))
      .withColumn("corr_micro", expr(
        """case when n > 1 and n * sxx > sx * sx and n * syy > sy * sy then
             cast(floor(1000000.0 * cast(n * sxy - sx * sy as double)
               / sqrt(cast(n * sxx - sx * sx as double)
                      * cast(n * syy - sy * sy as double))) as long)
           end"""))
      .select("lag", "n", "corr_micro")
  }

  /** Pooled autocorrelation function — [[crossCorrelation]]'s keyed
    * self-lag sibling: for each lag ℓ, the Pearson correlation between
    * a series value and its own value ℓ buckets later, pairs aligned
    * WITHIN each key and pooled across keys. The seasonality/memory
    * diagnostic for per-entity metrics (does a user's activity predict
    * itself a day later?) where one global series would mix entities.
    *
    * Exactness: the crossCorrelation contract — micro-floored values,
    * one (key, bucket+lag) equi-join, five exact decimal(38,0) moments
    * per lag, one double Pearson finish floored to micro.
    *
    * Output per lag: `(lag, n, acf_micro)` — n is the pooled pair
    * count (shrinks with lag; NULL acf when degenerate).
    *
    * 100 TB shape: one |lags|-way explode on the left, ONE equi-join
    * keyed (key, bucket) — millions of parallel keys, no window —
    * then a map-side-combined |lags|-row rollup.
    */
  def acf(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      lags: Seq[Int],
      everyMs: Long): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1),
      s"lags $lags must be non-empty and >= 1")
    require(everyMs >= 1, s"everyMs $everyMs must be >= 1")
    val base = df
      .filter(col(keyCol).isNotNull && col(bucketCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).as("__k"), col(bucketCol).as("__t"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("vm"))
    val a = base
      .select(col("__k"), col("__t"), col("vm").as("xm"),
        explode(array(lags.distinct.sorted.map(lit): _*)).as("lag"))
      .withColumn("__t2", col("__t") + col("lag") * everyMs)
      .drop("__t")
    val b = base.select(col("__k"), col("__t").as("__t2"),
      col("vm").as("ym"))
    val dec = (c: String) => col(c).cast("decimal(38,0)")
    a.join(b, Seq("__k", "__t2"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum(dec("xm")).as("sx"), sum(dec("ym")).as("sy"),
        sum(dec("xm") * col("ym")).as("sxy"),
        sum(dec("xm") * col("xm")).as("sxx"),
        sum(dec("ym") * col("ym")).as("syy"))
      .withColumn("acf_micro", expr(
        """case when n > 1 and n * sxx > sx * sx and n * syy > sy * sy then
             cast(floor(1000000.0 * cast(n * sxy - sx * sy as double)
               / sqrt(cast(n * sxx - sx * sx as double)
                      * cast(n * syy - sy * sy as double))) as long)
           end"""))
      .select("lag", "n", "acf_micro")
  }

  /** CUSUM changepoint locator per key: the running sum of deviations
    * from the key's own mean peaks where the level shifts — returns
    * `(keys..., n_buckets, mean_micro, change_bucket_ms,
    * cusum_at_change)` with the EARLIEST bucket attaining the maximum
    * |CUSUM| (deterministic tie rule). NULL values count as 0 (a gap
    * bucket IS low activity — feed [[resample]] output).
    *
    * All integer: the mean is a floor-division, deviations and the
    * running sum are exact longs — any engine replays the argmax
    * bit-for-bit. (Detection threshold is the caller's call: compare
    * `abs(cusum_at_change)` against k·σ·√n from [[graft.ops.Features]]
    * standardize, or a held-out quantile.)
    *
    * 100 TB shape: one stats pass + one key-partitioned window over the
    * bucket series (span-sized per key), one final per-key argmin-agg —
    * the same single-shuffle shape as [[rolling]].
    */
  def cusumChangepoint(
      df: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      valueMicroCol: String): DataFrame = {
    require(keys.nonEmpty, "at least one key")
    val base = df.select(keys.map(col) :+ col(bucketCol).as("__b") :+
      coalesce(col(valueMicroCol), lit(0L)).as("__v"): _*)
    val stats = base.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_buckets"), sum("__v").as("__s"))
      .withColumn("mean_micro", expr(
        """__s div n_buckets -
           (case when __s % n_buckets != 0 and __s < 0 then 1 else 0 end)"""))
      .drop("__s")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(stats, keys)
      .withColumn("cusum", sum(col("__v") - col("mean_micro")).over(w))
      .groupBy((keys.map(col) :+ col("n_buckets") :+ col("mean_micro")): _*)
      // earliest bucket attaining max |cusum|: min over (-|c|, bucket, c)
      .agg(min(struct((-abs(col("cusum"))).as("na"), col("__b"), col("cusum")))
        .as("m"))
      .select(keys.map(col) ++ Seq(col("n_buckets"), col("mean_micro"),
        col("m.__b").as("change_bucket_ms"),
        col("m.cusum").as("cusum_at_change")): _*)
  }

  /** Exponentially-weighted moving average with α = 1/2, EXACT: per key,
    * rows ordered by (ts, tie) smooth as
    * `ewma_t = Σ_{k=0..L} v_{t−k}·2^{L−k} / Σ 2^{L−k}` — the binary-decay
    * EWMA truncated at `lookback` lags (weight beyond L is ≤ 2⁻ᴸ of the
    * head, sub-ppm at the default 16). Powers of two keep every term an
    * exact integer on micro-floored values: the usual recursive EWMA is
    * a float recurrence no two engines replay identically; this one is
    * `lookback+1` integer lags, same answer everywhere. Early rows use
    * only their available lags (the denominator shrinks — initialization
    * by renormalization, not by zero-padding). Returns the id/key/ts
    * columns plus `(v_micro, ewma_num, ewma_den)`; callers divide when a
    * float is wanted. `ewma_num` is decimal(38,0): with int64 terms,
    * `v_micro · 2^lookback` wraps SILENTLY past |value| ≈ 8 at the
    * permitted lookback=40 (the worst case `|v_micro|·2^{L+1}` reaches
    * ~2·10³¹ for |value| = 10⁸ — far past 2⁶³ but comfortably inside 38
    * digits); `ewma_den ≤ 2^{L+1}` stays a plain long.
    *
    * 100 TB shape: ONE window shuffle on the key — all lags share one
    * (key, ts, tie) sort, and the whole expression is codegen'd integer
    * arithmetic.
    */
  def ewmaPow2(
      df: DataFrame,
      keyCol: String,
      tsMsCol: String,
      tieCol: String,
      valueCol: String,
      lookback: Int = 16): DataFrame = {
    require(lookback >= 1 && lookback <= 40,
      s"lookback $lookback must lie in [1, 40]")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsMsCol), col(tieCol))
    val base = df
      .filter(col(keyCol).isNotNull && col(tsMsCol).isNotNull &&
        col(valueCol).isNotNull)
      .withColumn("v_micro",
        floor(col(valueCol).cast("double") * 1e6).cast("long"))
    val terms = (0 to lookback).map { k =>
      val weight = 1L << (lookback - k)
      (when(lag(col("v_micro"), k).over(w).isNotNull,
          lag(col("v_micro"), k).over(w).cast("decimal(38,0)") * weight)
          .otherwise(lit(0L).cast("decimal(38,0)")),
        when(lag(col("v_micro"), k).over(w).isNotNull, lit(weight))
          .otherwise(lit(0L)))
    }
    base
      .withColumn("ewma_num",
        terms.map(_._1).reduce(_ + _).cast("decimal(38,0)"))
      .withColumn("ewma_den", terms.map(_._2).reduce(_ + _))
      .select(col(keyCol), col(tieCol), col(tsMsCol),
        col("v_micro"), col("ewma_num"), col("ewma_den"))
  }

  /** Theil–Sen robust trend per key: the MEDIAN of all pairwise slopes
    * `(v_j − v_i)/(t_j − t_i)` over the key's (time, value) points — the
    * slope estimator with a 29% breakdown point, immune to the outlier
    * buckets that wreck least squares (one bad scrape day must not flip
    * a domain's "is this source growing" call). Points are integer
    * (t, v_micro) pairs (caller pre-buckets, e.g. [[resample]] output or
    * an hourly rollup); slopes are one IEEE double division of exact
    * integers — bit-identical in any engine — and the median is
    * nearest-rank ⌈m/2⌉ under (slope, t_i, t_j) total order, so a value
    * that actually occurs. Keys need ≥ 2 points; points per key are
    * capped at `maxPoints` EARLIEST buckets (deterministic, and it
    * bounds the O(p²) pair space — 256 points is 32k pairs, fine; an
    * unbounded key would be quadratic).
    * Returns `(keyCol, n_points, n_pairs, slope_per_ms)`.
    *
    * 100 TB shape: pair generation is a per-key self-join AFTER the
    * per-key bucket rollup (points-sized, not event-sized) with the
    * cap applied first; one key shuffle, windows ride the same
    * partitioning.
    */
  def theilSen(
      df: DataFrame,
      keyCol: String,
      tsMsCol: String,
      valueMicroCol: String,
      maxPoints: Int = 256): DataFrame = {
    require(maxPoints >= 2, s"maxPoints $maxPoints must be >= 2")
    val wCap = Window.partitionBy(col(keyCol)).orderBy(col(tsMsCol))
    val pts = df
      .filter(col(keyCol).isNotNull && col(tsMsCol).isNotNull &&
        col(valueMicroCol).isNotNull)
      .withColumn("__rn", row_number().over(wCap))
      .filter(col("__rn") <= maxPoints)
      .select(col(keyCol), col(tsMsCol).as("__t"), col(valueMicroCol).as("__v"))
    val pairs = pts.alias("a").join(pts.alias("b"),
        col(s"a.$keyCol") === col(s"b.$keyCol") && col("a.__t") < col("b.__t"))
      .select(col(s"a.$keyCol").as(keyCol),
        col("a.__t").as("t1"), col("b.__t").as("t2"),
        ((col("b.__v") - col("a.__v")).cast("double") /
          (col("b.__t") - col("a.__t")).cast("double")).as("slope"))
    val wRank = Window.partitionBy(col(keyCol))
      .orderBy(col("slope"), col("t1"), col("t2"))
    val wAll = Window.partitionBy(col(keyCol))
    val nPts = pts.groupBy(col(keyCol)).agg(count(lit(1)).as("n_points"))
    pairs
      .withColumn("__r", row_number().over(wRank).cast("long"))
      .withColumn("n_pairs", count(lit(1)).over(wAll))
      .filter(col("__r") === expr("(n_pairs + 1) div 2"))
      .join(nPts, Seq(keyCol))
      .select(col(keyCol), col("n_points"), col("n_pairs"),
        col("slope").as("slope_per_ms"))
  }

  /** Seasonal profile: per (key, phase) cell of a cyclic grid — phase =
    * `(t / bucketMs) mod (periodMs / bucketMs)`, e.g. hour-of-day or
    * day-of-week — the cell's exact integer average and its LIFT against
    * the key's overall average in milli (1000 = flat). The
    * seasonality-aware baseline for anomaly thresholds ("is Tuesday 3am
    * low, or just Tuesday-3am-normal?") and for phase-stratified
    * sampling. All arithmetic is integer on micro-floored values; lift
    * divides scaled integer sums (`cell_sum·n_key·1000 div
    * (n_cell·key_sum)`), one exact division, no float averaging.
    * Returns `(keyCol, phase, n, sum_micro, avg_micro, lift_milli)` —
    * `lift_milli` NULL when the key's total sum is ≤ 0 (lift against a
    * non-positive base has no meaning).
    *
    * 100 TB shape: ONE map-side-combined groupBy(key, phase) — output is
    * keys×phases-sized; the per-key totals derive from the cell table
    * (phase-cardinality window, not a second corpus pass).
    */
  def seasonalProfile(
      df: DataFrame,
      keyCol: String,
      tsMsCol: String,
      valueCol: String,
      periodMs: Long,
      bucketMs: Long): DataFrame = {
    require(bucketMs > 0 && periodMs > 0 && periodMs % bucketMs == 0,
      s"periodMs $periodMs must be a positive multiple of bucketMs $bucketMs")
    val phases = periodMs / bucketMs
    val cells = df
      .filter(col(keyCol).isNotNull && col(tsMsCol).isNotNull &&
        col(valueCol).isNotNull && col(tsMsCol) >= 0)
      .withColumn("phase", expr(s"(cast(`$tsMsCol` as long) div $bucketMs) % $phases"))
      .withColumn("__v", floor(col(valueCol).cast("double") * 1e6).cast("long"))
      .groupBy(col(keyCol), col("phase"))
      .agg(count(lit(1)).as("n"), sum("__v").as("sum_micro"))
    val wKey = Window.partitionBy(col(keyCol))
    cells
      .withColumn("__kn", sum(col("n")).over(wKey))
      .withColumn("__ks", sum(col("sum_micro")).over(wKey))
      .withColumn("avg_micro", expr("sum_micro div n"))
      .withColumn("lift_milli",
        when(col("__ks") > 0,
          expr("cast(cast(sum_micro as decimal(38,0)) * __kn * 1000" +
            " div (cast(n as decimal(38,0)) * __ks) as long)")))
      .select(col(keyCol), col("phase"), col("n"), col("sum_micro"),
        col("avg_micro"), col("lift_milli"))
  }

  /** One-sided CUSUM monitor against a FIXED reference mean — the
    * production drift alarm (Page's test) whose offline counterpart is
    * [[cusumChangepoint]]: per key, rows ordered by `(ts, tie)`
    * accumulate `S_t = max(0, S_{t−1} + (v_t − μ₀ − slack))`; `S`
    * crossing the threshold alarms. Computed in CLOSED FORM —
    * `S_t = prefix_t − min(0, running-min prefix)` — so the whole
    * monitor is one window pass, no recursion; the streaming twin
    * ([[graft.streaming.StreamingCusum]]) runs the recurrence and is
    * bit-identical on the same rows (both are exact integer micro).
    *
    * Output per row: `(key, tie, ts_ms, v_micro, s_micro, alarmed)`;
    * `s_micro` is decimal(38,0) (an unbounded drift grows S without
    * limit — int64 would wrap silently on a 100 TB stream).
    *
    * 100 TB shape: ONE window shuffle on the key, codegen arithmetic.
    */
  def cusumMonitor(
      df: DataFrame,
      keyCol: String,
      tsMsCol: String,
      tieCol: String,
      valueCol: String,
      refMeanMicro: Long,
      slackMicro: Long,
      thresholdMicro: Long): DataFrame = {
    require(slackMicro >= 0, s"slackMicro $slackMicro must be >= 0")
    require(thresholdMicro > 0, s"thresholdMicro $thresholdMicro must be > 0")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsMsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .filter(col(keyCol).isNotNull && col(tsMsCol).isNotNull &&
        col(valueCol).isNotNull)
      .withColumn("v_micro",
        floor(col(valueCol).cast("double") * 1e6).cast("long"))
      .withColumn("__d", (col("v_micro") - lit(refMeanMicro) -
        lit(slackMicro)).cast("decimal(38,0)"))
      .withColumn("__prefix", sum(col("__d")).over(w))
      .withColumn("__runmin", min(col("__prefix")).over(w))
      .withColumn("s_micro",
        (col("__prefix") - least(lit(0).cast("decimal(38,0)"),
          col("__runmin"))).cast("decimal(38,0)"))
      .withColumn("alarmed", col("s_micro") > lit(thresholdMicro))
      .select(col(keyCol), col(tieCol), col(tsMsCol).as("ts_ms"),
        col("v_micro"), col("s_micro"), col("alarmed"))
  }

  /** Out-of-orderness profile — the histogram that SIZES a watermark:
    * for each event, its disorder is how far the event-time high-water
    * mark (max ts among strictly-earlier arrivals) had already passed
    * it: `max(0, max_{j<i} ts_j − ts_i)`. A watermark of W ms drops
    * exactly the events whose disorder exceeds W, so this table read
    * cumulatively IS the late-drop-rate-vs-W curve. Buckets are exact
    * integer log2: bucket 0 = in-order, else bit-length of the disorder
    * in ms (bucket b covers [2^(b−1), 2^b)), via binary-string length —
    * no floating log, replayable in any engine.
    *
    * `arrivalCol` must be a unique arrival-order column (an append
    * sequence, a kafka offset, a monotonic event id).
    *
    * Output: `(disorder_bucket, n_events, max_disorder_ms,
    * share_micro)`, share of ALL events.
    *
    * 100 TB shape: one [[Ranks.globalRank]] range exchange by arrival;
    * the running max splits into a within-block window (blocks of 2^16
    * rows — bounded partitions) plus a cross-block prefix max over the
    * block-count-sized table, broadcast back; then one map-side-combined
    * histogram rollup. No single-task window touches the corpus.
    */
  def disorderProfile(
      df: DataFrame,
      arrivalCol: String,
      tsCol: String): DataFrame = {
    val base = df
      .filter(col(arrivalCol).isNotNull && col(tsCol).isNotNull)
      .select(col(arrivalCol).as("__a"), col(tsCol).cast("long").as("__t"))
    val ranked = Ranks.globalRank(base, Seq(col("__a")), "__rn")
      .withColumn("__b", expr("(__rn - 1) div 65536"))
      .localCheckpoint()
    val wIn = Window.partitionBy(col("__b")).orderBy(col("__rn"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val blockMax = ranked.groupBy("__b").agg(max("__t").as("__bm"))
    val wBlk = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val priorBlk = blockMax
      .withColumn("__pbm", max(col("__bm")).over(wBlk))
      .select(col("__b"), col("__pbm"))
    val lateness = ranked
      .join(broadcast(priorBlk), Seq("__b"))
      .withColumn("__inm", max(col("__t")).over(wIn))
      .withColumn("__hwm", greatest(
        coalesce(col("__inm"), lit(Long.MinValue)),
        coalesce(col("__pbm"), lit(Long.MinValue))))
      .withColumn("__late",
        when(col("__hwm") === Long.MinValue, lit(0L))
          .otherwise(greatest(col("__hwm") - col("__t"), lit(0L))))
    lateness
      .withColumn("disorder_bucket",
        when(col("__late") === 0, lit(0))
          .otherwise(length(conv(col("__late"), 10, 2))).cast("int"))
      .groupBy("disorder_bucket")
      .agg(count(lit(1)).as("n_events"), max("__late").as("max_disorder_ms"))
      // total from the checkpointed rank table — the (1:1) join and
      // window pipeline need not run a second time for a row count
      .crossJoin(broadcast(ranked.agg(count(lit(1)).as("__n_tot"))))
      .withColumn("share_micro",
        expr("cast(n_events as decimal(38,0)) * 1000000 div __n_tot"))
      .select("disorder_bucket", "n_events", "max_disorder_ms",
        "share_micro")
  }

  /** Mann–Kendall trend test per key — the nonparametric "is this
    * series drifting" gate that pairs with the theilSen slope (MK says
    * WHETHER a monotone trend exists, Theil–Sen says how steep): over a
    * per-key series of (bucket, value) points,
    *
    * {{{ S = Σ_{i<j} sgn(v_j − v_i) }}}
    *
    * with the tie-corrected variance `18·Var(S) = n(n−1)(2n+5) −
    * Σ_t t(t−1)(2t+5)` (t = value-tie group sizes) and the
    * continuity-corrected normal score `z = (S ∓ 1)/√(Var S)`.
    *
    * Exactness: S, n, and `var_s_x18` are pure integers; `z_milli` is
    * ONE fixed double tree of those integers — `⌊1000·(S∓1)/
    * √(var_s_x18/18)⌋` — mirrored token-for-token by the oracle
    * (q220 runtime-sqrt contract). `trending` flags |z| ≥ 1.96 (z_milli
    * vs the 1960 literal). Input contract: one row per (key, bucket) —
    * aggregate the raw stream first, as [[acf]]'s callers do.
    *
    * Output per key: `(key, n, s_stat, var_s_x18, z_milli, trending)`;
    * keys with n < 2 or zero variance (all values tied) emit NULL z.
    *
    * INTEGER-INPUT CONTRACT: `valueCol` is cast straight to long
    * (truncation toward zero), NOT micro-floored like the repo's
    * continuous-value ops — S depends only on sign comparisons and
    * ties, and the intended inputs are pre-aggregated integer series
    * (q260 sums micro-floored values upstream, so its longs arrive
    * exact). Micro-flooring here would CORRUPT large pre-aggregated
    * longs instead (v·10⁶ through a double loses exactness past
    * |v| ≈ 9·10⁹, minting spurious ties). Callers with raw fractional
    * values must quantize upstream — `floor(value·10⁶)` — or accept
    * truncation ties.
    *
    * 100 TB shape: ONE key shuffle; the pair stage is a KEY-LOCAL
    * self-join (n_k²/2 comparisons per key — millions of parallel
    * series of thousands of points each, the q244 shape, not one giant
    * series); ties and moments are map-side-combined groupBys. The
    * quadratic bound is ENFORCED, not advisory: `maxSeriesLen` is a
    * hard `require` on the longest per-key series (one aggregate over
    * the already-checkpointed points — the jonckheereTerpstra maxCells
    * pattern), so an unbinned per-event series fails loudly instead of
    * detonating a silent n_k² join. Overflow: n(n−1)(2n+5) needs
    * n ≤ ~1.6·10⁶ points per KEY for int64 — the default cap sits 160×
    * under it.
    */
  def mannKendall(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      maxSeriesLen: Long = 10000L): DataFrame = {
    require(maxSeriesLen >= 2, s"maxSeriesLen $maxSeriesLen must be >= 2")
    val pts = df
      .filter(col(keyCol).isNotNull && col(bucketCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as("__k"),
        col(bucketCol).cast("long").as("__b"),
        col(valueCol).cast("long").as("__v"))
      .localCheckpoint()
    val longest = pts.groupBy("__k").agg(count(lit(1)).as("__c"))
      .agg(max("__c")).head()
    val longestLen = if (longest.isNullAt(0)) 0L else longest.getLong(0)
    require(longestLen <= maxSeriesLen,
      s"mannKendall: longest per-key series has $longestLen points > " +
        s"maxSeriesLen $maxSeriesLen — the pair stage is n_k² per key; " +
        "bucket the series coarser (q260 buckets to days) or raise the " +
        "cap deliberately")
    val a = pts.select(col("__k"), col("__b").as("ba"), col("__v").as("va"))
    val b = pts.select(col("__k"), col("__b").as("bb"), col("__v").as("vb"))
    val sTab = a.join(b, Seq("__k")).filter(col("bb") > col("ba"))
      .groupBy("__k")
      .agg(sum(signum(col("vb") - col("va")).cast("long")).as("s_stat"))
    val ties = pts.groupBy("__k", "__v").agg(count(lit(1)).as("__t"))
      .groupBy("__k")
      .agg(sum("__t").as("n"),
        sum(expr("__t * (__t - 1) * (2 * __t + 5)")).as("__tsum"))
      .withColumn("var_s_x18",
        expr("n * (n - 1) * (2 * n + 5) - __tsum"))
    ties.join(sTab, Seq("__k"), "left")
      .select(col("__k").as("key"), col("n"),
        coalesce(col("s_stat"), lit(0L)).as("s_stat"),
        col("var_s_x18"))
      .withColumn("z_milli", expr(
        """CASE WHEN var_s_x18 > 0 THEN
             CASE WHEN s_stat > 0 THEN
               CAST(FLOOR(1000.0 * (s_stat - 1)
                 / sqrt(CAST(var_s_x18 AS DOUBLE) / 18.0)) AS BIGINT)
             WHEN s_stat < 0 THEN
               CAST(FLOOR(1000.0 * (s_stat + 1)
                 / sqrt(CAST(var_s_x18 AS DOUBLE) / 18.0)) AS BIGINT)
             ELSE 0 END END"""))
      .withColumn("trending",
        when(col("z_milli").isNull, lit(null).cast("boolean"))
          .otherwise(abs(col("z_milli")) >= 1960L))
  }

  /** Ljung–Box whiteness statistic per key — is there autocorrelation
    * LEFT in a series after a model/detrend pass, pooled across the
    * first `maxLag` lags? The residual-diagnostic companion to [[acf]]
    * (which reports each lag separately, pooled across keys): a flat
    * forecast, a drift monitor, or [[ewmaPow2]] residuals should look
    * white; a significant Q says structure remains.
    *
    *   {{{ Q = n·(n+2) · Σ_{l=1..h} r_l² / (n − l) }}}
    *
    * with r_l the per-key lag-l Pearson correlation over the PAIRED
    * points (the [[acf]] pairwise-complete convention — gaps shrink a
    * lag's pair count, they don't fabricate zeros). Each r floors once
    * to micro ([[acf]]'s exact-moment double tree per (key, lag));
    * each Ljung–Box term floors once as `r_micro² div (n − l)`; the
    * final `q_milli = ⌊n·(n+2)·Σterm / 10⁹⌋` is pure integer. Lags
    * with no pairs or degenerate variance contribute nothing
    * (`n_lags_used` reports the contributors; the χ²_h reference
    * distribution is the caller's — df varies with what was usable).
    * A key where EVERY lag is unusable still emits its diagnostic row
    * as `(key, n_buckets, 0, NULL)` — a vanished key would read as
    * "not monitored" rather than "inconclusive".
    *
    * Output per key: `(key, n_buckets, n_lags_used, q_milli)`.
    *
    * Overflow: Σterm ≤ h·10¹² and n·(n+2)·Σterm rides decimal(38,0) —
    * exact to n ≈ 10¹² buckets per key, far past the [[acf]]-family
    * series lengths.
    *
    * 100 TB shape: the lag explode is ×h map-side; the pair join is
    * key-local (the [[acf]] plan with __k kept in the groupBy); keys
    * scale out, series length stays bounded. No quadratic stage —
    * lags are a fixed list, so no per-key cap is needed.
    */
  def ljungBox(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      maxLag: Int,
      everyMs: Long = 1L): DataFrame = {
    require(maxLag >= 1 && maxLag <= 1000,
      s"maxLag $maxLag must be in [1, 1000]")
    require(everyMs >= 1, s"everyMs $everyMs must be >= 1")
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(keyCol).isNotNull && col(bucketCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as("__k"),
        col(bucketCol).cast("long").as("__t"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("vm"))
      .localCheckpoint()
    val nPer = base.groupBy("__k").agg(count(lit(1)).as("n_buckets"))
    val a = base
      .select(col("__k"), col("__t"), col("vm").as("xm"),
        explode(array((1 to maxLag).map(lit): _*)).as("lag"))
      .withColumn("__t2", col("__t") + col("lag") * everyMs)
      .drop("__t")
    val b = base.select(col("__k"), col("__t").as("__t2"),
      col("vm").as("ym"))
    val rTab = a.join(b, Seq("__k", "__t2"))
      .groupBy("__k", "lag")
      .agg(count(lit(1)).as("np"),
        sum(col("xm").cast(dec)).as("sx"), sum(col("ym").cast(dec)).as("sy"),
        sum(expr(s"cast(xm as $dec) * ym")).as("sxy"),
        sum(expr(s"cast(xm as $dec) * xm")).as("sxx"),
        sum(expr(s"cast(ym as $dec) * ym")).as("syy"))
      .withColumn("r_micro", expr(
        """case when np > 1 and np * sxx > sx * sx and np * syy > sy * sy
           then cast(floor(1000000.0 * cast(np * sxy - sx * sy as double)
               / sqrt(cast(np * sxx - sx * sx as double)
                      * cast(np * syy - sy * sy as double))) as long)
           end"""))
      .filter(col("r_micro").isNotNull)
    val perKey = rTab.join(nPer, "__k")
      .filter(col("n_buckets") > col("lag"))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n_lags_used"),
        sum(expr(s"cast(r_micro as $dec) * r_micro div " +
          "(n_buckets - lag)")).as("__tsum"))
    nPer.join(perKey, Seq("__k"), "left")
      .select(col("__k").as("key"), col("n_buckets"),
        coalesce(col("n_lags_used"), lit(0L)).as("n_lags_used"),
        expr(s"""cast(cast(n_buckets as $dec) * (n_buckets + 2) * __tsum
            div 1000000000 as long)""").as("q_milli"))
  }

  /** Wald–Wolfowitz runs test per key — is a binary sequence RANDOMLY
    * ordered in time, or do like outcomes clump (alert storms, batchy
    * pass/fail streaks, flappy quality gates)? Too FEW runs = positive
    * clustering; too MANY = oscillation. The sequence view the
    * marginal-rate tests ([[graft.ops.Causal.twoProportionTest]]) and
    * the trend tests ([[mannKendall]] — monotone drift, not clumping)
    * cannot see.
    *
    * With n₁ trues, n₂ falses, and R runs (maximal same-value streaks,
    * counted on the (bucket, tiebreak-free) event-time order — the
    * caller guarantees distinct buckets per key, same contract as
    * [[acf]]'s grid):
    *
    *   {{{ z = (R·n − 2n₁n₂ − n) / √( 2n₁n₂·(2n₁n₂ − n) / (n−1) ) }}}
    *
    * (the μ = 2n₁n₂/n + 1, σ² form cross-multiplied by n so the
    * numerator is EXACT integer; the denominator is ONE fixed double
    * tree, q220 sqrt contract, floored to milli). NULL z when either
    * value is absent (n₁·n₂ = 0) or n < 2.
    *
    * Output per key: `(key, n, n_true, n_false, runs, z_milli,
    * clumped)` — `clumped` = z_milli ≤ −1960 (the one-sided clumping
    * alarm; the two-sided caller compares |z_milli| itself).
    *
    * Overflow: R·n ≤ n², 2n₁n₂ ≤ n²/2 — int64-exact to n ≈ 3·10⁹
    * points per key; the numerator is computed in decimal(38,0) so
    * even that bound only costs exactness of the DOUBLE z, never a
    * wrap.
    *
    * 100 TB shape: ONE key shuffle; runs count via a per-key lag
    * window (linear), moments map-side-combine. No pair stage at all.
    */
  def runsTest(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      boolCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(keyCol).isNotNull && col(bucketCol).isNotNull &&
        col(boolCol).isNotNull)
      .select(col(keyCol).cast("string").as("__k"),
        col(bucketCol).cast("long").as("__b"),
        col(boolCol).cast("boolean").as("__x"))
    val w = Window.partitionBy("__k").orderBy("__b")
    base
      .withColumn("__chg",
        when(lag(col("__x"), 1).over(w).isNull ||
          lag(col("__x"), 1).over(w) =!= col("__x"), 1L).otherwise(0L))
      .groupBy("__k")
      .agg(count(lit(1)).as("n"),
        count(when(col("__x"), 1)).as("n_true"),
        count(when(!col("__x"), 1)).as("n_false"),
        sum("__chg").as("runs"))
      .select(col("__k").as("key"), col("n"), col("n_true"),
        col("n_false"), col("runs"),
        expr(s"""cast(case when n_true > 0 and n_false > 0 and n >= 2
            and 2 * cast(n_true as $dec) * n_false *
              (2 * cast(n_true as $dec) * n_false - n) > 0 then
          floor(1000.0 * cast(cast(runs as $dec) * n -
              2 * cast(n_true as $dec) * n_false - n as double)
            / sqrt(cast(2 * cast(n_true as $dec) * n_false *
                (2 * cast(n_true as $dec) * n_false - n) as double)
              / (cast(n as double) - 1.0)))
          end as long)""").as("z_milli"))
      .withColumn("clumped",
        when(col("z_milli").isNull, lit(null).cast("boolean"))
          .otherwise(col("z_milli") <= -1960L))
  }

  /** Durbin–Watson statistic per key — THE residual autocorrelation
    * one-liner: `DW = Σ(e_t − e_{t−1})² / Σ e_t²`, ~2 for white
    * residuals, → 0 under positive lag-1 autocorrelation, → 4 under
    * negative. The cheap single-number companion to [[ljungBox]]'s
    * pooled multi-lag Q: run DW per fitted key series (e.g.
    * [[graft.ops.Features.olsByGroup]] residuals) before believing the
    * fit's standard errors.
    *
    * Exactness: residuals floor once to micro; numerator (lag-window
    * differences squared) and denominator are exact decimal sums;
    * `dw_milli = ⌊10³·num/den⌋` is one nonneg floor division,
    * oracle-replayed. NULL when n < 2 or every residual is zero.
    * Consecutive-bucket gaps are treated as adjacent (the standard
    * regularly-spaced assumption — resample first if the grid has
    * holes, as [[acf]]'s contract notes).
    *
    * Output per key: `(key, n_buckets, dw_milli)`.
    *
    * Overflow: Σdiff² ≤ 4·10¹²·v²·n inside decimal(38,0) — past any
    * real per-key series.
    *
    * 100 TB shape: ONE key shuffle — a lag window and a map-side
    * rollup, nothing else.
    */
  def durbinWatson(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(keyCol).isNotNull && col(bucketCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as("__k"),
        col(bucketCol).cast("long").as("__b"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__v"))
    val w = Window.partitionBy("__k").orderBy("__b")
    base
      .withColumn("__d", col("__v") - lag(col("__v"), 1).over(w))
      .groupBy("__k")
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr(s"cast(__d as $dec) * __d")).as("__num"),
        sum(expr(s"cast(__v as $dec) * __v")).as("__den"))
      .select(col("__k").as("key"), col("n_buckets"),
        expr("""cast(case when n_buckets >= 2 and __den > 0 then
            __num * 1000 div __den
          end as long)""").as("dw_milli"))
  }

  /** Page–Hinkley change detector per key — the classic SEQUENTIAL
    * mean-shift alarm, replayed over a batch series: where [[cusum]]
    * tracks deviation from a FIXED reference, Page–Hinkley tracks
    * deviation from the series' own RUNNING mean, so it needs no
    * calibration pass and flags the point where a level shift begins.
    * The batch twin of the streaming drift monitors: run it over
    * yesterday's per-key series to find which keys shifted and WHEN.
    *
    * Mechanics (upward-shift form): per key in bucket order,
    *
    *   {{{ m_t = Σ_{i≤t} (x_i − x̄_i − δ),   PH_t = m_t − min_{s≤t} m_s }}}
    *
    * with x̄_i the INCLUSIVE running mean; the alarm fires at the first
    * bucket where PH_t > λ. Exact integer: values micro-floor once;
    * the running mean is one sign-split truncating division per row
    * (documented — both engines truncate toward zero), every other step
    * is exact decimal sums, so the alarm bucket replays bit-for-bit.
    * Caller guarantees distinct buckets per key (the [[acf]] grid
    * contract — pre-aggregate first).
    *
    * Output per key: `(key, n_buckets, ph_micro, alarm_bucket,
    * alarmed)` — `ph_micro` = max excursion, `alarm_bucket` the first
    * bucket whose excursion exceeds `lambdaMicro` (NULL = no alarm).
    *
    * Overflow: |m_t| ≤ n·(|v|·10⁶ + δ) rides decimal(38,0) — exact to
    * n·|v| ≈ 10³⁰ per key.
    *
    * 100 TB shape: ONE key shuffle; three stacked key-local window
    * passes over the same sort (running sum/count, running cumsum,
    * running min) and a map-side-combined rollup. Keys scale out;
    * nothing crosses keys.
    */
  def pageHinkley(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      lambdaMicro: Long,
      deltaMicro: Long = 0L): DataFrame = {
    require(lambdaMicro > 0, s"lambdaMicro $lambdaMicro must be positive")
    require(deltaMicro >= 0, s"deltaMicro $deltaMicro must be >= 0")
    val dec = "decimal(38,0)"
    val w = Window.partitionBy("__k").orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(keyCol).isNotNull && col(bucketCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as("__k"),
        col(bucketCol).cast("long").as("__b"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__vm"))
      .withColumn("__s", sum(col("__vm").cast(dec)).over(w))
      .withColumn("__t", count(lit(1)).over(w))
      .withColumn("__mean", expr("__s div __t"))
      .withColumn("__term",
        expr(s"cast(__vm as $dec) - __mean - $deltaMicro"))
      .withColumn("__m", sum(col("__term")).over(w))
      .withColumn("__minm", min(col("__m")).over(w))
      .withColumn("__exc", col("__m") - col("__minm"))
      .groupBy(col("__k").as("key"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("__exc")).cast("long").as("ph_micro"),
        min(when(col("__exc") > lit(lambdaMicro), col("__b")))
          .as("alarm_bucket"))
      .withColumn("alarmed", col("alarm_bucket").isNotNull)
  }

  /** Seasonal strength per key — the one-number "is this series
    * seasonal" companion to [[seasonalProfile]] (which gives the
    * per-phase baseline but no verdict): the fraction of variance the
    * phase means explain, the classic one-way-ANOVA R² with phases as
    * groups:
    *
    *   {{{ strength = 1 − SS_within / SS_total }}}
    *
    * ≈ 0 for a phase-blind series, → 1 when the cycle dominates. Gate
    * resampling/detrending decisions on it before trusting [[acf]]'s
    * lag peaks (a strong trend also inflates seasonal-lag ACF; this
    * statistic isolates the phase-mean component).
    *
    * Exactness: values micro-floor once; with Σx² exact decimal and
    * per-phase `W_p = ⌊(Σx_p)²/n_p⌋` (one nonneg floor per phase,
    * documented — Cauchy–Schwarz puts ΣW_p within P units of the exact
    * value), `ss_w = Σx² − ΣW_p`, `ss_t = Σx² − ⌊(Σx)²/n⌋`, and
    * `strength_micro = (ss_t − ss_w)·10⁶ div ss_t` — floors can land
    * it a few micro outside [0, 10⁶]; NULL when ss_t ≤ 0 (constant
    * series).
    *
    * Output per key: `(key, n_buckets, n_phases, strength_micro)`.
    *
    * Overflow: (Σx_p)² ≤ n²·10¹²·v² rides decimal(38,0) to
    * n·|v| ≈ 10¹³ per key; additionally Σx per key must fit int64
    * (the hi/rem split that keeps ⌊(Σx)²/n⌋ exact divides a LONG —
    * n·10⁶·|v| < 9·10¹⁸). The strength divide runs by long division and
    * never forms (ss_t − ss_w)·10⁶; it needs ss_t < 10³⁷, which the
    * int64 bound implies for |v| < 10¹² (ss_t ≤ Σx² ≤ max|x|·Σ|x|).
    *
    * 100 TB shape: one (key, phase) map-side-combined groupBy, a
    * key-keyed rollup — two collapsing shuffles, nothing else.
    */
  def seasonalStrength(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      period: Int): DataFrame = {
    require(period >= 2, s"period $period must be >= 2")
    val dec = "decimal(38,0)"
    val rolled = df.filter(col(keyCol).isNotNull && col(bucketCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as("__k"),
        pmod(col(bucketCol).cast("long"), lit(period.toLong)).as("__p"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__v"))
      .groupBy("__k", "__p")
      .agg(count(lit(1)).as("np"),
        sum(col("__v").cast(dec)).as("sp"),
        sum(expr(s"cast(__v as $dec) * __v")).as("qp"))
      // ⌊sp²/np⌋ exactly WITHOUT an oversized integral divide (Spark's
      // `div` yields a LONG quotient, and sp²/np can pass 2⁶³): with
      // hi = sp div np (fits long whenever sp does) and rem = sp−hi·np
      // (|rem| < np), sp² = np·(hi²np + 2·hi·rem) + rem², so
      // ⌊sp²/np⌋ = hi²·np + 2·hi·rem + ⌊rem²/np⌋ — every divide is
      // long-sized, every product decimal-exact
      .withColumn("__hi", expr("sp div np"))
      .withColumn("__rem", expr(s"cast(sp - cast(__hi as $dec) * np as long)"))
      .withColumn("__wterm", expr(
        s"""cast(__hi as $dec) * __hi * np + 2 * cast(__hi as $dec) * __rem
           + (__rem * __rem div np)"""))
      .groupBy("__k")
      .agg(count(lit(1)).as("n_phases"),
        sum("np").as("n_buckets"),
        sum("sp").as("__s"), sum("qp").as("__q"),
        sum("__wterm").as("__w"))
      .withColumn("__hi2", expr("__s div n_buckets"))
      .withColumn("__rem2",
        expr(s"cast(__s - cast(__hi2 as $dec) * n_buckets as long)"))
      .withColumn("__sq", expr(
        s"""cast(__hi2 as $dec) * __hi2 * n_buckets
           + 2 * cast(__hi2 as $dec) * __rem2
           + (__rem2 * __rem2 div n_buckets)"""))
      .withColumn("__t", expr("case when __q - __sq > 0 then __q - __sq end"))
      .withColumn("__num", expr("__w - __sq"))
    // __num·10⁶ div __t without forming __num·10⁶ (it overflows
    // decimal(38,0) once __num passes 10³²): the integral quotient, then
    // six decimal long-division steps on the remainder. `div` truncates
    // toward zero and is odd in its numerator, so each digit and the
    // result truncate exactly as the one-step divide does; a remainder
    // stays below __t in magnitude, and below 10⁵·|__num|, so 10× it fits
    // whenever __t < 10³⁷ or __num·10⁶ does
    val micro = (1 to 6).foldLeft(
      rolled.withColumn("__sm", expr("__num div __t"))
        .withColumn("__r", expr(s"__num - cast(__sm as $dec) * __t"))) { (d, _) =>
      d.withColumn("__d", expr("__r * 10 div __t"))
        .withColumn("__sm", expr("__sm * 10 + __d"))
        .withColumn("__r", expr(s"__r * 10 - cast(__d as $dec) * __t"))
    }
    micro.select(col("__k").as("key"), col("n_buckets"), col("n_phases"),
      col("__sm").as("strength_micro"))
  }

  /** Seasonal (Hirsch–Slack) Mann–Kendall per key — the trend test
    * that a cycle cannot fool: [[mannKendall]] over a seasonal series
    * reads the within-cycle swings as disagreeing pairs and washes the
    * trend out (or worse, an incomplete last cycle mints a fake one);
    * the seasonal form compares each phase ONLY with itself across
    * cycles (Januaries with Januaries), then pools:
    *
    *   {{{ S = Σ_p S_p,   Var = Σ_p Var_p,   z = (S ∓ 1)/√Var }}}
    *
    * Implemented BY composition: the per-(key, phase) statistics are
    * [[mannKendall]]'s own (U+001F-joined composite key — same
    * delimiter contract as the BPE symbol encoding; keys containing
    * U+001F are rejected loudly), summed per key, with the same
    * continuity-corrected z_milli double tree and the same
    * INTEGER-INPUT CONTRACT and `maxSeriesLen` cap (now per (key,
    * phase) series — each phase's pair stage is (n/P)² per key).
    *
    * Output per key: `(key, n, n_phases, s_stat, var_s_x18, z_milli,
    * trending)`; NULL z when every phase is degenerate.
    *
    * 100 TB shape: [[mannKendall]]'s one-key-shuffle plan on the finer
    * (key, phase) key — MORE parallel, smaller quadratic blocks — plus
    * one collapsing rollup to keys.
    */
  def seasonalMannKendall(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String,
      period: Int,
      maxSeriesLen: Long = 10000L): DataFrame = {
    require(period >= 2, s"period $period must be >= 2")
    val S = "\u001f"
    val base = df.filter(col(keyCol).isNotNull && col(bucketCol).isNotNull &&
        col(valueCol).isNotNull)
    val composite = base
      .withColumn("__ck", concat(col(keyCol).cast("string"), lit(S),
        pmod(col(bucketCol).cast("long"), lit(period.toLong)).cast("string")))
    val badKey = composite.filter(col(keyCol).cast("string").contains(S))
    require(badKey.isEmpty,
      "seasonalMannKendall: key values must not contain U+001F " +
        "(the phase delimiter)")
    val perPhase = mannKendall(composite, "__ck", bucketCol, valueCol,
      maxSeriesLen)
    perPhase
      .withColumn("__k", substring_index(col("key"), S, 1))
      .groupBy(col("__k"))
      .agg(sum("n").as("n"), count(lit(1)).as("n_phases"),
        sum("s_stat").as("s_stat"),
        sum("var_s_x18").as("var_s_x18"))
      .select(col("__k").as("key"), col("n"), col("n_phases"),
        col("s_stat"), col("var_s_x18"))
      .withColumn("z_milli", expr(
        """CASE WHEN var_s_x18 > 0 THEN
             CASE WHEN s_stat > 0 THEN
               CAST(FLOOR(1000.0 * (s_stat - 1)
                 / sqrt(CAST(var_s_x18 AS DOUBLE) / 18.0)) AS BIGINT)
             WHEN s_stat < 0 THEN
               CAST(FLOOR(1000.0 * (s_stat + 1)
                 / sqrt(CAST(var_s_x18 AS DOUBLE) / 18.0)) AS BIGINT)
             ELSE 0 END END"""))
      .withColumn("trending",
        when(col("z_milli").isNull, lit(null).cast("boolean"))
          .otherwise(abs(col("z_milli")) >= 1960L))
  }

  /** Cox–Stuart sign trend test per key — the assumption-free trend
    * check that needs NOTHING but signs: pair each point in the first
    * half of the series with its counterpart one half-length later
    * (odd middles drop) and count how often the later value is larger.
    * Where [[mannKendall]] ranks all n² pairs, Cox–Stuart reads n/2
    * pairs — the cheap first-pass monotone-drift alarm for millions of
    * key series, robust to any monotone transform of the values.
    *
    * With `p` rises and `q` falls (ties drop), the statistic is the
    * binomial sign z (no continuity correction, documented):
    *
    *   {{{ z = (p − q) / √(p + q) }}}
    *
    * Exactness: p, q, n exact integers; z is ONE fixed double tree
    * floored to milli; `trending` = |z_milli| ≥ 1960. NULL z when no
    * untied pair exists.
    *
    * Output per key: `(key, n, n_pairs, n_rise, n_fall, z_milli,
    * trending)` — n_pairs = ⌊n/2⌋ (before tie drops).
    *
    * 100 TB shape: ONE key shuffle (rank window), then a KEY-LOCAL
    * rank-offset equi-join of the two halves (n/2 pairs — linear, no
    * cap needed) and a map-side-combined rollup.
    */
  def coxStuart(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      valueCol: String): DataFrame = {
    val base = df
      .filter(col(keyCol).isNotNull && col(bucketCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as("__k"),
        col(bucketCol).cast("long").as("__b"),
        // micro-floor, not a raw long cast: the test reads only
        // COMPARISONS, so flooring is order-preserving for integer
        // inputs (q285's oracle compares the raw sums unchanged) and
        // keeps a double input from collapsing into truncation ties
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__v"))
    val w = Window.partitionBy("__k").orderBy("__b")
    val ranked = base
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("__k")))
      .localCheckpoint()
    val a = ranked.filter(col("__rn") <= expr("__n div 2"))
      .select(col("__k"), col("__n"), col("__rn"), col("__v").as("va"))
    val b = ranked
      .select(col("__k"),
        (col("__rn") - (col("__n") - expr("__n div 2"))).as("__rn"),
        col("__v").as("vb"))
    a.join(b, Seq("__k", "__rn"))
      .groupBy("__k", "__n")
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("vb") > col("va"), 1)).as("n_rise"),
        count(when(col("vb") < col("va"), 1)).as("n_fall"))
      .select(col("__k").as("key"), col("__n").as("n"), col("n_pairs"),
        col("n_rise"), col("n_fall"),
        expr("""cast(case when n_rise + n_fall > 0 then
            floor(1000.0 * (cast(n_rise as double) - n_fall)
              / sqrt(cast(n_rise + n_fall as double)))
          end as long)""").as("z_milli"))
      .withColumn("trending",
        when(col("z_milli").isNull, lit(null).cast("boolean"))
          .otherwise(abs(col("z_milli")) >= 1960L))
  }
}
