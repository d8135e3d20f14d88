package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of) left join: for each left row at event time t, the
  * right row with the largest right time ≤ t matching the keys; no match →
  * NULL (ref semantics: python/feathub/processors/local/
  * local_processor.py:453-523; Spark recipe at processors/spark/
  * dataframe_builder/join_utils.py:72-110).
  *
  * The reference implements this as `left JOIN right ON keys AND l.t >= r.t`
  * followed by a row_number dedup — which materializes (left × right-version)
  * rows before pruning and blows up when keys have many versions. At 100 TB
  * that intermediate is the bottleneck, so we instead use the classic
  * union + running-last-value formulation: one shuffle on the keys, one sort,
  * no intermediate explosion, and it survives arbitrary version counts.
  *
  * Ties: among right rows sharing (keys, time) the reference's row_number
  * order is nondeterministic; we deterministically keep the lexicographically
  * greatest value tuple.
  */
object TemporalJoin {

  /** @param valueCols (rightColumnName, outputColumnName) pairs appended to left. */
  def pointInTime(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      valueCols: Seq[(String, String)]): DataFrame = {
    require(keys.nonEmpty, "point-in-time join requires keys")
    val t = EventTime.Col

    // Join-key equality never matches on NULL (the reference compiles to an
    // equi-join; SQL `=` is null-rejecting). The window formulation below
    // would otherwise co-partition NULL-keyed left and right rows and match
    // them, so NULL-keyed right versions are dropped up front; NULL-keyed
    // left rows pass through with NULL joined values.
    val rightNonNull = right.filter(keys.map(col(_).isNotNull).reduce(_ && _))

    // Duplicate (keys, time) right versions resolve to max(struct) — the
    // deterministic latest-version rule. This used to be a groupBy (a full
    // extra shuffle of the right side); instead __rvals now participates
    // in the window sort below, so among equal-(keys, t) right rows the
    // running `last` lands on the max struct — same semantics, one less
    // exchange (the right side is shuffled once, by the window itself).
    val packed = rightNonNull
      .select(struct(valueCols.map { case (c, _) => col(c) }: _*).as("__rvals") +:
        (keys :+ t).map(col): _*)
    val rvalsType = packed.schema("__rvals").dataType

    // Tag and align both sides in one projection each: the right side
    // carries nulls for left-only columns.
    val leftCols = left.columns.toSeq
    val allCols = (leftCols ++ Seq("__is_left", "__rvals")).distinct
    val leftTagged = left.select(allCols.map {
      case "__is_left" => lit(1).as("__is_left")
      case "__rvals"   => lit(null).cast(rvalsType).as("__rvals")
      case c           => col(c)
    }: _*)
    val packedCols = packed.columns.toSet
    val rightAligned = packed.select(allCols.map {
      case "__is_left"        => lit(0).as("__is_left")
      case c if packedCols(c) => col(c)
      case c                  => lit(null).cast(left.schema(c).dataType).as(c)
    }: _*)
    val unioned = leftTagged.unionByName(rightAligned)

    // Right rows sort before left rows at equal time so a right version at
    // exactly t is visible to a left row at t (right_time <= left_time);
    // __rvals asc last so the max-struct version of duplicate (keys, t)
    // right rows is the one the running `last` retains.
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(t).asc, col("__is_left").asc, col("__rvals").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    unioned
      .withColumn("__pit", last(col("__rvals"), ignoreNulls = true).over(w))
      .filter(col("__is_left") === 1)
      .select(leftCols.map(col) ++ valueCols.map { case (c, out) =>
        col(s"__pit.$c").as(out)
      }: _*)
  }

  /** Join expiry: a joined value older than `validMillis` relative to the
    * left time reverts to `default`
    * (ref: python/feathub/processors/flink/table_builder/
    * join_utils.py:293-326 "valid time interval").
    */
  def withExpiry(
      joined: DataFrame,
      rightTimeCol: String,
      valueCol: String,
      validMillis: Long,
      default: Column): DataFrame =
    joined.withColumn(valueCol, expiring(rightTimeCol, valueCol, validMillis, default))

  /** The value [[withExpiry]] gives `valueCol`. */
  def expiring(rightTimeCol: String, valueCol: String, validMillis: Long, default: Column): Column =
    when(col(EventTime.Col) < col(rightTimeCol) + lit(validMillis), col(valueCol))
      .otherwise(default)

  /** Key-filter: restrict to rows whose key fields appear in `keysDf`
    * (ref: python/feathub/processors/spark/
    * spark_dataframe_builder.py:136-148). Small key sets broadcast.
    */
  def filterByKeys(df: DataFrame, keysDf: DataFrame): DataFrame = {
    val missing = keysDf.columns.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"Given key ${missing.mkString(", ")} not in the fields: " +
        df.columns.mkString(", ")) // ref: spark_dataframe_builder.py:142-148
    df.join(broadcast(keysDf.dropDuplicates()), keysDf.columns.toSeq, "left_semi")
  }

  /** INTERVAL (range) join: every (left, right) pair sharing `keys` with
    * `right.ts - left.ts` in `[lowerMs, upperMs]` — the follow-on-events /
    * label-attribution / co-occurrence-in-time join the point-in-time join
    * (latest single match) cannot express. Right-side columns (except
    * keys) come back suffixed `rightSuffix`.
    *
    * 100 TB shape: a naive keys-equi + range-filter plan degenerates to a
    * per-key cross product on hot keys. Here both sides pre-bucket on
    * `time DIV w` with `w = upperMs - lowerMs`: a left row's admissible
    * right window has length exactly `w`, so it spans AT MOST TWO buckets
    * — the left side explodes into those (≤2, deduped) bucket entries,
    * the join runs on `(keys, bucket)`, and the exact range predicate
    * prunes in place. Each qualifying pair materializes exactly once (the
    * right row's bucket is one of the left's two), so there is no
    * post-join distinct, and candidate volume is bounded by co-bucketed
    * rows instead of per-key row counts. For unbounded inputs use Spark's
    * native stream-stream join with a time-range condition — this is the
    * batch/backfill shape.
    *
    * Timestamps must be non-negative epoch millis; bounds may be negative
    * (both sides shift by a constant before the integer `DIV` so the
    * truncating division never sees a negative operand). NULL keys never
    * match (equi-join semantics).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      lowerMs: Long,
      upperMs: Long,
      rightSuffix: String = "_r"): DataFrame = {
    require(upperMs >= lowerMs, s"upperMs $upperMs < lowerMs $lowerMs")
    require(keys.nonEmpty, "interval join needs at least one key")
    val w = math.max(upperMs - lowerMs, 1L)
    // keeps ts + lowerMs + K >= 0 so DIV (truncate-toward-zero) == floor;
    // 2^41 ms ≈ 70 years of epoch headroom on both sides
    val K = 1L << 41
    require(math.abs(lowerMs) < K && math.abs(upperMs) < K,
      "interval bounds beyond +/-2^41 ms not supported")
    val rRenamed = right.columns.foldLeft(right) { (d, c) =>
      if (keys.contains(c)) d else d.withColumnRenamed(c, c + rightSuffix)
    }
    val rT = s"$tsCol$rightSuffix"
    val rB = rRenamed.withColumn("__b", expr(s"((`$rT` + $K) DIV $w)"))
    val lB = left.withColumn("__b",
      explode(array_distinct(array(
        expr(s"((`$tsCol` + $lowerMs + $K) DIV $w)"),
        expr(s"((`$tsCol` + $upperMs + $K) DIV $w)")))))
    lB.join(rB, keys :+ "__b")
      .filter(col(rT) >= col(tsCol) + lowerMs && col(rT) <= col(tsCol) + upperMs)
      .drop("__b")
  }

  /** Nearest-event (pandas `merge_asof`-style) join: for each left row,
    * the SINGLE right row sharing `keys` whose timestamp is closest to
    * the left's within `[lowerMs, upperMs]` — `(-tol, 0)` = backward
    * as-of, `(1, tol)` = strictly-after forward join, `(-tol, tol)` =
    * nearest either side. Left rows with no admissible right row keep
    * their row with NULL right columns (left-join semantics, like
    * merge_asof). Right non-key columns come back suffixed.
    *
    * Determinism: the winner minimizes `(|Δts|, right ts, right payload)`
    * lexicographically — equal distances break toward the EARLIER right
    * row, then toward the smaller payload — so replays, repartitions, and
    * SQL oracles agree exactly. Right payload columns must be orderable
    * (no map columns). `leftIdCols` must uniquely identify left rows —
    * the argmin groups on them, so a duplicated id would silently merge
    * two left rows' candidate sets.
    *
    * 100 TB shape: candidates come from the bucketized [[intervalJoin]]
    * (≤2 buckets per left row, never a per-key cross product), and the
    * argmin is ONE `min(struct(...))` aggregation keyed by left id —
    * map-side combining collapses candidates before the shuffle, so the
    * exchange carries at most one best-so-far row per (task, left id).
    * No window over the candidate table, no sort.
    */
  def nearestJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      leftIdCols: Seq[String],
      lowerMs: Long,
      upperMs: Long,
      rightSuffix: String = "_r"): DataFrame = {
    require(leftIdCols.nonEmpty, "nearestJoin needs left row-identity columns")
    val rT = s"$tsCol$rightSuffix"
    val cand = intervalJoin(left, right, keys, tsCol, lowerMs, upperMs, rightSuffix)
    val rightOut = right.columns.filterNot(keys.contains).map(_ + rightSuffix)
    val payload = rightOut.filterNot(_ == rT)
    val pick = struct(
      abs(col(rT) - col(tsCol)).as("__d") +: col(rT).as("__t") +:
        payload.map(c => col(c).as(c)): _*)
    val best = cand.groupBy(leftIdCols.map(col): _*).agg(min(pick).as("__best"))
    left.join(best, leftIdCols, "left")
      .select(left.columns.map(col) ++
        rightOut.map(c =>
          (if (c == rT) col("__best.__t") else col(s"__best.$c")).as(c)): _*)
  }
}
