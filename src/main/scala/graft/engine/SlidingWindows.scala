package graft.engine

import graft.expr.SparkCompiler
import graft.table._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sliding (hopping) window aggregation.
  *
  * Semantics (ref: python/feathub/feature_views/transforms/
  * sliding_window_transform.py:23-101 and the golden suites in
  * feature_views/transforms/tests/test_sliding_window_transform.py):
  *  - event-time window (end-size, end], emitted per step; the emitted
  *    `window_time` is the inclusive last millisecond of the step
  *    (…23:59:59.999 convention, sliding_feature_view.py:146-151);
  *  - `enable_empty_window_output`: when a window becomes empty, emit one
  *    row with SUM/COUNT=0 and NULL for other aggs, then stop
  *    (sliding_feature_view.py:34-42; defaults per
  *    processors/flink/table_builder/aggregation_utils.py:93-118);
  *  - `skip_same_window_output`: suppress steps whose aggregated values are
  *    unchanged from the previously emitted row (sliding_feature_view.py:44-49).
  *
  * Physical plan follows the reference's two-phase design
  * (java/feathub-udf/.../SlidingWindowUtils.java:66-170: tumbling pre-agg
  * into step panes, then a shared multi-size merge; the panes technique of
  * Li et al., "No Pane, No Gain", SIGMOD Record 2005) re-expressed
  * relationally: groupBy(keys, pane) partial aggregation (map-side combine
  * for free), then one merge aggregate. Each pane b is exploded to the
  * window ends b..b+maxSpan with its age e−b, and groupBy(keys, end) merges,
  * per feature, only the panes younger than that feature's span — every
  * window size shares the one aggregate, the analogue of the reference's
  * shared state buffer. A pane whose age equals a feature's span marks the
  * step where that window became empty, the row the reference emits from a
  * Flink timer.
  *
  * Scale: one shuffle for the pre-agg and one keys repartition of the
  * panes, which the merge aggregate and the skip-same `lag` both reuse.
  * Intermediate size is pane rows × (maxSpan+1), or × maxSpan without
  * empty-window output, independent of window-size count; list features
  * copy each pane's list once per window end.
  */
object SlidingWindows {

  private val t = EventTime.Col
  private val B = "__bucket"

  /** Timezone-aligned window offset: step boundaries align to the session
    * time zone's local midnight instead of UTC, mirroring the reference's
    * `TumblingEventTimeWindows.of(step, offset)` with
    * `offset = getModdedOffset(step, -rawOffset(localZone))`
    * (ref: java/feathub-udf/flink-udf/src/main/java/com/alibaba/feathub/
    * flink/udf/SlidingWindowUtils.java:113-114, 281-287). The raw (non-DST)
    * offset is used, exactly as the reference does. UTC ⇒ 0, preserving
    * the default epoch-aligned bucketing.
    */
  def zoneOffsetMs(zoneId: String, stepMs: Long): Long = {
    if (stepMs <= 0) return 0L
    val raw = java.util.TimeZone.getTimeZone(zoneId).getRawOffset.toLong
    val m = (-raw) % stepMs
    if (m < 0) m + stepMs else m
  }

  final case class SlidingFeature(name: String, tr: SlidingWindowTransform)

  def apply(
      input: DataFrame,
      feats: Seq[SlidingFeature],
      enableEmptyWindowOutput: Boolean,
      skipSameWindowOutput: Boolean,
      postExprs: Seq[(String, String)] = Nil): DataFrame = {
    require(feats.nonEmpty, "no sliding features")
    val step = feats.head.tr.stepSize.toMillis
    val keys = feats.head.tr.groupByKeys
    require(feats.forall(_.tr.stepSize.toMillis == step), "step_size must match")
    require(feats.forall(_.tr.groupByKeys == keys), "group_by_keys must match")

    if (step == 0) return perRecord(input, feats, keys, skipSameWindowOutput, postExprs)

    // ---- Phase 1: per-feature value columns + step pane index --------
    val offset = zoneOffsetMs(
      input.sparkSession.conf.get("spark.sql.session.timeZone", "UTC"), step)
    val vals = feats.zipWithIndex.map { case (f, i) =>
      val e = SparkCompiler.compile(f.tr.expr)
      f.tr.filterExpr.fold(e)(fe => when(SparkCompiler.compile(fe), e)).as(s"__v_$i")
    }
    val withVals = input.select(col("*") +: floor((col(t) - offset) / step).as(B) +: vals: _*)

    def needsList(f: SlidingFeature): Boolean =
      f.tr.limit.isDefined ||
        f.tr.aggFunc == AggFunc.CollectList || f.tr.aggFunc == AggFunc.ValueCounts

    // ---- Phase 2: tumbling pre-aggregation into step panes ------------
    // Per feature: its pane partial besides the count, and how the merge
    // combines that partial across panes. List partials stay unsorted; the
    // merged list is sorted once.
    val partials: Seq[Option[(Column, Column => Column)]] = feats.zipWithIndex.map { case (f, i) =>
      val v = col(s"__v_$i")
      val tv = when(v.isNotNull, struct(col(t).as("t"), v.as("v")))
      if (needsList(f)) Some((collect_list(tv), c => flatten(collect_list(c))))
      else f.tr.aggFunc match {
        case AggFunc.Sum | AggFunc.Avg => Some((sum(v), sum(_: Column)))
        case AggFunc.Count             => None
        case AggFunc.Min               => Some((min(v), min(_: Column)))
        case AggFunc.Max               => Some((max(v), max(_: Column)))
        case AggFunc.FirstValue        => Some((min(tv), min(_: Column)))
        case AggFunc.LastValue         => Some((max(tv), max(_: Column)))
        case other => throw new IllegalArgumentException(s"Unsupported sliding agg $other")
      }
    }
    val paneAggs = feats.indices.flatMap { i =>
      count(col(s"__v_$i")).as(s"__cnt_$i") +: partials(i).map(_._1.as(s"__p_$i")).toSeq
    }
    val panes0 = withVals.groupBy((keys :+ B).map(col): _*).agg(paneAggs.head, paneAggs.tail: _*)
    // Hash on the keys alone also clusters the merge aggregate's (keys, end)
    // and the skip-same lag's keys, so neither shuffles again. Keyless views
    // are single-partition by reference semantics.
    val panes = if (keys.nonEmpty) panes0.repartition(keys.map(col): _*) else panes0

    // ---- Phase 3: one merge aggregate over every window end -----------
    // Pane b feeds the windows ending at b..b+span-1; with empty-window
    // output it also marks b+span, the step where that window became empty.
    val spans = feats.map(_.tr.windowSize.toMillis / step)
    val maxSpan = spans.max
    require(
      maxSpan < 10_000_000,
      s"window_size/step_size ratio $maxSpan too large; every input " +
        "row would feed that many output windows")
    // window ends b..b+lastAge per pane; a pane without event time has none
    val end = "__end"
    val lastAge = if (enableEmptyWindowOutput) maxSpan else maxSpan - 1
    val aged = panes.select(col("*"), explode(sequence(col(B), col(B) + lastAge)).as(end))
    val age = col(end) - col(B)
    val merges = spans.zipWithIndex.flatMap { case (span, i) =>
      def inWindow(c: String) = when(age < span, col(c))
      coalesce(sum(inWindow(s"__cnt_$i")), lit(0L)).as(s"__wcnt_$i") +:
        partials(i).map { case (_, merge) => merge(inWindow(s"__p_$i")).as(s"__p_$i") }.toSeq
    }
    val emptied =
      if (!enableEmptyWindowOutput) Nil
      else Seq(max(spans.zipWithIndex.map { case (span, i) =>
        age.between(1L, span) && col(s"__cnt_$i") > 0 }.reduce(_ || _)).as("__emptied"))
    val merged = aged
      .groupBy(keys.map(col) :+ col(end).as(B): _*)
      .agg(merges.head, merges.tail ++ emptied: _*)

    // ---- Phase 4: feature values and emission rules -------------------
    val featCols = feats.zipWithIndex.map { case (f, i) =>
      val cnt = col(s"__wcnt_$i")
      val r = col(s"__p_$i")
      val raw: Column = f.tr.aggFunc match {
        case _ if needsList(f) =>
          val flat = sort_array(r)
          val lim = f.tr.limit match {
            case Some(l) => slice(flat, greatest(size(flat) - l + 1, lit(1)), lit(l))
            case None    => flat
          }
          OverWindows.hofAgg(f.tr.aggFunc, lim)
        case AggFunc.Count => cnt
        case AggFunc.Avg   => r.cast("double") / cnt
        case AggFunc.FirstValue | AggFunc.LastValue => r("v")
        case _ => r
      }
      // Empty-window defaults: SUM/COUNT → 0, others NULL
      // (ref: flink table_builder/aggregation_utils.py:93-118). A COUNT
      // with a limit counts the limited list, not the whole window.
      val value = f.tr.aggFunc match {
        case AggFunc.Sum   => when(cnt > 0, raw).otherwise(lit(0).cast(valueType(withVals, i)))
        case AggFunc.Count => raw
        case _             => when(cnt > 0, raw)
      }
      value.as(f.name)
    }
    // a step is kept if some window holds data, or (with empty-window
    // output) if it is the step where a window became empty
    val anyData = feats.indices.map(i => col(s"__wcnt_$i") > 0).reduce(_ || _)
    val kept = merged.filter(if (enableEmptyWindowOutput) anyData || col("__emptied") else anyData)

    val windowTime = ((col(B) + 1) * step + offset - 1).as(SparkCompiler.WindowTimeCol)
    val withTime = kept.select(keys.map(col) ++ (windowTime +: featCols) :+ col(B): _*)
    val out = withPost(withTime, postExprs)
    val result =
      if (skipSameWindowOutput) dropRepeats(out, keys, feats.map(_.name), col(B)) else out
    result.drop(B)
  }

  /** Post-expressions over the window results, in listed order. */
  private def withPost(df: DataFrame, postExprs: Seq[(String, String)]): DataFrame =
    Projection.add(df, postExprs.map { case (n, e) => Projection.Out.expr(n, e) })

  /** Drops each row whose feature values equal the previous row's of the
    * same keys in `order`. The lag reads the signature column: lagging the
    * signature expression in the same projection makes Catalyst build the
    * struct twice and carry both copies through the window's sort.
    */
  private def dropRepeats(df: DataFrame, keys: Seq[String], featNames: Seq[String], order: Column): DataFrame = {
    val keyWin =
      if (keys.nonEmpty) Window.partitionBy(keys.map(col): _*) else Window.partitionBy()
    df.withColumn("__sig", comparableSig(df, featNames))
      .withColumn("__prev", lag(col("__sig"), 1).over(keyWin.orderBy(order)))
      .filter(col("__prev").isNull || !(col("__sig") <=> col("__prev")))
      .drop("__sig", "__prev")
  }

  /** Signature struct for the skip-same comparison. `<=>` cannot compare
    * MAP-typed fields (maps are unordered), so map features are encoded as
    * their key-sorted entry arrays — deterministic and equatable, matching
    * the reference's per-field Objects.equals
    * (processfunction/WindowUtils.java:29-46).
    */
  private def comparableSig(df: DataFrame, featNames: Seq[String]): Column =
    struct(featNames.map { n =>
      df.schema(n).dataType match {
        case _: org.apache.spark.sql.types.MapType =>
          sort_array(map_entries(col(n))).as(n)
        case _ => col(n)
      }
    }: _*)

  private def valueType(df: DataFrame, i: Int) = df.schema(s"__v_$i").dataType

  /** step_size=0: infinite window, emit an updated aggregate per input record
    * (ref: java/feathub-udf/.../GlobalWindowKeyedProcessFunction.java, wired
    * at processors/flink/table_builder/sliding_window_utils.py:82-123).
    */
  private def perRecord(
      input: DataFrame,
      feats: Seq[SlidingFeature],
      keys: Seq[String],
      skipSame: Boolean,
      postExprs: Seq[(String, String)]): DataFrame = {
    val agged = Projection.add(input, feats.map { f =>
      val tr = OverWindowTransform(
        f.tr.expr, f.tr.aggFunc, None, f.tr.groupByKeys, f.tr.filterExpr, None)
      Projection.Out(f.name, OverWindows.reads(tr), OverWindows.aggColumn(tr, Nil))
    } :+ Projection.Out(SparkCompiler.WindowTimeCol, Set.empty[String], col(t)))
    val outCols = keys.map(col) ++ Seq(col(SparkCompiler.WindowTimeCol)) ++
      feats.map(f => col(f.name)) ++ postExprs.map { case (n, _) => col(n) }
    val out = withPost(agged, postExprs).select(outCols: _*)
    if (skipSame) dropRepeats(out, keys, feats.map(_.name), col(SparkCompiler.WindowTimeCol))
    else out
  }
}
