package graft.streaming

import graft.engine.EventTime
import graft.table.AggFunc
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import scala.collection.immutable.TreeMap

/** Structured-Streaming sliding (hopping) window aggregation with the
  * reference's full emission semantics — the Spark analogue of the Flink
  * `SlidingWindowKeyedProcessFunction`
  * (ref: java/feathub-udf/flink-udf/src/main/java/com/alibaba/feathub/
  * flink/udf/processfunction/SlidingWindowKeyedProcessFunction.java:64-554):
  *
  *  - per-key state holds ONE time-ordered buffer of step-bucket partial
  *    aggregates sized to the LARGEST window; every window size is served
  *    from it (optimizations.md §1 — state shared across window sizes);
  *  - `enableEmptyWindowOutput`: one defaults row (SUM/COUNT=0, others
  *    NULL) when a window empties, then silence;
  *  - `skipSameWindowOutput`: steps whose aggregate tuple equals the last
  *    emitted tuple are suppressed;
  *  - rows older than watermark − maxWindowSize are dropped (late-data rule,
  *    SlidingWindowKeyedProcessFunction.java:128-132).
  *
  * Scale: state per key is O(maxWindow/step) partial aggregates —
  * independent of row rate (rows fold into their bucket on arrival);
  * emission is driven by event-time timeouts, so idle keys cost nothing per
  * microbatch. The only shuffle is the groupByKey on the group keys.
  *
  * Supported aggs: SUM/COUNT/AVG/MIN/MAX/FIRST_VALUE/LAST_VALUE/
  * VALUE_COUNTS/COLLECT_LIST, each optionally with `limit` (last-N rows,
  * re-aggregated from retained raw pairs like Flink's AggFuncWithLimit).
  * Same-timestamp ties at the limit cutoff resolve by buffer arrival
  * order (matching the reference's list-order semantics).
  */
object StreamingSlidingWindows {

  final case class FeatureSpec(
      name: String,
      agg: AggFunc,
      windowMs: Long,
      limit: Option[Int] = None)

  /** Per-bucket partial aggregate for one feature. Sums are carried both as
    * Long and Double so integral inputs stay exact past 2^53. `vc` (value →
    * count) is kept only for VALUE_COUNTS; `vals` ((t, v) pairs, time-
    * ordered at combine time) only for COLLECT_LIST and limited aggs — the
    * Flink AggFuncWithLimit equivalent, which also keeps raw pairs.
    */
  final case class Partial(
      cnt: Long,
      sumD: Double,
      sumL: Long,
      min: Any,
      max: Any,
      firstT: Long, firstV: Any,
      lastT: Long, lastV: Any,
      vc: Map[Any, Long],
      vals: List[(Long, Any)]) extends Serializable

  object Partial {
    val empty: Partial =
      Partial(0L, 0.0, 0L, null, null, Long.MaxValue, null, Long.MinValue, null, null, null)
  }

  final case class KeyState(
      keyVals: List[Any],
      buckets: TreeMap[Long, Array[Partial]],
      lastEmittedStep: Long,
      lastSig: Option[List[Any]],
      emptyEmitted: Boolean) extends Serializable

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number)   => java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: String, y: String)   => x.compareTo(y)
    case (x: Boolean, y: Boolean) => x.compareTo(y)
    case _                        => 0
  }

  private def mergeValue(p: Partial, t: Long, v: Any, keepVc: Boolean, keepVals: Boolean): Partial = {
    if (v == null) return p
    val d = v match { case n: Number => n.doubleValue(); case _ => 0.0 }
    val l = v match { case n: Number => n.longValue(); case _ => 0L }
    Partial(
      p.cnt + 1,
      p.sumD + d,
      p.sumL + l,
      if (p.min == null || cmp(v, p.min) < 0) v else p.min,
      if (p.max == null || cmp(v, p.max) > 0) v else p.max,
      math.min(t, p.firstT),
      if (t < p.firstT) v else p.firstV,
      math.max(t, p.lastT),
      if (t > p.lastT) v else p.lastV,
      if (!keepVc) null
      else { val m = if (p.vc == null) Map.empty[Any, Long] else p.vc
             m.updated(v, m.getOrElse(v, 0L) + 1L) },
      if (!keepVals) null
      else (t, v) :: (if (p.vals == null) Nil else p.vals))
  }

  private def combine(a: Partial, b: Partial): Partial =
    Partial(
      a.cnt + b.cnt,
      a.sumD + b.sumD,
      a.sumL + b.sumL,
      if (a.min == null) b.min else if (b.min == null) a.min
      else if (cmp(a.min, b.min) <= 0) a.min else b.min,
      if (a.max == null) b.max else if (b.max == null) a.max
      else if (cmp(a.max, b.max) >= 0) a.max else b.max,
      math.min(a.firstT, b.firstT),
      if (a.firstT <= b.firstT) a.firstV else b.firstV,
      math.max(a.lastT, b.lastT),
      if (a.lastT >= b.lastT) a.lastV else b.lastV,
      if (a.vc == null && b.vc == null) null
      else {
        val am = if (a.vc == null) Map.empty[Any, Long] else a.vc
        val bm = if (b.vc == null) Map.empty[Any, Long] else b.vc
        bm.foldLeft(am) { case (m, (k, c)) => m.updated(k, m.getOrElse(k, 0L) + c) }
      },
      if (a.vals == null && b.vals == null) null
      else (if (a.vals == null) Nil else a.vals) ::: (if (b.vals == null) Nil else b.vals))

  /** Final value of one feature from its combined window partial; empty
    * windows default to SUM/COUNT=0 and NULL otherwise
    * (ref: processors/flink/table_builder/aggregation_utils.py:93-118).
    */
  private def result(agg: AggFunc, p0: Partial, integral: Boolean, limit: Option[Int]): Any = {
    // With a limit, re-aggregate the newest N raw pairs (the reference's
    // AggFuncWithLimit.java:27 keeps raw (value, time) pairs the same way).
    // Same-timestamp ties at the cutoff resolve by buffer order (sortBy is
    // stable), matching the batch engine's collect order.
    val p = limit match {
      case Some(n) if p0.vals != null =>
        p0.vals.sortBy(_._1).takeRight(n)
          .foldLeft(Partial.empty) { case (acc, (t, v)) =>
            mergeValue(acc, t, v, keepVc = true, keepVals = true) }
      case _ => p0
    }
    agg match {
      case AggFunc.Count => p.cnt
      case AggFunc.Sum =>
        if (p.cnt == 0) { if (integral) 0L else 0.0 }
        else if (integral) p.sumL else p.sumD
      case AggFunc.Avg        => if (p.cnt == 0) null else p.sumD / p.cnt
      case AggFunc.Min        => p.min
      case AggFunc.Max        => p.max
      case AggFunc.FirstValue => p.firstV
      case AggFunc.LastValue  => p.lastV
      case AggFunc.ValueCounts =>
        if (p.cnt == 0) null else p.vc
      case AggFunc.CollectList =>
        if (p.cnt == 0) null else p.vals.sortBy(_._1).map(_._2)
      case other =>
        throw new IllegalArgumentException(s"streaming sliding does not support $other")
    }
  }

  /** @param input streaming DataFrame carrying [[EventTime.Col]] (epoch ms)
    *              and one `__v_i` column per feature (expression and filter
    *              already applied).
    * @return streaming DataFrame in append mode: keys ++ window_time ++ features.
    */
  def apply(
      input: DataFrame,
      keys: Seq[String],
      feats: Seq[FeatureSpec],
      stepMs: Long,
      enableEmptyWindowOutput: Boolean,
      skipSameWindowOutput: Boolean,
      maxOutOfOrdernessMs: Long): DataFrame = {
    require(input.isStreaming, "use SlidingWindows for batch inputs")
    require(stepMs > 0, "streaming sliding requires step_size > 0")
    val spark = input.sparkSession
    val span = feats.map(f => f.windowMs / stepMs).max
    // Timezone-aligned step boundaries, same derivation as the batch path
    // (ref: SlidingWindowUtils.java:113-114; zero for UTC sessions).
    val offsetMs = graft.engine.SlidingWindows.zoneOffsetMs(
      spark.conf.get("spark.sql.session.timeZone", "UTC"), stepMs)
    val maxWindowMs = feats.map(_.windowMs).max

    val schema = input.schema
    val keyIdx = keys.map(schema.fieldIndex)
    val tIdx = schema.fieldIndex(EventTime.Col)
    val vIdx = feats.indices.map(i => schema.fieldIndex(s"__v_$i"))
    val integral = feats.indices.map { i =>
      schema(s"__v_$i").dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    val valueTypes = feats.indices.map(i => schema(s"__v_$i").dataType)
    val keepVc = feats.map(_.agg == AggFunc.ValueCounts)
    val keepVals = feats.zip(keepVc).map { case (f, vc) =>
      vc || f.agg == AggFunc.CollectList || f.limit.isDefined
    }
    val outSchema = StructType(
      keys.map(schema(_)).toSeq ++
        Seq(StructField("window_time", LongType, nullable = false)) ++
        feats.zipWithIndex.map { case (f, i) =>
          val dt = f.agg match {
            case AggFunc.Count => LongType
            case AggFunc.Avg   => DoubleType
            case AggFunc.Sum   => if (integral(i)) LongType else DoubleType
            case AggFunc.ValueCounts => MapType(valueTypes(i), LongType)
            case AggFunc.CollectList => ArrayType(valueTypes(i))
            case _             => valueTypes(i)
          }
          StructField(f.name, dt)
        })

    val withTs = input
      .withColumn("__event_ts__", timestamp_millis(col(EventTime.Col)))
      .withWatermark("__event_ts__", s"$maxOutOfOrdernessMs milliseconds")

    val grouped =
      withTs.groupByKey((r: Row) => KeyedFinalize.encodeKey(r, keyIdx))(Encoders.STRING)

    val nFeats = feats.length

    val flat = grouped.flatMapGroupsWithState[KeyState, Row](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (_: String, rows: Iterator[Row], state: GroupState[KeyState]) =>

        var st = state.getOption.getOrElse(
          KeyState(Nil, TreeMap.empty, Long.MinValue, None, emptyEmitted = false))
        val watermark = state.getCurrentWatermarkMs()

        // ---- merge incoming rows into step buckets ---------------------
        rows.foreach { r =>
          if (st.keyVals.isEmpty) st = st.copy(keyVals = keyIdx.map(r.get).toList)
          val t = r.getLong(tIdx)
          if (t + maxWindowMs > watermark) { // late-data drop rule
            val b = Math.floorDiv(t - offsetMs, stepMs)
            val arr = st.buckets.getOrElse(b, Array.fill(nFeats)(Partial.empty))
            val merged = Array.tabulate(nFeats)(i =>
              mergeValue(arr(i), t, r.get(vIdx(i)), keepVc(i), keepVals(i)))
            st = st.copy(buckets = st.buckets.updated(b, merged))
          }
        }

        // ---- emit every step the watermark has finalized ---------------
        // The loop also runs with EMPTY buckets when a became-empty row is
        // still owed: the last data step can finalize (and its bucket
        // evict) in one microbatch while the empty step only becomes final
        // in a later one (caught by DifferentialSpec seed 3).
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        val owesEmpty = st.lastEmittedStep != Long.MinValue &&
          !st.emptyEmitted && enableEmptyWindowOutput
        if (st.buckets.nonEmpty || owesEmpty) {
          // bucket b is final once watermark >= (b+1)*step
          val maxFinal = Math.floorDiv(watermark - offsetMs, stepMs) - 1
          // Resume at the step after the last processed one — NOT at
          // firstKey: buckets already emitted are evicted, so firstKey can
          // sit PAST the became-empty step, and jumping to it would skip
          // the empty-window default row owed for the first silent step
          // (caught by DifferentialSpec seed 2).
          var s = if (st.lastEmittedStep == Long.MinValue) st.buckets.firstKey
                  else st.lastEmittedStep + 1
          val stop =
            if (st.buckets.nonEmpty) math.min(maxFinal, st.buckets.lastKey + span)
            else math.min(maxFinal, st.lastEmittedStep + 1)
          while (s <= stop) {
            if (st.emptyEmitted && (st.buckets.isEmpty || st.buckets.firstKey > s)) {
              // window (s-span, s] is empty (all buckets lie beyond s) and
              // the became-empty row is already out — every step before
              // the next data bucket emits nothing, so fast-forward
              // instead of looping a potentially huge silent gap
              val jump =
                if (st.buckets.isEmpty) stop + 1
                else math.min(st.buckets.firstKey, stop + 1)
              st = st.copy(lastEmittedStep = jump - 1)
              s = jump
            } else {
            val combined = Array.tabulate(nFeats) { i =>
              val fspan = feats(i).windowMs / stepMs
              var acc = Partial.empty
              st.buckets.rangeImpl(Some(s - fspan + 1), Some(s + 1))
                .valuesIterator.foreach(arr => acc = combine(acc, arr(i)))
              acc
            }
            val any = combined.exists(_.cnt > 0)
            val values = feats.indices.map(i =>
              result(feats(i).agg, combined(i), integral(i), feats(i).limit))
            val emit =
              if (any) { st = st.copy(emptyEmitted = false); true }
              else if (enableEmptyWindowOutput && !st.emptyEmitted) {
                st = st.copy(emptyEmitted = true); true
              } else false
            val sig = values.toList
            if (emit && !(skipSameWindowOutput && st.lastSig.contains(sig))) {
              out += Row.fromSeq(st.keyVals ++ Seq((s + 1) * stepMs + offsetMs - 1) ++ values)
              st = st.copy(lastSig = Some(sig))
            }
            st = st.copy(
              lastEmittedStep = s,
              // buckets older than any window ending after s are dead
              buckets = st.buckets.rangeImpl(Some(s - span + 2), None))
            s += 1
            }
          }
        }

        val drained =
          st.buckets.isEmpty ||
            st.lastEmittedStep >= st.buckets.lastKey + span
        if (drained && (st.emptyEmitted || !enableEmptyWindowOutput)) {
          state.remove()
        } else {
          state.update(st)
          // wake when the watermark passes the next unemitted step's end
          val nextStep =
            if (st.lastEmittedStep == Long.MinValue)
              st.buckets.headOption.map(_._1).getOrElse(Math.floorDiv(watermark - offsetMs, stepMs))
            else st.lastEmittedStep + 1
          state.setTimeoutTimestamp(math.max((nextStep + 1) * stepMs + offsetMs, watermark + 1))
        }
        out.iterator
    }(Encoders.kryo[KeyState], Encoders.row(outSchema))

    flat.toDF()
  }
}
