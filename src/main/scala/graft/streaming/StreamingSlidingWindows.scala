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
  *  - per-key state holds ONE time-ordered buffer of step buckets, each a
  *    [[WindowAgg.Acc]] per feature, sized to the LARGEST window; every
  *    window size is served from it by merging its buckets
  *    (optimizations.md §1 — state shared across window sizes);
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
  * re-aggregated from retained raw pairs like Flink's AggFuncWithLimit);
  * ROW_NUMBER is rejected when the view is built, as in the batch path.
  * Same-timestamp ties resolve by arrival order: FIRST_VALUE keeps the
  * earlier row, LAST_VALUE and a limit's cutoff keep the later one, and
  * COLLECT_LIST lists them as they arrived.
  */
object StreamingSlidingWindows {

  final case class FeatureSpec(
      name: String,
      agg: AggFunc,
      windowMs: Long,
      limit: Option[Int] = None)

  private[streaming] final case class KeyState(
      keyVals: List[Any],
      buckets: TreeMap[Long, Array[WindowAgg.Acc]],
      lastEmittedStep: Long,
      lastSig: Option[List[Any]],
      emptyEmitted: Boolean) extends Serializable

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
    require(!feats.exists(_.agg == AggFunc.RowNumber),
      "ROW_NUMBER is not supported in sliding windows")
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
    val valueTypes = feats.indices.map(i => schema(s"__v_$i").dataType)
    val integral = valueTypes.map(WindowAgg.integral)
    val zeros = feats.map(f => WindowAgg.zero(f.agg, f.limit))
    val outSchema = StructType(
      keys.map(schema(_)).toSeq ++
        Seq(StructField("window_time", LongType, nullable = false)) ++
        feats.zip(valueTypes).map { case (f, vt) =>
          StructField(f.name, WindowAgg.outType(f.agg, vt)) })

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
            val arr = st.buckets.getOrElse(b, zeros.toArray)
            val merged = Array.tabulate(nFeats)(i => arr(i).add(t, r.get(vIdx(i))))
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
              st.buckets.rangeImpl(Some(s - feats(i).windowMs / stepMs + 1), Some(s + 1))
                .valuesIterator.foldLeft(zeros(i))(_ merge _(i))
            }
            val any = combined.exists(_.cnt > 0)
            val values = feats.indices.map(i => WindowAgg.result(
              feats(i).agg, combined(i), integral(i), feats(i).limit, respectNulls = false))
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
