package graft.streaming

import graft.engine.EventTime
import graft.table.AggFunc
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Structured-Streaming per-row trailing-window (OVER) aggregation — the
  * unbounded analogue of [[graft.engine.OverWindows]] and of the
  * reference's Flink OVER windows (over_window_utils.py compiles to Flink
  * `OVER (PARTITION BY keys ORDER BY rowtime ...)`, which buffers rows
  * until the watermark and emits one output row per input row, dropping
  * rows that arrive below the watermark).
  *
  * Per-key state:
  *  - `pending`: input rows not yet finalized by the watermark (emitted in
  *    event-time order once `watermark >= t`, matching Flink's
  *    RowTimeRangeBoundedPrecedingFunction buffering);
  *  - `hist`: finalized rows' (t, values, matches) retained exactly as long
  *    as some feature's frame can still reach them — bounded by the largest
  *    window_size horizon and each limit's n-th-newest qualifying row;
  *  - `accs`: running [[WindowAgg.Acc]]s for UNBOUNDED-frame features, so
  *    their state is O(1) instead of the full history (VALUE_COUNTS keeps
  *    one count per distinct value; COLLECT_LIST inherently retains all
  *    values).
  *
  * Frame semantics mirror the batch engine exactly (OverWindows.scala):
  * with a filter the frame is the matching rows, without it all rows; a
  * `limit` keeps the newest n frame rows; a `window_size` then cuts at
  * `row.t - size`. A bounded frame is folded into a fresh accumulator per
  * row. Both kinds of frame are read by [[WindowAgg.result]], which
  * respects nulls only for unfiltered features: SUM/COUNT/ROW_NUMBER
  * default to 0 under a filter, FIRST/LAST honor ignoreNulls only when
  * filtered.
  */
object StreamingOverWindows {

  final case class FeatureSpec(
      name: String,
      agg: AggFunc,
      windowMs: Option[Long],
      limit: Option[Int],
      hasFilter: Boolean)

  final case class Entry(t: Long, vs: List[Any], ms: List[Boolean])
      extends Serializable

  /** Finalized history and the unbounded features' accumulators. */
  private[streaming] final case class OverAcc(hist: Vector[Entry], accs: List[WindowAgg.Acc])

  /** @param input streaming DataFrame carrying [[EventTime.Col]] (epoch ms),
    *              one `__v_i` per feature (expr with filter applied) and one
    *              `__m_i` boolean per feature (frame-membership: the filter
    *              predicate, or true when unfiltered).
    * @return append-mode stream: all input columns except the `__v`/`__m`
    *         helpers, plus one column per feature — row-preserving like the
    *         batch over-window phase.
    */
  def apply(
      input: DataFrame,
      keys: Seq[String],
      feats: Seq[FeatureSpec],
      maxOutOfOrdernessMs: Long): DataFrame = {
    require(input.isStreaming, "use OverWindows for batch inputs")
    val schema = input.schema
    val vIdx = feats.indices.map(i => schema.fieldIndex(s"__v_$i"))
    val mIdx = feats.indices.map(i => schema.fieldIndex(s"__m_$i"))
    val helperIdx = (vIdx ++ mIdx).toSet
    val outIdx = schema.indices.filterNot(helperIdx.contains)
    val valueTypes = feats.indices.map(i => schema(s"__v_$i").dataType)
    val integral = valueTypes.map(WindowAgg.integral)
    val outSchema = StructType(outIdx.map(schema(_)) ++ feats.zip(valueTypes).map {
      case (f, vt) => StructField(f.name, WindowAgg.outType(f.agg, vt)) })

    val unbounded = feats.map(f => f.windowMs.isEmpty && f.limit.isEmpty)
    val zeros = feats.map(f => WindowAgg.zero(f.agg, None))

    // __event_ts__ is appended AFTER the index computations above, so every
    // precomputed field index stays valid; it is simply absent from outIdx.
    val withTs = input
      .withColumn("__event_ts__", timestamp_millis(col(EventTime.Col)))

    // no tie column: a constant tie lets arrival order break event-time ties
    KeyedFinalize(withTs, keys, "__event_ts__", maxOutOfOrdernessMs, outSchema,
      new KeyedFinalize.Fold[OverAcc, List[Any]] {
        def zero: OverAcc = OverAcc(Vector.empty, zeros.toList)
        def admit(r: Row, t: Long): Option[(String, List[Any])] =
          Some("" -> r.toSeq.toList.take(schema.length))
        def step(a: OverAcc, t: Long, rowVals: List[Any], out: ArrayBuffer[Row]): OverAcc = {
          val vs = vIdx.map(rowVals(_)).toList
          val ms = mIdx.map(i => rowVals(i).asInstanceOf[Boolean]).toList
          var hist = a.hist :+ Entry(t, vs, ms)
          var accs = a.accs
          val values = feats.indices.map { i =>
            val f = feats(i)
            val acc =
              if (unbounded(i)) {
                if (ms(i)) accs = accs.updated(i, accs(i).add(t, vs(i)))
                accs(i)
              } else {
                // the frame: matching rows, the newest `limit`, then those
                // inside the window ending at this row
                var frame = hist.filter(_.ms(i))
                f.limit.foreach(n => frame = frame.takeRight(n))
                f.windowMs.foreach(d => frame = frame.filter(_.t >= t - d))
                frame.foldLeft(zeros(i))((a, e) => a.add(e.t, e.vs(i)))
              }
            WindowAgg.result(f.agg, acc, integral(i), None, respectNulls = !f.hasFilter)
          }
          out += Row.fromSeq(outIdx.map(rowVals(_)) ++ values)

          // evict history no future frame can reach: older than the time
          // horizon and than every limit's n-th-newest qualifying row
          val thresholds = feats.indices.flatMap { i =>
            val f = feats(i)
            if (unbounded(i)) None
            else {
              val timeTh = f.windowMs.map(d => t - d)
              val limitTh = f.limit.map { n =>
                val qual = hist.collect { case e if e.ms(i) => e.t }
                if (qual.size < n) Long.MinValue else qual(qual.size - n)
              }
              Seq(timeTh, limitTh).flatten.reduceOption(_ min _)
            }
          }
          if (thresholds.nonEmpty) {
            val cut = thresholds.min
            hist = hist.filter(_.t >= cut)
          }
          OverAcc(hist, accs)
        }
        def keep(a: OverAcc, watermark: Long): Boolean =
          a.hist.nonEmpty || a.accs.exists(_.rows != 0L)
      })
  }
}
