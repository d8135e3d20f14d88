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
  *  - `accs`: running accumulators for UNBOUNDED-frame features, so their
  *    state is O(1) instead of the full history (COLLECT_LIST/VALUE_COUNTS
  *    with an unbounded frame inherently retain all values).
  *
  * Frame semantics mirror the batch engine exactly (OverWindows.scala):
  * with a filter the frame is the matching rows, without it all rows; a
  * `limit` keeps the newest n frame rows; a `window_size` then cuts at
  * `row.t - size`; SUM/COUNT/ROW_NUMBER default to 0 under a filter,
  * FIRST/LAST honor ignoreNulls only when filtered.
  */
object StreamingOverWindows {

  final case class FeatureSpec(
      name: String,
      agg: AggFunc,
      windowMs: Option[Long],
      limit: Option[Int],
      hasFilter: Boolean)

  /** Running accumulator for unbounded frames. `rows` counts every frame
    * row (ROW_NUMBER); value stats fold non-null values; `firstRow`/
    * `lastRow` keep the raw first/last frame value (nullable) for the
    * unfiltered FIRST/LAST_VALUE semantics; `vals` is retained only for
    * COLLECT_LIST / VALUE_COUNTS.
    */
  final case class RunAcc(
      rows: Long,
      cnt: Long,
      sumD: Double,
      sumL: Long,
      min: Any,
      max: Any,
      firstRowV: Any, firstRowSet: Boolean,
      lastRowV: Any,
      firstMatchV: Any, firstMatchSet: Boolean,
      lastMatchV: Any,
      vals: List[Any]) extends Serializable

  private val emptyAcc =
    RunAcc(0L, 0L, 0.0, 0L, null, null, null, false, null, null, false, null, Nil)

  final case class Entry(t: Long, vs: List[Any], ms: List[Boolean])
      extends Serializable

  /** Finalized history and the unbounded features' accumulators. */
  private[streaming] final case class OverAcc(hist: Vector[Entry], accs: List[RunAcc])

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number)   => java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: String, y: String)   => x.compareTo(y)
    case (x: Boolean, y: Boolean) => x.compareTo(y)
    case _                        => 0
  }

  private def foldAcc(a: RunAcc, v: Any, m: Boolean, keepVals: Boolean): RunAcc = {
    if (!m) return a // non-matching rows are outside a filtered frame
    val cnt = if (v == null) a.cnt else a.cnt + 1
    RunAcc(
      a.rows + 1,
      cnt,
      if (v == null) a.sumD else a.sumD + (v match { case n: Number => n.doubleValue(); case _ => 0.0 }),
      if (v == null) a.sumL else a.sumL + (v match { case n: Number => n.longValue(); case _ => 0L }),
      if (v == null) a.min else if (a.min == null || cmp(v, a.min) < 0) v else a.min,
      if (v == null) a.max else if (a.max == null || cmp(v, a.max) > 0) v else a.max,
      if (a.firstRowSet) a.firstRowV else v,
      true,
      v,
      if (a.firstMatchSet || v == null) a.firstMatchV else v,
      a.firstMatchSet || v != null,
      if (v == null) a.lastMatchV else v,
      if (keepVals && v != null) a.vals :+ v else a.vals)
  }

  private def accResult(f: FeatureSpec, a: RunAcc, integral: Boolean): Any = f.agg match {
    case AggFunc.Count     => a.cnt
    case AggFunc.RowNumber => a.rows
    case AggFunc.Sum =>
      if (a.cnt == 0) { if (f.hasFilter) { if (integral) 0L else 0.0 } else null }
      else if (integral) a.sumL else a.sumD
    case AggFunc.Avg        => if (a.cnt == 0) null else a.sumD / a.cnt
    case AggFunc.Min        => a.min
    case AggFunc.Max        => a.max
    case AggFunc.FirstValue => if (f.hasFilter) a.firstMatchV else a.firstRowV
    case AggFunc.LastValue  => if (f.hasFilter) a.lastMatchV else a.lastRowV
    case AggFunc.CollectList => if (a.vals.isEmpty) null else a.vals
    case AggFunc.ValueCounts =>
      if (a.vals.isEmpty) null
      else a.vals.groupBy(identity).map { case (k, g) => k -> g.size.toLong }
  }

  /** Aggregate one bounded frame. `frame` holds (t, v) of the frame's rows
    * (already restricted to matching rows when filtered), newest last.
    */
  private def frameResult(f: FeatureSpec, frame: Vector[(Long, Any)], integral: Boolean): Any = {
    val vals = frame.collect { case (_, v) if v != null => v }
    f.agg match {
      case AggFunc.Count     => vals.size.toLong
      case AggFunc.RowNumber => frame.size.toLong
      case AggFunc.Sum =>
        if (vals.isEmpty) { if (f.hasFilter) { if (integral) 0L else 0.0 } else null }
        else if (integral) vals.foldLeft(0L)((s, v) => s + v.asInstanceOf[Number].longValue())
        else vals.foldLeft(0.0)((s, v) => s + v.asInstanceOf[Number].doubleValue())
      case AggFunc.Avg =>
        if (vals.isEmpty) null
        else vals.foldLeft(0.0)((s, v) => s + v.asInstanceOf[Number].doubleValue()) / vals.size
      case AggFunc.Min => vals.reduceOption((a, b) => if (cmp(a, b) <= 0) a else b).orNull
      case AggFunc.Max => vals.reduceOption((a, b) => if (cmp(a, b) >= 0) a else b).orNull
      case AggFunc.FirstValue =>
        if (f.hasFilter) vals.headOption.orNull
        else frame.headOption.map(_._2).orNull
      case AggFunc.LastValue =>
        if (f.hasFilter) vals.lastOption.orNull
        else frame.lastOption.map(_._2).orNull
      case AggFunc.CollectList => if (vals.isEmpty) null else vals.toList
      case AggFunc.ValueCounts =>
        if (vals.isEmpty) null
        else vals.groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    }
  }

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
    val integral = valueTypes.map {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val outSchema = StructType(
      outIdx.map(schema(_)) ++
        feats.zipWithIndex.map { case (f, i) =>
          val dt = f.agg match {
            case AggFunc.Count | AggFunc.RowNumber => LongType
            case AggFunc.Avg                       => DoubleType
            case AggFunc.Sum => if (integral(i)) LongType else DoubleType
            case AggFunc.ValueCounts => MapType(valueTypes(i), LongType)
            case AggFunc.CollectList => ArrayType(valueTypes(i))
            case _                   => valueTypes(i)
          }
          StructField(f.name, dt)
        })

    val unbounded = feats.map(f => f.windowMs.isEmpty && f.limit.isEmpty)
    val keepVals = feats.map(f =>
      f.agg == AggFunc.CollectList || f.agg == AggFunc.ValueCounts)
    val nFeats = feats.length

    // __event_ts__ is appended AFTER the index computations above, so every
    // precomputed field index stays valid; it is simply absent from outIdx.
    val withTs = input
      .withColumn("__event_ts__", timestamp_millis(col(EventTime.Col)))

    // no tie column: a constant tie lets arrival order break event-time ties
    KeyedFinalize(withTs, keys, "__event_ts__", maxOutOfOrdernessMs, outSchema,
      new KeyedFinalize.Fold[OverAcc, List[Any]] {
        def zero: OverAcc = OverAcc(Vector.empty, List.fill(nFeats)(emptyAcc))
        def admit(r: Row, t: Long): Option[(String, List[Any])] =
          Some("" -> r.toSeq.toList.take(schema.length))
        def step(a: OverAcc, t: Long, rowVals: List[Any], out: ArrayBuffer[Row]): OverAcc = {
          val vs = vIdx.map(rowVals(_)).toList
          val ms = mIdx.map(i => rowVals(i).asInstanceOf[Boolean]).toList
          var hist = a.hist :+ Entry(t, vs, ms)
          var accs = a.accs
          val values = feats.indices.map { i =>
            val f = feats(i)
            if (unbounded(i)) {
              val acc = foldAcc(accs(i), vs(i), ms(i), keepVals(i))
              accs = accs.updated(i, acc)
              accResult(f, acc, integral(i))
            } else {
              var frame = hist.collect { case e if e.ms(i) => (e.t, e.vs(i)) }
              f.limit.foreach(n => frame = frame.takeRight(n))
              f.windowMs.foreach(d => frame = frame.filter(_._1 >= t - d))
              frameResult(f, frame, integral(i))
            }
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
