package graft.streaming

import graft.table.AggFunc
import org.apache.spark.sql.types._

/** The one definition of the streaming window aggregates, shared by
  * [[StreamingOverWindows]] (per-row frames) and [[StreamingSlidingWindows]]
  * (step buckets merged per window) — the analogue of the reference's Flink
  * `AggFunc` library (add / merge / getResult) and its `AggFuncWithLimit`
  * wrapper, on which both its OVER and sliding windows run
  * (ref: java/feathub-udf/flink-udf/src/main/java/com/alibaba/feathub/
  * flink/udf/aggregation/).
  */
private[streaming] object WindowAgg {

  /** Mergeable accumulator of one feature over (t, v) rows. `rows` counts
    * every row (ROW_NUMBER); the non-null values alone feed `cnt`, the sums
    * (Long and Double, so integral inputs stay exact past 2^53), `min`/
    * `max` and `first`/`last`, while `rawFirst`/`rawLast` keep the first/
    * last row's value even when it is null. First and last go by event
    * time, a same-time tie by arrival: FIRST keeps the earlier row, LAST
    * the later one. `vc` (value → count, VALUE_COUNTS) and `vals` (the
    * non-null (t, v) pairs, newest arrival first: COLLECT_LIST and limits)
    * are null unless the feature needs them.
    */
  final case class Acc(
      rows: Long, cnt: Long, sumL: Long, sumD: Double, min: Any, max: Any,
      firstT: Long, first: Any, lastT: Long, last: Any,
      rawFirstT: Long, rawFirst: Any, rawLastT: Long, rawLast: Any,
      vc: Map[Any, Long], vals: List[(Long, Any)]) {

    /** Folds in one row; `v` may be null. */
    def add(t: Long, v: Any): Acc = {
      val raw = copy(rows = rows + 1,
        rawFirstT = math.min(t, rawFirstT), rawFirst = if (t < rawFirstT) v else rawFirst,
        rawLastT = math.max(t, rawLastT), rawLast = if (t >= rawLastT) v else rawLast)
      if (v == null) raw
      else raw.copy(cnt = cnt + 1,
        sumL = sumL + (v match { case n: Number => n.longValue(); case _ => 0L }),
        sumD = sumD + (v match { case n: Number => n.doubleValue(); case _ => 0.0 }),
        min = if (min == null || cmp(v, min) < 0) v else min,
        max = if (max == null || cmp(v, max) > 0) v else max,
        firstT = math.min(t, firstT), first = if (t < firstT) v else first,
        lastT = math.max(t, lastT), last = if (t >= lastT) v else last,
        vc = if (vc == null) null else vc.updated(v, vc.getOrElse(v, 0L) + 1L),
        vals = if (vals == null) null else (t, v) :: vals)
    }

    /** Folds in `b`, whose rows arrived after this accumulator's. */
    def merge(b: Acc): Acc = Acc(
      rows + b.rows, cnt + b.cnt, sumL + b.sumL, sumD + b.sumD,
      if (b.min != null && (min == null || cmp(b.min, min) < 0)) b.min else min,
      if (b.max != null && (max == null || cmp(b.max, max) > 0)) b.max else max,
      math.min(firstT, b.firstT), if (b.firstT < firstT) b.first else first,
      math.max(lastT, b.lastT), if (b.lastT >= lastT) b.last else last,
      math.min(rawFirstT, b.rawFirstT), if (b.rawFirstT < rawFirstT) b.rawFirst else rawFirst,
      math.max(rawLastT, b.rawLastT), if (b.rawLastT >= rawLastT) b.rawLast else rawLast,
      if (vc == null) null
      else b.vc.foldLeft(vc) { case (m, (k, c)) => m.updated(k, m.getOrElse(k, 0L) + c) },
      if (vals == null) null else b.vals ::: vals)
  }

  private def empty(vc: Map[Any, Long], vals: List[(Long, Any)]): Acc =
    Acc(0L, 0L, 0L, 0.0, null, null, Long.MaxValue, null, Long.MinValue, null,
      Long.MaxValue, null, Long.MinValue, null, vc, vals)

  /** Empty accumulator of a feature, keeping value counts and pairs only
    * when `agg` or a limit reads them.
    */
  def zero(agg: AggFunc, limit: Option[Int]): Acc = empty(
    if (agg == AggFunc.ValueCounts) Map.empty else null,
    if (agg == AggFunc.CollectList || limit.isDefined) Nil else null)

  /** Total order of one column's values: same-class `Comparable`s (Long
    * past 2^53, timestamps, strings, decimals, booleans) exactly, other
    * numbers by double value.
    */
  def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Comparable[_], y) if x.getClass == y.getClass =>
      x.asInstanceOf[Comparable[Any]].compareTo(y)
    case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case _                      => 0
  }

  /** Non-null (t, v) pairs in event-time order, same-time ties by arrival. */
  private def ordered(a: Acc): List[(Long, Any)] = a.vals.reverse.sortBy(_._1)

  /** Final value of one feature. A `limit` re-aggregates the newest n
    * non-null pairs through [[Acc.add]], like the reference's
    * AggFuncWithLimit. `respectNulls` (an unfiltered OVER feature) makes
    * FIRST/LAST the raw first/last row value and an all-null SUM NULL;
    * otherwise nulls are skipped and an empty SUM is 0 — the batch
    * engine's `ignoreNulls = filterExpr.nonEmpty` and sliding empty-window
    * default (ref: processors/flink/table_builder/aggregation_utils.py:93-118).
    */
  def result(agg: AggFunc, acc: Acc, integral: Boolean, limit: Option[Int],
      respectNulls: Boolean): Any = {
    val a = limit.fold(acc)(n => ordered(acc).takeRight(n).foldLeft(
      empty(if (acc.vc == null) null else Map.empty, Nil)) { case (x, (t, v)) => x.add(t, v) })
    agg match {
      case AggFunc.Count     => a.cnt
      case AggFunc.RowNumber => a.rows
      case AggFunc.Sum =>
        if (a.cnt > 0) { if (integral) a.sumL else a.sumD }
        else if (respectNulls) null
        else if (integral) 0L else 0.0
      case AggFunc.Avg         => if (a.cnt == 0) null else a.sumD / a.cnt
      case AggFunc.Min         => a.min
      case AggFunc.Max         => a.max
      case AggFunc.FirstValue  => if (respectNulls) a.rawFirst else a.first
      case AggFunc.LastValue   => if (respectNulls) a.rawLast else a.last
      case AggFunc.CollectList => if (a.cnt == 0) null else ordered(a).map(_._2)
      case AggFunc.ValueCounts => if (a.cnt == 0) null else a.vc
    }
  }

  def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }

  /** Output type of `agg` over values of type `vt`. */
  def outType(agg: AggFunc, vt: DataType): DataType = agg match {
    case AggFunc.Count | AggFunc.RowNumber => LongType
    case AggFunc.Avg                       => DoubleType
    case AggFunc.Sum                       => if (integral(vt)) LongType else DoubleType
    case AggFunc.ValueCounts               => MapType(vt, LongType)
    case AggFunc.CollectList               => ArrayType(vt)
    case _                                 => vt
  }
}
