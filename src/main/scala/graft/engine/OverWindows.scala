package graft.engine

import graft.expr.{ExprUtils, SparkCompiler}
import graft.table.{AggFunc, OverWindowTransform}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Per-row trailing-window aggregation
  * (ref: python/feathub/processors/spark/dataframe_builder/
  * over_window_utils.py:99-180):
  *  - `limit=n`            → ROWS BETWEEN n-1 PRECEDING AND CURRENT ROW
  *  - `window_size=d`      → RANGE BETWEEN d ms PRECEDING AND CURRENT ROW
  *                           over the epoch-millis event-time column
  *  - neither              → UNBOUNDED PRECEDING .. CURRENT ROW
  *  - both                 → rows frame + in-frame time filter via
  *                           higher-order functions (the reference's Spark
  *                           processor rejects this combination; Flink
  *                           supports it via AggFuncWithLimit — we close the
  *                           gap relationally).
  *
  * Per-agg `filter_expr` (Flink-only in the reference,
  * over_window_utils.py:87-91) compiles to `agg(CASE WHEN filter THEN e END)`.
  * Windows sharing (size, limit, keys) reuse one sort/partition; Catalyst
  * collapses identical WindowSpecs into a single Window operator, so no
  * extra shuffle per feature.
  */
object OverWindows {

  private val t = EventTime.Col

  private val log = org.slf4j.LoggerFactory.getLogger("graft.engine.OverWindows")

  /** A keyless over-window is a GLOBAL ordered window: Spark (like the
    * reference, over_window_utils.py:99-125) plans it as a single-partition
    * sort — the one declarative construct here that cannot scale past one
    * executor's memory. Parity demands supporting it, but a user should
    * never hit it on a 100 TB table unknowingly, so every keyless build
    * warns (see SCALE.md "Keyless over-windows").
    */
  private def keylessWindowBase(tr: OverWindowTransform): WindowSpec = {
    log.warn(
      s"over-window on '${tr.expr}' has no group_by_keys: Spark plans a " +
        "GLOBAL single-partition sort, which cannot scale beyond one " +
        "executor. Declare group_by_keys for any non-trivial input " +
        "(see SCALE.md, 'Keyless over-windows').")
    Window.partitionBy()
  }

  /** The columns an over-window reads besides the event time. */
  def reads(tr: OverWindowTransform): Set[String] =
    ((tr.expr +: tr.filterExpr.toSeq).flatMap(ExprUtils.variables) ++ tr.groupByKeys).toSet

  def aggColumn(tr: OverWindowTransform, tieBreaks: Seq[String]): Column = {
    val e = SparkCompiler.compile(tr.expr)
    val v = tr.filterExpr match {
      case Some(f) => when(SparkCompiler.compile(f), e)
      case None    => e
    }
    val orderCols = col(t).asc +: tieBreaks.map(c => col(c).asc)
    val base =
      if (tr.groupByKeys.nonEmpty) Window.partitionBy(tr.groupByKeys.map(col): _*)
      else keylessWindowBase(tr)

    (tr.windowSize, tr.limit) match {
      case (None, None) =>
        applyAgg(tr.aggFunc, v, tr,
          base.orderBy(orderCols: _*).rowsBetween(Window.unboundedPreceding, Window.currentRow))
      case (None, Some(n)) =>
        applyAgg(tr.aggFunc, v, tr,
          base.orderBy(orderCols: _*).rowsBetween(1L - n, Window.currentRow))
      case (Some(d), None) =>
        // RANGE frames require a single numeric order column.
        applyAgg(tr.aggFunc, v, tr,
          base.orderBy(col(t)).rangeBetween(-d.toMillis, Window.currentRow))
      case (Some(d), Some(n)) =>
        // Last n rows, then keep those within the trailing time window.
        val spec = base.orderBy(orderCols: _*).rowsBetween(1L - n, Window.currentRow)
        if (tr.aggFunc == AggFunc.RowNumber) {
          // position within the bounded frame = rows of the frame that fall
          // inside the window (ordering ends at the current row)
          val times = collect_list(col(t)).over(spec)
          size(filter(times, x => x >= col(t) - lit(d.toMillis))).cast("long")
        } else {
          val pairs = collect_list(when(v.isNotNull, struct(col(t).as("t"), v.as("v"))))
            .over(spec)
          val inWindow = filter(pairs, p => p("t") >= col(t) - lit(d.toMillis))
          hofAgg(tr.aggFunc, inWindow)
        }
    }
  }

  private def applyAgg(a: AggFunc, v: Column, tr: OverWindowTransform, w: WindowSpec): Column =
    a match {
      case AggFunc.Avg        => avg(v).over(w)
      case AggFunc.Sum        =>
        // Filtered SUM over a window with zero matching rows yields the
        // aggregation default 0, not NULL (ref: Flink SumAggFunc + the
        // filter goldens test_over_window_transform.py:838-850).
        if (tr.filterExpr.isDefined) coalesce(sum(v).over(w), lit(0))
        else sum(v).over(w)
      case AggFunc.Max        => max(v).over(w)
      case AggFunc.Min        => min(v).over(w)
      case AggFunc.Count      => count(v).over(w)
      case AggFunc.FirstValue => first(v, ignoreNulls = tr.filterExpr.nonEmpty).over(w)
      case AggFunc.LastValue  => last(v, ignoreNulls = tr.filterExpr.nonEmpty).over(w)
      case AggFunc.RowNumber =>
        // ROW_NUMBER result type is Int64 (agg_func.py:35-51); with a
        // bounded frame the position equals the frame's row count.
        if (tr.windowSize.isEmpty && tr.limit.isEmpty) row_number().over(w).cast("long")
        else count(lit(1)).over(w)
      case AggFunc.CollectList => collect_list(v).over(w)
      case AggFunc.ValueCounts => valueCounts(collect_list(v).over(w))
    }

  /** Over-window with BOTH filter_expr and limit: the limit counts
    * filter-MATCHING rows — "newest n rows where filter holds", per the
    * reference's local spec (local_processor.py:562-591: filter before agg)
    * and the filter+limit goldens. Not expressible as a single frame over
    * raw rows, so: compute the aggregate on the filtered subset (where the
    * rows frame IS the matching-rows frame), then propagate each row's
    * latest filtered aggregate with a running last-value — the same
    * union+running-last shape as the temporal join, one extra shuffle per
    * filtered-limit feature group and no quadratic state. Features
    * sharing (keys, filter, window, limit) ride one filtered-subset union —
    * the same fusion the reference applies to identical over-window
    * descriptors (OverWindowDescriptor grouping,
    * spark_dataframe_builder.py:184-186).
    */
  def filteredLimitGroup(df: DataFrame, feats: Seq[(String, OverWindowTransform)]): DataFrame = {
    require(feats.nonEmpty)
    val tr0 = feats.head._2
    require(feats.forall { case (_, tr) =>
      tr.filterExpr == tr0.filterExpr && tr.limit == tr0.limit &&
        tr.windowSize == tr0.windowSize && tr.groupByKeys == tr0.groupByKeys
    })
    val filterC = SparkCompiler.compile(tr0.filterExpr.get)
    val winMs = tr0.windowSize.map(_.toMillis)
    // Carrier columns. Without window_size the final aggregate propagates
    // as-is (the last-n-matching frame is the same from any later row).
    // WITH window_size the time cut depends on the OUTPUT row's time, so
    // the carrier holds the raw last-n (t, v) pairs (times for ROW_NUMBER)
    // and the cut + aggregation happen after propagation, per row —
    // propagating the finished aggregate would freeze the cut at the last
    // MATCHING row's time and leak expired rows into later output rows.
    val carrier = Projection.all(df.filter(filterC), feats.zipWithIndex.map {
      case ((_, tr), i) =>
        val c = winMs match {
          case None => aggColumn(tr.copy(filterExpr = None), Nil)
          case Some(_) =>
            val spec =
              (if (tr.groupByKeys.nonEmpty) Window.partitionBy(tr.groupByKeys.map(col): _*)
               else keylessWindowBase(tr))
                .orderBy(col(t).asc)
                .rowsBetween(1L - tr.limit.get, Window.currentRow)
            if (tr.aggFunc == AggFunc.RowNumber) collect_list(col(t)).over(spec)
            else {
              val e = SparkCompiler.compile(tr.expr)
              collect_list(when(e.isNotNull, struct(col(t).as("t"), e.as("v")))).over(spec)
            }
        }
        s"__flv_$i" -> c
    } :+ ("__isf" -> lit(1)))
    val left = Projection.all(df, feats.indices.map { i =>
      val flv = s"__flv_$i"
      flv -> lit(null).cast(carrier.schema(flv).dataType)
    } :+ ("__isf" -> lit(0)))
    val base =
      if (tr0.groupByKeys.nonEmpty) Window.partitionBy(tr0.groupByKeys.map(col): _*)
      else keylessWindowBase(tr0)
    // carrier sorts before the plain copy at equal time so a matching row
    // sees its own contribution
    val w = base.orderBy(col(t).asc, col("__isf").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val propagated = Projection.all(left.unionByName(carrier), feats.indices.map { i =>
      s"__p_$i" -> last(col(s"__flv_$i"), ignoreNulls = true).over(w)
    }).filter(col("__isf") === 0)
    val values = feats.zipWithIndex.map { case ((name, tr), i) =>
      val valueC = winMs match {
        case None => col(s"__p_$i")
        case Some(ms) =>
          if (tr.aggFunc == AggFunc.RowNumber)
            size(filter(col(s"__p_$i"), x => x >= col(t) - lit(ms))).cast("long")
          else
            hofAgg(tr.aggFunc, filter(col(s"__p_$i"), p => p("t") >= col(t) - lit(ms)))
      }
      name -> (tr.aggFunc match {
        case AggFunc.Sum | AggFunc.Count | AggFunc.RowNumber =>
          coalesce(valueC, lit(0))
        case _ => valueC
      })
    }
    Projection.all(propagated, values)
      .drop(feats.indices.flatMap(i => Seq(s"__flv_$i", s"__p_$i")) :+ "__isf": _*)
  }

  /** VALUE_COUNTS: map of value → occurrence count
    * (ref: java/feathub-udf/flink-udf/src/main/java/com/alibaba/feathub/
    * flink/udf/aggregation/ValueCountsAggFunc.java:29-95). Built from the
    * collected window values with codegen'd higher-order functions — the
    * reference's Spark processor leaves this unimplemented
    * (over_window_utils.py:165-174).
    */
  def valueCounts(list: Column): Column =
    when(size(list) > 0,
      map_from_entries(
        transform(array_distinct(list),
          x => struct(x, size(filter(list, y => y === x)).cast("long")))))

  /** Aggregate an array of (t, v) structs — used when limit and window_size
    * combine, and by sliding windows with limit.
    */
  def hofAgg(a: AggFunc, pairs: Column): Column = {
    val vals = transform(pairs, p => p("v"))
    a match {
      case AggFunc.Count => size(pairs).cast("long")
      case AggFunc.Min   => array_min(vals)
      case AggFunc.Max   => array_max(vals)
      // Fold the tail onto the head so the accumulator keeps the element
      // type. The tail length must be computed — slice with an Int.MaxValue
      // length overflows (start + length) and silently yields an empty tail.
      case AggFunc.Sum   =>
        when(size(pairs) > 0,
          aggregate(slice(vals, lit(2), greatest(size(vals) - 1, lit(0))),
            element_at(vals, 1), (acc, x) => acc + x))
      case AggFunc.Avg =>
        when(size(pairs) > 0,
          aggregate(slice(vals, lit(2), greatest(size(vals) - 1, lit(0))),
            element_at(vals, 1).cast("double"),
            (acc, x) => acc + x) / size(pairs))
      case AggFunc.FirstValue  => when(size(vals) > 0, element_at(vals, 1))
      case AggFunc.LastValue   => when(size(vals) > 0, element_at(vals, -1))
      case AggFunc.CollectList => vals
      case AggFunc.ValueCounts => valueCounts(vals)
      case AggFunc.RowNumber =>
        throw new IllegalArgumentException("ROW_NUMBER is not valid with window_size+limit")
    }
  }
}
