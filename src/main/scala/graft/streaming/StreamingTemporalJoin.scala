package graft.streaming

import graft.engine.EventTime
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import scala.collection.immutable.TreeMap

/** Structured-Streaming point-in-time (as-of) left join — the unbounded
  * analogue of [[graft.engine.TemporalJoin.pointInTime]] and of the
  * reference's Flink event-time temporal join (ref: python/feathub/
  * processors/flink/table_builder/join_utils.py:57-142 compiles
  * JoinTransform to `FOR SYSTEM_TIME AS OF l.rowtime`, which Flink executes
  * as a keyed two-input operator buffering both sides until the watermark).
  *
  * Same architecture as the batch plan: both sides are unioned into ONE
  * keyed stream (one shuffle, no stream-stream join state explosion), then
  * a per-key state machine replays rows in event-time order once the
  * watermark finalizes them:
  *
  *  - right versions accumulate in a time-ordered map; among versions
  *    sharing a timestamp the lexicographically greatest value tuple wins
  *    (the batch plan's `max(struct(..))` tie rule);
  *  - a left row at time t emits once `watermark >= t`, joined against the
  *    latest right version with `r.t <= t` (version at exactly t visible,
  *    matching the batch right-before-left sort order);
  *  - right versions older than the newest version at-or-below the
  *    watermark are evicted: every future emittable left row has
  *    `t > watermark`, so only the floor version and newer can be its
  *    match. State per key is O(buffered-ooo-rows + retained versions),
  *    independent of stream length;
  *  - rows later than the watermark are dropped (both sides), the Flink
  *    late-data rule;
  *  - NULL join keys never match ([[graft.engine.TemporalJoin]] rule):
  *    NULL-keyed right versions are dropped at the source, NULL-keyed left
  *    rows emit NULL values.
  *
  * Scale: the only shuffle is the `groupByKey`; state eviction is driven by
  * the watermark, and emission wakes on event-time timeout, so idle keys
  * cost nothing per microbatch.
  */
object StreamingTemporalJoin {

  /** Buffered left rows (time → full output-prefix value arrays) plus the
    * right version store (time → value tuple).
    */
  final case class JoinState(
      lefts: List[(Long, List[Any])],
      rights: TreeMap[Long, List[Any]]) extends Serializable

  /** Lexicographic tuple compare with NULL smallest — the ordering Spark's
    * `max(struct(...))` uses for the batch tie rule. Same-runtime-type
    * values compare through their own Comparable (longs stay exact — a
    * doubleValue() detour silently collapses values beyond 2^53;
    * timestamps/dates/decimals keep their natural order); an unsupported
    * or mismatched pair fails loudly rather than being declared equal,
    * which would quietly diverge streaming from the batch plan.
    */
  private def tupleGt(a: List[Any], b: List[Any]): Boolean = {
    val it = a.iterator.zip(b.iterator)
    while (it.hasNext) {
      val (x, y) = it.next()
      val c = (x, y) match {
        case (null, null) => 0
        case (null, _)    => -1
        case (_, null)    => 1
        case (p: java.lang.Comparable[_], q) if p.getClass == q.getClass =>
          p.asInstanceOf[java.lang.Comparable[Any]].compareTo(q)
        case _ =>
          throw new IllegalArgumentException(
            s"StreamingTemporalJoin tie-break: unsupported value types " +
              s"${x.getClass.getName} vs ${y.getClass.getName}; add a typed " +
              "comparison rather than treating them as equal")
      }
      if (c != 0) return c > 0
    }
    false
  }

  /** @param left  streaming DataFrame carrying [[EventTime.Col]] (epoch ms).
    * @param right streaming DataFrame carrying the key columns,
    *              [[EventTime.Col]], and `valueCols` right-side columns.
    * @param valueCols (rightColumnName, outputColumnName) pairs appended to
    *                  the left schema.
    * @return streaming DataFrame in append mode: all left columns ++ the
    *         joined value columns.
    */
  def apply(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      valueCols: Seq[(String, String)],
      maxOutOfOrdernessMs: Long): DataFrame = {
    require(left.isStreaming && right.isStreaming,
      "StreamingTemporalJoin requires both sides streaming; use TemporalJoin for batch")
    require(keys.nonEmpty, "point-in-time join requires keys")

    val leftCols = left.columns.toSeq
    val nVals = valueCols.size

    // ---- align the two sides into one tagged union ---------------------
    val rightSlim = right
      .filter(keys.map(col(_).isNotNull).reduce(_ && _)) // NULL keys never match
      .select(keys.map(col) ++ Seq(col(EventTime.Col)) ++
        valueCols.map { case (c, _) => col(c) }: _*)
    val valueTypes = valueCols.map { case (c, _) => right.schema(c).dataType }

    val leftTagged = valueCols.indices
      .foldLeft(left.withColumn("__is_left", lit(true))) { (df, i) =>
        df.withColumn(s"__rv_$i", lit(null).cast(valueTypes(i)))
      }
    val rightTagged = {
      var df = rightSlim.withColumn("__is_left", lit(false))
      valueCols.zipWithIndex.foreach { case ((c, _), i) =>
        df = df.withColumn(s"__rv_$i", col(c))
      }
      // null-fill left-only columns so unionByName lines up
      leftCols.filterNot(c => df.columns.contains(c)).foreach { c =>
        df = df.withColumn(c, lit(null).cast(left.schema(c).dataType))
      }
      df.select(leftTagged.columns.map(col).toSeq: _*)
    }
    val unioned = leftTagged.unionByName(rightTagged)

    val schema = unioned.schema
    val keyIdx = keys.map(schema.fieldIndex)
    val tIdx = schema.fieldIndex(EventTime.Col)
    val isLeftIdx = schema.fieldIndex("__is_left")
    val leftIdx = leftCols.map(schema.fieldIndex)
    val rvIdx = (0 until nVals).map(i => schema.fieldIndex(s"__rv_$i"))

    val outSchema = StructType(
      leftCols.map(c => left.schema(left.schema.fieldIndex(c))) ++
        valueCols.zipWithIndex.map { case ((_, out), i) =>
          StructField(out, valueTypes(i), nullable = true)
        })

    val withTs = unioned
      .withColumn("__event_ts__", timestamp_millis(col(EventTime.Col)))
      .withWatermark("__event_ts__", s"$maxOutOfOrdernessMs milliseconds")

    val grouped =
      withTs.groupByKey((r: Row) => KeyedFinalize.encodeKey(r, keyIdx))(Encoders.STRING)

    val flat = grouped.flatMapGroupsWithState[JoinState, Row](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (_: String, rows: Iterator[Row], state: GroupState[JoinState]) =>

        var st = state.getOption.getOrElse(JoinState(Nil, TreeMap.empty))
        val watermark = state.getCurrentWatermarkMs()

        // ---- buffer incoming rows (late rows dropped) ------------------
        rows.foreach { r =>
          val t = r.getLong(tIdx)
          if (t > watermark) {
            if (r.getBoolean(isLeftIdx)) {
              st = st.copy(lefts = (t, leftIdx.map(r.get).toList) :: st.lefts)
            } else {
              val vals = rvIdx.map(r.get).toList
              val keep = st.rights.get(t) match {
                case Some(prev) => if (tupleGt(vals, prev)) vals else prev
                case None       => vals
              }
              st = st.copy(rights = st.rights.updated(t, keep))
            }
          }
        }

        // ---- emit every left row the watermark has finalized -----------
        val (ready, pending) = st.lefts.partition(_._1 <= watermark)
        val out = ready
          .sortBy(_._1) // deterministic intra-batch order
          .map { case (t, lvals) =>
            val joined = st.rights.rangeTo(t).lastOption.map(_._2)
              .getOrElse(List.fill(nVals)(null))
            Row.fromSeq(lvals ++ joined)
          }

        // ---- evict right versions unreachable by future left rows ------
        // Future emittable lefts have t > watermark, so only the newest
        // version at-or-below the watermark (the "floor") still serves.
        val floor = st.rights.rangeTo(watermark).lastOption.map(_._1)
        val prunedRights = floor match {
          case Some(f) => st.rights.rangeFrom(f)
          case None    => st.rights
        }
        st = JoinState(pending, prunedRights)

        if (st.lefts.isEmpty && st.rights.isEmpty) {
          state.remove()
        } else {
          state.update(st)
          if (st.lefts.nonEmpty) {
            // wake when the watermark passes the oldest buffered left row
            val next = st.lefts.map(_._1).min
            state.setTimeoutTimestamp(math.max(next, watermark + 1))
          }
          // rights-only state needs no timer: it only matters when a new
          // left row arrives, which re-invokes this function anyway
        }
        out.iterator
    }(Encoders.kryo[JoinState], Encoders.row(outSchema))

    flat.toDF()
  }
}
