package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration.Duration

/** Streaming exact deduplication on an unbounded source — the streaming
  * counterpart of [[graft.ops.Dedup.exactGroups]] for the
  * mark-don't-drop curation style: every row is emitted, flagged
  * `is_dup` when an earlier copy of the same key was emitted within
  * `horizon` of its event time.
  *
  * Differences from Spark's built-in `dropDuplicatesWithinWatermark`:
  * the built-in keeps whichever copy ARRIVES first (processing-order,
  * nondeterministic under replay/reshuffle) and drops the rest. Here
  * rows buffer until the watermark passes their event time and finalize
  * in `(event time, orderCol)` order, so "the" original is the
  * event-time-first copy with a total-order tie-break — the same copy
  * the batch operator keeps, replay-deterministic. The price is the
  * same latency every watermark-finalized operator pays (output trails
  * the watermark by the configured lateness).
  *
  * 100 TB shape: one shuffle on the key (normally a content hash
  * computed map-side — pass e.g. [[graft.ops.TextOps.normalizedHash]]
  * output). Per-key state is one timestamp plus only the rows inside
  * the lateness buffer; duplicates older than `horizon` re-admit (state
  * must be horizon-bounded on an infinite stream — an unbounded "seen
  * forever" set cannot exist; pick the horizon to match the dedup SLA).
  * State for quiet keys is evicted by event-time timeout.
  */
object StreamingDedup {

  def markDuplicates(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      orderCol: String,
      lateness: Duration,
      horizon: Duration): DataFrame = {
    require(df.isStreaming, "use ops.Dedup for batch inputs")
    require(keyCols.nonEmpty, "markDuplicates needs at least one key column")
    val schema = df.schema
    val ordIdx = schema.fieldIndex(orderCol)
    val horizonMs = horizon.toMillis
    require(horizonMs > 0, "horizon must be positive")
    val outSchema = StructType(schema.fields :+ StructField("is_dup", BooleanType, nullable = false))

    // the accumulator is the last seen event time; buffered rows keep their values
    KeyedFinalize(df, keyCols, tsCol, lateness.toMillis, outSchema,
      new KeyedFinalize.Fold[Option[Long], List[Any]] {
        def zero: Option[Long] = None
        def admit(r: Row, t: Long): Option[(String, List[Any])] =
          Some(KeyedFinalize.orderKey(r.get(ordIdx)) -> r.toSeq.toList.take(schema.length))
        def step(lastSeen: Option[Long], t: Long, rowVals: List[Any],
            out: ArrayBuffer[Row]): Option[Long] = {
          out += Row.fromSeq(rowVals :+ lastSeen.exists(prev => t - prev <= horizonMs))
          // sliding refresh: every copy extends the horizon, matching
          // dropDuplicatesWithinWatermark's state-retention rule
          Some(lastSeen.fold(t)(math.max(_, t)))
        }
        // evicted a horizon after the last occurrence
        def keep(lastSeen: Option[Long], watermark: Long): Boolean =
          lastSeen.exists(_ + horizonMs > watermark)
        override def wake(lastSeen: Option[Long]): Option[Long] = lastSeen.map(_ + horizonMs)
      })
  }

  /** Drop variant: only the event-time-first copy of each key within the
    * horizon survives — deterministic replacement for
    * `dropDuplicatesWithinWatermark`.
    */
  def firstSeen(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      orderCol: String,
      lateness: Duration,
      horizon: Duration): DataFrame =
    markDuplicates(df, keyCols, tsCol, orderCol, lateness, horizon)
      .filter(!col("is_dup")).drop("is_dup")
}
