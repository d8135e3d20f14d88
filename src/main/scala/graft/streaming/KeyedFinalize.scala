package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{col, unix_millis}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.collection.mutable.ArrayBuffer

/** The one stateful loop behind the watermark-finalized keyed twins (CUSUM,
  * EWMA, Page–Hinkley, seasonal, SPRT, mSPRT, dedup, LSH, OVER windows).
  * Per key it buffers rows above the watermark and, once the watermark
  * passes them, releases them in `(event time, tie, arrival)` order into
  * the twin's [[KeyedFinalize.Fold]] — so output is replay-deterministic
  * and bit-identical to the batch operator on the same rows, not an
  * arrival-order artifact. The price is the latency every
  * watermark-finalized operator pays: output trails the watermark by the
  * configured lateness.
  *
  * Watermark mechanics at epoch 0 (verified against Spark 4.1.2
  * bytecode): `GroupState.getCurrentWatermarkMs` returns 0 both before
  * the first watermark is computed AND for a genuine epoch-0 watermark —
  * Spark exposes no third state — but the distinction is MOOT inside the
  * loop, because Spark's own exec drops late input before the function
  * runs with the predicate `eventTime <= watermark`
  * (WatermarkSupport.watermarkExpression builds a `LessThanOrEqual`; the
  * watermark floor is 0). A row stamped exactly 1970-01-01T00:00:00Z
  * (t = 0 ms) is therefore dropped BY SPARK on arrival in every
  * micro-batch, and every row that does arrive has t >= watermark + 1 >=
  * 1. Consequently admission is the plain `t > watermark`, release is the
  * plain `t <= watermark` partition, the batch-parity contract covers
  * t >= 1 (StreamingEwmaSpec and StreamingMsprtSpec pin both facts), and
  * rows inside the lateness window of a never-advancing watermark stay
  * pending — standard watermark semantics, identical to Spark's own
  * stateful aggregations. Rows with a NULL event time never finalize and
  * are skipped.
  *
  * 100 TB shape: one shuffle on the key; per-key state is the lateness
  * buffer plus the twin's accumulator, which each twin bounds on its own.
  */
private[streaming] object KeyedFinalize {

  /** What a twin adds to the loop. `A` is the per-key accumulator, `P`
    * the payload a buffered row keeps until it finalizes.
    */
  abstract class Fold[A, P] extends Serializable {
    /** Accumulator of a key that has finalized no row yet. */
    def zero: A

    /** `(tie, payload)` of an arriving row with event time `t`, or None to
      * ignore the row. The tie is an [[orderKey]].
      */
    def admit(r: Row, t: Long): Option[(String, P)]

    /** Folds one finalized row into `acc`, appending its output to `out`. */
    def step(acc: A, t: Long, p: P, out: ArrayBuffer[Row]): A

    /** True while `acc` must stay in state with no row pending. */
    def keep(acc: A, watermark: Long): Boolean

    /** Event time to wake at when no row is pending (a horizon's end). */
    def wake(acc: A): Option[Long] = None

    /** True once `acc` takes no more rows: arrivals are discarded and
      * pending rows dropped (a decided sequential test).
      */
    def closed(acc: A): Boolean = false
  }

  /** Buffered rows as (tMs, tie, payload), newest first, and the accumulator. */
  final case class KeyState[A, P](pending: List[(Long, String, P)], acc: A)

  /** Runs `fold` per key of `keyCols` over `df`, watermarked on `tsCol`
    * (a timestamp column) with `latenessMs`; `outSchema` types the rows
    * the fold emits.
    */
  def apply[A, P](
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      latenessMs: Long,
      outSchema: StructType,
      fold: Fold[A, P]): DataFrame = {
    val keyIdx = keyCols.map(df.schema.fieldIndex)
    val tIdx = df.schema.length // the millis column appended below
    val withMs = df
      .withWatermark(tsCol, s"$latenessMs milliseconds")
      .withColumn("__ts_ms__", unix_millis(col(tsCol)))

    withMs.groupByKey((r: Row) => encodeKey(r, keyIdx))(Encoders.STRING)
      .flatMapGroupsWithState[KeyState[A, P], Row](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[KeyState[A, P]]) =>
          val watermark = state.getCurrentWatermarkMs()
          val st = state.getOption.getOrElse(KeyState[A, P](Nil, fold.zero))

          var pending = st.pending
          if (!fold.closed(st.acc)) rows.foreach { r =>
            if (!r.isNullAt(tIdx)) {
              val t = r.getLong(tIdx)
              if (t > watermark)
                fold.admit(r, t).foreach { case (tie, p) => pending ::= ((t, tie, p)) }
            }
          }

          // pending is newest-first: reversed, the stable sort keeps
          // arrival order among rows with equal (t, tie)
          val (ready, waiting) = pending.partition(_._1 <= watermark)
          val out = ArrayBuffer.empty[Row]
          var acc = st.acc
          ready.reverse.sortBy(p => (p._1, p._2)).foreach { case (t, _, p) =>
            if (!fold.closed(acc)) acc = fold.step(acc, t, p, out)
          }
          val next = KeyState(if (fold.closed(acc)) Nil else waiting, acc)

          if (next.pending.isEmpty && !fold.keep(acc, watermark)) {
            state.remove()
          } else {
            state.update(next)
            // wake when the watermark passes the oldest pending row, or at
            // the fold's own wake time once nothing is pending
            next.pending.map(_._1).minOption.orElse(fold.wake(acc)).foreach { t =>
              state.setTimeoutTimestamp(math.max(t, watermark + 1))
            }
          }
          out.iterator
      }(Encoders.kryo[KeyState[A, P]], Encoders.row(outSchema))
      .toDF()
  }

  /** Length-prefixed state key: ("ab","c") -> "S2:ab|S1:c" and ("a","bc")
    * -> "S1:a|S2:bc" are distinct (a plain separator-join collides when a
    * key value contains the separator), and a NULL part encodes as "N",
    * distinct from the string "null".
    */
  def encodeKey(r: Row, keyIdx: Seq[Int]): String =
    keyIdx.map { i =>
      if (r.isNullAt(i)) "N"
      else { val s = String.valueOf(r.get(i)); s"S${s.length}:$s" }
    }.mkString("|")

  /** Sortable fixed-width encoding so a tie column is a total order for
    * the supported id types (numeric and string).
    */
  def orderKey(v: Any): String = v match {
    case null => "0"
    case n: Byte => orderKey(n.toLong)
    case n: Short => orderKey(n.toLong)
    case n: Int => orderKey(n.toLong)
    case n: Long =>
      // flip the sign bit and render unsigned zero-padded, so negative ids
      // sort before positive and the lexicographic order is the numeric one
      val u = java.lang.Long.toUnsignedString(n ^ Long.MinValue)
      "1" + "0" * (20 - u.length) + u
    case s: String => s"2$s"
    case other =>
      throw new IllegalArgumentException(
        s"unsupported orderCol type ${other.getClass.getName}; use a numeric or string id")
  }

  /** A micro-valued detector's buffered row: key, tie and ⌊v·1e6⌋. */
  final case class Micro(key: Any, tie: Any, v: Long)

  /** Fold of the micro-valued detectors (CUSUM, EWMA, Page–Hinkley,
    * seasonal): admits rows whose key and value are non-NULL as
    * `(key, tie, t, ⌊v·1e6⌋)`.
    */
  abstract class MicroFold[A](schema: StructType, keyCol: String, tieCol: String,
      valueCol: String) extends Fold[A, Micro] {
    private val keyIdx = schema.fieldIndex(keyCol)
    private val tieIdx = schema.fieldIndex(tieCol)
    private val valIdx = schema.fieldIndex(valueCol)

    def admit(r: Row, t: Long): Option[(String, Micro)] =
      if (r.isNullAt(keyIdx) || r.isNullAt(valIdx)) None
      else Some(orderKey(r.get(tieIdx)) -> Micro(r.get(keyIdx), r.get(tieIdx),
        math.floor(r.get(valIdx).asInstanceOf[Number].doubleValue() * 1e6).toLong))
  }

  /** Output schema of a micro-valued detector: key, tie, `ts_ms`, `more`. */
  def microSchema(schema: StructType, keyCol: String, tieCol: String,
      more: StructField*): StructType =
    StructType(Seq(schema(keyCol), schema(tieCol),
      StructField("ts_ms", LongType, nullable = false)) ++ more)
}
