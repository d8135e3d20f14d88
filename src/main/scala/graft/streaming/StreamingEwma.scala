package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration.Duration

/** Streaming exact binary-decay EWMA — the unbounded counterpart of
  * [[graft.ops.TimeSeries.ewmaPow2]]: per key, rows finalize in
  * `(event time, tie)` order once the watermark passes them and emit
  * `ewma_num = Σ_{k=0..L} v_{t−k}·2^{L−k}` / `ewma_den = Σ 2^{L−k}`
  * over the key's last `lookback` finalized values — bit-identical to
  * the batch operator on the same rows (DifferentialSpec-checked),
  * because the weights are integer powers of two on micro-floored
  * values, not a float recurrence that replay order could perturb.
  *
  * Late rows (at or below the watermark on arrival) are dropped, the
  * same rule every watermark-finalized operator here follows; rows with
  * a NULL value are ignored entirely (they are not part of the batch
  * lag sequence either). Rows at or before the epoch (t ≤ 0) never
  * reach the operator at all: FlatMapGroupsWithStateExec's
  * EventTimeTimeout late filter drops eventTime ≤ watermark and the
  * watermark floor is 0, so every pending row has t ≥ 1, finalization
  * is the plain `t <= watermark` partition (a watermark-0 special case
  * would be dead code — see [[KeyedFinalize]]'s watermark-mechanics
  * scaladoc), and the batch-parity contract covers t ≥ 1
  * (StreamingEwmaSpec pins both sides of the boundary).
  *
  * 100 TB shape: one shuffle on the key; per-key state is the lateness
  * buffer plus exactly `lookback` longs — O(L), horizon-free, so a
  * quiet key's state is 8·L bytes, kept (the history must survive idle
  * gaps to stay batch-equivalent; evicting it would restart the decay).
  */
object StreamingEwma {

  def ewmaPow2(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      valueCol: String,
      lookback: Int,
      lateness: Duration): DataFrame = {
    require(df.isStreaming, "use ops.TimeSeries.ewmaPow2 for batch inputs")
    require(lookback >= 1 && lookback <= 40,
      s"lookback $lookback must lie in [1, 40]")
    val outSchema = KeyedFinalize.microSchema(df.schema, keyCol, tieCol,
      StructField("v_micro", LongType, nullable = false),
      StructField("ewma_num", DecimalType(38, 0), nullable = false),
      StructField("ewma_den", LongType, nullable = false))

    // the accumulator is the most-recent-first v_micro history, length <= lookback
    KeyedFinalize(df, Seq(keyCol), tsCol, lateness.toMillis, outSchema,
      new KeyedFinalize.MicroFold[List[Long]](df.schema, keyCol, tieCol, valueCol) {
        def zero: List[Long] = Nil
        def step(hist: List[Long], t: Long, m: KeyedFinalize.Micro,
            out: ArrayBuffer[Row]): List[Long] = {
          val seq = m.v :: hist // current first, then newest-first lags
          // BigInt accumulation, emitted as decimal(38,0): v_micro·2^L
          // wraps int64 past |value| ≈ 8 at lookback=40 — same contract
          // as the batch operator (TimeSeries.ewmaPow2).
          var num = BigInt(0)
          var den = 0L
          seq.take(lookback + 1).zipWithIndex.foreach { case (v, k) =>
            val w = 1L << (lookback - k)
            num += BigInt(v) * w
            den += w
          }
          out += Row(m.key, m.tie, t, m.v, new java.math.BigDecimal(num.bigInteger), den)
          seq.take(lookback)
        }
        // with no pending rows the O(L) history just sits in state, timer-free
        def keep(hist: List[Long], watermark: Long): Boolean = hist.nonEmpty
      })
  }
}
