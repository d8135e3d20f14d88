package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration.Duration

/** Streaming Page–Hinkley change detector — the live twin of
  * [[graft.ops.TimeSeries.pageHinkley]]: per key, rows finalize in
  * `(event time, tie)` order once the watermark passes them and run the
  * exact integer recurrence
  *
  *   {{{ m_t = m_{t−1} + (v_t − ⌊S_t/t⌋ − δ),  PH_t = m_t − min_{s≤t} m_s }}}
  *
  * with S_t the inclusive running sum and the running mean ONE
  * truncating division per row (BigInt `/` truncates toward zero —
  * the same sign-split convention as the batch op's `div`, so the two
  * engines agree row for row; StreamingSpec asserts the parity).
  * Emits every finalized row with its excursion and the alarm flag
  * (`ph_micro > lambdaMicro`).
  *
  * Late rows (at or below the watermark) are dropped by Spark's exec
  * before the operator runs — plain `t <= watermark` finalization by
  * the shared [[KeyedFinalize]] loop (see its watermark-mechanics
  * scaladoc). NULL values are ignored.
  *
  * 100 TB shape: one shuffle on the key; per-key state is the lateness
  * buffer plus FOUR integer accumulators (n, S, m, min m) — O(1)
  * beyond pending rows. State persists across idle gaps once a key has
  * data: evicting would silently re-baseline a drifted key, the same
  * no-re-arm rule as [[StreamingCusum]].
  */
object StreamingPageHinkley {

  /** Running count, sum, walk and walk minimum. */
  private[streaming] final case class PhAcc(n: Long, s: BigInt, m: BigInt, minM: BigInt)

  def monitor(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      valueCol: String,
      lambdaMicro: Long,
      lateness: Duration,
      deltaMicro: Long = 0L): DataFrame = {
    require(df.isStreaming, "use ops.TimeSeries.pageHinkley for batch")
    require(lambdaMicro > 0, s"lambdaMicro $lambdaMicro must be > 0")
    require(deltaMicro >= 0, s"deltaMicro $deltaMicro must be >= 0")
    val outSchema = KeyedFinalize.microSchema(df.schema, keyCol, tieCol,
      StructField("v_micro", LongType, nullable = false),
      StructField("ph_micro", DecimalType(38, 0), nullable = false),
      StructField("alarmed", BooleanType, nullable = false))

    KeyedFinalize(df, Seq(keyCol), tsCol, lateness.toMillis, outSchema,
      new KeyedFinalize.MicroFold[PhAcc](df.schema, keyCol, tieCol, valueCol) {
        def zero: PhAcc = PhAcc(0L, BigInt(0), BigInt(0), BigInt(0))
        def step(a: PhAcc, t: Long, p: KeyedFinalize.Micro, out: ArrayBuffer[Row]): PhAcc = {
          val n = a.n + 1
          val s = a.s + p.v
          val mean = s / n // BigInt / truncates toward zero = batch `div`
          val m = a.m + BigInt(p.v) - mean - deltaMicro
          val minM = a.minM.min(m)
          val exc = m - minM
          out += Row(p.key, p.tie, t, p.v, new java.math.BigDecimal(exc.bigInteger),
            exc > BigInt(lambdaMicro))
          PhAcc(n, s, m, minM)
        }
        def keep(a: PhAcc, watermark: Long): Boolean = a.n != 0L
      })
  }
}
