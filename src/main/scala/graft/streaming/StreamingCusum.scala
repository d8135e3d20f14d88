package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration.Duration

/** Streaming one-sided CUSUM drift alarm — the live twin of
  * [[graft.ops.TimeSeries.cusumMonitor]]: per key, rows finalize in
  * `(event time, tie)` order once the watermark passes them and run
  * Page's recurrence `S_t = max(0, S_{t−1} + (v_t − μ₀ − slack))`
  * exactly (BigInt state, micro-floored values), emitting the row with
  * its S and the alarm flag. Bit-identical to the batch closed form on
  * the same rows — same integer contract, same `(t, tie)` order
  * (StreamingSpec asserts the parity).
  *
  * Late rows (at or below the watermark) are dropped by Spark's exec
  * before the operator runs, so every pending row has t >= 1 and
  * finalization is the plain `t <= watermark` partition — the
  * shared [[KeyedFinalize]] loop (see its watermark-mechanics scaladoc).
  * NULL values are ignored.
  *
  * 100 TB shape: one shuffle on the key; per-key state is the lateness
  * buffer plus ONE accumulator — O(1) beyond the pending rows, kept
  * across idle gaps (evicting S would silently re-arm a drifted key).
  */
object StreamingCusum {

  def monitor(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      valueCol: String,
      refMeanMicro: Long,
      slackMicro: Long,
      thresholdMicro: Long,
      lateness: Duration): DataFrame = {
    require(df.isStreaming, "use ops.TimeSeries.cusumMonitor for batch")
    require(slackMicro >= 0, s"slackMicro $slackMicro must be >= 0")
    require(thresholdMicro > 0, s"thresholdMicro $thresholdMicro must be > 0")
    val outSchema = KeyedFinalize.microSchema(df.schema, keyCol, tieCol,
      StructField("v_micro", LongType, nullable = false),
      StructField("s_micro", DecimalType(38, 0), nullable = false),
      StructField("alarmed", BooleanType, nullable = false))

    KeyedFinalize(df, Seq(keyCol), tsCol, lateness.toMillis, outSchema,
      new KeyedFinalize.MicroFold[BigInt](df.schema, keyCol, tieCol, valueCol) {
        def zero: BigInt = BigInt(0)
        def step(s: BigInt, t: Long, m: KeyedFinalize.Micro, out: ArrayBuffer[Row]): BigInt = {
          val sNew = (s + m.v - refMeanMicro - slackMicro).max(BigInt(0))
          out += Row(m.key, m.tie, t, m.v, new java.math.BigDecimal(sNew.bigInteger),
            sNew > BigInt(thresholdMicro))
          sNew
        }
        def keep(s: BigInt, watermark: Long): Boolean = s != 0
      })
  }
}
