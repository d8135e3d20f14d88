package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration.Duration

/** Streaming mixture SPRT — the unbounded twin of
  * [[graft.ops.Features.msprt]], the always-valid continuous-monitoring
  * test whose natural home is a stream (its whole point is that the
  * experimenter watches every step). Per key, outcomes finalize in
  * `(event time, tie)` order once the watermark passes them; the walk
  * carries the EXACT integer core `D_n = 10⁶·S_n − n·p0Micro` and
  * evaluates lnΛ through the SAME fixed double tree as the batch
  * operator (scala `math.log` IS the function Spark's `ln` evaluates,
  * so the milli floor lands identically — StreamingMsprtSpec asserts
  * the parity). The FIRST step whose milli-floored lnΛ clears
  * `⌊1000·ln(10⁶/α)⌋` emits exactly one `reject_h0` row matching the
  * batch `(key, n_at_decision)`.
  *
  * Decided keys collapse to a tombstone exactly like
  * [[StreamingSprt]]: later rows discard on arrival, no second emit,
  * the boolean persists so the test can never silently restart. Late
  * rows (at or below the watermark) drop; pending rows finalize once
  * `t <= watermark`, including the ambiguous watermark 0 (see below).
  *
  * 100 TB shape: one shuffle on the key; per-key state is the lateness
  * buffer plus three scalars — horizon-free.
  *
  * Watermark mechanics at epoch 0 (shared by every twin on the
  * [[KeyedFinalize]] loop, whose scaladoc has the Spark 4.1.2
  * details): Spark's own exec drops `eventTime <= watermark` before the
  * operator runs, with a watermark floor of 0, so a row stamped exactly
  * 1970-01-01T00:00:00Z never reaches it, every pending row has t >= 1,
  * finalization is the plain unconditional `t <= watermark` partition,
  * and the batch-parity contract covers t >= 1 (StreamingMsprtSpec pins
  * both facts).
  */
object StreamingMsprt {

  /** Integer core D_n and step; `decided` is the tombstone. */
  private[streaming] final case class MsprtAcc(d: Long, n: Long, decided: Boolean)

  /** The batch operator's lnΛ milli floor — one shared double tree. */
  def lamMilli(n: Long, d: Long, p0Micro: Long, tau2Micro: Long): Long = {
    val s2 = p0Micro.toDouble * (1000000L - p0Micro).toDouble / 1e12
    val t2 = tau2Micro.toDouble / 1e6
    val lam = 0.5 * math.log(s2 / (s2 + n.toDouble * t2)) +
      (d.toDouble / 1e6) * (d.toDouble / 1e6) * t2 /
        (2.0 * s2 * (s2 + n.toDouble * t2))
    math.floor(1000.0 * lam).toLong
  }

  def msprt(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      outcomeCol: String,
      p0Micro: Long,
      tau2Micro: Long,
      alphaMicro: Long,
      lateness: Duration): DataFrame = {
    require(df.isStreaming, "use ops.Features.msprt for batch inputs")
    require(p0Micro > 0 && p0Micro < 1000000L,
      s"p0Micro $p0Micro must lie in (0, 1e6)")
    require(tau2Micro > 0, s"tau2Micro $tau2Micro must be positive")
    require(alphaMicro > 0 && alphaMicro < 1000000L,
      s"alphaMicro $alphaMicro must lie in (0, 1e6)")
    val thrMilli =
      math.floor(1000.0 * math.log(1000000.0 / alphaMicro)).toLong
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val tieIdx = schema.fieldIndex(tieCol)
    val outIdx = schema.fieldIndex(outcomeCol)

    val outSchema = StructType(Seq(
      schema(keyCol),
      StructField("ts_ms", LongType, nullable = false),
      StructField("n_at_decision", LongType, nullable = false),
      StructField("lnlam_at_decision_milli", LongType, nullable = false),
      StructField("decision", StringType, nullable = false)))

    // buffered rows keep (key, outcome)
    KeyedFinalize(df, Seq(keyCol), tsCol, lateness.toMillis, outSchema,
      new KeyedFinalize.Fold[MsprtAcc, (Any, Boolean)] {
        def zero: MsprtAcc = MsprtAcc(0L, 0L, decided = false)
        def admit(r: Row, t: Long): Option[(String, (Any, Boolean))] =
          if (r.isNullAt(keyIdx) || r.isNullAt(outIdx)) None
          else Some(KeyedFinalize.orderKey(r.get(tieIdx)) ->
            (r.get(keyIdx), r.getBoolean(outIdx)))
        def step(a: MsprtAcc, t: Long, p: (Any, Boolean), out: ArrayBuffer[Row]): MsprtAcc = {
          val d = a.d + (if (p._2) 1000000L - p0Micro else -p0Micro)
          val n = a.n + 1
          val lam = lamMilli(n, d, p0Micro, tau2Micro)
          if (lam >= thrMilli) out += Row(p._1, t, n, lam, "reject_h0")
          MsprtAcc(d, n, decided = lam >= thrMilli)
        }
        def keep(a: MsprtAcc, watermark: Long): Boolean = true
        override def closed(a: MsprtAcc): Boolean = a.decided
      })
  }
}
