package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration.Duration

/** Streaming Wald SPRT — the unbounded twin of
  * [[graft.ops.Features.sprtBernoulli]], and the op whose NATURAL home is
  * a stream: a sequential test exists to stop an experiment the moment
  * the evidence clears the bar, so waiting for a batch defeats it. Per
  * key, outcomes finalize in `(event time, tie)` order once the
  * watermark passes them; the integer LLR walk adds the caller's
  * hardcoded micro-nat literals, and the FIRST boundary crossing emits
  * exactly one decision row — the same `(key, n_at_decision,
  * llr_at_decision_micro, decision)` tuple the batch operator reports
  * (DifferentialSpec/StreamingSprtSpec check the parity), plus the
  * deciding row's event time.
  *
  * After the decision the key's state collapses to a DECIDED tombstone:
  * later rows are discarded on arrival (a sequential test is over when
  * it stops — processing more data would inflate the design error
  * rates), and no second row is ever emitted. The tombstone must
  * persist — removing it would silently RESTART the test on the next
  * event; it is one boolean beside the walk's two scalars, the smallest
  * state this engine keeps.
  *
  * Late rows (at or below the watermark) are dropped by Spark's exec
  * BEFORE this function runs (`eventTime <= watermark`, floor 0 — so a
  * t = 0 ms row never reaches any GroupState code and every arriving
  * row has t >= 1); pending rows finalize on the plain `t <= watermark`
  * partition. See [[KeyedFinalize]]'s watermark-mechanics scaladoc for
  * why no epoch-0 special case exists or is needed.
  *
  * 100 TB shape: one shuffle on the key; per-key state is the lateness
  * buffer plus three scalars (llr, step, decided) — horizon-free.
  */
object StreamingSprt {

  /** LLR walk; `decided` is the tombstone. */
  private[streaming] final case class SprtAcc(llr: Long, step: Long, decided: Boolean)

  def sprtBernoulli(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      outcomeCol: String,
      llrPosMicro: Long,
      llrNegMicro: Long,
      upperMicro: Long,
      lowerMicro: Long,
      lateness: Duration): DataFrame = {
    require(df.isStreaming, "use ops.Features.sprtBernoulli for batch inputs")
    require(llrPosMicro > 0 && llrNegMicro < 0,
      s"llr increments ($llrPosMicro, $llrNegMicro) must straddle zero")
    require(upperMicro > 0 && lowerMicro < 0,
      s"boundaries ($upperMicro, $lowerMicro) must straddle zero")
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val tieIdx = schema.fieldIndex(tieCol)
    val outIdx = schema.fieldIndex(outcomeCol)

    val outSchema = StructType(Seq(
      schema(keyCol),
      StructField("ts_ms", LongType, nullable = false),
      StructField("n_at_decision", LongType, nullable = false),
      StructField("llr_at_decision_micro", LongType, nullable = false),
      StructField("decision", StringType, nullable = false)))

    // buffered rows keep (key, outcome)
    KeyedFinalize(df, Seq(keyCol), tsCol, lateness.toMillis, outSchema,
      new KeyedFinalize.Fold[SprtAcc, (Any, Boolean)] {
        def zero: SprtAcc = SprtAcc(0L, 0L, decided = false)
        def admit(r: Row, t: Long): Option[(String, (Any, Boolean))] =
          if (r.isNullAt(keyIdx) || r.isNullAt(outIdx)) None
          else Some(KeyedFinalize.orderKey(r.get(tieIdx)) ->
            (r.get(keyIdx), r.getBoolean(outIdx)))
        def step(a: SprtAcc, t: Long, p: (Any, Boolean), out: ArrayBuffer[Row]): SprtAcc = {
          val llr = a.llr + (if (p._2) llrPosMicro else llrNegMicro)
          val decided = llr >= upperMicro || llr <= lowerMicro
          if (decided)
            out += Row(p._1, t, a.step + 1, llr, if (llr >= upperMicro) "accept_h1" else "accept_h0")
          SprtAcc(llr, a.step + 1, decided)
        }
        // the tombstone persists on purpose (see scaladoc); undecided
        // walks keep their scalars so the evidence survives idle gaps
        def keep(a: SprtAcc, watermark: Long): Boolean = true
        override def closed(a: SprtAcc): Boolean = a.decided
      })
  }
}
