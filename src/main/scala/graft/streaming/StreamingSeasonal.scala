package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration.Duration

/** Streaming seasonal-baseline anomaly monitor — "is Tuesday 3am
  * normal FOR Tuesday 3am", live: the streaming counterpart of scoring
  * against [[graft.ops.TimeSeries.seasonalProfile]]'s per-(key, phase)
  * cells, without the batch join. Per key, rows finalize in
  * `(event time, tie)` order once the watermark passes them; each row
  * is z-scored against its OWN PHASE's accumulated history
  * (`phase = (t/bucketMs) mod period`) and THEN folded into it — every
  * score uses strictly earlier data only, so the monitor never leaks a
  * row into its own baseline and the whole run replays
  * deterministically.
  *
  * Exactness: values micro-floor once; per-phase state is exact
  * integer moments (n, Σ, Σ²) in BigInt; the z-score is ONE fixed
  * double tree of those integers (`(n·v − S) / √(n·(n·Q − S²)/(n−1))`
  * — the n-scaled form, no integer mean rounding), floored to milli.
  * NULL z for a phase's first two rows (no variance yet) and for
  * degenerate phases — warm-up rows read "not yet scorable", never
  * "normal".
  *
  * 100 TB shape: one shuffle on the key; per-key state is the lateness
  * buffer plus `period` moment triples (hard require ≤ 10000) —
  * O(period), independent of row rate, kept across idle gaps (an
  * evicted baseline would silently re-warm and mask a regression).
  */
object StreamingSeasonal {

  def monitor(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      valueCol: String,
      period: Int,
      bucketMs: Long,
      zThresholdMilli: Long,
      lateness: Duration): DataFrame = {
    require(df.isStreaming, "score against ops.TimeSeries.seasonalProfile for batch")
    require(period >= 2 && period <= 10000, s"period $period out of [2, 10000]")
    require(bucketMs >= 1, s"bucketMs $bucketMs must be >= 1")
    require(zThresholdMilli > 0, s"zThresholdMilli $zThresholdMilli must be > 0")
    val outSchema = KeyedFinalize.microSchema(df.schema, keyCol, tieCol,
      StructField("phase", IntegerType, nullable = false),
      StructField("v_micro", LongType, nullable = false),
      StructField("n_prior", LongType, nullable = false),
      StructField("z_milli", LongType, nullable = true),
      StructField("anomalous", BooleanType, nullable = true))

    // the accumulator maps phase -> (n, S, Q)
    type Phases = Map[Int, (Long, BigInt, BigInt)]
    KeyedFinalize(df, Seq(keyCol), tsCol, lateness.toMillis, outSchema,
      new KeyedFinalize.MicroFold[Phases](df.schema, keyCol, tieCol, valueCol) {
        def zero: Phases = Map.empty
        def step(phases: Phases, t: Long, p: KeyedFinalize.Micro,
            out: ArrayBuffer[Row]): Phases = {
          val vMicro = p.v
          val phase = ((t / bucketMs) % period).toInt
          val (n, s, q) = phases.getOrElse(phase, (0L, BigInt(0), BigInt(0)))
          // score against the PRE-UPDATE moments: strictly earlier data
          val z: Option[Long] =
            if (n < 2) None
            else {
              val varN2 = BigInt(n) * q - s * s // = n²·(n−1)/n · s²ish ≥ 0
              if (varN2 <= 0) None
              else Some(math.floor(1000.0 *
                (BigInt(n) * vMicro - s).toDouble /
                math.sqrt((BigInt(n) * varN2).toDouble / (n - 1).toDouble))
                .toLong)
            }
          out += Row(p.key, p.tie, t, phase, vMicro, n,
            z.map(Long.box).orNull,
            z.map(zz => Boolean.box(math.abs(zz) >= zThresholdMilli)).orNull)
          phases.updated(phase, (n + 1, s + vMicro, q + BigInt(vMicro) * vMicro))
        }
        def keep(phases: Phases, watermark: Long): Boolean = phases.nonEmpty
      })
  }
}
