package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration.Duration

/** Streaming MinHash+LSH near-duplicate CANDIDATE feed — the unbounded
  * counterpart of [[graft.ops.Dedup.minhashLshPairs]]: as documents
  * arrive, each is paired against the earlier documents sharing any LSH
  * band bucket, and the (earlier_id, later_id) candidates stream out for
  * downstream exact verification (e.g. [[graft.ops.Dedup
  * .editVerifiedPairs]]'s Levenshtein gate, run per micro-batch, or a
  * Jaccard check).
  *
  * What makes this streamable at all is the MAP-SIDE signature
  * ([[graft.ops.Dedup.withMinhashSignature]]): a document's full MinHash
  * signature folds inside its own row, so band buckets exist before any
  * shuffle and ONE stateful operator (keyed by `(band, bucket)`) is the
  * whole pipeline. Same md5/15-hex hash family as the batch operator —
  * with a horizon covering the data and no quarantined bucket, the
  * distinct (id_a, id_b) set equals the batch pairs exactly
  * (StreamingSpec asserts this parity).
  *
  * Determinism: like [[StreamingDedup]], rows buffer until the watermark
  * passes their event time and finalize in (event time, id) order, so
  * pair direction (earlier doc first; ties by id order) and the emitted
  * set are replay-identical — not arrival-order artifacts.
  *
  * State bounds, per bucket (the 100 TB contract):
  *  - retained docs older than `horizon` before the newest finalized doc
  *    are evicted — an unbounded "all docs ever" bucket cannot exist on
  *    an infinite stream; candidates only span pairs within `horizon` of
  *    each other (pick it to match the dedup SLA);
  *  - a bucket whose retained set would exceed `maxBucket` is QUARANTINED:
  *    state collapses to a newest-doc marker and the bucket emits nothing
  *    until a document arrives a full horizon after the last hot one, at
  *    which point it resumes normal service. This is the forward-only
  *    analogue of the batch operator's hot-bucket cap (batch excludes such
  *    buckets retroactively; a stream cannot retract already-emitted
  *    pairs — run the batch operator over the day's data when retroactive
  *    exclusion matters).
  *  - quiet buckets evict by event-time timeout.
  *
  * Output: one row per (band, candidate pair) — a pair agreeing on k
  * bands appears k times (bands discover independently, exactly like the
  * batch plan before its `distinct()`); downstream dedups per micro-batch
  * or lets the exact verifier absorb the multiplicity. Columns:
  * `(id_a, id_b, band, ts_ms)` with `ts_ms` the later doc's event time.
  */
object StreamingLsh {

  /** Retained docs as (tMs, orderKey, id value), newest first. */
  private[streaming] final case class LshBucket(
      retained: List[(Long, String, Any)],
      quarantined: Boolean)

  def candidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      lateness: Duration,
      horizon: Duration,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    require(df.isStreaming, "use ops.Dedup.minhashLshPairs for batch inputs")
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val horizonMs = horizon.toMillis
    require(horizonMs > 0, "horizon must be positive")
    val idType = df.schema(idCol).dataType
    val rowsPerBand = numHashes / bands

    // Map-side: signature columns fold per row, band buckets explode —
    // no shuffle until the single stateful groupByKey below.
    val sigs = Dedup.withMinhashSignature(
      df.select(col(idCol).as("__id"), col(textCol).as("__txt"), col(tsCol).as("__ts")),
      "__txt", shingleLen, numHashes)
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws("|", parts: _*)).as("bucket"))
    }
    val bb = sigs
      .select(col("__id"), col("__ts"), explode(array(bandCols: _*)).as("bb"))
      .select(col("__id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("__ts"))

    val outSchema = StructType(Seq(
      StructField("id_a", idType),
      StructField("id_b", idType),
      StructField("band", IntegerType, nullable = false),
      StructField("ts_ms", LongType, nullable = false)))

    // keyed by (band, bucket); buffered rows keep (id, band)
    KeyedFinalize(bb, Seq("band", "bucket"), "__ts", lateness.toMillis, outSchema,
      new KeyedFinalize.Fold[LshBucket, (Any, Int)] {
        def zero: LshBucket = LshBucket(Nil, quarantined = false)
        def admit(r: Row, t: Long): Option[(String, (Any, Int))] =
          Some(KeyedFinalize.orderKey(r.get(0)) -> (r.get(0), r.getInt(1)))
        def step(st: LshBucket, t: Long, p: (Any, Int), out: ArrayBuffer[Row]): LshBucket = {
          val (id, band) = p
          val doc = (t, KeyedFinalize.orderKey(id), id)
          // horizon eviction relative to the doc entering
          val live = st.retained.filter(_._1 >= t - horizonMs)
          if (st.quarantined) {
            // quarantined: retained is a single newest-hot-doc marker. A
            // doc still within horizon of it keeps the quarantine alive
            // (and becomes the new marker); one arriving after a full
            // horizon of silence resets the bucket to normal service.
            LshBucket(List(doc), quarantined = live.nonEmpty)
          } else if (live.length + 1 > maxBucket) {
            // hot bucket: quarantine BEFORE pairing — the forward-only
            // analogue of the batch maxBucket exclusion (the doc that
            // overflows the cap emits nothing, like every doc after it
            // until the bucket goes horizon-idle)
            LshBucket(List(doc), quarantined = true)
          } else {
            live.sortBy(e => (e._1, e._2)).foreach { case (_, _, earlierId) =>
              out += Row(earlierId, id, band, t)
            }
            LshBucket(doc :: live, quarantined = false)
          }
        }
        // evicted a horizon after the newest retained doc
        def keep(st: LshBucket, watermark: Long): Boolean =
          st.retained.exists(_._1 + horizonMs > watermark)
        override def wake(st: LshBucket): Option[Long] =
          st.retained.map(_._1).maxOption.map(_ + horizonMs)
      })
  }
}
