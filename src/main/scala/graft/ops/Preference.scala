package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pairwise-preference data quality — the audits an RLHF / reward-model
  * pipeline runs on its comparison labels before training on them.
  * Preferences that cycle (A ≻ B ≻ C ≻ A) carry no consistent utility
  * signal; this family measures how much of the label mass is cyclic.
  *
  * Reference scope: beyond-reference pipeline toolkit (the reference
  * ships no preference family); sibling of the ranking evals
  * (Eval.ndcgAtK / rankEval).
  */
object Preference {

  /** Tournament-consistency audit of per-rater item preferences:
    * derive each rater's pairwise preferences from their per-item mean
    * scores, majority-vote every item pair into a tournament edge, and
    * count the DIRECTED 3-CYCLES — Kendall's classic circular-triad
    * analysis. A fully consistent panel yields zero cycles
    * (consistence ζ = 1); random noise pushes ζ toward 0.
    *
    * Semantics: a rater prefers i over j iff their floored-micro mean
    * score for i strictly exceeds j's (per-rater ties abstain); a pair
    * gets the edge of its strict vote majority (vote ties → no edge);
    * ζ = (max_d − d)/max_d with max_d = k(k²−1)/24 for odd k,
    * k(k²−4)/24 for even k — reported only when the tournament is
    * COMPLETE (every pair has an edge), since the bound assumes it.
    *
    * Exactness: means are sign-split floor divisions of decimal(38,0)
    * sums; votes, edges, cycles, and ζ are pure integer arithmetic
    * (ζ as one exact floor division to micro).
    *
    * Output (one row): `(n_raters, n_items, n_pairs_observed, n_edges,
    * n_cycles, consistence_micro)`.
    *
    * 100 TB shape: one map-side-combined groupBy(rater, item); the
    * pair stage self-joins ON RATER so work is linear in raters ×
    * C(k, 2) with k ≤ `maxItems` (loud require — the item vocabulary,
    * not the corpus, bounds the blowup); everything after the per-pair
    * vote rollup is on ≤ k² rows, broadcast-joined. The triple-join
    * cycle count runs on the ≤ C(k,2)-row EDGE table only.
    */
  /** Per-rater floored-micro mean score per item — the shared first
    * stage of the preference family (one map-side-combined
    * groupBy(rater, item)).
    */
  private def raterItemMeans(
      df: DataFrame,
      raterCol: String,
      itemCol: String,
      valueCol: String): DataFrame =
    df.filter(col(raterCol).isNotNull && col(itemCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(raterCol).as("__r"), col(itemCol).cast("string").as("__i"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__v"))
      .groupBy("__r", "__i")
      .agg(count(lit(1)).as("__c"),
        sum(col("__v").cast("decimal(38,0)")).as("__s"))
      .withColumn("__m", expr("__s div __c"))
      .select("__r", "__i", "__m")
      .localCheckpoint()

  /** Directed strict-preference vote counts per unordered item pair
    * `(ia < ib, vab, vba)` — per-rater ties abstain. The rater-keyed
    * self-join is linear in raters × C(k, 2).
    */
  private def pairVotes(means: DataFrame): DataFrame = {
    val a = means.select(col("__r"), col("__i").as("ia"), col("__m").as("ma"))
    val b = means.select(col("__r"), col("__i").as("ib"), col("__m").as("mb"))
    a.join(b, Seq("__r")).filter(col("ia") < col("ib"))
      .groupBy("ia", "ib")
      .agg(sum(when(col("ma") > col("mb"), 1L).otherwise(0L)).as("vab"),
        sum(when(col("mb") > col("ma"), 1L).otherwise(0L)).as("vba"))
      .localCheckpoint()
  }

  def preferenceCycles(
      df: DataFrame,
      raterCol: String,
      itemCol: String,
      valueCol: String,
      maxItems: Int = 1000): DataFrame = {
    val means = raterItemMeans(df, raterCol, itemCol, valueCol)
    val nItems = means.select("__i").distinct().count()
    require(nItems <= maxItems,
      s"preferenceCycles: $nItems distinct items exceed maxItems=" +
        s"$maxItems — the pair stage is quadratic in items")
    val nRaters = means.select("__r").distinct().count()
    val votes = pairVotes(means)
    val nPairs = votes.count()
    val edges = votes
      .filter(col("vab") =!= col("vba"))
      .select(
        when(col("vab") > col("vba"), col("ia")).otherwise(col("ib"))
          .as("src"),
        when(col("vab") > col("vba"), col("ib")).otherwise(col("ia"))
          .as("dst"))
      .localCheckpoint()
    val nEdges = edges.count()
    // each directed 3-cycle counted once: rotate so e1.src is smallest
    val e1 = edges.select(col("src").as("s1"), col("dst").as("d1"))
    val e2 = edges.select(col("src").as("s2"), col("dst").as("d2"))
    val e3 = edges.select(col("src").as("s3"), col("dst").as("d3"))
    val nCycles = e1
      .join(broadcast(e2), col("d1") === col("s2"))
      .join(broadcast(e3), col("d2") === col("s3") &&
        col("d3") === col("s1") && col("s1") < col("s2") &&
        col("s1") < col("s3"))
      .count()
    val k = nItems
    val maxD =
      if (k < 3) 0L
      else if (k % 2 == 1) k * (k * k - 1) / 24
      else k * (k * k - 4) / 24
    val complete = nEdges == k * (k - 1) / 2
    val zeta: Option[Long] =
      if (complete && maxD > 0) Some((maxD - nCycles) * 1000000L / maxD)
      else if (complete && k == 2) Some(1000000L)
      else None
    val spark = df.sparkSession
    import spark.implicits._
    Seq((nRaters, nItems, nPairs, nEdges, nCycles, zeta))
      .toDF("n_raters", "n_items", "n_pairs_observed", "n_edges",
        "n_cycles", "consistence_micro")
  }

  /** Bradley–Terry item strengths from pairwise preference counts — the
    * model a reward-model pipeline fits to comparison labels: item i
    * beats j with probability πᵢ/(πᵢ+πⱼ), fitted by the classical MM
    * update `πᵢ ← Wᵢ / Σⱼ gᵢⱼ/(πᵢ+πⱼ)`. This runs a FIXED number of MM
    * iterations (`iters`, default 3) over an INTEGER-QUANTIZED state —
    * π lives on the micro grid and every update is one exact floor
    * division — so the whole fit is a pure function of the vote counts,
    * bit-replayable in any engine (an oracle unrolls the same
    * iterations in SQL; a float MM would diverge across engines in the
    * last ulp). Uniform start π⁰ = 10⁶; strengths are reported on that
    * scale (BT is scale-invariant — compare ratios, not magnitudes).
    *
    * Votes derive from per-rater mean scores exactly as
    * [[preferenceCycles]] (strict preference, ties abstain); an item
    * whose every game it lost has π → 0 (the MLE boundary; the
    * `greatest(·, 1)` guard keeps later divisions defined).
    *
    * Output per item: `(item, wins, games, bt_micro, bt_rank)` — rank 1
    * = strongest, ties broken by item id.
    *
    * 100 TB shape: the corpus collapses to ≤ C(k, 2) vote rows
    * (k ≤ maxItems, loud require); the MM loop is driver arithmetic on
    * that k²-bounded table — the documented driver-bounded-model-
    * artifact pattern (BPE merges, centroids).
    */
  def bradleyTerry(
      df: DataFrame,
      raterCol: String,
      itemCol: String,
      valueCol: String,
      iters: Int = 3,
      maxItems: Int = 100): DataFrame = {
    require(iters >= 1 && iters <= 100,
      s"iters $iters must lie in [1, 100]")
    val means = raterItemMeans(df, raterCol, itemCol, valueCol)
    val nItems = means.select("__i").distinct().count()
    require(nItems <= maxItems,
      s"bradleyTerry: $nItems distinct items exceed maxItems=$maxItems" +
        " — the pair stage is quadratic in items")
    val votes = pairVotes(means).collect()
    // directed view: (i, j, wins_ij, games_ij)
    val dir = votes.flatMap { r =>
      val (ia, ib) = (r.getString(0), r.getString(1))
      val (vab, vba) = (r.getLong(2), r.getLong(3))
      Seq((ia, ib, vab, vab + vba), (ib, ia, vba, vab + vba))
    }.filter(_._4 > 0)
    val items = dir.map(_._1).distinct.sorted
    val wins = dir.groupBy(_._1).map { case (i, xs) =>
      (i, xs.map(_._3).sum) }
    val games = dir.groupBy(_._1).map { case (i, xs) =>
      (i, xs.map(_._4).sum) }
    var pi: Map[String, BigInt] =
      items.map(_ -> BigInt(1000000L)).toMap
    val tw = BigInt(1000000000000L) // 1e12: micro² numerator scale
    for (_ <- 1 to iters) {
      val denom = dir.groupBy(_._1).map { case (i, xs) =>
        (i, xs.map { case (_, j, _, g) =>
          BigInt(g) * tw / (pi(i) + pi(j)).max(BigInt(1))
        }.sum)
      }
      pi = items.map { i =>
        val d = denom.getOrElse(i, BigInt(0))
        i -> (if (d <= 0) pi(i) else BigInt(wins(i)) * tw / d)
      }.toMap
    }
    val ranked = items
      .map(i => (i, wins(i), games(i), pi(i).toLong))
      .sortBy { case (i, _, _, p) => (-p, i) }
      .zipWithIndex
      .map { case ((i, w, g, p), r) => (i, w, g, p, (r + 1).toLong) }
    val spark = df.sparkSession
    import spark.implicits._
    ranked.toSeq.toDF("item", "wins", "games", "bt_micro", "bt_rank")
  }
}
