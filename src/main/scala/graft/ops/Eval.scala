package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Evaluation of binary scorers (quality classifiers, toxicity filters,
  * dedup verdicts) against labels, per slice — the gate before a
  * score-thresholded corpus filter ships: a classifier that AUCs 0.9
  * overall and 0.55 on one language is how a corpus silently loses that
  * language.
  */
object Eval {

  /** Per-group binary-classification report: confusion counts at
    * `threshold` (`score >= threshold` predicts positive) plus EXACT
    * ROC-AUC by the tie-aware rank-sum (Mann–Whitney) identity —
    * `(Σ avg-ranks of positives − n⁺(n⁺+1)/2) / (n⁺·n⁻)` with tied
    * scores taking their block's average rank, which is the textbook
    * AUC with trapezoidal tie credit, NOT an approximation.
    *
    * Returns `(groupCols..., n, n_pos, n_neg, tp, fp, fn, tn,
    * precision_micro, recall_micro, f1_micro, auc_micro)` — all ratios
    * integer-micro-floored (NULL on empty denominators, e.g. AUC of a
    * single-class group), so results hash across engines; rank sums are
    * doubled internally to stay integral under half-ranks and carried in
    * decimal(38,0), good to ~10¹⁵ rows per group.
    *
    * 100 TB shape: one map-side-combined aggregation to (group, score)
    * blocks, one window pass over the BLOCK table (distinct scores per
    * group, not rows), one final group rollup — the corpus itself is
    * touched once.
    */
  def binaryEval(
      df: DataFrame,
      groupCols: Seq[String],
      labelCol: String,
      scoreCol: String,
      threshold: Double): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    val gs: Seq[Column] = groupCols.map(col)
    val base = df.filter(col(labelCol).isNotNull && col(scoreCol).isNotNull &&
      groupCols.map(col(_).isNotNull).reduce(_ && _))
    val blocks = base
      .groupBy(gs :+ col(scoreCol).as("__s"): _*)
      .agg(count(lit(1)).as("c"),
        count(when(col(labelCol) === true, 1)).as("cp"))
    val wcum = Window.partitionBy(gs: _*).orderBy(col("__s"))
    val ranked = blocks
      .withColumn("cum", sum(col("c")).over(wcum) - col("c"))
      // block of c tied rows after cum smaller ones: avg rank = cum + (c+1)/2,
      // doubled to stay integral → positives contribute cp·(2·cum + c + 1)
      .withColumn("r2", col("cp") * (lit(2) * col("cum") + col("c") + 1))
    val thr = lit(threshold)
    val g = ranked.groupBy(gs: _*).agg(
      sum(col("c")).as("n"),
      sum(col("cp")).as("n_pos"),
      sum(when(col("__s") >= thr, col("cp"))).as("tp0"),
      sum(when(col("__s") >= thr, col("c") - col("cp"))).as("fp0"),
      sum(col("r2")).as("r2"))
    g.select(gs ++ Seq(
        col("n"), col("n_pos"), (col("n") - col("n_pos")).as("n_neg"),
        coalesce(col("tp0"), lit(0L)).as("tp"),
        coalesce(col("fp0"), lit(0L)).as("fp"),
        col("r2")): _*)
      .withColumn("fn", col("n_pos") - col("tp"))
      .withColumn("tn", col("n_neg") - col("fp"))
      .withColumn("precision_micro",
        expr("cast(tp as decimal(38,0)) * 1000000 div nullif(tp + fp, 0)"))
      .withColumn("recall_micro",
        expr("cast(tp as decimal(38,0)) * 1000000 div nullif(n_pos, 0)"))
      .withColumn("f1_micro",
        expr("cast(tp as decimal(38,0)) * 2000000 div nullif(2 * tp + fp + fn, 0)"))
      .withColumn("auc_micro",
        expr("""cast(r2 - n_pos * (n_pos + 1) as decimal(38, 0)) * 1000000
               div nullif(cast(2 as decimal(38, 0)) * n_pos * n_neg, 0)"""))
      .drop("r2")
  }

  /** Calibration (reliability) table + Brier score for probability
    * scores in [0, 1]: per equal-width score bin, the count, positives,
    * mean predicted probability and observed rate — the curve that says
    * whether "0.9" means 90% — plus the global Brier score
    * `mean((score − label)²)` on every row. A sharp classifier with a
    * bent curve needs recalibration before its threshold means anything.
    *
    * Integer discipline: scores and squared errors are per-row
    * micro-floored (fixed double expression tree, each op correctly
    * rounded) then summed exactly; scores outside [0,1] clamp into the
    * edge bins. Returns one row per non-empty bin:
    * `(bin, n, n_pos, avg_score_micro, obs_rate_micro, brier_micro)`
    * with `brier_micro` the same global value on every row.
    *
    * 100 TB shape: ONE map-side-combined groupBy(bin); the global
    * Brier rides a one-row aggregate of the bins crossJoined back.
    */
  def calibration(
      df: DataFrame,
      labelCol: String,
      scoreCol: String,
      bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 10000, s"bins $bins out of [2,10000]")
    val base = df
      .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .select(
        least(greatest(floor(col(scoreCol) * bins), lit(0L)),
          lit((bins - 1).toLong)).as("bin"),
        when(col(labelCol) === true, 1L).otherwise(0L).as("y"),
        floor(col(scoreCol) * 1e6).cast("long").as("sm"),
        expr(s"""cast(floor(1000000.0 *
          (cast(`$scoreCol` as double) - (case when `$labelCol` then 1.0d else 0.0d end)) *
          (cast(`$scoreCol` as double) - (case when `$labelCol` then 1.0d else 0.0d end)))
          as long)""").as("bm"))
    val perBin = base.groupBy("bin").agg(
      count(lit(1)).as("n"), sum("y").as("n_pos"),
      sum("sm").as("ssm"), sum("bm").as("sbm"))
    val glob = perBin.agg(
      expr("sum(sbm) div sum(n)").as("brier_micro"))
    perBin.crossJoin(broadcast(glob))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("ssm div n").as("avg_score_micro"),
        expr("cast(n_pos as decimal(38,0)) * 1000000 div n").as("obs_rate_micro"),
        col("brier_micro"))
  }

  /** Expected / maximum calibration error — the one-row summary of
    * [[calibration]]'s reliability curve: `ECE = Σ_b n_b·|conf_b −
    * acc_b| / N` (the number quoted in every calibration paper) and the
    * worst single bin (MCE), with the Brier score alongside. The gate a
    * quality-classifier's scores pass before anyone thresholds on them.
    *
    * Exactness: per-bin confidence and accuracy are [[calibration]]'s
    * integer micro columns; gaps, the n-weighted sum, and the final
    * division are exact decimal(38,0) arithmetic — no doubles anywhere
    * beyond calibration's own per-row Brier terms.
    *
    * Output (one row): `(n, n_bins_used, ece_micro, mce_micro,
    * brier_micro)`.
    *
    * 100 TB shape: [[calibration]]'s one groupBy(bin) pass + a
    * ≤bins-row rollup.
    */
  def calibrationError(
      df: DataFrame,
      labelCol: String,
      scoreCol: String,
      bins: Int): DataFrame = {
    calibration(df, labelCol, scoreCol, bins)
      .withColumn("__gap",
        abs(col("avg_score_micro") - col("obs_rate_micro")))
      .agg(sum("n").as("n"), count(lit(1)).as("n_bins_used"),
        sum(expr("cast(n as decimal(38,0)) * __gap")).as("__w"),
        max("__gap").as("mce_micro"),
        max("brier_micro").as("brier_micro"))
      .select(col("n"), col("n_bins_used"),
        expr("cast(__w div n as long)").as("ece_micro"),
        col("mce_micro"), col("brier_micro"))
  }

  /** Isotonic (PAVA) calibration of [[calibration]]'s reliability
    * curve — the standard post-hoc recalibration map: the best
    * MONOTONE fit of observed positive rate to the score bins, via the
    * minimax identity `iso_i = max_{a≤i} min_{b≥i} rate(a..b)` (equal
    * to the pool-adjacent-violators solution for weighted squared
    * loss). Where [[calibrationError]] says HOW miscalibrated the
    * scores are, this emits the mapping that FIXES them — apply
    * `score-bin → iso` as a lookup and the bent curve straightens.
    *
    * Integer contract: segment rates are exact positive integer
    * divisions `Σpos(a..b)·10⁶ div Σn(a..b)` (BigInt — no overflow at
    * any corpus size) and the min/max lattice over those integers is
    * exact, so the result is deterministic on both engines; it is the
    * true PAVA fit up to the micro floor (exact whenever no two
    * segment rates collide within 10⁻⁶). Monotonicity holds by
    * construction of the minimax regardless of flooring.
    *
    * Output per non-empty bin: `(bin, n, n_pos, obs_rate_micro,
    * iso_micro)` with iso non-decreasing in bin.
    *
    * 100 TB shape: ONE map-side-combined groupBy(bin) over the corpus;
    * the ≤bins-row table collects to the driver (k-means-centroid
    * pattern) and the O(bins³) minimax is model-sized arithmetic
    * (hard `bins ≤ 200` require).
    */
  def isotonicCalibration(
      df: DataFrame,
      labelCol: String,
      scoreCol: String,
      bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 200,
      s"bins $bins out of [2,200] (the minimax is bins³ driver work)")
    val base = df
      .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .select(
        least(greatest(floor(col(scoreCol) * bins), lit(0L)),
          lit((bins - 1).toLong)).as("bin"),
        when(col(labelCol) === true, 1L).otherwise(0L).as("y"))
    val perBin = base.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
      .orderBy("bin")
      .collect()
    val b = perBin.length
    val ns = perBin.map(_.getLong(1))
    val ps = perBin.map(_.getLong(2))
    // prefix sums over the PRESENT bins in bin order (empty bins are
    // absent on both engines; contiguity in the present-bin index is
    // exactly the oracle's BETWEEN over present bins)
    val cn = ns.scanLeft(0L)(_ + _)
    val cp = ps.scanLeft(0L)(_ + _)
    def cand(a: Int, bb: Int): BigInt =
      BigInt(cp(bb + 1) - cp(a)) * 1000000 / BigInt(cn(bb + 1) - cn(a))
    val iso = (0 until b).map { i =>
      (0 to i).map { a =>
        (i until b).map(bb => cand(a, bb)).min
      }.max.toLong
    }
    val out = (0 until b).map { i =>
      (perBin(i).getLong(0), ns(i), ps(i),
        (BigInt(ps(i)) * 1000000 / BigInt(ns(i))).toLong, iso(i))
    }
    val spark = df.sparkSession
    import spark.implicits._
    out.toDF("bin", "n", "n_pos", "obs_rate_micro", "iso_micro")
  }

  /** Cohen's κ — inter-rater agreement beyond chance between two
    * categorical label columns (two annotators, two heuristic
    * classifiers, a model vs a rule): the label-quality gate before
    * comparison data trains anything. κ = (p_o − p_e)/(1 − p_e)
    * reduces over the common denominator to the EXACT integer ratio
    * `(agree·n − Σ_c n_a(c)·n_b(c)) / (n² − Σ_c n_a(c)·n_b(c))` — no
    * doubles anywhere, one sign-split floor division to micro.
    *
    * Output (one row): `(n, n_agree, po_micro, pe_micro, kappa_micro)`;
    * NULL κ when chance agreement is total (both raters constant).
    *
    * 100 TB shape: one map-side-combined groupBy(a, b) to the
    * confusion cells; marginals and the statistic are cell-table math.
    */
  def cohensKappa(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val ma = cells.groupBy("__a").agg(sum("__c").as("na"))
    val mb = cells.groupBy("__b").agg(sum("__c").as("nb"))
    val pe = ma.join(mb, col("__a") === col("__b"))
      .agg(sum(expr("cast(na as decimal(38,0)) * nb")).as("__s"))
      .select(coalesce(col("__s"), lit(0).cast("decimal(38,0)"))
        .as("__s"))
    val agg = cells.agg(sum("__c").as("n"),
      sum(when(col("__a") === col("__b"), col("__c")).otherwise(0L))
        .as("n_agree"))
    agg.crossJoin(broadcast(pe))
      .select(col("n"), col("n_agree"),
        expr("cast(n_agree as decimal(38,0)) * 1000000 div n")
          .as("po_micro"),
        expr("""cast(__s * 1000000
             div (cast(n as decimal(38,0)) * n) as long)""")
          .as("pe_micro"),
        expr("""case when cast(n as decimal(38,0)) * n - __s > 0 then
             cast((cast(n_agree as decimal(38,0)) * n - __s) * 1000000
               div (cast(n as decimal(38,0)) * n - __s) as long)
             end""").as("kappa_micro"))
  }

  /** Weighted Cohen's κ (linear weights) — inter-rater agreement for
    * ORDINAL labels, where [[cohensKappa]]'s all-or-nothing cell
    * credit is wrong: two annotators scoring a document 4 vs 5 agree
    * far more than 1 vs 5, and nominal κ charges both the same. With
    * disagreement weight `|i − j|`, κ_w = 1 − E_obs[|i−j|] /
    * E_chance[|i−j|] — the standard linear-weighted kappa, the
    * annotation-QA gate for rating scales (quality 1–5, toxicity
    * 0–3).
    *
    * Fully exact: observed weight `Σ n_ij·|i−j|` and the chance term
    * `Σ n_a(i)·n_b(j)·|i−j|` (marginal cross product) are exact
    * decimal sums; κ_w reduces over the common denominator to the
    * integer ratio `(E_num − obs·n)/E_num`, one sign-split floor
    * division to micro — no doubles anywhere.
    *
    * Output (one row): `(n, k_a, k_b, obs_mean_w_micro,
    * exp_mean_w_micro, kappa_w_micro)`; κ NULL when the chance weight
    * is zero (both raters constant at the same value).
    *
    * Overflow: E_num ≤ n²·range·10⁶ rides decimal(38,0) to n ≈ 10¹⁴
    * at a 10³-wide scale — loud-NULL past it.
    *
    * 100 TB shape: one map-side-combined groupBy(a, b) to the
    * confusion cells; marginals and their cross product are
    * category-table-sized (hard `maxCategories` require — the cross
    * product is k_a·k_b).
    */
  def weightedKappa(
      df: DataFrame,
      aCol: String,
      bCol: String,
      maxCategories: Int = 1000): DataFrame = {
    require(maxCategories >= 2, s"maxCategories $maxCategories must be >= 2")
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("long").as("__a"),
        col(bCol).cast("long").as("__b"))
      // Re-filter AFTER the long cast: a non-numeric string casts to
      // null, and a null-keyed cell would inflate n and the marginals
      // while its |__a-__b| weight silently drops from both the
      // observed and chance sums — a quietly skewed kappa_w instead of
      // the loud exclusion the pre-cast filter promises.
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy("__a", "__b")
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val ma = cells.groupBy("__a").agg(sum("__c").as("na")).localCheckpoint()
    val mb = cells.groupBy("__b").agg(sum("__c").as("nb")).localCheckpoint()
    val kA = ma.count(); val kB = mb.count()
    require(kA <= maxCategories && kB <= maxCategories,
      s"weightedKappa: $kA x $kB categories exceed maxCategories=" +
        s"$maxCategories — the chance term is a marginal cross product")
    val obs = cells.agg(sum("__c").as("n"),
      sum(expr("cast(__c as decimal(38,0)) * abs(__a - __b)")).as("__o"))
    val ex = ma.crossJoin(broadcast(mb))
      .agg(sum(expr("cast(na as decimal(38,0)) * nb * abs(__a - __b)"))
        .as("__e"))
    obs.crossJoin(broadcast(ex))
      .select(col("n"), lit(kA).as("k_a"), lit(kB).as("k_b"),
        expr("cast(__o * 1000000 div n as long)").as("obs_mean_w_micro"),
        expr("""cast(__e * 1000000 div (cast(n as decimal(38,0)) * n)
             as long)""").as("exp_mean_w_micro"),
        expr("""case when __e > 0 then
             cast((__e - __o * n) * 1000000 div __e as long)
             end""").as("kappa_w_micro"))
  }

  /** Gwet's AC1 — chance-corrected agreement that stays honest under
    * PREVALENCE skew, the known kappa paradox: when 95% of documents
    * are "fine", two raters agreeing 95% of the time score κ ≈ 0
    * (chance under independence absorbs everything) even though they
    * are plainly reliable. AC1's chance term models random rating of
    * only the UNCLEAR fraction — `p_e = Σ_c π_c(1−π_c)/(k−1)` with
    * π_c the pooled marginal — and stays near the intuition where κ
    * collapses. Read κ and AC1 together: both high → trust the
    * labels; κ low + AC1 high → prevalence artifact, not rater noise.
    *
    * Fully exact: with m_c = n_a(c)+n_b(c), multiplying (p_o −
    * p_e)/(1 − p_e) through by 4n²(k−1) gives the integer ratio
    * `(agree·4n(k−1) − S)/(4n²(k−1) − S)`, S = Σ m_c(2n − m_c) — one
    * sign-split floor division to micro, no doubles.
    *
    * Output (one row): `(n, k, n_agree, po_micro, pe_micro,
    * ac1_micro)`; AC1 NULL when k < 2 or the denominator degenerates.
    *
    * 100 TB shape: one map-side-combined groupBy(a, b) to the cells;
    * the pooled marginal and S are category-table math; the finish is
    * driver BigInt on three exact scalars.
    */
  def gwetAc1(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val m = cells.select(col("__a").as("__v"), col("__c"))
      .unionByName(cells.select(col("__b").as("__v"), col("__c")))
      .groupBy("__v").agg(sum("__c").as("m"))
      .localCheckpoint()
    val k = m.count()
    val t = cells.agg(
      coalesce(sum("__c"), lit(0L)).as("n"),
      coalesce(sum(when(col("__a") === col("__b"), col("__c"))
        .otherwise(0L)), lit(0L)).as("agree")).head()
    val n = t.getLong(0); val agree = t.getLong(1)
    val sRow = m.agg(
      sum(expr(s"cast(m as decimal(38,0)) * (2 * ${n}L - m)")).as("s"))
      .head()
    val s = if (sRow.isNullAt(0)) BigInt(0)
      else BigInt(sRow.getDecimal(0).toBigInteger)
    val po: Option[Long] =
      if (n > 0) Some((BigInt(agree) * 1000000 / BigInt(n)).toLong) else None
    val den = 4 * BigInt(n) * BigInt(n) * BigInt(k - 1)
    val pe: Option[Long] =
      if (k >= 2 && den > 0) Some((s * 1000000 / den).toLong) else None
    val ac1: Option[Long] =
      if (k >= 2 && den - s > 0) {
        val num = BigInt(agree) * 4 * BigInt(n) * BigInt(k - 1) - s
        // BigInt `/` truncates toward zero = the oracle's sign-split `//`
        Some((num * 1000000 / (den - s)).toLong)
      } else None
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, k, agree, po, pe, ac1))
      .toDF("n", "k", "n_agree", "po_micro", "pe_micro", "ac1_micro")
  }

  /** Scott's π — chance-corrected agreement whose chance term uses the
    * POOLED marginal (both raters assumed to draw from one shared
    * label distribution), the third leg of the agreement triad next
    * to Cohen's κ (per-rater marginals) and Gwet's AC1 (unclear-
    * fraction chance): κ ≈ π → the raters share a prevalence; κ ≫ π →
    * their marginals diverge and κ's per-rater chance is flattering
    * one of them. π is also the two-rater case of Fleiss' κ
    * ([[fleissKappa]]), so it reconciles pairwise and panel audits.
    *
    * Fully exact: with m_c = n_a(c)+n_b(c), multiplying (p_o − p_e)/
    * (1 − p_e) through by 4n² gives the integer ratio
    * `(4n·agree − Σm_c²)/(4n² − Σm_c²)` — one sign-split floor
    * division to micro, no doubles.
    *
    * Output (one row): `(n, n_agree, po_micro, pe_micro, pi_micro)`;
    * π NULL when the chance term degenerates (4n² = Σm²: both raters
    * constant at one shared label).
    *
    * Overflow: Σm² ≤ 4n² rides decimal(38,0) to n ≈ 10¹⁸.
    *
    * 100 TB shape: one map-side-combined groupBy(a, b) to the
    * confusion cells; the pooled marginal and Σm² are label-table
    * math; the finish is driver BigInt on three exact scalars.
    */
  def scottsPi(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val m = cells.select(col("__a").as("__v"), col("__c"))
      .unionByName(cells.select(col("__b").as("__v"), col("__c")))
      .groupBy("__v").agg(sum("__c").as("m"))
    // ONE driver action for both scalar aggregates (round 15, the
    // theilsU convention): cross-joined single-row aggregates, one job.
    val t = cells.agg(
      coalesce(sum("__c"), lit(0L)).as("n"),
      coalesce(sum(when(col("__a") === col("__b"), col("__c"))
        .otherwise(0L)), lit(0L)).as("agree"))
      .crossJoin(m.agg(
        sum(expr("cast(m as decimal(38,0)) * m")).as("s")))
      .head()
    val n = t.getLong(0); val agree = t.getLong(1)
    val s = if (t.isNullAt(2)) BigInt(0)
      else BigInt(t.getDecimal(2).toBigInteger)
    val den = 4 * BigInt(n) * BigInt(n)
    val po: Option[Long] =
      if (n > 0) Some((BigInt(agree) * 1000000 / BigInt(n)).toLong) else None
    val pe: Option[Long] =
      if (n > 0) Some((s * 1000000 / den).toLong) else None
    val pi: Option[Long] =
      if (den - s > 0) {
        val num = 4 * BigInt(n) * BigInt(agree) - s
        // BigInt `/` truncates toward zero = the oracle's sign-split `//`
        Some((num * 1000000 / (den - s)).toLong)
      } else None
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, agree, po, pe, pi))
      .toDF("n", "n_agree", "po_micro", "pe_micro", "pi_micro")
  }

  /** Goodman–Kruskal λ — proportional-reduction-in-error association
    * between two CATEGORICAL columns: how much better do you predict
    * column b knowing column a than from b's mode alone? The
    * categorical companion to correlation for pipeline audits —
    * "does source predict language", "does the heuristic label
    * predict the model label" — where χ²/Cramér's V ([[cramersV]])
    * measures departure-from-independence but not predictive value.
    * λ = 0 ⇔ a is useless for predicting b's mode; λ = 1 ⇔ a
    * determines b.
    *
    * Fully exact and PURELY integer: λ_b|a = (Σ_a max_b n_ab −
    * max_c n_·c)/(n − max_c n_·c), the mirrored λ_a|b, and the
    * symmetric λ (sum of both numerators over both denominators) are
    * count arithmetic with one floor division to micro each.
    *
    * Output (one row): `(n, sum_rowmax, sum_colmax, max_col_marginal,
    * max_row_marginal, lambda_b_given_a_micro, lambda_a_given_b_micro,
    * lambda_sym_micro)`; a λ is NULL when its denominator is zero
    * (the predicted column is constant).
    *
    * 100 TB shape: one map-side-combined groupBy(a, b) to the cells;
    * row/column maxima and marginals are cell-table aggregations —
    * nothing after the first shuffle touches the corpus.
    */
  def gkLambda(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    // ONE driver action for all five scalar aggregates (round 15, the
    // theilsU convention): cross-joined single-row aggregates off the
    // checkpointed cell table — one job's fixed latency, values
    // bit-identical to the previous five sequential .head()s.
    val t = cells.agg(coalesce(sum("__c"), lit(0L)).as("n"))
      .crossJoin(cells.groupBy("__a").agg(max("__c").as("mx"))
        .agg(coalesce(sum("mx"), lit(0L)).as("rowmax")))
      .crossJoin(cells.groupBy("__b").agg(max("__c").as("mx"))
        .agg(coalesce(sum("mx"), lit(0L)).as("colmax")))
      .crossJoin(cells.groupBy("__b").agg(sum("__c").as("m"))
        .agg(coalesce(max("m"), lit(0L)).as("colmm")))
      .crossJoin(cells.groupBy("__a").agg(sum("__c").as("m"))
        .agg(coalesce(max("m"), lit(0L)).as("rowmm")))
      .head()
    val n = t.getLong(0)
    val rowMax = t.getLong(1)
    val colMax = t.getLong(2)
    val colMarginalMax = t.getLong(3)
    val rowMarginalMax = t.getLong(4)
    // Σ_a max_b n_ab >= max_c Σ_a n_ac, so numerators are provably
    // non-negative — the floor division needs no sign split.
    def lam(num: Long, den: Long): Option[Long] =
      if (den > 0) Some((BigInt(num) * 1000000 / BigInt(den)).toLong)
      else None
    val lBA = lam(rowMax - colMarginalMax, n - colMarginalMax)
    val lAB = lam(colMax - rowMarginalMax, n - rowMarginalMax)
    val lS = lam(rowMax + colMax - colMarginalMax - rowMarginalMax,
      2 * n - colMarginalMax - rowMarginalMax)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, rowMax, colMax, colMarginalMax, rowMarginalMax, lBA, lAB, lS))
      .toDF("n", "sum_rowmax", "sum_colmax", "max_col_marginal",
        "max_row_marginal", "lambda_b_given_a_micro",
        "lambda_a_given_b_micro", "lambda_sym_micro")
  }

  /** Theil's U (uncertainty coefficient) — the ASYMMETRIC, entropy-
    * based categorical association [[gkLambda]]'s mode arithmetic
    * cannot see (λ is exactly 0 whenever no row flips b's mode, even
    * under strong probabilistic dependence): U(b|a) = (H(b) −
    * H(b|a))/H(b), the fraction of b's entropy that knowing a
    * removes. Directional by design — "source predicts language"
    * and "language predicts source" are different numbers.
    *
    * Determinism: every entropy is a SUM over label cells of
    * per-cell ROUND(1e6 · c·(ln(N) − ln(c))/n) BIGINT terms (the
    * q64/q69 ln-term convention) — runtime ln is engine-portable
    * (q220 precedent) and the integer per-term floor makes the sum
    * order-independent, so the result replays bit-identically on any
    * engine. U is then one integer floor division of micro entropies.
    *
    * Output (one row): `(n, h_a_micro, h_b_micro, h_b_given_a_micro,
    * h_a_given_b_micro, u_b_given_a_micro, u_a_given_b_micro)`;
    * a U is NULL when the predicted column's entropy is zero.
    *
    * 100 TB shape: one map-side-combined groupBy(a, b) to the cells;
    * both marginals re-aggregate the cells; the conditional-entropy
    * terms join cells to a marginal — all label-table-sized.
    */
  def theilsU(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val n = cells.agg(coalesce(sum("__c"), lit(0L))).head().getLong(0)
    if (n == 0L) {
      val spark = df.sparkSession
      import spark.implicits._
      return Seq((0L, 0L, 0L, 0L, 0L, None: Option[Long], None: Option[Long]))
        .toDF("n", "h_a_micro", "h_b_micro", "h_b_given_a_micro",
          "h_a_given_b_micro", "u_b_given_a_micro", "u_a_given_b_micro")
    }
    // per-cell micro term of H: round(1e6 * c * (ln(total) - ln(c)) / n);
    // `total` = n for marginal entropies, the conditioning marginal for
    // conditional ones
    def hTerm(c: Column, total: Column): Column =
      round(lit(1e6) * c.cast("double") *
        (log(total.cast("double")) - log(c.cast("double"))) / lit(n.toDouble))
        .cast("long")
    val ma = cells.groupBy("__a").agg(sum("__c").as("na")).localCheckpoint()
    val mb = cells.groupBy("__b").agg(sum("__c").as("nb")).localCheckpoint()
    // ONE driver action for all four entropy sums (round 15): the four
    // single-row aggregates cross-join into one row, so the driver pays
    // one job's fixed latency instead of four sequentially — the cell
    // table and both marginals are checkpointed, so each aggregate is a
    // cheap re-read, and the values are bit-identical to the previous
    // four .head()s.
    val hRow = ma.agg(coalesce(sum(hTerm(col("na"), lit(n))), lit(0L)).as("ha"))
      .crossJoin(mb.agg(coalesce(sum(hTerm(col("nb"), lit(n))), lit(0L)).as("hb")))
      .crossJoin(cells.join(ma, "__a")
        .agg(coalesce(sum(hTerm(col("__c"), col("na"))), lit(0L)).as("hbga")))
      .crossJoin(cells.join(mb, "__b")
        .agg(coalesce(sum(hTerm(col("__c"), col("nb"))), lit(0L)).as("hagb")))
      .head()
    val hA = hRow.getLong(0); val hB = hRow.getLong(1)
    val hBgA = hRow.getLong(2); val hAgB = hRow.getLong(3)
    // H(b|a) <= H(b) in exact math; the per-cell micro rounding can
    // leave a few-micro negative residue on independent columns, so U
    // clamps at 0 (mirrored GREATEST in the oracle) rather than
    // splitting signs on noise.
    def u(h: Long, hCond: Long): Option[Long] =
      if (h > 0)
        Some((BigInt(math.max(0L, h - hCond)) * 1000000 / BigInt(h)).toLong)
      else None
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, hA, hB, hBgA, hAgB, u(hB, hBgA), u(hA, hAgB)))
      .toDF("n", "h_a_micro", "h_b_micro", "h_b_given_a_micro",
        "h_a_given_b_micro", "u_b_given_a_micro", "u_a_given_b_micro")
  }

  /** Youden's J over a binned score sweep — the optimal-threshold
    * audit for a binary quality/toxicity/contamination score:
    * J(t) = TPR(t) − FPR(t), maximized over thresholds, is the
    * balanced-accuracy headroom of the score and the threshold to
    * deploy it at (the ROC point farthest above chance). Reported
    * on `bins` equal score buckets — thresholds between buckets —
    * so the sweep is exact for the binned score.
    *
    * Fully exact: per-bin (pos, neg) counts; cumulative tp/fp from
    * the top bin down; J_micro(b) = tp·10⁶ div P − fp·10⁶ div N.
    * The winner is the highest-J bin, ties → LOWEST threshold bin
    * (deterministic, favors recall).
    *
    * Output (one row): `(n, n_pos, n_neg, best_bin, tp, fp,
    * tpr_micro, fpr_micro, j_micro)`; null-free by the require
    * below (both classes must appear).
    *
    * 100 TB shape: ONE map-side-combined groupBy(bin) collapses the
    * corpus to ≤ `bins` rows; the cumulative sweep is a window over
    * that bounded table (`require(bins <= 10000)` keeps it
    * single-partition-safe by construction).
    */
  def youdenJ(
      df: DataFrame,
      labelCol: String,
      scoreCol: String,
      bins: Int = 100): DataFrame = {
    require(bins >= 2 && bins <= 10000,
      s"youdenJ: bins=$bins out of [2, 10000] — the sweep table is " +
        "bins-sized and single-partition by design")
    val base = df.filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .select(expr(s"try_cast(`$labelCol` as boolean)").as("__y"),
        expr(s"try_cast(`$scoreCol` as double)").as("__s"))
      // Re-filter AFTER the casts (weightedKappa convention): a garbage
      // label casts to null and would count as a NEGATIVE in the per-bin
      // neg sum; a garbage score casts to null and — because Spark's
      // greatest() IGNORES nulls — would clip to bin 0 instead of
      // dropping. Both silently skew the sweep; exclusion must be loud.
      // try_cast, not cast: under ANSI (Spark 4 default) a plain cast
      // THROWS on malformed input — try_cast + this filter gives the
      // same deterministic exclusion under either ANSI setting.
      .filter(col("__y").isNotNull && col("__s").isNotNull)
      .select(col("__y"),
        least(greatest(floor(col("__s") * bins), lit(0L)),
          lit(bins - 1L)).as("__b"))
    val perBin = base.groupBy("__b").agg(
      sum(when(col("__y"), 1L).otherwise(0L)).as("pos"),
      sum(when(col("__y"), 0L).otherwise(1L)).as("neg"))
      .localCheckpoint()
    val t = perBin.agg(
      coalesce(sum("pos"), lit(0L)).as("p"),
      coalesce(sum("neg"), lit(0L)).as("ng")).head()
    val totPos = t.getLong(0); val totNeg = t.getLong(1)
    require(totPos > 0 && totNeg > 0,
      s"youdenJ: needs both classes (pos=$totPos neg=$totNeg)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("__b").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBin
      .withColumn("tp", sum("pos").over(w))
      .withColumn("fp", sum("neg").over(w))
      .withColumn("tpr_micro", expr(s"tp * 1000000 div ${totPos}L"))
      .withColumn("fpr_micro", expr(s"fp * 1000000 div ${totNeg}L"))
      .withColumn("j_micro", col("tpr_micro") - col("fpr_micro"))
      .orderBy(col("j_micro").desc, col("__b").asc)
      .limit(1)
      .select(lit(totPos + totNeg).as("n"), lit(totPos).as("n_pos"),
        lit(totNeg).as("n_neg"), col("__b").as("best_bin"),
        col("tp"), col("fp"), col("tpr_micro"), col("fpr_micro"),
        col("j_micro"))
  }

  /** Spiegelhalter's z — calibration test for probabilistic scores
    * whose null is "the score IS the true probability": z near 0 →
    * the Brier score equals its expectation under perfect
    * calibration; |z| > 1.96 → mis-calibration at 5%. The binned
    * reliability diagram ([[brierDecomposition]], [[isotonicCalibration]])
    * shows WHERE calibration fails; this is the single-number test of
    * WHETHER, with no binning choice to argue about.
    *
    * Fully exact sums: with P = floor(p·10⁶) and Y = y·10⁶,
    * numerator Σ (Y−P)(10⁶−2P) and variance Σ P(10⁶−P)(10⁶−2P)² are
    * decimal(38,0)-exact integer aggregates (per-row |term| ≤ 10¹²
    * and 2.5·10²³ — overflow-loud past ~10¹⁴ rows); z_milli is one
    * double tree floor(1000·num/√den), NULL when the variance is 0
    * (all scores at 0, ½, or 1).
    *
    * 100 TB shape: ONE map-side-combined global aggregate — two
    * decimal sums over the corpus, scalar finish.
    */
  def spiegelhalterZ(
      df: DataFrame,
      labelCol: String,
      scoreCol: String): DataFrame = {
    val M = 1000000L
    val base = df.filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .select(expr(s"try_cast(`$labelCol` as boolean)").as("__yb"),
        expr(s"try_cast(`$scoreCol` as double)").as("__s"))
      // Re-filter AFTER the casts (weightedKappa convention): a garbage
      // label casts to null, the when() below treats null as false, and
      // the row silently lands in the y=0 branch; a garbage score casts
      // to null and greatest() (null-ignoring) would clip it to p=0.
      // try_cast so ANSI sessions exclude instead of throwing (youdenJ).
      .filter(col("__yb").isNotNull && col("__s").isNotNull)
      .select(
        when(col("__yb"), lit(M)).otherwise(lit(0L)).as("__y"),
        least(greatest(floor(col("__s") * M), lit(0L)),
          lit(M)).as("__p"))
    base.agg(
      count(lit(1)).as("n"),
      sum(expr(s"cast(__y - __p as decimal(38,0)) * (${M}L - 2 * __p)"))
        .as("__num"),
      sum(expr(s"cast(__p as decimal(38,0)) * (${M}L - __p) * " +
        s"(${M}L - 2 * __p) * (${M}L - 2 * __p)")).as("__den"))
      .select(col("n"),
        expr("cast(__num div 1000000 as long)").as("num_micro"),
        when(col("__den") > 0,
          floor(lit(1000.0) * col("__num").cast("double") /
            sqrt(col("__den").cast("double"))))
          .cast("long").as("z_milli"))
  }

  /** Matthews correlation coefficient — the single-number binary-
    * classifier quality that stays honest under class imbalance
    * (accuracy and F1 both inflate when one class dominates; MCC is
    * the full-confusion-matrix correlation and only rewards getting
    * BOTH classes right): the go/no-go gate for a quality/toxicity/
    * contamination filter before it prunes a corpus.
    *
    * Fully exact sums: the four confusion counts are one aggregate;
    * MCC_milli = floor(1000·(tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)
    * (tn+fn))) — exact decimal products under one double-tree sqrt.
    * NULL when any marginal is empty (a constant predictor has no
    * correlation).
    *
    * 100 TB shape: ONE map-side-combined global aggregate.
    */
  def matthewsCorrelation(
      df: DataFrame,
      labelCol: String,
      predCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    df.filter(col(labelCol).isNotNull && col(predCol).isNotNull)
      .select(expr(s"try_cast(`$labelCol` as boolean)").as("__y"),
        expr(s"try_cast(`$predCol` as boolean)").as("__p"))
      // Re-filter AFTER the casts (weightedKappa convention): a garbage
      // label/pred casts to null, falls out of all four when() confusion
      // cells, yet still counts in n — so n != tp+fp+fn+tn and the MCC
      // denominator quietly shrinks. Exclusion must be loud, not skew.
      // try_cast so ANSI sessions exclude instead of throwing (youdenJ).
      .filter(col("__y").isNotNull && col("__p").isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__y") && col("__p"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("__y") && col("__p"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("__y") && !col("__p"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("__y") && !col("__p"), 1L).otherwise(0L)).as("tn"))
      .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0 && col("tp") + col("fn") > 0 &&
          col("tn") + col("fp") > 0 && col("tn") + col("fn") > 0,
          floor(lit(1000.0) *
            expr(s"cast(cast(tp as $dec) * tn - cast(fp as $dec) * fn" +
              " as double)") /
            sqrt(expr(s"cast(cast(tp + fp as $dec) * (tp + fn) * " +
              s"(tn + fp) * (tn + fn) as double)"))))
          .cast("long").as("mcc_milli"))
  }

  /** Log-loss (binary cross-entropy) of a probability score against a
    * binary label — the proper scoring rule that punishes confident
    * wrongness the way accuracy cannot; with [[brierDecomposition]]
    * and [[spiegelhalterZ]] it completes the calibration battery
    * (Brier = quadratic rule, log-loss = the one that matches how
    * LMs are trained and perplexity is read).
    *
    * Determinism: the score floors to micro P and clips to
    * [1, 10⁶−1] micro (the standard eps-clip, else one p=0 row is
    * −∞); each row contributes ROUND(−10⁶·ln(q/10⁶)) with q the
    * probability ASSIGNED TO THE TRUE OUTCOME — an exact BIGINT
    * term (q64 ln-term convention), so the corpus sum is order-
    * independent and engine-portable. Mean = one floor division.
    *
    * Output (one row): `(n, n_pos, mean_logloss_micro)` — nats·10⁶.
    *
    * Overflow: per-term ≤ ln(10⁶)·10⁶ ≈ 1.4·10⁷ — int64 to ~6·10¹¹
    * rows.
    *
    * 100 TB shape: ONE map-side-combined global aggregate.
    */
  def logLoss(
      df: DataFrame,
      labelCol: String,
      scoreCol: String): DataFrame = {
    val M = 1000000L
    val base = df.filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .select(expr(s"try_cast(`$labelCol` as boolean)").as("__y"),
        expr(s"try_cast(`$scoreCol` as double)").as("__s"))
      // Re-filter AFTER the casts (weightedKappa convention): a garbage
      // label casts to null, when(__y) treats it as false, and the row
      // silently scores the y=0 branch; a garbage score casts to null
      // and greatest() (null-ignoring) would clip it to p=0 — a maximal
      // -ln(eps) penalty fabricated from unparseable input.
      // try_cast so ANSI sessions exclude instead of throwing (youdenJ).
      .filter(col("__y").isNotNull && col("__s").isNotNull)
      .select(col("__y"),
        least(greatest(floor(col("__s") * M), lit(0L)),
          lit(M)).as("__p"))
      .withColumn("__q",
        least(greatest(when(col("__y"), col("__p")).otherwise(lit(M) - col("__p")),
          lit(1L)), lit(M - 1L)))
      .withColumn("__t",
        round(lit(-1e6) * log(col("__q").cast("double") / lit(1e6)))
          .cast("long"))
    base.agg(
      count(lit(1)).as("n"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
      sum("__t").as("__s"))
      .select(col("n"), col("n_pos"),
        expr("case when n > 0 then __s div n end").as("mean_logloss_micro"))
  }

  /** Hosmer–Lemeshow goodness-of-fit — the TEST companion to the
    * reliability diagram ([[brierDecomposition]]) and the no-binning z
    * ([[spiegelhalterZ]]): partition the score range into `bins` equal
    * intervals, compare observed vs expected positives per bin,
    * χ² = Σ_bins (O−E)²/(E·(1−E/n_b)). Large χ² on many dof localizes
    * WHERE a quality/toxicity score's probabilities are off — the
    * deployment gate "can I treat this score as a probability" before
    * thresholding a corpus with it.
    *
    * Fixed-width bins, not equal-frequency deciles: decile edges are
    * order statistics whose cross-engine determinism would need the
    * full quantile machinery, while fixed-cut bins keep every count a
    * plain aggregate (the standard HL caveat about sparse bins applies
    * — bins with E=0 or E=n_b are excluded and counted in `n_dropped_bins`).
    *
    * Exact contract: per-bin O (positives), n_b, and E_micro = Σ p_micro
    * are integer aggregates; each kept bin contributes ONE rounded
    * micro term of χ² (the q64 convention), a pinned double tree over
    * exact integers: t_b = ROUND(Δ·Δ·n_b·10⁶/E_micro/(n_b·10⁶−E_micro))
    * with Δ = O·10⁶−E_micro — so the cross-bin sum is order-independent
    * integer arithmetic.
    *
    * Output (one row): `(n, n_bins_kept, n_dropped_bins, df,
    * chi2_milli)` with df = kept − 2 clamped at 1 (the classic g−2);
    * chi2 NULL when no bin is usable.
    *
    * 100 TB shape: ONE map-side-combined groupBy(bin) to ≤ `bins`
    * rows; scalar finish (`require(bins <= 10000)`).
    */
  def hosmerLemeshow(
      df: DataFrame,
      labelCol: String,
      scoreCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 10000,
      s"hosmerLemeshow: bins=$bins out of [2, 10000]")
    val M = 1000000L
    val base = df.filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .select(expr(s"try_cast(`$labelCol` as boolean)").as("__y"),
        expr(s"try_cast(`$scoreCol` as double)").as("__s"))
      // post-cast re-filter (weightedKappa convention; see youdenJ)
      .filter(col("__y").isNotNull && col("__s").isNotNull)
      .select(col("__y"),
        least(greatest(floor(col("__s") * M), lit(0L)), lit(M)).as("__p"))
      .withColumn("__b",
        least(expr(s"__p * $bins div ${M}L"), lit(bins - 1L)))
    val perBin = base.groupBy("__b").agg(
      count(lit(1)).as("nb"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("o"),
      sum("__p").as("e_micro"))
    // per-bin rounded micro term of χ², one pinned double tree:
    // ((((Δd·Δd)·nb)·10⁶)/E)/(n·10⁶−E) with every operand an exact
    // integer cast to double once — both engines replay the identical
    // IEEE sequence (all per-bin integers fit long far past 10¹² rows)
    val kept = perBin
      .withColumn("__usable",
        col("e_micro") > 0 && col("e_micro") < expr(s"nb * ${M}L"))
      .withColumn("__t", when(col("__usable"), expr(
        s"""cast(round(
              cast(o * $M - e_micro as double) *
              cast(o * $M - e_micro as double) *
              cast(nb as double) * 1e6 /
              cast(e_micro as double) /
              cast(nb * $M - e_micro as double))
            as long)""")))
    kept.agg(
      coalesce(sum("nb"), lit(0L)).as("n"),
      coalesce(sum(when(col("__usable"), 1L).otherwise(0L)), lit(0L))
        .as("n_bins_kept"),
      coalesce(sum(when(!col("__usable"), 1L).otherwise(0L)), lit(0L))
        .as("n_dropped_bins"),
      sum("__t").as("__chi2"))
      .select(col("n"), col("n_bins_kept"), col("n_dropped_bins"),
        when(col("n_bins_kept") > 0,
          greatest(col("n_bins_kept") - 2, lit(1L))).as("df"),
        when(col("n_bins_kept") > 0,
          expr("__chi2 div 1000")).as("chi2_milli"))
  }

  /** Mean average precision at k — the ranking-eval workhorse next to
    * [[ndcgAtK]] (graded) and [[rankEval]] (set metrics): AP rewards
    * ranking EVERY relevant item high, not just the first (MRR) or
    * the count in the top k (P@k). Per query, AP@k = (Σ over relevant
    * hits at position ≤ k of precision@that-position) / min(R, k)
    * with R the query's total relevant count; MAP is the mean over
    * queries that have at least one relevant item (the TREC
    * convention — an all-negative query defines no ranking quality).
    *
    * Fully exact: positions and hit-prefix counts come from one
    * query-keyed ordering (score DESC, item ASC — the q219 tie rule);
    * each hit contributes `hits·10⁶ div pos`, AP divides by
    * min(R, k), MAP by the query count — integer floor divisions all
    * the way down (documented per-term floor; slack ≤ k micro).
    *
    * Output (one row): `(n_queries, map_micro)`; NULL MAP when no
    * query has a relevant item.
    *
    * 100 TB shape: ONE query-keyed window partitioning carries both
    * ROW_NUMBER and the hit prefix count, then a map-side-combined
    * two-level rollup — queries scale out, per-query lists stay
    * local.
    */
  def meanAveragePrecision(
      df: DataFrame,
      queryCol: String,
      itemCol: String,
      scoreCol: String,
      relevantCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val base = df.filter(col(queryCol).isNotNull && col(itemCol).isNotNull &&
        col(scoreCol).isNotNull && col(relevantCol).isNotNull)
      .select(col(queryCol).as("__q"), col(itemCol).as("__i"),
        col(scoreCol).as("__s"), col(relevantCol).cast("boolean").as("__r"))
    val w = Window.partitionBy("__q").orderBy(col("__s").desc, col("__i").asc)
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perQuery = base
      .withColumn("__pos", row_number().over(w))
      .withColumn("__hits", sum(when(col("__r"), 1L).otherwise(0L)).over(wr))
      .groupBy("__q")
      .agg(
        sum(when(col("__r"), 1L).otherwise(0L)).as("__nrel"),
        sum(when(col("__r") && col("__pos") <= k,
          expr("__hits * 1000000 div __pos")).otherwise(0L)).as("__tsum"))
      .filter(col("__nrel") > 0)
      .select(expr(s"__tsum div least(__nrel, ${k}L)").as("__ap"))
    perQuery.agg(count(lit(1)).as("n_queries"),
        sum("__ap").as("__aps"))
      .select(col("n_queries"),
        expr("case when n_queries > 0 then __aps div n_queries end")
          .as("map_micro"))
  }

  /** McNemar's test — do two classifiers DISAGREE in a biased way on
    * the SAME rows? The paired accuracy comparison (two quality
    * filters, model vs heuristic) where a plain accuracy diff double-
    * counts the rows both get right: only the discordant cells carry
    * signal, χ² = (n_a_only − n_b_only)²/(n_a_only + n_b_only) against
    * χ²(1) — 3841 milli rejects at 5%.
    *
    * Fully exact: four conditional counts, the statistic one integer
    * floor division to milli (the squared difference never leaves
    * int64 below ~3·10⁹ discordant rows; decimal carries it beyond).
    *
    * Output (one row): `(n, n_both_right, n_a_only, n_b_only,
    * n_both_wrong, chi2_milli)`; NULL χ² when the raters never
    * disagree.
    *
    * 100 TB shape: one global aggregate with four conditional sums.
    */
  def mcnemar(
      df: DataFrame,
      aCol: String,
      bCol: String,
      labelCol: String): DataFrame = {
    df.filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(labelCol).isNotNull)
      .select((col(aCol).cast("boolean") === col(labelCol).cast("boolean"))
        .as("__ra"),
        (col(bCol).cast("boolean") === col(labelCol).cast("boolean"))
          .as("__rb"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__ra") && col("__rb"), 1L).otherwise(0L))
          .as("n_both_right"),
        sum(when(col("__ra") && !col("__rb"), 1L).otherwise(0L))
          .as("n_a_only"),
        sum(when(!col("__ra") && col("__rb"), 1L).otherwise(0L))
          .as("n_b_only"),
        sum(when(!col("__ra") && !col("__rb"), 1L).otherwise(0L))
          .as("n_both_wrong"))
      .withColumn("chi2_milli", expr(
        """case when n_a_only + n_b_only > 0 then
           cast(cast(n_a_only - n_b_only as decimal(38,0))
             * (n_a_only - n_b_only) * 1000
             div (n_a_only + n_b_only) as long) end"""))
  }

  /** Split-conformal prediction thresholds per group, with the empirical
    * coverage check: from a CALIBRATION set of nonconformity scores the
    * per-group threshold is the ⌈(n+1)(1−α)⌉-th smallest score (the
    * finite-sample-valid conformal quantile, clamped to n), and the TEST
    * set reports how many of its scores fall at or under it — the
    * distribution-free "is my 90% really 90%?" audit before a model's
    * uncertainty gates anything. α is passed in permille so the quantile
    * index is exact integer arithmetic: `idx = ⌈(n+1)·(1000−α)/1000⌉`.
    * The threshold is a score that actually occurs (nearest-rank with
    * (score, tie) total order), so output hashes across engines.
    * Returns `(groupCol, n_cal, q_index, threshold, n_test, n_covered)`.
    *
    * 100 TB shape: one window shuffle on the group ranks calibration
    * scores (per-group sort, no global window); thresholds are
    * group-cardinality-sized and broadcast onto the test set, which
    * stays map-only.
    */
  def conformalThreshold(
      cal: DataFrame,
      test: DataFrame,
      groupCol: String,
      scoreCol: String,
      tieCol: String,
      alphaPermille: Int): DataFrame = {
    require(alphaPermille > 0 && alphaPermille < 1000,
      s"alphaPermille $alphaPermille must lie in (0, 1000)")
    val keep = 1000 - alphaPermille
    val base = cal.filter(col(scoreCol).isNotNull && col(groupCol).isNotNull)
    val w = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol), col(tieCol))
    val ranked = base
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("n_cal", count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .withColumn("q_index",
        least(expr(s"((n_cal + 1) * $keep + 999) div 1000"), col("n_cal")))
    val thresholds = ranked.filter(col("__rn") === col("q_index"))
      .select(col(groupCol), col("n_cal"), col("q_index"),
        col(scoreCol).as("threshold"))
    val covered = test.filter(col(scoreCol).isNotNull && col(groupCol).isNotNull)
      .join(broadcast(thresholds.select(col(groupCol), col("threshold"))), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_test"),
        count(when(col(scoreCol) <= col("threshold"), 1)).as("n_covered"))
    thresholds.join(covered, Seq(groupCol), "left")
      .select(col(groupCol), col("n_cal"), col("q_index"), col("threshold"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
  }

  /** Per-row anomaly ATTRIBUTION: which feature deviates most? Scores
    * every row's columns by integer z-milli against the global moments
    * of [[Features.standardize]] (micro-floored values, exact decimal
    * sums, one correctly-rounded sqrt), then reports the argmax column
    * with a deterministic tie-break (higher z wins, then column name) —
    * the "why is this row weird" companion to outlier FLAGGING, which
    * tells an operator what to look at. `z_milli = |v_micro − mean| ·
    * 1000 / max(std, 1)` is pure integer arithmetic after the one
    * sqrt, so results hash across engines. NULL columns score 0 (a
    * missing value is not a deviation here). Returns `(idCol, top_col,
    * top_z_milli, n_extreme)` where `n_extreme` counts columns past
    * 3000 (|z| > 3).
    *
    * 100 TB shape: the moments table is |cols|-sized and broadcast;
    * scoring is one map-only pass of codegen'd integer expressions —
    * the corpus is read once and never shuffles.
    */
  /** EXACT two-sample Kolmogorov–Smirnov statistic between two groups'
    * value distributions — the "did this feature's distribution move"
    * test with no binning error (PSI needs bins and misses shifts inside
    * one; KS is binless): `D = max_v |F_a(v) − F_b(v)|`, carried as the
    * exact integer `d_scaled = max |cum_a·n_b − cum_b·n_a|` so engines
    * agree bit-for-bit, with `ks_micro = d_scaled·10⁶ / (n_a·n_b)`.
    * `d_scaled` is decimal(38,0) — it exceeds int64 past ~3·10⁹ rows
    * per side, see [[ksFromCells]].
    * `at_value` is where the gap peaks (largest such value on ties).
    * Returns ONE row: `(n_a, n_b, d_scaled, ks_micro, at_value)`.
    *
    * 100 TB shape: ONE map-side-combined groupBy collapses the corpus
    * to distinct values with per-group counts (value-cardinality
    * table); CDFs come from [[Ranks.prefixSum]] (range exchange + two
    * narrow passes — no single-task window even at 10⁹ distinct
    * values); the rest is one-row aggregates.
    */
  def ksStatistic(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val cells = df
      .filter(col(valueCol).isNotNull &&
        (col(groupCol) === groupA || col(groupCol) === groupB))
      .groupBy(col(valueCol).as("v"))
      .agg(
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("cb"))
    ksFromCells(cells)
  }

  /** KS core over a pre-aggregated value-cardinality table `(v, ca, cb)`.
    * Every cross product (`cum_a·n_b`, `d_scaled·10⁶`, `n_a·n_b`) is
    * carried in decimal(38,0): the int64 route wraps SILENTLY past
    * ~3·10⁹ rows per side (`n_a·n_b > 2⁶³`) — exactly the corpus scale
    * the one-pass shape above exists for — so `d_scaled` is emitted as
    * decimal(38,0) and only the bounded `ks_micro ∈ [0, 10⁶]` returns
    * to int64. Split out so overflow counts are testable without
    * materializing 10⁹ rows (EvalOverflowSpec feeds synthetic cells).
    */
  private[graft] def ksFromCells(cells: DataFrame): DataFrame = {
    val cum = Ranks.prefixSum(cells, Seq(col("v")), Seq("ca", "cb"))
    val tot = cells.agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    val dd = cum.crossJoin(broadcast(tot))
      .withColumn("dd",
        abs(col("ca_cum").cast("decimal(38,0)") * col("n_b") -
          col("cb_cum").cast("decimal(38,0)") * col("n_a")))
    val maxd = dd.agg(max("dd").as("d_scaled"))
    dd.crossJoin(broadcast(maxd))
      .agg(
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("d_scaled")).as("d_scaled"),
        max(when(col("dd") === col("d_scaled"), col("v"))).as("at_value"))
      .withColumn("ks_micro",
        expr("d_scaled * 1000000 div greatest(cast(n_a as decimal(38,0)) * n_b, 1)"))
      .select("n_a", "n_b", "d_scaled", "ks_micro", "at_value")
  }

  /** k-NN label-noise audit: flag rows whose k nearest embedding
    * neighbors vote a DIFFERENT label — the confident-learning-style
    * screen for mislabeled training data (a "positive" whose 5 nearest
    * neighbors are all negatives is usually the label that's wrong, not
    * the geometry). Majority vote with deterministic tie-break (higher
    * count, then smaller label); 6-dp cosine ranking from
    * [[Similarity.bruteForceTopK]] (ties to the smaller neighbor id).
    * Returns `(id, label, knn_label, n_agree, flagged)` — `n_agree`
    * counts neighbors sharing the row's own label.
    *
    * Exact-audit shape like [[Similarity.mutualTop1]]: run on a sample
    * or per LSH/IVF bucket (the query side broadcasts); at corpus scale
    * feed bucketed candidates through the same vote.
    */
  def knnLabelAudit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    val base = df
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        col(labelCol).cast("long").as("label"))
      .filter(col("id").isNotNull && col("label").isNotNull)
    val nn = Similarity.bruteForceTopK(base, base, "id", "v", "id", "v", k)
    val cnt = nn
      .join(base.select(col("id").as("nbr_id"), col("label").as("nlab")), "nbr_id")
      .groupBy(col("query_id"), col("nlab"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("query_id").orderBy(col("c").desc, col("nlab"))
    val majority = cnt
      .withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select(col("query_id").as("id"), col("nlab").as("knn_label"))
    base.select("id", "label")
      .join(majority, "id")
      // two-key left join: the own-label count row or NULL — a bare id
      // join + filter would DROP rows with zero agreeing neighbors
      .join(cnt.select(col("query_id").as("id"), col("nlab").as("label"),
        col("c")), Seq("id", "label"), "left")
      .select(col("id"), col("label"), col("knn_label"),
        coalesce(col("c"), lit(0L)).as("n_agree"),
        (col("knn_label") =!= col("label")).as("flagged"))
  }

  def anomalyAttribution(
      df: DataFrame,
      idCol: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    val stats = Features.standardize(df, cols)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), math.max(r.getLong(3), 1L))).toMap
    val zs = cols.sorted.map { c =>
      val (mean, std) = stats.getOrElse(c, (0L, 1L))
      val z = when(col(c).isNotNull,
          expr(s"abs(cast(floor(cast(`$c` as double) * 1e6) as long) - ${mean}L) * 1000 div ${std}L"))
        .otherwise(lit(0L))
      struct(z.as("z"), lit(c).as("col_name"))
    }
    df.select(col(idCol), array(zs: _*).as("__zs"))
      .select(col(idCol),
        expr("array_max(transform(__zs, s -> struct(s.z, s.col_name)))").as("__top"),
        expr("size(filter(__zs, s -> s.z > 3000))").cast("long").as("n_extreme"))
      .select(col(idCol), col("__top.col_name").as("top_col"),
        col("__top.z").as("top_z_milli"), col("n_extreme"))
  }

  /** Annotator-consensus labels with one reliability re-vote — the
    * Dawid–Skene idea cut to its deterministic first step: (1) majority
    * label per item, (2) each annotator's reliability = Laplace-smoothed
    * agreement with those majorities `(agree+1)·1e6 div (n+2)`, (3) a
    * reliability-weighted re-vote. One round is the 80% of EM that
    * matters (down-weighting the random clicker), and it stays an exact
    * integer computation — iterate by feeding the output back if wanted.
    * Ties break to the lexicographically-smaller label in both votes.
    *
    * Output per item: `(item, n_annotations, majority_label,
    * consensus_label, confidence_micro, changed)` where confidence is
    * the winning weight share of the item's total annotator weight and
    * `changed` flags items the re-vote flipped — the disagreement queue
    * a labeling op reviews first.
    *
    * 100 TB shape: two item-keyed map-side-combined aggregations plus
    * an annotator-keyed one; the annotator weight table joins back
    * broadcast (annotators ≪ annotations).
    */
  def annotatorConsensus(
      df: DataFrame,
      itemCol: String,
      annotatorCol: String,
      labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .filter(col(itemCol).isNotNull && col(annotatorCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(col(itemCol).as("item"), col(annotatorCol).as("ann"),
        col(labelCol).cast("string").as("lab"))
      .localCheckpoint()
    val wMaj = Window.partitionBy(col("item"))
      .orderBy(col("__c").desc, col("lab"))
    val majority = base.groupBy("item", "lab")
      .agg(count(lit(1)).as("__c"))
      .withColumn("__r", row_number().over(wMaj))
      .filter(col("__r") === 1)
      .select(col("item"), col("lab").as("majority_label"))
    val weights = base
      .join(majority, "item")
      .groupBy("ann")
      .agg(count(lit(1)).as("__n"),
        count(when(col("lab") === col("majority_label"), 1)).as("__agree"))
      .withColumn("w_micro", expr(
        "cast(__agree + 1 as decimal(38,0)) * 1000000 div (__n + 2)"))
      .select(col("ann"), col("w_micro"))
    val wVote = Window.partitionBy(col("item"))
      .orderBy(col("__wsum").desc, col("lab"))
    val wTot = Window.partitionBy(col("item"))
    base
      .join(broadcast(weights), "ann")
      .groupBy("item", "lab")
      .agg(count(lit(1)).as("__votes"), sum("w_micro").as("__wsum"))
      .withColumn("__wtot", sum(col("__wsum")).over(wTot))
      .withColumn("__n_ann", sum(col("__votes")).over(wTot))
      .withColumn("__r", row_number().over(wVote))
      .filter(col("__r") === 1)
      .join(majority, "item")
      .select(col("item"), col("__n_ann").as("n_annotations"),
        col("majority_label"), col("lab").as("consensus_label"),
        expr("cast(cast(__wsum as decimal(38,0)) * 1000000 div __wtot as long)")
          .as("confidence_micro"),
        (col("lab") =!= col("majority_label")).as("changed"))
  }

  /** Exact KNN-Shapley data valuation (Jia et al. 2019, "Efficient
    * Task-Specific Data Valuation for Nearest Neighbor Algorithms"):
    * each training point's Shapley value under the K-NN utility has a
    * closed form — sort training points by distance to a validation
    * point, then the recurrence
    * `s_N = 1[y_N = y_v]/N`,
    * `s_i = s_{i+1} + (1[y_i=y_v] − 1[y_{i+1}=y_v]) · min(K,i)/(K·i)`
    * telescopes into a SUFFIX SUM over the ranking — which distributes:
    * one window per validation point, no sampling, no Monte Carlo. The
    * "which examples help, which hurt" signal behind data pruning and
    * mislabel bounties, exact instead of approximated.
    *
    * Integer contract: cosine ranking like [[knnLabelAudit]] (6-dp
    * round, ties to smaller train id), each per-rank magnitude
    * `min(K,i)·1e6 div (K·i)` floors a POSITIVE rational (the ±1 label
    * indicator multiplies after), so every engine floors identically.
    * Per train point the final value averages over validation points
    * with one more positive floor division.
    *
    * Audit-sample shape like its siblings (q191, mutualTop1): the
    * validation side broadcasts and each validation point ranks the
    * full training side inside one window partition — run on a capped
    * train sample or one retrieval bucket; the value of a 10¹³-row
    * corpus is not a per-row question at full cardinality.
    *
    * Output per training row: `(id, label, n_val, shapley_sum_micro,
    * shapley_micro)`.
    */
  def knnShapley(
      train: DataFrame,
      valSet: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k $k must be >= 1")
    def side(df: DataFrame, p: String) = df
      .filter(col(idCol).isNotNull && col(labelCol).isNotNull)
      .select(col(idCol).as(s"${p}_id"), col(vecCol).as(s"${p}_v"),
        col(labelCol).cast("long").as(s"${p}_y"))
    val t = side(train, "t")
    val v = side(valSet, "v")
    val w = Window.partitionBy(col("v_id"))
      .orderBy(col("score").desc, col("t_id"))
    val wAll = Window.partitionBy(col("v_id"))
    val scored = t.join(broadcast(v), col("t_id") =!= col("v_id"))
      .withColumn("score", round(
        Similarity.dot(col("t_v"), col("v_v")) /
          (Similarity.norm(col("t_v")) * Similarity.norm(col("v_v"))), 6))
      .withColumn("i", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("ind", when(col("t_y") === col("v_y"), 1L).otherwise(0L))
      .withColumn("ind_next", lead(col("ind"), 1).over(w))
      .withColumn("contrib",
        when(col("i") === col("n"), expr("ind * 1000000 div n"))
          .otherwise((col("ind") - col("ind_next")) *
            expr(s"(least($k, i) * 1000000L) div (${k}L * i)")))
    val wSuffix = Window.partitionBy(col("v_id"))
      .orderBy(col("i").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("s_micro", sum(col("contrib")).over(wSuffix))
      .groupBy(col("t_id").as("id"))
      .agg(max(col("t_y")).as("label"),
        count(lit(1)).as("n_val"),
        sum(col("s_micro")).as("shapley_sum_micro"))
      .withColumn("shapley_micro", expr("shapley_sum_micro div n_val"))
  }

  /** Cumulative gains / lift curve — the targeting-quality view of a
    * score that q145's AUC scalar compresses away: rank the population
    * by score (best first), cut into equal-count buckets, and report
    * what fraction of all positives the top k buckets capture
    * (`gain_micro`) and how much better than random that is
    * (`lift_milli`; 1000 = no better). The curve that answers "if we
    * can only act on the top decile, what do we get?" — the campaign /
    * review-queue / labeling-budget question.
    *
    * Exact-integer contract: scores floor to micro, rank ties break on
    * `idCol`, `bucket = B·(rank−1) div n` (equal-count like q192's
    * Lorenz slices), shares/lifts are decimal(38,0) products with one
    * floor division.
    *
    * 100 TB shape: one [[Ranks.globalRank]] range exchange, one
    * map-side-combined rollup to B rows; the cumulative window rides
    * the B-row bucket table.
    */
  def gainsCurve(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      labelCol: String,
      buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2, s"buckets $buckets must be >= 2")
    val base = df
      .filter(col(idCol).isNotNull && col(scoreCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(col(idCol).as("__id"),
        floor(col(scoreCol).cast("double") * 1e6).cast("long").as("__s"),
        col(labelCol).cast("boolean").as("__y"))
    val ranked = Ranks.globalRank(base,
      Seq(col("__s").desc, col("__id")), "__rn")
    val tot = ranked.agg(count(lit(1)).as("__n"),
      count(when(col("__y"), 1)).as("__npos"))
    val cells = ranked.crossJoin(broadcast(tot))
      .withColumn("bucket", expr(s"($buckets * (__rn - 1)) div __n").cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), count(when(col("__y"), 1)).as("n_pos"),
        max("__n").as("__n"), max("__npos").as("__npos"))
    val wOrd = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_n", sum(col("n")).over(wOrd))
      .withColumn("cum_pos", sum(col("n_pos")).over(wOrd))
      .withColumn("gain_micro", expr(
        "cast(cast(cum_pos as decimal(38,0)) * 1000000 div greatest(__npos, 1) as long)"))
      .withColumn("lift_milli", expr(
        """cast(cast(cum_pos as decimal(38,0)) * __n * 1000
           div greatest(cast(__npos as decimal(38,0)) * cum_n, 1) as long)"""))
      .select("bucket", "n", "n_pos", "cum_n", "cum_pos", "gain_micro",
        "lift_milli")
  }

  /** `⌊10⁶/log₂(i+1)⌋` for ranks 1..20 — the DCG position discounts as
    * hardcoded micro literals (log-law literal rule: runtime log2 in a
    * hash contract is not engine-portable; these nine-digit constants
    * are). Extend the table to raise the maximum k.
    */
  val DcgWeightMicro: Seq[Long] = Seq(
    1000000L, 630929L, 500000L, 430676L, 386852L, 356207L, 333333L,
    315464L, 301029L, 289064L, 278942L, 270238L, 262649L, 255958L,
    250000L, 244650L, 239812L, 235408L, 231378L, 227670L)

  /** NDCG@k per query — the ranking-quality yardstick for a retrieval or
    * reranking stage (RAG chunk ranking, near-dup candidate ordering,
    * search): how close the SCORE ordering gets to the best possible
    * ordering of each query's own relevance mass, position-discounted so
    * rank 1 matters most. Linear gains (`rel`, not `2^rel`), the
    * convention for graded non-exponential labels.
    *
    * EXACT integer contract: relevance micro-floors per row (negatives
    * clamp to 0 — standard NDCG is over non-negative gains); each
    * position term is the int64 product `rel_micro · w_micro` (micro²
    * units, no per-term floor, so `dcg ≤ idcg` holds exactly and
    * `ndcg_micro ∈ [0, 10⁶]` always); ties break deterministically by
    * item id on BOTH orderings. Bound: `k · max_rel_micro < 2⁶³/10⁶`
    * (rel values to ~9·10¹¹ at k=10) — relevance is a label, not a sum,
    * so corpus size never enters.
    *
    * Output: one row per query `(query, n_items, dcg_mm, idcg_mm,
    * ndcg_micro)` — `*_mm` are the micro²-unit sums; NULL ndcg when the
    * query has zero relevance mass in its top-k ideal (nothing to rank).
    *
    * 100 TB shape: two ROW_NUMBER passes over the SAME (query)-keyed
    * window sort — Catalyst fuses them into one shuffle+sort per
    * ordering (two total), each keyed by query id (millions of parallel
    * groups, no global window); the finish is a map-side-combined
    * groupBy(query).
    */
  def ndcgAtK(
      df: DataFrame,
      queryCol: String,
      itemCol: String,
      scoreCol: String,
      relCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= DcgWeightMicro.size,
      s"k $k must lie in [1, ${DcgWeightMicro.size}] (extend DcgWeightMicro)")
    val wS = Window.partitionBy(col(queryCol))
      .orderBy(col(scoreCol).desc, col(itemCol).asc)
    val wI = Window.partitionBy(col(queryCol))
      .orderBy(col("__rel").desc, col(itemCol).asc)
    val weights = array(DcgWeightMicro.map(lit): _*)
    val base = df
      .filter(col(queryCol).isNotNull && col(itemCol).isNotNull &&
        col(scoreCol).isNotNull)
      .withColumn("__rel",
        greatest(floor(coalesce(col(relCol).cast("double"), lit(0.0)) * 1e6)
          .cast("long"), lit(0L)))
      .withColumn("__rs", row_number().over(wS))
      .withColumn("__ri", row_number().over(wI))
      .withColumn("__ws",
        when(col("__rs") <= k, element_at(weights, col("__rs"))).otherwise(0L))
      .withColumn("__wi",
        when(col("__ri") <= k, element_at(weights, col("__ri"))).otherwise(0L))
    base.groupBy(col(queryCol).as("query"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("__rel") * col("__ws")).as("dcg_mm"),
        sum(col("__rel") * col("__wi")).as("idcg_mm"))
      .withColumn("ndcg_micro", expr(
        """case when idcg_mm > 0 then
           cast(dcg_mm as decimal(38,0)) * 1000000 div idcg_mm end"""))
  }

  /** Set-based retrieval metrics per query — the binary-label siblings
    * of [[ndcgAtK]] (which needs graded relevance): hit@k, precision@k,
    * recall@k, and the reciprocal rank of the first relevant item
    * within the top k (MRR@k's per-query term). The everyday eval row
    * for a RAG retriever or near-dup candidate generator where labels
    * are "is relevant / is the true duplicate", not graded gains.
    *
    * EXACT integer contract: ranks break ties deterministically by item
    * id; `precision_at_k_micro = ⌊10⁶·hits/k⌋`,
    * `recall_at_k_micro = ⌊10⁶·hits/n_rel⌋` (NULL when the query has no
    * relevant items at all), `rr_micro = ⌊10⁶/first_rel_rank⌋` with 0
    * when no relevant item lands in the top k — every value a single
    * int64 floor division, no doubles anywhere.
    *
    * Output: one row per query `(query, n_items, n_rel, hits_at_k,
    * precision_at_k_micro, recall_at_k_micro, rr_micro, hit_at_k)`.
    *
    * 100 TB shape: ONE (query)-keyed window sort (millions of parallel
    * groups, no global ordering) feeding a map-side-combined
    * groupBy(query) — strictly cheaper than ndcgAtK's two orderings.
    */
  def rankEval(
      df: DataFrame,
      queryCol: String,
      itemCol: String,
      scoreCol: String,
      relevantCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    val wS = Window.partitionBy(col(queryCol))
      .orderBy(col(scoreCol).desc, col(itemCol).asc)
    val base = df
      .filter(col(queryCol).isNotNull && col(itemCol).isNotNull &&
        col(scoreCol).isNotNull)
      .withColumn("__rel",
        coalesce(col(relevantCol).cast("boolean"), lit(false)))
      .withColumn("__rs", row_number().over(wS))
    base.groupBy(col(queryCol).as("query"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("__rel"), 1L).otherwise(0L)).as("n_rel"),
        sum(when(col("__rel") && col("__rs") <= k, 1L).otherwise(0L))
          .as("hits_at_k"),
        min(when(col("__rel") && col("__rs") <= k, col("__rs")))
          .as("__fr"))
      .withColumn("precision_at_k_micro",
        expr(s"hits_at_k * 1000000 div ${k}L"))
      .withColumn("recall_at_k_micro", expr(
        "case when n_rel > 0 then hits_at_k * 1000000 div n_rel end"))
      .withColumn("rr_micro", expr(
        "case when __fr is not null then 1000000 div __fr else 0 end"))
      .withColumn("hit_at_k",
        when(col("hits_at_k") > 0, 1L).otherwise(0L))
      .drop("__fr")
  }

  /** Average precision per query — the area-under-PR summary of a
    * binary-relevance ranking ([[rankEval]] reads one cut k; AP
    * integrates over every relevant position):
    * `AP = (1/R)·Σ_{k relevant} hits(k)/k`. The MAP building block for
    * retriever eval.
    *
    * EXACT integer contract: ranks tie-break by item id; each relevant
    * position contributes the per-term floor
    * `⌊10⁶·hits(k)/(k·R)⌋` in decimal(38,0) (per-term flooring — the
    * mutualInfo precedent — makes the sum order-independent exact
    * integer arithmetic; the total underestimates true AP by < R
    * micro). NULL when the query has no relevant items.
    *
    * Output per query: `(query, n_items, n_rel, ap_micro)`.
    *
    * 100 TB shape: ONE query-keyed window ordering (rank + running
    * hits + per-query R all ride the same sort) feeding a map-side-
    * combined groupBy(query).
    */
  def averagePrecision(
      df: DataFrame,
      queryCol: String,
      itemCol: String,
      scoreCol: String,
      relevantCol: String): DataFrame = {
    val wS = Window.partitionBy(col(queryCol))
      .orderBy(col(scoreCol).desc, col(itemCol).asc)
    val wAll = Window.partitionBy(col(queryCol))
    val base = df
      .filter(col(queryCol).isNotNull && col(itemCol).isNotNull &&
        col(scoreCol).isNotNull)
      .withColumn("__rel",
        coalesce(col(relevantCol).cast("boolean"), lit(false)))
      .withColumn("__rs", row_number().over(wS))
      .withColumn("__hits", sum(when(col("__rel"), 1L).otherwise(0L))
        .over(wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__nrel", sum(when(col("__rel"), 1L).otherwise(0L))
        .over(wAll))
    base.groupBy(col(queryCol).as("query"))
      .agg(count(lit(1)).as("n_items"),
        max("__nrel").as("n_rel"),
        sum(when(col("__rel"), expr(
          """cast(__hits as decimal(38,0)) * 1000000
             div (cast(__rs as decimal(38,0)) * __nrel)"""))
          .otherwise(0L)).as("__ap"))
      .withColumn("ap_micro",
        when(col("n_rel") > 0, col("__ap")).otherwise(lit(null)))
      .select("query", "n_items", "n_rel", "ap_micro")
  }

  /** `⌊cum_P(k)·2³²⌋` for k = 0..8, Poisson(λ=1), as 8-hex-char
    * literals: a row's bootstrap weight is the first k whose threshold
    * exceeds the row's u32 hash rendered in hex — a LEXICOGRAPHIC
    * string compare on fixed-width lowercase hex equals the numeric
    * compare, so the same md5 prefix decides the weight identically in
    * any engine with no hex-parsing builtin required. Hashes past the
    * last threshold (P ≈ 1.1·10⁻⁶) cap at weight 9 — the documented
    * truncation of the Poisson tail.
    */
  val PoissonCumHex32: Seq[String] = Seq(
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797", "ff1025f5",
    "ffd90f3b", "fffa8b71", "ffff540c", "ffffed1f")

  /** Poisson(1) bootstrap confidence interval for the corpus mean of a
    * metric — the uncertainty bar every pipeline dashboard needs on
    * "mean quality score moved 0.3%": is that real or resampling
    * noise? The classical bootstrap resamples n rows WITH replacement
    * per replica — undistributable as stated; the Poisson(1)
    * approximation (each row enters replica r with weight ~Poisson(1),
    * the large-n limit of Binomial(n, 1/n)) is the standard
    * shared-nothing form, and hashing (seed, replica, row id) makes
    * every weight a pure function of the data — deterministic,
    * engine-replayable, no RNG state.
    *
    * Exactness: weights come off [[PoissonCumHex32]] string compares;
    * replica sums are decimal(38,0) of micro-floored values; replica
    * means are sign-split floor divisions; the CI bounds are exact
    * nearest-rank order statistics of the b replica means at the
    * ceil-division indexes `⌈0.025b⌉`/`⌈0.975b⌉` (integer ceil-div, no
    * double epsilon deciding an index); only boot_se takes a sqrt.
    * Replicas with zero effective weight (P ≈ e⁻ⁿ) drop, reported via
    * b_effective.
    *
    * Output (one row): `(n, b_effective, mean_micro, boot_lo_micro,
    * boot_hi_micro, boot_se_micro)`.
    *
    * 100 TB shape: ONE corpus pass — each task explodes its rows ×b and
    * map-side-combines into ≤b partial rows per task (the full-sample
    * moments ride the same pass: every replica sees every row, so
    * count/sum per replica ARE the full-sample values); the shuffle is
    * b·tasks rows, the driver sees b (sum, count) pairs. `b ≤ 1024`
    * (loud require) bounds the blowup factor.
    */
  def bootstrapMeanCI(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      b: Int = 200,
      seed: String = "boot"): DataFrame = {
    require(b >= 2 && b <= 1024, s"b $b must lie in [2, 1024]")
    val weightCase = PoissonCumHex32.zipWithIndex
      .map { case (h, k) => s"when __u < '$h' then ${k}L" }
      .mkString("case ", " ", " else 9L end")
    val base0 = df
      .filter(col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__vm"))
    // The ×b explode inherits the SCAN's partitioning: a small input (one
    // parquet row group) would run the entire replica pass on one task.
    // Spread first when the scan is narrower than the cluster; at real
    // scale partitions ≥ parallelism and this is a no-op.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val base =
      if (base0.rdd.getNumPartitions < par) base0.repartition(par)
      else base0
    val reps = base
      .withColumn("__rep", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__u", substring(md5(concat_ws("|",
        lit(seed), col("__rep").cast("string"), col("__id"))), 1, 8))
      .withColumn("__w", expr(weightCase))
      .groupBy("__rep")
      .agg(count(lit(1)).as("cf"),
        sum(col("__vm").cast("decimal(38,0)")).as("sf"),
        sum(col("__w")).as("c"),
        sum(expr("cast(__w as decimal(38,0)) * __vm")).as("s"))
      .collect()
    require(reps.nonEmpty, "bootstrapMeanCI: empty input")
    val n = reps(0).getAs[Long]("cf")
    val sTot = BigInt(reps(0).getAs[java.math.BigDecimal]("sf").toBigInteger)
    val means = reps.toSeq
      .map(r => (BigInt(r.getAs[java.math.BigDecimal]("s").toBigInteger),
        r.getAs[Long]("c")))
      .filter(_._2 > 0)
      .map { case (s, c) => (s / c).toLong }
      .sorted
    val bEff = means.size.toLong
    val lo = (25 * bEff + 999) / 1000
    val hi = (975 * bEff + 999) / 1000
    def at(i: Long): Option[Long] =
      if (i >= 1 && i <= bEff) Some(means((i - 1).toInt)) else None
    val se: Option[Long] =
      if (bEff < 2) None
      else {
        val k = BigInt(bEff)
        val sm = means.map(BigInt(_)).sum
        val sm2 = means.map(m => BigInt(m) * m).sum
        Some(math.floor(math.sqrt(
          (k * sm2 - sm * sm).toDouble / (bEff.toDouble * (bEff - 1)))).toLong)
      }
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, bEff, (sTot / n).toLong, at(lo), at(hi), se))
      .toDF("n", "b_effective", "mean_micro", "boot_lo_micro",
        "boot_hi_micro", "boot_se_micro")
  }

  /** Exact 1-D Wasserstein-1 (earth mover's) distance between two
    * groups' value distributions — the drift metric that keeps METRIC
    * units (PSI and KS are dimensionless; W₁ answers "the score
    * distribution moved by 0.03 points on average"), and the standard
    * two-sample readout for embedding-scalar and quality-score drift.
    * `W₁ = ∫|F_a − F_b| dv` over the merged empirical CDFs.
    *
    * EXACT end-to-end: per-segment mass is the integer
    * `(v_next − v)·|cumA·n_b − cumB·n_a|` in decimal(38,0) (the CDF
    * difference cross-multiplied, never divided), summed exactly, ONE
    * final floor division by n_a·n_b. Overflow bound: segment span ×
    * cross-mass < 10³⁸ — comfortable to ~10¹⁴ rows of 10⁶-magnitude
    * values.
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, n_values, w1_micro)`.
    *
    * 100 TB shape: one map-side-combined groupBy(value) collapses the
    * corpus to distinct micro values with per-group counts;
    * [[Ranks.prefixSum]] + [[Ranks.globalRank]] range exchanges run on
    * THAT table; adjacency is a rank/rank+1 equi-join (no global LEAD
    * window); one scalar rollup.
    */
  def wasserstein1d(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__vm"))
    val grps = base.select("__g").distinct().orderBy("__g")
      .collect().map(_.getString(0)).toSeq
    require(grps.length == 2,
      s"wasserstein1d: exactly 2 groups required, got ${grps.length}")
    val cells = base.groupBy("__vm")
      .agg(sum(when(col("__g") === grps(0), 1L).otherwise(0L)).as("ca"),
        sum(when(col("__g") === grps(1), 1L).otherwise(0L)).as("cb"))
      .localCheckpoint()
    val cums = Ranks.prefixSum(cells, Seq(col("__vm")), Seq("ca", "cb"))
    val ranked = Ranks.globalRank(
      cells.select("__vm"), Seq(col("__vm")), "__r")
    val cur = cums.join(ranked, Seq("__vm"))
    val nxt = ranked.select((col("__r") - 1).as("__r"),
      col("__vm").as("__vn"))
    val tot = cells.agg(sum("ca").as("na"), sum("cb").as("nb"),
      count(lit(1)).as("nv"))
    cur.join(nxt, Seq("__r"))
      .crossJoin(broadcast(tot))
      .agg(sum(expr(
        """cast(__vn - __vm as decimal(38,0))
           * abs(cast(ca_cum as decimal(38,0)) * nb
                 - cast(cb_cum as decimal(38,0)) * na)"""))
        .as("__num"))
      .crossJoin(broadcast(tot))
      .select(lit(grps(0)).as("grp_a"), lit(grps(1)).as("grp_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        col("nv").as("n_values"),
        expr("""cast(coalesce(__num, 0)
               div (cast(na as decimal(38,0)) * nb) as long)""")
          .as("w1_micro"))
  }

  /** Leave-one-group-out jackknife of the corpus mean — "which source/
    * domain/shard is MOVING my metric": for every group, the corpus
    * mean recomputed without it, and the influence (how far that group
    * pulls the global mean). The group-level sensitivity audit that
    * catches one bad crawl snapshot dragging a quality average before
    * anyone samples it.
    *
    * Exactness: group (n, Σ) in decimal(38,0) of micro-floored values;
    * every mean a sign-split floor division; influence is integer
    * subtraction of two floored means (±1 micro quantization,
    * documented). NULL mean_excl for a group that IS the whole corpus.
    *
    * Output per group: `(group, n_g, mean_micro, mean_excl_micro,
    * influence_micro)`.
    *
    * 100 TB shape: ONE map-side-combined groupBy(group); totals come
    * from a broadcast one-row rollup of the group table, never a
    * second corpus pass.
    */
  def jackknifeGroups(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val g = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("group"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__v"))
      .groupBy("group")
      .agg(count(lit(1)).as("n_g"),
        sum(col("__v").cast("decimal(38,0)")).as("__s"))
    val tot = g.agg(sum("n_g").as("__nt"),
      sum("__s").cast("decimal(38,0)").as("__st"))
    g.crossJoin(broadcast(tot))
      .withColumn("mean_micro", expr("__st div __nt"))
      .withColumn("mean_excl_micro", expr(
        "case when __nt > n_g then (__st - __s) div (__nt - n_g) end"))
      .withColumn("influence_micro",
        col("mean_micro") - col("mean_excl_micro"))
      .select("group", "n_g", "mean_micro", "mean_excl_micro",
        "influence_micro")
  }

  /** Randomization (permutation) test for the difference of group means
    * — the assumption-free significance check behind every A/B metric
    * diff: re-split the rows into pseudo-arms b times and ask how often
    * chance alone beats the observed gap. Labels are reassigned by
    * hashing (seed, replica, row id) against the exact integer
    * threshold `⌊2³²·n_a/n⌋` (so pseudo-arm A has the original arm's
    * expected size), making every replica a pure function of the data.
    *
    * Exactness end-to-end: the comparison `|d_rep| ≥ |d_obs|` never
    * divides — cross-multiplied exact integers
    * `|s_A·c_B − s_B·c_A|·(c_A°·c_B°)` vs the observed mirror, in
    * BigInt on the b driver-collected replica rows (no overflow at ANY
    * corpus size; the same comparison in an oracle's int128 is exact to
    * ~10³⁸). p follows the standard add-one rule ⌊10⁶·(1+n_extreme)/
    * (1+b_eff)⌋. Degenerate replicas (a pseudo-arm empty, P ≈ 2⁻ⁿ)
    * drop, reported via b_effective.
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, diff_micro,
    * b_effective, n_extreme, p_micro)`; diff_micro is the observed
    * floored-mean difference, descriptive only — the decision math
    * uses the exact rationals.
    *
    * 100 TB shape: one groupBy(group) pass for the observed moments,
    * then ONE corpus pass exploding ×b with map-side combine to ≤b
    * rows per task (same shape as [[bootstrapMeanCI]]); driver traffic
    * is b (count, sum) pairs. `b ≤ 1024` loud-bounded.
    */
  def permutationTestMeans(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      valueCol: String,
      b: Int = 200,
      seed: String = "perm"): DataFrame = {
    require(b >= 2 && b <= 1024, s"b $b must lie in [2, 1024]")
    val base0 = df
      .filter(col(idCol).isNotNull && col(groupCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__vm"))
    // pre-explode fan-out, same rationale as bootstrapMeanCI
    val par = df.sparkSession.sparkContext.defaultParallelism
    val base =
      (if (base0.rdd.getNumPartitions < par) base0.repartition(par)
       else base0)
        .localCheckpoint()
    val obs = base.groupBy("__g")
      .agg(count(lit(1)).as("c"),
        sum(col("__vm").cast("decimal(38,0)")).as("s"))
      .orderBy("__g").collect()
    require(obs.length == 2,
      s"permutationTestMeans: exactly 2 groups required, got ${obs.length}")
    val (ga, gb) = (obs(0).getString(0), obs(1).getString(0))
    val (ca, cb) = (obs(0).getLong(1), obs(1).getLong(1))
    val (sa, sb) = (BigInt(obs(0).getDecimal(2).toBigInteger),
      BigInt(obs(1).getDecimal(2).toBigInteger))
    val n = ca + cb
    val thex = f"${(BigInt(4294967296L) * ca / n).toLong}%08x"
    val reps = base
      .withColumn("__rep", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__ina", substring(md5(concat_ws("|",
        lit(seed), col("__rep").cast("string"), col("__id"))), 1, 8)
        < lit(thex))
      .groupBy("__rep")
      .agg(sum(when(col("__ina"), 1L).otherwise(0L)).as("cab"),
        sum(when(col("__ina"), col("__vm")).otherwise(0L)
          .cast("decimal(38,0)")).as("sab"))
      .collect()
    val dObsNum = (sa * cb - sb * ca).abs
    val bn = BigInt(n)
    var bEff = 0L; var nExtreme = 0L
    reps.foreach { r =>
      val cab = BigInt(r.getLong(1))
      val sab = BigInt(r.getDecimal(2).toBigInteger)
      if (cab > 0 && cab < bn) {
        bEff += 1
        val dRepNum = (sab * (bn - cab) - (sa + sb - sab) * cab).abs
        if (dRepNum * (BigInt(ca) * cb) >= dObsNum * (cab * (bn - cab)))
          nExtreme += 1
      }
    }
    val diff = (sa / ca).toLong - (sb / cb).toLong
    val p = (BigInt(1 + nExtreme) * 1000000 / BigInt(1 + bEff)).toLong
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, ca, cb, diff, bEff, nExtreme, p))
      .toDF("grp_a", "grp_b", "n_a", "n_b", "diff_micro", "b_effective",
        "n_extreme", "p_micro")
  }

  /** Per-segment two-group permutation test — the fully DISTRIBUTED
    * sibling of [[permutationTestMeans]] for the many-hypotheses shape
    * (one test per country/source/bucket, then FDR over them via
    * [[bhFdr]]). Same md5-driven label permutation and exact
    * cross-multiplied extremeness compare, but nothing segment-sized
    * ever reaches the driver: observed moments are a groupBy(segment,
    * group), replicas a groupBy(segment, rep), and the p-value finish a
    * groupBy(segment) — all map-side combined.
    *
    * Segments whose group column does not take exactly 2 values are
    * dropped STRUCTURALLY (the q158 lesson: a cap or precondition the
    * operator enforces must be expressible by the oracle, and "has
    * exactly 2 groups" is one join). Groups are compared lexicographic
    * (a = min, b = max).
    *
    * Exactness bounds (ENFORCED, not advisory): per-segment permutation
    * assignment threshold `⌊2³²·n_a/n⌋` is a decimal(38,0) `div` —
    * exact at any count; the extremeness cross-multiply reaches
    * `Σ|v_micro| · n³ / 4` per segment, which must stay under 10³⁸ —
    * at |v| ≤ 100 (|v_micro| ≤ 10⁸) that is n ≤ ~4.5·10⁷ ROWS PER
    * SEGMENT, not 10⁹ (decimal overflow would NULL the `__ext`
    * predicate, silently counting it false and biasing p toward
    * non-significance; DuckDB's HUGEINT errors instead, breaking
    * parity). A loud `require` over the model-sized per-segment moments
    * (`Σ|v_micro|` rides the same obs groupBy) rejects any segment
    * whose worst-case product nears the ceiling — the maxCells
    * pattern: shrink segments or rescale values, never overflow
    * silently.
    *
    * Output per surviving segment: `(segment, n_a, n_b, diff_micro,
    * b_effective, n_extreme, p_micro)` with the [[permutationTestMeans]]
    * estimator `p = (1 + #extreme) / (1 + #non-degenerate)`.
    *
    * 100 TB shape: one base scan localCheckpoint'd (the ×b explode must
    * not re-read the source), pre-explode repartition (the round-9
    * fan-out fix), ONE (segment, rep) shuffle for replicas, model-sized
    * (segments × b ≤ ~10⁶) tables after that.
    */
  def permutationTestMeansBySegment(
      df: DataFrame,
      segCol: String,
      idCol: String,
      groupCol: String,
      valueCol: String,
      b: Int = 200,
      seed: String = "perm"): DataFrame = {
    require(b >= 2 && b <= 1024, s"b $b must lie in [2, 1024]")
    val dec = "decimal(38,0)"
    val base0 = df
      .filter(col(segCol).isNotNull && col(idCol).isNotNull &&
        col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(segCol).cast("string").as("__seg"),
        col(idCol).cast("string").as("__id"),
        col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__vm"))
    val par = df.sparkSession.sparkContext.defaultParallelism
    val base =
      (if (base0.rdd.getNumPartitions < par) base0.repartition(par)
       else base0)
        .localCheckpoint()
    val obs = base.groupBy("__seg", "__g")
      .agg(count(lit(1)).as("c"), sum(col("__vm").cast(dec)).as("s"),
        sum(abs(col("__vm")).cast(dec)).as("sabs"))
    // loud decimal(38,0) headroom guard (see scaladoc): the extremeness
    // cross-multiply is bounded by Σ|v_micro|·n³/4 per segment; compare
    // in double against a conservative 9·10³⁷ ceiling — obs is
    // model-sized (one row per segment×group), so this one extra
    // aggregate costs a groupBy over the already-checkpointed base
    val worst = obs.groupBy("__seg")
      .agg(sum("c").as("__n"), sum("sabs").as("__sabs"))
      .agg(max(col("__sabs").cast("double") *
        pow(col("__n").cast("double"), 3.0) / 4.0)).head()
    val worstMag = if (worst.isNullAt(0)) 0.0 else worst.getDouble(0)
    require(worstMag < 9e37,
      f"permutationTestMeansBySegment: worst per-segment extremeness " +
        f"magnitude $worstMag%.3g approaches the decimal(38,0) ceiling " +
        "(Σ|v_micro|·n³/4 must stay < 1e38 — at |v| <= 100 that is " +
        "n <= ~4.5e7 rows/segment); split segments or rescale values")
    val segs = obs.groupBy("__seg")
      .agg(count(lit(1)).as("__ng"), min("__g").as("__ga"), max("__g").as("__gb"))
      .filter(col("__ng") === 2)
      .select("__seg", "__ga", "__gb")
    val two = obs.join(broadcast(segs), "__seg")
    val pivoted = two.groupBy("__seg")
      .agg(max(when(col("__g") === col("__ga"), col("c"))).as("ca"),
        max(when(col("__g") === col("__ga"), col("s"))).as("sa"),
        max(when(col("__g") === col("__gb"), col("c"))).as("cb"),
        max(when(col("__g") === col("__gb"), col("s"))).as("sb"))
      .withColumn("n", col("ca") + col("cb"))
      // ⌊2³²·ca/n⌋ via decimal div — 2³²·ca overflows int64 past ~2e9 rows
      .withColumn("__thex", format_string("%08x",
        expr(s"CAST(CAST(4294967296 AS $dec) * ca AS $dec) div n")))
    val reps = base.join(broadcast(pivoted.select("__seg", "__thex")), "__seg")
      .withColumn("__rep", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__ina", substring(md5(concat_ws("|",
        lit(seed), col("__rep").cast("string"), col("__id"))), 1, 8)
        < col("__thex"))
      .groupBy("__seg", "__rep")
      .agg(sum(when(col("__ina"), 1L).otherwise(0L)).as("cab"),
        sum(when(col("__ina"), col("__vm")).otherwise(0L).cast(dec)).as("sab"))
    val judged = reps.join(broadcast(pivoted), "__seg")
      .withColumn("__ok", col("cab") > 0 && col("cab") < col("n"))
      .withColumn("__ext", col("__ok") &&
        abs(col("sab") * (col("n") - col("cab")).cast(dec) -
            (col("sa") + col("sb") - col("sab")) * col("cab").cast(dec)) *
          (col("ca").cast(dec) * col("cb").cast(dec)) >=
        abs(col("sa") * col("cb").cast(dec) - col("sb") * col("ca").cast(dec)) *
          (col("cab").cast(dec) * (col("n") - col("cab")).cast(dec)))
    judged.groupBy("__seg")
      .agg(first("ca").as("n_a"), first("cb").as("n_b"),
        first("sa").as("__sa"), first("sb").as("__sb"),
        sum(when(col("__ok"), 1L).otherwise(0L)).as("b_effective"),
        sum(when(col("__ext"), 1L).otherwise(0L)).as("n_extreme"))
      .select(col("__seg").as("segment"), col("n_a"), col("n_b"),
        expr("__sa div n_a - __sb div n_b").as("diff_micro"),
        col("b_effective"), col("n_extreme"),
        expr("(1 + n_extreme) * 1000000 div (1 + b_effective)")
          .as("p_micro"))
  }

  /** Cochran's Q test — the k-classifier generalization of [[mcnemar]]
    * (k = 2 reduces to it): do k binary classifiers have the SAME
    * success rate against the truth, accounting for the pairing on
    * shared subjects? With x_ij = 1 when classifier j is right on row
    * i, G_j = Σ_i x_ij, L_i = Σ_j x_ij, T = ΣΣ x:
    *
    * {{{ Q = (k−1)·(k·ΣG_j² − T²) / (k·T − ΣL_i²)  ~  χ²(k−1) }}}
    *
    * Exact integer throughout: indicators, row sums, column sums, and
    * the final `q_milli = 1000·num div den` all ride decimal(38,0)
    * (T² ≤ k²n² — safe past 10¹⁷ rows at k ≤ 10). Rows where any
    * classifier or the truth is NULL drop (complete-case, the test's
    * pairing requirement). Degenerate denominator (all rows uniform
    * across classifiers) emits NULL Q. `significant` compares q_milli
    * to the caller's χ²(k−1) critical value in milli (default 5991 =
    * χ²₂ at α 0.05, the k = 3 case).
    *
    * Output (one row): `(n, k, t_total, sum_g2, sum_l2, q_milli,
    * significant)`.
    *
    * 100 TB shape: ONE map-side-combined global aggregate (k+2
    * moments); one-row finish.
    */
  def cochransQ(
      df: DataFrame,
      truthCol: String,
      predCols: Seq[String],
      critMilli: Long = 5991L): DataFrame = {
    require(predCols.size >= 2, "cochransQ needs >= 2 classifiers")
    val k = predCols.size
    val dec = "decimal(38,0)"
    val base = df.filter(col(truthCol).isNotNull &&
      predCols.map(col(_).isNotNull).reduce(_ && _))
    val xs = predCols.zipWithIndex.map { case (p, j) =>
      when(col(p).cast("boolean") === col(truthCol).cast("boolean"), 1L)
        .otherwise(0L).as(s"__x$j")
    }
    val rows = base.select(xs: _*)
      .withColumn("__l", (0 until k).map(j => col(s"__x$j")).reduce(_ + _))
    val aggCols = Seq(
      count(lit(1)).as("n"),
      sum(col("__l").cast(dec)).as("__t"),
      sum((col("__l") * col("__l")).cast(dec)).as("__l2")) ++
      (0 until k).map(j => sum(col(s"__x$j").cast(dec)).as(s"__g$j"))
    val agged = rows.agg(aggCols.head, aggCols.tail: _*)
    val sumG2 = (0 until k)
      .map(j => s"__g$j * __g$j").mkString(" + ")
    agged
      .withColumn("__g2", expr(s"CAST($sumG2 AS $dec)"))
      .select(col("n"), lit(k.toLong).as("k"),
        col("__t").cast("long").as("t_total"),
        col("__g2").cast("long").as("sum_g2"),
        col("__l2").cast("long").as("sum_l2"),
        expr(s"""CASE WHEN $k * __t - __l2 > 0 THEN
            CAST(1000 * (${k - 1}) * ($k * __g2 - __t * __t)
              div ($k * __t - __l2) AS BIGINT) END""").as("q_milli"))
      .withColumn("significant",
        when(col("q_milli").isNull, lit(null).cast("boolean"))
          .otherwise(col("q_milli") >= critMilli))
  }

  /** Off-policy evaluation of a target policy from logged bandit data —
    * IPS (inverse propensity scoring) and SNIPS (self-normalized IPS),
    * the standard counterfactual "what would the new ranker/policy have
    * earned" estimators, plus the diagnostics that decide whether to
    * trust them (max importance weight, effective sample size).
    *
    * Per row: importance weight `w = ⌊p_target·10⁶ / p_logged⌋` (one
    * floor per row, micro units — documented quantization, identical in
    * any engine). Then, with r in micro:
    *
    *  - `ips_micro = Σr·w div (n·10⁶)` — unbiased under correct
    *    logging propensities, high variance when weights explode;
    *  - `snips_micro = Σr·w div Σw` — the self-normalized estimator,
    *    biased O(1/n) but variance-robust (the one people actually
    *    ship);
    *  - `max_w_micro` and `ess_milli = ⌊10³·(Σw)² / (n·Σw²)⌋` — an ESS
    *    share near 1000 means the policies overlap well; near 0 means a
    *    few rows carry the whole estimate.
    *
    * Rows with NULL or non-positive logged propensity are excluded
    * (they carry no counterfactual information); zero TARGET
    * probability keeps the row with w = 0 — the target policy never
    * takes that action, which is evidence, not noise. Integer division
    * truncates toward zero in BOTH engines (Spark `div` ↔ DuckDB `//`),
    * so signed rewards mirror exactly; weights themselves are
    * non-negative, where truncation IS floor.
    *
    * Overflow headroom (decimal(38,0) accumulators): w ≤ 10¹²
    * (p_target/p_logged ≤ 10⁶), so Σr·w and Σw² stay inside 10³⁸ for
    * n ≤ ~10⁷ rows at the extreme weight ceiling and n ≤ 10¹³ at
    * w ≤ 10⁶ — weight clipping (standard IPS practice) is the caller's
    * lever if both bounds bind at once. The ESS numerator (Σw)²·10³
    * would leave the ceiling EARLIER (Σw > ~3.2·10¹⁷), so ess_milli
    * switches to a rescaled exact-integer branch past that point — see
    * the inline note; no silent NULL at any n the accumulators admit.
    *
    * 100 TB shape: ONE map-side-combined global aggregate over four
    * decimal moments; the finish is arithmetic on one row.
    */
  def offPolicyValue(
      df: DataFrame,
      rewardCol: String,
      loggedPropMicroCol: String,
      targetPropMicroCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(loggedPropMicroCol).isNotNull &&
        col(loggedPropMicroCol) > 0L &&
        col(targetPropMicroCol).isNotNull && col(targetPropMicroCol) >= 0L &&
        col(rewardCol).isNotNull)
      .select(floor(col(rewardCol).cast("double") * 1e6).cast("long").as("__rm"),
        expr(s"`$targetPropMicroCol` * 1000000 div `$loggedPropMicroCol`")
          .as("__w"))
    base.agg(
        count(lit(1)).as("n"),
        sum(col("__w").cast(dec)).as("__sw"),
        sum((col("__rm").cast(dec) * col("__w").cast(dec))).as("__srw"),
        sum((col("__w").cast(dec) * col("__w").cast(dec))).as("__sww"),
        max("__w").as("max_w_micro"))
      .select(col("n"),
        expr(s"CAST(__srw div (CAST(n AS $dec) * 1000000) AS BIGINT)")
          .as("ips_micro"),
        expr(s"CAST(CASE WHEN __sw > 0 THEN __srw div __sw END AS BIGINT)")
          .as("snips_micro"),
        col("max_w_micro"),
        // ess_milli = ⌊10³·(Σw)²/(n·Σw²)⌋ — the exact form's (Σw)²·10³
        // numerator leaves decimal(38,0) once Σw > ~3.2·10¹⁷ (n ≈
        // 3·10¹¹ rows at w ≤ 10⁶), well before the accumulator bounds,
        // so past 3·10¹⁷ the arithmetic drops to a rescaled branch:
        // (Σw div 10⁶)² / ((n·Σw²) div 10¹⁵). There Σw² ≥ (Σw)²/n
        // keeps the rescaled denominator ≥ 9·10¹⁹ (never 0) and both
        // truncations are < 10⁻¹¹ relative — sub-milli on the 0..1000
        // scale — and the oracle replays the identical CASE, so parity
        // is exact either way.
        expr(s"""CAST(CASE WHEN __sww > 0 THEN
            CASE WHEN __sw <= 300000000000000000 THEN
              (__sw * __sw * 1000) div (CAST(n AS $dec) * __sww)
            ELSE ((__sw div 1000000) * (__sw div 1000000)) div
              ((CAST(n AS $dec) * __sww) div 1000000000000000) END
          END AS BIGINT)""").as("ess_milli"))
  }

  /** Benjamini–Hochberg step-up FDR control over a table of hypotheses
    * with micro-quantized p-values — the multiple-comparisons gate every
    * many-segment experiment readout needs (m tests at α each yields
    * ~m·α false positives; BH bounds the FALSE DISCOVERY RATE at α
    * instead). Exact integer throughout: hypothesis i (1-based rank in
    * (p, id) order) passes the step-up scan iff `p_i·m ≤ i·α` (the
    * integer cross-multiplied form of `p_i ≤ (i/m)·α`), and everything
    * at or below the LARGEST passing rank is significant — including
    * p-values above their own threshold, the step-up property that
    * distinguishes BH from naive per-test thresholds.
    *
    * Appends to every input row: `(rank, m, bh_crit_micro = ⌊i·α/m⌋,
    * significant)` — input columns pass through so the per-test
    * statistics stay attached to the verdicts.
    *
    * Overflow headroom: `p_i·m` and `i·α` stay in int64 up to
    * m ≈ 9.2·10¹² hypotheses.
    *
    * 100 TB shape: the hypothesis table is model-sized (one row per
    * test), but nothing here assumes it: rank is a range-exchange
    * [[Ranks.globalRank]] (no single-task global window), m and the
    * winning rank k* are one-row broadcasts.
    */
  def bhFdr(
      df: DataFrame,
      idCol: String,
      pMicroCol: String,
      alphaMicro: Long): DataFrame = {
    require(alphaMicro > 0 && alphaMicro < 1000000L,
      s"alphaMicro $alphaMicro must lie in (0, 1e6)")
    val base = df.filter(col(idCol).isNotNull && col(pMicroCol).isNotNull)
    val ranked = Ranks.globalRank(
      base, Seq(col(pMicroCol).asc, col(idCol).asc), "rank")
    val m = ranked.agg(count(lit(1)).as("m"))
    val withM = ranked.crossJoin(broadcast(m))
      .withColumn("__pass",
        col(pMicroCol) * col("m") <= col("rank") * lit(alphaMicro))
    val kstar = withM
      .agg(coalesce(max(when(col("__pass"), col("rank"))), lit(0L)).as("__k"))
    withM.crossJoin(broadcast(kstar))
      .withColumn("bh_crit_micro", expr(s"rank * $alphaMicro div m"))
      .withColumn("significant", col("rank") <= col("__k"))
      .drop("__pass", "__k")
  }


  /** Fleiss' κ — inter-rater agreement beyond chance for ANY fixed
    * number r of raters per item (the multi-annotator generalization of
    * [[cohensKappa]]): the label-quality gate for crowd/ensemble
    * annotation pipelines, where each item carries r categorical votes
    * and "agreement" must be discounted by how often raters would
    * collide by chance.
    *
    * Items are kept STRUCTURALLY only when they carry exactly r votes
    * after (item, rater) dedup (the q255 precondition style — the
    * oracle replays it as a HAVING): Fleiss' formula is undefined for
    * ragged panels. With n kept items, N = n·r total votes,
    * S1 = Σ_i Σ_c n_ic² and C_c = Σ_i n_ic:
    *
    * {{{ P̄  = (S1 − N) / (n·r·(r−1))        (observed agreement)
    *     P̄e = Σ_c C_c² / N²                 (chance agreement)
    *     κ  = (A·N² − B·D) / (D·(N² − B))    exact integer form,
    *          A = S1 − N,  B = Σ_c C_c²,  D = n·r·(r−1) }}}
    *
    * everything rides decimal(38,0); κ/P̄/P̄e floor once to micro with
    * sign-split division (κ < 0 = worse than chance). NULL κ when
    * N² = B (every vote one category — chance agreement is total).
    *
    * Overflow headroom: A·N² ≤ n³·r⁴ < 10³⁸ — n ≤ ~7·10¹¹ items at
    * r ≤ 5, far past any annotation panel.
    *
    * Output (one row): `(n_items, n_raters, n_categories, p_bar_micro,
    * p_e_micro, kappa_micro)`.
    *
    * 100 TB shape: one (item, rater) dedup + per-item vote-count filter
    * (both map-side combinable), one groupBy(item, label) to the cell
    * table, then two model-sized rollups (per-item, per-category) and a
    * one-row finish.
    */
  def fleissKappa(
      df: DataFrame,
      itemCol: String,
      raterCol: String,
      labelCol: String,
      r: Int): DataFrame = {
    require(r >= 2, s"fleissKappa needs r >= 2 raters per item, got $r")
    val dec = "decimal(38,0)"
    val votes = df
      .filter(col(itemCol).isNotNull && col(raterCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(col(itemCol).cast("string").as("__i"),
        col(raterCol).cast("string").as("__r"),
        col(labelCol).cast("string").as("__l"))
      // one vote per (item, rater): conflicting duplicates resolve to the
      // lexicographically smallest label (deterministic, oracle-mirrored)
      .groupBy("__i", "__r").agg(min("__l").as("__l"))
    val kept = votes.groupBy("__i").agg(count(lit(1)).as("__nv"))
      .filter(col("__nv") === r.toLong).select("__i")
    val cells = votes.join(kept, "__i")
      .groupBy("__i", "__l").agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val itemAgg = cells.groupBy("__i")
      .agg(sum(expr(s"cast(__c as $dec) * __c")).as("__s2"))
      .agg(count(lit(1)).as("n_items"), sum("__s2").as("__s1"))
    val catAgg = cells.groupBy("__l").agg(sum("__c").as("__cc"))
      .agg(count(lit(1)).as("n_categories"),
        sum(expr(s"cast(__cc as $dec) * __cc")).as("__b"))
    itemAgg.crossJoin(broadcast(catAgg))
      .select(col("n_items"), lit(r.toLong).as("n_raters"),
        col("n_categories"), col("__s1"), col("__b"),
        expr(s"cast(n_items as $dec) * $r").as("__nn"),
        expr(s"cast(n_items as $dec) * $r * ${r - 1}").as("__d"))
      .select(col("n_items"), col("n_raters"), col("n_categories"),
        expr("cast(case when n_items > 0 then " +
          "(__s1 - __nn) * 1000000 div __d end as long)").as("p_bar_micro"),
        expr("cast(case when n_items > 0 then " +
          "__b * 1000000 div (__nn * __nn) end as long)").as("p_e_micro"),
        expr("""cast(case when __nn * __nn - __b > 0 then
             ((__s1 - __nn) * (__nn * __nn) - __b * __d) * 1000000
               div (__d * (__nn * __nn - __b))
             end as long)""").as("kappa_micro"))
  }

  /** Chi-square test of independence + Cramér's V for two categorical
    * columns — ARE two metadata facets associated (language × source,
    * label × annotator cohort), and how strongly on the comparable
    * 0..1 scale V gives (χ² alone grows with n):
    *
    * {{{ χ² = n·(Σ_cells o²/(r·c) − 1),   V = √(χ²/(n·(min(R,C)−1))) }}}
    *
    * The o²/(r·c) form needs only OBSERVED cells (empty cells contribute
    * zero), so the cell table — capped by a hard `maxCells` require, the
    * jonckheereTerpstra pattern — is the only pair-shaped object.
    * Exactness: each cell term floors once as `10⁶·n·o² div (r·c)`
    * (truncation mirrored by the oracle), χ²_micro subtracts 10⁶·n
    * exactly; V is ONE fixed double tree of the integer χ²_micro
    * (runtime sqrt, q220 contract) floored to milli.
    *
    * Overflow: 10⁶·n·o² ≤ 10⁶·n³ < 10³⁸ for n ≤ ~3·10¹⁰ rows
    * (decimal(38,0)); beyond that the sums NULL loudly, never wrap.
    *
    * Output (one row): `(n, n_rows_cat, n_cols_cat, n_cells,
    * chi2_micro, v_milli)`; NULL V when min(R,C) < 2.
    *
    * 100 TB shape: one map-side-combined groupBy(a, b) to the capped
    * cell table; marginals and the statistic are cell-table rollups.
    */
  def cramersV(
      df: DataFrame,
      aCol: String,
      bCol: String,
      maxCells: Long = 100000L): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__o"))
      .localCheckpoint()
    val nCells = cells.count()
    require(nCells <= maxCells,
      s"cramersV: $nCells contingency cells > maxCells $maxCells — bin " +
        "the facets coarser or raise the cap deliberately")
    val ra = cells.groupBy("__a").agg(sum("__o").as("__ra"))
    val cb = cells.groupBy("__b").agg(sum("__o").as("__cb"))
    val tot = cells.agg(sum("__o").as("n"),
      countDistinct("__a").as("n_rows_cat"),
      countDistinct("__b").as("n_cols_cat"))
    cells.join(broadcast(ra), "__a").join(broadcast(cb), "__b")
      .crossJoin(broadcast(tot))
      .agg(first("n").as("n"), first("n_rows_cat").as("n_rows_cat"),
        first("n_cols_cat").as("n_cols_cat"), count(lit(1)).as("n_cells"),
        sum(expr(s"cast(__o as $dec) * __o * 1000000 * n " +
          s"div (cast(__ra as $dec) * __cb)")).as("__t"))
      .select(col("n"), col("n_rows_cat"), col("n_cols_cat"),
        col("n_cells"),
        expr(s"cast(__t - cast(n as $dec) * 1000000 as long)")
          .as("chi2_micro"),
        expr("""case when least(n_rows_cat, n_cols_cat) >= 2 and n > 0 then
             cast(floor(1000.0 * sqrt(
               (cast(__t - cast(n as decimal(38,0)) * 1000000 as double)
                  / 1e6)
               / (cast(n as double) * (least(n_rows_cat, n_cols_cat) - 1))))
             as long) end""").as("v_milli"))
  }

  /** Kendall's W — concordance among m rankers over n shared items: do
    * the judges (LLM evaluators, annotator cohorts, ranking models)
    * agree on an ORDERING, on the absolute 0..1 scale where 1 is
    * unanimity and 0 is no association? The m-ranker generalization of
    * rank correlation, and the ensemble-of-judges health check that
    * [[fleissKappa]] (categorical votes) cannot give for ordinal
    * scores.
    *
    * One score per (rater, item) after dedup (MIN, deterministic);
    * items kept STRUCTURALLY only when ALL m raters scored them (m =
    * global distinct rater count). Within-rater tie-midranks are kept
    * integer by DOUBLING off a (rater, score) count and a RATER-KEYED
    * running sum. With R2_i = Σ_raters r2, A = Σ R2_i², and the tie
    * term T = Σ_raters Σ_groups (t³ − t), the tie-corrected W reduces
    * to pure integers:
    *
    * {{{ W = 3·(A − m²·n·(n+1)²) / (m²·n·(n²−1) − m·T) }}}
    *
    * `w_milli` floors once (sign-split: ties-only degenerate
    * denominators NULL; W itself is ≥ 0 up to floor jitter, but the
    * division is sign-split anyway for exact parity). Output (one
    * row): `(n_items, m_raters, tie_sum, w_milli)`; tie_sum rides
    * int64 (≤ m·n³ — document: n ≤ ~10⁵ items at m ≤ 10³ raters).
    *
    * 100 TB shape: one (rater, item) dedup groupBy, one per-item
    * completeness filter join, one (rater, score) count + rater-keyed
    * window, then item-sized and one-row rollups.
    */
  def kendallsW(
      df: DataFrame,
      raterCol: String,
      itemCol: String,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val obs = df
      .filter(col(raterCol).isNotNull && col(itemCol).isNotNull &&
        col(scoreCol).isNotNull)
      .select(col(raterCol).cast("string").as("__r"),
        col(itemCol).cast("string").as("__i"),
        col(scoreCol).cast("double").as("__v"))
      .groupBy("__r", "__i").agg(min("__v").as("__v"))
      .localCheckpoint()
    val m = obs.select("__r").distinct().count()
    require(m >= 2, s"kendallsW needs >= 2 raters, got $m")
    val keptItems = obs.groupBy("__i").agg(count(lit(1)).as("__c"))
      .filter(col("__c") === m).select("__i")
    val kept = obs.join(keptItems, "__i").localCheckpoint()
    val cnt = kept.groupBy("__r", "__v").agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy("__r").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranks = cnt.withColumn("__cum", sum("__c").over(w))
      .select(col("__r"), col("__v"),
        (lit(2L) * col("__cum") - col("__c") + 1L).as("__r2"))
    val ties = cnt
      .agg(sum(expr(s"cast(__c as $dec) * __c * __c - __c")).as("__t"))
      .select(coalesce(col("__t"), lit(0).cast(dec)).as("__t"))
    val ri = kept.join(ranks, Seq("__r", "__v"))
      .groupBy("__i").agg(sum(col("__r2").cast(dec)).as("__r2i"))
    ri.agg(count(lit(1)).as("n_items"),
        sum(expr("__r2i * __r2i")).as("__a"))
      .crossJoin(broadcast(ties))
      .select(col("n_items"), lit(m).as("m_raters"),
        expr("cast(__t as long)").as("tie_sum"),
        expr(s"""cast(case when
             cast($m as $dec) * $m * n_items *
               (cast(n_items as $dec) * n_items - 1) - $m * __t > 0
           then case when
               __a - cast($m as $dec) * $m * n_items *
                 (cast(n_items as $dec) + 1) * (n_items + 1) >= 0
             then 3000 * (__a - cast($m as $dec) * $m * n_items *
                 (cast(n_items as $dec) + 1) * (n_items + 1))
               div (cast($m as $dec) * $m * n_items *
                 (cast(n_items as $dec) * n_items - 1) - $m * __t)
             else -(3000 * (cast($m as $dec) * $m * n_items *
                 (cast(n_items as $dec) + 1) * (n_items + 1) - __a)
               div (cast($m as $dec) * $m * n_items *
                 (cast(n_items as $dec) * n_items - 1) - $m * __t)) end
           end as long)""").as("w_milli"))
  }

  /** Murphy decomposition of the Brier score — WHY a probability score
    * is bad: `Brier ≈ REL − RES + UNC` over [[calibration]]'s bins,
    * where reliability (REL) is the miscalibration penalty a
    * recalibration could remove, resolution (RES) is the discrimination
    * the score actually has, and uncertainty (UNC = ȳ(1−ȳ)) is the
    * floor no model beats. [[calibrationError]] says HOW miscalibrated;
    * this says whether fixing it is worth anything (high REL + high RES
    * → recalibrate; low RES → the score is near-useless regardless).
    *
    * Exact integer contract (N rows, P positives, per bin b: n_b rows,
    * pos_b positives, ssm_b = Σ score_micro):
    *
    *  - `reliability_micro = (Σ_b ⌊(ssm_b − 10⁶·pos_b)² / n_b⌋)
    *    div (N·10⁶)` — per-bin floor mirrored by the oracle;
    *  - `resolution_micro = (10⁶ · Σ_b ⌊(pos_b·N − n_b·P)² / (n_b·N)⌋)
    *    div N²` — same discipline;
    *  - `uncertainty_micro = 10⁶·P·(N−P) div N²` — exact.
    *
    * The identity holds up to the documented per-row/per-bin flooring
    * (micro-scale slack), so Brier is emitted alongside, not asserted.
    *
    * Overflow: the resolution numerator (pos·N − n·P)² ≤ N⁴ is divided
    * by n_b·N per bin BEFORE the 10⁶ scale, so terms stay under
    * 10⁶·N³ < 10³⁸ for N ≤ ~3·10¹⁰ rows (decimal(38,0); NULL loudly
    * beyond, never wrapped).
    *
    * Output (one row): `(n, n_bins_used, brier_micro, reliability_micro,
    * resolution_micro, uncertainty_micro)`.
    *
    * 100 TB shape: [[calibration]]'s one map-side-combined groupBy(bin)
    * + a ≤bins-row rollup.
    */
  def brierDecomposition(
      df: DataFrame,
      labelCol: String,
      scoreCol: String,
      bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 10000, s"bins $bins out of [2,10000]")
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .select(
        least(greatest(floor(col(scoreCol) * bins), lit(0L)),
          lit((bins - 1).toLong)).as("bin"),
        when(col(labelCol) === true, 1L).otherwise(0L).as("y"),
        floor(col(scoreCol) * 1e6).cast("long").as("sm"),
        expr(s"""cast(floor(1000000.0 *
          (cast(`$scoreCol` as double) - (case when `$labelCol` then 1.0d else 0.0d end)) *
          (cast(`$scoreCol` as double) - (case when `$labelCol` then 1.0d else 0.0d end)))
          as long)""").as("bm"))
    val perBin = base.groupBy("bin").agg(
      count(lit(1)).as("nb"), sum("y").as("pos"),
      sum(col("sm").cast(dec)).as("ssm"), sum("bm").as("sbm"))
      .localCheckpoint()
    val tot = perBin.agg(sum("nb").as("n"), sum("pos").as("p"),
      sum("sbm").as("sb"))
    perBin.crossJoin(broadcast(tot))
      .agg(first("n").as("n"), count(lit(1)).as("n_bins_used"),
        first("p").as("__p"), first("sb").as("__sb"),
        sum(expr(s"""(ssm - cast(pos as $dec) * 1000000) *
          (ssm - cast(pos as $dec) * 1000000) div nb""")).as("__rel"),
        sum(expr(s"""(cast(pos as $dec) * n - cast(nb as $dec) * p) *
          (cast(pos as $dec) * n - cast(nb as $dec) * p)
          div (cast(nb as $dec) * n)""")).as("__res"))
      .select(col("n"), col("n_bins_used"),
        expr("cast(__sb div n as long)").as("brier_micro"),
        expr(s"cast(__rel div (cast(n as $dec) * 1000000) as long)")
          .as("reliability_micro"),
        expr(s"""cast(1000000 * __res div (cast(n as $dec) * n) as long)""")
          .as("resolution_micro"),
        expr(s"""cast(1000000 * cast(__p as $dec) * (n - __p)
          div (cast(n as $dec) * n) as long)""").as("uncertainty_micro"))
  }

  /** Hellinger distance (via the Bhattacharyya coefficient) between the
    * LABEL DISTRIBUTIONS of two groups — how far apart two corpus
    * slices are categorically (language mix of two sources, topic mix
    * of two snapshots), on the proper-metric 0..1 scale that KL lacks
    * (symmetric, bounded, defined at zero cells):
    *
    * {{{ BC = Σ_label √(p_label · q_label),   H = √(1 − BC) }}}
    *
    * Exactness: per label the term `⌊10⁶·√(c₁·c₂/(n₁·n₂))⌋` is ONE
    * fixed double tree of exact integers (q220 runtime-sqrt contract,
    * mirrored token-for-token); labels missing from either side
    * contribute exactly 0. Per-term flooring only LOWERS the sum, and
    * BC ≤ 10⁶ holds by Cauchy–Schwarz, so `h2_micro = 10⁶ − bc_micro`
    * never goes negative; `hellinger_milli = ⌊1000·√(h2/10⁶)⌋` is one
    * more mirrored tree.
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, n_labels, bc_micro,
    * h2_micro, hellinger_milli)`; requires exactly 2 groups (the
    * [[graft.ops.Features.ksTestTwoSample]] precondition — KS for
    * numeric drift, this for categorical drift).
    *
    * 100 TB shape: one map-side-combined groupBy(label) with two
    * conditional counts; the finish is a label-table rollup. The driver
    * sees the 2-row group table only.
    */
  def hellingerDistance(
      df: DataFrame,
      groupCol: String,
      labelCol: String): DataFrame = {
    val base = df
      .filter(col(groupCol).isNotNull && col(labelCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(labelCol).cast("string").as("__l"))
      .localCheckpoint()
    val g = base.groupBy("__g").agg(count(lit(1)).as("ng"))
      .orderBy("__g").collect()
    require(g.length == 2,
      s"hellingerDistance: exactly 2 groups required, got ${g.length}")
    val (ga, gb) = (g(0).getString(0), g(1).getString(0))
    val (na, nb) = (g(0).getLong(1), g(1).getLong(1))
    base.groupBy("__l")
      .agg(sum(when(col("__g") === ga, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__g") === gb, 1L).otherwise(0L)).as("__cb"))
      .agg(count(lit(1)).as("n_labels"),
        sum(expr(s"""cast(floor(1000000.0 * sqrt(
          cast(__ca as double) * __cb
          / (cast($na as double) * $nb))) as long)""")).as("bc_micro"))
      .select(lit(ga).as("grp_a"), lit(gb).as("grp_b"),
        lit(na).as("n_a"), lit(nb).as("n_b"), col("n_labels"),
        coalesce(col("bc_micro"), lit(0L)).as("bc_micro"))
      .withColumn("h2_micro", lit(1000000L) - col("bc_micro"))
      .withColumn("hellinger_milli", expr(
        "cast(floor(1000.0 * sqrt(cast(h2_micro as double) / 1e6)) as long)"))
  }

  /** Cronbach's alpha — internal consistency of a k-item instrument
    * (a rubric's k quality dimensions, a judge panel's k prompts): do
    * the items move together enough to justify summing them into one
    * score? The reliability gate BEFORE a composite label ships;
    * [[fleissKappa]] asks the categorical twin, Features.linCcc the
    * two-rater continuous one.
    *
    *   {{{ α = k/(k−1) · (1 − Σ_j σ²_j / σ²_total) }}}
    *
    * Mechanics: one value per (unit, item) — duplicates resolve to the
    * MINIMUM (deterministic, oracle-mirrored); only units with a
    * COMPLETE item set (exactly k items) enter (the fleissKappa
    * complete-case rule, counted in `n_dropped`). The item universe is
    * PINNED: pass the k labels via `items` (ratings outside the set
    * are dropped first), or leave it empty and the op requires the
    * observed distinct-item count to be exactly k — without the pin,
    * units covering different k-subsets of a larger label space would
    * all look "complete" while the ΣD_j/D_tot algebra silently
    * decoheres. With micro-floored
    * values, every variance rides its n²-scaled integer form
    * `D = n·Σx² − (Σx)²` (exact decimal), the common n² cancels, and
    *
    *   {{{ alpha_micro = ⌊10⁶·k·(D_tot − Σ_j D_j) / ((k−1)·D_tot)⌋ }}}
    *
    * is one sign-split floor division (α can be negative — items in
    * opposition). NULL when D_tot = 0 (every unit's total identical)
    * or fewer than 2 complete units.
    *
    * Output (one row): `(n_units, n_dropped, n_items, alpha_micro)`.
    *
    * Overflow: |Σx per unit| ≤ k·10⁸ at |v| ≤ 100, D_tot ≤ n²k²10¹⁶ —
    * 10⁶·k·D_tot inside decimal(38,0) to n·k ≈ 10⁷·√k; item moments
    * bind later. Loud decimal NULL past the bound, never a wrap.
    *
    * 100 TB shape: the (unit, item) dedup groupBy collapses the log
    * map-side; item moments are a k-row groupBy, unit totals a
    * units-sized groupBy that immediately rolls up to one row — three
    * collapsing shuffles, nothing model-sized at the driver.
    */
  def cronbachAlpha(
      df: DataFrame,
      unitCol: String,
      itemCol: String,
      valueCol: String,
      k: Int,
      items: Seq[String] = Nil): DataFrame = {
    require(k >= 2, s"cronbachAlpha needs k >= 2 items, got $k")
    require(items.isEmpty || items.distinct.length == k,
      s"cronbachAlpha: explicit item set must carry exactly k=$k " +
        s"distinct labels, got ${items.distinct.length}")
    val dec = "decimal(38,0)"
    val raw = df
      .filter(col(unitCol).isNotNull && col(itemCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(unitCol).cast("string").as("__u"),
        col(itemCol).cast("string").as("__i"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__v"))
    val scoped =
      if (items.nonEmpty) raw.filter(col("__i").isin(items: _*))
      else raw
    val votes = scoped
      .groupBy("__u", "__i").agg(min("__v").as("__v"))
      .localCheckpoint()
    if (items.isEmpty) {
      // "exactly k ratings" only proves a COMPLETE unit when the item
      // universe itself has exactly k labels; with extras, units
      // covering different k-subsets would all pass and the item
      // variances would no longer line up with the unit totals.
      val nItems = votes.select("__i").distinct().count()
      require(nItems == k.toLong,
        s"cronbachAlpha: observed item universe has $nItems distinct " +
          s"labels but k=$k — pass the k item labels via `items` to " +
          "pin the universe (completeness is judged against it)")
    }
    val units = votes.groupBy("__u").agg(count(lit(1)).as("__ni"))
      .localCheckpoint()
    val kept = units.filter(col("__ni") === k.toLong).select("__u")
    val nDropped = units.filter(col("__ni") =!= k.toLong).count()
    val complete = votes.join(kept, "__u").localCheckpoint()
    val itemAgg = complete.groupBy("__i")
      .agg(count(lit(1)).as("nj"),
        sum(col("__v").cast(dec)).as("sj"),
        sum(expr(s"cast(__v as $dec) * __v")).as("qj"))
      .agg(sum(expr(s"nj * qj - sj * sj")).as("__dsum"))
    val totAgg = complete.groupBy("__u")
      .agg(sum(col("__v").cast(dec)).as("tu"))
      .agg(count(lit(1)).as("n_units"),
        sum("tu").as("st"), sum(expr("tu * tu")).as("qt"))
    totAgg.crossJoin(broadcast(itemAgg))
      .withColumn("__dtot",
        expr(s"cast(n_units as $dec) * qt - st * st"))
      .select(col("n_units"), lit(nDropped).as("n_dropped"),
        lit(k.toLong).as("n_items"),
        expr(s"""cast(case when n_units >= 2 and __dtot > 0 then
            case when __dtot - __dsum >= 0 then
              ${k}L * (__dtot - __dsum) * 1000000
                div (${k - 1}L * __dtot)
            else -(${k}L * (__dsum - __dtot) * 1000000
                div (${k - 1}L * __dtot)) end
          end as long)""").as("alpha_micro"))
  }

  /** Bowker's test of symmetry — the k×k generalization of [[mcnemar]]:
    * when the same items carry an OLD label and a NEW label (model
    * versions, annotator cohorts, pre/post taxonomy), is the
    * disagreement DIRECTIONAL? Symmetric confusion means relabeling
    * noise; an asymmetric cell pair means systematic drift from one
    * class into another. Statistic:
    *
    *   {{{ χ² = Σ_{i<j, n_ij+n_ji>0} (n_ij − n_ji)² / (n_ij + n_ji) }}}
    *
    * with df = the number of contributing pairs (reported — the
    * reference distribution is χ²_df, critical value owned by the
    * caller since df varies with the observed table).
    *
    * Exactness: the confusion collapses to a cell table (hard
    * `maxCells` require, the [[cramersV]] pattern); each pair term
    * floors ONCE as `10⁶·(n_ij−n_ji)² div (n_ij+n_ji)` — pure integer,
    * oracle-replayed. Off-diagonal mass rides along (`n_offdiag`) so a
    * tiny χ² over a huge agreeing table reads as agreement, not proof
    * of symmetry.
    *
    * Output (one row): `(n, n_categories, df_pairs, n_offdiag,
    * chi2_micro)`.
    *
    * Overflow: 10⁶·(n_ij−n_ji)² ≤ 10⁶·n² — exact inside decimal(38,0)
    * to n ≈ 3·10¹⁵ rows.
    *
    * 100 TB shape: one map-side-combined groupBy(a, b) to ≤ maxCells
    * rows; the i<j pairing is a self-join of that capped cell table on
    * the swapped key — cell-table-local, never touches the corpus.
    */
  def bowkerSymmetry(
      df: DataFrame,
      aCol: String,
      bCol: String,
      maxCells: Long = 100000L): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .groupBy("__a", "__b").agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val nCells = cells.count()
    require(nCells <= maxCells,
      s"bowkerSymmetry: $nCells observed cells exceeds maxCells=$maxCells" +
        " — bucket the label columns first")
    val totals = cells.agg(sum("__c").as("n"),
      sum(when(col("__a") =!= col("__b"), col("__c")).otherwise(0L))
        .as("n_offdiag"))
    val nCats = cells.select(explode(array(col("__a"), col("__b"))))
      .distinct().count()
    val swapped = cells.select(col("__b").as("__a"), col("__a").as("__b"),
      col("__c").as("__cr"))
    val pairs = cells.join(swapped, Seq("__a", "__b"), "full_outer")
      .filter(col("__a") < col("__b"))
      .select(coalesce(col("__c"), lit(0L)).as("nij"),
        coalesce(col("__cr"), lit(0L)).as("nji"))
      .filter(col("nij") + col("nji") > 0)
    val stat = pairs.agg(count(lit(1)).as("df_pairs"),
      sum(expr(s"""cast(nij - nji as $dec) * (nij - nji) * 1000000
          div (nij + nji)""")).as("chi2_micro"))
    totals.crossJoin(broadcast(stat))
      .select(col("n"), lit(nCats).as("n_categories"),
        coalesce(col("df_pairs"), lit(0L)).as("df_pairs"),
        col("n_offdiag"),
        coalesce(col("chi2_micro"), lit(0L)).cast("long").as("chi2_micro"))
  }

  /** Krippendorff's alpha (nominal) — inter-rater reliability that
    * [[fleissKappa]] cannot give you on REAL annotation logs: Fleiss
    * demands exactly r raters per item (incomplete items drop); alpha
    * takes whatever arrived — 2 ratings here, 7 there — and weights
    * each unit's disagreement by its own pair count. The default
    * reliability statistic for crowdsourced label audits.
    *
    * Per kept unit u (≥ 2 ratings after (unit, rater) min-dedup) with
    * m_u ratings and m_uc per label, the disagreeing ordered pairs are
    * `d_u = m_u(m_u−1) − Σ_c m_uc(m_uc−1)`, and with label totals n_c
    * over kept units (n = Σ n_c):
    *
    *   {{{ α = 1 − (n−1) · Σ_u d_u/(m_u−1) / (n² − Σ_c n_c²) }}}
    *
    * Exactness: each unit's coincidence term floors ONCE as
    * `⌊10⁶·d_u/(m_u−1)⌋` (nonneg, truncation = floor, oracle-replayed;
    * underestimates Σ by < n_units micro); the final
    * `alpha_micro = 10⁶ − (n−1)·S div (n²−Σn_c²)` is one more integer
    * division (α < 0 — worse than chance — survives as a negative
    * result of the subtraction, no signed division). NULL when every
    * kept rating is one label (D_e = 0) or nothing is kept.
    *
    * Output (one row): `(n_units, n_dropped, n_values, n_labels,
    * alpha_micro)` — n_values = total kept ratings.
    *
    * Overflow: (n−1)·S ≤ 10⁶·n² inside decimal(38,0) to n ≈ 10¹⁶
    * ratings.
    *
    * 100 TB shape: (unit, rater) dedup groupBy → (unit, label) cell
    * groupBy → unit-keyed rollup + label-keyed rollup, one one-row
    * broadcast join — every table after the first collapse is
    * units/labels-sized.
    */
  def krippendorffAlpha(
      df: DataFrame,
      unitCol: String,
      raterCol: String,
      labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val votes = df
      .filter(col(unitCol).isNotNull && col(raterCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(col(unitCol).cast("string").as("__u"),
        col(raterCol).cast("string").as("__r"),
        col(labelCol).cast("string").as("__l"))
      .groupBy("__u", "__r").agg(min("__l").as("__l"))
    val cells = votes.groupBy("__u", "__l").agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val units = cells.groupBy("__u")
      .agg(sum("__c").as("__m"),
        sum(expr(s"cast(__c as $dec) * (__c - 1)")).as("__agree"))
      .localCheckpoint()
    val nDropped = units.filter(col("__m") < 2).count()
    val kept = units.filter(col("__m") >= 2)
    val unitAgg = kept.agg(
      count(lit(1)).as("n_units"),
      sum(expr(s"""(cast(__m as $dec) * (__m - 1) - __agree) * 1000000
          div (__m - 1)""")).as("__s"))
    val labelAgg = cells
      .join(kept.select("__u"), "__u")
      .groupBy("__l").agg(sum("__c").as("__nc"))
      .agg(count(lit(1)).as("n_labels"),
        sum(col("__nc").cast(dec)).as("__n"),
        sum(expr(s"cast(__nc as $dec) * __nc")).as("__nc2"))
    unitAgg.crossJoin(broadcast(labelAgg))
      .select(col("n_units"), lit(nDropped).as("n_dropped"),
        expr("cast(__n as long)").as("n_values"), col("n_labels"),
        expr("""cast(case when n_units > 0 and __n * __n - __nc2 > 0 then
            1000000 - (__n - 1) * __s div (__n * __n - __nc2)
          end as long)""").as("alpha_micro"))
  }
}
