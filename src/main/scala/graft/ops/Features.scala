package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Encodings that turn raw columns into model features — the last mile
  * between a curated table and a training matrix.
  */
object Features {

  /** Smoothed target (mean) encoding of a categorical column: per
    * category, `enc = (Σ target + m · prior) / (n + m)` with the global
    * mean as prior — the m-estimate that shrinks rare categories toward
    * the prior instead of memorizing them (m ≈ "pseudo-observations of
    * the prior"). Returns the ENCODING TABLE `(category, n, sum_micro,
    * prior_micro, enc_micro)` for the caller to join/broadcast back —
    * materializing the table (not a row-wise column) is what lets
    * serving reuse it without the corpus.
    *
    * Exact integers throughout: targets are per-row micro-floored before
    * summing, the prior is one integer divide of global sums, and the
    * encoding is one integer divide per category — engine- and
    * partition-independent. NULL categories form their own encoding row
    * (labelled `__NULL__`) since an unseen-at-serving NULL still needs a
    * value; NULL targets are excluded.
    *
    * For leakage-sensitive training use the k-fold variant of the same
    * table (build per fold on the complement); this function is the
    * serving/full-fit table.
    *
    * 100 TB shape: ONE map-side-combined groupBy(category) plus a
    * one-row global aggregate broadcast in — output is
    * cardinality-sized, the corpus is read once.
    */
  def targetEncode(
      df: DataFrame,
      catCol: String,
      targetCol: String,
      m: Long): DataFrame = {
    require(m >= 0, s"smoothing m $m must be >= 0")
    val base = df.filter(col(targetCol).isNotNull)
      .select(coalesce(col(catCol).cast("string"), lit("__NULL__")).as("category"),
        floor(col(targetCol) * 1e6).cast("long").as("tm"))
    val perCat = base.groupBy("category")
      .agg(count(lit(1)).as("n"), sum("tm").as("sum_micro"))
    val prior = perCat.agg(
        expr("sum(sum_micro) div sum(n)").as("prior_micro"))
    perCat.crossJoin(broadcast(prior))
      .withColumn("enc_micro",
        expr(s"(sum_micro + ${m}L * prior_micro) div (n + ${m}L)"))
  }

  /** Leave-one-out target encoding — the LEAKAGE-SAFE row-level variant
    * of [[targetEncode]]: each row's encoding is built from every OTHER
    * row of its category, `enc_i = (Σ_cat t − t_i + m·prior)/(n_cat − 1
    * + m)`, so a row never sees its own label (the classic
    * memorize-the-target leak that makes full-fit encodings look great
    * in training and collapse in production; reference's feature views
    * have no answer to this — it's the train-time companion the
    * serving-side [[targetEncode]] table needs). Smoothing `m` shrinks
    * rare categories toward the global prior; singleton categories with
    * `m = 0` have NO complement and encode NULL (loud, not prior-pretend).
    *
    * Exact integers: per-row micro-floored targets, category sums in
    * int64 (|Σt_micro| per category < 2⁶³, the repo's 10¹³-row micro
    * bound), one sign-split integer divide per row (div truncates
    * toward zero in Spark, // floors in DuckDB; they agree on the
    * non-negative operands the split produces).
    *
    * Output: one row per input row — `(id, category, n, enc_loo_micro)`
    * with `n` the category count (including the row itself).
    *
    * 100 TB shape: ONE map-side-combined groupBy(category) to a
    * cardinality-sized table, one broadcast prior row, and one
    * category-keyed join back to the corpus (AQE broadcasts it when the
    * cardinality is small); the corpus is read once and never
    * re-shuffled except on the join key.
    */
  def targetEncodeLoo(
      df: DataFrame,
      idCol: String,
      catCol: String,
      targetCol: String,
      m: Long): DataFrame = {
    require(m >= 0, s"smoothing m $m must be >= 0")
    val base = df.filter(col(targetCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).as("id"),
        coalesce(col(catCol).cast("string"), lit("__NULL__")).as("category"),
        floor(col(targetCol) * 1e6).cast("long").as("tm"))
    val perCat = base.groupBy("category")
      .agg(count(lit(1)).as("n"), sum("tm").as("sum_micro"))
    val prior = perCat.agg(
      expr("sum(sum_micro) div sum(n)").as("prior_micro"))
    base.join(perCat, "category")
      .crossJoin(broadcast(prior))
      .withColumn("enc_loo_micro", expr(
        s"""case when n - 1 + ${m}L = 0 then null
            else (sum_micro - tm + ${m}L * prior_micro) div (n - 1 + ${m}L) end"""))
      .select(col("id"), col("category"), col("n"), col("enc_loo_micro"))
  }

  /** Mixture SPRT (always-valid inference) over a Bernoulli outcome
    * stream per key — the ALWAYS-VALID member of the sequential family:
    * where [[sprtBernoulli]] needs a committed alternative p₁, the
    * mSPRT mixes over alternatives (normal mixture, variance τ²) so
    * the experimenter may peek at EVERY step and still control type-I
    * error at α. The modern continuous-monitoring A/B shape
    * (always-valid p-values), replayed deterministically over the log.
    *
    * Statistic at step n (normal approximation, σ² = p₀(1−p₀)):
    * `lnΛ_n = ½·ln(σ²/(σ²+nτ²)) + (S_n − n·p₀)²·τ² / (2σ²(σ²+nτ²))`
    * — the cumulative core `D_n = 10⁶·S_n − n·p0Micro` is an EXACT
    * integer prefix sum; each row's lnΛ is one fixed double tree of
    * (n, D_n) and the two micro literals, floored to milli
    * (runtime-ln under the q220 precedent: correctly-rounded libm
    * doubles of exact integers). Rejection: lnΛ_n ≥ ln(1/α), both
    * sides compared at the milli floor. The always-valid p-value is
    * `min(1, 1/max_m≤n Λ_m)`, reported in micro from the running max.
    *
    * Output per key: `(key, n_obs, lnlam_final_milli, lnlam_max_milli,
    * decision, n_at_decision, avp_micro)`; decision `reject_h0` or
    * NULL (the mSPRT never "accepts" — it monitors).
    *
    * 100 TB shape: identical to [[sprtBernoulli]] — one (key)-keyed
    * window walk, one map-side-combined groupBy(key).
    */
  def msprt(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      outcomeCol: String,
      p0Micro: Long,
      tau2Micro: Long,
      alphaMicro: Long = 50000L): DataFrame = {
    require(p0Micro > 0 && p0Micro < 1000000L,
      s"p0Micro $p0Micro must lie in (0, 1e6)")
    require(tau2Micro > 0, s"tau2Micro $tau2Micro must be positive")
    require(alphaMicro > 0 && alphaMicro < 1000000L,
      s"alphaMicro $alphaMicro must lie in (0, 1e6)")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // σ² and τ² in natural units as fixed double subtrees of the literals
    val s2 = s"(${p0Micro}.0 * ${1000000L - p0Micro}.0 / 1e12)"
    val t2 = s"(${tau2Micro}.0 / 1e6)"
    val lnlam =
      s"""0.5 * ln($s2 / ($s2 + cast(__n as double) * $t2))
         + (cast(__d as double) / 1e6) * (cast(__d as double) / 1e6)
           * $t2 / (2.0 * $s2 * ($s2 + cast(__n as double) * $t2))"""
    val walk = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .withColumn("__inc",
        when(col(outcomeCol).cast("boolean"), lit(1000000L - p0Micro))
          .otherwise(lit(-p0Micro)))
      .withColumn("__d", sum(col("__inc")).over(w))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__lam", expr(lnlam))
      .withColumn("__lam_milli",
        floor(expr("1000.0 * (" + lnlam + ")")).cast("long"))
      .withColumn("__crossed", expr(
        s"__lam_milli >= cast(floor(1000.0 * ln(1000000.0 / " +
          s"${alphaMicro}.0)) as long)"))
    walk.groupBy(col(keyCol).as("key"))
      .agg(
        count(lit(1)).as("n_obs"),
        max(struct(col("__n"), col("__lam_milli"))).getField("__lam_milli")
          .as("lnlam_final_milli"),
        max(col("__lam_milli")).as("lnlam_max_milli"),
        max(col("__lam")).as("__lam_max_raw"),
        min(when(col("__crossed"), col("__n"))).as("n_at_decision"))
      .withColumn("decision",
        when(col("n_at_decision").isNotNull, "reject_h0"))
      .withColumn("avp_micro", expr(
        """cast(floor(1000000.0 /
           exp(greatest(__lam_max_raw, 0.0))) as long)"""))
      .select("key", "n_obs", "lnlam_final_milli", "lnlam_max_milli",
        "decision", "n_at_decision", "avp_micro")
  }

  /** Intraclass correlation ICC(1) and the cluster design effect — the
    * number every cluster-randomized experiment and user-clustered
    * metric needs: how much of the outcome variance lives BETWEEN
    * clusters (users, sessions, domains), and how much a
    * cluster-sampled estimate's variance inflates versus i.i.d. rows
    * (`DEFF = 1 + (m̄ − 1)·ICC`). An ICC of 0.05 at 200 rows per user
    * means an 11× effective-sample-size haircut — this op is how that
    * stops being a surprise.
    *
    * One-way random-effects ANOVA estimator with unequal cluster sizes:
    * `ICC = (MSB − MSW)/(MSB + (n₀ − 1)·MSW)` with
    * `n₀ = (n − Σn_g²/n)/(k − 1)`.
    *
    * Exactness: the group moments and both quadratic reductions
    * (Σ⌊s_g²/n_g⌋ via the divisible-numerator decimal division — the
    * [[anovaEta]] trick and its documented 10³²-quotient headroom —
    * and Σn_g² exactly) are decimal(38,0); the finish is one fixed
    * double tree, floored to micro/milli.
    *
    * Output (one row): `(n, k, n0_milli, icc_micro, deff_milli)`;
    * NULLs when degenerate (k < 2, n ≤ k, or zero variance).
    *
    * 100 TB shape: ONE map-side-combined groupBy(cluster), then a
    * scalar rollup of the k-row group table.
    */
  def icc(
      df: DataFrame,
      clusterCol: String,
      valueCol: String): DataFrame = {
    val cells = df
      .filter(col(clusterCol).isNotNull && col(valueCol).isNotNull)
      .withColumn("__v",
        floor(col(valueCol).cast("double") * 1e6).cast("long"))
      .groupBy(col(clusterCol))
      .agg(count(lit(1)).as("ng"),
        sum(col("__v").cast("decimal(38,0)")).as("sg"),
        sum(expr("cast(__v as decimal(38,0)) * __v")).as("qg"))
    cells.agg(
        sum("ng").as("n"), count(lit(1)).as("k"),
        sum("sg").as("s"), sum("qg").as("q"),
        sum(expr("""cast((sg * sg - (sg * sg) % ng) / ng
                    as decimal(38,0))""")).as("sb_raw"),
        sum(expr("cast(ng as decimal(38,0)) * ng")).as("sq2"))
      .select(col("n"), col("k"),
        expr("""case when k >= 2 and n > k then
             cast(floor(1000.0 * (cast(n as double) - cast(sq2 as double)
               / n) / (k - 1)) as long) end""").as("n0_milli"),
        expr("""case when k >= 2 and n > k then
             cast(floor(1000000.0 *
               ((cast(sb_raw as double) - cast(s as double)
                  * cast(s as double) / n) / (k - 1)
                - (cast(q as double) - cast(sb_raw as double)) / (n - k))
               / nullif(
                 (cast(sb_raw as double) - cast(s as double)
                    * cast(s as double) / n) / (k - 1)
                 + ((cast(n as double) - cast(sq2 as double) / n) / (k - 1)
                    - 1.0)
                   * ((cast(q as double) - cast(sb_raw as double))
                      / (n - k)), 0.0)) as long) end""").as("icc_micro"))
      .withColumn("deff_milli", expr(
        """case when icc_micro is not null then
           cast(floor(1000.0 * (1.0 + (cast(n as double) / k - 1.0)
             * (cast(icc_micro as double) / 1e6))) as long) end"""))
      .select("n", "k", "n0_milli", "icc_micro", "deff_milli")
  }

  /** Sequential probability ratio test (Wald's SPRT) over a Bernoulli
    * outcome stream per key — the SEQUENTIAL member of the testing
    * family ([[mannWhitney]]/[[kruskalWallis]] test a frozen sample;
    * this decides DURING collection, with a guaranteed early stop):
    * each observation adds its log-likelihood-ratio increment, and the
    * walk's FIRST crossing of the upper/lower boundary accepts H1 /
    * accepts H0 at the design error rates. The canary-analysis /
    * guardrail-metric shape: "stop this experiment arm as soon as the
    * evidence clears the bar", replayed deterministically over the
    * event log.
    *
    * The caller supplies the four log literals in micro-nats
    * (`llrPosMicro = ⌊10⁶·ln(p₁/p₀)⌋` etc.) — hardcoded at the call
    * site per the log-law-literal rule, so NO runtime log sits in the
    * hash contract; from there everything is exact integer prefix
    * arithmetic: the walk is a cumulative sum of two literals, and the
    * crossing step is a filtered MIN. Observations order by
    * `(tsCol, tieCol)`; the boundary check is `≥ upper` / `≤ lower`
    * AFTER the step lands (Wald's discrete-overshoot convention).
    *
    * Output: one row per key — `(key, n_obs, llr_final_micro, decision,
    * n_at_decision, llr_at_decision_micro)`; `decision` is `accept_h1`,
    * `accept_h0`, or NULL while the walk is still inside the
    * boundaries (`n_at_decision`/`llr_at_decision` NULL with it).
    *
    * 100 TB shape: ONE (key)-keyed window sort builds the walk
    * (millions of parallel keys, no global window), then one map-side-
    * combined groupBy(key) reduces to the decision row — the stream is
    * read once.
    */
  def sprtBernoulli(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      outcomeCol: String,
      llrPosMicro: Long,
      llrNegMicro: Long,
      upperMicro: Long,
      lowerMicro: Long): DataFrame = {
    require(llrPosMicro > 0 && llrNegMicro < 0,
      s"llr increments ($llrPosMicro, $llrNegMicro) must straddle zero " +
        "(H1 must gain on successes and lose on failures)")
    require(upperMicro > 0 && lowerMicro < 0,
      s"boundaries ($upperMicro, $lowerMicro) must straddle zero")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val walk = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .withColumn("__step",
        when(col(outcomeCol).cast("boolean"), lit(llrPosMicro))
          .otherwise(lit(llrNegMicro)))
      .withColumn("__llr", sum(col("__step")).over(w))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__crossed",
        col("__llr") >= upperMicro || col("__llr") <= lowerMicro)
    walk.groupBy(col(keyCol).as("key"))
      .agg(
        count(lit(1)).as("n_obs"),
        max(struct(col("__n"), col("__llr"))).getField("__llr")
          .as("llr_final_micro"),
        min(when(col("__crossed"), col("__n"))).as("n_at_decision"),
        min(when(col("__crossed"), struct(col("__n"), col("__llr"))))
          .getField("__llr").as("llr_at_decision_micro"))
      .withColumn("decision",
        when(col("llr_at_decision_micro") >= upperMicro, "accept_h1")
          .when(col("llr_at_decision_micro") <= lowerMicro, "accept_h0"))
      .select("key", "n_obs", "llr_final_micro", "decision",
        "n_at_decision", "llr_at_decision_micro")
  }

  /** χ² independence test between two categorical columns, plus
    * Cramér's V — the feature-selection screen for "does this column
    * carry signal about that one". Returns one row:
    * `(n, n_a, n_b, chi2_micro, cramers_v_micro)` with `n_a`/`n_b` the
    * distinct level counts.
    *
    * Replayability: the statistic is DEFINED as the integer sum of
    * per-cell micro-floored terms `floor(1e6 · (o − e)²/e)` with
    * `e = n_a·n_b/N` computed on one fixed double expression tree —
    * every per-cell double op is IEEE-correctly-rounded, so any engine
    * reproduces each term bit-for-bit and the SUM is exact integer
    * arithmetic (no float accumulation order anywhere). Cramér's V is
    * one sqrt of that integer — sqrt is correctly rounded too.
    *
    * 100 TB shape: one map-side-combined groupBy to the r×c cell table;
    * margins and the statistic are cell-table math with two one-row
    * broadcasts. NULL in either column drops the row (documented:
    * encode NULL upstream if it is a level of interest).
    */
  def chiSquare(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df.filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).cast("string").as("a"), col(colB).cast("string").as("b"))
      .agg(count(lit(1)).as("o"))
    val ma = cells.groupBy("a").agg(sum("o").as("na"))
    val mb = cells.groupBy("b").agg(sum("o").as("nb"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("a")).as("n_a"), countDistinct(col("b")).as("n_b"))
    // densify to the full r×c spine: UNOBSERVED cells still owe
    // (0 − e)²/e — dropping them understates χ² (and V) badly
    val spine = ma.crossJoin(mb)
    spine.join(cells, Seq("a", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("e",
        expr("cast(na as double) * cast(nb as double) / cast(n as double)"))
      // explicit d*d, not pow(d,2): pow is not guaranteed correctly
      // rounded; ·, −, / are — the per-cell double is then bit-portable
      .withColumn("term_micro", expr(
        """cast(floor(1000000.0 *
           (cast(o as double) - e) * (cast(o as double) - e) / e) as long)"""))
      .groupBy("n", "n_a", "n_b")
      .agg(sum("term_micro").as("chi2_micro"))
      .withColumn("cramers_v_micro", expr(
        """cast(floor(1000000.0 * sqrt(cast(chi2_micro as double) / 1e6
           / (cast(n as double) * cast(least(n_a - 1, n_b - 1) as double)))) as long)"""))
  }

  /** Mutual information between two categorical columns in EXACT integer
    * arithmetic: `MI = Σ_cells (n_ab/N)·ln(n_ab·N / (n_a·n_b))` carried
    * as `Σ n_ab·(ln6(n_ab) + ln6(N) − ln6(n_a) − ln6(n_b))` with each
    * `ln6(x) = floor(ln(x)·1e6)` of an INTEGER count — the same
    * engine-replayable decomposition as PMI/PSI, summed exactly and
    * divided once. Returns `(n, mi_sum, mi_micro)` where
    * `mi_micro = mi_sum div n` is MI in nats·1e6.
    *
    * 100 TB shape: identical to [[chiSquare]] — one groupBy to the cell
    * table, margins + math on cells only.
    */
  def mutualInfo(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df.filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).cast("string").as("a"), col(colB).cast("string").as("b"))
      .agg(count(lit(1)).as("o"))
    val ma = cells.groupBy("a").agg(sum("o").as("na"))
    val mb = cells.groupBy("b").agg(sum("o").as("nb"))
    val tot = cells.agg(sum(col("o")).as("n"))
    val ln6 = (c: String) => s"cast(floor(ln(cast($c as double)) * 1e6) as long)"
    cells.join(ma, "a").join(mb, "b").crossJoin(broadcast(tot))
      .withColumn("cell_sum",
        expr(s"o * (${ln6("o")} + ${ln6("n")} - ${ln6("na")} - ${ln6("nb")})"))
      .groupBy("n")
      .agg(sum("cell_sum").as("mi_sum"))
      // FLOOR division (Spark div truncates toward zero): mi_sum can dip
      // slightly negative from the one-sided ln floors, and the oracle's
      // `//` floors — keep both engines on floor semantics
      .withColumn("mi_micro", expr(
        "mi_sum div n - (case when mi_sum % n != 0 and mi_sum < 0 then 1 else 0 end)"))
  }

  /** Z-score scaling statistics per numeric column: `(col_name, n,
    * mean_micro, std_micro)` — the model-sized table a trainer joins
    * back to standardize features (and serving reuses without the
    * corpus). Population std (÷n, not n−1), reported as 0 for constant
    * columns.
    *
    * Exactness: values are per-row micro-floored, then n·Σx² − (Σx)² is
    * carried in decimal(38,0) (no long overflow up to ~10¹⁵ rows of
    * ~10⁶-magnitude values, no float accumulation); the only inexact
    * steps are one decimal→double cast and one sqrt, both IEEE
    * correctly rounded, then floored — deterministic on any engine.
    * mean_micro uses explicit FLOOR division (negative means floor,
    * not truncate, matching SQL `//`).
    *
    * 100 TB shape: one stack/unpivot pass into a map-side-combined
    * groupBy(col_name) — |cols| rows out, corpus read once.
    */
  def standardize(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    val stacked = df.selectExpr(
        s"stack(${cols.size}, " +
          cols.map(c => s"'$c', cast(`$c` as double)").mkString(", ") +
          ") as (col_name, v)")
      .filter(col("v").isNotNull)
      .withColumn("xm", floor(col("v") * 1e6).cast("long"))
    stacked.groupBy("col_name")
      .agg(count(lit(1)).as("n"),
        sum(col("xm").cast("decimal(38,0)")).as("s1"),
        sum((col("xm").cast("decimal(38,0)") * col("xm"))).as("s2"))
      .withColumn("mean_micro", expr(
        """cast(s1 div n as long) -
           (case when s1 % n != 0 and s1 < 0 then 1 else 0 end)"""))
      .withColumn("std_micro", expr(
        """cast(floor(sqrt(cast(n * s2 - s1 * s1 as double)
           / (cast(n as double) * cast(n as double)))) as long)"""))
      .select("col_name", "n", "mean_micro", "std_micro")
  }

  /** Hashing-trick (feature-hashing) sparse encoding: every
    * (column, value) pair maps to `bucket = u32(md5(col|value)) mod dim`
    * with a hash-bit sign, summed per (row, bucket) — the fixed-width,
    * vocabulary-free encoding for high-cardinality categoricals that
    * needs NO fitted state (nothing to ship to serving but `dim`).
    * Returns sparse triples `(idCol, bucket, val)` — the natural shape
    * for a columnar engine; densify at the trainer if needed. Signs
    * (Weinberger et al. 2009) make collisions cancel in expectation.
    * NULL values are skipped (no feature, not a hashed NULL).
    *
    * Engine-replayable: bucket and sign both read off the md5 hex.
    *
    * 100 TB shape: map-only explode of |cols| entries per row, one
    * map-side-combined (id, bucket) aggregation.
    */
  def featureHash(
      df: DataFrame,
      idCol: String,
      cols: Seq[String],
      dim: Int): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    require(dim >= 2, s"dim $dim must be >= 2")
    val stacked = df.select(col(idCol), explode(array(cols.map(c =>
        when(col(c).isNotNull,
          concat_ws("|", lit(c), col(c).cast("string")))): _*)).as("fv"))
      .filter(col("fv").isNotNull)
    stacked
      .withColumn("__h", md5(col("fv")))
      .withColumn("bucket",
        expr(s"cast(conv(substring(__h, 1, 8), 16, 10) as long) % $dim"))
      .withColumn("__sign", expr(
        "case when cast(conv(substring(__h, 9, 1), 16, 10) as int) % 2 = 0 " +
          "then 1L else -1L end"))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("__sign")).as("val"))
  }

  /** Pairwise Pearson correlation matrix over numeric columns,
    * pairwise-complete (each pair uses exactly the rows where BOTH are
    * non-null). Returns `(col_a, col_b, n, corr_micro)` for each of the
    * |cols|·(|cols|−1)/2 unordered pairs; NULL corr when either side is
    * constant or n < 2. The numeric sibling of [[chiSquare]].
    *
    * Exactness: per-row micro-floored values, all five moments as
    * decimal(38,0) conditional sums in ONE aggregation pass over the
    * corpus; the final Pearson is one fixed correctly-rounded double
    * expression per pair, floored once.
    *
    * 100 TB shape: a single map-side-combined global aggregate
    * (5·|pairs| running sums per task — fine for feature-screen column
    * counts); the pair table math is driver-free and |pairs|-sized.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    def xm(c: String) = s"cast(floor(cast(`$c` as double) * 1e6) as long)"
    val aggExprs = pairs.zipWithIndex.flatMap { case ((a, b), k) =>
      val both = s"`$a` is not null and `$b` is not null"
      val (x, y) = (xm(a), xm(b))
      Seq(
        expr(s"count(case when $both then 1 end)").as(s"n_$k"),
        expr(s"sum(case when $both then cast($x as decimal(38,0)) end)").as(s"sx_$k"),
        expr(s"sum(case when $both then cast($y as decimal(38,0)) end)").as(s"sy_$k"),
        expr(s"sum(case when $both then cast($x as decimal(38,0)) * $y end)").as(s"sxy_$k"),
        expr(s"sum(case when $both then cast($x as decimal(38,0)) * $x end)").as(s"sxx_$k"),
        expr(s"sum(case when $both then cast($y as decimal(38,0)) * $y end)").as(s"syy_$k"))
    }
    val g = df.agg(aggExprs.head, aggExprs.tail: _*)
    val rows = pairs.zipWithIndex.map { case ((a, b), k) =>
      struct(
        lit(a).as("col_a"), lit(b).as("col_b"),
        col(s"n_$k").as("n"),
        expr(
          s"""case when n_$k > 1 and n_$k * sxx_$k > sx_$k * sx_$k
                    and n_$k * syy_$k > sy_$k * sy_$k then
               cast(floor(1000000.0 *
                 cast(n_$k * sxy_$k - sx_$k * sy_$k as double)
                 / sqrt(cast(n_$k * sxx_$k - sx_$k * sx_$k as double)
                        * cast(n_$k * syy_$k - sy_$k * sy_$k as double)))
               as long) end""").as("corr_micro"))
    }
    g.select(explode(array(rows: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("p.n"), col("p.corr_micro"))
  }

  /** One-way ANOVA relevance of a numeric column to a categorical one —
    * the categorical↔numeric member of the association family (q152's
    * χ²/Cramér's V is cat↔cat, q165/q211 are num↔num): between-group vs
    * within-group variance as η² (variance explained) and the F
    * statistic. The feature-screening question "does this numeric move
    * with this category at all?", answered in one pass.
    *
    * Exactness: per-group (n, Σv, Σv²) accumulate micro-floored longs in
    * decimal(38,0) — exact; the sum-of-squares decomposition and the
    * final ratios are IEEE doubles OF those exact integers (same finish
    * contract as corrMatrix), floored to micro/milli.
    *
    * Output: `(n, n_groups, eta2_micro, f_milli)` — NULL stats when
    * degenerate (k < 2, n ≤ k, or zero total variance).
    *
    * 100 TB shape: ONE map-side-combined groupBy(category); everything
    * after is arithmetic on the k-row group table.
    */
  def anovaEta(
      df: DataFrame,
      catCol: String,
      valueCol: String): DataFrame = {
    val cells = df
      .filter(col(catCol).isNotNull && col(valueCol).isNotNull)
      .withColumn("__v",
        floor(col(valueCol).cast("double") * 1e6).cast("long"))
      .groupBy(col(catCol))
      .agg(count(lit(1)).as("ng"),
        sum(col("__v").cast("decimal(38,0)")).as("sg"),
        sum(expr("cast(__v as decimal(38,0)) * __v")).as("qg"))
    cells.agg(
        sum("ng").as("n"), count(lit(1)).as("k"),
        sum("sg").as("s"), sum("qg").as("q"),
        // per-group ⌊sg²/ng⌋ as an EXACT decimal (a raw double sum would
        // be association-order-dependent; Spark's floor(double) and
        // `div` both return silently-wrapping BIGINTs; bare decimal `/`
        // ROUNDS at the result scale): subtracting the modulus first
        // makes the division exact with no rounding. TWO headroom
        // bounds, both null-on-overflow (non-ANSI decimal), which the
        // k≥2 gate cannot distinguish from a degenerate input:
        //   product  sg² < 10³⁸           → |sg| < 10¹⁹
        //   quotient sg²/ng < 10³²        → |sg| < 10¹⁶·√ng
        // (Spark decimal division of (38,0)/(20,0) adjusts to
        // decimal(38,6) — six digits go to the forced fractional scale,
        // so the exact quotient gets 32 integer digits, not 38.) The
        // quotient bound binds for groups under 10⁶ rows; either way
        // |Σv_micro| per group must stay below ~10¹⁶·√ng — tighter than
        // the repo's usual 1e19 int64-family line for small groups.
        sum(expr("""cast((sg * sg - (sg * sg) % ng) / ng
                    as decimal(38,0))""")).as("sb_raw"))
      .select(col("n"), col("k").as("n_groups"),
        expr("""case when k >= 2 and n > k then
             cast(floor(1000000.0 *
               (sb_raw - cast(s as double) * cast(s as double) / n)
               / nullif(cast(q as double)
                 - cast(s as double) * cast(s as double) / n, 0.0))
             as long) end""").as("eta2_micro"),
        expr("""case when k >= 2 and n > k then
             cast(floor(1000.0 *
               ((sb_raw - cast(s as double) * cast(s as double) / n) / (k - 1))
               / nullif((cast(q as double) - sb_raw) / (n - k), 0.0))
             as long) end""").as("f_milli"))
  }

  /** Wilcoxon signed-rank — the PAIRED slot of the rank-test family
    * ([[mannWhitney]] compares two independent groups; this compares
    * two measurements of the SAME unit: before/after a change, metric A
    * vs metric B per user). Zero differences drop (the standard rule),
    * |d| gets doubled tie-midranks, and the test reports the positive
    * rank sum `W+`, the matched-pairs rank-biserial effect
    * `(W+ − W−)/(W+ + W−)` — EXACT, one sign-split floor division —
    * and the tie-corrected normal z (doubles, floored milli).
    *
    * Output (one row): `(n_pairs, n_zero, w_plus, rank_biserial_micro,
    * z_milli)`; z NULL when n_pairs = 0 or σ² degenerates.
    *
    * 100 TB shape: one map-side pass to differences, the q211
    * distinct-|d| prefixSum, one join back, one scalar rollup.
    */
  def wilcoxonSignedRank(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame =
    wilcoxonSignedRankMicro(
      df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
        .select(floor(col(aCol).cast("double") * 1e6).cast("long").as("a"),
          floor(col(bCol).cast("double") * 1e6).cast("long").as("b")),
      "a", "b")

  /** [[wilcoxonSignedRank]] over values ALREADY in integer micro units —
    * the entry point for callers whose pairs come out of integer
    * arithmetic (per-key micro averages, floor-divided sums): no
    * double round-trip, so a 1-ulp wobble in `x/10⁶·10⁶` can never
    * floor a paired difference down a unit. The double-typed overload
    * floors once and delegates here.
    */
  def wilcoxonSignedRankMicro(
      df: DataFrame,
      aMicroCol: String,
      bMicroCol: String): DataFrame = {
    val base = df
      .filter(col(aMicroCol).isNotNull && col(bMicroCol).isNotNull)
      .withColumn("__d",
        col(aMicroCol).cast("long") - col(bMicroCol).cast("long"))
      .select(col("__d"))
      .localCheckpoint()
    val nZero = base.filter(col("__d") === 0).count()
    val nz = base.filter(col("__d") =!= 0)
      .withColumn("__ad", abs(col("__d")))
    val cnt = nz.groupBy(col("__ad")).agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val ranks = Ranks.prefixSum(cnt, Seq(col("__ad")), Seq("__c"))
      .select(col("__ad"), expr("2 * __c_cum - __c + 1").as("__r2"))
    val ties = cnt.agg(
        sum(expr("cast(__c as decimal(38,0)) * __c * __c - __c")))
      .collect()(0)
    val tieD =
      if (ties.isNullAt(0)) 0.0
      else new java.math.BigDecimal(ties.getDecimal(0).toBigInteger)
        .doubleValue()
    val s = nz.join(ranks, Seq("__ad"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__d") > 0, col("__r2")).otherwise(0L)
          .cast("decimal(38,0)")).as("w2p"))
      .collect()(0)
    val n = s.getLong(0)
    val w2p = if (n == 0) BigInt(0) else BigInt(s.getDecimal(1).toBigInteger)
    // W+ + W− = n(n+1)/2 in standard ranks → doubled total = n(n+1)
    val tot2 = BigInt(n) * (n + 1)
    val rbNum = w2p * 2 - tot2 // (W+ − W−) doubled
    val rbMicro: Option[Long] =
      if (n == 0) None
      else if (rbNum >= 0) Some((rbNum * 1000000 / tot2).toLong)
      else Some(-((-rbNum) * 1000000 / tot2).toLong)
    val zMilli: Option[Long] =
      if (n == 0) None
      else {
        // doubled-scale variance: 4σ² = n(n+1)(2n+1)/6 − Σ(t³−t)/12
        val sig2x4 = n.toDouble * (n + 1) * (2 * n + 1) / 6.0 - tieD / 12.0
        if (sig2x4 <= 0) None
        else Some(math.floor(1000.0 *
          (w2p.toDouble - n.toDouble * (n + 1) / 2.0) /
          math.sqrt(sig2x4)).toLong)
      }
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, nZero, w2p.toDouble / 2, rbMicro, zMilli))
      .toDF("n_pairs", "n_zero", "w_plus", "rank_biserial_micro",
        "z_milli")
  }

  /** Mann–Whitney U — the two-sample rank test (the A/B workhorse for
    * skewed metrics: revenue, latency, session length, where a t-test's
    * mean is one whale away from nonsense). From the shared doubled-
    * midrank machinery: `U_A = R_A − n_A(n_A+1)/2`, the rank-biserial
    * effect size `r = 1 − 2U_A/(n_A·n_B)` (how often a random A beats a
    * random B, rescaled to [−1, 1]), and the tie-corrected normal
    * z-score.
    *
    * Exactness: U and the effect size are EXACT — doubled midranks keep
    * rank sums integer, and the directional rank-biserial (= Cliff's
    * delta, positive ⇒ A stochastically larger) is one exact product
    * with one sign-split floor division; only the z-score touches
    * doubles (σ² needs the tie-corrected variance), floored to milli.
    * |z| ≥ 1960 rejects at 5%.
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, u_a, u_b,
    * rank_biserial_micro, z_milli)`; groups ordered lexicographically;
    * exactly two groups required.
    *
    * 100 TB shape: the q211/q213 plan — distinct-value prefixSum, one
    * join back, one two-row group rollup.
    */
  def mannWhitney(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("double").as("__v"))
      .localCheckpoint()
    val cnt = base.groupBy(col("__v")).agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val ranks = Ranks.prefixSum(cnt, Seq(col("__v")), Seq("__c"))
      .select(col("__v"), expr("2 * __c_cum - __c + 1").as("__r2"))
    val ties = cnt.agg(
        sum(expr("cast(__c as decimal(38,0)) * __c * __c - __c")))
      .collect()(0).getDecimal(0)
    val g = base.join(ranks, Seq("__v"))
      .groupBy("__g")
      .agg(count(lit(1)).as("ng"),
        sum(col("__r2").cast("decimal(38,0)")).as("r2g"))
      .orderBy("__g")
      .collect()
    require(g.length == 2,
      s"mannWhitney: exactly 2 groups required, got ${g.length}")
    val (ga, gb) = (g(0).getString(0), g(1).getString(0))
    val (na, nb) = (g(0).getLong(1), g(1).getLong(1))
    // doubled rank sum → R_A = r2a/2 exactly (Σ doubled midranks over
    // any subset of a full ranking is even iff ... it need not be even;
    // keep everything DOUBLED: U2 = r2a − n_a(n_a+1) = 2·U_A exactly)
    val r2a = BigInt(g(0).getDecimal(2).toBigInteger)
    val r2b = BigInt(g(1).getDecimal(2).toBigInteger)
    val u2a = r2a - BigInt(na) * (na + 1)
    val u2b = r2b - BigInt(nb) * (nb + 1)
    // directional rank-biserial (= Cliff's delta): 2U_A/(n_a·n_b) − 1,
    // positive ⇒ group A stochastically larger; with doubled U that is
    // (u2a − n_a·n_b)/(n_a·n_b), truncated toward zero
    val rbNum = u2a - BigInt(na) * nb
    val rbMicro = (rbNum * 1000000 / (BigInt(na) * nb)).toLong
    val n = na + nb
    val tieD = new java.math.BigDecimal(ties.toBigInteger).doubleValue()
    val zMilli: Option[Long] =
      if (n < 2 || (n.toDouble * n * n - n) <= tieD) None
      else {
        val mu2 = na.toDouble * nb // mean of doubled U = n_a·n_b
        val sig2x4 = na.toDouble * nb / 12.0 *
          ((n + 1).toDouble - tieD / (n.toDouble * (n - 1))) * 4.0
        if (sig2x4 <= 0) None
        else Some(math.floor(
          1000.0 * (u2a.toDouble - mu2) / math.sqrt(sig2x4)).toLong)
      }
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, na, nb, u2a.toDouble / 2, u2b.toDouble / 2,
        rbMicro, zMilli))
      .toDF("grp_a", "grp_b", "n_a", "n_b", "u_a", "u_b",
        "rank_biserial_micro", "z_milli")
  }

  /** Kruskal–Wallis H — the rank-based one-way ANOVA, to [[anovaEta]]
    * what [[spearmanMatrix]] is to Pearson: does the DISTRIBUTION of a
    * numeric differ across categories, free of normality and outlier
    * assumptions (compare heavy-tailed doc lengths across sources
    * without a single huge doc deciding the answer). Tie-corrected:
    * `H = [12/(n(n+1))·Σ R²g/ng − 3(n+1)] / (1 − Σ(t³−t)/(n³−n))`.
    *
    * Integer contract: doubled tie-midranks off a per-value prefix sum
    * (the q211 recipe) make every group rank-sum an exact decimal;
    * `⌊R2g²/ng⌋` uses the divisible-numerator division (no silent long
    * wrap, no decimal rounding); the tie term Σ(t³−t) is exact. Only
    * the final H touches doubles, floored to milli. Against χ²(k−1):
    * H ≥ 5991 milli rejects at 5% for 3 groups.
    *
    * Headroom (see [[anovaEta]]'s quotient note): R2g ≤ 2n², so the
    * product R2g² stays inside decimal(38,0) to n ≈ 4·10⁹ rows, and the
    * exact quotient R2g²/ng gets 32 integer digits from Spark's
    * (38,6)-adjusted decimal division — both overflow to NULL (never a
    * wrong number), at corpus sizes past ~10⁹ rows of one category.
    *
    * Output: `(n, n_groups, tie_sum, h_milli)`; NULL H when k < 2 or
    * every value is identical (C = 0).
    *
    * 100 TB shape: one distinct-value count + prefixSum range exchange,
    * one value-keyed join back, one groupBy(category) — the q211 plan
    * with a k-row finish.
    */
  def kruskalWallis(
      df: DataFrame,
      catCol: String,
      valueCol: String): DataFrame = {
    val base = df
      .filter(col(catCol).isNotNull && col(valueCol).isNotNull)
      .select(col(catCol).as("__g"), col(valueCol).cast("double").as("__v"))
      .localCheckpoint()
    val cnt = base.groupBy(col("__v")).agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val ranks = Ranks.prefixSum(cnt, Seq(col("__v")), Seq("__c"))
      .select(col("__v"), expr("2 * __c_cum - __c + 1").as("__r2"))
    val tiesRaw = cnt.agg(
      sum(expr("cast(__c as decimal(38,0)) * __c * __c - __c")).as("t"))
      .collect()(0).getDecimal(0)
    // Empty input → SUM is NULL; treat as zero ties so the k≥2 gate
    // below yields the documented degenerate one-row NULL, not an NPE.
    val ties = if (tiesRaw == null) java.math.BigDecimal.ZERO else tiesRaw
    val g = base.join(ranks, Seq("__v"))
      .groupBy("__g")
      .agg(count(lit(1)).as("ng"),
        sum(col("__r2").cast("decimal(38,0)")).as("r2g"))
    g.agg(
        sum("ng").as("n"), count(lit(1)).as("k"),
        sum(expr("""cast((r2g * r2g - (r2g * r2g) % ng) / ng
                    as decimal(38,0))""")).as("sq4"))
      .select(col("n"), col("k").as("n_groups"),
        lit(new java.math.BigDecimal(ties.toBigInteger)).cast("decimal(38,0)")
          .as("tie_sum"),
        expr(
          s"""case when k >= 2 and n >= 2
                and cast(n as double) * n * n - n
                    > ${ties.toBigInteger.toString}.0 then
               cast(floor(1000.0 *
                 (12.0 * (cast(sq4 as double) / 4.0)
                    / (cast(n as double) * (n + 1)) - 3.0 * (n + 1))
                 / (1.0 - ${ties.toBigInteger.toString}.0
                    / (cast(n as double) * n * n - n)))
               as long) end""").as("h_milli"))
  }

  /** Dunn's post-hoc test — WHICH groups differ, once [[kruskalWallis]]
    * says SOME do: every unordered pair's standardized mean-rank gap
    * `z = (R̄_i − R̄_j) / √[(N(N+1)/12 − Σ(t³−t)/(12(N−1)))·(1/n_i +
    * 1/n_j)]` on the POOLED tie-midranks (Dunn 1964, tie-corrected).
    * The pairwise companion q213's one-row H cannot be: H rejects "all
    * equal" without naming a pair, and running Mann–Whitney per pair
    * re-ranks each subset — Dunn keeps the pooled ranking, which is
    * the statistic with the documented normal null. Compare |z|
    * against the Bonferroni-adjusted two-sided normal critical value
    * for k(k−1)/2 comparisons (callers hold the α policy: 1960 milli
    * unadjusted 5%, ≈2807 for 10 comparisons).
    *
    * Integer contract: doubled tie-midranks off the q211 prefix sum
    * make each group's rank sum an exact decimal; the gap numerator
    * `R2_i·n_j − R2_j·n_i` and tie sum Σ(t³−t) are exact; one fixed
    * double tree per pair for z (floored to milli); mean ranks are
    * exact positive milli divisions (`R2·500 div n`).
    *
    * Output per pair (`grp_a < grp_b` as strings): `(grp_a, grp_b,
    * n_a, n_b, mean_rank_a_milli, mean_rank_b_milli, z_milli)`;
    * z NULL when every pooled value is tied (zero rank variance).
    *
    * Overflow: R2 ≤ 2N so the gap numerator R2·n rides decimal(38,0)
    * to N ≈ 10¹⁸/max(n_g); the tie sum shares q213's bound.
    *
    * 100 TB shape: exactly the q213 plan (distinct-value count +
    * [[Ranks.prefixSum]] range exchange + one groupBy(category)) plus
    * a k²-row broadcast self-join of the k-row group table — hard
    * `maxGroups` require before the pairing.
    */
  def dunnPosthoc(
      df: DataFrame,
      catCol: String,
      valueCol: String,
      maxGroups: Int = 100): DataFrame = {
    require(maxGroups >= 2, s"maxGroups $maxGroups must be >= 2")
    val base = df
      .filter(col(catCol).isNotNull && col(valueCol).isNotNull)
      .select(col(catCol).cast("string").as("__g"),
        col(valueCol).cast("double").as("__v"))
      .localCheckpoint()
    val cnt = base.groupBy(col("__v")).agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val ranks = Ranks.prefixSum(cnt, Seq(col("__v")), Seq("__c"))
      .select(col("__v"), expr("2 * __c_cum - __c + 1").as("__r2"))
    val tiesRaw = cnt.agg(
      sum(expr("cast(__c as decimal(38,0)) * __c * __c - __c")).as("t"))
      .collect()(0).getDecimal(0)
    val ties = if (tiesRaw == null) java.math.BigDecimal.ZERO else tiesRaw
    val g = base.join(ranks, Seq("__v"))
      .groupBy("__g")
      .agg(count(lit(1)).as("ng"),
        sum(col("__r2").cast("decimal(38,0)")).as("r2g"))
      .localCheckpoint()
    val k = g.count()
    require(k <= maxGroups,
      s"dunnPosthoc: $k groups exceed maxGroups=$maxGroups — the pair " +
        "matrix is groups², bucket the category first")
    val nRow = g.agg(sum("ng")).collect()(0)
    val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    val t = ties.toBigInteger.toString
    val a = g.select(col("__g").as("grp_a"), col("ng").as("n_a"),
      col("r2g").as("__ra"))
    val b = g.select(col("__g").as("grp_b"), col("ng").as("n_b"),
      col("r2g").as("__rb"))
    a.join(broadcast(b), col("grp_a") < col("grp_b"))
      .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"),
        expr("cast(__ra * 500 div n_a as long)").as("mean_rank_a_milli"),
        expr("cast(__rb * 500 div n_b as long)").as("mean_rank_b_milli"),
        expr(
          s"""case when ${n}L >= 2
                and cast(${n}L as double) * (${n}L + 1) / 12.0
                    - $t.0 / (12.0 * (${n}L - 1)) > 0 then
              cast(floor(1000.0 *
                (cast(__ra * n_b - __rb * n_a as double)
                  / (2.0 * n_a * n_b))
                / sqrt((cast(${n}L as double) * (${n}L + 1) / 12.0
                    - $t.0 / (12.0 * (${n}L - 1)))
                  * (cast(n_a as double) + n_b)
                  / (cast(n_a as double) * n_b)))
              as long) end""").as("z_milli"))
  }

  /** Poisson overdispersion (variance-to-mean) index per group — the
    * count-data sanity gate: a Poisson-ish count column has VMR ≈ 1;
    * VMR ≫ 1 (clumping: bot bursts, retry storms, hot users) means
    * every "events per user look uniform" assumption downstream is
    * wrong, and VMR ≪ 1 means the counts were capped or deduped.
    * The dispersion statistic `(n−1)·s²/x̄` is the classic chi-square
    * test of the Poisson null (compare against χ²(n−1)).
    *
    * Integer contract: values floor to integers per row (this is a
    * COUNT-column audit); n·Σv² − (Σv)² ≥ 0 is exact decimal, and both
    * outputs are exact positive integer divisions — no doubles at all:
    * `vmr_micro = (nΣv²−(Σv)²)·10⁶ div ((n−1)·Σv)`,
    * `stat_milli = (nΣv²−(Σv)²)·10³ div Σv`. NULL when n < 2 or
    * Σv ≤ 0 (mean must be positive for VMR to mean anything).
    *
    * Output per group: `(grp, n, mean_micro, vmr_micro, stat_milli)`.
    *
    * Overflow: n·Σv²·10⁶ rides decimal(38,0) — loud-NULL past
    * n²·v̄²·10⁶ ≈ 10³⁸, i.e. n ≈ 10¹³ rows per group at values ≤ 10³.
    *
    * 100 TB shape: ONE map-side-combined groupBy(group); three moment
    * sums per group, k-row output. Composes with an upstream count
    * aggregation (events → per-user counts → dispersion per type) for
    * two shuffles total.
    */
  def dispersionIndex(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        floor(col(valueCol).cast("double")).cast("long").as("__v"))
    base.groupBy("grp")
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast("decimal(38,0)")).as("__s"),
        sum(expr("cast(__v as decimal(38,0)) * __v")).as("__q"))
      .select(col("grp"), col("n"),
        expr("cast(__s * 1000000 div n as long)")
          .as("mean_micro"),
        expr("""cast(case when n >= 2 and __s > 0 then
            (n * __q - __s * __s) * 1000000 div ((n - 1) * __s)
          end as long)""").as("vmr_micro"),
        expr("""cast(case when n >= 2 and __s > 0 then
            (n * __q - __s * __s) * 1000 div __s
          end as long)""").as("stat_milli"))
  }

  /** Spearman rank-correlation matrix — the monotonic-association
    * companion to [[corrMatrix]]'s Pearson: correlations on EXACT ranks,
    * immune to outliers and monotone transforms (the right default for
    * heavy-tailed pipeline metrics like doc length vs quality score).
    * Ranks are standard tie-midranks, kept integer by DOUBLING
    * (`2·cum − c + 1` off a per-value prefix sum), and centered exactly:
    * the mean of doubled midranks is n+1 with no remainder, so centered
    * values, covariances, and variances are all exact integers in
    * decimal(38,0) — only the final ρ touches a double (one sqrt +
    * division of exact integers, floored to micro, same contract as
    * corrMatrix). Listwise-complete: rows null in ANY column are
    * excluded, so one rank set per column serves every pair.
    *
    * Output per pair: `(col_a, col_b, n, spearman_micro)`.
    *
    * 100 TB shape: per column one map-side-combined distinct-value
    * count + a [[Ranks.prefixSum]] range exchange over the DISTINCT
    * table + one value-keyed join back; then a single scalar aggregate.
    * Centered-rank products stay inside decimal(38,0) to n ≈ 10¹²
    * (Σa² ≤ n³).
    */
  def spearmanMatrix(
      df: DataFrame,
      idCol: String,
      cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    val base = df
      .filter((col(idCol).isNotNull +: cols.map(col(_).isNotNull))
        .reduce(_ && _))
      .select(col(idCol).as("__id") +:
        cols.map(c => col(c).cast("double").as(c)): _*)
      .localCheckpoint()
    val n = base.count()
    var joined = base
    for (c <- cols) {
      val cnt = base.groupBy(col(c)).agg(count(lit(1)).as("__c"))
      val ranks = Ranks.prefixSum(cnt, Seq(col(c)), Seq("__c"))
        .select(col(c),
          // doubled midrank, centered by the exact mean n+1
          (expr("2 * __c_cum - __c + 1") - lit(n + 1)).as(s"__a_$c"))
      joined = joined.join(ranks, Seq(c))
    }
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggExprs = pairs.zipWithIndex.flatMap { case ((a, b), k) =>
      Seq(
        expr(s"sum(cast(`__a_$a` as decimal(38,0)) * `__a_$b`)").as(s"sab_$k"),
        expr(s"sum(cast(`__a_$a` as decimal(38,0)) * `__a_$a`)").as(s"saa_$k"),
        expr(s"sum(cast(`__a_$b` as decimal(38,0)) * `__a_$b`)").as(s"sbb_$k"))
    }
    val g = joined.agg(aggExprs.head, aggExprs.tail: _*)
    val rows = pairs.zipWithIndex.map { case ((a, b), k) =>
      struct(
        lit(a).as("col_a"), lit(b).as("col_b"), lit(n).as("n"),
        expr(
          s"""case when saa_$k > 0 and sbb_$k > 0 then
               cast(floor(1000000.0 * cast(sab_$k as double)
                 / sqrt(cast(saa_$k as double) * cast(sbb_$k as double)))
               as long) end""").as("spearman_micro"))
    }
    g.select(explode(array(rows: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("p.n"),
        col("p.spearman_micro"))
  }

  /** Quantile normalization: map every row's score onto the GLOBAL score
    * distribution by rank, so per-source scores with incompatible scales
    * (one quality model per crawl, perplexity from different LMs) become
    * comparable. Row with in-group rank r of n_g maps to the global
    * sorted value at position ⌈r·N/n_g⌉ — exact nearest-rank, every
    * normalized value is a value that actually occurs, no interpolation
    * and no float averaging, so the output hash-matches any engine.
    * Ordering is totalized by (score, id); NULL scores/groups are
    * excluded. Returns `(idCol, groupCol, scoreCol, norm_value)`.
    *
    * 100 TB shape: one window shuffle on the group for in-group ranks,
    * one range exchange for the global rank ([[Ranks.globalRank]] — no
    * single-task window), and one shuffle join on the computed position.
    * The integer ceiling `(r·N + n_g − 1) div n_g` keeps the position
    * arithmetic exact in both engines.
    */
  /** RFM segmentation — the classic behavioral feature triple: per
    * entity, Recency (last activity), Frequency (event count), Monetary
    * (exact micro sum), each scored into `buckets` equal-count quantile
    * bands (1 = lowest … `buckets` = highest, ties broken by entity id),
    * plus the concatenated `rfm_code` (r·100 + f·10 + m for the default
    * 5 bands) marketing and churn models key on.
    *
    * Equal-count banding matches q192/q198: `score = (B·(rank−1) div n)
    * + 1` over a [[Ranks.globalRank]] of the ENTITY table — ranks run
    * over entities, not events, so the three rank exchanges touch only
    * the collapsed per-entity aggregate (entity-sized, tiny next to the
    * corpus scan that builds it).
    *
    * Output: `(entity, last_active, n_events, monetary_micro, r_score,
    * f_score, m_score, rfm_code)`.
    */
  def rfmSegments(
      df: DataFrame,
      entityCol: String,
      timeCol: String,
      amountCol: String,
      buckets: Int = 5): DataFrame = {
    require(buckets >= 2 && buckets <= 9,
      s"buckets $buckets out of [2, 9] (rfm_code is one digit per band)")
    val per = df
      .filter(col(entityCol).isNotNull && col(timeCol).isNotNull &&
        col(amountCol).isNotNull)
      .groupBy(col(entityCol).as("entity"))
      .agg(max(col(timeCol).cast("long")).as("last_active"),
        count(lit(1)).as("n_events"),
        sum(floor(col(amountCol).cast("double") * 1e6).cast("long"))
          .as("monetary_micro"))
      .localCheckpoint()
    val n = per.agg(count(lit(1))).collect()(0).getLong(0)
    def score(metric: String, out: String) =
      Ranks.globalRank(per.select(col("entity"), col(metric)),
          Seq(col(metric), col("entity")), "__rn")
        .select(col("entity"),
          (expr(s"($buckets * (__rn - 1)) div ${n}L") + 1).cast("int").as(out))
    per
      .join(score("last_active", "r_score"), "entity")
      .join(score("n_events", "f_score"), "entity")
      .join(score("monetary_micro", "m_score"), "entity")
      .withColumn("rfm_code",
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .cast("int"))
  }

  def quantileNormalize(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol), col(groupCol), col(scoreCol))
      .filter(col(scoreCol).isNotNull && col(groupCol).isNotNull)
    val w = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol), col(idCol))
    val ranked = base
      .withColumn("__rg", row_number().over(w).cast("long"))
      .withColumn("__ng", count(lit(1)).over(Window.partitionBy(col(groupCol))))
    val global = Ranks.globalRank(
        base.select(col(scoreCol).as("__gv"), col(idCol).as("__gid")),
        Seq(col("__gv"), col("__gid")), "__pos")
      .select(col("__pos"), col("__gv"))
    val total = base.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(total))
      .withColumn("__pos",
        expr("(__rg * __n + __ng - 1) div __ng"))
      .join(global, Seq("__pos"))
      .select(col(idCol), col(groupCol), col(scoreCol),
        col("__gv").as("norm_value"))
  }

  /** Per-group simple linear regression (OLS) of y on x — the trend
    * line every drift dashboard and scaling-law probe fits: slope,
    * intercept, and R² per group from the five exact moments, one pass.
    * (The robust sibling is [[graft.ops.TimeSeries]]'s Theil–Sen; this
    * is the classical least-squares answer with R².)
    *
    * Exactness: per-row micro-floored x/y accumulate as decimal(38,0)
    * (n, Σx, Σy, Σxy, Σx², Σy²) — exact to |Σ| < 10³⁸, i.e. ~10²⁵ rows
    * of 10⁶-magnitude values per group; the slope/intercept/R² finish
    * is a FIXED expression tree of IEEE doubles of those exact
    * integers (same contract as corrMatrix), floored once each.
    * Degenerate groups (n < 2 or zero x-variance) yield NULL stats.
    *
    * `slope_micro` is per-unit (y-micro per x-unit): ⌊10⁶·β̂⌋ where β̂ =
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) on the ORIGINAL units — both sides
    * micro-scale so the 10⁶ factors cancel in the ratio. `r2_micro`
    * computes num²/den as doubles OF the exact decimal aggregates
    * (num² itself would overflow decimal(38,0) past ~10¹⁹, so it never
    * materializes as a decimal).
    *
    * 100 TB shape: ONE map-side-combined groupBy(group) carrying six
    * numbers per group; nothing else.
    */
  def olsByGroup(
      df: DataFrame,
      groupCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    df.filter(col(groupCol).isNotNull &&
        col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("grp"),
        floor(col(xCol).cast("double") * 1e6).cast("long").as("__x"),
        floor(col(yCol).cast("double") * 1e6).cast("long").as("__y"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast("decimal(38,0)")).as("sx"),
        sum(col("__y").cast("decimal(38,0)")).as("sy"),
        sum(expr("cast(__x as decimal(38,0)) * __y")).as("sxy"),
        sum(expr("cast(__x as decimal(38,0)) * __x")).as("sxx"),
        sum(expr("cast(__y as decimal(38,0)) * __y")).as("syy"))
      .select(col("grp"), col("n"),
        expr("""case when n >= 2 and n * sxx > sx * sx then
             cast(floor(1000000.0 *
               cast(n * sxy - sx * sy as double)
               / cast(n * sxx - sx * sx as double)) as long) end""")
          .as("slope_micro"),
        // intercept in micro units: (Σy − β̂·Σx)/n with β̂ the same
        // double the slope used (pre-floor), one floored division
        expr("""case when n >= 2 and n * sxx > sx * sx then
             cast(floor(
               (cast(sy as double)
                - cast(n * sxy - sx * sy as double)
                  / cast(n * sxx - sx * sx as double)
                  * cast(sx as double)) / cast(n as double)) as long) end""")
          .as("intercept_micro"),
        expr("""case when n >= 2 and n * sxx > sx * sx
                  and n * syy > sy * sy then
             cast(floor(1000000.0 *
               (cast(n * sxy - sx * sy as double)
                * cast(n * sxy - sx * sy as double))
               / (cast(n * sxx - sx * sx as double)
                  * cast(n * syy - sy * sy as double))) as long) end""")
          .as("r2_micro"))
  }

  /** Trimmed and winsorized corpus means — the robust center estimates
    * a heavy-tailed pipeline metric needs (one 10 GB document moves a
    * plain mean; it cannot move a 1%-trimmed one): drop the k lowest
    * and k highest rows (trimmed), or clamp them to the trim-boundary
    * values (winsorized), k = ⌊n·trimPpm/10⁶⌋.
    *
    * EXACT end-to-end: values micro-floor per row; the trim boundaries
    * are exact order statistics read off a DISTINCT-VALUE prefix sum
    * (never a row-level global sort); each value's surviving
    * multiplicity is pure integer interval arithmetic
    * `min(cum, n−k) − max(cum−c+1, k+1) + 1`; all three means are
    * sign-split floor divisions of decimal(38,0) sums. NULL trimmed/
    * winsorized when the trim swallows everything (n ≤ 2k).
    *
    * Output (one row): `(n, trim_k, mean_micro, trimmed_mean_micro,
    * winsorized_mean_micro, lo_cap_micro, hi_cap_micro)` — the caps
    * are the clamp values, reusable as the corpus' robust clip bounds.
    *
    * 100 TB shape: one map-side-combined groupBy(value) collapses the
    * corpus to its distinct micro values; [[Ranks.prefixSum]]'s range
    * exchange runs on THAT table; one broadcast of the (n, sum) totals;
    * one scalar rollup. The corpus is read once.
    */
  def robustMean(
      df: DataFrame,
      valueCol: String,
      trimPpm: Long = 10000L): DataFrame = {
    require(trimPpm >= 0 && trimPpm < 500000,
      s"trimPpm $trimPpm must lie in [0, 500000) — trimming half from " +
        "each side leaves nothing")
    val cnt = df.filter(col(valueCol).isNotNull)
      .select(floor(col(valueCol).cast("double") * 1e6).cast("long")
        .as("__vm"))
      .groupBy("__vm").agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val p = Ranks.prefixSum(cnt, Seq(col("__vm")), Seq("__c"))
    val tot = cnt.agg(sum("__c").as("__n"),
      sum(expr("cast(__vm as decimal(38,0)) * __c")).as("__s"))
    p.crossJoin(broadcast(tot))
      .withColumn("__k", expr(s"__n * $trimPpm div 1000000"))
      .withColumn("__used", expr(
        """greatest(0L, least(__c_cum, __n - __k)
           - greatest(__c_cum - __c + 1, __k + 1) + 1)"""))
      .agg(
        max("__n").as("n"), max("__k").as("trim_k"),
        max("__s").as("s"),
        sum(expr("cast(__vm as decimal(38,0)) * __used")).as("strim"),
        max(expr(
          "case when __c_cum - __c + 1 <= __k + 1 and __k + 1 <= __c_cum " +
            "then __vm end")).as("lo_cap_micro"),
        max(expr(
          "case when __c_cum - __c + 1 <= __n - __k and __n - __k <= " +
            "__c_cum then __vm end")).as("hi_cap_micro"))
      .select(col("n"), col("trim_k"),
        expr("s div n").as("mean_micro"),
        expr("case when n - 2 * trim_k > 0 then strim div (n - 2 * trim_k) end")
          .as("trimmed_mean_micro"),
        expr("""case when n - 2 * trim_k > 0 then
            (strim + cast(trim_k as decimal(38,0)) * lo_cap_micro
              + cast(trim_k as decimal(38,0)) * hi_cap_micro) div n end""")
          .as("winsorized_mean_micro"),
        col("lo_cap_micro"), col("hi_cap_micro"))
  }

  /** Kendall's τ-b between two BOUNDED-CARDINALITY columns — the
    * concordance rank correlation, computed exactly from the distinct-
    * value CELL table instead of the O(n²) row-pair space: concordant/
    * discordant mass is Σ nₐ·n_b over ordered cell pairs, so a corpus
    * of any row count costs |cells|² cell comparisons. The right tool
    * for ordinal×ordinal association (quality band vs review score,
    * priority vs lateness bucket) where Spearman's midranks blur ties.
    *
    * REQUIRES bounded distinct (x, y) combinations: `maxCells` (loud
    * require, default 100k → 10¹⁰ cell comparisons at the cap — size it
    * to your cluster) makes the all-pairs shape impossible to hit by
    * accident on a high-cardinality numeric.
    *
    * Exactness: C, D, and the tie terms are exact decimal(38,0) sums of
    * cell-count products (bound: C ≤ n²/2 < 10³⁸ to ~10¹⁹ rows); τ-b =
    * (C−D)/√((n₀−n₁)(n₀−n₂)) is the one double finish, floored micro.
    * Counts surface as DOUBLE (exact to 2⁵³ — the gate-safe carrier for
    * values that outgrow int64 at extreme scale).
    *
    * Output (one row): `(n, n_cells, concordant, discordant,
    * tau_b_micro)`.
    *
    * 100 TB shape: one map-side-combined groupBy(x, y) collapses the
    * corpus to ≤ maxCells rows; the cell×cell inequality join is a
    * broadcast nested loop over the SMALL cell table only; two scalar
    * rollups. The corpus is read once.
    */
  def kendallTauBinned(
      df: DataFrame,
      xCol: String,
      yCol: String,
      maxCells: Int = 100000): DataFrame = {
    val cells = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(floor(col(xCol).cast("double") * 1e6).cast("long").as("__x"),
        floor(col(yCol).cast("double") * 1e6).cast("long").as("__y"))
      .groupBy("__x", "__y").agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val nCells = cells.count()
    require(nCells <= maxCells,
      s"kendallTauBinned: $nCells distinct (x, y) cells exceed maxCells=" +
        s"$maxCells — bin the columns first or raise the cap knowingly")
    val a = cells.select(col("__x").as("xa"), col("__y").as("ya"),
      col("__c").as("ca"))
    val b = cells.select(col("__x").as("xb"), col("__y").as("yb"),
      col("__c").as("cb"))
    // Each unordered cell pair counted once via the strict xb > xa gate
    // (equal-x pairs are x-ties, never concordant/discordant).
    val cd = a.join(broadcast(b), col("xb") > col("xa"))
      .agg(
        sum(when(col("yb") > col("ya"),
          expr("cast(ca as decimal(38,0)) * cb")).otherwise(lit(0))
          .cast("decimal(38,0)")).as("cc"),
        sum(when(col("yb") < col("ya"),
          expr("cast(ca as decimal(38,0)) * cb")).otherwise(lit(0))
          .cast("decimal(38,0)")).as("dd"))
    val ties = cells.agg(
      sum(col("__c").cast("decimal(38,0)")).as("nn"),
      sum(expr("cast(__c as decimal(38,0)) * (__c - 1)")).as("tpair2"))
    val tx = cells.groupBy("__x").agg(sum("__c").as("cx"))
      .agg(sum(expr("cast(cx as decimal(38,0)) * (cx - 1)")).as("tx2"))
    val ty = cells.groupBy("__y").agg(sum("__c").as("cy"))
      .agg(sum(expr("cast(cy as decimal(38,0)) * (cy - 1)")).as("ty2"))
    cd.crossJoin(ties).crossJoin(tx).crossJoin(ty)
      .select(
        col("nn").cast("long").as("n"),
        lit(nCells).as("n_cells"),
        col("cc").cast("double").as("concordant"),
        col("dd").cast("double").as("discordant"),
        // n0 − n1 = (n(n−1) − Σtx(tx−1))/2; doubled throughout so the
        // halves cancel inside the sqrt product
        expr("""case when (nn * (nn - 1) - tx2) > 0
                  and (nn * (nn - 1) - ty2) > 0 then
             cast(floor(1000000.0 * cast(cc - dd as double)
               / sqrt(cast(nn * (nn - 1) - tx2 as double)
                      * cast(nn * (nn - 1) - ty2 as double)) * 2.0)
               as long) end""").as("tau_b_micro"))
  }

  /** Jonckheere–Terpstra ordered-alternative trend test — "does the
    * outcome INCREASE across these ordered groups" (dose levels, k
    * deciles, cohort ages), strictly more powerful than Kruskal–Wallis
    * when the alternative is monotone. Statistic (DOUBLED so ties stay
    * integer): over every ordered group pair a < b,
    *
    * {{{ U₂ = Σ_{a<b} ( 2·#\{x∈a, y∈b : y > x\} + #\{y = x\} ) }}}
    *
    * with null mean `E₂ = (N² − Σnᵢ²)/2` and the classic untied
    * variance `4·Var = (N²(2N+3) − Σnᵢ²(2nᵢ+3))/18` (tie correction
    * omitted, documented — with heavy ties the z is slightly
    * conservative; U₂, E₂, and the x18 variance are EXACT integers
    * either way). `z_milli = ⌊1000·(U₂−E₂)/√(var_x18/18)⌋` is one
    * fixed double tree (q220 sqrt contract); `trending` flags
    * |z| ≥ 1.96. The variance stays in decimal INTERNALLY (its ~2N³
    * magnitude would overflow an int64 output past ~1.6·10⁶ rows);
    * u2/e2 are int64-safe to ~3·10⁹ rows, documented.
    *
    * Groups order by their CAST LONG value (dose/decile semantics);
    * the pair stage runs on the value-binned cell table under the
    * kendallTauBinned `maxCells` discipline — a broadcast cell
    * self-join, never a row-level pair join.
    *
    * Output (one row): `(n, k_groups, u2, e2, z_milli, trending)`.
    *
    * 100 TB shape: one map-side groupBy(group, value-micro) collapse;
    * the cell table (≤ maxCells, loud) broadcast-joins itself; moments
    * are a ≤k-row rollup. E₂/var ride decimal(38,0) (N³ headroom to
    * ~10¹¹ rows).
    */
  def jonckheereTerpstra(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      maxCells: Int = 100000): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("long").as("__g"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__v"))
      .groupBy("__g", "__v").agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val nCells = cells.count()
    require(nCells <= maxCells,
      s"jonckheereTerpstra: $nCells distinct (group, value) cells exceed " +
        s"maxCells=$maxCells — bin the value column first or raise the cap knowingly")
    val a = cells.select(col("__g").as("ga"), col("__v").as("va"),
      col("__c").as("ca"))
    val b = cells.select(col("__g").as("gb"), col("__v").as("vb"),
      col("__c").as("cb"))
    val u = a.join(broadcast(b), col("gb") > col("ga"))
      .agg(coalesce(sum(
        when(col("vb") > col("va"),
          expr(s"2 * CAST(ca AS $dec) * cb"))
          .when(col("vb") === col("va"),
            expr(s"CAST(ca AS $dec) * cb"))
          .otherwise(lit(0)).cast(dec)), lit(0).cast(dec)).as("__u2"))
    val moments = cells.groupBy("__g").agg(sum("__c").as("__n"))
      .agg(count(lit(1)).as("k_groups"),
        sum(col("__n").cast(dec)).as("__nn"),
        sum(expr(s"CAST(__n AS $dec) * __n")).as("__sn2"),
        sum(expr(s"CAST(__n AS $dec) * __n * (2 * __n + 3)")).as("__sn23"))
    u.crossJoin(moments)
      .select(col("__nn").cast("long").as("n"), col("k_groups"),
        col("__u2").cast("long").as("u2"),
        expr(s"CAST((__nn * __nn - __sn2) div 2 AS BIGINT)").as("e2"),
        expr(s"CAST(__nn * __nn * (2 * __nn + 3) - __sn23 AS $dec)")
          .as("__vx18"))
      .withColumn("z_milli", expr(
        """CASE WHEN __vx18 > 0 THEN
             CAST(FLOOR(1000.0 * (u2 - e2)
               / sqrt(CAST(__vx18 AS DOUBLE) / 18.0)) AS BIGINT) END"""))
      .drop("__vx18")
      .withColumn("trending",
        when(col("z_milli").isNull, lit(null).cast("boolean"))
          .otherwise(abs(col("z_milli")) >= 1960L))
  }

  /** Two-sample Kolmogorov–Smirnov test — does the whole DISTRIBUTION of
    * a numeric differ between two groups (not just the location that
    * [[mannWhitney]] tests): `D = max_v |F_a(v) − F_b(v)|` over the
    * empirical CDFs, the workhorse drift gate for score/length/quality
    * distributions between two corpus slices or model versions.
    *
    * Exact integer contract: per distinct value, cumulative per-group
    * counts come off ONE [[Ranks.prefixSum]] range exchange; the CDF gap
    * is compared via the cross-multiplied integer `|cumA·n_b − cumB·n_a|`
    * (no per-value division anywhere), and `d_micro = ⌊10⁶·D⌋ =
    * max_num·10⁶ div (n_a·n_b)` divides once. The 5% rejection uses the
    * asymptotic critical value `c(0.05)=1.358`: `crit_micro =
    * ⌊10⁶·1.358·√((n_a+n_b)/(n_a·n_b))⌋` is ONE fixed double tree of
    * exact integers (q220 runtime-sqrt contract, mirrored
    * token-for-token by the oracle) and `significant = d_micro >
    * crit_micro` compares the two floored micros — identical arithmetic
    * in both engines, so the verdict hash-matches bit-for-bit.
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, d_micro, crit_micro,
    * significant)`; groups ordered lexicographically. Requires exactly
    * 2 groups (the [[mannWhitney]] precondition).
    *
    * Overflow: cum·n ≤ n² stays inside int64 to n ≈ 3·10⁹ and the
    * decimal(38,0) ride is exact far beyond; the ×10⁶ division is done
    * in decimal.
    *
    * 100 TB shape: one distinct-value groupBy (map-side combined), one
    * prefixSum range exchange over the DISTINCT table, one one-row max —
    * the q211/q213 plan; the driver sees a 2-row group table and one max
    * row.
    */
  def ksTestTwoSample(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("double").as("__v"))
      .localCheckpoint()
    val g = base.groupBy("__g").agg(count(lit(1)).as("ng"))
      .orderBy("__g").collect()
    require(g.length == 2,
      s"ksTestTwoSample: exactly 2 groups required, got ${g.length}")
    val (ga, gb) = (g(0).getString(0), g(1).getString(0))
    val (na, nb) = (g(0).getLong(1), g(1).getLong(1))
    val cnt = base.groupBy(col("__v"))
      .agg(sum(when(col("__g") === ga, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__g") === gb, 1L).otherwise(0L)).as("__cb"))
    val cum = Ranks.prefixSum(cnt, Seq(col("__v")), Seq("__ca", "__cb"))
    val dec = "decimal(38,0)"
    val maxNum = cum.agg(max(abs(
        col("__ca_cum").cast(dec) * nb - col("__cb_cum").cast(dec) * na))
      .as("__m")).collect()(0).getDecimal(0)
    val dMicro =
      if (maxNum == null) 0L // empty input: D over nothing is 0
      else (BigInt(maxNum.toBigInteger) * 1000000 /
        (BigInt(na) * nb)).toLong
    // c(0.05)·√((n_a+n_b)/(n_a·n_b)) — one fixed double tree of exact
    // integers, floored once (mirrored token-for-token by the oracle)
    val critMicro = math.floor(1e6 * 1.358 *
      math.sqrt((na + nb).toDouble / (na.toDouble * nb.toDouble))).toLong
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, na, nb, dMicro, critMicro, dMicro > critMicro))
      .toDF("grp_a", "grp_b", "n_a", "n_b", "d_micro", "crit_micro",
        "significant")
  }

  /** Two-sample Kuiper test — the CYCLIC-safe sibling of
    * [[ksTestTwoSample]]: `V = D⁺ + D⁻` (largest ECDF excess in each
    * direction) instead of the single largest gap, which makes the
    * statistic invariant to where a circular variable is cut. THE drift
    * gate for hour-of-day / day-of-week / phase-like columns, where a
    * pure rotation of the same distribution can hide from KS near the
    * cut point but never from V; on ordinary scalars it doubles as a
    * tail-sensitive KS variant.
    *
    * Same exact-integer machinery as KS: one [[Ranks.prefixSum]] range
    * exchange over the distinct pooled values, both directed gaps as
    * cross-multiplied integers (`max(cumA·n_b − cumB·n_a)` and its
    * negation — each max includes the final row's 0, so both are ≥ 0
    * without clamping), and `v_micro = (max⁺ + max⁻)·10⁶ div (n_a·n_b)`
    * divides once. The 5% critical value uses Kuiper's asymptotic
    * constant 1.747: `crit_micro = ⌊10⁶·1.747·√((n_a+n_b)/(n_a·n_b))⌋`,
    * one fixed double tree (q220 contract), mirrored by the oracle.
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, v_micro, crit_micro,
    * significant)`; exactly 2 groups required.
    *
    * Overflow / 100 TB shape: identical to [[ksTestTwoSample]] — the
    * distinct-value table is the only shuffle-sized intermediate.
    */
  def kuiperTwoSample(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("double").as("__v"))
      .localCheckpoint()
    val g = base.groupBy("__g").agg(count(lit(1)).as("ng"))
      .orderBy("__g").collect()
    require(g.length == 2,
      s"kuiperTwoSample: exactly 2 groups required, got ${g.length}")
    val (ga, gb) = (g(0).getString(0), g(1).getString(0))
    val (na, nb) = (g(0).getLong(1), g(1).getLong(1))
    val cnt = base.groupBy(col("__v"))
      .agg(sum(when(col("__g") === ga, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__g") === gb, 1L).otherwise(0L)).as("__cb"))
    val cum = Ranks.prefixSum(cnt, Seq(col("__v")), Seq("__ca", "__cb"))
    val dec = "decimal(38,0)"
    val mx = cum.agg(
        max(expr(s"cast(__ca_cum as $dec) * $nb - cast(__cb_cum as $dec) * $na")).as("__p"),
        max(expr(s"cast(__cb_cum as $dec) * $na - cast(__ca_cum as $dec) * $nb")).as("__n"))
      .collect()(0)
    val vMicro =
      if (mx.isNullAt(0)) 0L
      else ((BigInt(mx.getDecimal(0).toBigInteger) +
        BigInt(mx.getDecimal(1).toBigInteger)) * 1000000 /
        (BigInt(na) * nb)).toLong
    val critMicro = math.floor(1e6 * 1.747 *
      math.sqrt((na + nb).toDouble / (na.toDouble * nb.toDouble))).toLong
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, na, nb, vMicro, critMicro, vMicro > critMicro))
      .toDF("grp_a", "grp_b", "n_a", "n_b", "v_micro", "crit_micro",
        "significant")
  }

  /** Two-sample energy distance (Székely–Rizzo) — the distribution gap
    * as TRANSPORT-FLAVORED geometry: `E² = 2·E|X−Y| − E|X−X'| −
    * E|Y−Y'|`, zero iff the distributions coincide, sensitive to EVERY
    * kind of difference at once (location, scale, shape) where
    * [[ksTestTwoSample]] reads one worst gap and
    * [[graft.ops.Eval.wasserstein1d]] reads signed transport mass. The
    * V-statistic form (diagonal included, each ordered pair once) —
    * the version whose three mean-distance components are themselves
    * interpretable and ride along in the output.
    *
    * Exact: values micro-floor once; each pairwise-distance SUM is
    * computed WITHOUT pairs via one [[Ranks.prefixSum]] pass over the
    * distinct-value table — at value v, `Σ_{y<v}(v−y) = v·cnt_below −
    * sum_below` and symmetrically above, so Σ|x−y| folds from prefix
    * counts and prefix value-sums in decimal. The three means floor
    * once each (`m_ab = ⌊S_ab/(n_a·n_b)⌋`, already micro — the sums
    * fold micro values) and `e2_micro =
    * 2·m_ab − m_aa − m_bb` combines the floored components — documented
    * convention, replayed by the oracle, so E² can read up to 2 micro
    * below true zero on identical samples.
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, m_ab_micro,
    * m_aa_micro, m_bb_micro, e2_micro)`; exactly 2 groups.
    *
    * Overflow: prefix value-sums ride int64 — requires
    * Σ|v·10⁶| < 2⁶³ per group (|v| ≤ 10³ holds to ~10⁹ rows/side);
    * the per-row contributions and totals are decimal(38,0), loud NULL
    * past the bound, never a wrap.
    *
    * 100 TB shape: one distinct-value groupBy (map-side combined), ONE
    * prefixSum range exchange, a map-only contribution projection, one
    * one-row rollup. Nothing pair-shaped anywhere — the O(n²) sums
    * collapse through the sorted prefix identity.
    */
  def energyDistance(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__vm"))
      .localCheckpoint()
    val g = base.groupBy("__g").agg(count(lit(1)).as("ng"))
      .orderBy("__g").collect()
    require(g.length == 2,
      s"energyDistance: exactly 2 groups required, got ${g.length}")
    val (ga, gb) = (g(0).getString(0), g(1).getString(0))
    val (na, nb) = (g(0).getLong(1), g(1).getLong(1))
    val cnt = base.groupBy(col("__vm"))
      .agg(sum(when(col("__g") === ga, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__g") === gb, 1L).otherwise(0L)).as("__cb"))
      .withColumn("__sa", col("__vm") * col("__ca"))
      .withColumn("__sb", col("__vm") * col("__cb"))
    val cum = Ranks.prefixSum(cnt, Seq(col("__vm")), Seq("__ca", "__cb", "__sa", "__sb"))
    val dec = "decimal(38,0)"
    val tot = cnt.agg(sum("__sa").as("ta"), sum("__sb").as("tb")).collect()(0)
    val (totSa, totSb) = (tot.getLong(0), tot.getLong(1))
    // Σ_{y≠v}|v−y| against group G folds from G's prefix tables:
    // below = v·cntBelow − sumBelow, above = sumAbove − v·cntAbove
    def against(cSide: String, cG: String, sG: String, nG: Long, totS: Long) =
      expr(s"""cast($cSide as $dec) * (
          cast(__vm as $dec) * (${cG}_cum - $cG) - (cast(${sG}_cum as $dec) - cast(__vm as $dec) * $cG)
          + (cast(${totS}L as $dec) - ${sG}_cum) - cast(__vm as $dec) * (${nG}L - ${cG}_cum))""")
    val sums = cum.agg(
        sum(against("__ca", "__cb", "__sb", nb, totSb)).as("sab"),
        sum(against("__ca", "__ca", "__sa", na, totSa)).as("saa"),
        sum(against("__cb", "__cb", "__sb", nb, totSb)).as("sbb"))
      .collect()(0)
    def bi(i: Int): BigInt =
      if (sums.isNullAt(i)) BigInt(0) else BigInt(sums.getDecimal(i).toBigInteger)
    // the pairwise sums are ALREADY in micro units (they fold micro
    // values) — the mean divides by the pair count only
    val mAb = (bi(0) / (BigInt(na) * nb)).toLong
    val mAa = (bi(1) / (BigInt(na) * na)).toLong
    val mBb = (bi(2) / (BigInt(nb) * nb)).toLong
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, na, nb, mAb, mAa, mBb, 2 * mAb - mAa - mBb))
      .toDF("grp_a", "grp_b", "n_a", "n_b", "m_ab_micro", "m_aa_micro",
        "m_bb_micro", "e2_micro")
  }

  /** Hodges–Lehmann shift estimator — the EFFECT SIZE the rank tests
    * leave out: [[mannWhitney]] says whether group a sits above group
    * b; HL says BY HOW MUCH, as the median of all n_a·n_b pairwise
    * differences (a − b). Outlier-proof where the mean difference
    * ([[graft.ops.Causal.cohensD]]'s numerator) is one bad row from
    * nonsense; the canonical robust "how big is the shift" companion
    * number to report next to the U test's verdict.
    *
    * Never materializes row pairs: both groups collapse to their
    * DISTINCT micro-value tables (multiplicity-weighted), the
    * difference table is the distinct×distinct broadcast join (hard
    * `maxCells` require on the product — the [[kendallTauBinned]]
    * pattern; CONTINUOUS metrics must be bucketed first, e.g.
    * `floor(x·10)/10`, which bounds the cell product by the bucketed
    * range² regardless of row count — HL of the bucketed metric is the
    * estimator actually replayed), and the median comes off one
    * [[Ranks.prefixSum]] pass: the LOWER
    * median (the ⌈K/2⌉-th smallest of K = n_a·n_b weighted diffs —
    * deterministic convention, oracle-mirrored, no averaging of
    * middles so the result stays an exact observed difference).
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, n_pairs, hl_micro)`;
    * exactly 2 groups.
    *
    * Overflow: weights ca·cb ≤ n²  and cumulative weights ≤ n_a·n_b
    * ride int64 to ~3·10⁹ rows per side; diffs are micro longs.
    *
    * 100 TB shape: two map-side-combined distinct-value groupBys, one
    * BROADCAST nested-loop join of the two (cells-sized, capped) value
    * tables, a diff groupBy, one prefixSum range exchange over the
    * capped diff table, one filtered one-row min. The corpus is
    * touched exactly twice (once per group), never paired.
    */
  def hodgesLehmannShift(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      maxCells: Long = 10000000L): DataFrame = {
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__vm"))
      .localCheckpoint()
    val g = base.groupBy("__g").agg(count(lit(1)).as("ng"))
      .orderBy("__g").collect()
    require(g.length == 2,
      s"hodgesLehmannShift: exactly 2 groups required, got ${g.length}")
    val (ga, gb) = (g(0).getString(0), g(1).getString(0))
    val (na, nb) = (g(0).getLong(1), g(1).getLong(1))
    val va = base.filter(col("__g") === ga)
      .groupBy(col("__vm").as("__a")).agg(count(lit(1)).as("__ca"))
      .localCheckpoint()
    val vb = base.filter(col("__g") === gb)
      .groupBy(col("__vm").as("__b")).agg(count(lit(1)).as("__cb"))
      .localCheckpoint()
    val (da, db) = (va.count(), vb.count())
    require(da * db <= maxCells,
      s"hodgesLehmannShift: $da x $db distinct-value cells exceed " +
        s"maxCells=$maxCells — bucket the metric (coarser micro floor) " +
        "or raise the cap")
    val diffs = va.crossJoin(broadcast(vb))
      .select((col("__a") - col("__b")).as("__d"),
        (col("__ca") * col("__cb")).as("__w"))
      .groupBy("__d").agg(sum("__w").as("__w"))
    val cum = Ranks.prefixSum(diffs, Seq(col("__d")), Seq("__w"))
    val target = (na * nb + 1) / 2
    val hl = cum.filter(col("__w_cum") >= target)
      .agg(min("__d")).collect()(0).getLong(0)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, na, nb, na * nb, hl))
      .toDF("grp_a", "grp_b", "n_a", "n_b", "n_pairs", "hl_micro")
  }

  /** First-order partial correlation — the correlation between x and y
    * with a CONFOUNDER z regressed out of both sides:
    *
    *   {{{ r_xy·z = (r_xy − r_xz·r_yz) / √((1 − r_xz²)(1 − r_yz²)) }}}
    *
    * THE one-number confounding check before believing a metric
    * correlation: engagement and error rate both track traffic volume;
    * partial out volume and the "relationship" often vanishes. Pairs
    * with [[graft.ops.Causal]]'s stratified tools (Mantel–Haenszel for
    * categorical strata; this is the continuous-covariate analogue).
    *
    * Exactness: all three Pearson r's come from ONE pass of exact
    * decimal micro moments (n, Σ, Σ², all three cross-products); the
    * combination is ONE fixed correctly-rounded double tree (each r as
    * `num/√(den_a·den_b)`, then the displayed formula), floored to
    * milli — mirrored token-for-token by the oracle (q220 contract).
    * NULL when any marginal is degenerate or either (1 − r²) factor
    * underflows to ≤ 0 (perfect collinearity with z).
    *
    * Output (one row): `(n, r_xy_milli, r_xz_milli, r_yz_milli,
    * partial_r_milli)`.
    *
    * Overflow: n·Σab ≤ n²·10¹²·v² rides decimal(38,0) to n·|v| ≈ 10¹³.
    *
    * 100 TB shape: ONE map-side-combined moment rollup to a single
    * row. Nothing else.
    */
  def partialCorrelation(
      df: DataFrame,
      xCol: String,
      yCol: String,
      zCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(zCol).isNotNull)
      .select(floor(col(xCol).cast("double") * 1e6).cast("long").as("__x"),
        floor(col(yCol).cast("double") * 1e6).cast("long").as("__y"),
        floor(col(zCol).cast("double") * 1e6).cast("long").as("__z"))
    val m = base.agg(
      count(lit(1)).as("n"),
      sum(col("__x").cast(dec)).as("sx"), sum(col("__y").cast(dec)).as("sy"),
      sum(col("__z").cast(dec)).as("sz"),
      sum(expr(s"cast(__x as $dec) * __x")).as("sxx"),
      sum(expr(s"cast(__y as $dec) * __y")).as("syy"),
      sum(expr(s"cast(__z as $dec) * __z")).as("szz"),
      sum(expr(s"cast(__x as $dec) * __y")).as("sxy"),
      sum(expr(s"cast(__x as $dec) * __z")).as("sxz"),
      sum(expr(s"cast(__y as $dec) * __z")).as("syz"))
    // exact centered moments, then the one double tree
    m.withColumn("dxx", expr(s"cast(n as $dec) * sxx - sx * sx"))
      .withColumn("dyy", expr(s"cast(n as $dec) * syy - sy * sy"))
      .withColumn("dzz", expr(s"cast(n as $dec) * szz - sz * sz"))
      .withColumn("dxy", expr(s"cast(n as $dec) * sxy - sx * sy"))
      .withColumn("dxz", expr(s"cast(n as $dec) * sxz - sx * sz"))
      .withColumn("dyz", expr(s"cast(n as $dec) * syz - sy * sz"))
      .withColumn("rxy", expr(
        "cast(dxy as double) / sqrt(cast(dxx as double) * cast(dyy as double))"))
      .withColumn("rxz", expr(
        "cast(dxz as double) / sqrt(cast(dxx as double) * cast(dzz as double))"))
      .withColumn("ryz", expr(
        "cast(dyz as double) / sqrt(cast(dyy as double) * cast(dzz as double))"))
      .select(col("n"),
        expr("""cast(case when dxx > 0 and dyy > 0 then
            floor(1000.0 * rxy) end as long)""").as("r_xy_milli"),
        expr("""cast(case when dxx > 0 and dzz > 0 then
            floor(1000.0 * rxz) end as long)""").as("r_xz_milli"),
        expr("""cast(case when dyy > 0 and dzz > 0 then
            floor(1000.0 * ryz) end as long)""").as("r_yz_milli"),
        expr("""cast(case when dxx > 0 and dyy > 0 and dzz > 0
              and (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0 then
            floor(1000.0 * (rxy - rxz * ryz)
              / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)))
          end as long)""").as("partial_r_milli"))
  }

  /** Chow structural-break test per key — did the x→y regression CHANGE
    * between two regimes (pre/post a deploy, a policy flag, a detected
    * [[graft.ops.TimeSeries.pageHinkley]] alarm bucket)? Fits the
    * [[olsByGroup]] line separately per regime and pooled, and compares
    * residual mass:
    *
    *   {{{ F = ((SSR_p − SSR_1 − SSR_2) / 2) / ((SSR_1 + SSR_2) / (n − 4)) }}}
    *
    * (2 parameters per line). Each SSR is the exact-moment form
    * `SSR = (D_yy − D_xy²/D_xx) / n` — a fixed double tree over the
    * exact decimal centered moments (division-first: the naive
    * `D_yy·D_xx` product overflows decimal(38,0) at ordinary metric
    * scales), so the whole F floors once to milli (q220 contract).
    * NULL when either regime has < 3 points or a degenerate x
    * (vertical line), or SSR_1 + SSR_2 = 0 (both regimes fit
    * perfectly — F undefined, the caller sees the NULL and the
    * per-regime ns). Keys present in only ONE regime produce no row
    * (Chow needs both sides). The caller owns the F(2, n−4) critical
    * value (df varies).
    *
    * Output per key: `(key, n_pre, n_post, f_milli)`.
    *
    * 100 TB shape: one (key, regime) map-side-combined moment groupBy,
    * a key-keyed 2-row pivot join, map-only F — two collapsing
    * shuffles.
    */
  def chowTest(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String,
      postCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(keyCol).isNotNull && col(xCol).isNotNull &&
        col(yCol).isNotNull && col(postCol).isNotNull)
      .select(col(keyCol).cast("string").as("__k"),
        col(postCol).cast("boolean").as("__post"),
        floor(col(xCol).cast("double") * 1e6).cast("long").as("__x"),
        floor(col(yCol).cast("double") * 1e6).cast("long").as("__y"))
    val m = base.groupBy("__k", "__post").agg(
      count(lit(1)).as("n"),
      sum(col("__x").cast(dec)).as("sx"), sum(col("__y").cast(dec)).as("sy"),
      sum(expr(s"cast(__x as $dec) * __x")).as("sxx"),
      sum(expr(s"cast(__y as $dec) * __y")).as("syy"),
      sum(expr(s"cast(__x as $dec) * __y")).as("sxy"))
    // pooled moments are the sums of the two regimes' raw moments
    val pooled = m.groupBy("__k").agg(
      sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
      sum("sxx").as("sxx"), sum("syy").as("syy"), sum("sxy").as("sxy"))
    // SSR = (D_yy − D_xy²/D_xx)/n as a double tree over the EXACT
    // decimal centered moments (D_yy·D_xx would overflow decimal(38,0)
    // for ordinary metric scales; the division-first form never forms
    // the product)
    def ssr(p: String) = expr(
      s"""case when ${p}n >= 3
           and cast(${p}n as $dec) * ${p}sxx - ${p}sx * ${p}sx > 0 then
         (cast(cast(${p}n as $dec) * ${p}syy - ${p}sy * ${p}sy as double)
          - cast(cast(${p}n as $dec) * ${p}sxy - ${p}sx * ${p}sy as double)
            * cast(cast(${p}n as $dec) * ${p}sxy - ${p}sx * ${p}sy as double)
            / cast(cast(${p}n as $dec) * ${p}sxx - ${p}sx * ${p}sx as double))
         / cast(${p}n as double) end""")
    val pre = m.filter(!col("__post"))
      .select(col("__k") +: m.columns.filter(c => c != "__k" && c != "__post")
        .map(c => col(c).as(s"a_$c")): _*)
    val post = m.filter(col("__post"))
      .select(col("__k") +: m.columns.filter(c => c != "__k" && c != "__post")
        .map(c => col(c).as(s"b_$c")): _*)
    pooled.join(pre, Seq("__k")).join(post, Seq("__k"))
      .withColumn("__ssrp", ssr(""))
      .withColumn("__ssr1", ssr("a_"))
      .withColumn("__ssr2", ssr("b_"))
      .select(col("__k").as("key"), col("a_n").as("n_pre"),
        col("b_n").as("n_post"),
        expr("""cast(case when __ssrp is not null and __ssr1 is not null
              and __ssr2 is not null and __ssr1 + __ssr2 > 0 then
            floor(1000.0 * ((__ssrp - __ssr1 - __ssr2) / 2.0)
              / ((__ssr1 + __ssr2) / (n - 4)))
          end as long)""").as("f_milli"))
  }

  /** Multivariate (diagonal-Mahalanobis) outlier audit — the top-k rows
    * most extreme JOINTLY across several metric columns: a row can sit
    * inside every marginal's comfortable range and still be wildly
    * atypical in combination (long doc + tiny vocabulary + perfect
    * quality score). The k-column generalization of [[grubbsOutliers]];
    * the diagonal form (per-column z², no cross-covariance) is the
    * standard first-pass screen — it needs only marginal moments, so it
    * stays one collapsing pass at any scale.
    *
    * Exactness: values micro-floor once; each column's z² uses the
    * n-scaled exact form `(n·v − S)² / (n·(n·Q − S²)/(n−1))` — one
    * double tree per column from exact decimal moments — and the score
    * is `Σ_c ⌊10⁶·z_c²⌋`, an EXACT integer (per-term floor, documented)
    * so the (score DESC, id ASC) ranking is bit-deterministic and
    * oracle-replayable. Degenerate columns (zero variance) contribute
    * 0 to every row (no information, not infinity).
    *
    * Output: top `k` rows `(rank, id, score_micro, n_cols_used, n)`.
    *
    * 100 TB shape: ONE map-side-combined moment pass (one row, 3·k
    * numbers), broadcast back, a map-only score projection, one
    * [[Ranks.globalRank]] range exchange, k output rows.
    */
  def multivariateOutliers(
      df: DataFrame,
      idCol: String,
      valueCols: Seq[String],
      k: Int = 20): DataFrame = {
    require(valueCols.nonEmpty, "multivariateOutliers needs value columns")
    require(k >= 1, s"k $k must be >= 1")
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(idCol).isNotNull &&
        valueCols.map(col(_).isNotNull).reduce(_ && _))
      .select(col(idCol).as("id") +: valueCols.zipWithIndex.map {
        case (c, i) =>
          floor(col(c).cast("double") * 1e6).cast("long").as(s"__v$i")
      }: _*)
      .localCheckpoint()
    val momAggs = valueCols.indices.flatMap { i =>
      Seq(sum(col(s"__v$i").cast(dec)).as(s"s$i"),
        sum(expr(s"cast(__v$i as $dec) * __v$i")).as(s"q$i"))
    }
    val mom = base.agg(count(lit(1)).as("n"), momAggs: _*)
    val scored = base.crossJoin(broadcast(mom))
    val termExprs = valueCols.indices.map { i =>
      // ⌊10⁶·z²⌋ per column; zero-variance columns contribute 0
      s"""case when n >= 2 and cast(n as $dec) * q$i - s$i * s$i > 0 then
           cast(floor(1000000.0 *
             cast((cast(n as $dec) * __v$i - s$i)
               * (cast(n as $dec) * __v$i - s$i) as double)
             / (cast(n as double)
                * cast(cast(n as $dec) * q$i - s$i * s$i as double)
                / (cast(n as double) - 1.0))) as long)
         else 0L end"""
    }
    val usedExprs = valueCols.indices.map { i =>
      s"case when cast(n as $dec) * q$i - s$i * s$i > 0 then 1 else 0 end"
    }
    val withScore = scored
      .withColumn("score_micro", expr(termExprs.mkString(" + ")))
      .withColumn("n_cols_used", expr(usedExprs.mkString(" + ")).cast("long"))
    Ranks.globalRank(
        withScore.select(col("id"), col("score_micro"), col("n_cols_used"), col("n")),
        Seq(col("score_micro") * -1, col("id")), "rank")
      .filter(col("rank") <= k)
      .select(col("rank"), col("id"), col("score_micro"),
        col("n_cols_used"), col("n"))
  }

  /** Hill tail-index estimator — HOW heavy is a heavy tail? Over the
    * top k+1 order statistics of a positive metric (degrees, doc
    * lengths, per-user event counts, bucket sizes):
    *
    *   {{{ α̂ = k / Σ_{i=1..k} ln(x_(i) / x_(k+1)) }}}
    *
    * α ≈ 1–2 means wild Pareto mass (a hub/boilerplate cluster WILL
    * dominate any quadratic stage — size `maxBucket`-style caps from
    * this number); α > 3 means tame tails where means behave. The
    * quantitative companion to this repo's skew guards.
    *
    * Determinism: the top-(k+1) VALUE multiset is order-unambiguous
    * (ties don't change it); each term floors once
    * (`⌊10⁶·ln(x_micro/x_{k+1,micro})⌋`, one division then one ln —
    * oracle-mirrored token for token), the term sum is exact, and
    * `alpha_milli = k·10⁹ div Σterms` is pure integer. NULL alpha when
    * the top k+1 values are all equal (zero tail information).
    *
    * Output (one row): `(n, k, xk_micro, sum_ln_micro, alpha_milli)`.
    *
    * 100 TB shape: one TakeOrdered top-(k+1) (never a global sort), a
    * k-row driver fold (model-sized, the k-means-centroid pattern),
    * one-row output.
    */
  def hillTailIndex(
      df: DataFrame,
      valueCol: String,
      k: Int = 100): DataFrame = {
    require(k >= 2 && k <= 100000, s"k $k out of [2, 100000]")
    val base = df
      .filter(col(valueCol).isNotNull && col(valueCol).cast("double") > 0)
      .select(floor(col(valueCol).cast("double") * 1e6).cast("long").as("__v"))
      .filter(col("__v") > 0)
      .localCheckpoint()
    val n = base.count()
    require(n > k,
      s"hillTailIndex: need more than k=$k positive rows, got $n")
    val top = base.orderBy(col("__v").desc).limit(k + 1)
      .collect().map(_.getLong(0))
    val xk1 = top.last
    val sumLn = top.take(k).map(x =>
      math.floor(1e6 * math.log(x.toDouble / xk1.toDouble)).toLong).sum
    val alpha =
      if (sumLn <= 0L) None
      else Some(k.toLong * 1000000000L / sumLn)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, k.toLong, xk1, sumLn, alpha))
      .toDF("n", "k", "xk_micro", "sum_ln_micro", "alpha_milli")
  }

  /** Two-sample Anderson–Darling statistic (Pettitt's rank form) — the
    * TAIL-WEIGHTED member of the drift family: [[ksTestTwoSample]]
    * reads the single worst ECDF gap (dominated by the middle, where
    * ECDFs move most), [[cramerVonMises]] integrates the squared gap
    * uniformly; AD divides each gap by `i(N−i)`, so discrepancies in
    * the DISTRIBUTION TAILS — exactly where score cutoffs, outlier
    * gates, and safety thresholds live — count the most:
    *
    *   {{{ A² = (1/(n_a·n_b)) Σ_{i=1}^{N−1} (M_i·N − n_a·i)² / (i·(N−i)) }}}
    *
    * with M_i = how many of the first i pooled observations belong to
    * group a. Ties order deterministically by (value, group-a-first) —
    * the documented pooled-order convention the oracle mirrors (the
    * classic statistic assumes continuous data; this convention makes
    * the discrete replay exact and engine-independent).
    *
    * Exact integer: values micro-floor once; M_i and i come off ONE
    * [[Ranks.prefixSum]] pass over the distinct-value cells, expanded
    * to per-rank rows MAP-SIDE (each cell knows its starting pooled
    * index and starting M, and within a cell both advance linearly);
    * each term floors once (`u²·10⁶ div (i·(N−i))`, nonneg) and
    * `ad_micro = ⌊Σterms/(n_a·n_b)⌋` divides once more. `significant`
    * compares against the asymptotic 5% critical value A² = 2.492
    * (documented approximation — no small-sample correction).
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, ad_micro,
    * significant)`; exactly 2 groups.
    *
    * Overflow: u² ≤ N⁴ so u²·10⁶ rides decimal(38,0) to N ≈ 10⁸ pooled
    * rows — loud decimal NULL past it, never a wrap (the require
    * documents the bound).
    *
    * 100 TB shape: one distinct-value groupBy, one prefixSum range
    * exchange over the distinct table, a map-only explode back to N
    * per-rank rows (the corpus's own size — no pair stage), one one-row
    * rollup.
    */
  def andersonDarlingTwoSample(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__vm"))
      .localCheckpoint()
    val g = base.groupBy("__g").agg(count(lit(1)).as("ng"))
      .orderBy("__g").collect()
    require(g.length == 2,
      s"andersonDarlingTwoSample: exactly 2 groups required, got ${g.length}")
    val (ga, gb) = (g(0).getString(0), g(1).getString(0))
    val (na, nb) = (g(0).getLong(1), g(1).getLong(1))
    val nTot = na + nb
    require(nTot <= 100000000L,
      s"andersonDarlingTwoSample: $nTot pooled rows exceed the exact " +
        "u^2*1e6 decimal(38,0) headroom (~1e8) — sample first")
    val cnt = base.groupBy(col("__vm"))
      .agg(sum(when(col("__g") === ga, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__g") === gb, 1L).otherwise(0L)).as("__cb"))
    val cum = Ranks.prefixSum(cnt, Seq(col("__vm")), Seq("__ca", "__cb"))
    val dec = "decimal(38,0)"
    // within a value's run: the a-rows first (M advances with i), then
    // the b-rows (M constant at the value's inclusive a-prefix)
    val aRows = cum.filter(col("__ca") > 0)
      .select(explode(expr("sequence(1L, __ca)")).as("__j"),
        (col("__ca_cum") - col("__ca") + col("__cb_cum") - col("__cb")).as("__i0"),
        (col("__ca_cum") - col("__ca")).as("__m0"))
      .select((col("__i0") + col("__j")).as("i"),
        (col("__m0") + col("__j")).as("m"))
    val bRows = cum.filter(col("__cb") > 0)
      .select(explode(expr("sequence(1L, __cb)")).as("__j"),
        (col("__ca_cum") + col("__cb_cum") - col("__cb")).as("__i0"),
        col("__ca_cum").as("m"))
      .select((col("__i0") + col("__j")).as("i"), col("m"))
    val total = aRows.unionByName(bRows)
      .filter(col("i") < nTot)
      .select(expr(
        s"""cast((cast(m as $dec) * $nTot - ${na}L * i)
           * (cast(m as $dec) * $nTot - ${na}L * i) * 1000000
           div (cast(i as $dec) * (${nTot}L - i)) as $dec)""").as("__t"))
      .agg(sum("__t")).collect()(0)
    val adMicro =
      if (total.isNullAt(0)) 0L
      else (BigInt(total.getDecimal(0).toBigInteger) / (BigInt(na) * nb)).toLong
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, na, nb, adMicro, adMicro > 2492000L))
      .toDF("grp_a", "grp_b", "n_a", "n_b", "ad_micro", "significant")
  }

  /** Friedman test — the repeated-measures rank ANOVA: do k treatments
    * differ when every block (subject, day, prompt) sees ALL k of them?
    * The within-block ranking removes block-level shifts that would
    * drown [[kruskalWallis]] (which assumes independent groups) — the
    * right gate for "5 model variants scored on the same prompts" or
    * "event types compared day by day".
    *
    * Blocks are kept STRUCTURALLY only when they carry all k treatments
    * after (block, treatment) dedup (duplicates resolve to the MIN
    * value, deterministic and oracle-mirrored); k is the GLOBAL distinct
    * treatment count. Ranks are within-block tie-midranks kept integer
    * by DOUBLING (`2·cum − c + 1` off a per-(block, value) count and a
    * BLOCK-KEYED running sum — no keyless window anywhere). With
    * R2_j = Σ_blocks r2 and A2 = Σ r2², the tie-corrected statistic
    * (Conover's form) reduces to pure integers:
    *
    * {{{ χ²_F = (k−1) · Σ_j (R2_j − n(k+1))² / (A2 − n·k·(k+1)²) }}}
    *
    * `chi2_milli` floors once; NULL when the denominator is 0 (every
    * block fully tied). `significant` compares against the caller's
    * χ²(k−1) critical value in milli (default 9488 = χ²₄ at 5%, the
    * k = 5 case).
    *
    * Output (one row): `(n_blocks, k_treatments, chi2_milli,
    * significant)`.
    *
    * Overflow: R2_j ≤ 2nk and A2 ≤ 4nk³ ride decimal(38,0) to
    * n·k² ≈ 10¹⁸ — unreachable.
    *
    * 100 TB shape: one (block, treatment) dedup groupBy, one block-count
    * filter join, one (block, value) count + block-keyed window (scales
    * with blocks), then model-sized k-row and one-row rollups.
    */
  def friedmanTest(
      df: DataFrame,
      blockCol: String,
      treatmentCol: String,
      valueCol: String,
      critMilli: Long = 9488L): DataFrame = {
    val dec = "decimal(38,0)"
    val obs = df
      .filter(col(blockCol).isNotNull && col(treatmentCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(blockCol).cast("string").as("__blk"),
        col(treatmentCol).cast("string").as("__t"),
        col(valueCol).cast("double").as("__v"))
      .groupBy("__blk", "__t").agg(min("__v").as("__v"))
      .localCheckpoint()
    val k = obs.select("__t").distinct().count()
    require(k >= 2, s"friedmanTest needs >= 2 treatments, got $k")
    val keptBlocks = obs.groupBy("__blk").agg(count(lit(1)).as("__c"))
      .filter(col("__c") === k).select("__blk")
    val kept = obs.join(keptBlocks, "__blk")
    val cnt = kept.groupBy("__blk", "__v").agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy("__blk").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranks = cnt.withColumn("__cum", sum("__c").over(w))
      .select(col("__blk"), col("__v"),
        (lit(2L) * col("__cum") - col("__c") + 1L).as("__r2"))
    val rows = kept.join(ranks, Seq("__blk", "__v"))
      .select(col("__blk"), col("__t"), col("__r2"))
      .localCheckpoint()
    val rt = rows.groupBy("__t")
      .agg(sum(col("__r2").cast(dec)).as("__r2j"))
    val glob = rows.agg(countDistinct("__blk").as("n_blocks"),
      sum(expr(s"cast(__r2 as $dec) * __r2")).as("__a2"))
    rt.crossJoin(broadcast(glob))
      .agg(first("n_blocks").as("n_blocks"), first("__a2").as("__a2"),
        sum(expr(s"(__r2j - cast(n_blocks as $dec) * ${k + 1}) * " +
          s"(__r2j - cast(n_blocks as $dec) * ${k + 1})")).as("__num"))
      .select(col("n_blocks"), lit(k).as("k_treatments"),
        expr(s"""cast(case when
             __a2 - cast(n_blocks as $dec) * $k * ${(k + 1) * (k + 1)} > 0
           then ${k - 1} * 1000 * __num div
             (__a2 - cast(n_blocks as $dec) * $k * ${(k + 1) * (k + 1)})
           end as long)""").as("chi2_milli"))
      .withColumn("significant",
        when(col("chi2_milli").isNull, lit(null).cast("boolean"))
          .otherwise(col("chi2_milli") >= critMilli))
  }

  /** Page's trend test — the ORDERED-alternative companion to
    * [[friedmanTest]] exactly as [[jonckheereTerpstra]] is to
    * [[kruskalWallis]]: within blocks that each see all k treatments,
    * is the response MONOTONE in the treatment order (dose, decile,
    * model-size tier)? Friedman asks "any difference"; Page's L asks
    * "this specific ordering", with far more power when the ordering is
    * the hypothesis.
    *
    * Treatments are ordered by their numeric cast (the dose axis);
    * blocks are kept structurally complete and within-block tie-
    * midranks are DOUBLED, both exactly as [[friedmanTest]]. With
    * position weights j = 1..k and L2 = Σ_j j·R2_j (doubled L):
    *
    * {{{ χ²_L(1 df) = (6·L2 − 3·n·k·(k+1)²)² / (n·k²·(k+1)·(k²−1)) }}}
    *
    * `chi2_milli` floors once from exact decimal(38,0) integers;
    * `direction` is the sign of (6·L2 − 3nk(k+1)²) — positive means the
    * response rises with the treatment order. The variance term is the
    * classical NO-TIES form (ties deflate it slightly; the midranks
    * keep L itself honest) — documented, standard practice for Page's
    * test. NULL when k < 3 or n = 0.
    *
    * Output (one row): `(n_blocks, k_treatments, l2, chi2_milli,
    * direction, significant)` against χ²(1): 3841 milli at 5%.
    *
    * Overflow: L2 ≤ 2nk² and the squared numerator ≤ 36·n²k⁶ rides
    * decimal(38,0) to n·k³ ≈ 10¹⁸ — unreachable.
    *
    * 100 TB shape: [[friedmanTest]]'s plan — block-keyed windows, then
    * k-row and one-row rollups.
    */
  def pagesTrendTest(
      df: DataFrame,
      blockCol: String,
      treatmentCol: String,
      valueCol: String,
      critMilli: Long = 3841L): DataFrame = {
    val dec = "decimal(38,0)"
    val obs = df
      .filter(col(blockCol).isNotNull && col(treatmentCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(blockCol).cast("string").as("__blk"),
        col(treatmentCol).cast("long").as("__t"),
        col(valueCol).cast("double").as("__v"))
      .groupBy("__blk", "__t").agg(min("__v").as("__v"))
      .localCheckpoint()
    val treatments = obs.select("__t").distinct().orderBy("__t")
      .collect().map(_.getLong(0))
    val k = treatments.length
    require(k >= 3, s"pagesTrendTest needs >= 3 ordered treatments, got $k")
    val pos = treatments.zipWithIndex.map { case (t, i) => (t, (i + 1).toLong) }
    val posDf = df.sparkSession.createDataFrame(pos).toDF("__t", "__j")
    val keptBlocks = obs.groupBy("__blk").agg(count(lit(1)).as("__c"))
      .filter(col("__c") === k.toLong).select("__blk")
    val kept = obs.join(keptBlocks, "__blk")
    val cnt = kept.groupBy("__blk", "__v").agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy("__blk").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranks = cnt.withColumn("__cum", sum("__c").over(w))
      .select(col("__blk"), col("__v"),
        (lit(2L) * col("__cum") - col("__c") + 1L).as("__r2"))
    kept.join(ranks, Seq("__blk", "__v"))
      .join(broadcast(posDf), Seq("__t"))
      .agg(countDistinct("__blk").as("n_blocks"),
        sum(expr(s"cast(__j as $dec) * __r2")).as("__l2"))
      .select(col("n_blocks"), lit(k.toLong).as("k_treatments"),
        expr("cast(__l2 as long)").as("l2"),
        expr(s"""cast(case when n_blocks > 0 then
            (6 * __l2 - cast(n_blocks as $dec) * ${3L * k * (k + 1) * (k + 1)})
            * (6 * __l2 - cast(n_blocks as $dec) * ${3L * k * (k + 1) * (k + 1)})
            * 1000 div (cast(n_blocks as $dec) *
              ${k.toLong * k * (k + 1) * (k.toLong * k - 1)})
          end as long)""").as("chi2_milli"),
        expr(s"""case when n_blocks > 0 then
            case when 6 * __l2 - cast(n_blocks as $dec) *
                ${3L * k * (k + 1) * (k + 1)} > 0 then 1L
              when 6 * __l2 - cast(n_blocks as $dec) *
                ${3L * k * (k + 1) * (k + 1)} < 0 then -1L
              else 0L end
          end""").as("direction"))
      .withColumn("significant",
        when(col("chi2_milli").isNull, lit(null).cast("boolean"))
          .otherwise(col("chi2_milli") >= critMilli))
  }

  /** Brown–Forsythe variance-homogeneity test — the PRECONDITION check
    * for [[anovaEta]]'s pooled-variance F and the classic robust Levene
    * variant: do k groups share a spread, judged on absolute deviations
    * from each group's own MEDIAN (median-centering keeps the test
    * honest under skew, where mean-centered Levene inflates)? A corpus
    * pipeline asks this before trusting any pooled σ: per-source score
    * spreads, per-language length spreads.
    *
    * Mechanics, all exact integers until the one final double tree:
    * values floor to micro; each group's DOUBLED median `m2` comes off
    * the distinct-value cumulative table (`x_lo + x_hi` at ranks
    * `(n+1) div 2` and `n div 2 + 1` — integer, no interpolation);
    * deviations `z = |2v − m2|` stay integral (2-micro units — F is
    * scale-invariant so the doubling cancels); the one-way F on z
    * replays [[anovaEta]]'s exact-decimal rollup verbatim (per-group
    * `⌊S²/n⌋` via modulus subtraction, then the q220 fixed double tree)
    * to `f_milli = ⌊1000·F⌋`. NULL when k < 2, n ≤ k, or the within
    * sum degenerates (all groups constant).
    *
    * Output (one row): `(n, n_groups, f_milli)`. The F reference
    * distribution is F(k−1, n−k) — the caller owns the critical value
    * (dfs vary), same contract as [[anovaEta]].
    *
    * Overflow: z ≤ 2·10⁶·|v|; Σz² per group ≤ 4·10¹²·v²·n — inside
    * decimal(38,0) to n ≈ 10²¹/v², and the anovaEta quotient bound
    * |Σz| < 10¹⁶·√n_g binds first for small groups (documented there).
    *
    * 100 TB shape: the corpus collapses to distinct (group, value)
    * cells map-side; the median window runs over that bounded cell
    * table; medians broadcast back (k rows); moments are one more
    * map-side-combined groupBy. Two passes over the data, nothing
    * corpus-sized ever shuffles unaggregated.
    */
  def brownForsythe(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__v"))
      .localCheckpoint()
    val cells = base.groupBy("__g", "__v").agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy("__g").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("__g")
    val med = cells
      .withColumn("__cum", sum("__c").over(wCum))
      .withColumn("__n", sum("__c").over(wAll))
      .groupBy("__g")
      .agg(
        min(when(col("__cum") >= expr("(__n + 1) div 2"), col("__v")))
          .as("__mlo"),
        min(when(col("__cum") >= expr("__n div 2 + 1"), col("__v")))
          .as("__mhi"))
      .select(col("__g"), (col("__mlo") + col("__mhi")).as("__m2"))
    val z = base.join(broadcast(med), "__g")
      .select(col("__g"), abs(col("__v") * 2 - col("__m2")).as("__z"))
    val dec = "decimal(38,0)"
    z.groupBy("__g")
      .agg(count(lit(1)).as("ng"),
        sum(col("__z").cast(dec)).as("sg"),
        sum(expr(s"cast(__z as $dec) * __z")).as("qg"))
      .agg(sum("ng").as("n"), count(lit(1)).as("k"),
        sum("sg").as("s"), sum("qg").as("q"),
        sum(expr(s"""cast((sg * sg - (sg * sg) % ng) / ng
                    as $dec)""")).as("sb_raw"))
      .select(col("n"), col("k").as("n_groups"),
        expr("""case when k >= 2 and n > k then
             cast(floor(1000.0 *
               ((sb_raw - cast(s as double) * cast(s as double) / n) / (k - 1))
               / nullif((cast(q as double) - sb_raw) / (n - k), 0.0))
             as long) end""").as("f_milli"))
  }

  /** Bartlett's test of variance homogeneity — the classic
    * normal-theory χ² that [[brownForsythe]]'s robust F complements:
    * read both; Bartlett is the more powerful test when the groups
    * are near-normal and the more misleading one under heavy tails
    * (its known kurtosis sensitivity — a disagreement between the
    * two IS the heavy-tail diagnostic). χ²(k−1) = [(N−k)·ln S_p² −
    * Σ(n_i−1)·ln S_i²] / C with the standard small-sample correction
    * C = 1 + (Σ1/(n_i−1) − 1/(N−k))/(3(k−1)).
    *
    * Determinism: per-group variance numerators V_i = n_i·Σv² −
    * (Σv)² are exact decimals of micro values; each ln enters as ONE
    * rounded micro term (t_i = ROUND(10⁶·ln(V_i/(n_i(n_i−1))))) and
    * each reciprocal as one pico term (10¹² div (n_i−1), exact
    * integer division) — so both cross-group sums are integer and
    * order-independent; the common micro² scale cancels exactly
    * because Σ(n_i−1) = N−k. Pooled variance uses per-group
    * w_i = V_i div n_i (≤ k micro² slack, documented).
    *
    * Output (one row): `(n, n_groups, n_dropped, df, chi2_milli)`;
    * NULL when fewer than 2 usable groups (a group needs n ≥ 2 and
    * nonzero spread — constant groups are DROPPED and counted, as ln 0
    * is the statistic saying "infinitely unequal", which callers
    * should read from n_dropped instead of an overflow).
    *
    * 100 TB shape: ONE map-side-combined groupBy(group) carrying
    * three moments; the finish is driver arithmetic on the ≤maxGroups
    * group table (hard require).
    */
  def bartlett(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      maxGroups: Int = 10000): DataFrame = {
    require(maxGroups >= 2, s"maxGroups $maxGroups must be >= 2")
    val dec = "decimal(38,0)"
    val g = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__v"))
      .groupBy("__g")
      .agg(count(lit(1)).as("ng"),
        sum(col("__v").cast(dec)).as("sg"),
        sum(expr(s"cast(__v as $dec) * __v")).as("qg"))
      .collect()
    require(g.length <= maxGroups,
      s"bartlett: ${g.length} groups exceed maxGroups=$maxGroups")
    val rows = g.map { r =>
      val ng = r.getLong(1)
      val v = BigInt(ng) * BigInt(r.getDecimal(3).toBigInteger) -
        BigInt(r.getDecimal(2).toBigInteger).pow(2)
      (ng, v)
    }
    val usable = rows.filter { case (ng, v) => ng >= 2 && v > 0 }
    val nDropped = rows.length - usable.length
    val n = usable.map(_._1).sum
    val k = usable.length.toLong
    val out: Option[Long] =
      if (k >= 2 && n > k) {
        // half-away-from-zero, the oracle's ROUND (Scala math.round is
        // half-toward-+inf and would differ on exact negative halves)
        def rnd(x: Double): Long =
          if (x >= 0) math.floor(x + 0.5).toLong
          else -math.floor(-x + 0.5).toLong
        // per-group micro ln terms and pico reciprocals: integer sums
        val lnSum = usable.map { case (ng, v) =>
          val s2 = v.doubleValue / (ng.toDouble * (ng - 1))
          (ng - 1) * rnd(1e6 * math.log(s2))
        }.sum
        val pooled = usable.map { case (ng, v) => v / ng }.sum
        val sp2 = pooled.doubleValue / (n - k)
        val lnP = (n - k) * rnd(1e6 * math.log(sp2))
        val recipSum = usable.map { case (ng, _) =>
          1000000000000L / (ng - 1)
        }.sum
        val recipP = 1000000000000L / (n - k)
        val c = 1.0 + (recipSum - recipP).toDouble / 1e12 / (3.0 * (k - 1))
        Some(math.floor(1000.0 * ((lnP - lnSum).toDouble / 1e6) / c).toLong)
      } else None
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, k, nDropped.toLong, math.max(k - 1, 0L), out))
      .toDF("n", "n_groups", "n_dropped", "df", "chi2_milli")
  }

  /** Lin's concordance correlation coefficient — AGREEMENT between two
    * continuous measurements on the 45° line, not mere correlation:
    * Pearson r forgives any linear recalibration, CCC penalizes scale
    * and location shifts too. The question "did the new scorer return
    * the SAME scores, not just monotonically related ones" is a CCC
    * question (the continuous twin of [[graft.ops.Eval.fleissKappa]];
    * [[graft.ops.Eval]]'s ICC covers the exchangeable-rater design).
    *
    *   {{{ ccc = 2·s_xy / (s_x² + s_y² + (x̄ − ȳ)²) }}}
    *
    * With micro-floored inputs and exact decimal moments the n²-scaled
    * identity is pure integers: num = 2(n·Σxy − Σx·Σy), den =
    * (n·Σx² − (Σx)²) + (n·Σy² − (Σy)²) + (Σx − Σy)² ≥ |num|, so
    * `ccc_micro = ⌊10⁶·num/den⌋` (sign-split, oracle-mirrored; NULL
    * when den = 0 — both columns constant). Pearson `r_milli` rides
    * along as ONE fixed double tree (q220 sqrt contract) so the
    * location/scale penalty is visible: ccc ≈ r means calibrated,
    * ccc ≪ r means shifted or rescaled.
    *
    * Output (one row): `(n, ccc_micro, r_milli)`.
    *
    * Overflow: |num| ≤ 2(|n·Σxy| + |Σx·Σy|) ≤ 4·10¹⁶·n² at |v| ≤ 100,
    * so 10⁶·|num| stays inside decimal(38,0) to n ≈ 5·10⁷ rows
    * (tighter than the int64-family 10¹⁹ line; CCC inputs are
    * typically per-key score AVERAGES — pre-reduce with a groupBy when
    * the raw pair table is bigger). Past the bound decimals NULL
    * loudly, never wrap.
    *
    * 100 TB shape: ONE map-side-combined scalar aggregate — six decimal
    * moments, nothing else.
    */
  def linCcc(
      df: DataFrame,
      xCol: String,
      yCol: String): DataFrame =
    linCccMicro(
      df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
        .select(floor(col(xCol).cast("double") * 1e6).cast("long").as("x"),
          floor(col(yCol).cast("double") * 1e6).cast("long").as("y")),
      "x", "y")

  /** [[linCcc]] over values ALREADY in integer micro units — the entry
    * point for callers whose pairs come out of integer arithmetic
    * (floor-divided per-key micro means): no double round-trip, no
    * second ×10⁶ blow-up of an already-micro input (the
    * [[wilcoxonSignedRankMicro]] contract). The double-typed overload
    * floors once and delegates here.
    */
  def linCccMicro(
      df: DataFrame,
      xMicroCol: String,
      yMicroCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    df.filter(col(xMicroCol).isNotNull && col(yMicroCol).isNotNull)
      .select(col(xMicroCol).cast("long").as("__x"),
        col(yMicroCol).cast("long").as("__y"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast(dec)).as("sx"),
        sum(col("__y").cast(dec)).as("sy"),
        sum(expr(s"cast(__x as $dec) * __x")).as("sxx"),
        sum(expr(s"cast(__y as $dec) * __y")).as("syy"),
        sum(expr(s"cast(__x as $dec) * __y")).as("sxy"))
      .withColumn("__num",
        expr(s"2 * (cast(n as $dec) * sxy - sx * sy)"))
      .withColumn("__den", expr(
        s"""(cast(n as $dec) * sxx - sx * sx) +
           (cast(n as $dec) * syy - sy * sy) + (sx - sy) * (sx - sy)"""))
      .select(col("n"),
        expr("cast(case when __den > 0 then __num * 1000000 div __den end as long)")
          .as("ccc_micro"),
        expr(s"""cast(case when n > 1
            and cast(n as $dec) * sxx - sx * sx > 0
            and cast(n as $dec) * syy - sy * sy > 0 then
          floor(1000.0 * cast(cast(n as $dec) * sxy - sx * sy as double)
            / sqrt(cast(cast(n as $dec) * sxx - sx * sx as double)
              * cast(cast(n as $dec) * syy - sy * sy as double)))
          end as long)""").as("r_milli"))
  }

  /** Two-sample Cramér–von Mises criterion — the INTEGRATED-SQUARE
    * member of the drift-test family: [[ksTestTwoSample]] reads the
    * single worst ECDF gap (sharp against local shifts, blind to many
    * small ones), [[graft.ops.Eval.wasserstein1d]] reads transport
    * mass; CvM squares the gap at EVERY pooled point, catching broad
    * low-amplitude drift KS misses. Anderson's two-sample form:
    *
    *   {{{ T = n₁n₂/N² · Σ_{pooled z} (F₁(z) − F₂(z))² }}}
    *
    * Exactness: with distinct-value counts (c₁, c₂) and prefix sums,
    * each pooled point contributes `(n₂·cum₁ − n₁·cum₂)²` EXACTLY —
    * the whole sum `U = Σ_v (c₁+c₂)·dev²` is one exact decimal, no
    * per-term floors (the cleanest member of the family); T is ONE
    * fixed double tree `⌊10⁶·U/(N²·n₁·n₂)⌋` (q220 contract).
    * `significant` = t_micro ≥ 461000, the asymptotic 5% point of the
    * CvM limiting distribution.
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, t_micro,
    * significant)`; exactly two groups required, lexicographic order.
    *
    * Overflow: dev² ≤ (n₁n₂)² and U ≤ N⁵/16 — exact inside
    * decimal(38,0) to N ≈ 5·10⁷ pooled rows, enforced by a loud
    * `require` (the permutation-test precedent: sample or pre-bucket
    * past it; a drift gate does not need more).
    *
    * 100 TB shape: one distinct-value collapse (map-side combine), one
    * [[Ranks.prefixSum]] range exchange over the distinct table, one
    * scalar rollup. The corpus is read once.
    */
  def cramerVonMises(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      maxRows: Long = 50000000L): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__v"))
      .localCheckpoint()
    val grps = base.groupBy("__g").agg(count(lit(1)).as("__n"))
      .orderBy("__g").collect()
    require(grps.length == 2,
      s"cramerVonMises: exactly 2 groups required, got ${grps.length}")
    val (ga, gb) = (grps(0).getString(0), grps(1).getString(0))
    val (na, nb) = (grps(0).getLong(1), grps(1).getLong(1))
    require(na + nb <= maxRows,
      s"cramerVonMises: ${na + nb} pooled rows > maxRows=$maxRows — " +
        "U = Σ(c₁+c₂)·dev² grows as N⁵; sample or pre-bucket first")
    val cnt = base.groupBy("__v")
      .agg(count(when(col("__g") === ga, 1)).as("__c1"),
        count(when(col("__g") === gb, 1)).as("__c2"))
    val u = Ranks.prefixSum(cnt, Seq(col("__v")), Seq("__c1", "__c2"))
      .agg(sum(expr(s"""cast(__c1 + __c2 as $dec) *
          (cast(${nb}L as $dec) * __c1_cum - cast(${na}L as $dec) * __c2_cum) *
          (cast(${nb}L as $dec) * __c1_cum - cast(${na}L as $dec) * __c2_cum)"""))
        .as("__u"))
      .collect()(0).getDecimal(0)
    val n = na + nb
    val tMicro: Option[Long] =
      if (u == null || na == 0L || nb == 0L) None
      else Some(math.floor(1e6 * new java.math.BigDecimal(u.toBigInteger)
        .doubleValue() /
        (n.toDouble * n * na * nb)).toLong)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, na, nb, tMicro, tMicro.map(_ >= 461000L)))
      .toDF("grp_a", "grp_b", "n_a", "n_b", "t_micro", "significant")
  }

  /** Mood's median test — do k groups share a MEDIAN, asked with
    * nothing but counts: classify every row as above the GLOBAL median
    * or not, then chi-square the k×2 table. Cruder than
    * [[kruskalWallis]] (it bins ranks to one bit) but immune to
    * anything monotone and meaningful when distributions differ in
    * shape so much that rank sums mislead; the location complement of
    * [[brownForsythe]]'s spread test.
    *
    * Mechanics: the global DOUBLED median `m2` comes off the
    * distinct-value prefix table ([[brownForsythe]]'s recipe, one
    * [[Ranks.prefixSum]] range exchange — no keyed window needed);
    * ties with the median count NOT-above (documented, the
    * conservative convention). The chi-square uses [[graft.ops.Eval]]
    * cramersV's observed-cell identity `χ² = n·(Σ o²/(r·c) − 1)` with
    * each cell term floored once as `10⁶·n·o² div (n_g·c_side)` — pure
    * integer, oracle-replayed. NULL when k < 2 or either side is
    * empty (all values equal the median).
    *
    * Output (one row): `(n, n_groups, n_above, chi2_micro)` — the
    * reference distribution is χ²(k−1), critical value caller-owned.
    *
    * Overflow: 10⁶·n·o² ≤ 10⁶·n³ inside decimal(38,0) to n ≈ 3·10¹⁰.
    *
    * 100 TB shape: one distinct-value collapse + prefixSum range
    * exchange for the median, a one-row broadcast back, ONE map-side
    * groupBy(group) of the bit, a k-row rollup.
    */
  def moodsMedian(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__v"))
      .localCheckpoint()
    val cnt = base.groupBy("__v").agg(count(lit(1)).as("__c"))
    val cum = Ranks.prefixSum(cnt, Seq(col("__v")), Seq("__c"))
    val med = cum
      .crossJoin(broadcast(cum.agg(sum("__c").as("__n"))))
      .agg(
        min(when(col("__c_cum") >= expr("(__n + 1) div 2"), col("__v")))
          .as("__mlo"),
        min(when(col("__c_cum") >= expr("__n div 2 + 1"), col("__v")))
          .as("__mhi"))
      .select((col("__mlo") + col("__mhi")).as("__m2"))
    val cells = base.crossJoin(broadcast(med))
      .groupBy("__g")
      .agg(count(lit(1)).as("ng"),
        count(when(col("__v") * 2 > col("__m2"), 1)).as("oa"))
      .withColumn("ob", col("ng") - col("oa"))
    cells.agg(
        sum("ng").as("n"), count(lit(1)).as("k"),
        sum("oa").as("n_above"), sum("ob").as("__nb"))
      .crossJoin(broadcast(cells.select("__g", "ng", "oa", "ob")))
      .groupBy("n", "k", "n_above", "__nb")
      .agg(sum(expr(s"""case when n_above > 0 and __nb > 0 then
            cast(n as $dec) * oa * oa * 1000000
              div (cast(ng as $dec) * n_above)
            + cast(n as $dec) * ob * ob * 1000000
              div (cast(ng as $dec) * __nb)
          end""")).as("__s"))
      .select(col("n"), col("k").as("n_groups"), col("n_above"),
        expr("""cast(case when k >= 2 and n_above > 0 and __nb > 0 then
            __s - cast(n as decimal(38,0)) * 1000000
          end as long)""").as("chi2_micro"))
  }

  /** Grubbs-style extreme-deviation audit — the top-k most extreme
    * values by |x − x̄|/s, the parametric cousin of the q147 MAD
    * screen: MAD asks "is this far from the bulk", Grubbs' G asks "is
    * the single most extreme point consistent with the fitted normal"
    * (compare `z_milli` of rank 1 against the Grubbs critical value for
    * the cohort's n — caller-owned, it needs a t-quantile). Run it on
    * any score column before trusting min/max-normalizations.
    *
    * Determinism: the ranking never touches a double — rows order by
    * the EXACT integer deviation `|10⁶·x·n − Σ|` (then id), a
    * [[Ranks.globalRank]] range exchange, so rank 1 is THE Grubbs
    * candidate bit-for-bit. z_milli is one fixed double tree of the
    * exact moments per emitted row (k rows, not corpus rows); NULL
    * when n < 3 or the variance degenerates.
    *
    * Output: top `k` rows `(rank, id, value_micro, z_milli, n)`.
    *
    * Overflow: |10⁶·x|·n inside decimal(38,0) to n·|x| ≈ 10³² — loud
    * NULL past it.
    *
    * 100 TB shape: ONE map-side-combined scalar moment pass, a one-row
    * broadcast back, the globalRank range exchange, and a k-row
    * result. Nothing pair-shaped, nothing corpus-sized at the driver.
    */
  def grubbsOutliers(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      k: Int = 20): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(col(idCol).as("id"),
        floor(col(valueCol).cast("double") * 1e6).cast("long")
          .as("value_micro"))
      .localCheckpoint()
    val stats = base.agg(count(lit(1)).as("n"),
      sum(col("value_micro").cast(dec)).as("__s"),
      sum(expr(s"cast(value_micro as $dec) * value_micro")).as("__q"))
    val devd = base.crossJoin(broadcast(stats))
      .withColumn("__dev",
        expr(s"abs(cast(value_micro as $dec) * n - __s)"))
    Ranks.globalRank(devd, Seq(col("__dev").desc, col("id")), "rank")
      .filter(col("rank") <= k)
      .select(col("rank"), col("id"), col("value_micro"),
        expr("""cast(case when n >= 3
            and cast(__q as double) - cast(__s as double) * __s / n > 0
          then floor(1000.0 * cast(__dev as double) / (cast(n as double)
            * sqrt((cast(__q as double) - cast(__s as double) * __s / n)
              / (n - 1))))
          end as long)""").as("z_milli"),
        col("n"))
  }
}
