package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Causal-inference and experimentation estimators over logged data —
  * the questions a training-data pipeline's OWNERS ask of it ("did the
  * new filter change quality, or did the traffic mix change?"), answered
  * with the same exact-integer determinism contracts as the rest of the
  * engine. Observational estimators here adjust for ONE measured
  * confounder structure each (strata; parallel trends); they are not a
  * substitute for randomization, and the scaladoc of each names its
  * identification assumption.
  *
  * Reference scope: the reference engine ships no causal family — this
  * is part of the beyond-reference pipeline toolkit (SURVEY.md §2
  * extension), sibling to the A/B rank tests (Features.mannWhitney) and
  * the resampling family (Eval.bootstrapMeanCI).
  */
object Causal {

  /** Stratified average treatment effect — the classic adjustment for a
    * DISCRETE confounder: within each stratum compare treated vs
    * control means, then weight the per-stratum gaps by stratum size.
    * Valid when treatment is as-good-as-random WITHIN strata
    * (unconfoundedness given the stratum) and every used stratum has
    * both arms (positivity — strata missing an arm are excluded and
    * reported).
    *
    * Exactness: per-stratum arm sums are decimal(38,0) of micro-floored
    * outcomes; per-stratum means are sign-split floor divisions (the
    * documented micro-grid contract); the weighted combine
    * `Σ n_s·Δ_s / Σ n_s` is one more exact decimal floor division. The
    * naive (unadjusted) gap rides along so the confounding correction
    * is visible in the output itself.
    *
    * Output (one row): `(n_strata, n_strata_used, n, n_used, n_treat,
    * n_control, naive_diff_micro, ate_micro)`; NULL ate when no stratum
    * has both arms.
    *
    * 100 TB shape: ONE map-side-combined groupBy(stratum) carrying four
    * numbers per stratum, then a scalar rollup of the stratum table.
    * No row ever leaves its task before aggregation.
    */
  def stratifiedAte(
      df: DataFrame,
      strataCol: String,
      treatCol: String,
      outcomeCol: String): DataFrame = {
    val strata = df
      .filter(col(strataCol).isNotNull && col(treatCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .select(col(strataCol).as("__s"),
        col(treatCol).cast("boolean").as("__t"),
        floor(col(outcomeCol).cast("double") * 1e6).cast("long").as("__v"))
      .groupBy("__s")
      .agg(
        sum(when(col("__t"), 1L).otherwise(0L)).as("nt"),
        sum(when(col("__t"), col("__v")).otherwise(0L)
          .cast("decimal(38,0)")).as("st"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("nc"),
        sum(when(!col("__t"), col("__v")).otherwise(0L)
          .cast("decimal(38,0)")).as("sc"))
      .withColumn("diff", expr(
        s"""case when nt > 0 and nc > 0 then
            st div nt - sc div nc
            end"""))
    strata.agg(
        count(lit(1)).as("n_strata"),
        sum(when(col("diff").isNotNull, 1L).otherwise(0L))
          .as("n_strata_used"),
        sum(col("nt") + col("nc")).as("n"),
        sum(when(col("diff").isNotNull, col("nt") + col("nc"))
          .otherwise(0L)).as("n_used"),
        sum("nt").as("n_treat"), sum("nc").as("n_control"),
        sum("st").as("stt"), sum("sc").as("sct"),
        sum(when(col("diff").isNotNull,
          expr("cast(nt + nc as decimal(38,0)) * diff")).otherwise(lit(0))
          .cast("decimal(38,0)")).as("wsum"))
      .select(col("n_strata"), col("n_strata_used"), col("n"),
        col("n_used"), col("n_treat"), col("n_control"),
        expr(s"""case when n_treat > 0 and n_control > 0 then
            stt div n_treat - sct div n_control end""")
          .as("naive_diff_micro"),
        expr(s"""case when n_used > 0 then
            cast(wsum div n_used as long) end""")
          .as("ate_micro"))
  }

  /** Difference-in-differences on a 2×2 (treated × post-period) design
    * — the pre-trend-adjusted effect of a change that hit one cohort at
    * a known time: `(T̄_post − T̄_pre) − (C̄_post − C̄_pre)`. Valid
    * under parallel trends (absent treatment, both cohorts' means move
    * together).
    *
    * Exactness: four cell (n, Σ) pairs in decimal(38,0); each cell mean
    * one sign-split floor division; the DiD is pure integer arithmetic
    * of the four means. NULL when any cell is empty.
    *
    * Output (one row): `(n_t0, n_t1, n_c0, n_c1, mean_t0_micro,
    * mean_t1_micro, mean_c0_micro, mean_c1_micro, treat_diff_micro,
    * control_diff_micro, did_micro)`.
    *
    * 100 TB shape: one global aggregate with eight conditional sums —
    * a single map-side-combined pass, output is one row.
    */
  def diffInDiff(
      df: DataFrame,
      treatCol: String,
      postCol: String,
      outcomeCol: String): DataFrame = {
    def cell(t: Boolean, p: Boolean): (String, String) = {
      val tag = (if (t) "t" else "c") + (if (p) "1" else "0")
      (s"n_$tag", s"s_$tag")
    }
    val base = df
      .filter(col(treatCol).isNotNull && col(postCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .select(col(treatCol).cast("boolean").as("__t"),
        col(postCol).cast("boolean").as("__p"),
        floor(col(outcomeCol).cast("double") * 1e6).cast("long").as("__v"))
    val aggs = for {
      t <- Seq(true, false); p <- Seq(false, true)
      (nName, sName) = cell(t, p)
      c <- Seq(
        sum(when(col("__t") === t && col("__p") === p, 1L).otherwise(0L))
          .as(nName),
        sum(when(col("__t") === t && col("__p") === p, col("__v"))
          .otherwise(0L).cast("decimal(38,0)")).as(sName))
    } yield c
    def mean(tag: String): String =
      s"case when n_$tag > 0 then s_$tag div n_$tag end"
    base.agg(aggs.head, aggs.tail: _*)
      .select(col("n_t0"), col("n_t1"), col("n_c0"), col("n_c1"),
        expr(mean("t0")).as("mean_t0_micro"),
        expr(mean("t1")).as("mean_t1_micro"),
        expr(mean("c0")).as("mean_c0_micro"),
        expr(mean("c1")).as("mean_c1_micro"))
      .withColumn("treat_diff_micro",
        col("mean_t1_micro") - col("mean_t0_micro"))
      .withColumn("control_diff_micro",
        col("mean_c1_micro") - col("mean_c0_micro"))
      .withColumn("did_micro",
        col("treat_diff_micro") - col("control_diff_micro"))
  }

  /** CUPED variance reduction (Controlled-experiment Using Pre-Existing
    * Data) — the industry-standard A/B sensitivity booster: regress the
    * experiment metric on a pre-period covariate, subtract the
    * predicted component, and the arm difference keeps its expectation
    * while shedding ρ² of its variance. This reports θ (the pooled OLS
    * coefficient), the raw and CUPED-adjusted arm gaps, and the
    * variance-reduction fraction ρ².
    *
    * Exactness: pooled and per-arm moments are decimal(38,0) sums of
    * micro-floored values (one map-side-combined pass); θ, the two
    * gaps, and ρ² are FIXED double trees of those exact integers
    * (corrMatrix finish contract), floored to micro once each. Exactly
    * two groups required, lexicographic order.
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, theta_micro,
    * diff_raw_micro, diff_cuped_micro, var_reduction_micro)`; NULLs
    * when the covariate is constant (θ undefined).
    *
    * 100 TB shape: ONE groupBy(group) pass carrying six moments per
    * arm (pooled = sum of the two rows, driver-side); no second scan,
    * no join.
    */
  def cuped(
      df: DataFrame,
      groupCol: String,
      metricCol: String,
      covariateCol: String): DataFrame = {
    val g = df
      .filter(col(groupCol).isNotNull && col(metricCol).isNotNull &&
        col(covariateCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        floor(col(metricCol).cast("double") * 1e6).cast("long").as("__y"),
        floor(col(covariateCol).cast("double") * 1e6).cast("long").as("__x"))
      .groupBy("__g")
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast("decimal(38,0)")).as("sx"),
        sum(col("__y").cast("decimal(38,0)")).as("sy"),
        sum(expr("cast(__x as decimal(38,0)) * __y")).as("sxy"),
        sum(expr("cast(__x as decimal(38,0)) * __x")).as("sxx"),
        sum(expr("cast(__y as decimal(38,0)) * __y")).as("syy"))
      .orderBy("__g").collect()
    require(g.length == 2,
      s"cuped: exactly 2 groups required, got ${g.length}")
    def dec(r: org.apache.spark.sql.Row, i: Int): BigInt =
      BigInt(r.getDecimal(i).toBigInteger)
    val (ga, gb) = (g(0).getString(0), g(1).getString(0))
    val (na, nb) = (g(0).getLong(1), g(1).getLong(1))
    val (sxa, sya) = (dec(g(0), 2), dec(g(0), 3))
    val (sxb, syb) = (dec(g(1), 2), dec(g(1), 3))
    val n = BigInt(na + nb)
    val sx = sxa + sxb; val sy = sya + syb
    val sxy = dec(g(0), 4) + dec(g(1), 4)
    val sxx = dec(g(0), 5) + dec(g(1), 5)
    val syy = dec(g(0), 6) + dec(g(1), 6)
    val den = n * sxx - sx * sx
    val rawD = sya.toDouble / na - syb.toDouble / nb
    val (theta, cupedD, rho2): (Option[Long], Option[Long], Option[Long]) =
      if (den <= 0) (None, None, None)
      else {
        val th = (n * sxy - sx * sy).toDouble / den.toDouble
        val adj = rawD - th * (sxa.toDouble / na - sxb.toDouble / nb)
        val denY = n * syy - sy * sy
        val r2 =
          if (denY <= 0) None
          else Some(math.floor(1000000.0 *
            ((n * sxy - sx * sy).toDouble * (n * sxy - sx * sy).toDouble)
            / (den.toDouble * denY.toDouble)).toLong)
        (Some(math.floor(1000000.0 * th).toLong),
          Some(math.floor(adj).toLong), r2)
      }
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, na, nb, theta,
        Some(math.floor(rawD).toLong): Option[Long], cupedD, rho2))
      .toDF("grp_a", "grp_b", "n_a", "n_b", "theta_micro",
        "diff_raw_micro", "diff_cuped_micro", "var_reduction_micro")
  }

  /** Quantile treatment effects — the DISTRIBUTIONAL view of an A/B
    * gap: the per-arm exact nearest-rank quantiles at the requested
    * percents and their differences. A mean diff of zero can hide a
    * tail regression (p90 latency up, median down); this is the
    * one-pass readout that catches it.
    *
    * Exactness: values micro-floor per row; each quantile is the exact
    * order statistic at index `⌊p·(n−1)/100⌋` (the
    * [[Corpus.groupQuantiles]] contract) of the arm's own sort; QTE is
    * integer subtraction. Exactly two groups required.
    *
    * Output per percent: `(percent, n_a, n_b, q_a_micro, q_b_micro,
    * qte_micro)`.
    *
    * 100 TB shape: [[Corpus.groupQuantiles]]'s per-group window sort —
    * two arm-keyed sorted groups (each arm parallelized by the range
    * sort within its window partition; two groups is the floor of
    * parallelism here, the honest cost of exact quantiles per arm) —
    * then a |percents|-row self-join.
    */
  def quantileTreatmentEffect(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      percents: Seq[Int] = Seq(10, 25, 50, 75, 90)): DataFrame = {
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__vm"))
    val grps = base.select("__g").distinct().orderBy("__g")
      .collect().map(_.getString(0)).toSeq
    require(grps.length == 2,
      s"quantileTreatmentEffect: exactly 2 groups required, got " +
        s"${grps.length}")
    val q = Corpus.groupQuantiles(base, Seq("__g"), "__vm", percents)
    val a = q.filter(col("__g") === grps(0))
      .select(col("percent"), col("n").as("n_a"), col("value").as("q_a_micro"))
    val b = q.filter(col("__g") === grps(1))
      .select(col("percent"), col("n").as("n_b"), col("value").as("q_b_micro"))
    a.join(b, Seq("percent"))
      .withColumn("qte_micro", col("q_a_micro") - col("q_b_micro"))
      .select("percent", "n_a", "n_b", "q_a_micro", "q_b_micro",
        "qte_micro")
  }

  /** Welch's t-test — the default parametric two-sample mean test
    * (unequal variances, unequal sizes; the plain Student t is the
    * special case nobody's data satisfies). Reports t and the
    * Welch–Satterthwaite degrees of freedom; |t| ≥ 1.96 rejects at 5%
    * for any df above ~100. The rank-based sibling is
    * [[graft.ops.Features.mannWhitney]]; the resampling sibling is
    * [[graft.ops.Eval.permutationTestMeans]].
    *
    * Exactness: per-arm (n, Σ, Σ²) are decimal(38,0) of micro-floored
    * values; means are sign-split floor divisions (exact); t and df are
    * one fixed double tree each over the exact moments (sample
    * variances via `(Σ² − Σ²/n)/(n−1)`), floored to milli. NULL t/df
    * when either arm has n < 2 or the pooled standard error
    * degenerates.
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, mean_a_micro,
    * mean_b_micro, diff_micro, t_milli, df_milli)`.
    *
    * 100 TB shape: ONE map-side-combined groupBy(group) to two rows;
    * driver arithmetic finishes.
    */
  def welchTTest(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val g = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__v"))
      .groupBy("__g")
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast("decimal(38,0)")).as("s"),
        sum(expr("cast(__v as decimal(38,0)) * __v")).as("q"))
      .orderBy("__g").collect()
    require(g.length == 2,
      s"welchTTest: exactly 2 groups required, got ${g.length}")
    def dec(i: Int, j: Int): BigInt = BigInt(g(i).getDecimal(j).toBigInteger)
    val (ga, gb) = (g(0).getString(0), g(1).getString(0))
    val (na, nb) = (g(0).getLong(1), g(1).getLong(1))
    val (sa, sb) = (dec(0, 2), dec(1, 2))
    val (qa, qb) = (dec(0, 3), dec(1, 3))
    val (meanA, meanB) = ((sa / na).toLong, (sb / nb).toLong)
    val (tMilli, dfMilli): (Option[Long], Option[Long]) =
      if (na < 2 || nb < 2) (None, None)
      else {
        val va = (qa.toDouble - sa.toDouble * sa.toDouble / na) / (na - 1)
        val vb = (qb.toDouble - sb.toDouble * sb.toDouble / nb) / (nb - 1)
        val van = va / na
        val vbn = vb / nb
        val se2 = van + vbn
        if (se2 <= 0) (None, None)
        else {
          val t = (sa.toDouble / na - sb.toDouble / nb) / math.sqrt(se2)
          val dfD = se2 * se2 /
            (van * van / (na - 1) + vbn * vbn / (nb - 1))
          (Some(math.floor(1000.0 * t).toLong),
            Some(math.floor(1000.0 * dfD).toLong))
        }
      }
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, na, nb, meanA, meanB, meanA - meanB, tMilli, dfMilli))
      .toDF("grp_a", "grp_b", "n_a", "n_b", "mean_a_micro",
        "mean_b_micro", "diff_micro", "t_milli", "df_milli")
  }

  /** Two-proportion z-test with per-arm Wilson 95% intervals — the
    * conversion-rate A/B readout (purchase rate, filter pass rate,
    * contamination hit rate): exact counts, pooled-variance z, and the
    * Wilson score interval that behaves at p near 0 or 1 where the
    * normal interval leaks outside [0, 1].
    *
    * Exactness: n and x per arm are exact; rates are sign-free integer
    * floor divisions to micro; z and the Wilson bounds are FIXED
    * double expression trees of the exact counts (z literal 1.96,
    * z² = 1.96·1.96 evaluated in IEEE — identical in any engine),
    * floored to milli/micro once each. Exactly two groups required,
    * reported in lexicographic order.
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, x_a, x_b, p_a_micro,
    * p_b_micro, diff_micro, z_milli, wilson_lo_a_micro,
    * wilson_hi_a_micro, wilson_lo_b_micro, wilson_hi_b_micro)`; z NULL
    * when the pooled variance degenerates (pooled p of 0 or 1).
    *
    * 100 TB shape: one map-side-combined groupBy(group) to two rows;
    * the finish is driver arithmetic on four longs.
    */
  def twoProportionTest(
      df: DataFrame,
      groupCol: String,
      successCol: String): DataFrame = {
    val g = df
      .filter(col(groupCol).isNotNull && col(successCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(successCol).cast("boolean").as("__x"))
      .groupBy("__g")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__x"), 1L).otherwise(0L)).as("x"))
      .orderBy("__g").collect()
    require(g.length == 2,
      s"twoProportionTest: exactly 2 groups required, got ${g.length}")
    val (ga, gb) = (g(0).getString(0), g(1).getString(0))
    val (na, xa) = (g(0).getLong(1), g(0).getLong(2))
    val (nb, xb) = (g(1).getLong(1), g(1).getLong(2))
    // micro products through BigInt: x·1e6 would overflow int64 once a
    // group's success count exceeds ~9.2e12 (well inside 100 TB row counts)
    val (paM, pbM) =
      ((BigInt(xa) * 1000000 / BigInt(na)).toLong,
        (BigInt(xb) * 1000000 / BigInt(nb)).toLong)
    // pooled z: (p̂a − p̂b)/√(p̂(1−p̂)(1/na + 1/nb)) — one double tree
    val pa = xa.toDouble / na
    val pb = xb.toDouble / nb
    val pp = (xa + xb).toDouble / (na + nb)
    val v = pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)
    val zMilli: Option[Long] =
      if (v <= 0) None
      else Some(math.floor(1000.0 * (pa - pb) / math.sqrt(v)).toLong)
    // Wilson 95%: (p̂ + z²/2n ± z√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
    def wilson(x: Long, n: Long): (Long, Long) = {
      val p = x.toDouble / n
      val z = 1.96
      val zz = z * z
      val center = p + zz / (2.0 * n)
      val half = z * math.sqrt(p * (1.0 - p) / n + zz / (4.0 * n * n))
      val den = 1.0 + zz / n
      (math.floor(1000000.0 * (center - half) / den).toLong,
        math.floor(1000000.0 * (center + half) / den).toLong)
    }
    val (wla, wha) = wilson(xa, na)
    val (wlb, whb) = wilson(xb, nb)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, na, nb, xa, xb, paM, pbM, paM - pbM, zMilli,
        wla, wha, wlb, whb))
      .toDF("grp_a", "grp_b", "n_a", "n_b", "x_a", "x_b", "p_a_micro",
        "p_b_micro", "diff_micro", "z_milli", "wilson_lo_a_micro",
        "wilson_hi_a_micro", "wilson_lo_b_micro", "wilson_hi_b_micro")
  }

  /** Cohen's h — the EFFECT SIZE for two proportions, the number
    * [[twoProportionTest]]'s z deliberately is not: z grows with √n,
    * so at corpus scale everything is "significant"; h = 2·asin(√p̂_a)
    * − 2·asin(√p̂_b) is sample-size-free (0.2/0.5/0.8 small/medium/
    * large by Cohen's convention) and is what decides whether a
    * statistically-detectable rate difference is worth acting on.
    * The arcsine transform equalizes the variance of proportions, so
    * one h threshold means the same thing at p = 0.05 as at p = 0.5.
    *
    * Exactness: counts are exact; rates are exact micro divisions;
    * h is ONE fixed double tree of the exact counts
    * (`2·asin(√(x/n))` per arm, subtraction, floor to milli) —
    * identical in any IEEE engine. Exactly two groups required,
    * reported in lexicographic order.
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, x_a, x_b, p_a_micro,
    * p_b_micro, h_milli)`.
    *
    * 100 TB shape: one map-side-combined groupBy(group) to two rows;
    * the finish is driver arithmetic on four longs.
    */
  def cohensH(
      df: DataFrame,
      groupCol: String,
      successCol: String): DataFrame = {
    val g = df
      .filter(col(groupCol).isNotNull && col(successCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(successCol).cast("boolean").as("__x"))
      .groupBy("__g")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__x"), 1L).otherwise(0L)).as("x"))
      .orderBy("__g").collect()
    require(g.length == 2,
      s"cohensH: exactly 2 groups required, got ${g.length}")
    val (ga, gb) = (g(0).getString(0), g(1).getString(0))
    val (na, xa) = (g(0).getLong(1), g(0).getLong(2))
    val (nb, xb) = (g(1).getLong(1), g(1).getLong(2))
    val (paM, pbM) =
      ((BigInt(xa) * 1000000 / BigInt(na)).toLong,
        (BigInt(xb) * 1000000 / BigInt(nb)).toLong)
    val h = 2.0 * math.asin(math.sqrt(xa.toDouble / na)) -
      2.0 * math.asin(math.sqrt(xb.toDouble / nb))
    val hMilli = math.floor(1000.0 * h).toLong
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, na, nb, xa, xb, paM, pbM, hMilli))
      .toDF("grp_a", "grp_b", "n_a", "n_b", "x_a", "x_b",
        "p_a_micro", "p_b_micro", "h_milli")
  }

  /** Cochran–Armitage trend test — does a BINARY rate trend MONOTONE
    * across ordered groups (quality-pass rate across source deciles,
    * purchase rate across propensity buckets)? The two-proportion test
    * ([[twoProportionZ]]) compares two arms; chi-square association
    * ignores the ordering; this is the 1-df test FOR the ordering,
    * with the usual power win when the dose axis is the hypothesis.
    *
    * Groups carry their numeric cast as the score w (the dose). With
    * per-group n_g rows and x_g positives, N = Σn, P = Σx,
    * Swx = Σ w·x, Swn = Σ w·n, Sw2n = Σ w²·n, and the exact integer
    * numerator D = N·Swx − P·Swn:
    *
    * {{{ z = D / √( P·(N−P)·(N·Sw2n − Swn²) / N ) }}}
    *
    * Every moment is exact decimal(38,0); z is ONE fixed double tree
    * of those integers (q220 runtime-sqrt contract, oracle-mirrored),
    * floored to milli. `significant` = |z_milli| ≥ 1960. NULL z when
    * the variance term is 0 (all one outcome, or one group).
    *
    * Output (one row): `(n, n_pos, k_groups, z_milli, significant)`.
    *
    * Overflow: D ≤ w_max·N² — exact inside decimal(38,0) to
    * N ≈ 10¹⁸/w_max; no integer division of the N⁵-scale χ² form is
    * attempted (that ceiling would bind at N ≈ 10⁷).
    *
    * 100 TB shape: ONE map-side-combined groupBy(group) to k rows,
    * then a one-row rollup.
    */
  def cochranArmitage(
      df: DataFrame,
      groupCol: String,
      outcomeCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val g = df
      .filter(col(groupCol).isNotNull && col(outcomeCol).isNotNull)
      .select(col(groupCol).cast("long").as("__w"),
        when(col(outcomeCol).cast("boolean"), 1L).otherwise(0L).as("__y"))
      .groupBy("__w")
      .agg(count(lit(1)).as("__n"), sum("__y").as("__x"))
    g.agg(sum("__n").as("n"), sum("__x").as("n_pos"),
        count(lit(1)).as("k_groups"),
        sum(expr(s"cast(__w as $dec) * __x")).as("__swx"),
        sum(expr(s"cast(__w as $dec) * __n")).as("__swn"),
        sum(expr(s"cast(__w as $dec) * __w * __n")).as("__sw2n"))
      .select(col("n"), col("n_pos"), col("k_groups"),
        expr(s"""cast(case when n_pos > 0 and n_pos < n and
            cast(n as $dec) * __sw2n - __swn * __swn > 0 then
          floor(1000.0 *
            cast(cast(n as $dec) * __swx -
              cast(n_pos as $dec) * __swn as double)
            / sqrt(cast(cast(n_pos as $dec) * (n - n_pos) as double)
              * cast(cast(n as $dec) * __sw2n - __swn * __swn as double)
              / cast(n as double)))
          end as long)""").as("z_milli"))
      .withColumn("significant",
        when(col("z_milli").isNull, lit(null).cast("boolean"))
          .otherwise(abs(col("z_milli")) >= 1960L))
  }

  /** Cochran–Mantel–Haenszel pooled 2×2 analysis — the stratified
    * companion to [[twoProportionTest]] and the binary-outcome sibling
    * of [[stratifiedAte]]: does treatment associate with the outcome
    * AFTER conditioning on a discrete confounder (source, language,
    * traffic cohort)? Per stratum s with cells a (treated-positive),
    * b (treated-negative), c (control-positive), d (control-negative)
    * and n = a+b+c+d:
    *
    *   - MH pooled odds ratio: `Σ⌊10⁶·a·d/n⌋ / Σ⌊10⁶·b·c/n⌋` — each
    *     stratum term floors ONCE to micro (oracle-replayed), then one
    *     more sign-free floor division to `or_mh_micro` (NULL when the
    *     b·c mass is zero).
    *   - CMH 1-df chi-square (no continuity correction, documented):
    *     deviations `10⁶·a − ⌊10⁶·r1·c1/n⌋` and variances
    *     `⌊10⁶·r1·r2·c1·c2 / (n²·(n−1))⌋` sum exactly over strata;
    *     `chi2_milli = (Σdev)² div (Σvar · 1000)` is pure integer
    *     (micro²/micro cancels to micro, ÷1000 → milli).
    *     `significant` = chi2_milli ≥ 3841 (χ²₁ at 0.05).
    *
    * Strata with n < 2 (variance undefined) or an empty margin
    * contribute nothing to the chi-square sums; OR terms use every
    * stratum with n ≥ 1. `n_strata_used` counts the chi-square
    * contributors, so a result driven by one usable stratum is visible.
    *
    * Overflow: per-stratum products stay ≤ 10⁶·n⁴ inside decimal(38,0)
    * for n ≤ 10⁸ rows/stratum; (Σdev)² ≤ 10¹²·N² holds to N ≈ 10¹³
    * total rows. Past either bound Spark decimal NULLs loudly (non-ANSI)
    * rather than wrapping — same contract as [[cochranArmitage]].
    *
    * Output (one row): `(n, n_strata, n_strata_used, or_mh_micro,
    * chi2_milli, significant)`.
    *
    * 100 TB shape: ONE map-side-combined groupBy(stratum) carrying four
    * cell counts, then a one-row rollup of the stratum table — the
    * [[stratifiedAte]] plan with a different combine.
    */
  def mantelHaenszel(
      df: DataFrame,
      strataCol: String,
      treatCol: String,
      outcomeCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .filter(col(strataCol).isNotNull && col(treatCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .select(col(strataCol).as("__s"),
        col(treatCol).cast("boolean").as("__t"),
        col(outcomeCol).cast("boolean").as("__y"))
      .groupBy("__s")
      .agg(
        count(when(col("__t") && col("__y"), 1)).as("a"),
        count(when(col("__t") && !col("__y"), 1)).as("b"),
        count(when(!col("__t") && col("__y"), 1)).as("c"),
        count(when(!col("__t") && !col("__y"), 1)).as("d"))
      .withColumn("nn", col("a") + col("b") + col("c") + col("d"))
      // chi-square needs n >= 2 and both margins non-degenerate
      .withColumn("__ok", col("nn") >= 2 &&
        col("a") + col("b") > 0 && col("c") + col("d") > 0 &&
        col("a") + col("c") > 0 && col("b") + col("d") > 0)
    cells.agg(
        sum("nn").as("n"), count(lit(1)).as("n_strata"),
        count(when(col("__ok"), 1)).as("n_strata_used"),
        sum(expr(s"cast(a as $dec) * d * 1000000 div nn")).as("__r"),
        sum(expr(s"cast(b as $dec) * c * 1000000 div nn")).as("__sden"),
        sum(expr(s"""case when __ok then
            cast(a as $dec) * 1000000 -
            cast(a + b as $dec) * (a + c) * 1000000 div nn
          else cast(0 as $dec) end""")).as("__dev"),
        sum(expr(s"""case when __ok then
            cast(a + b as $dec) * (c + d) * (a + c) * (b + d) * 1000000
              div (cast(nn as $dec) * nn * (nn - 1))
          else cast(0 as $dec) end""")).as("__var"))
      .select(col("n"), col("n_strata"), col("n_strata_used"),
        expr("cast(case when __sden > 0 then __r * 1000000 div __sden end " +
          "as long)").as("or_mh_micro"),
        expr("""cast(case when __var > 0 then
            (__dev * __dev) div (__var * 1000) end as long)""")
          .as("chi2_milli"))
      .withColumn("significant",
        when(col("chi2_milli").isNull, lit(null).cast("boolean"))
          .otherwise(col("chi2_milli") >= 3841L))
  }

  /** Cohen's d / Hedges' g standardized effect size — the magnitude
    * companion to [[welchTTest]]'s significance: with corpus-scale n,
    * everything is "significant"; d says whether the gap MATTERS
    * (0.2 small / 0.5 medium / 0.8 large, the usual benchmarks).
    * Pooled-SD form:
    *
    *   {{{ d = (x̄₁ − x̄₂) / s_p,   s_p² = ((n₁−1)s₁² + (n₂−1)s₂²)/(n₁+n₂−2) }}}
    *
    * with Hedges' small-sample correction `g = d·(4·df−4)/(4·df−1)`
    * (df = n₁+n₂−2) — the exact rational J-approximation, so g is the
    * number to report below a few hundred rows per arm and
    * asymptotically equals d.
    *
    * Exactness: per-arm (n, Σ, Σ²) exact decimal moments of
    * micro-floored values ([[welchTTest]]'s contract); means sign-split
    * floor divisions; d and g are each ONE fixed double tree over the
    * exact integers, floored to milli. NULL when either arm has n < 2
    * or the pooled variance degenerates. Exactly two groups, reported
    * in lexicographic order; `magnitude` labels |d| by the 200/500/800
    * milli benchmarks (integer compares, no extra float).
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, mean_a_micro,
    * mean_b_micro, diff_micro, d_milli, g_milli, magnitude)`.
    *
    * 100 TB shape: ONE map-side-combined groupBy(group) to two rows;
    * driver arithmetic finishes (the [[welchTTest]] plan).
    */
  def cohensD(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val g = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__v"))
      .groupBy("__g")
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast("decimal(38,0)")).as("s"),
        sum(expr("cast(__v as decimal(38,0)) * __v")).as("q"))
      .orderBy("__g").collect()
    require(g.length == 2,
      s"cohensD: exactly 2 groups required, got ${g.length}")
    def dec(i: Int, j: Int): BigInt = BigInt(g(i).getDecimal(j).toBigInteger)
    val (ga, gb) = (g(0).getString(0), g(1).getString(0))
    val (na, nb) = (g(0).getLong(1), g(1).getLong(1))
    val (sa, sb) = (dec(0, 2), dec(1, 2))
    val (qa, qb) = (dec(0, 3), dec(1, 3))
    val (meanA, meanB) = ((sa / na).toLong, (sb / nb).toLong)
    val (dMilli, gMilli): (Option[Long], Option[Long]) =
      if (na < 2 || nb < 2) (None, None)
      else {
        val df2 = na + nb - 2
        val ssA = qa.toDouble - sa.toDouble * sa.toDouble / na
        val ssB = qb.toDouble - sb.toDouble * sb.toDouble / nb
        val sp2 = (ssA + ssB) / df2
        if (sp2 <= 0) (None, None)
        else {
          val d = (sa.toDouble / na - sb.toDouble / nb) / math.sqrt(sp2)
          val gv = d * (4.0 * df2 - 4.0) / (4.0 * df2 - 1.0)
          (Some(math.floor(1000.0 * d).toLong),
            Some(math.floor(1000.0 * gv).toLong))
        }
      }
    val magnitude: Option[String] = dMilli.map { dm =>
      val a = math.abs(dm)
      if (a < 200) "negligible"
      else if (a < 500) "small"
      else if (a < 800) "medium"
      else "large"
    }
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, na, nb, meanA, meanB, meanA - meanB, dMilli, gMilli,
        magnitude))
      .toDF("grp_a", "grp_b", "n_a", "n_b", "mean_a_micro",
        "mean_b_micro", "diff_micro", "d_milli", "g_milli", "magnitude")
  }

  /** TOST equivalence test — the question [[welchTTest]] CANNOT answer:
    * not "did the new pipeline change quality" but "is it the SAME
    * within a margin I chose". Failing to reject H₀ is not evidence of
    * equivalence (underpowered tests never reject); TOST inverts the
    * burden with two one-sided Welch tests against ±δ:
    *
    *   {{{ z_lower = (x̄₁−x̄₂ + δ)/se,   z_upper = (δ − (x̄₁−x̄₂))/se }}}
    *
    * and declares equivalence only when BOTH exceed 1.645 (both
    * one-sided 5% tests reject their "differs by at least δ" null).
    * The release gate for "swap the scorer, nothing may move more than
    * δ".
    *
    * Exactness: the [[welchTTest]] moment contract (exact decimal
    * per-arm n/Σ/Σ², sign-split micro means); `δ` arrives as
    * `deltaMicro` so the z numerators are EXACT integers; each z is one
    * fixed double tree over them, floored to milli. NULL when either
    * arm has n < 2 or the pooled standard error degenerates (a
    * zero-variance pair is decided by the exact diff alone —
    * `equivalent` still reports |diff| ≤ δ in that case? No: it stays
    * NULL; equivalence needs a variance estimate, and a degenerate se
    * means the normal approximation has no meaning).
    *
    * Output (one row): `(grp_a, grp_b, n_a, n_b, diff_micro,
    * delta_micro, z_lower_milli, z_upper_milli, equivalent)`.
    *
    * 100 TB shape: ONE map-side-combined groupBy(group) to two rows;
    * driver arithmetic finishes (the [[welchTTest]] plan).
    */
  def tostEquivalence(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      deltaMicro: Long): DataFrame = {
    require(deltaMicro > 0, s"deltaMicro $deltaMicro must be > 0")
    val g = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1e6).cast("long").as("__v"))
      .groupBy("__g")
      .agg(count(lit(1)).as("n"),
        sum(col("__v").cast("decimal(38,0)")).as("s"),
        sum(expr("cast(__v as decimal(38,0)) * __v")).as("q"))
      .orderBy("__g").collect()
    require(g.length == 2,
      s"tostEquivalence: exactly 2 groups required, got ${g.length}")
    def dec(i: Int, j: Int): BigInt = BigInt(g(i).getDecimal(j).toBigInteger)
    val (ga, gb) = (g(0).getString(0), g(1).getString(0))
    val (na, nb) = (g(0).getLong(1), g(1).getLong(1))
    val (sa, sb) = (dec(0, 2), dec(1, 2))
    val (qa, qb) = (dec(0, 3), dec(1, 3))
    val diffMicro = (sa / na).toLong - (sb / nb).toLong
    val zs: Option[(Long, Long)] =
      if (na < 2 || nb < 2) None
      else {
        val va = (qa.toDouble - sa.toDouble * sa.toDouble / na) / (na - 1)
        val vb = (qb.toDouble - sb.toDouble * sb.toDouble / nb) / (nb - 1)
        val se2 = va / na + vb / nb // micro² units
        if (se2 <= 0) None
        else {
          val se = math.sqrt(se2)
          val d = sa.toDouble / na - sb.toDouble / nb // micro units
          (Some((
            math.floor(1000.0 * (d + deltaMicro) / se).toLong,
            math.floor(1000.0 * (deltaMicro - d) / se).toLong)))
        }
      }
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, na, nb, diffMicro, deltaMicro, zs.map(_._1),
        zs.map(_._2), zs.map(z => math.min(z._1, z._2) >= 1645L)))
      .toDF("grp_a", "grp_b", "n_a", "n_b", "diff_micro", "delta_micro",
        "z_lower_milli", "z_upper_milli", "equivalent")
  }

  /** Poisson rate-ratio test — incident rates per EXPOSURE, the slot
    * [[twoProportionTest]]'s per-trial rates cannot fill: errors per
    * machine-hour, crawler faults per GB, alerts per day of traffic.
    * Each arm contributes x events over an exposure window T (here the
    * arm's observed event-time span); under H₀ the counts are Poisson
    * with a common rate and
    *
    *   {{{ z = ln( (x₁/T₁) / (x₂/T₂) ) / √(1/x₁ + 1/x₂) }}}
    *
    * (the standard log-rate-ratio normal approximation).
    *
    * Exactness: event counts and millisecond exposures are exact
    * integers; per-hour rates `⌊3.6·10⁹·x/T⌋` and the rate ratio
    * `⌊10⁶·x₁·T₂/(x₂·T₁)⌋` are exact integer floor divisions
    * (nonneg); z is ONE fixed double tree floored to milli.
    * `significant` = |z_milli| ≥ 1960. NULL z when either count is 0
    * (the log diverges — report the exact counts and let the caller
    * use an exact binomial gate at that extreme).
    *
    * Output (one row): `(grp_a, grp_b, n_events_a, n_events_b,
    * exposure_ms_a, exposure_ms_b, rate_a_micro, rate_b_micro,
    * rate_ratio_micro, z_milli, significant)` — rates in events/hour
    * micro.
    *
    * 100 TB shape: ONE map-side-combined groupBy(group) carrying a
    * count and two timestamp extremes; driver arithmetic finishes.
    */
  def rateRatioTest(
      df: DataFrame,
      groupCol: String,
      tsMsCol: String,
      eventCol: String): DataFrame = {
    val g = df
      .filter(col(groupCol).isNotNull && col(tsMsCol).isNotNull &&
        col(eventCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("__g"))
      .agg(
        count(when(col(eventCol).cast("boolean"), 1)).as("x"),
        min(col(tsMsCol).cast("long")).as("t0"),
        max(col(tsMsCol).cast("long")).as("t1"))
      .orderBy("__g").collect()
    require(g.length == 2,
      s"rateRatioTest: exactly 2 groups required, got ${g.length}")
    val (ga, gb) = (g(0).getString(0), g(1).getString(0))
    val (xa, xb) = (g(0).getLong(1), g(1).getLong(1))
    val (ta, tb) = (g(0).getLong(3) - g(0).getLong(2),
      g(1).getLong(3) - g(1).getLong(2))
    require(ta > 0 && tb > 0,
      s"rateRatioTest: degenerate exposure (spans $ta ms / $tb ms) — " +
        "each arm needs events at more than one timestamp")
    def ratePerHourMicro(x: Long, t: Long): Long =
      (BigInt(x) * 3600000L * 1000000L / t).toLong
    val rr: Option[Long] =
      if (xb == 0L) None
      else Some((BigInt(xa) * tb * 1000000L / (BigInt(xb) * ta)).toLong)
    val zMilli: Option[Long] =
      if (xa == 0L || xb == 0L) None
      else {
        val lnRr = math.log(xa.toDouble / ta) - math.log(xb.toDouble / tb)
        val se = math.sqrt(1.0 / xa + 1.0 / xb)
        Some(math.floor(1000.0 * lnRr / se).toLong)
      }
    val spark = df.sparkSession
    import spark.implicits._
    Seq((ga, gb, xa, xb, ta, tb,
        ratePerHourMicro(xa, ta), ratePerHourMicro(xb, tb), rr, zMilli,
        zMilli.map(z => math.abs(z) >= 1960L)))
      .toDF("grp_a", "grp_b", "n_events_a", "n_events_b",
        "exposure_ms_a", "exposure_ms_b", "rate_a_micro", "rate_b_micro",
        "rate_ratio_micro", "z_milli", "significant")
  }

  /** Covariate balance (standardized mean difference) per stratum —
    * the pre-flight check every [[stratifiedAte]] / matched analysis
    * owes its reader: within each stratum, how far apart do the two
    * arms sit on a covariate, in pooled-SD units?
    *
    *   {{{ SMD = (x̄_a − x̄_b) / √((s²_a + s²_b)/2) }}}
    *
    * |SMD| < 0.1 is the conventional "balanced" bar (`balanced`
    * column compares |smd_milli| < 100). An imbalanced stratum means
    * the within-stratum comparison is NOT as-good-as-random on this
    * covariate — fix the stratification before reading the effect.
    *
    * Exactness: micro-floored values, exact decimal moments per
    * (stratum, arm); the SMD is ONE fixed double tree (means and
    * sample variances as single divisions of exact integers — q220
    * contract), floored to milli. NULL when either arm has < 2 rows
    * or the pooled variance degenerates; strata missing an arm
    * entirely produce no row (nothing to compare).
    *
    * Output per stratum: `(stratum, n_a, n_b, mean_a_micro,
    * mean_b_micro, smd_milli, balanced)`; arms ordered
    * lexicographically, exactly 2 required.
    *
    * 100 TB shape: one (stratum, arm) map-side-combined moment
    * groupBy, a stratum-keyed 2-row pivot join, map-only SMD — the
    * [[Features.chowTest]] plan.
    */
  def covariateBalance(
      df: DataFrame,
      strataCol: String,
      armCol: String,
      covariateCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df
      .filter(col(strataCol).isNotNull && col(armCol).isNotNull &&
        col(covariateCol).isNotNull)
      .select(col(strataCol).cast("string").as("__s"),
        col(armCol).cast("string").as("__g"),
        floor(col(covariateCol).cast("double") * 1e6).cast("long").as("__v"))
      .localCheckpoint()
    val arms = base.select("__g").distinct().orderBy("__g")
      .collect().map(_.getString(0))
    require(arms.length == 2,
      s"covariateBalance: exactly 2 arms required, got ${arms.length}")
    val (ga, gb) = (arms(0), arms(1))
    val m = base.groupBy("__s", "__g").agg(
      count(lit(1)).as("n"),
      sum(col("__v").cast(dec)).as("sv"),
      sum(expr(s"cast(__v as $dec) * __v")).as("qv"))
    def side(g: String, p: String) = m.filter(col("__g") === g)
      .select(col("__s"), col("n").as(s"${p}n"), col("sv").as(s"${p}s"),
        col("qv").as(s"${p}q"))
    side(ga, "a_").join(side(gb, "b_"), Seq("__s"))
      .withColumn("smd_milli", expr(
        s"""cast(case when a_n >= 2 and b_n >= 2 and
            (cast(a_q as double) - cast(a_s as double) * cast(a_s as double) / a_n)
              / (a_n - 1)
            + (cast(b_q as double) - cast(b_s as double) * cast(b_s as double) / b_n)
              / (b_n - 1) > 0 then
          floor(1000.0 *
            (cast(a_s as double) / a_n - cast(b_s as double) / b_n)
            / sqrt((
              (cast(a_q as double) - cast(a_s as double) * cast(a_s as double) / a_n)
                / (a_n - 1)
              + (cast(b_q as double) - cast(b_s as double) * cast(b_s as double) / b_n)
                / (b_n - 1)) / 2.0))
          end as long)"""))
      .select(col("__s").as("stratum"), col("a_n").as("n_a"),
        col("b_n").as("n_b"),
        expr("cast(a_s div a_n as long)")
          .as("mean_a_micro"),
        expr("cast(b_s div b_n as long)")
          .as("mean_b_micro"),
        col("smd_milli"),
        when(col("smd_milli").isNull, lit(null).cast("boolean"))
          .otherwise(abs(col("smd_milli")) < 100L).as("balanced"))
  }
}
