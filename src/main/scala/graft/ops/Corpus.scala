package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Snapshot-to-snapshot corpus management: what changed between two
  * crawls/ingests of the same collection. Feeding only `added`/`changed`
  * docs into the expensive downstream passes (dedup, quality, embedding)
  * is the difference between reprocessing 100 TB per crawl and
  * reprocessing the delta.
  */
object Corpus {

  /** Per-domain empirical-Bayes prior: the shrunk mean of an integer
    * signal per group — `(Σ_g + m·μ)/(n_g + m)` with the global mean μ as
    * the prior and `m` pseudo-observations of it. Small domains collapse
    * toward the corpus mean, big ones keep their own — the standard fix
    * for trusting a 3-document domain's average quality at face value
    * when building per-domain curation priors. Exact integer micros
    * throughout (μ floors to micros first, then the shrunk mean floors),
    * so any engine replays bit-for-bit. Returns one row per group:
    * `(groupCols…, n_rows, mean_micro, shrunk_micro)`.
    *
    * 100 TB shape: one map-side-combined groupBy to domain-cardinality
    * rows; the global total is a broadcast one-row aggregate OF THE GROUP
    * TABLE (no second corpus pass). Output is domain-sized — built to be
    * broadcast-joined back onto the corpus.
    */
  def domainPrior(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      m: Long): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(m >= 0, "m >= 0")
    val g = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col(valueCol).cast("long")).as("s"))
      .localCheckpoint()
    val tot = g.agg(sum("n").as("tn"), sum("s").as("ts"))
    g.crossJoin(broadcast(tot))
      .select(groupCols.map(col) ++ Seq(
        col("n").as("n_rows"),
        expr("cast(s as decimal(38,0)) * 1000000 div n").as("mean_micro"),
        expr(s"""(cast(s as decimal(38,0)) * 1000000
             + $m * (cast(ts as decimal(38,0)) * 1000000 div tn))
           div (n + $m)""")
          .as("shrunk_micro")): _*)
  }

  /** Column profile of a table — the data-quality pass a pipeline runs
    * before trusting a new drop: per column, row/null counts,
    * lexicographic min/max of the string representation, and a KMV
    * approximate distinct count ([[Sketch.distinctSketch]] — exact below
    * `k`, cross-engine-replayable above it, unlike HyperLogLog). Returns
    * one row per column: `(col_name, n_rows, n_null, min_str, max_str,
    * n_distinct_est)`.
    *
    * min/max compare the STRING form (binary collation, both engines) —
    * numerically-minded consumers should profile a typed min/max
    * separately; the string form exists so one schema fits every column.
    *
    * 100 TB shape: the unpivot is map-side (rows × |cols|, never stored);
    * the stats agg map-side-combines to |cols| rows and the sketch
    * shuffles only distinct (col, hash) pairs. Output is |cols| rows.
    */
  def profile(df: DataFrame, cols: Seq[String], k: Int = 256): DataFrame = {
    require(cols.nonEmpty, "at least one column to profile")
    val stackExpr = s"stack(${cols.size}, " +
      cols.map(c => s"'$c', cast(`$c` as string)").mkString(", ") +
      ") as (col_name, value)"
    val stacked = df.selectExpr(stackExpr)
    val stats = stacked.groupBy("col_name").agg(
      count(lit(1)).as("n_rows"),
      count(col("value")).as("n_nonnull"),
      min(col("value")).as("min_str"),
      max(col("value")).as("max_str"))
    val sk = Sketch.distinctSketch(stacked, "col_name", col("value"), k)
      .select(col("grp").as("col_name"), col("est_distinct"))
    stats.join(sk, Seq("col_name"), "left")
      .select(
        col("col_name"), col("n_rows"),
        (col("n_rows") - col("n_nonnull")).as("n_null"),
        col("min_str"), col("max_str"),
        coalesce(col("est_distinct"), lit(0L)).as("n_distinct_est"))
  }

  /** Equi-width numeric histograms with data-driven ranges — the
    * distribution view a new-drop QA pass puts next to [[profile]]'s
    * scalar stats (spot a clipped sensor, a bimodal length split, a
    * default-value spike). One row per (column, non-empty bucket):
    * `(col_name, bucket, bucket_lo, bucket_hi, n)`.
    *
    * Determinism: the bucket rule is pure IEEE-754 double arithmetic in a
    * fixed operation order — `floor((v-lo)*bins/(hi-lo))` clamped to
    * bins-1, degenerate lo=hi collapsing to bucket 0 — and IEEE ops are
    * exactly specified, so (unlike ln/exp, which need the micro-floor
    * trick) any engine replays the counts bit-for-bit. NULLs are skipped
    * ([[profile]] already counts them).
    *
    * 100 TB shape: a map-side stack/unpivot, one |cols|-row min/max
    * aggregate broadcast back, and one (column, bucket) count — the
    * output is at most |cols|·bins rows regardless of input size, and the
    * corpus shuffles only as map-side-combined partial counts.
    */
  def histogram(df: DataFrame, cols: Seq[String], bins: Int = 20): DataFrame = {
    require(cols.nonEmpty, "at least one column to histogram")
    require(bins >= 1, s"bins=$bins must be >= 1")
    val stackExpr = s"stack(${cols.size}, " +
      cols.map(c => s"'$c', cast(`$c` as double)").mkString(", ") +
      ") as (col_name, v)"
    val stacked = df.selectExpr(stackExpr).filter(col("v").isNotNull)
    val ranges = stacked.groupBy("col_name")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    stacked.join(broadcast(ranges), Seq("col_name"))
      .withColumn("bucket",
        when(col("lo") === col("hi"), lit(0))
          .otherwise(least(
            floor((col("v") - col("lo")) * bins / (col("hi") - col("lo"))).cast("int"),
            lit(bins - 1))))
      .groupBy(col("col_name"), col("bucket"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("col_name"), col("bucket"),
        (col("lo") + col("bucket") * (col("hi") - col("lo")) / bins).as("bucket_lo"),
        (col("lo") + (col("bucket") + 1) * (col("hi") - col("lo")) / bins).as("bucket_hi"),
        col("n"))
  }

  /** Histogram-based quantile estimates: nearest-rank quantiles read off
    * [[histogram]]'s equi-width bins with uniform within-bin
    * interpolation — the at-scale alternative to an exact per-column
    * quantile (which needs a full sort per column) and to Spark's
    * percentile_approx (whose sketch merge is not engine-replayable).
    * Error is bounded by one bin width; `bins` is the knob.
    *
    * Rule, all IEEE-754-exact and replayable: global rank
    * r = floor(p·(N−1)/100); inside the bucket where the cumulative
    * count first covers r, est = lo + width·(r − cum + 0.5)/n.
    * Returns (col_name, percent, bucket, est_value).
    *
    * 100 TB shape: everything beyond [[histogram]]'s two corpus passes
    * operates on the ≤|cols|·bins-row histogram — window + join on a
    * model-sized table, nothing corpus-sized moves again.
    */
  def histogramQuantiles(
      df: DataFrame,
      cols: Seq[String],
      percents: Seq[Int],
      bins: Int = 128): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 0 && p <= 100),
      "percents must be in [0,100]")
    val hist = histogram(df, cols, bins)
    val byCol = Window.partitionBy(col("col_name")).orderBy(col("bucket"))
    val cum = hist
      .withColumn("cum", (sum(col("n")).over(byCol) - col("n")).cast("long"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy(col("col_name"))).cast("long"))
    val ps = explode(array(percents.map(lit): _*)).as("percent")
    cum.select(col("col_name"), col("bucket"), col("bucket_lo"), col("bucket_hi"),
        col("n"), col("cum"), col("total"), ps)
      .withColumn("r", floor(col("percent") * (col("total") - 1) / 100).cast("long"))
      .filter(col("r") >= col("cum") && col("r") < col("cum") + col("n"))
      .select(
        col("col_name"), col("percent"), col("bucket"),
        (col("bucket_lo") + (col("bucket_hi") - col("bucket_lo")) *
          ((col("r") - col("cum")).cast("double") + 0.5) / col("n")).as("est_value"))
  }

  /** EXACT per-group discrete quantiles (nearest-rank, the
    * `quantile_disc` convention): for each group and percent p, the
    * value at sorted rank `floor(p·(n−1)/100)` — no interpolation, no
    * sketch, so the result is a value that actually occurs and hashes
    * identically on every engine. Complements [[histogramQuantiles]]
    * (global, approximate, two corpus passes): use THIS when groups are
    * fine-grained (per-language, per-source, per-day) so each group's
    * sort fits a task, and the histogram path for corpus-global
    * percentiles where a full sort is off the table.
    *
    * Returns `(groupCols..., percent, n, value)`.
    *
    * 100 TB shape: ONE shuffle by group (the ranking window); target
    * ranks come from a groups×|percents| table built by a
    * map-side-combined count and joined back (no forced broadcast —
    * AQE broadcasts it when it fits, which is whenever the group count
    * is sane) — the corpus is never multiplied by |percents| and never
    * moves twice.
    */
  def groupQuantiles(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      percents: Seq[Int]): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(percents.nonEmpty && percents.forall(p => p >= 0 && p <= 100),
      "percents must be in [0,100]")
    val base = df.filter(col(valueCol).isNotNull &&
      groupCols.map(col(_).isNotNull).reduce(_ && _))
    val ranks = base.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .select(groupCols.map(col) :+ col("n") :+
        explode(array(percents.distinct.sorted.map(lit): _*)).as("percent"): _*)
      .withColumn("__r", floor(col("percent") * (col("n") - 1) / 100).cast("long"))
    val wg = Window.partitionBy(groupCols.map(col): _*).orderBy(col(valueCol))
    base
      .withColumn("__r", (row_number().over(wg) - 1).cast("long"))
      .join(ranks, groupCols :+ "__r")
      .select(groupCols.map(col) ++
        Seq(col("percent"), col("n"), col(valueCol).as("value")): _*)
  }

  /** Robust per-group outlier flags via median/MAD — the
    * heavy-tail-safe alternative to mean/stddev z-scores (one 10 GB
    * document does not drag the threshold the way it drags a mean):
    * a row is an outlier when `|x − median| > k · MAD`, both statistics
    * the exact nearest-rank medians of [[groupQuantiles]]. Everything
    * runs in micro-floored longs (`floor(x·1e6)`), so flags replay
    * bit-for-bit on any engine; `kMicro` is k in micro units
    * (3.0 → 3_000_000). A group with MAD = 0 (over half the mass on one
    * value) flags exactly the rows off that value — the conventional
    * degenerate-MAD behavior, documented rather than special-cased.
    *
    * Appends `(x_micro, med_micro, mad_micro, dev_micro, is_outlier)`.
    *
    * 100 TB shape: two [[groupQuantiles]] passes (one over values, one
    * over deviations — each ONE group shuffle) plus two group-keyed
    * joins of model-sized median tables back to the corpus; AQE
    * broadcasts them when the group count is sane.
    */
  def madOutliers(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      kMicro: Long): DataFrame = {
    require(kMicro >= 0, s"kMicro $kMicro must be >= 0")
    val base = df.withColumn("x_micro", floor(col(valueCol) * 1e6).cast("long"))
    val med = groupQuantiles(base, groupCols, "x_micro", Seq(50))
      .select(groupCols.map(col) :+ col("value").as("med_micro"): _*)
    val withMed = base.join(med, groupCols)
      .withColumn("dev_micro", abs(col("x_micro") - col("med_micro")))
    val mad = groupQuantiles(withMed, groupCols, "dev_micro", Seq(50))
      .select(groupCols.map(col) :+ col("value").as("mad_micro"): _*)
    withMed.join(mad, groupCols)
      // decimal(38,0) keeps the cross-multiplied comparison exact for any
      // long dev/mad — long·long would overflow past ~9e12-micro values
      .withColumn("is_outlier",
        col("dev_micro").cast("decimal(38,0)") * 1000000L >
          col("mad_micro").cast("decimal(38,0)") * kMicro)
  }

  /** Pairwise Jensen–Shannon divergence between the per-group
    * distributions of a categorical column — "how differently do these
    * sources/languages/days distribute over X", symmetric and bounded
    * (0 ≤ JSD ≤ ln 2), the corpus-comparison statistic behind mixture
    * drift dashboards. Returns one row per unordered group pair:
    * `(grp_a, grp_b, n_a, n_b, jsd_micro)` in nats·1e6.
    *
    * Exact-integer core: with cell counts c1, c2 and totals N1, N2,
    * `ln M_i` decomposes over INTEGER arguments
    * (`ln(c1·N2 + c2·N1) − ln 2 − ln N1 − ln N2`), so each KL sum is
    * `Σ c·(ln6 …)` of separately-floored integer logs, combined by one
    * decimal(38,0) floor-division — engine-replayable bit-for-bit, and
    * 0·ln 0 cells drop out exactly as in the limit. Floor error is
    * one-sided and ≤ ~4e-6 nats.
    *
    * 100 TB shape: ONE corpus groupBy to the |groups|×|values| cell
    * table; pair enumeration, union supports, and the KL sums are all
    * cell-table math (groups²·values rows at worst) — meant for
    * coarse groupings (sources, languages, days), not per-user.
    */
  def jsdGroups(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val cells = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("string").as("val"))
      .agg(count(lit(1)).as("c"))
    val totals = cells.groupBy("g").agg(sum("c").as("nt"))
    val pairs = totals.select(col("g").as("grp_a"), col("nt").as("n_a"))
      .crossJoin(totals.select(col("g").as("grp_b"), col("nt").as("n_b")))
      .filter(col("grp_a") < col("grp_b"))
    val supp = pairs
      .join(cells, col("g") === col("grp_a") || col("g") === col("grp_b"))
      .select("grp_a", "grp_b", "n_a", "n_b", "val").distinct()
    val ln2Micro = 693147L // floor(ln(2)·1e6)
    val ln6 = (c: String) => s"cast(floor(ln(cast($c as double)) * 1e6) as long)"
    val withC = supp
      .join(cells.select(col("g").as("grp_a"), col("val"), col("c").as("c1")),
        Seq("grp_a", "val"), "left")
      .join(cells.select(col("g").as("grp_b"), col("val"), col("c").as("c2")),
        Seq("grp_b", "val"), "left")
      .withColumn("c1", coalesce(col("c1"), lit(0L)))
      .withColumn("c2", coalesce(col("c2"), lit(0L)))
      // mixture cell mass numerator: m = c1·N2 + c2·N1 (integer, > 0 on support)
      .withColumn("m", col("c1") * col("n_b") + col("c2") * col("n_a"))
      .withColumn("kl1_term", when(col("c1") > 0, expr(
        s"c1 * (${ln6("c1")} + ${ln2Micro}L + ${ln6("n_b")} - ${ln6("m")})"))
        .otherwise(lit(0L)))
      .withColumn("kl2_term", when(col("c2") > 0, expr(
        s"c2 * (${ln6("c2")} + ${ln2Micro}L + ${ln6("n_a")} - ${ln6("m")})"))
        .otherwise(lit(0L)))
    withC.groupBy("grp_a", "grp_b", "n_a", "n_b")
      .agg(sum(col("kl1_term").cast("decimal(38,0)")).as("k1"),
        sum(col("kl2_term").cast("decimal(38,0)")).as("k2"))
      // JSD = ½(K1/N1 + K2/N2) = (K1·N2 + K2·N1) / (2·N1·N2), floor-div
      .withColumn("jsd_micro", expr(
        """cast((k1 * n_b + k2 * n_a) div (2 * cast(n_a as decimal(38,0)) * n_b)
             as long) -
           (case when (k1 * n_b + k2 * n_a) % (2 * cast(n_a as decimal(38,0)) * n_b) != 0
                  and (k1 * n_b + k2 * n_a) < 0 then 1 else 0 end)"""))
      .select("grp_a", "grp_b", "n_a", "n_b", "jsd_micro")
  }

  /** Gini concentration of per-group mass: 0 = perfectly balanced
    * corpus, →1 = one group holds everything — the single number behind
    * "is this mixture dominated by one source". Uses the exact
    * rank-sum identity `G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx)` over
    * ascending-sorted group masses (tie order cannot change the sum),
    * in decimal(38,0) with one floor-division → `gini_micro` hashes on
    * any engine. Mass is the row count per group, or `sum(weightCol)`
    * micro-floored when given (token counts, bytes).
    *
    * Returns one row: `(n_groups, total_mass, gini_micro)`.
    *
    * 100 TB shape: one corpus groupBy to per-group masses; the rank
    * window and sums run on the GROUP table (model-sized). Meant for
    * coarse groupings — sources, languages, shards — not per-user.
    */
  /** Herfindahl–Hirschman concentration of a categorical WITHIN each
    * group — the antitrust index pointed at corpus composition: per
    * language (or label, or shard), how concentrated are the sources?
    * `HHI = Σ_c (n_c/n)²` — 1/k for a perfectly balanced mix, 1.0 for
    * a single-source monoculture; the normalized form
    * `(HHI − 1/k)/(1 − 1/k)` rescales to [0, 1] independent of k. The
    * companion to [[gini]] (inequality of group MASSES) for the
    * two-level question "inside each slice, who dominates?" — a slice
    * one source quietly owns is a slice whose quality, license, and
    * dedup properties are that source's, whatever the corpus-level mix
    * says.
    *
    * Exactness: pure integer — `hhi_micro = Σn_c²·10⁶ div n²` and
    * `hhi_norm_micro = (k·Σn_c² − n²)·10⁶ div (n²·(k−1))`, both
    * nonneg (Cauchy–Schwarz gives k·Σn_c² ≥ n²), no doubles anywhere.
    * Norm NULL when k = 1 (undefined — and HHI already reads 10⁶).
    *
    * Output per group: `(grp, n, k, hhi_micro, hhi_norm_micro)`.
    *
    * Overflow: k·Σn_c²·10⁶ ≤ k·n²·10⁶ rides decimal(38,0) to
    * n ≈ 10¹⁶/√k rows per group — loud-NULL past it.
    *
    * 100 TB shape: ONE map-side-combined groupBy(group, category) —
    * the corpus's only shuffle — then a groupBy(group) over the
    * (groups × categories) table. No row-level state anywhere.
    */
  def hhiConcentration(
      df: DataFrame,
      groupCol: String,
      catCol: String): DataFrame = {
    val cc = df
      .filter(col(groupCol).isNotNull && col(catCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("grp"),
        col(catCol).cast("string").as("__c"))
      .agg(count(lit(1)).as("__nc"))
    cc.groupBy("grp")
      .agg(sum("__nc").as("n"), count(lit(1)).as("k"),
        sum(expr("cast(__nc as decimal(38,0)) * __nc")).as("__sq"))
      .select(col("grp"), col("n"), col("k"),
        expr("""cast(__sq * 1000000
               div (cast(n as decimal(38,0)) * n) as long)""")
          .as("hhi_micro"),
        expr("""cast(case when k >= 2 then
            (k * __sq - cast(n as decimal(38,0)) * n) * 1000000
              div (cast(n as decimal(38,0)) * n * (k - 1)) end as long)""")
          .as("hhi_norm_micro"))
  }

  def gini(
      df: DataFrame,
      groupCol: String,
      weightCol: Option[String] = None): DataFrame = {
    val masses = weightCol match {
      case Some(w) => df.filter(col(groupCol).isNotNull && col(w).isNotNull)
        .groupBy(col(groupCol).as("g"))
        .agg(sum(floor(col(w) * 1e6).cast("long")).as("x"))
      case None => df.filter(col(groupCol).isNotNull)
        .groupBy(col(groupCol).as("g"))
        .agg(count(lit(1)).as("x"))
    }
    masses
      .withColumn("i", row_number().over(
        Window.orderBy(col("x"), col("g"))).cast("long"))
      .agg(count(lit(1)).as("n_groups"), sum(col("x")).as("total_mass"),
        sum(col("i").cast("decimal(38,0)") * col("x")).as("ixs"))
      .withColumn("gini_micro", expr(
        """cast((2 * ixs - (n_groups + 1) * cast(total_mass as decimal(38,0)))
             * 1000000
             div (cast(n_groups as decimal(38,0)) * total_mass) as long)"""))
      .select("n_groups", "total_mass", "gini_micro")
  }

  /** Histogram rarity (surprise) score: each row's negative log density
    * under REF's per-column equi-width histograms, summed across
    * columns — a cheap, fully-distributed anomaly score ("how unusual
    * is this row") that needs no model fit beyond two aggregation
    * passes. Laplace-smoothed (`+1` per bucket) so rows landing in
    * buckets REF never saw still score (high, as they should);
    * out-of-range values clamp to edge buckets ([[graft.ops.Corpus.psi]]'s
    * rule); a NULL contributes nothing but increments `n_missing`.
    *
    * `surprise_micro = Σ_cols ln6(N_c + bins) − ln6(n_bucket + 1)` —
    * exact integers via the usual separately-floored logs; ~ln(corpus)
    * per fully-unseen column.
    *
    * 100 TB shape: REF collapses to a cols×bins model (two map-side
    * passes) that rides the scoring plan as LITERAL maps — the scored
    * frame is touched once, map-only, no join, no shuffle.
    */
  def rarityScore(
      ref: DataFrame,
      score: DataFrame,
      idCol: String,
      cols: Seq[String],
      bins: Int = 64): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    require(bins >= 2 && bins <= 1024, s"bins $bins out of [2,1024]")
    def stacked(df: DataFrame) = df.selectExpr(
        s"stack(${cols.size}, " +
          cols.map(c => s"'$c', cast(`$c` as double)").mkString(", ") +
          ") as (col_name, v)")
      .filter(col("v").isNotNull)
    val ranges = stacked(ref).groupBy("col_name")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    def bucketOf(c: String, lo: Double, hi: Double) =
      if (lo == hi) lit(0)
      else least(greatest(
        floor((col(c).cast("double") - lo) * bins / (hi - lo)).cast("int"),
        lit(0)), lit(bins - 1))
    val counts = stacked(ref)
      .withColumn("bucket", {
        // per-column bucket rule replayed on the stacked frame
        cols.map(c => when(col("col_name") === c, {
          val (lo, hi) = ranges.getOrElse(c, (0.0, 0.0))
          if (lo == hi) lit(0)
          else least(greatest(
            floor((col("v") - lo) * bins / (hi - lo)).cast("int"),
            lit(0)), lit(bins - 1))
        })).reduce(_ otherwise _)
      })
      .groupBy("col_name", "bucket").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val totals = cols.map(c =>
      c -> counts.collect { case ((cn, _), n) if cn == c => n }.sum).toMap
    val lnM = (x: Double) => math.floor(math.log(x) * 1e6).toLong
    val perCol = cols.map { c =>
      val (lo, hi) = ranges.getOrElse(c, (0.0, 0.0))
      val lnTotal = lnM((totals.getOrElse(c, 0L) + bins).toDouble)
      val lnByBucket = (0 until bins).map(b =>
        b -> lnM((counts.getOrElse((c, b), 0L) + 1L).toDouble)).toMap
      val contribution =
        if (!ranges.contains(c)) lit(lnM(bins.toDouble)) - lit(0L)
        else lit(lnTotal) -
          element_at(typedLit(lnByBucket), bucketOf(c, lo, hi))
      (when(col(c).isNotNull, contribution).otherwise(lit(0L)),
        when(col(c).isNull, 1L).otherwise(0L))
    }
    score.select(col(idCol),
      perCol.map(_._1).reduce(_ + _).as("surprise_micro"),
      perCol.map(_._2).reduce(_ + _).as("n_missing"))
  }

  /** Shipping manifest per partition-value combination: row count plus
    * an ORDER-INDEPENDENT content checksum (the sum of each row's
    * md5-prefix u32 over the declared `hashCols`, unit-separator
    * joined) — two corpora with equal manifests carry identical rows per
    * partition regardless of file layout, row order, or engine, which is
    * exactly what a cross-cluster copy wants to verify without moving
    * data back.
    *
    * NULLs hash as empty fields (concat_ws skips them — a NULL and ''
    * collide; include an explicit is-null flag column when that matters).
    *
    * 100 TB shape: one map-side-combined groupBy over the partition
    * columns; output is partition-count-sized.
    */
  def manifest(
      df: DataFrame,
      partitionCols: Seq[String],
      hashCols: Seq[String]): DataFrame = {
    require(partitionCols.nonEmpty && hashCols.nonEmpty,
      "need partition and hash columns")
    val rowHash = expr(
      s"""cast(conv(substring(md5(concat_ws(char(31),
         ${hashCols.map(c => s"cast(`$c` as string)").mkString(", ")})), 1, 8),
         16, 10) as long)""")
    df.groupBy(partitionCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), sum(rowHash).as("content_sum"))
  }

  /** Hot-key skew report: the top-k heaviest values per column with
    * their corpus share — the before-the-join diagnosis that tells you
    * which keys need salting, an AQE skew hint, or a broadcast rethink
    * (completes the drop-QA triad with [[profile]] and [[histogram]]).
    * Returns `(col_name, rank, value, cnt, share)`; NULL counts as a
    * value (a null-heavy join key is the classic silent hotspot), ranked
    * with explicit NULLS LAST tie-breaking so the report replays on any
    * engine.
    *
    * 100 TB shape: map-side stack/unpivot into one map-side-combined
    * (col, value) count, a |cols|-row total agg broadcast back, and a
    * per-column top-k window over the already-aggregated count table —
    * the window sorts distinct values, not rows; output is ≤ cols·k.
    */
  def skewReport(df: DataFrame, cols: Seq[String], k: Int = 10): DataFrame = {
    require(cols.nonEmpty && k >= 1, "at least one column, k >= 1")
    val stackExpr = s"stack(${cols.size}, " +
      cols.map(c => s"'$c', cast(`$c` as string)").mkString(", ") +
      ") as (col_name, value)"
    val counts = df.selectExpr(stackExpr)
      .groupBy(col("col_name"), col("value"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val totals = counts.groupBy(col("col_name")).agg(sum(col("cnt")).as("__tot"))
    counts
      .withColumn("rank",
        row_number().over(
          Window.partitionBy(col("col_name"))
            .orderBy(col("cnt").desc, col("value").asc_nulls_last)))
      .filter(col("rank") <= k)
      .join(broadcast(totals), Seq("col_name"))
      .select(
        col("col_name"), col("rank"), col("value"), col("cnt"),
        round(col("cnt").cast("double") / col("__tot"), 4).as("share"))
  }

  /** Row-level diff of two snapshots by id: `unchanged` (same id, same
    * normalized text), `changed` (same id, different text), `added` (only
    * in `cur`), `removed` (only in `old`). Content comparison uses
    * [[TextOps.normalizedHash]], so whitespace/punctuation-only edits
    * count as unchanged.
    *
    * 100 TB shape: each side reduces to (id, hash) map-side before the
    * one full-outer equi-join shuffle on the id; the text itself never
    * shuffles. Output carries the id and status only — join it back to
    * whichever side a consumer needs (the delta is usually tiny, so that
    * join-back broadcasts).
    */
  def diff(
      old: DataFrame,
      cur: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    // presence is tracked explicitly, NOT via hash nullness — a NULL text
    // hashes to NULL and would otherwise fake an absent side; comparison
    // is null-safe so two NULL texts compare unchanged
    def hashed(df: DataFrame, h: String, p: String) =
      df.select(
        col(idCol).as("id"),
        TextOps.normalizedHash(col(textCol)).as(h),
        lit(true).as(p))
    hashed(old, "h_old", "in_old")
      .join(hashed(cur, "h_cur", "in_cur"), Seq("id"), "full_outer")
      .select(
        col("id"),
        when(col("in_old").isNull, lit("added"))
          .when(col("in_cur").isNull, lit("removed"))
          .when(col("h_old") <=> col("h_cur"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** GPT-style sequence packing, global piece-level assembly plan —
    * complements [[TextOps.packSequences]] (a per-group manifest of start
    * positions): here documents are concatenated in GLOBAL `idCol` order
    * into one token stream, split into fixed `seqLen`-token training
    * sequences, and each boundary-straddling document is exploded into
    * its per-sequence pieces. One row per (sequence, document piece):
    * `(seq_id, <idCol>, start_in_seq, start_in_doc, piece_len)` — a
    * writer reassembles sequence `s` by concatenating its pieces ordered
    * by `start_in_seq`. Zero-token documents are dropped (they contribute
    * nothing to the stream).
    *
    * 100 TB shape: a global prefix-sum without a global window. Docs are
    * id-range bucketed (`numBuckets` buckets); the cumulative token count
    * is a per-bucket window cumsum (parallel across buckets) plus an
    * exclusive prefix over the `numBuckets`-row bucket-total table — that
    * tiny table is the only keyless window, bounded by `numBuckets`, and
    * is broadcast back. One shuffle for the bucket window, one map-side
    * explode; no driver collect. Output is deterministic: the prefix sum
    * depends only on the id order, not on partitioning.
    */
  def packPieces(
      df: DataFrame,
      idCol: String,
      nTokCol: String,
      seqLen: Long,
      numBuckets: Int = 1024): DataFrame = {
    require(seqLen > 0, s"seqLen $seqLen must be positive")
    require(numBuckets > 0, s"numBuckets $numBuckets must be positive")
    val t = df
      .select(col(idCol).cast("long").as("__id"), col(nTokCol).cast("long").as("__n"))
      .filter(col("__id").isNotNull && col("__n") > 0)
    val bounds = t.agg(min("__id").as("lo"), max("__id").as("hi"))
    val bucketed = t.crossJoin(broadcast(bounds))
      .withColumn("__w",
        greatest(lit(1L), expr(s"(hi - lo + $numBuckets) div ${numBuckets}L")))
      .withColumn("__b", expr("(__id - lo) div __w"))
      .select("__id", "__n", "__b")
    val inBucket = bucketed.withColumn("__cum",
      sum("__n").over(Window.partitionBy("__b").orderBy("__id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // numBuckets-row table: exclusive prefix of bucket totals (the only
    // keyless window, bounded by numBuckets)
    val offsets = bucketed.groupBy("__b").agg(sum("__n").as("__bt"))
      .withColumn("__off",
        coalesce(sum("__bt").over(Window.orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__b", "__off")
    val spans = inBucket
      .join(broadcast(offsets), Seq("__b"))
      .withColumn("__start", col("__off") + col("__cum") - col("__n"))
      .withColumn("__end", col("__off") + col("__cum"))
    spans
      .select(col("__id"), col("__n"), col("__start"), col("__end"),
        explode(sequence(
          expr(s"__start div ${seqLen}L"),
          expr(s"(__end - 1) div ${seqLen}L"))).as("seq_id"))
      .withColumn("__sbase", col("seq_id") * seqLen)
      .select(
        col("seq_id"),
        col("__id").as(idCol),
        (greatest(col("__start"), col("__sbase")) - col("__sbase")).as("start_in_seq"),
        (greatest(col("__start"), col("__sbase")) - col("__start")).as("start_in_doc"),
        (least(col("__end"), col("__sbase") + seqLen)
          - greatest(col("__start"), col("__sbase"))).as("piece_len"))
  }

  /** Compaction-aware partitioned write — the small-files control a
    * 100 TB layout needs. A plain `write.partitionBy(cols)` after a hash
    * shuffle leaves every partition directory with one file PER SHUFFLE
    * TASK (tiny files × thousands of tasks), and a `repartition(cols)`
    * leaves ONE file per directory (a single writer per partition value —
    * the skewed-partition bottleneck). This sizes files to the data: each
    * partition value gets `ceil(rows / targetRowsPerFile)` salt buckets,
    * the frame shuffles once on (partitionCols, salt), and the writer
    * emits at most that many files per directory.
    *
    * The per-partition-value count table collects to the driver — bounded
    * by the partition-value cardinality (a layout with more distinct
    * partition values than driver memory is a broken layout, not a
    * broken writer). `keyCol` salts deterministically (md5), so reruns
    * produce identical file assignment.
    *
    * NULL partition values are preserved: the count join is null-safe
    * (`<=>` per partition column), so null-keyed rows land in
    * `__HIVE_DEFAULT_PARTITION__` exactly as a plain `partitionBy` would,
    * instead of being silently dropped by a null-rejecting equi-join.
    */
  def compactWrite(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      keyCol: String,
      targetRowsPerFile: Long,
      format: String = "parquet"): Unit = {
    require(partitionCols.nonEmpty, "compactWrite requires partition columns")
    require(targetRowsPerFile > 0, s"targetRowsPerFile $targetRowsPerFile must be positive")
    val renamed = partitionCols.map(c => c -> s"__pv_$c").toMap
    val counts = df.groupBy(partitionCols.map(col): _*).count()
      .withColumn("__nf",
        ceil(col("count").cast("double") / targetRowsPerFile).cast("int"))
      .drop("count")
      .select(partitionCols.map(c => col(c).as(renamed(c))) :+ col("__nf"): _*)
    // null-safe join: rows with NULL partition values keep flowing to the
    // writer (Hive default partition) rather than vanishing
    val joinCond = partitionCols.map(c => col(c) <=> col(renamed(c))).reduce(_ && _)
    val salted = df
      .join(broadcast(counts), joinCond)
      .drop(partitionCols.map(renamed): _*)
      .withColumn("__salt",
        pmod(conv(substring(md5(coalesce(col(keyCol).cast("string"), lit(""))), 1, 8), 16, 10).cast("long"),
          col("__nf").cast("long")))
      .drop("__nf")
    salted
      .repartition((partitionCols :+ "__salt").map(col): _*)
      .drop("__salt")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRowsPerFile)
      .partitionBy(partitionCols: _*)
      .format(format)
      .save(path)
  }

  /** Named-predicate filter cascade with drop attribution (the FineWeb /
    * RefinedWeb curation-report shape): each row gets the name of the
    * FIRST filter (in declared order) it fails as `drop_reason`
    * (NULL = kept, `keep` = true). First-fail attribution is what makes
    * per-filter drop counts sum to the total drop rate — the number a
    * curation report actually wants — unlike independent per-filter rates
    * that double-count docs failing several filters.
    *
    * 100 TB shape: one `coalesce(when(¬p_i, name_i)…)` codegen expression
    * — map-only, no shuffle, every predicate evaluated in the same
    * whole-stage pass over the scan.
    */
  def filterCascade(
      df: DataFrame,
      idCols: Seq[String],
      filters: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(filters.nonEmpty, "at least one filter")
    val reason = coalesce(filters.map { case (n, p) => when(!p, lit(n)) }: _*)
    df.select(idCols.map(col) :+ reason.as("drop_reason"): _*)
      .withColumn("keep", col("drop_reason").isNull)
  }

  /** Z-order (Morton) value over `cols`: each column is clamped to
    * `[0, 2^bits)` and their low `bits` bits are round-robin interleaved
    * (column 0 owns bit positions `0, n, 2n, …`). Rows close in z-value
    * are close in EVERY dimension, so sorting storage by z-value gives
    * min/max file statistics that prune multi-column predicates — the
    * layout trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`, here as a
    * plain codegen column expression (`bits·n` shift/mask terms, no UDF,
    * no shuffle). Callers pre-bucket non-integer dimensions (e.g.
    * `pmod(hash(c), 2^bits)` or a rank bucket) — interleaving only sees
    * non-negative integers. `bits·n` must fit a signed long (≤ 62).
    */
  def zorderValue(cols: Seq[org.apache.spark.sql.Column], bits: Int): org.apache.spark.sql.Column = {
    val n = cols.length
    require(n >= 1, "zorderValue needs at least one column")
    require(bits >= 1 && n * bits <= 62, s"n*bits = ${n * bits} must be in [1, 62]")
    val top = (1L << bits) - 1
    val clamped = cols.map(c => least(greatest(c.cast("long"), lit(0L)), lit(top)))
    val terms = for {
      i <- 0 until bits
      (c, ci) <- clamped.zipWithIndex
    } yield shiftleft(shiftrightunsigned(c, i).bitwiseAND(lit(1L)), i * n + ci)
    terms.reduce(_ + _)
  }

  /** Cluster `df` for storage locality: range-partition into `numFiles`
    * output tasks by the z-value of `cols` and sort within each — one
    * write produces files whose per-file min/max span a small hyper-box
    * in every `cols` dimension instead of the full range, so downstream
    * scans with predicates on ANY of the dimensions skip most files.
    *
    * 100 TB shape: the z-value is map-side codegen; the only data
    * movement is ONE range shuffle (boundary sampling is Spark's
    * standard RangePartitioner pass). This is exactly the shape of a
    * table-format OPTIMIZE job, minus the manifest bookkeeping.
    */
  def zorderBy(
      df: DataFrame,
      cols: Seq[org.apache.spark.sql.Column],
      bits: Int,
      numFiles: Int): DataFrame = {
    require(numFiles >= 1, "numFiles >= 1")
    df.withColumn("__z", zorderValue(cols, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** A declarative data-quality expectation, compiled by [[expectations]]
    * into one aggregation pass.
    */
  sealed trait Check { def label: String; def column: String }
  object Check {
    /** Column must be non-null. */
    final case class NotNull(column: String) extends Check { val label = "not_null" }
    /** Numeric column within [lo, hi] (NULLs don't violate — pair with NotNull). */
    final case class InRange(column: String, lo: Double, hi: Double) extends Check {
      val label = "in_range"
    }
    /** String column fully matches the regex (NULLs don't violate). */
    final case class Matches(column: String, regex: String) extends Check {
      val label = "matches"
    }
    /** String column drawn from an accepted set (NULLs don't violate). */
    final case class Accepted(column: String, values: Seq[String]) extends Check {
      val label = "accepted"
    }
    /** Column tuple is unique across the table. NULL components collapse
      * in the concat_ws key — pair with NotNull on each component.
      */
    final case class Unique(columns: Seq[String]) extends Check {
      val label = "unique"; val column = columns.mkString(",")
    }
  }

  /** Data-quality gate over declarative expectations — the contract check
    * a pipeline runs on every new drop BEFORE it enters curation (the
    * assert-side companion of [[profile]]/[[histogram]]'s describe-side).
    * Returns one row per check: `(check, column, n_violations, passed)`.
    *
    * 100 TB shape: every check compiles to a conditional count inside ONE
    * aggregation over the table (uniqueness adds its distinct count to
    * the same pass), so the full contract costs a single scan + one
    * map-side-combined shuffle regardless of how many checks it carries;
    * the output is |checks| rows.
    */
  def expectations(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "at least one check")
    val aggs = checks.zipWithIndex.map { case (c, i) =>
      (c match {
        case Check.NotNull(colName) =>
          sum(when(col(colName).isNull, 1L).otherwise(0L))
        case Check.InRange(colName, lo, hi) =>
          sum(when(col(colName) < lo || col(colName) > hi, 1L).otherwise(0L))
        case Check.Matches(colName, regex) =>
          sum(when(col(colName).isNotNull && !col(colName).rlike(regex), 1L).otherwise(0L))
        case Check.Accepted(colName, values) =>
          sum(when(col(colName).isNotNull && !col(colName).isin(values: _*), 1L).otherwise(0L))
        case Check.Unique(cols) =>
          count(lit(1)) - countDistinct(concat_ws("|", cols.map(col): _*))
      }).as(s"v$i")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stack = s"stack(${checks.size}, " + checks.zipWithIndex.map { case (c, i) =>
      val lbl = c.label.replace("'", "''")
      val cn = c.column.replace("'", "''")
      s"'$lbl', '$cn', coalesce(v$i, 0L)"
    }.mkString(", ") + ") as (check, column, n_violations)"
    one.selectExpr(stack)
      .withColumn("passed", col("n_violations") === 0L)
  }

  /** Packing-efficiency forecast: per group, how much accelerator time
    * sequence packing ([[packPieces]]) would save over naive
    * pad-each-document-to-`seqLen` batching. Reports exact-integer
    * sequence counts under both strategies and the resulting token
    * utilization (4-dp): `util_padded` = real tokens / slots when every
    * doc pads to its own ceil(len/seqLen) sequences, `util_packed` = the
    * same over ceil(total/seqLen) concat-then-split sequences (≈ 1 up to
    * the final partial sequence). The gap between the two, multiplied by
    * the training budget, is the packing decision in one table — the
    * report a pipeline owner reads BEFORE paying for a packing job.
    *
    * 100 TB shape: one map-side-combined aggregation keyed by the group;
    * token counts fold per row (no explode, no shuffle of tokens).
    */
  def packingEfficiency(
      df: DataFrame,
      groupCol: String,
      nTokensCol: String,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen $seqLen must be positive")
    val L = seqLen.toLong
    df.groupBy(col(groupCol).as("grp"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(nTokensCol)).cast("long").as("n_tokens"),
        sum(expr(s"(`$nTokensCol` + ${L - 1}) DIV $L")).cast("long").as("n_seqs_padded"))
      .withColumn("n_seqs_packed", expr(s"(n_tokens + ${L - 1}) DIV $L"))
      .withColumn("util_padded",
        round(col("n_tokens").cast("double") / (col("n_seqs_padded") * L), 4))
      .withColumn("util_packed",
        round(col("n_tokens").cast("double") / (col("n_seqs_packed") * L), 4))
      .withColumn("seqs_saved", col("n_seqs_padded") - col("n_seqs_packed"))
  }

  /** Population Stability Index drift between a REFERENCE snapshot and a
    * CURRENT snapshot, per numeric column — the standard feature/corpus
    * monitoring statistic (`psi < 0.1` stable, `0.1–0.2` moderate,
    * `> 0.2` drifted): `Σ_bins (pRef − pCur)·ln(pRef/pCur)` over
    * equi-width buckets cut from the REFERENCE's range ([[histogram]]'s
    * exact bucket rule, with current-side values outside that range
    * clamped into the edge buckets) and Laplace-smoothed counts
    * (`+1` per bucket) so empty buckets never hit `ln 0`.
    *
    * Exact-integer discipline: proportions are micro-floored integer
    * divisions and each log is SEPARATELY micro-floored
    * (`ln(cnt+1)`/`ln(tot)` decomposition — same engine-replayable trick
    * as pmiCollocations), so `psi_pico` (1e-12 units) compares
    * bit-for-bit across engines; `drifted` applies the 0.2 threshold to
    * the integer.
    *
    * 100 TB shape: two stack/unpivot count passes (one per snapshot,
    * map-side combined) against a broadcast |cols|-row range table; all
    * math after that runs on the ≤ cols·bins-row count table.
    */
  def psi(
      ref: DataFrame,
      cur: DataFrame,
      cols: Seq[String],
      bins: Int = 10): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    require(bins >= 2 && bins <= 1000, s"bins $bins out of [2,1000]")
    def stacked(df: DataFrame) = df.selectExpr(
        s"stack(${cols.size}, " +
          cols.map(c => s"'$c', cast(`$c` as double)").mkString(", ") +
          ") as (col_name, v)")
      .filter(col("v").isNotNull)
    val ranges = stacked(ref).groupBy("col_name")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .localCheckpoint(true)
    def counts(df: DataFrame, out: String) = stacked(df)
      .join(broadcast(ranges), Seq("col_name"))
      .withColumn("bucket",
        when(col("lo") === col("hi"), lit(0))
          .otherwise(least(greatest(
            floor((col("v") - col("lo")) * bins / (col("hi") - col("lo"))).cast("int"),
            lit(0)), lit(bins - 1))))
      .groupBy("col_name", "bucket").agg(count(lit(1)).as(out))
    val spine = ranges.select(col("col_name"),
      explode(sequence(lit(0), lit(bins - 1))).as("bucket"))
    val lnMicro: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      x => floor(log(x.cast("double")) * 1e6).cast("long")
    val joined = spine
      .join(counts(ref, "ca"), Seq("col_name", "bucket"), "left")
      .join(counts(cur, "cb"), Seq("col_name", "bucket"), "left")
      .select(col("col_name"), col("bucket"),
        (coalesce(col("ca"), lit(0L)) + 1).as("ca1"),
        (coalesce(col("cb"), lit(0L)) + 1).as("cb1"))
    val tot = joined.groupBy("col_name")
      .agg(sum("ca1").as("ta"), sum("cb1").as("tb"))
    joined.join(broadcast(tot), Seq("col_name"))
      .select(col("col_name"),
        expr("cast(ca1 as decimal(38,0)) * 1000000 div ta").as("pa"),
        expr("cast(cb1 as decimal(38,0)) * 1000000 div tb").as("pb"),
        (lnMicro(col("ca1")) - lnMicro(col("ta")) -
          lnMicro(col("cb1")) + lnMicro(col("tb"))).as("lr"),
        (col("ta") - bins).as("n_ref"), (col("tb") - bins).as("n_cur"))
      .groupBy(col("col_name"))
      .agg(max("n_ref").as("n_ref"), max("n_cur").as("n_cur"),
        sum((col("pa") - col("pb")) * col("lr")).as("psi_pico"))
      .withColumn("drifted", col("psi_pico") > 200000000000L)
  }

  /** Benford first-digit literals: floor(log10(1 + 1/d) · 1e6) for
    * d = 1..9, hardcoded so NO engine's log10 rounding is in the loop.
    */
  private val benfordMicro: Map[Int, Long] = Map(
    1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)

  /** Benford's-law first-digit audit per group: observed share of each
    * leading significant digit vs the log-law expectation — the
    * fabricated-numbers / synthetic-leak detector for naturally-spread
    * magnitudes (prices, populations, file sizes; NOT bounded uniforms
    * like percentages). The digit reads off `floor(v·100)` cast to a
    * string (centi-scaling keeps sub-unit values' leading digit), so
    * extraction is engine-identical; the nine expected shares are
    * hardcoded micro literals — no runtime log10 anywhere. Rows with
    * `v ≤ 0` are excluded (no leading significant digit). Returns one
    * row per (group, digit): `(groupCol, digit, n, n_group, share_micro,
    * benford_micro, dev_micro)` with `dev_micro = |share − expected|`;
    * digits a group never produced are absent (share 0 is visible via
    * the missing row and the group total).
    *
    * 100 TB shape: ONE map-side-combined groupBy(group, digit) — output
    * is groups×9-sized; group totals come from a 9-row window over the
    * cell table, not a second pass.
    */
  def benford(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull &&
        col(valueCol) > 0)
      .withColumn("digit",
        substring(floor(col(valueCol).cast("double") * 100)
          .cast("long").cast("string"), 1, 1).cast("int"))
      .filter(col("digit") >= 1)
      .groupBy(col(groupCol), col("digit"))
      .agg(count(lit(1)).as("n"))
    val expected = benfordMicro.foldLeft(lit(null).cast("long")) {
      case (acc, (d, m)) => when(col("digit") === d, lit(m)).otherwise(acc)
    }
    cells
      .withColumn("n_group",
        sum(col("n")).over(Window.partitionBy(col(groupCol))))
      .withColumn("share_micro", expr("cast(n as decimal(38,0)) * 1000000 div n_group"))
      .withColumn("benford_micro", expected)
      .withColumn("dev_micro", abs(col("share_micro") - col("benford_micro")))
      .select(col(groupCol), col("digit"), col("n"), col("n_group"),
        col("share_micro"), col("benford_micro"), col("dev_micro"))
  }

  /** Referential-integrity audit across table relations: for each
    * declared (child.fk → parent.pk) edge, how many child rows point
    * nowhere — the orphan count a snapshot pipeline checks BEFORE a
    * join-heavy training run silently inner-joins those rows away (an
    * orphan rate that jumps between snapshots is an upstream extract
    * breaking, and inner joins hide it). NULL FKs are reported
    * separately (`n_null_fk`) — a nullable FK is a modeling choice, a
    * dangling one is a defect. Returns one row per relation:
    * `(relation, n_rows, n_child, n_null_fk, n_orphans, orphan_micro)`
    * where `n_child` counts non-NULL FKs and `orphan_micro` is the
    * orphan share of them.
    *
    * 100 TB shape: per relation ONE left-anti join of the child's FK
    * column (pruned scan) against the parent's DISTINCT keys — AQE
    * broadcasts dimension-sized parents and falls back to a shuffle
    * for fact-sized ones; counts are one-row aggregates, no row ever
    * leaves the executors.
    */
  /** Lorenz curve of a weight over its holders, in `buckets` equal-count
    * slices ordered poorest-first: per slice, its exact share of holders
    * and of total weight, cumulated — "the top decile of customers carry
    * 62% of revenue", the curve behind the q162 Gini scalar (a report
    * wants the shape, not just the area). Holder ranks come from
    * [[Ranks.globalRank]] (no single-task window over holders); the
    * per-slice cum table is `buckets`-sized, so its tiny ordered window
    * is post-aggregation (the groupFolds precedent). All integer: micro
    * weights, exact rank-slice arithmetic `(b·(rank−1)) div n`. Returns
    * `(bucket, n_holders, weight_micro, cum_holders, cum_weight_micro,
    * cum_share_micro)`. Negative weights are rejected PER HOLDER (a
    * Lorenz curve over mixed-sign weight is undefined; a negative holder
    * hiding inside a net-positive bucket is still a contract violation).
    *
    * 100 TB shape: the corpus is scanned once into the checkpointed
    * holder-cardinality table (which also serves the validation — no
    * second run of the rank pipeline), then one range exchange for the
    * rank + a buckets-sized rollup. Nothing row-sized past the rank.
    */
  def lorenzCurve(
      df: DataFrame,
      holderCol: String,
      valueCol: String,
      buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2, s"buckets $buckets must be >= 2")
    val holders = df
      .filter(col(holderCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(holderCol).as("__h"))
      .agg(sum(floor(col(valueCol).cast("double") * 1e6).cast("long")).as("__w"))
      // ONE corpus pass: the checkpointed holder table (holder-sized, far
      // smaller than the corpus) feeds both the negative-weight validation
      // and the rank pipeline. The old eager bucket-level count() re-ran
      // the whole rank pipeline a second time AND bucket sums could hide a
      // negative holder inside a net-positive bucket.
      .localCheckpoint(true)
    val minw = holders.agg(min("__w")).first()
    require(minw.isNullAt(0) || minw.getLong(0) >= 0,
      "lorenzCurve requires non-negative per-holder weights")
    val ranked = Ranks.globalRank(holders, Seq(col("__w"), col("__h")), "__rn")
    val n = ranked.agg(count(lit(1)).as("__n"))
    val cells = ranked.crossJoin(broadcast(n))
      .withColumn("bucket", expr(s"($buckets * (__rn - 1)) div __n").cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_holders"), sum("__w").as("weight_micro"))
    val wOrd = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_holders", sum(col("n_holders")).over(wOrd))
      .withColumn("cum_weight_micro", sum(col("weight_micro")).over(wOrd))
      .withColumn("cum_share_micro", expr(
        """cast(cast(cum_weight_micro as decimal(38,0)) * 1000000
           div greatest(sum(weight_micro) over (), 1) as long)"""))
  }

  /** Inclusion-dependency (foreign-key) discovery — the complement of
    * [[integrityAudit]]: that op CHECKS relations you declare, this one
    * FINDS them, Spider/Metanome-style. For every ordered pair of
    * distinct columns across `relations`, the fraction of the child's
    * distinct values contained in the parent's: `containment_micro =
    * n_common·1e6 div n_child_distinct`, plus the parent's uniqueness
    * (`n_parent_distinct·1e6 div n_parent_rows` — a real FK target is
    * key-like, ≈1e6). `is_candidate` flags containment ≥ the threshold.
    * Values compare as strings (cross-type joins are exactly how
    * undeclared FKs hide).
    *
    * 100 TB shape: each table is scanned ONCE and exploded map-side to
    * `(col, value)` pairs, the per-column distinct is one
    * map-side-combined shuffle, and the cross-column match is ONE
    * equi-join on value whose per-value bucket is bounded by the COLUMN
    * COUNT (a value can appear at most once per column after the
    * distinct) — schema-sized, never row-skewed. Output is ≤ cols²
    * rows.
    */
  def inclusionDependencies(
      relations: Seq[(String, DataFrame, Seq[String])],
      minContainmentMicro: Long = 950000L): DataFrame = {
    require(relations.nonEmpty, "at least one relation")
    require(relations.forall(_._3.nonEmpty), "each relation needs columns")
    val vals = relations.map { case (name, df, cols) =>
      df.select(explode(array(cols.map(c =>
          struct(lit(s"$name.$c").as("qcol"),
            col(c).cast("string").as("v"))): _*)).as("e"))
        .select(col("e.qcol"), col("e.v"))
        .filter(col("v").isNotNull)
    }.reduce(_ unionByName _)
    val rowCounts = relations.map { case (name, df, cols) =>
      df.agg(count(lit(1)).as("n"))
        .select(explode(array(cols.map(c => lit(s"$name.$c")): _*))
          .as("qcol"), col("n"))
    }.reduce(_ unionByName _)
    val distincts = vals.distinct().localCheckpoint()
    // cols-row table, checkpointed: it joins the output TWICE (child and
    // parent stats) and its lineage carries the per-table counting scans
    // — without this each table is re-counted once per use
    val colStats = distincts.groupBy("qcol")
      .agg(count(lit(1)).as("n_distinct"))
      .join(rowCounts, "qcol")
      .localCheckpoint()
    val matches = distincts.as("a")
      .join(distincts.as("b"),
        col("a.v") === col("b.v") && col("a.qcol") =!= col("b.qcol"))
      .groupBy(col("a.qcol").as("child"), col("b.qcol").as("parent"))
      .agg(count(lit(1)).as("n_common"))
    matches
      .join(broadcast(colStats.select(col("qcol").as("child"),
        col("n_distinct").as("n_child_distinct"))), "child")
      .join(broadcast(colStats.select(col("qcol").as("parent"),
        col("n_distinct").as("n_parent_distinct"),
        col("n").as("n_parent_rows"))), "parent")
      .withColumn("containment_micro", expr(
        "cast(n_common as decimal(38,0)) * 1000000 div n_child_distinct"))
      .withColumn("parent_unique_micro", expr(
        "cast(n_parent_distinct as decimal(38,0)) * 1000000 div greatest(n_parent_rows, 1)"))
      .withColumn("is_candidate",
        col("containment_micro") >= minContainmentMicro)
      .select("child", "parent", "n_child_distinct", "n_parent_distinct",
        "n_common", "containment_micro", "parent_unique_micro",
        "is_candidate")
  }

  def integrityAudit(
      relations: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(relations.nonEmpty, "at least one relation")
    relations.map { case (name, child, fkCol, parent, pkCol) =>
      val fks = child.select(col(fkCol).as("__fk"))
      val pks = parent.select(col(pkCol).as("__pk"))
        .filter(col("__pk").isNotNull).distinct()
      val totals = fks.agg(
        count(lit(1)).as("n_rows"), count(col("__fk")).as("n_child"))
      val orphans = fks.filter(col("__fk").isNotNull)
        .join(pks, col("__fk") === col("__pk"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      totals.crossJoin(orphans)
        .select(lit(name).as("relation"), col("n_rows"), col("n_child"),
          (col("n_rows") - col("n_child")).as("n_null_fk"),
          col("n_orphans"),
          expr("cast(n_orphans as decimal(38,0)) * 1000000 div greatest(n_child, 1)")
            .as("orphan_micro"))
    }.reduce(_ unionByName _)
  }

  /** Hill tail-index estimator — how heavy is this distribution's upper
    * tail: over the k largest positive values,
    * `hill = (1/k)·Σ ln(x_i/x_{k+1})`, with `α ≈ 1/hill` the Pareto
    * exponent. α ≤ 1 means the MEAN is infinite (one mega-document per
    * shard decides every average); α ≤ 2 means the variance is — the
    * difference between "cap outliers" and "shard by size" as the fix.
    * The quantitative sequel to [[profile]]'s min/max: max tells you the
    * tail exists, Hill tells you how fast it keeps growing with corpus
    * size.
    *
    * Determinism: values micro-floor FIRST; each ln term is
    * `⌊10⁶·ln(v_micro)⌋` of an exact integer — the one-libm-call-per-row
    * pattern [[psi]] established (the additive ln 10⁶ cancels in the
    * ratio); the mean and α are integer divisions. Deterministic
    * tie-break (value desc, id asc). Fewer than k+1 positive values →
    * EMPTY output (a tail index over nothing would be noise pretending).
    *
    * Output (one row): `(n_total, n_tail, x_threshold_micro, hill_micro,
    * alpha_milli)` — α NULL if hill = 0 (all top-k equal the threshold).
    *
    * 100 TB shape: `orderBy(...).limit(k+1)` compiles to
    * TakeOrderedAndProject — per-partition top-(k+1) then a driver-side
    * merge of partition tops, k-bounded, NO global sort (PlanSpec locks
    * the operator); the window that ranks the surviving k+1 rows runs on
    * a (k+1)-row table.
    */
  def hillTailIndex(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      k: Int): DataFrame = {
    require(k >= 2 && k <= 100000, s"k $k out of [2, 100000]")
    val pos = df
      .filter(col(valueCol).isNotNull && col(idCol).isNotNull)
      .withColumn("__v", floor(col(valueCol).cast("double") * 1e6).cast("long"))
      .filter(col("__v") > 0)
      .select(col(idCol).as("__id"), col("__v"))
    val tot = pos.agg(count(lit(1)).as("n_total"))
    val top = pos.orderBy(col("__v").desc, col("__id").asc).limit(k + 1)
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("__v").desc, col("__id").asc)))
    val thr = top.filter(col("__rn") === k + 1)
      .select(col("__v").as("x_threshold_micro"))
    top.filter(col("__rn") <= k)
      .crossJoin(broadcast(thr)) // empty thr (< k+1 values) → empty output
      .groupBy(col("x_threshold_micro"))
      .agg(count(lit(1)).as("n_tail"),
        sum(expr("cast(floor(log(cast(__v as double)) * 1e6) as long)"))
          .as("__lsum"))
      .crossJoin(broadcast(tot))
      .withColumn("hill_micro", expr(
        """(__lsum - n_tail *
           cast(floor(log(cast(x_threshold_micro as double)) * 1e6) as long))
           div n_tail"""))
      .withColumn("alpha_milli",
        expr("case when hill_micro > 0 then 1000000000 div hill_micro end"))
      .select("n_total", "n_tail", "x_threshold_micro", "hill_micro",
        "alpha_milli")
  }

  /** Corpus unigram entropy and perplexity — the information-content
    * summary of the vocabulary distribution ([[zipfFit]] reads its
    * SHAPE; this reads its MASS): `H = −Σ p·ln p` in micro-nats and the
    * effective vocabulary size `e^H` (unigram perplexity). A corpus
    * flooded with boilerplate collapses toward low entropy long before
    * a dedup pass names the culprit — this is the one-row early
    * warning, and the drop in `e^H` IS the redundancy factor.
    *
    * Exactness: `H = (N·⌊10⁶·ln N⌋ − Σ_t f_t·⌊10⁶·ln f_t⌋) div N` —
    * the ln N term factors out exactly, per-type terms floor once
    * (q220 runtime-ln precedent), sums ride decimal(38,0); only the
    * final perplexity takes an exp (q239 precedent), floored to milli.
    *
    * Output (one row): `(n_tokens, n_types, entropy_micro,
    * perplexity_milli)`.
    *
    * 100 TB shape: one tokenize pass into a map-side-combined
    * groupBy(token); the rollup runs on the |vocabulary| table.
    */
  def unigramEntropy(df: DataFrame, textCol: String): DataFrame = {
    val freq = df.filter(col(textCol).isNotNull)
      .select(explode(split(trim(col(textCol)), " ")).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__f"))
    freq.agg(sum("__f").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(expr(
          """cast(__f as decimal(38,0))
             * cast(floor(ln(cast(__f as double)) * 1e6) as long)"""))
          .as("__sf"))
      .select(col("n_tokens"), col("n_types"),
        expr("""cast((cast(n_tokens as decimal(38,0))
             * cast(floor(ln(cast(n_tokens as double)) * 1e6) as long)
             - __sf) div n_tokens as long)""").as("entropy_micro"))
      .withColumn("perplexity_milli", expr(
        """cast(floor(1000.0 * exp(cast(entropy_micro as double) / 1e6))
           as long)"""))
  }

  /** Zipf power-law fit of the corpus token-frequency curve — OLS of
    * ln(freq) on ln(rank) over the top `maxRank` terms: the one-row
    * corpus health check ([[hillTailIndex]] reads the tail of a SIZE
    * distribution; this reads the head of the VOCABULARY distribution).
    * A natural-language corpus fits slope ≈ −1 with r² near 1;
    * boilerplate floods, template spam, or tokenizer damage bend the
    * curve and show up here before any downstream filter fires.
    *
    * Determinism: rank is a TOTAL order (freq desc, token asc) via
    * [[Ranks.globalRank]]'s range exchange; the fit is
    * [[Features.olsByGroup]]'s exact-moment contract over ≤ maxRank
    * points (ln doubles micro-floored per point — the q220 runtime-ln
    * precedent: correctly-rounded libm doubles of exact integers).
    *
    * Output (one row): `(n_terms, n_points, slope_micro,
    * intercept_micro, r2_micro)` — slope_micro ≈ −1000000 for clean
    * natural text.
    *
    * 100 TB shape: one tokenize pass into a map-side-combined
    * groupBy(token); the range exchange and the fit run on the
    * |vocabulary| table only (the corpus is read once), and the OLS
    * moments are one scalar aggregate over ≤ maxRank rows.
    */
  def zipfFit(
      df: DataFrame,
      textCol: String,
      maxRank: Int = 1000): DataFrame = {
    require(maxRank >= 2, s"maxRank $maxRank must be >= 2")
    val freq = df.filter(col(textCol).isNotNull)
      .select(explode(split(trim(col(textCol)), " ")).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__f"))
      .localCheckpoint()
    val nTerms = freq.count()
    val points = Ranks
      .globalRank(freq, Seq(col("__f") * -1, col("__tok")), "__rank")
      .filter(col("__rank") <= maxRank)
      .select(expr("ln(cast(__rank as double))").as("x"),
        expr("ln(cast(__f as double))").as("y"))
      .withColumn("__g", lit("zipf"))
    Features.olsByGroup(points, "__g", "x", "y")
      .select(lit(nTerms).as("n_terms"), col("n").as("n_points"),
        col("slope_micro"), col("intercept_micro"), col("r2_micro"))
  }

  /** Chao1 vocabulary-richness estimate + Good–Turing unseen mass — the
    * "how much is still out there" gate for a corpus: observed distinct
    * types D underestimate the true vocabulary; Chao1 corrects from the
    * rare tail (`D + f₁²/(2f₂)`, f_k = types seen exactly k times) and
    * Good–Turing `f₁/N` estimates the probability the NEXT token is an
    * unseen type. Both drive the "is more crawling worth it" decision —
    * high unseen mass means the corpus has not converged.
    *
    * Exactness: the frequency-of-frequencies histogram is pure
    * counting; `chao1_extra = f₁² div (2·f₂)` and
    * `gt_unseen_micro = 10⁶·f₁ div N` are exact integer divisions
    * (f₂ = 0 uses the bias-corrected form `f₁(f₁−1) div 2` with f₂+1 →
    * the standard Chao1 correction, mirrored). One row out:
    * `(n_tokens, n_types, f1, f2, chao1_total, gt_unseen_micro)`.
    *
    * Overflow: f₁² needs f₁ ≤ 3·10⁹ in int64 — decimal-cast here, safe
    * to 10¹⁹ types.
    *
    * 100 TB shape: one tokenize pass → map-side groupBy(token) →
    * groupBy(count) of the TYPE table (vocabulary-sized) → a ≤
    * |distinct counts|-row rollup. Nothing corpus-sized after the first
    * aggregation.
    */
  def vocabularyCoverage(df: DataFrame, textCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val types = df.filter(col(textCol).isNotNull)
      .select(explode(split(trim(col(textCol)), " ")).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy("__tok").agg(count(lit(1)).as("__c"))
    val hist = types.groupBy("__c").agg(count(lit(1)).as("__f"))
    hist.agg(
        sum(col("__c") * col("__f")).as("n_tokens"),
        sum("__f").as("n_types"),
        coalesce(sum(when(col("__c") === 1, col("__f"))), lit(0L)).as("f1"),
        coalesce(sum(when(col("__c") === 2, col("__f"))), lit(0L)).as("f2"))
      .select(col("n_tokens"), col("n_types"), col("f1"), col("f2"),
        expr(s"""n_types + CASE WHEN f2 > 0
            THEN CAST(CAST(f1 AS $dec) * f1 div (2 * f2) AS BIGINT)
            ELSE CAST(CAST(f1 AS $dec) * (f1 - 1) div 2 AS BIGINT) END""")
          .as("chao1_total"),
        expr(s"CAST(CAST(1000000 AS $dec) * f1 div n_tokens AS BIGINT)")
          .as("gt_unseen_micro"))
  }

  /** Temperature-based training-mixture allocation (the mT5/XLM-R
    * `p_d ∝ n_d^α` recipe): given per-row token counts and a domain
    * column, compute each domain's temperature-flattened sampling share
    * and hand out an exact integer token budget by LARGEST-REMAINDER
    * rounding — allocations sum to the budget EXACTLY, the property a
    * downstream sampler actually needs (floor-only shares leave tokens
    * on the table; independent rounding overshoots).
    *
    * Exactness: `s_d = ⌊10⁶·exp(α·ln n_d)⌋` is one fixed double tree of
    * the exact integer count (q239 runtime exp/ln contract), floored
    * once; everything after — shares, quotas `⌊B·s_d/S⌋`, remainders
    * `B·s_d − q_d·S`, the remainder ranking, the `+1` bonuses — is
    * exact decimal(38,0) integer arithmetic, so the whole allocation
    * replays in SQL. Bonus ties break by domain ascending.
    *
    * Output per domain: `(domain, n_tokens, share_micro, alloc_tokens,
    * epochs_milli = ⌊1000·alloc/n⌋)` — epochs > 1000 milli flags a
    * domain the budget forces into repetition.
    *
    * Overflow headroom: `B·s_d` ≤ budget·10⁶·n^α stays inside
    * decimal(38,0) for budgets ≤ 10¹² tokens against corpora ≤ 10¹⁵
    * tokens at α ≤ 1 (10³³ < 10³⁸).
    *
    * 100 TB shape: ONE map-side-combined groupBy(domain); the domain
    * table is model-sized, totals are one-row broadcasts, the remainder
    * rank a range-exchange [[Ranks.globalRank]].
    */
  def mixtureAllocation(
      df: DataFrame,
      domainCol: String,
      tokensCol: String,
      alpha: Double,
      budget: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1.0, s"alpha $alpha must lie in (0, 1]")
    require(budget >= 1, s"budget $budget must be >= 1")
    val dec = "decimal(38,0)"
    val dom = df
      .filter(col(domainCol).isNotNull && col(tokensCol).isNotNull &&
        col(tokensCol) > 0)
      .groupBy(col(domainCol).cast("string").as("domain"))
      .agg(sum(col(tokensCol).cast("long")).as("n_tokens"))
      .withColumn("__s",
        floor(lit(1e6) * exp(lit(alpha) * log(col("n_tokens").cast("double"))))
          .cast(dec))
    val tot = dom.agg(sum("__s").cast(dec).as("__stot"),
      count(lit(1)).as("__nd"))
    val quota = dom.crossJoin(broadcast(tot))
      .withColumn("__q", expr(s"CAST(CAST($budget AS $dec) * __s AS $dec) div __stot"))
      .withColumn("__rem",
        expr(s"CAST(CAST($budget AS $dec) * __s AS $dec) - CAST(__q AS $dec) * __stot"))
      .withColumn("share_micro", expr(s"CAST(1000000 AS $dec) * __s div __stot"))
    val leftover = quota.agg(
      (lit(budget) - sum("__q")).cast("long").as("__left"))
    Ranks.globalRank(quota,
        Seq(col("__rem") * lit(-1), col("domain")), "__rr")
      .crossJoin(broadcast(leftover))
      .withColumn("alloc_tokens",
        (col("__q") + when(col("__rr") <= col("__left"), 1L).otherwise(0L))
          .cast("long"))
      .select(col("domain"), col("n_tokens"), col("share_micro"),
        col("alloc_tokens"),
        expr("alloc_tokens * 1000 div n_tokens").as("epochs_milli"))
  }

  /** Term burstiness — the variance-to-mean (Fano) dispersion of each
    * term's PER-DOCUMENT count across the whole corpus, zeros included:
    * a Poisson-scattered term has VMR ≈ 1, a content word that clumps
    * into the few documents that are ABOUT it runs VMR ≫ 1, and
    * boilerplate injected uniformly (license headers, nav text) sits
    * near its frequency-matched Poisson floor. The classic
    * Church–Gale/Katz diagnostic that frequency alone ([[zipfFit]],
    * [[unigramEntropy]]) cannot see: two terms with identical cf can be
    * one topical and one template.
    *
    *   {{{ VMR(t) = σ²/μ = (N·Σc_d² − cf²) / (N·cf) }}}
    *
    * over the N corpus documents with c_d the term's count in doc d
    * (zero for absent docs — the algebra needs only the OBSERVED
    * (doc, term) cells). `repeat_micro = ⌊10⁶·cf/df⌋` rides along (mean
    * within-doc repetition when present — burstiness' other axis).
    * All pure integer: one floored division each, oracle-replayed.
    *
    * Output: top `k` terms with df ≥ `minDf`, ranked by
    * (vmr_micro DESC, term ASC) — `(rank, term, cf, df, n_docs,
    * vmr_micro, repeat_micro)`.
    *
    * Overflow: 10⁶·N·Σc² ≤ 10⁶·N·c_max·cf inside decimal(38,0) —
    * exact past any real corpus (10¹² docs × 10¹² tokens still fits).
    *
    * 100 TB shape: one tokenize pass into a map-side-combined
    * groupBy(doc, term), a term-keyed rollup to the vocabulary table,
    * then [[Ranks.globalRank]]'s range exchange over the df-filtered
    * vocab only. The corpus is read once; nothing per-pair, nothing
    * driver-sized but the k output rows.
    */
  def termBurstiness(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDf: Long = 5L,
      k: Int = 50): DataFrame = {
    require(minDf >= 1, s"minDf $minDf must be >= 1")
    require(k >= 1, s"k $k must be >= 1")
    val dec = "decimal(38,0)"
    val docs = df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__id"), col(textCol).as("__t"))
      .localCheckpoint()
    val nDocs = docs.count()
    val cells = docs
      .select(col("__id"), explode(split(trim(col("__t")), " ")).as("term"))
      .groupBy("__id", "term").agg(count(lit(1)).as("__c"))
    val vocab = cells.groupBy("term")
      .agg(count(lit(1)).as("df"),
        sum("__c").as("cf"),
        sum(expr(s"cast(__c as $dec) * __c")).as("__sq"))
      .filter(col("df") >= minDf)
      .withColumn("n_docs", lit(nDocs))
      .withColumn("vmr_micro", expr(
        s"""cast((cast(n_docs as $dec) * __sq - cast(cf as $dec) * cf)
           * 1000000 div (cast(n_docs as $dec) * cf) as long)"""))
      .withColumn("repeat_micro",
        expr(s"cast(cast(cf as $dec) * 1000000 div df as long)"))
    Ranks.globalRank(vocab,
        Seq(col("vmr_micro") * -1, col("term")), "rank")
      .filter(col("rank") <= k)
      .select(col("rank"), col("term"), col("cf"), col("df"),
        col("n_docs"), col("vmr_micro"), col("repeat_micro"))
  }

  /** Yule's K per corpus slice — the size-invariant vocabulary-
    * repetitiveness characteristic (Yule 1944): the chance that two
    * randomly drawn tokens are the same type, scaled by 10⁴. Template
    * sludge and model-generated loops run HIGH K (few types recycled);
    * rich prose sits low. Unlike type-token ratio K does not collapse
    * as the slice grows, so slices of different sizes compare honestly —
    * the repetitiveness axis the frequency-shape diagnostics
    * ([[termBurstiness]], zipf fit) don't measure.
    *
    *   {{{ K = 10⁴ · (Σ_t tf_t² − N) / N² }}}
    *
    * (N tokens, tf the type's count in the slice; Σtf² ≥ N always, so
    * the single ⌊·10⁶⌋ floor division is nonneg-safe unguarded on both
    * engines). Emitted as `k_micro` = ⌊10⁴·10⁶·(Σtf²−N)/N²⌋.
    *
    * Output per group: `(grp, n_tokens, n_types, k_micro)`; empty
    * slices produce no row (nothing was sampled, not K = 0).
    *
    * Overflow: 10¹⁰·Σtf² ≤ 10¹⁰·N² rides decimal(38,0) to N ≈ 3·10¹³
    * tokens per slice — loud decimal NULL past it.
    *
    * 100 TB shape: one tokenize pass into a map-side-combined
    * groupBy(group, term), then a group-keyed rollup — the vocabulary
    * table is the only intermediate, nothing pair-shaped, nothing at
    * the driver.
    */
  def yulesK(
      df: DataFrame,
      groupCol: String,
      textCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    df.filter(col(groupCol).isNotNull && col(textCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        explode(split(trim(col(textCol)), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("grp", "term").agg(count(lit(1)).as("tf"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_types"),
        sum("tf").as("n_tokens"),
        sum(expr(s"cast(tf as $dec) * tf")).as("__s2"))
      .select(col("grp"), col("n_tokens"), col("n_types"),
        expr(s"""cast((__s2 - n_tokens) * 10000000000
          div (cast(n_tokens as $dec) * n_tokens) as long)""").as("k_micro"))
  }

  /** Good–Turing smoothing PROFILE — the per-r adjusted counts
    * r* = (r+1)·f_{r+1}/f_r (Good 1953) that [[vocabularyCoverage]]'s
    * single unseen-mass number does not give: the low-count correction
    * table behind Katz backoff and held-out count estimation, and the
    * long-tail health check when comparing two crawls (a corpus whose
    * r* sits far below r at small r is dominated by hapax noise).
    * Unseen mass = f₁/N repeats vocabularyCoverage's number so the
    * profile is self-contained.
    *
    * Fully exact and purely integer: all quantities are counts; the
    * two ratios are one floor division each to micro. One row per
    * r ∈ [1, maxR] with `(r, f_r, f_next, r_star_micro)` — NULL r*
    * where f_r = 0 — plus the constant corpus columns `(n_tokens,
    * n_types, unseen_mass_micro)` repeated for self-containedness.
    *
    * 100 TB shape: explode → ONE map-side-combined token count (the
    * corpus's only big shuffle, the yulesK scan), then a count-of-
    * counts aggregation restricted to r ≤ maxR+1 (the f-table is
    * ≤ maxR+1 rows); the finish is driver arithmetic on that table.
    */
  def goodTuring(
      df: DataFrame,
      textCol: String,
      maxR: Int = 10): DataFrame = {
    require(maxR >= 1 && maxR <= 1000, s"maxR=$maxR out of [1, 1000]")
    val tf = df.filter(col(textCol).isNotNull)
      .select(explode(split(trim(col(textCol)), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val tot = tf.agg(
      coalesce(sum("tf"), lit(0L)).as("n"),
      count(lit(1)).as("v")).head()
    val n = tot.getLong(0); val v = tot.getLong(1)
    val fOf = tf.filter(col("tf") <= (maxR + 1).toLong)
      .groupBy("tf").agg(count(lit(1)).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val f1 = fOf.getOrElse(1L, 0L)
    val unseen: Option[Long] =
      if (n > 0) Some((BigInt(f1) * 1000000 / BigInt(n)).toLong) else None
    val rows = (1 to maxR).map { r =>
      val fr = fOf.getOrElse(r.toLong, 0L)
      val fn = fOf.getOrElse(r.toLong + 1, 0L)
      val rStar: Option[Long] =
        if (fr > 0)
          Some((BigInt(r + 1) * fn * 1000000 / BigInt(fr)).toLong)
        else None
      (r.toLong, fr, fn, rStar, n, v, unseen)
    }
    val spark = df.sparkSession
    import spark.implicits._
    rows.toDF("r", "f_r", "f_next", "r_star_micro",
      "n_tokens", "n_types", "unseen_mass_micro")
  }
}
