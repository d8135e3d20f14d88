package graft

import graft.ops.{Causal, Corpus, Eval, Features, Preference, Sampling, TimeSeries}
import org.apache.spark.sql.functions._

/** Behavior specs for the round-9 statistics batch: set-based retrieval
  * metrics, per-group OLS, binned Kendall τ-b, and the Zipf fit.
  */
class StatsOpsSpec extends SparkSuite {
  import spark.implicits._

  test("rankEval: hand metrics at k=2, ties broken by item id") {
    // query 1: scores rank items (c, a, b); a and b relevant →
    // top-2 = {c, a}, hits=1, first rel rank 2
    val df = Seq(
      (1L, "a", "m", true), (1L, "b", "k", true), (1L, "c", "z", false),
      // query 2: nothing relevant
      (2L, "x", "q", false), (2L, "y", "r", false))
      .toDF("q", "item", "score", "rel").repartition(3)
    val out = Eval.rankEval(df, "q", "item", "score", "rel", k = 2)
      .orderBy("query").collect()
    val r1 = out(0)
    assert(r1.getLong(1) == 3L && r1.getLong(2) == 2L)     // n_items, n_rel
    assert(r1.getLong(3) == 1L)                            // hits_at_k
    assert(r1.getLong(4) == 500000L)                       // precision@2
    assert(r1.getLong(5) == 500000L)                       // recall (1 of 2)
    assert(r1.getLong(6) == 500000L)                       // rr: first rel at 2
    assert(r1.getLong(7) == 1L)                            // hit@k
    val r2 = out(1)
    assert(r2.getLong(2) == 0L && r2.getLong(3) == 0L)
    assert(r2.isNullAt(5))                                 // recall NULL: no rel
    assert(r2.getLong(6) == 0L && r2.getLong(7) == 0L)     // rr 0, no hit
  }

  test("rankEval: score ties broken ascending by item id") {
    val df = Seq((1L, "b", "same", true), (1L, "a", "same", false))
      .toDF("q", "item", "score", "rel")
    val out = Eval.rankEval(df, "q", "item", "score", "rel", k = 1)
      .collect()(0)
    // item a sorts first on the tie → b (relevant) is rank 2, outside k=1
    assert(out.getLong(3) == 0L && out.getLong(6) == 0L)
  }

  test("olsByGroup: exact line y = 2x + 3 and a degenerate group") {
    val line = (1 to 50).map(i => ("g1", i.toDouble, 2.0 * i + 3))
    val const = (1 to 10).map(_ => ("g2", 5.0, 7.0)) // zero x-variance
    val out = Features.olsByGroup(
        (line ++ const).toDF("g", "x", "y").repartition(4), "g", "x", "y")
      .orderBy("grp").collect()
    assert(out(0).getLong(2) == 2000000L)   // slope
    assert(out(0).getLong(3) == 3000000L)   // intercept (micro)
    assert(out(0).getLong(4) == 1000000L)   // perfect r2
    assert(out(1).isNullAt(2) && out(1).isNullAt(3) && out(1).isNullAt(4))
  }

  test("olsByGroup matches a driver-side double OLS on random data") {
    val rnd = new scala.util.Random(11)
    val data = (0 until 400).map { i =>
      val x = rnd.nextInt(1000) / 10.0
      ("g", x, 3.5 * x - 20 + rnd.nextGaussian() * 15)
    }
    val out = Features.olsByGroup(data.toDF("g", "x", "y").repartition(7),
      "g", "x", "y").collect()(0)
    val xm = data.map(d => math.floor(d._2 * 1e6).toLong)
    val ym = data.map(d => math.floor(d._3 * 1e6).toLong)
    val n = BigInt(xm.size)
    val (sx, sy) = (xm.map(BigInt(_)).sum, ym.map(BigInt(_)).sum)
    val sxy = xm.zip(ym).map { case (a, b) => BigInt(a) * b }.sum
    val sxx = xm.map(a => BigInt(a) * a).sum
    val num = (n * sxy - sx * sy).toDouble
    val den = (n * sxx - sx * sx).toDouble
    assert(out.getLong(2) == math.floor(1e6 * num / den).toLong)
  }

  test("kendallTauBinned: hand τ-b with ties, counted once per pair") {
    // x: 1,1,2,3  y: 1,2,2,3 → pairs: (1,2):x-tie; (1,3)C; (1,4)C;
    // (2,3): y-tie; (2,4)C; (3,4)C → C=4, D=0, n0=6, n1=1, n2=1
    val df = Seq((1.0, 1.0), (1.0, 2.0), (2.0, 2.0), (3.0, 3.0))
      .toDF("x", "y").repartition(3)
    val out = Features.kendallTauBinned(df, "x", "y").collect()(0)
    assert(out.getLong(0) == 4L)
    assert(out.getDouble(2) == 4.0 && out.getDouble(3) == 0.0)
    // τ-b = 4/√(5·5) = 0.8
    assert(out.getLong(4) == 800000L)
  }

  test("kendallTauBinned: perfect inversion is -1, cap fires loudly") {
    val df = (1 to 20).map(i => (i.toDouble, -i.toDouble)).toDF("x", "y")
    assert(Features.kendallTauBinned(df, "x", "y")
      .collect()(0).getLong(4) == -1000000L)
    val e = intercept[IllegalArgumentException] {
      Features.kendallTauBinned(df, "x", "y", maxCells = 5)
    }
    assert(e.getMessage.contains("maxCells"))
  }

  test("stratifiedAte undoes a Simpson sign flip the naive diff shows") {
    // good stratum mostly control, bad stratum mostly treated — naive
    // gap is negative although treatment adds +1 inside EVERY stratum
    val rows =
      Seq.fill(1)(("s1", true, 10.0)) ++ Seq.fill(10)(("s1", false, 9.0)) ++
      Seq.fill(10)(("s2", true, 2.0)) ++ Seq.fill(1)(("s2", false, 1.0))
    val out = Causal.stratifiedAte(
      rows.toDF("s", "t", "v").repartition(3), "s", "t", "v").collect()(0)
    assert(out.getLong(0) == 2L && out.getLong(1) == 2L) // strata, used
    assert(out.getLong(2) == 22L && out.getLong(3) == 22L)
    assert(out.getLong(6) < 0L)          // naive gap: negative (confounded)
    assert(out.getLong(7) == 1000000L)   // true per-stratum effect: +1
  }

  test("stratifiedAte excludes single-arm strata and reports them") {
    val rows = Seq(("s1", true, 5.0), ("s1", false, 3.0),
      ("s2", true, 100.0)) // s2 has no control → excluded
    val out = Causal.stratifiedAte(rows.toDF("s", "t", "v"), "s", "t", "v")
      .collect()(0)
    assert(out.getLong(0) == 2L && out.getLong(1) == 1L)
    assert(out.getLong(3) == 2L)              // n_used excludes s2
    assert(out.getLong(7) == 2000000L)        // 5 − 3 inside s1
  }

  test("diffInDiff: hand 2x2") {
    val rows =
      Seq.fill(4)((true, false, 10.0)) ++ Seq.fill(2)((true, true, 15.0)) ++
      Seq.fill(3)((false, false, 1.0)) ++ Seq.fill(5)((false, true, 3.0))
    val out = Causal.diffInDiff(rows.toDF("t", "p", "v").repartition(2),
      "t", "p", "v").collect()(0)
    assert(out.getLong(0) == 4L && out.getLong(1) == 2L)
    assert(out.getLong(4) == 10000000L && out.getLong(5) == 15000000L)
    assert(out.getLong(8) == 5000000L)   // treat diff
    assert(out.getLong(9) == 2000000L)   // control diff
    assert(out.getLong(10) == 3000000L)  // DiD
  }

  test("twoProportionTest: exact rates, z near hand value, sane Wilson") {
    val rows = (0 until 200).map(i => ("a", i < 50)) ++
      (0 until 200).map(i => ("b", i < 30))
    val out = Causal.twoProportionTest(
      rows.toDF("g", "x").repartition(3), "g", "x").collect()(0)
    assert(out.getLong(2) == 200L && out.getLong(4) == 50L)
    assert(out.getLong(6) == 250000L && out.getLong(7) == 150000L)
    assert(out.getLong(8) == 100000L)
    // hand z = 0.1/√(0.2·0.8·(2/200)) = 2.5 (± an ulp through the floor)
    assert(math.abs(out.getLong(9) - 2500L) <= 1L)
    assert(out.getLong(10) < 250000L && 250000L < out.getLong(11))
    assert(out.getLong(12) < 150000L && 150000L < out.getLong(13))
    intercept[IllegalArgumentException] {
      Causal.twoProportionTest(Seq(("a", true)).toDF("g", "x"), "g", "x")
    }
  }

  test("jackknifeGroups: hand influence, whole-corpus group NULL excl") {
    val rows = Seq(("a", 1.0), ("a", 1.0), ("b", 4.0))
    val out = Eval.jackknifeGroups(rows.toDF("g", "v"), "g", "v")
      .orderBy("group").collect()
    assert(out(0).getLong(2) == 2000000L)            // global mean
    assert(out(0).getLong(3) == 4000000L)            // mean without a
    assert(out(0).getLong(4) == -2000000L)           // a pulls mean down
    assert(out(1).getLong(3) == 1000000L && out(1).getLong(4) == 1000000L)
    val solo = Eval.jackknifeGroups(Seq(("only", 7.0)).toDF("g", "v"),
      "g", "v").collect()(0)
    assert(solo.isNullAt(3) && solo.isNullAt(4))
  }

  test("preferenceCycles: Condorcet cycle scores zeta 0, consensus 1") {
    // rock-paper-scissors panel: every majority edge exists, one 3-cycle
    val cyc = Seq(
      (1L, "A", 3.0), (1L, "B", 2.0), (1L, "C", 1.0),
      (2L, "A", 1.0), (2L, "B", 3.0), (2L, "C", 2.0),
      (3L, "A", 2.0), (3L, "B", 1.0), (3L, "C", 3.0))
    val o1 = Preference.preferenceCycles(
      cyc.toDF("r", "i", "v").repartition(2), "r", "i", "v").collect()(0)
    assert(o1.getLong(0) == 3L && o1.getLong(1) == 3L)
    assert(o1.getLong(2) == 3L && o1.getLong(3) == 3L)
    assert(o1.getLong(4) == 1L && o1.getLong(5) == 0L)
    val agree = (1L to 3L).flatMap(r =>
      Seq((r, "A", 3.0), (r, "B", 2.0), (r, "C", 1.0)))
    val o2 = Preference.preferenceCycles(agree.toDF("r", "i", "v"),
      "r", "i", "v").collect()(0)
    assert(o2.getLong(4) == 0L && o2.getLong(5) == 1000000L)
  }

  test("robustMean: hand trim/winsor at 10%, outlier immunity") {
    val base = (1 to 10).map(i => i.toDouble)
    val out = Features.robustMean(base.toDF("v").repartition(3), "v",
      trimPpm = 100000L).collect()(0)
    assert(out.getLong(0) == 10L && out.getLong(1) == 1L)
    assert(out.getLong(2) == 5500000L)                      // mean 5.5
    assert(out.getLong(3) == 5500000L)                      // trimmed 2..9
    assert(out.getLong(4) == 5500000L)                      // winsorized
    assert(out.getLong(5) == 2000000L && out.getLong(6) == 9000000L)
    // one enormous outlier moves the mean, not the trimmed mean
    val poisoned = Features.robustMean(
      (base :+ 1e9).toDF("v"), "v", trimPpm = 100000L).collect()(0)
    assert(poisoned.getLong(2) > 90000000L)                 // mean blown up
    assert(poisoned.getLong(3) == 6000000L)                 // trimmed: 2..10
    intercept[IllegalArgumentException] {
      Features.robustMean(base.toDF("v"), "v", trimPpm = 500000L)
    }
  }

  test("cuped: balanced covariate leaves the gap, exact theta and rho2") {
    val rows = Seq(("a", 11.0, 1.0), ("a", 13.0, 3.0),
      ("b", 1.0, 1.0), ("b", 3.0, 3.0))
    val out = Causal.cuped(rows.toDF("g", "y", "x").repartition(2),
      "g", "y", "x").collect()(0)
    assert(out.getLong(2) == 2L && out.getLong(3) == 2L)
    assert(out.getLong(4) == 1000000L)      // pooled slope exactly 1
    assert(out.getLong(5) == 10000000L)     // raw gap 10
    assert(out.getLong(6) == 10000000L)     // balanced X → unchanged
    // rho2 = 256/6656 of the exact pooled moments
    assert(out.getLong(7) == math.floor(1e6 * 256.0 / 6656.0).toLong)
    // constant covariate → theta undefined, raw gap still reported
    val const = Causal.cuped(Seq(("a", 5.0, 1.0), ("b", 3.0, 1.0))
      .toDF("g", "y", "x"), "g", "y", "x").collect()(0)
    assert(const.isNullAt(4) && const.getLong(5) == 2000000L)
  }

  test("quantileTreatmentEffect: shifted arms show constant QTE") {
    val rows = (1 to 10).map(i => ("arm_a", i.toDouble)) ++
      (1 to 10).map(i => ("arm_b", i + 10.0))
    val out = Causal.quantileTreatmentEffect(
      rows.toDF("g", "v").repartition(3), "g", "v")
      .orderBy("percent").collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert(r.getLong(1) == 10L && r.getLong(2) == 10L)
      assert(r.getLong(5) == -10000000L) // uniform −10 shift at every q
    }
    // median: index floor(50·9/100) = 4 → values 5 and 15
    val med = out.find(_.getInt(0) == 50).get
    assert(med.getLong(3) == 5000000L && med.getLong(4) == 15000000L)
    intercept[IllegalArgumentException] {
      Causal.quantileTreatmentEffect(
        Seq(("a", 1.0)).toDF("g", "v"), "g", "v")
    }
  }

  test("icc: pure between-cluster variance gives ICC 1 and DEFF m") {
    val rows = Seq("a" -> 1.0, "b" -> 5.0, "c" -> 9.0)
      .flatMap { case (g, v) => Seq.fill(3)((g, v)) }
    val out = Features.icc(rows.toDF("g", "v").repartition(2), "g", "v")
      .collect()(0)
    assert(out.getLong(0) == 9L && out.getLong(1) == 3L)
    assert(out.getLong(2) == 3000L)        // n0 = 3 (balanced)
    assert(out.getLong(3) == 1000000L)     // ICC = 1
    assert(out.getLong(4) == 3000L)        // DEFF = 1 + (3-1)*1 = 3
    // zero total variance → NULL ICC (nullif-guarded)
    val flat = Features.icc(
      Seq(("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 2.0)).toDF("g", "v"),
      "g", "v").collect()(0)
    assert(flat.isNullAt(3) && flat.isNullAt(4))
  }

  test("msprt: biased stream rejects, balanced stream keeps p at 1") {
    val biased = (1 to 60).map(i => (1L, i.toLong, true))
    val out = Features.msprt(biased.toDF("k", "t", "o").repartition(3),
      "k", "t", "t", "o", p0Micro = 500000L, tau2Micro = 10000L)
      .collect()(0)
    assert(out.getString(4) == "reject_h0")
    assert(out.getLong(5) <= 60L)                  // crossed within stream
    assert(out.getLong(6) < 50000L)                // always-valid p < α
    val balanced = (1 to 60).map(i => (1L, i.toLong, i % 2 == 0))
    val fair = Features.msprt(balanced.toDF("k", "t", "o"),
      "k", "t", "t", "o", p0Micro = 500000L, tau2Micro = 10000L)
      .collect()(0)
    assert(fair.isNullAt(4) && fair.isNullAt(5))
    assert(fair.getLong(6) == 1000000L)            // lnΛ never positive
  }

  test("welchTTest: hand t and Welch-Satterthwaite df") {
    val rows = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 5.0), ("b", 7.0), ("b", 9.0))
    val out = Causal.welchTTest(rows.toDF("g", "v").repartition(2),
      "g", "v").collect()(0)
    assert(out.getLong(4) == 2000000L && out.getLong(5) == 7000000L)
    assert(out.getLong(6) == -5000000L)
    assert(out.getLong(7) == -3873L)   // t = -5/√(5/3) = -3.87298…
    assert(out.getLong(8) == 2941L)    // df = 50/17 = 2.94117…
    val single = Seq(("a", 1.0), ("b", 2.0), ("b", 3.0)).toDF("g", "v")
    val s = Causal.welchTTest(single, "g", "v").collect()(0)
    assert(s.isNullAt(7) && s.isNullAt(8)) // n_a < 2 → no t
  }

  test("wasserstein1d: hand distances, unequal sizes, zero on identical") {
    def w1(rows: Seq[(String, Double)]): Long =
      Eval.wasserstein1d(rows.toDF("g", "v").repartition(3), "g", "v")
        .collect()(0).getLong(5)
    assert(w1(Seq(("a", 0.0), ("a", 0.0), ("b", 1.0), ("b", 1.0)))
      == 1000000L)
    assert(w1((1 to 4).map(i => ("a", i.toDouble)) ++
      (3 to 6).map(i => ("b", i.toDouble))) == 2000000L)
    assert(w1(Seq(("a", 0.0), ("b", 0.0), ("b", 2.0))) == 1000000L)
    assert(w1(Seq(("a", 5.0), ("a", 7.0), ("b", 5.0), ("b", 7.0))) == 0L)
  }

  test("bradleyTerry: consensus ordering, exact first-iteration algebra") {
    val rows = (1L to 3L).flatMap(r =>
      Seq((r, "A", 3.0), (r, "B", 2.0), (r, "C", 1.0)))
    val out = Preference.bradleyTerry(
        rows.toDF("r", "i", "v").repartition(2), "r", "i", "v", iters = 1)
      .orderBy("bt_rank").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("A", "B", "C"))
    assert(out(0).getLong(1) == 6L && out(0).getLong(2) == 6L)
    // one quantized MM step from uniform: π_A = 6e12/3e6 = 2e6, π_B =
    // 3e12/3e6 = 1e6, π_C = 0
    assert(out.map(_.getLong(3)).toSeq == Seq(2000000L, 1000000L, 0L))
    assert(out.map(_.getLong(4)).toSeq == Seq(1L, 2L, 3L))
    // more iterations keep the consensus order
    val o3 = Preference.bradleyTerry(rows.toDF("r", "i", "v"),
      "r", "i", "v", iters = 3).orderBy("bt_rank").collect()
    assert(o3.map(_.getString(0)).toSeq == Seq("A", "B", "C"))
    intercept[IllegalArgumentException] {
      Preference.bradleyTerry(rows.toDF("r", "i", "v"), "r", "i", "v",
        maxItems = 2)
    }
  }

  test("topPrincipalComponent recovers an exact dominant direction") {
    import graft.ops.Similarity
    // zero-mean points all on the line (1, 2): PC = (1,2)/√5
    val pts = Seq((1.0, 2.0), (2.0, 4.0), (-1.0, -2.0), (-2.0, -4.0),
      (0.5, 1.0), (-0.5, -1.0))
    val df = pts.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, Array(a, b)) }
      .toDF("vec_id", "embedding").repartition(3)
    val out = Similarity.topPrincipalComponent(df, "vec_id", "embedding")
      .orderBy("dim").collect()
    assert(out.length == 2)
    assert(out.forall(_.getLong(1) == 6L))
    assert(out.forall(_.getLong(2) == 0L))              // exact zero means
    val (p0, p1) = (out(0).getLong(3), out(1).getLong(3))
    assert(math.abs(p0 - 447213L) <= 5L && math.abs(p1 - 894427L) <= 5L)
    val n2 = p0 * p0 + p1 * p1
    assert(math.abs(n2 - 1000000000000L) <= 5000000L)   // unit vector
    // sign convention: dominant component non-negative even when the
    // natural iteration lands negative
    val neg = pts.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, Array(a, -b)) }
      .toDF("vec_id", "embedding")
    val o2 = Similarity.topPrincipalComponent(neg, "vec_id", "embedding")
      .orderBy("dim").collect()
    assert(o2(1).getLong(3) > 0L && o2(0).getLong(3) < 0L)
  }

  test("acf: exact 1e6 on linear series, pairs aligned within key only") {
    import graft.ops.TimeSeries
    // two keys, each v_t = t (+offset): every lag correlates perfectly,
    // and the per-lag pair count proves no cross-key pairing
    val rows = for (k <- Seq(1L, 2L); t <- 0L until 10L)
      yield (k, t, (t + k * 100).toDouble)
    val out = TimeSeries.acf(rows.toDF("k", "t", "v").repartition(3),
      "k", "t", "v", lags = Seq(1, 3), everyMs = 1L)
      .orderBy("lag").collect()
    assert(out(0).getInt(0) == 1 && out(0).getLong(1) == 18L)
    assert(out(1).getInt(0) == 3 && out(1).getLong(1) == 14L)
    assert(out.forall(_.getLong(2) == 1000000L))
    // anti-correlated at lag 1: alternating high/low
    val alt = (0L until 20L).map(t => (1L, t, if (t % 2 == 0) 0.0 else 10.0))
    val a = TimeSeries.acf(alt.toDF("k", "t", "v"), "k", "t", "v",
      lags = Seq(1), everyMs = 1L).collect()(0)
    assert(a.getLong(2) < -900000L)
  }

  test("averagePrecision: hand AP with per-term floors, edge cases") {
    // ranking by score: a(rel), b(non), c(rel) → terms 1/2 and 2/(3·2)
    val df = Seq((1L, "a", "z", true), (1L, "b", "y", false),
      (1L, "c", "x", true),
      (2L, "p", "q", false)) // no relevant → NULL AP
      .toDF("q", "item", "score", "rel").repartition(2)
    val out = Eval.averagePrecision(df, "q", "item", "score", "rel")
      .orderBy("query").collect()
    assert(out(0).getLong(1) == 3L && out(0).getLong(2) == 2L)
    assert(out(0).getLong(3) == 833333L) // 500000 + 333333
    assert(out(1).isNullAt(3))
    // perfect ranking with R=2 hits the exact ceiling
    val perfect = Seq((1L, "a", "z", true), (1L, "b", "y", true),
      (1L, "c", "x", false)).toDF("q", "item", "score", "rel")
    assert(Eval.averagePrecision(perfect, "q", "item", "score", "rel")
      .collect()(0).getLong(3) == 1000000L)
  }

  test("kCenterSelect: hand farthest-point rounds with id tie-break") {
    import graft.ops.Similarity
    val pts = Seq(0L -> 0.0, 1L -> 10.0, 2L -> 1.0, 3L -> 9.0, 4L -> 5.0)
    val df = pts.map { case (i, v) => (i, Array(v)) }
      .toDF("vec_id", "embedding").repartition(3)
    val out = Similarity.kCenterSelect(df, "vec_id", "embedding", k = 4)
      .orderBy("round").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 1L, 4L, 2L))
    assert(out(0).isNullAt(2))
    assert(out(1).getLong(2) == 100000000000000L) // 10² in micro²
    assert(out(2).getLong(2) == 25000000000000L)  // 5²
    assert(out(3).getLong(2) == 1000000000000L)   // 1² — tie broke to id 2
  }

  test("nelsonAalen: hand cumulative hazard over the life table") {
    import graft.ops.Survival
    val subj = Seq((1L, true), (1L, true), (2L, false), (3L, true))
      .toDF("dur", "ev").repartition(2)
    val out = Survival.nelsonAalen(subj, "dur", "ev")
      .orderBy("t").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(4),
      r.getLong(5))).toSeq == Seq(
      (1L, 4L, 500000L, 500000L),    // 2 events of 4 at risk
      (2L, 2L, 0L, 500000L),         // censoring adds no hazard
      (3L, 1L, 1000000L, 1500000L))) // last subject fails
  }

  test("linkPrediction: square closes its diagonals; hub cap excludes") {
    import graft.ops.Graph
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("s", "d").repartition(2)
    val out = Graph.linkPrediction(sq, "s", "d", k = 5)
      .orderBy("node_a").collect()
    assert(out.length == 2)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 3L)
    assert(out(0).getLong(2) == 2L && out(0).getLong(5) == 1000000L)
    assert(out(1).getLong(0) == 2L && out(1).getLong(1) == 4L)
    // a hub above maxDegree is excluded → its star yields no candidates
    val star = (1L to 5L).map(i => (99L, i)).toDF("s", "d")
    assert(Graph.linkPrediction(star, "s", "d", k = 5, maxDegree = 4L)
      .count() == 0L)
    // with the cap lifted the star's leaves all pair up: C(5,2) = 10
    assert(Graph.linkPrediction(star, "s", "d", k = 100).count() == 10L)
  }

  test("calibrationError: perfect bin contributes zero, ECE is n-weighted") {
    // bin 2 (score .2, 2/10 pos): calibrated. bin 9 (.9, 0/10): gap 900000
    val rows = (0 until 10).map(i => (i < 2, 0.2)) ++
      (0 until 10).map(_ => (false, 0.9))
    val out = Eval.calibrationError(
      rows.toDF("label", "score").repartition(3), "label", "score",
      bins = 10).collect()(0)
    assert(out.getLong(0) == 20L && out.getLong(1) == 2L)
    assert(out.getLong(2) == 450000L)  // (0·10 + 900000·10)/20
    assert(out.getLong(3) == 900000L)  // MCE = the bad bin
    assert(out.getLong(4) > 0L)        // Brier rides along
  }

  test("unigramEntropy: uniform vocabulary is exactly ln(types)") {
    val words = Seq("aa", "bb", "cc", "dd").flatMap(w => Seq.fill(8)(w))
    val docs = words.grouped(4).map(_.mkString(" ")).toSeq.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val out = Corpus.unigramEntropy(
      docs.toDF("id", "text").repartition(3), "text").collect()(0)
    assert(out.getLong(0) == 32L && out.getLong(1) == 4L)
    assert(out.getLong(2) == 1386294L)              // ln 4 in micro-nats
    assert(math.abs(out.getLong(3) - 4000L) <= 2L)  // e^H ≈ 4 types
  }

  test("uniquenessRisk: hand class-size histogram and uniqueness rate") {
    import graft.ops.Privacy
    // classes: {a,x}×1 row, {a,y}×1, {b,x}×3 → sizes 1,1,3
    val rows = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "x"),
      ("b", "x"))
    val out = Privacy.uniquenessRisk(
      rows.toDF("q1", "q2").repartition(2), Seq("q1", "q2"))
      .orderBy("class_size").collect()
    assert(out.length == 2)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 2L)
    assert(out(0).getLong(2) == 2L)             // 2 rows in singletons
    assert(out(0).getLong(3) == 400000L)        // uniqueness rate 40%
    assert(out(0).getLong(4) == 2L && out(0).getLong(5) == 400000L)
    assert(out(1).getLong(0) == 3L && out(1).getLong(1) == 1L)
    assert(out(1).getLong(4) == 5L && out(1).getLong(5) == 1000000L)
  }

  test("wasserstein1d matches an in-memory CDF integral on random data") {
    val rnd = new scala.util.Random(17)
    val rows = (0 until 600).map { i =>
      val g = if (i % 3 == 0) "a" else "b"
      (g, math.floor(rnd.nextGaussian() * 25 +
        (if (g == "a") 10 else 0)) / 2.0)
    }
    val got = Eval.wasserstein1d(rows.toDF("g", "v").repartition(7),
      "g", "v").collect()(0).getLong(5)
    // reference: exact integer segment sum over the merged micro values
    val micro = rows.map { case (g, v) => (g, math.floor(v * 1e6).toLong) }
    val va = micro.filter(_._1 == "a").map(_._2)
    val vb = micro.filter(_._1 == "b").map(_._2)
    val vals = (va ++ vb).distinct.sorted
    val (na, nb) = (BigInt(va.size), BigInt(vb.size))
    var num = BigInt(0)
    for (Seq(v, vn) <- vals.sliding(2) if vals.size > 1) {
      val ca = BigInt(va.count(_ <= v)); val cb = BigInt(vb.count(_ <= v))
      num += BigInt(vn - v) * (ca * nb - cb * na).abs
    }
    assert(got == (num / (na * nb)).toLong)
  }

  test("robustMean matches an in-memory trim/winsor on random data") {
    val rnd = new scala.util.Random(23)
    val vals = (0 until 500).map(_ =>
      math.floor(rnd.nextGaussian() * 1000) / 7.0)
    val out = Features.robustMean(vals.toDF("v").repartition(5), "v",
      trimPpm = 50000L).collect()(0)
    val m = vals.map(v => math.floor(v * 1e6).toLong).sorted
    val n = m.size
    val k = (n.toLong * 50000L / 1000000L).toInt
    def fd(s: BigInt, c: Long): Long =
      (if (s >= 0) s / c else -((-s) / c)).toLong
    val trimmed = m.slice(k, n - k)
    assert(out.getLong(1) == k.toLong)
    assert(out.getLong(2) == fd(m.map(BigInt(_)).sum, n))
    assert(out.getLong(3) == fd(trimmed.map(BigInt(_)).sum, n - 2L * k))
    val wins = trimmed.map(BigInt(_)).sum +
      BigInt(k) * m(k) + BigInt(k) * m(n - k - 1)
    assert(out.getLong(4) == fd(wins, n))
    assert(out.getLong(5) == m(k) && out.getLong(6) == m(n - k - 1))
  }

  test("bradleyTerry ranking agrees with a float MM reference on random votes") {
    import graft.ops.Preference
    val rnd = new scala.util.Random(29)
    // 6 items with distinct true strengths; 40 raters score with noise
    val truth = Map("A" -> 6.0, "B" -> 5.0, "C" -> 4.0, "D" -> 3.0,
      "E" -> 2.0, "F" -> 1.0)
    val rows = for (r <- 1L to 40L; (i, s) <- truth.toSeq)
      yield (r, i, s + rnd.nextGaussian() * 1.5)
    val out = Preference.bradleyTerry(rows.toDF("r", "i", "v")
      .repartition(4), "r", "i", "v", iters = 3)
      .orderBy("bt_rank").collect()
    // reference: float MM on the SAME votes (derived once, driver-side)
    val means = rows.groupBy(t => (t._1, t._2))
      .map { case ((r, i), xs) =>
        ((r, i), xs.map(t => math.floor(t._3 * 1e6).toLong).sum / xs.size) }
    val items = truth.keys.toSeq.sorted
    val wins = collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    for (r <- 1L to 40L; a <- items; b <- items if a < b) {
      val (ma, mb) = (means((r, a)), means((r, b)))
      if (ma > mb) wins((a, b)) += 1 else if (mb > ma) wins((b, a)) += 1
    }
    var pi = items.map(_ -> 1.0).toMap
    for (_ <- 1 to 50) { // float MM to convergence
      pi = items.map { i =>
        val w = items.filter(_ != i).map(j => wins((i, j))).sum.toDouble
        val d = items.filter(_ != i).map { j =>
          (wins((i, j)) + wins((j, i))).toDouble / (pi(i) + pi(j)) }.sum
        i -> (if (d > 0) w / d else pi(i))
      }.toMap
    }
    val refOrder = items.sortBy(i => (-pi(i), i))
    assert(out.map(_.getString(0)).toSeq == refOrder,
      s"quantized 3-iter MM ranking diverged from converged float MM")
  }

  test("preferenceCycles count matches Kendall's outdegree formula") {
    import graft.ops.Preference
    // random complete tournament on 6 items: d = C(k,3) − Σ C(outdeg,2)
    val rnd = new scala.util.Random(31)
    val items = Seq("A", "B", "C", "D", "E", "F")
    // one rater per pair decides the edge → complete tournament
    var raterId = 0L
    val rows = for {
      i <- items.indices; j <- (i + 1) until items.size
    } yield {
      raterId += 1
      val winnerFirst = rnd.nextBoolean()
      val (hi, lo) = if (winnerFirst) (items(i), items(j))
        else (items(j), items(i))
      Seq((raterId, hi, 2.0), (raterId, lo, 1.0))
    }
    val df = rows.flatten.toDF("r", "i", "v").repartition(3)
    val out = Preference.preferenceCycles(df, "r", "i", "v").collect()(0)
    assert(out.getLong(3) == 15L) // complete: all C(6,2) edges
    // outdegree per item from the same coin flips, replayed
    val rnd2 = new scala.util.Random(31)
    val outdeg = collection.mutable.Map(items.map(_ -> 0L): _*)
    for (i <- items.indices; j <- (i + 1) until items.size) {
      if (rnd2.nextBoolean()) outdeg(items(i)) += 1
      else outdeg(items(j)) += 1
    }
    val expected = 20L - outdeg.values.map(d => d * (d - 1) / 2).sum
    assert(out.getLong(4) == expected)
    assert(out.getLong(5) == (8L - expected) * 1000000L / 8L)
  }

  test("kCenterSelect matches an in-memory greedy replay on random vectors") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(37)
    val pts = (0L until 80L).map(i =>
      (i, Array.fill(8)(math.floor(rnd.nextGaussian() * 100) / 50.0)))
    val out = Similarity.kCenterSelect(
      pts.toDF("vec_id", "embedding").repartition(5),
      "vec_id", "embedding", k = 6).orderBy("round").collect()
    // in-memory replay of the exact integer contract
    val m = pts.map { case (i, v) =>
      (i, v.map(x => math.floor(x * 1e6).toLong)) }.toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var sel = List(0L)
    var mind = m.map { case (i, v) => i -> d2(v, m(0L)) }
    val expect = collection.mutable.ListBuffer[(Long, Long)]()
    for (_ <- 2 to 6) {
      val (nid, nd) = mind.toSeq.maxBy { case (i, d) => (d, -i) }
      expect += ((nid, nd))
      sel ::= nid
      mind = mind.map { case (i, d) => i -> math.min(d, d2(m(i), m(nid))) }
    }
    assert(out.drop(1).map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      expect.toSeq)
    // covering radius is non-increasing
    val radii = out.drop(1).map(_.getLong(2))
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b })
  }

  test("topPrincipalComponent aligns with a float power iteration") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(41)
    // anisotropic cloud: dominant direction u with 10x the variance
    val u = Array(0.6, 0.8, 0.0, 0.0)
    val pts = (0L until 300L).map { i =>
      val a = rnd.nextGaussian() * 10
      val noise = Array.fill(4)(rnd.nextGaussian())
      (i, Array.tabulate(4)(j =>
        math.floor((a * u(j) + noise(j)) * 1e4) / 1e4))
    }
    val out = Similarity.topPrincipalComponent(
      pts.toDF("vec_id", "embedding").repartition(5),
      "vec_id", "embedding").orderBy("dim").collect()
    val v = out.map(_.getLong(3).toDouble / 1e6)
    val cos = v.zip(u).map { case (a, b) => a * b }.sum /
      math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(cos) > 0.99,
      s"quantized PC ${v.toSeq} misaligned with the planted direction")
  }

  test("acf matches an in-memory pooled Pearson on random keyed series") {
    import graft.ops.TimeSeries
    val rnd = new scala.util.Random(43)
    val rows = for (k <- 1L to 5L; t <- 0L until 40L)
      yield (k, t, math.floor(rnd.nextGaussian() * 500) / 9.0)
    val got = TimeSeries.acf(rows.toDF("k", "t", "v").repartition(4),
      "k", "t", "v", lags = Seq(2), everyMs = 1L).collect()(0)
    val m = rows.map { case (k, t, v) =>
      ((k, t), math.floor(v * 1e6).toLong) }.toMap
    val pairs = rows.flatMap { case (k, t, _) =>
      m.get((k, t + 2)).map(y => (m((k, t)), y)) }
    val n = BigInt(pairs.size)
    val sx = pairs.map(p => BigInt(p._1)).sum
    val sy = pairs.map(p => BigInt(p._2)).sum
    val sxy = pairs.map(p => BigInt(p._1) * p._2).sum
    val sxx = pairs.map(p => BigInt(p._1) * p._1).sum
    val syy = pairs.map(p => BigInt(p._2) * p._2).sum
    val exp = math.floor(1e6 * (n * sxy - sx * sy).toDouble /
      math.sqrt((n * sxx - sx * sx).toDouble *
        (n * syy - sy * sy).toDouble)).toLong
    assert(got.getLong(1) == pairs.size.toLong && got.getLong(2) == exp)
  }

  test("bootstrapMeanCI: interval brackets the mean and shrinks with n") {
    def ci(n: Int): (Long, Long, Long) = {
      val df = (0 until n).map(i => (i.toLong, (i % 100).toDouble))
        .toDF("id", "v")
      val r = Eval.bootstrapMeanCI(df, "id", "v", b = 80, seed = "w")
        .collect()(0)
      (r.getLong(2), r.getLong(3), r.getLong(4))
    }
    val (m1, lo1, hi1) = ci(200)
    val (m2, lo2, hi2) = ci(3200)
    assert(lo1 <= m1 && m1 <= hi1 && lo2 <= m2 && m2 <= hi2)
    // 16x the data → the CI must be markedly tighter (≈4x in theory)
    assert((hi2 - lo2) * 2 < (hi1 - lo1),
      s"CI failed to shrink: [$lo1,$hi1] vs [$lo2,$hi2]")
  }

  test("cohensKappa: chance-level is 0, perfect is 1e6, constant NULL") {
    import spark.implicits._
    val chance = Seq(("y", "y"), ("y", "n"), ("n", "y"), ("n", "n"))
      .toDF("a", "b")
    val c = Eval.cohensKappa(chance, "a", "b").collect()(0)
    assert(c.getLong(0) == 4L && c.getLong(1) == 2L)
    assert(c.getLong(2) == 500000L && c.getLong(3) == 500000L)
    assert(c.getLong(4) == 0L)
    val perfect = Seq(("y", "y"), ("n", "n"), ("m", "m")).toDF("a", "b")
    assert(Eval.cohensKappa(perfect, "a", "b").collect()(0)
      .getLong(4) == 1000000L)
    val const = Seq(("y", "y"), ("y", "y")).toDF("a", "b")
    assert(Eval.cohensKappa(const, "a", "b").collect()(0).isNullAt(4))
  }

  test("mcnemar: hand discordant chi2, no-disagreement NULL") {
    val rows = Seq.fill(30)((true, true, true)) ++   // both right
      Seq.fill(8)((true, false, true)) ++            // a only
      Seq.fill(2)((false, true, true)) ++            // b only
      Seq.fill(5)((false, false, true))              // both wrong
    val out = Eval.mcnemar(rows.toDF("a", "b", "y").repartition(3),
      "a", "b", "y").collect()(0)
    assert(out.getLong(0) == 45L && out.getLong(1) == 30L)
    assert(out.getLong(2) == 8L && out.getLong(3) == 2L)
    assert(out.getLong(4) == 5L)
    assert(out.getLong(5) == 3600L) // (8−2)²·1000/10
    val same = Seq((true, true, true), (false, false, true))
      .toDF("a", "b", "y")
    assert(Eval.mcnemar(same, "a", "b", "y").collect()(0).isNullAt(5))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("bootstrapMeanCI matches a driver-side replay of the hash weights") {
    val data = (0 until 300).map(i => (i.toLong, (i % 37).toDouble / 3))
    val out = Eval.bootstrapMeanCI(
      data.toDF("id", "v").repartition(5), "id", "v", b = 50, seed = "tb")
      .collect()(0)
    // replay: same md5 prefixes against PoissonCumHex32, same floor math
    val vm = data.map { case (id, v) => (id, math.floor(v * 1e6).toLong) }
    val means = (0 until 50).flatMap { rep =>
      var s = BigInt(0); var c = 0L
      vm.foreach { case (id, m) =>
        val u = md5hex(s"tb|$rep|$id").substring(0, 8)
        val w = Eval.PoissonCumHex32.indexWhere(u < _) match {
          case -1 => 9L
          case k  => k.toLong
        }
        s += BigInt(w) * m; c += w
      }
      if (c > 0) Some((s / c).toLong) else None
    }.sorted
    val bEff = means.size
    assert(out.getLong(0) == 300L && out.getLong(1) == bEff.toLong)
    val lo = ((25 * bEff + 999) / 1000 - 1).max(0)
    val hi = (975 * bEff + 999) / 1000 - 1
    assert(out.getLong(3) == means(lo) && out.getLong(4) == means(hi))
    assert(out.getLong(3) <= out.getLong(2) && out.getLong(2) <= out.getLong(4))
  }

  test("permutationTestMeans: strong effect is significant, null is not") {
    val strong = ((0 until 200).map(i => (i.toLong, "a", 100.0 + i % 5)) ++
      (200 until 400).map(i => (i.toLong, "b", 1.0 + i % 5)))
      .toDF("id", "g", "v").repartition(4)
    val s = Eval.permutationTestMeans(strong, "id", "g", "v", b = 100,
      seed = "pt").collect()(0)
    assert(s.getString(0) == "a" && s.getString(1) == "b")
    assert(s.getLong(4) == 99000000L)          // exact mean diff micro
    assert(s.getLong(7) <= 1000000L / 101 + 1) // p at the add-one floor
    val nullCase = (0 until 400).map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", (i % 7).toDouble))
      .toDF("id", "g", "v")
    val p = Eval.permutationTestMeans(nullCase, "id", "g", "v", b = 100,
      seed = "pt").collect()(0).getLong(7)
    assert(p > 100000L) // chance-level gap: nowhere near significance
  }

  test("permutationTestMeans rejects != 2 groups") {
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "g", "v")
    val e = intercept[IllegalArgumentException] {
      Eval.permutationTestMeans(df, "id", "g", "v")
    }
    assert(e.getMessage.contains("exactly 2 groups"))
  }

  test("zipfFit matches a driver-side fit of the same rank/freq points") {
    val words = Seq.fill(32)("the") ++ Seq.fill(16)("of") ++
      Seq.fill(8)("and") ++ Seq.fill(4)("to") ++ Seq.fill(2)("in") ++ Seq("a")
    val rnd = new scala.util.Random(5)
    val docs = rnd.shuffle(words).grouped(7).map(_.mkString(" ")).toSeq
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val out = Corpus.zipfFit(docs.toDF("doc_id", "text").repartition(3),
      "text", maxRank = 6).collect()(0)
    assert(out.getLong(0) == 6L && out.getLong(1) == 6L)
    // exact doubling at each rank step: slope = ln(freq)/ln(rank) fit;
    // replicate driver-side on the same floored-micro points
    val freqs = Seq(32L, 16L, 8L, 4L, 2L, 1L)
    val xs = freqs.indices.map(i => math.floor(math.log(i + 1.0) * 1e6).toLong)
    val ys = freqs.map(f => math.floor(math.log(f.toDouble) * 1e6).toLong)
    val n = BigInt(6)
    val (sx, sy) = (xs.map(BigInt(_)).sum, ys.map(BigInt(_)).sum)
    val sxy = xs.zip(ys).map { case (a, b) => BigInt(a) * b }.sum
    val sxx = xs.map(a => BigInt(a) * a).sum
    val exp = math.floor(
      1e6 * (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble).toLong
    assert(out.getLong(2) == exp)
    assert(out.getLong(2) < -1000000L) // steeper than -1: freq halves per rank
  }

  test("bhFdr: step-up makes an early failing rank significant when a later rank passes") {
    val spark2 = spark
    import spark2.implicits._
    // p = .02, .03, .04 at alpha = .05: rank 1 fails its own threshold
    // (.02 > .05/3) but rank 3 passes (.04 <= .05), so ALL are discoveries
    val df = Seq(("h1", 20000L), ("h2", 30000L), ("h3", 40000L))
      .toDF("hyp", "p_micro")
    val out = Eval.bhFdr(df, "hyp", "p_micro", alphaMicro = 50000L)
      .collect().map(r => (r.getAs[String]("hyp"), r.getAs[Long]("rank"),
        r.getAs[Boolean]("significant"))).sortBy(_._2)
    assert(out.map(_._3).forall(identity), out.mkString(","))
    assert(out.map(_._1) sameElements Array("h1", "h2", "h3"))
  }

  test("bhFdr: nothing passes when every cross-multiply fails; crit column exact") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(("a", 400000L), ("b", 900000L)).toDF("hyp", "p_micro")
    val out = Eval.bhFdr(df, "hyp", "p_micro", alphaMicro = 50000L)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("m"),
        r.getAs[Long]("bh_crit_micro"), r.getAs[Boolean]("significant")))
      .sortBy(_._1)
    assert(out.forall(!_._4))
    assert(out.map(_._3).toSeq == Seq(25000L, 50000L)) // floor(i*alpha/m)
  }

  test("permutationTestMeansBySegment: shifted segment gets minimal p, null segment large p, non-2-group segments dropped") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(11)
    val shifted = (0 until 120).map(i =>
      ("shifted", s"s$i", if (i % 2 == 0) "a" else "b",
        (if (i % 2 == 0) 100.0 else 0.0) + rnd.nextDouble()))
    val nullseg = (0 until 120).map(i =>
      ("nullseg", s"n$i", if (i % 2 == 0) "a" else "b", rnd.nextDouble()))
    val oneGroup = (0 until 20).map(i => ("onegrp", s"o$i", "a", 1.0))
    val df = (shifted ++ nullseg ++ oneGroup).toDF("seg", "id", "g", "v")
    val out = Eval.permutationTestMeansBySegment(
        df, "seg", "id", "g", "v", b = 100, seed = "t")
      .collect().map(r => r.getAs[String]("segment") ->
        (r.getAs[Long]("p_micro"), r.getAs[Long]("n_a"),
          r.getAs[Long]("b_effective"))).toMap
    assert(out.keySet == Set("shifted", "nullseg")) // onegrp dropped
    assert(out("shifted")._2 == 60L && out("shifted")._3 == 100L)
    // a 100-unit mean shift is more extreme than any label permutation:
    // p = (1+0)/(1+100) -> 9900 micro
    assert(out("shifted")._1 == 9900L, out("shifted")._1.toString)
    assert(out("nullseg")._1 > 100000L, out("nullseg")._1.toString)
  }

  test("permutationTestMeansBySegment: decimal headroom guard fails loudly") {
    // one segment with 300k rows of |v_micro| ≈ 9.2e18 drives
    // Σ|v_micro|·n³/4 ≈ 1.9e40, past the decimal(38,0) ceiling — the
    // require must fire on the model-sized moments BEFORE any ×b explode
    val big = spark.range(300000).selectExpr(
      "'s' AS seg", "CAST(id AS STRING) AS id",
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g",
      "CASE WHEN id % 2 = 0 THEN 9.2e12 ELSE -9.2e12 END AS v")
    val e = intercept[IllegalArgumentException] {
      Eval.permutationTestMeansBySegment(big, "seg", "id", "g", "v", b = 2)
    }
    assert(e.getMessage.contains("decimal(38,0)") &&
      e.getMessage.contains("4.5e7"))
  }

  test("dsirResample: strong vocabulary signal beats Gumbel noise; empty docs score zero weight") {
    val spark2 = spark
    import spark2.implicits._
    // two disjoint vocabularies; target speaks only "alpha"
    val alphaWords = Seq("alpha", "beta", "gamma", "delta")
    val omegaWords = Seq("omega", "sigma", "tau", "psi")
    def doc(words: Seq[String], i: Int): String =
      (0 until 40).map(j => words((i + j) % words.length)).mkString(" ")
    // NULL text = zero grams (empty string carries one '' gram under the
    // q77 gram contract, so it is NOT the no-evidence case)
    val corpus = ((0 until 10).map(i => (i.toLong, doc(alphaWords, i))) ++
      (10 until 20).map(i => (i.toLong, doc(omegaWords, i))) :+
      (20L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val target = (0 until 5).map(i => doc(alphaWords, i)).toDF("text")
    val out = graft.ops.Sampling.dsirResample(
        corpus, "doc_id", "text", target, "text", k = 10, hashDigits = 2)
      .collect()
    val sel = out.filter(_.getAs[Boolean]("selected"))
      .map(_.getAs[Long]("doc_id")).toSet
    assert(sel == (0L until 10L).toSet, s"selected $sel")
    val empty = out.find(_.getAs[Long]("doc_id") == 20L).get
    assert(empty.getAs[Long]("w_micro") == 0L
      && empty.getAs[Long]("n_grams") == 0L)
    assert(out.length == 21 && out.map(_.getAs[Long]("rank")).toSet == (1L to 21L).toSet)
  }

  test("mixtureAllocation: allocations sum to the budget exactly; temperature flattens shares") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(("big", 10000L), ("mid", 1000L), ("small", 10L))
      .flatMap { case (d, n) => Seq((d, n / 2), (d, n - n / 2)) }
      .toDF("dom", "nt")
    def run(alpha: Double) = Corpus.mixtureAllocation(df, "dom", "nt", alpha, budget = 999L)
      .collect().map(r => r.getAs[String]("domain") ->
        (r.getAs[Long]("alloc_tokens"), r.getAs[Long]("share_micro"),
          r.getAs[Long]("epochs_milli"))).toMap
    val hot = run(1.0)
    assert(hot.values.map(_._1).sum == 999L)
    // alpha=1 is proportional: big gets ~10000/11010 of the budget
    assert(hot("big")._1 == 999L * 10000L / 11010L || hot("big")._1 == 999L * 10000L / 11010L + 1)
    val flat = run(0.2)
    assert(flat.values.map(_._1).sum == 999L)
    // temperature lifts the small domain's share
    assert(flat("small")._2 > hot("small")._2)
    // small domain is oversubscribed at alpha=0.2: repetition > 1 epoch
    assert(flat("small")._3 > 1000L, flat("small")._3.toString)
  }

  test("offPolicyValue: identical policies recover the plain mean with full ESS; zero-target rows weight 0") {
    val spark2 = spark
    import spark2.implicits._
    // p_target == p_logged -> every w = 1e6, IPS = SNIPS = mean(r), ESS = 1000
    val same = (1 to 8).map(i => (i.toDouble, 250000L, 250000L))
      .toDF("r", "p0", "p1")
    val a = Eval.offPolicyValue(same, "r", "p0", "p1").collect()(0)
    assert(a.getAs[Long]("ips_micro") == 4500000L) // mean of 1..8
    assert(a.getAs[Long]("snips_micro") == 4500000L)
    assert(a.getAs[Long]("max_w_micro") == 1000000L)
    assert(a.getAs[Long]("ess_milli") == 1000L)

    // target never takes half the actions: those rows contribute w=0,
    // SNIPS renormalizes to the mean of the covered rows
    val half = ((1 to 4).map(i => (10.0, 500000L, 1000000L)) ++
      (1 to 4).map(i => (99.0, 500000L, 0L))).toDF("r", "p0", "p1")
    val b = Eval.offPolicyValue(half, "r", "p0", "p1").collect()(0)
    assert(b.getAs[Long]("snips_micro") == 10000000L) // the 99s never count
    // IPS: sum(10*2e6*1e6 micro-products)/ (8*1e6) = 10*2/2 = 10? ->
    // 4 rows * 10e6 * 2e6 div (8 * 1e6) = 10e6
    assert(b.getAs[Long]("ips_micro") == 10000000L)
    // non-positive logged propensity rows are excluded entirely
    val bad = ((1 to 2).map(_ => (5.0, 300000L, 300000L)) :+ ((7.0, 0L, 300000L)))
      .toDF("r", "p0", "p1")
    assert(Eval.offPolicyValue(bad, "r", "p0", "p1").collect()(0)
      .getAs[Long]("n") == 2L)
  }

  test("lDiversity: entropy and recursive gates catch a dominated class that distinct-count l passes") {
    val spark2 = spark
    import spark2.implicits._
    // class A: 98 of "flu" + 1 "cold" + 1 "ok" -> 3 distinct (passes
    // naive l=3) but dominated; class B: 3 values evenly
    val rows = (0 until 98).map(_ => ("A", "flu")) ++
      Seq(("A", "cold"), ("A", "ok")) ++
      (0 until 30).flatMap(_ => Seq(("B", "flu"), ("B", "cold"), ("B", "ok")))
    val out = graft.ops.Privacy.lDiversity(
        rows.toDF("cls", "diag"), Seq("cls"), "diag", l = 3, c = 2L)
      .collect().map(r => r.getAs[String]("cls") -> r).toMap
    val a = out("A"); val b = out("B")
    assert(a.getAs[Long]("n_distinct_sensitive") == 3L) // naive l passes...
    assert(!a.getAs[Boolean]("entropy_l_ok"))           // ...strong forms do not
    // recursive (2,3): r1=98 vs 2*(tail after top-2 = 1) -> violation
    assert(a.getAs[Long]("r1") == 98L && a.getAs[Long]("tail_from_l") == 1L)
    assert(!a.getAs[Boolean]("recursive_cl_ok"))
    // even class: entropy = ln 3 exactly at the boundary -> ok; r1=30 < 2*30
    assert(b.getAs[Boolean]("entropy_l_ok"))
    assert(b.getAs[Boolean]("recursive_cl_ok"))
    // entropy_micro of the even class is ln(3) in micro (floored arithmetic)
    assert(math.abs(b.getAs[Long]("entropy_micro") - 1098612L) <= 1L)
  }

  test("mannKendall: monotone series maxes S, constant series NULL z, ties corrected") {
    val spark2 = spark
    import spark2.implicits._
    val inc = (1 to 10).map(i => ("inc", i.toLong, i.toLong * 5))
    val const = (1 to 10).map(i => ("const", i.toLong, 7L))
    val tied = Seq(("tied", 1L, 1L), ("tied", 2L, 1L), ("tied", 3L, 2L),
      ("tied", 4L, 2L), ("tied", 5L, 3L))
    val out = graft.ops.TimeSeries.mannKendall(
        (inc ++ const ++ tied).toDF("k", "b", "v"), "k", "b", "v")
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    val i = out("inc")
    assert(i.getAs[Long]("s_stat") == 45L) // all C(10,2) pairs concordant
    assert(i.getAs[Long]("var_s_x18") == 10L * 9 * 25) // no ties
    // z = 44/sqrt(125) = 3.935.. -> milli floor 3935, trending
    assert(i.getAs[Long]("z_milli") == 3935L && i.getAs[Boolean]("trending"))
    val c = out("const")
    assert(c.getAs[Long]("s_stat") == 0L && c.getAs[Long]("var_s_x18") == 0L)
    assert(c.isNullAt(c.fieldIndex("z_milli")) && c.isNullAt(c.fieldIndex("trending")))
    val t = out("tied")
    // S: pairs across tie groups all increasing -> 2*2 + 2*1 + 2*2 + ... enumerate:
    // values 1,1,2,2,3 in time order; concordant pairs = 2*2+2*1+2*1+... = 8, ties 2
    assert(t.getAs[Long]("s_stat") == 8L)
    // 18Var = 5*4*15 - [2*1*9 + 2*1*9 + 1*0*7] = 300 - 36 = 264
    assert(t.getAs[Long]("var_s_x18") == 264L)
  }

  test("mannKendall: maxSeriesLen cap fails loudly on an over-long series") {
    val spark2 = spark
    import spark2.implicits._
    // 12 points against a cap of 10: the n_k² pair join must never run —
    // the require fires on the longest-series aggregate first
    val long12 = (1 to 12).map(i => ("hot", i.toLong, i.toLong))
    val e = intercept[IllegalArgumentException] {
      graft.ops.TimeSeries.mannKendall(
        long12.toDF("k", "b", "v"), "k", "b", "v", maxSeriesLen = 10L)
    }
    assert(e.getMessage.contains("maxSeriesLen") &&
      e.getMessage.contains("12"))
    // at the boundary it runs: 12 points, cap 12
    val ok = graft.ops.TimeSeries.mannKendall(
      long12.toDF("k", "b", "v"), "k", "b", "v", maxSeriesLen = 12L)
      .collect()
    assert(ok.length == 1 && ok.head.getAs[Long]("s_stat") == 66L)
  }

  test("vocabularyCoverage: Chao1 corrects from the rare tail; closed vocab converges") {
    val spark2 = spark
    import spark2.implicits._
    // 3 types seen once (f1), 1 type twice (f2), 1 type 5x:
    // D=5, chao1 = 5 + 9/2 = 9 (floor), GT unseen = 1e6*3/10 = 300000
    val docs = Seq("a b c", "d d e", "e e e e").toDF("text")
    val r = graft.ops.Corpus.vocabularyCoverage(docs, "text").collect()(0)
    assert(r.getAs[Long]("n_tokens") == 10L && r.getAs[Long]("n_types") == 5L)
    assert(r.getAs[Long]("f1") == 3L && r.getAs[Long]("f2") == 1L)
    assert(r.getAs[Long]("chao1_total") == 5L + 9L / 2L)
    assert(r.getAs[Long]("gt_unseen_micro") == 300000L)
    // every type repeated -> f1 = 0: no correction, zero unseen mass
    val closed = Seq("x y", "x y", "x y").toDF("text")
    val c = graft.ops.Corpus.vocabularyCoverage(closed, "text").collect()(0)
    assert(c.getAs[Long]("chao1_total") == 2L)
    assert(c.getAs[Long]("gt_unseen_micro") == 0L)
  }

  test("cochransQ: identical classifiers Q=0; one dissenter on every row is flagged") {
    val spark2 = spark
    import spark2.implicits._
    // truth always true; a and b always right, c always wrong ->
    // maximal disagreement: Q = (k-1)*(k*sumG2 - T^2)/(k*T - sumL2)
    // n=12: G=(12,12,0), T=24, L_i=2 -> sumL2=48; Q = 2*(3*288-576)/(72-48)=24
    val df = (1 to 12).map(_ => (true, true, true, false))
      .toDF("truth", "a", "b", "c")
    val r = Eval.cochransQ(df, "truth", Seq("a", "b", "c")).collect()(0)
    assert(r.getAs[Long]("q_milli") == 24000L && r.getAs[Boolean]("significant"))
    // all three always right: denominator degenerates -> NULL Q
    val same = (1 to 8).map(_ => (true, true, true, true))
      .toDF("truth", "a", "b", "c")
    val s2 = Eval.cochransQ(same, "truth", Seq("a", "b", "c")).collect()(0)
    assert(s2.isNullAt(s2.fieldIndex("q_milli")))
    assert(s2.isNullAt(s2.fieldIndex("significant")))
  }

  test("jonckheereTerpstra: monotone dose trend detected, reversed trend negative, flat null") {
    val spark2 = spark
    import spark2.implicits._
    // 3 ordered groups, clearly increasing outcome (disjoint ranges)
    val inc = (0 until 3).flatMap(g => (0 until 12).map(i =>
      (g.toLong, (g * 100 + i).toDouble)))
    val r = Features.jonckheereTerpstra(inc.toDF("g", "v"), "g", "v")
      .collect()(0)
    // every cross-group pair concordant: U2 = 2 * 3 * 144 = 864 pairs*? ->
    // pairs across groups = 3 choose 2 * 144 = 432; doubled = 864
    assert(r.getAs[Long]("u2") == 864L)
    assert(r.getAs[Long]("e2") == (36L * 36 - 3 * 144) / 2)
    assert(r.getAs[Long]("z_milli") > 1960L && r.getAs[Boolean]("trending"))
    // reversed ordering flips the sign
    val dec = inc.map { case (g, v) => (2L - g, v) }
    val d = Features.jonckheereTerpstra(dec.toDF("g", "v"), "g", "v")
      .collect()(0)
    assert(d.getAs[Long]("z_milli") < -1960L)
    // all values tied: U2 == E2 exactly, z = 0
    val flat = (0 until 3).flatMap(g => (0 until 10).map(_ => (g.toLong, 5.0)))
    val f = Features.jonckheereTerpstra(flat.toDF("g", "v"), "g", "v")
      .collect()(0)
    assert(f.getAs[Long]("u2") == f.getAs[Long]("e2"))
    assert(f.getAs[Long]("z_milli") == 0L && !f.getAs[Boolean]("trending"))
  }

  test("ksTestTwoSample: disjoint supports max D, identical samples zero D") {
    val spark2 = spark
    import spark2.implicits._
    val disjoint = (1 to 50).map(i => ("a", i.toDouble)) ++
      (1 to 50).map(i => ("b", 1000.0 + i))
    val d1 = Features.ksTestTwoSample(disjoint.toDF("g", "v"), "g", "v")
      .collect()(0)
    assert(d1.getAs[Long]("d_micro") == 1000000L)
    assert(d1.getAs[Boolean]("significant"))
    val same = (1 to 50).flatMap(i =>
      Seq(("a", i.toDouble), ("b", i.toDouble)))
    val d0 = Features.ksTestTwoSample(same.toDF("g", "v"), "g", "v")
      .collect()(0)
    assert(d0.getAs[Long]("d_micro") == 0L)
    assert(!d0.getAs[Boolean]("significant"))
    intercept[IllegalArgumentException] {
      Features.ksTestTwoSample(
        Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("g", "v"), "g", "v")
    }
  }

  test("fleissKappa: unanimity is 1e6, one-category degenerates to NULL") {
    val spark2 = spark
    import spark2.implicits._
    // 10 items x 3 raters, unanimous per item, labels vary across items
    val unanimous = for (i <- 0 until 10; r <- 0 until 3)
      yield (s"i$i", s"r$r", s"L${i % 3}")
    val u = Eval.fleissKappa(
      unanimous.toDF("i", "r", "l"), "i", "r", "l", r = 3).collect()(0)
    assert(u.getAs[Long]("n_items") == 10L)
    assert(u.getAs[Long]("p_bar_micro") == 1000000L)
    assert(u.getAs[Long]("kappa_micro") == 1000000L)
    // every vote the same single category: chance agreement total -> NULL
    val mono = for (i <- 0 until 6; r <- 0 until 3)
      yield (s"i$i", s"r$r", "only")
    val m = Eval.fleissKappa(
      mono.toDF("i", "r", "l"), "i", "r", "l", r = 3).collect()(0)
    assert(m.isNullAt(m.fieldIndex("kappa_micro")))
    // items without exactly r votes are dropped structurally
    val ragged = unanimous :+ (("extra", "r0", "L0"))
    val g = Eval.fleissKappa(
      ragged.toDF("i", "r", "l"), "i", "r", "l", r = 3).collect()(0)
    assert(g.getAs[Long]("n_items") == 10L)
  }

  test("cramersV: identity mapping V=1000, independence V~0, maxCells loud") {
    val spark2 = spark
    import spark2.implicits._
    val dep = (0 until 300).map(i => (s"c${i % 3}", s"c${i % 3}"))
    val d = Eval.cramersV(dep.toDF("a", "b"), "a", "b").collect()(0)
    assert(d.getAs[Long]("v_milli") == 1000L,
      s"identity must give V=1: ${d}")
    // independent uniform facets: chi2 exactly 0 on a balanced design
    val ind = for (i <- 0 until 4; j <- 0 until 5; _ <- 0 until 3)
      yield (s"a$i", s"b$j")
    val e = Eval.cramersV(ind.toDF("a", "b"), "a", "b").collect()(0)
    assert(math.abs(e.getAs[Long]("chi2_micro")) <= 60L, e.toString)
    val big = intercept[IllegalArgumentException] {
      Eval.cramersV(
        (0 until 50).flatMap(i => (0 until 50).map(j => (s"x$i", s"y$j")))
          .toDF("a", "b"), "a", "b", maxCells = 100L)
    }
    assert(big.getMessage.contains("maxCells"))
  }

  test("friedmanTest: consistent block ordering rejects, constant values NULL") {
    val spark2 = spark
    import spark2.implicits._
    // 12 blocks, 4 treatments, t3 > t2 > t1 > t0 in every block
    val strong = for (b <- 0 until 12; t <- 0 until 4)
      yield (s"b$b", s"t$t", t * 10.0 + b * 0.01)
    val f = Features.friedmanTest(
      strong.toDF("blk", "t", "v"), "blk", "t", "v", critMilli = 7815L)
      .collect()(0)
    // no ties: chi2 = n(k-1) * ... = exactly 12*3 = 36 -> 36000 milli
    assert(f.getAs[Long]("n_blocks") == 12L &&
      f.getAs[Long]("k_treatments") == 4L)
    assert(f.getAs[Long]("chi2_milli") == 36000L, f.toString)
    assert(f.getAs[Boolean]("significant"))
    // all values tied within every block: denominator 0 -> NULL
    val flat = for (b <- 0 until 5; t <- 0 until 4)
      yield (s"b$b", s"t$t", 7.0)
    val g = Features.friedmanTest(
      flat.toDF("blk", "t", "v"), "blk", "t", "v").collect()(0)
    assert(g.isNullAt(g.fieldIndex("chi2_milli")))
    // blocks missing a treatment drop structurally
    val ragged = strong ++ Seq(("extra", "t0", 1.0))
    val h = Features.friedmanTest(
      ragged.toDF("blk", "t", "v"), "blk", "t", "v").collect()(0)
    assert(h.getAs[Long]("n_blocks") == 12L)
  }

  test("kendallsW: unanimous rankings W=1000, two opposed raters W=0") {
    val spark2 = spark
    import spark2.implicits._
    val unanimous = for (r <- 0 until 5; i <- 0 until 8)
      yield (s"r$r", s"i$i", i.toDouble)
    val u = Eval.kendallsW(
      unanimous.toDF("r", "i", "v"), "r", "i", "v").collect()(0)
    assert(u.getAs[Long]("n_items") == 8L && u.getAs[Long]("m_raters") == 5L)
    assert(u.getAs[Long]("w_milli") == 1000L, u.toString)
    val opposed = (0 until 8).map(i => ("r0", s"i$i", i.toDouble)) ++
      (0 until 8).map(i => ("r1", s"i$i", (7 - i).toDouble))
    val o = Eval.kendallsW(
      opposed.toDF("r", "i", "v"), "r", "i", "v").collect()(0)
    assert(o.getAs[Long]("w_milli") == 0L, o.toString)
  }

  test("brierDecomposition: perfect predictor all skill, constant predictor no resolution") {
    val spark2 = spark
    import spark2.implicits._
    val perfect = (0 until 200).map(i => (i % 3 == 0, if (i % 3 == 0) 1.0 else 0.0))
    val p = Eval.brierDecomposition(
      perfect.toDF("y", "p"), "y", "p", bins = 10).collect()(0)
    assert(p.getAs[Long]("brier_micro") == 0L)
    assert(p.getAs[Long]("reliability_micro") == 0L)
    // resolution equals uncertainty when the predictor is perfect —
    // up to the per-bin floor slack, bounded by bins·10⁶/N² (the
    // truncation happens before the 10⁶ scale-up): 2 bins, N=200 → 50
    assert(math.abs(p.getAs[Long]("resolution_micro") -
      p.getAs[Long]("uncertainty_micro")) <= 50L, p.toString)
    val constant = (0 until 200).map(i => (i % 4 == 0, 0.25))
    val c = Eval.brierDecomposition(
      constant.toDF("y", "p"), "y", "p", bins = 10).collect()(0)
    assert(c.getAs[Long]("resolution_micro") == 0L)
    assert(c.getAs[Long]("reliability_micro") <= 1L, c.toString)
    assert(c.getAs[Long]("uncertainty_micro") == 187500L) // 0.25*0.75
  }

  test("neymanAllocation: quotas sum to budget, spread wins over size") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(5)
    // "wide": 100 rows spread over [0, 1000); "narrow": 300 rows in [500, 501)
    val rows = (0 until 100).map(i => ("wide", rnd.nextDouble() * 1000)) ++
      (0 until 300).map(i => ("narrow", 500.0 + rnd.nextDouble()))
    val out = graft.ops.Sampling.neymanAllocation(
        rows.toDF("s", "v"), "s", "v", budget = 97L)
      .collect().map(r => r.getAs[String]("stratum") -> r).toMap
    assert(out.values.map(_.getAs[Long]("quota")).sum == 97L)
    // 3x fewer rows but ~300x the spread: wide must dominate
    assert(out("wide").getAs[Long]("quota") >
      out("narrow").getAs[Long]("quota") * 10)
    val zero = intercept[IllegalArgumentException] {
      graft.ops.Sampling.neymanAllocation(
        Seq(("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)).toDF("s", "v"),
        "s", "v", budget = 10L)
    }
    assert(zero.getMessage.contains("zero spread"))
  }

  test("hellingerDistance: identical mixes ~0, disjoint labels exactly 1") {
    val spark2 = spark
    import spark2.implicits._
    val same = (0 until 120).flatMap(i =>
      Seq(("a", s"L${i % 4}"), ("b", s"L${i % 4}")))
    val s0 = Eval.hellingerDistance(same.toDF("g", "l"), "g", "l")
      .collect()(0)
    // per-label floors can shave at most 1 micro each off BC
    assert(s0.getAs[Long]("bc_micro") >= 999996L, s0.toString)
    assert(s0.getAs[Long]("hellinger_milli") <= 2L)
    val disjoint = (0 until 60).map(i => ("a", s"X${i % 3}")) ++
      (0 until 60).map(i => ("b", s"Y${i % 3}"))
    val s1 = Eval.hellingerDistance(disjoint.toDF("g", "l"), "g", "l")
      .collect()(0)
    assert(s1.getAs[Long]("bc_micro") == 0L)
    assert(s1.getAs[Long]("h2_micro") == 1000000L &&
      s1.getAs[Long]("hellinger_milli") == 1000L)
  }

  test("pagesTrendTest: monotone blocks max L with direction, reversal flips sign") {
    val spark2 = spark
    import spark2.implicits._
    // 10 blocks, 4 doses, response strictly rising with dose everywhere:
    // L2 is maximal, chi2 = 12n(k-1)... here exactly n*9*... just assert
    // significance and direction; reversal must mirror the direction
    val up = for (b <- 0 until 10; t <- 0 until 4)
      yield (s"b$b", t.toLong, t * 10.0 + b * 0.01)
    val u = Features.pagesTrendTest(
      up.toDF("blk", "t", "v"), "blk", "t", "v").collect()(0)
    assert(u.getAs[Long]("n_blocks") == 10L &&
      u.getAs[Long]("k_treatments") == 4L)
    assert(u.getAs[Long]("direction") == 1L)
    assert(u.getAs[Boolean]("significant"), u.toString)
    val down = up.map { case (b, t, v) => (b, t, -v) }
    val d = Features.pagesTrendTest(
      down.toDF("blk", "t", "v"), "blk", "t", "v").collect()(0)
    assert(d.getAs[Long]("direction") == -1L)
    assert(d.getAs[Long]("chi2_milli") == u.getAs[Long]("chi2_milli"))
    intercept[IllegalArgumentException] {
      Features.pagesTrendTest(
        Seq(("b0", 0L, 1.0), ("b0", 1L, 2.0)).toDF("blk", "t", "v"),
        "blk", "t", "v")
    }
  }

  test("cochranArmitage: rising rate positive significant z, flat rate ~0, degenerate NULL") {
    val spark2 = spark
    import spark2.implicits._
    // decile w: rate rises 0.1*w — strong positive trend
    val rising = for (w <- 0L until 10L; i <- 0 until 100)
      yield (w, i < w * 10)
    val r = graft.ops.Causal.cochranArmitage(
      rising.toDF("w", "y"), "w", "y").collect()(0)
    assert(r.getAs[Long]("k_groups") == 10L)
    assert(r.getAs[Long]("z_milli") > 1960L && r.getAs[Boolean]("significant"))
    val flat = for (w <- 0L until 10L; i <- 0 until 100)
      yield (w, i < 30)
    val f = graft.ops.Causal.cochranArmitage(
      flat.toDF("w", "y"), "w", "y").collect()(0)
    assert(f.getAs[Long]("z_milli") == 0L && !f.getAs[Boolean]("significant"))
    val allPos = (0L until 5L).flatMap(w => Seq((w, true), (w, true)))
    val a = graft.ops.Causal.cochranArmitage(
      allPos.toDF("w", "y"), "w", "y").collect()(0)
    assert(a.isNullAt(a.fieldIndex("z_milli")) &&
      a.isNullAt(a.fieldIndex("significant")))
  }

  test("mantelHaenszel: Simpson's-paradox mix nulls out within strata; real effect flags") {
    val spark2 = spark
    import spark2.implicits._
    // Two strata with IDENTICAL within-stratum rates (no conditional
    // effect) but opposite arm sizes — pooled naive would see an effect;
    // CMH must not: OR_MH = 1, chi2 ~ 0.
    val confounded =
      (0 until 80).map(i => ("s1", true, i < 48)) ++   // treat 60% pos
      (0 until 20).map(i => ("s1", false, i < 12)) ++  // ctrl  60% pos
      (0 until 20).map(i => ("s2", true, i < 4)) ++    // treat 20% pos
      (0 until 80).map(i => ("s2", false, i < 16))     // ctrl  20% pos
    val r0 = Causal.mantelHaenszel(
      confounded.toDF("s", "t", "y"), "s", "t", "y").collect()(0)
    assert(r0.getAs[Long]("n_strata") == 2L &&
      r0.getAs[Long]("n_strata_used") == 2L)
    assert(r0.getAs[Long]("or_mh_micro") == 1000000L, r0.toString)
    assert(r0.getAs[Long]("chi2_milli") == 0L && !r0.getAs[Boolean]("significant"))
    // Same direction in both strata: strongly significant, OR > 1
    val effect =
      (0 until 100).map(i => ("s1", true, i < 80)) ++
      (0 until 100).map(i => ("s1", false, i < 20)) ++
      (0 until 100).map(i => ("s2", true, i < 70)) ++
      (0 until 100).map(i => ("s2", false, i < 10))
    val r1 = Causal.mantelHaenszel(
      effect.toDF("s", "t", "y"), "s", "t", "y").collect()(0)
    assert(r1.getAs[Long]("or_mh_micro") > 4000000L)
    assert(r1.getAs[Boolean]("significant"), r1.toString)
    // a one-arm stratum is excluded from the chi-square, counted apart
    val oneArm = effect ++ (0 until 50).map(i => ("s3", true, i < 25))
    val r2 = Causal.mantelHaenszel(
      oneArm.toDF("s", "t", "y"), "s", "t", "y").collect()(0)
    assert(r2.getAs[Long]("n_strata") == 3L &&
      r2.getAs[Long]("n_strata_used") == 2L)
  }

  test("brownForsythe: equal spreads ~0, unequal spreads large, k<2 NULL") {
    val spark2 = spark
    import spark2.implicits._
    // identical distributions shifted in LOCATION only: median-centered
    // deviations are the same multiset per group → between-group SS = 0
    val shifted = (0 until 100).flatMap(i =>
      Seq(("a", (i % 11).toDouble), ("b", (i % 11).toDouble + 50.0)))
    val r0 = Features.brownForsythe(
      shifted.toDF("g", "v"), "g", "v").collect()(0)
    assert(r0.getAs[Long]("n_groups") == 2L)
    assert(r0.getAs[Long]("f_milli") == 0L, r0.toString)
    // one tight group, one wide group: F must be large
    val spread = (0 until 100).flatMap(i =>
      Seq(("tight", (i % 3).toDouble), ("wide", ((i % 21) * 10).toDouble)))
    val r1 = Features.brownForsythe(
      spread.toDF("g", "v"), "g", "v").collect()(0)
    assert(r1.getAs[Long]("f_milli") > 10000L, r1.toString)
    val single = (0 until 10).map(i => ("only", i.toDouble))
    val r2 = Features.brownForsythe(
      single.toDF("g", "v"), "g", "v").collect()(0)
    assert(r2.isNullAt(r2.fieldIndex("f_milli")))
  }

  test("cronbachAlpha: parallel items ~1, opposing items negative, incomplete drop") {
    val spark2 = spark
    import spark2.implicits._
    // two items = same signal → alpha = 1 (exactly, integer algebra)
    val parallel = (0 until 30).flatMap(u =>
      Seq((s"u$u", "i1", (u % 7).toDouble), (s"u$u", "i2", (u % 7).toDouble)))
    val r0 = Eval.cronbachAlpha(
      parallel.toDF("u", "i", "v"), "u", "i", "v", k = 2).collect()(0)
    assert(r0.getAs[Long]("n_units") == 30L &&
      r0.getAs[Long]("n_dropped") == 0L)
    assert(r0.getAs[Long]("alpha_micro") == 1000000L, r0.toString)
    // opposing items (x and -x): totals constant → D_tot = 0 → NULL
    val opposing = (0 until 30).flatMap(u =>
      Seq((s"u$u", "i1", (u % 7).toDouble), (s"u$u", "i2", -(u % 7).toDouble)))
    val r1 = Eval.cronbachAlpha(
      opposing.toDF("u", "i", "v"), "u", "i", "v", k = 2).collect()(0)
    assert(r1.isNullAt(r1.fieldIndex("alpha_micro")), r1.toString)
    // anti-correlated but not degenerate: alpha strictly negative
    val anti = (0 until 30).flatMap(u =>
      Seq((s"u$u", "i1", (u % 7).toDouble),
        (s"u$u", "i2", -2.0 * (u % 7))))
    val r2 = Eval.cronbachAlpha(
      anti.toDF("u", "i", "v"), "u", "i", "v", k = 2).collect()(0)
    assert(r2.getAs[Long]("alpha_micro") < 0L, r2.toString)
    // a unit missing an item drops and is counted
    val incomplete = parallel ++ Seq(("uX", "i1", 3.0))
    val r3 = Eval.cronbachAlpha(
      incomplete.toDF("u", "i", "v"), "u", "i", "v", k = 2).collect()(0)
    assert(r3.getAs[Long]("n_units") == 30L &&
      r3.getAs[Long]("n_dropped") == 1L)
    intercept[IllegalArgumentException] {
      Eval.cronbachAlpha(parallel.toDF("u", "i", "v"), "u", "i", "v", k = 1)
    }
  }

  test("linCcc: identity 1.0, pure shift keeps r but cuts ccc, constant NULL") {
    val spark2 = spark
    import spark2.implicits._
    val xs = (0 until 50).map(i => (i % 11).toDouble)
    val ident = xs.map(x => (x, x))
    val r0 = Features.linCcc(ident.toDF("x", "y"), "x", "y").collect()(0)
    assert(r0.getAs[Long]("ccc_micro") == 1000000L &&
      r0.getAs[Long]("r_milli") == 1000L)
    val shift = xs.map(x => (x, x + 20.0))
    val r1 = Features.linCcc(shift.toDF("x", "y"), "x", "y").collect()(0)
    assert(r1.getAs[Long]("r_milli") == 1000L)          // correlation blind
    assert(r1.getAs[Long]("ccc_micro") < 100000L, r1.toString) // agreement not
    val const = (0 until 20).map(_ => (5.0, 5.0))
    val r2 = Features.linCcc(const.toDF("x", "y"), "x", "y").collect()(0)
    assert(r2.isNullAt(r2.fieldIndex("ccc_micro")))
  }

  test("ljungBox: trending series large Q, alternating series small, short keys drop lags") {
    val spark2 = spark
    import spark2.implicits._
    // strong positive autocorrelation: slow sawtooth
    val trend = (0 until 200).map(t => ("k1", t.toLong, (t / 20).toDouble))
    // lag-1 anti-correlated alternation: r1 < 0 but Σr²/(n-l) small at
    // even lags... alternation actually gives large |r| at every lag.
    // White-ish: small residue pattern with period co-prime to lags
    val white = (0 until 200).map(t =>
      ("k2", t.toLong, ((t * 37) % 101).toDouble))
    val out = TimeSeries.ljungBox(
      (trend ++ white).toDF("k", "t", "v"), "k", "t", "v", maxLag = 6)
      .collect().map(r => r.getAs[String]("key") -> r).toMap
    assert(out("k1").getAs[Long]("n_lags_used") == 6L)
    assert(out("k1").getAs[Long]("q_milli") >
      out("k2").getAs[Long]("q_milli") * 5, s"${out("k1")} ${out("k2")}")
    // a 3-point series can only use lags 1..2
    val short = Seq(("k3", 0L, 1.0), ("k3", 1L, 5.0), ("k3", 2L, 2.0))
    val o2 = TimeSeries.ljungBox(
      short.toDF("k", "t", "v"), "k", "t", "v", maxLag = 6).collect()
    assert(o2.forall(_.getAs[Long]("n_lags_used") <= 2L))
  }

  test("runsTest: clumped sequence negative z, alternating positive, one-value NULL") {
    val spark2 = spark
    import spark2.implicits._
    // 50 trues then 50 falses: R = 2, maximal clumping
    val clumped = (0 until 100).map(t => ("c", t.toLong, t < 50))
    val rc = TimeSeries.runsTest(
      clumped.toDF("k", "t", "x"), "k", "t", "x").collect()(0)
    assert(rc.getAs[Long]("runs") == 2L)
    assert(rc.getAs[Long]("z_milli") < -5000L && rc.getAs[Boolean]("clumped"))
    // perfect alternation: R = n, too many runs, z strongly positive
    val alt = (0 until 100).map(t => ("a", t.toLong, t % 2 == 0))
    val ra = TimeSeries.runsTest(
      alt.toDF("k", "t", "x"), "k", "t", "x").collect()(0)
    assert(ra.getAs[Long]("runs") == 100L)
    assert(ra.getAs[Long]("z_milli") > 5000L && !ra.getAs[Boolean]("clumped"))
    val mono = (0 until 20).map(t => ("m", t.toLong, true))
    val rm = TimeSeries.runsTest(
      mono.toDF("k", "t", "x"), "k", "t", "x").collect()(0)
    assert(rm.isNullAt(rm.fieldIndex("z_milli")) &&
      rm.isNullAt(rm.fieldIndex("clumped")))
  }

  test("bowkerSymmetry: symmetric zero, directional drift positive, cap trips") {
    val spark2 = spark
    import spark2.implicits._
    val sym = (0 until 30).flatMap(_ => Seq(("a", "b"), ("b", "a"))) ++
      (0 until 50).map(_ => ("a", "a"))
    val r0 = Eval.bowkerSymmetry(sym.toDF("x", "y"), "x", "y").collect()(0)
    assert(r0.getAs[Long]("chi2_micro") == 0L &&
      r0.getAs[Long]("df_pairs") == 1L)
    assert(r0.getAs[Long]("n_offdiag") == 60L)
    // everything flows a -> b, nothing back: (60-0)^2/60 = 60
    val drift = (0 until 60).map(_ => ("a", "b")) ++
      (0 until 50).map(_ => ("c", "c"))
    val r1 = Eval.bowkerSymmetry(drift.toDF("x", "y"), "x", "y").collect()(0)
    assert(r1.getAs[Long]("chi2_micro") == 60000000L, r1.toString)
    assert(r1.getAs[Long]("n_categories") == 3L)
    intercept[IllegalArgumentException] {
      Eval.bowkerSymmetry(
        (0 until 40).map(i => (s"a$i", s"b$i")).toDF("x", "y"),
        "x", "y", maxCells = 10L)
    }
  }

  test("cohensD: one-SD shift is large, tiny shift negligible, constant arms NULL") {
    val spark2 = spark
    import spark2.implicits._
    // arm_a alternates 0/1 (sd ~0.5), arm_b is arm_a + 1 -> d ~ 2
    val big = (0 until 200).map(i => ("arm_a", (i % 2).toDouble)) ++
      (0 until 200).map(i => ("arm_b", (i % 2) + 1.0))
    val r0 = Causal.cohensD(big.toDF("g", "v"), "g", "v").collect()(0)
    assert(r0.getAs[Long]("diff_micro") == -1000000L)
    assert(math.abs(r0.getAs[Long]("d_milli") + 2000L) < 20L, r0.toString)
    assert(r0.getAs[String]("magnitude") == "large")
    // Hedges g shrinks |d| toward 0 (correction < 1)
    assert(math.abs(r0.getAs[Long]("g_milli")) <
      math.abs(r0.getAs[Long]("d_milli")))
    val tiny = (0 until 200).map(i => ("arm_a", (i % 2).toDouble)) ++
      (0 until 200).map(i => ("arm_b", (i % 2) + 0.05))
    val r1 = Causal.cohensD(tiny.toDF("g", "v"), "g", "v").collect()(0)
    assert(r1.getAs[String]("magnitude") == "negligible")
    val const = Seq(("arm_a", 5.0), ("arm_a", 5.0), ("arm_b", 5.0),
      ("arm_b", 5.0))
    val r2 = Causal.cohensD(const.toDF("g", "v"), "g", "v").collect()(0)
    assert(r2.isNullAt(r2.fieldIndex("d_milli")) &&
      r2.isNullAt(r2.fieldIndex("magnitude")))
    intercept[IllegalArgumentException] {
      Causal.cohensD(Seq(("only", 1.0)).toDF("g", "v"), "g", "v")
    }
  }

  test("krippendorffAlpha: perfect agreement 1e6, systematic disagreement negative, singletons drop") {
    val spark2 = spark
    import spark2.implicits._
    // 10 units, 2-4 raters each, all agreeing; labels vary across units
    val perfect = (0 until 10).flatMap { u =>
      (0 until 2 + u % 3).map(r => (s"u$u", s"r$r", s"L${u % 3}"))
    }
    val r0 = Eval.krippendorffAlpha(
      perfect.toDF("u", "r", "l"), "u", "r", "l").collect()(0)
    assert(r0.getAs[Long]("n_units") == 10L &&
      r0.getAs[Long]("n_dropped") == 0L)
    assert(r0.getAs[Long]("alpha_micro") == 1000000L, r0.toString)
    // every unit = {a, b}: hand value 1e6 - (n-1)*S/(n^2 - sum nc^2)
    // = 1e6 - 19*2e7/200 = -900000
    val opposed = (0 until 10).flatMap(u =>
      Seq((s"u$u", "r0", "a"), (s"u$u", "r1", "b")))
    val r1 = Eval.krippendorffAlpha(
      opposed.toDF("u", "r", "l"), "u", "r", "l").collect()(0)
    assert(r1.getAs[Long]("alpha_micro") == -900000L, r1.toString)
    // a single-rating unit is excluded and counted
    val withSingleton = perfect ++ Seq(("uX", "r0", "L9"))
    val r2 = Eval.krippendorffAlpha(
      withSingleton.toDF("u", "r", "l"), "u", "r", "l").collect()(0)
    assert(r2.getAs[Long]("n_units") == 10L &&
      r2.getAs[Long]("n_dropped") == 1L)
    // one label everywhere: D_e = 0 -> NULL
    val oneLabel = (0 until 5).flatMap(u =>
      Seq((s"u$u", "r0", "same"), (s"u$u", "r1", "same")))
    val r3 = Eval.krippendorffAlpha(
      oneLabel.toDF("u", "r", "l"), "u", "r", "l").collect()(0)
    assert(r3.isNullAt(r3.fieldIndex("alpha_micro")))
  }

  test("coxStuart: monotone rise all pairs up, fall mirrors, flat NULL, odd middle drops") {
    val spark2 = spark
    import spark2.implicits._
    val rise = (0 until 10).map(t => ("k", t.toLong, t.toLong * 10))
    val r0 = TimeSeries.coxStuart(
      rise.toDF("k", "t", "v"), "k", "t", "v").collect()(0)
    assert(r0.getAs[Long]("n_pairs") == 5L &&
      r0.getAs[Long]("n_rise") == 5L && r0.getAs[Long]("n_fall") == 0L)
    assert(r0.getAs[Long]("z_milli") == 2236L &&    // 5/sqrt(5)
      r0.getAs[Boolean]("trending"))
    val fall = rise.map { case (k, t, v) => (k, t, -v) }
    val r1 = TimeSeries.coxStuart(
      fall.toDF("k", "t", "v"), "k", "t", "v").collect()(0)
    assert(r1.getAs[Long]("z_milli") == -2237L)    // floor(-2236.07)
    val flat = (0 until 10).map(t => ("k", t.toLong, 7L))
    val r2 = TimeSeries.coxStuart(
      flat.toDF("k", "t", "v"), "k", "t", "v").collect()(0)
    assert(r2.isNullAt(r2.fieldIndex("z_milli")) &&
      r2.isNullAt(r2.fieldIndex("trending")))
    // odd length: 11 points -> 5 pairs, middle (rank 6) unused
    val odd = (0 until 11).map(t => ("k", t.toLong, t.toLong))
    val r3 = TimeSeries.coxStuart(
      odd.toDF("k", "t", "v"), "k", "t", "v").collect()(0)
    assert(r3.getAs[Long]("n") == 11L && r3.getAs[Long]("n_pairs") == 5L)
  }

  test("designEffect: equal weights deff 1e6 / ess n*1000, dominant weight inflates, nonpos counted") {
    val spark2 = spark
    import spark2.implicits._
    val equal = (0 until 40).map(i => ("s1", 2.5))
    val r0 = Sampling.designEffect(
      equal.toDF("s", "w"), "s", "w").collect()(0)
    assert(r0.getAs[Long]("deff_micro") == 1000000L &&
      r0.getAs[Long]("ess_milli") == 40000L)
    // weights 1,1,1,1,96: deff = 5*9220e12*1e6/(100e6)^2 = 4.61e6
    val skewed = Seq(1.0, 1.0, 1.0, 1.0, 96.0).map(w => ("s2", w))
    val r1 = Sampling.designEffect(
      skewed.toDF("s", "w"), "s", "w").collect()(0)
    assert(r1.getAs[Long]("deff_micro") == 4610000L, r1.toString)
    assert(r1.getAs[Long]("max_w_share_micro") == 960000L)
    assert(r1.getAs[Long]("ess_milli") == 1084L)    // 100^2*1000/9220
    val withBad = skewed ++ Seq(("s2", 0.0), ("s2", -3.0))
    val r2 = Sampling.designEffect(
      withBad.toDF("s", "w"), "s", "w").collect()(0)
    assert(r2.getAs[Long]("n") == 5L && r2.getAs[Long]("n_nonpos") == 2L)
    assert(r2.getAs[Long]("deff_micro") == 4610000L) // nonpos excluded
  }

  test("grubbsOutliers: planted outlier is rank 1 with the max z; ties break by id") {
    val spark2 = spark
    import spark2.implicits._
    val df = ((0 until 100).map(i => (i.toLong, (i % 10).toDouble)) :+
      (999L, 500.0)).toDF("id", "v")
    val out = Features.grubbsOutliers(df, "id", "v", k = 5)
      .orderBy("rank").collect()
    assert(out.length == 5)
    assert(out(0).getAs[Long]("id") == 999L &&
      out(0).getAs[Long]("rank") == 1L)
    assert(out(0).getAs[Long]("z_milli") > 5000L, out(0).toString)
    assert(out(0).getAs[Long]("z_milli") >= out(1).getAs[Long]("z_milli"))
    // equal deviations (v=0 rows) rank by ascending id
    val zeroIds = out.filter(_.getAs[Long]("value_micro") == 0L)
      .map(_.getAs[Long]("id"))
    assert(zeroIds.sameElements(zeroIds.sorted))
  }

  test("moodsMedian: perfect separation chi2=n, proportional groups exactly 0, degenerate NULL") {
    val spark2 = spark
    import spark2.implicits._
    // g2 entirely above g1: chi-square = n exactly (and the integer
    // algebra is exact here: 4 cells of 1e6*200*100^2/(100*100))
    val sep = (0 until 100).map(_ => ("g1", 0.0)) ++
      (0 until 100).map(_ => ("g2", 10.0))
    val r0 = Features.moodsMedian(sep.toDF("g", "v"), "g", "v").collect()(0)
    assert(r0.getAs[Long]("n_above") == 100L)
    assert(r0.getAs[Long]("chi2_micro") == 200000000L, r0.toString)
    // identical distributions: every cell equals its expectation -> 0
    val same = (0 until 2).flatMap(g =>
      (0 until 100).map(i => (s"g$g", (i % 10).toDouble)))
    val r1 = Features.moodsMedian(same.toDF("g", "v"), "g", "v").collect()(0)
    assert(r1.getAs[Long]("chi2_micro") == 0L, r1.toString)
    // all values identical: nobody above the median -> NULL
    val const = (0 until 40).map(i => (s"g${i % 2}", 5.0))
    val r2 = Features.moodsMedian(const.toDF("g", "v"), "g", "v").collect()(0)
    assert(r2.isNullAt(r2.fieldIndex("chi2_micro")))
    val single = (0 until 10).map(i => ("only", i.toDouble))
    val r3 = Features.moodsMedian(
      single.toDF("g", "v"), "g", "v").collect()(0)
    assert(r3.isNullAt(r3.fieldIndex("chi2_micro")))
  }

  test("durbinWatson: alternation ~4, constant 0, zero series NULL") {
    val spark2 = spark
    import spark2.implicits._
    // +a/-a alternation: num = (n-1)*4a^2, den = n*a^2 -> 3.96 at n=100
    val alt = (0 until 100).map(t =>
      ("k", t.toLong, if (t % 2 == 0) 3.0 else -3.0))
    val r0 = TimeSeries.durbinWatson(
      alt.toDF("k", "t", "v"), "k", "t", "v").collect()(0)
    assert(r0.getAs[Long]("dw_milli") == 3960L, r0.toString)
    val const = (0 until 50).map(t => ("k", t.toLong, 7.0))
    val r1 = TimeSeries.durbinWatson(
      const.toDF("k", "t", "v"), "k", "t", "v").collect()(0)
    assert(r1.getAs[Long]("dw_milli") == 0L)
    val zero = (0 until 50).map(t => ("k", t.toLong, 0.0))
    val r2 = TimeSeries.durbinWatson(
      zero.toDF("k", "t", "v"), "k", "t", "v").collect()(0)
    assert(r2.isNullAt(r2.fieldIndex("dw_milli")))
  }

  test("cramerVonMises: disjoint arms significant, identical arms ~0, caps and 2-group require loud") {
    val spark2 = spark
    import spark2.implicits._
    // disjoint supports: F1 and F2 never overlap -> T near its max
    val disjoint = (0 until 100).map(i => ("arm_a", (i % 10).toDouble)) ++
      (0 until 100).map(i => ("arm_b", (i % 10) + 100.0))
    val r0 = Features.cramerVonMises(
      disjoint.toDF("g", "v"), "g", "v").collect()(0)
    assert(r0.getAs[Long]("t_micro") > 461000L &&
      r0.getAs[Boolean]("significant"), r0.toString)
    // identical distributions: every pooled gap is 0 -> T = 0 exactly
    val same = (0 until 2).flatMap(a =>
      (0 until 100).map(i => (s"arm_$a", (i % 10).toDouble)))
    val r1 = Features.cramerVonMises(
      same.toDF("g", "v"), "g", "v").collect()(0)
    assert(r1.getAs[Long]("t_micro") == 0L && !r1.getAs[Boolean]("significant"))
    intercept[IllegalArgumentException] {
      Features.cramerVonMises(
        Seq(("only", 1.0)).toDF("g", "v"), "g", "v")
    }
    intercept[IllegalArgumentException] {
      Features.cramerVonMises(disjoint.toDF("g", "v"), "g", "v",
        maxRows = 10L)
    }
  }

  test("tostEquivalence: identical arms equivalent, delta-exceeding shift not, degenerate NULL") {
    val spark2 = spark
    import spark2.implicits._
    val base = (0 until 100).map(i => (10.0 + i % 2))
    val same = base.map(("arm_a", _)) ++ base.map(("arm_b", _))
    val r0 = Causal.tostEquivalence(
      same.toDF("g", "v"), "g", "v", deltaMicro = 2000000L).collect()(0)
    assert(r0.getAs[Long]("diff_micro") == 0L)
    assert(r0.getAs[Boolean]("equivalent"), r0.toString)
    assert(r0.getAs[Long]("z_lower_milli") ==
      r0.getAs[Long]("z_upper_milli"))    // symmetric at zero diff
    // arm_b shifted by 5 > delta=2: the upper test must fail
    val shifted = base.map(("arm_a", _)) ++ base.map(x => ("arm_b", x + 5.0))
    val r1 = Causal.tostEquivalence(
      shifted.toDF("g", "v"), "g", "v", deltaMicro = 2000000L).collect()(0)
    assert(r1.getAs[Long]("diff_micro") == -5000000L)
    assert(r1.getAs[Long]("z_lower_milli") < 0L &&    // (d + 2) < 0 at d = -5
      !r1.getAs[Boolean]("equivalent"), r1.toString)
    // but a generous delta=10 declares the same shift equivalent
    val r2 = Causal.tostEquivalence(
      shifted.toDF("g", "v"), "g", "v", deltaMicro = 10000000L).collect()(0)
    assert(r2.getAs[Boolean]("equivalent"), r2.toString)
    val const = Seq(("arm_a", 5.0), ("arm_a", 5.0), ("arm_b", 5.0),
      ("arm_b", 5.0))
    val r3 = Causal.tostEquivalence(
      const.toDF("g", "v"), "g", "v", deltaMicro = 1000000L).collect()(0)
    assert(r3.isNullAt(r3.fieldIndex("equivalent")))
    intercept[IllegalArgumentException] {
      Causal.tostEquivalence(same.toDF("g", "v"), "g", "v", 0L)
    }
  }

  test("rateRatioTest: exact 2x ratio, hand z, zero-count NULL, degenerate exposure loud") {
    val spark2 = spark
    import spark2.implicits._
    // both arms span exactly 1000 ms; 100 vs 50 events
    val a = Seq(("arm_a", 0L, false), ("arm_a", 1000L, false)) ++
      (0 until 100).map(_ => ("arm_a", 500L, true))
    val b = Seq(("arm_b", 0L, false), ("arm_b", 1000L, false)) ++
      (0 until 50).map(_ => ("arm_b", 500L, true))
    val r0 = Causal.rateRatioTest(
      (a ++ b).toDF("g", "t", "e"), "g", "t", "e").collect()(0)
    assert(r0.getAs[Long]("n_events_a") == 100L &&
      r0.getAs[Long]("n_events_b") == 50L)
    assert(r0.getAs[Long]("exposure_ms_a") == 1000L)
    assert(r0.getAs[Long]("rate_ratio_micro") == 2000000L, r0.toString)
    // z = ln 2 / sqrt(1/100 + 1/50) = 4.0019 -> 4001 milli
    assert(r0.getAs[Long]("z_milli") == 4001L, r0.toString)
    assert(r0.getAs[Boolean]("significant"))
    // zero-count arm: exact counts reported, z NULL
    val b0 = Seq(("arm_b", 0L, false), ("arm_b", 1000L, false))
    val r1 = Causal.rateRatioTest(
      (a ++ b0).toDF("g", "t", "e"), "g", "t", "e").collect()(0)
    assert(r1.getAs[Long]("n_events_b") == 0L &&
      r1.isNullAt(r1.fieldIndex("z_milli")))
    intercept[IllegalArgumentException] {
      Causal.rateRatioTest(
        (a ++ Seq(("arm_b", 7L, true))).toDF("g", "t", "e"), "g", "t", "e")
    }
  }

  test("termBurstiness: clumped term out-ranks uniform term of equal cf; minDf filters") {
    val spark2 = spark
    import spark2.implicits._
    // 10 docs; "uni" once per doc (cf=10, Poisson-flat); "burst" 10 times
    // in one doc (cf=10, maximal clumping); "rare" in 2 docs only
    val docs = (0 until 10).map { d =>
      val burst = if (d == 0) (" burst" * 10) else ""
      val rare = if (d < 2) " rare" else ""
      (d.toLong, s"uni$burst$rare filler$d")
    }
    val out = Corpus.termBurstiness(
      docs.toDF("id", "text"), "id", "text", minDf = 2L, k = 20)
      .collect().map(r => r.getAs[String]("term") -> r).toMap
    assert(!out.contains("filler0") && !out.contains("burst")) // df < minDf
    assert(out.contains("uni") && out.contains("rare"))
    // minDf=1 keeps the clumped term so dispersion compares directly
    val out1 = Corpus.termBurstiness(
      docs.toDF("id", "text"), "id", "text", minDf = 1L, k = 20)
      .collect().map(r => r.getAs[String]("term") -> r).toMap
    assert(out1("burst").getAs[Long]("cf") == 10L &&
      out1("uni").getAs[Long]("cf") == 10L)
    // uniform: every doc exactly 1 → variance 0 → VMR 0
    assert(out1("uni").getAs[Long]("vmr_micro") == 0L)
    assert(out1("burst").getAs[Long]("vmr_micro") > 8000000L)
    assert(out1("burst").getAs[Long]("repeat_micro") == 10000000L)
    assert(out1("burst").getAs[Long]("rank") <
      out1("uni").getAs[Long]("rank"))
  }

  test("kuiper: identical arms 0, disjoint arms 1e6, rotation seen where KS shrinks") {
    def kuip(a: Seq[Double], b: Seq[Double]) = Features.kuiperTwoSample(
      (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v"), "g", "v")
      .collect()(0)
    val same = kuip(Seq(1, 2, 3), Seq(1, 2, 3))
    assert(same.getAs[Long]("v_micro") == 0L && !same.getAs[Boolean]("significant"))
    val disj = kuip(Seq(1, 2), Seq(3, 4))
    assert(disj.getAs[Long]("v_micro") == 1000000L)
    // wrap-around shape (the cyclic case): b brackets a, so the ECDF
    // gap runs NEGATIVE first (+1/2 for b at v=1) then POSITIVE (+1/2
    // for a at v=3) — KS sees only the worse half, V adds both
    val ha = Seq[Double](2, 3)
    val hb = Seq[Double](1, 4)
    val v = kuip(ha, hb)
    val ks = Features.ksTestTwoSample(
      (ha.map(("a", _)) ++ hb.map(("b", _))).toDF("g", "v"), "g", "v")
      .collect()(0)
    assert(v.getAs[Long]("v_micro") == 2 * ks.getAs[Long]("d_micro"), v.toString)
  }

  test("energyDistance: identical arms exactly 0, point masses exact, brute parity") {
    def en(a: Seq[Double], b: Seq[Double]) = Features.energyDistance(
      (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v"), "g", "v")
      .collect()(0)
    val same = en(Seq(1, 2, 5), Seq(1, 2, 5))
    assert(same.getAs[Long]("e2_micro") == 0L, same.toString)
    // point masses at 0 and 10: E|X-Y|=10, within-terms 0
    val pm = en(Seq(0, 0), Seq(10, 10))
    assert(pm.getAs[Long]("m_ab_micro") == 10000000L &&
      pm.getAs[Long]("m_aa_micro") == 0L &&
      pm.getAs[Long]("e2_micro") == 20000000L)
    // brute-force parity on random data (micro ints, ordered pairs)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 50)
      val a = Seq.fill(rnd.nextInt(20) + 5)(rnd.nextInt(200) / 10.0 - 5.0)
      val b = Seq.fill(rnd.nextInt(20) + 5)(rnd.nextInt(200) / 10.0 - 5.0)
      def mic(x: Double) = math.floor(x * 1e6).toLong
      def sAbs(x: Seq[Double], y: Seq[Double]) =
        (for (i <- x; j <- y) yield math.abs(mic(i) - mic(j))).map(BigInt(_)).sum
      val mab = (sAbs(a, b) / (BigInt(a.size) * b.size)).toLong
      val maa = (sAbs(a, a) / (BigInt(a.size) * a.size)).toLong
      val mbb = (sAbs(b, b) / (BigInt(b.size) * b.size)).toLong
      val got = en(a, b)
      assert(got.getAs[Long]("m_ab_micro") == mab &&
        got.getAs[Long]("m_aa_micro") == maa &&
        got.getAs[Long]("m_bb_micro") == mbb &&
        got.getAs[Long]("e2_micro") == 2 * mab - maa - mbb, s"seed=$seed")
    }
  }

  test("hodgesLehmann: hand medians, lower-median convention, cap loud") {
    def hl(a: Seq[Double], b: Seq[Double]) = Features.hodgesLehmannShift(
      (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v"), "g", "v")
      .collect()(0)
    // diffs {1,2,3} -> median 2
    assert(hl(Seq(1, 2, 3), Seq(0)).getAs[Long]("hl_micro") == 2000000L)
    // even count: diffs {1,3} -> LOWER median 1
    assert(hl(Seq(1, 3), Seq(0)).getAs[Long]("hl_micro") == 1000000L)
    // pure shift: HL recovers it exactly
    assert(hl(Seq(1, 2, 3, 4), Seq(0.5, 1.5, 2.5, 3.5))
      .getAs[Long]("hl_micro") == 500000L)
    // brute parity on random data
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 60)
      val a = Seq.fill(rnd.nextInt(15) + 3)(rnd.nextInt(100) / 10.0)
      val b = Seq.fill(rnd.nextInt(15) + 3)(rnd.nextInt(100) / 10.0)
      def mic(x: Double) = math.floor(x * 1e6).toLong
      val diffs = (for (i <- a; j <- b) yield mic(i) - mic(j)).sorted
      val want = diffs((diffs.size + 1) / 2 - 1)
      assert(hl(a, b).getAs[Long]("hl_micro") == want, s"seed=$seed")
    }
    intercept[IllegalArgumentException] {
      Features.hodgesLehmannShift(
        (Seq.tabulate(40)(i => ("a", i / 7.0)) ++
          Seq.tabulate(40)(i => ("b", i / 11.0))).toDF("g", "v"),
        "g", "v", maxCells = 100L)
    }
  }

  test("andersonDarling: hand value on disjoint arms, brute parity with a-first ties") {
    def ad(a: Seq[Double], b: Seq[Double]) = Features.andersonDarlingTwoSample(
      (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v"), "g", "v")
      .collect()(0)
    // {1,2} vs {3,4}: term sum 6,666,666 over i=1..3 -> ad 1,666,666
    assert(ad(Seq(1, 2), Seq(3, 4)).getAs[Long]("ad_micro") == 1666666L)
    // brute parity: replay Pettitt's sum with the (value, a-first) order
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 80)
      val a = Seq.fill(rnd.nextInt(20) + 5)(rnd.nextInt(30) / 2.0)
      val b = Seq.fill(rnd.nextInt(20) + 5)(rnd.nextInt(30) / 2.0)
      def mic(x: Double) = math.floor(x * 1e6).toLong
      val pooled = (a.map(x => (mic(x), 0)) ++ b.map(x => (mic(x), 1)))
        .sortBy(identity)
      val na = a.size.toLong; val nT = pooled.size.toLong
      var m = 0L; var s = BigInt(0)
      pooled.zipWithIndex.dropRight(1).foreach { case ((_, grp), idx) =>
        val i = idx + 1L
        if (grp == 0) m += 1
        val u = BigInt(m * nT - na * i)
        s += u * u * 1000000 / (BigInt(i) * (nT - i))
      }
      val want = (s / (BigInt(na) * (nT - na))).toLong
      assert(ad(a, b).getAs[Long]("ad_micro") == want, s"seed=$seed")
    }
  }

  test("pageHinkley: level shift alarms at the shift, flat series does not") {
    def ph(vals: Seq[Double], lambda: Long) = TimeSeries.pageHinkley(
      vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
        .toDF("k", "b", "v"), "k", "b", "v", lambdaMicro = lambda)
      .collect()(0)
    val flat = ph(Seq.fill(10)(5.0), 1000000L)
    assert(flat.getAs[Long]("ph_micro") == 0L && !flat.getAs[Boolean]("alarmed"))
    // jump from 0 to 10 at bucket 5: excursion grows ~ (10 - mean)·steps
    val jump = ph(Seq(0, 0, 0, 0, 0, 10, 10, 10, 10, 10).map(_.toDouble), 8000000L)
    assert(jump.getAs[Boolean]("alarmed") &&
      jump.getAs[Long]("alarm_bucket") >= 5L, jump.toString)
    // scalar replay of the exact integer recurrence
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 30)
      val vals = Seq.fill(rnd.nextInt(30) + 5)(rnd.nextInt(400) / 10.0 - 20.0)
      def mic(x: Double) = math.floor(x * 1e6).toLong
      var s = BigInt(0); var mcum = BigInt(0); var minm = BigInt(0)
      var phMax = BigInt(0)
      vals.zipWithIndex.foreach { case (v, i) =>
        s += mic(v)
        val t = i + 1
        val mean = if (s >= 0) s / t else -((-s) / t)
        mcum += BigInt(mic(v)) - mean
        if (mcum < minm) minm = mcum
        val exc = mcum - minm
        if (exc > phMax) phMax = exc
      }
      assert(ph(vals, Long.MaxValue / 2).getAs[Long]("ph_micro") == phMax.toLong,
        s"seed=$seed")
    }
  }

  test("seasonalStrength: perfect cycle 1e6, phase-blind 0, constant NULL") {
    def ss(vals: Seq[Double], period: Int) = TimeSeries.seasonalStrength(
      vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
        .toDF("k", "b", "v"), "k", "b", "v", period)
      .collect()(0)
    // alternating 0/10: phase means explain everything
    val perfect = ss(Seq(0, 10, 0, 10, 0, 10).map(_.toDouble), 2)
    assert(perfect.getAs[Long]("strength_micro") == 1000000L, perfect.toString)
    // same multiset in every phase: within == total, strength 0
    val blind = ss(Seq(0, 0, 10, 10).map(_.toDouble), 2)
    assert(blind.getAs[Long]("strength_micro") == 0L, blind.toString)
    // constant series: no variance to explain
    assert(ss(Seq.fill(8)(3.0), 4).isNullAt(3))
    // scalar replay (exact hi/rem floor arithmetic) on random series, and
    // on a ±3e9 cycle whose ss_t − ss_w ≈ 3.6e32 makes the old one-step
    // (ss_t − ss_w)·10⁶ overflow decimal(38,0)
    val random = (1 to 3).map { seed =>
      val rnd = new scala.util.Random(seed + 20)
      val period = rnd.nextInt(4) + 2
      (seed, period, Seq.fill(rnd.nextInt(30) + period * 2)(rnd.nextInt(200) / 10.0))
    }
    val huge = (4, 2, (0 until 40).map(i => (if (i % 2 == 0) 3e9 else -3e9) + i * 7919 % 1000))
    for ((seed, period, vals) <- random :+ huge) {
      def mic(x: Double) = math.floor(x * 1e6).toLong
      val byPhase = vals.zipWithIndex.groupBy(_._2 % period)
      val q = vals.map(v => BigInt(mic(v)) * mic(v)).sum
      val s = vals.map(v => BigInt(mic(v))).sum
      val n = vals.size
      val w = byPhase.values.map { vs =>
        val sp = vs.map(p => BigInt(mic(p._1))).sum
        sp * sp / vs.size
      }.sum
      val t = q - s * s / n
      val num = w - s * s / n
      val want: Any =
        if (t <= 0) null
        else if (num >= 0) (num * 1000000 / t).toLong
        else -((-num) * 1000000 / t).toLong
      val got = ss(vals, period)
      val gotV: Any = if (got.isNullAt(3)) null else got.getLong(3)
      assert(gotV == want, s"seed=$seed")
    }
  }

  test("seasonalMannKendall: within-phase trend pools, delimiter key rejected") {
    // phase-coded seasonal series with a trend INSIDE each phase:
    // v = 100·phase + cycle — every within-phase pair concordant
    val period = 3
    val cycles = 5
    val rows = for (c <- 0 until cycles; p <- 0 until period)
      yield ("k", (c * period + p).toLong, (100 * p + c).toDouble)
    val out = TimeSeries.seasonalMannKendall(
      rows.toDF("k", "b", "v"), "k", "b", "v", period)
      .collect()(0)
    // S = 3 phases × C(5,2) = 30, no ties: Var = 3·(5·4·15)/18 units
    assert(out.getAs[Long]("n") == 15L && out.getAs[Long]("n_phases") == 3L)
    assert(out.getAs[Long]("s_stat") == 30L, out.toString)
    assert(out.getAs[Long]("var_s_x18") == 3L * 5 * 4 * 15, out.toString)
    assert(out.getAs[Boolean]("trending"), out.toString)
    // the composite-key delimiter must be rejected in key values
    intercept[IllegalArgumentException] {
      TimeSeries.seasonalMannKendall(
        Seq(("badkey", 1L, 1.0)).toDF("k", "b", "v"),
        "k", "b", "v", period = 2).collect()
    }
  }

  test("partialCorrelation: collinear NULL, confounder removal, scalar replay") {
    def pc(rows: Seq[(Double, Double, Double)]) = Features.partialCorrelation(
      rows.toDF("x", "y", "z"), "x", "y", "z").collect()(0)
    // x == z exactly: (1 - rxz²) = 0 -> partial NULL, marginals intact
    val coll = pc(Seq((1, 1, 1), (2, 3, 2), (3, 2, 3), (4, 5, 4)))
    assert(coll.getAs[Long]("r_xz_milli") == 1000L && coll.isNullAt(4))
    // x and y both driven by z, no residual link: partial ~ 0 while
    // the raw correlation is strong
    val conf = pc(Seq(
      (1.0, 1.1, 1.0), (2.0, 1.9, 2.0), (3.0, 3.1, 3.0), (4.0, 3.9, 4.0),
      (1.1, 0.9, 1.0), (2.1, 2.1, 2.0), (2.9, 2.9, 3.0), (3.9, 4.1, 4.0)))
    assert(conf.getAs[Long]("r_xy_milli") > 900L)
    assert(math.abs(conf.getAs[Long]("partial_r_milli")) < 600L, conf.toString)
    // scalar replay of the exact double tree
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 10)
      val rows = Seq.fill(rnd.nextInt(30) + 10)(
        (rnd.nextInt(100) / 10.0, rnd.nextInt(100) / 10.0, rnd.nextInt(100) / 10.0))
      def mic(v: Double) = math.floor(v * 1e6).toLong
      val xs = rows.map(r => mic(r._1)); val ys = rows.map(r => mic(r._2))
      val zs = rows.map(r => mic(r._3))
      val n = rows.size
      def d(a: Seq[Long], b: Seq[Long]) =
        BigInt(n) * a.zip(b).map(p => BigInt(p._1) * p._2).sum -
          a.map(BigInt(_)).sum * b.map(BigInt(_)).sum
      val (dxx, dyy, dzz) = (d(xs, xs), d(ys, ys), d(zs, zs))
      val (dxy, dxz, dyz) = (d(xs, ys), d(xs, zs), d(ys, zs))
      val rxy = dxy.toDouble / math.sqrt(dxx.toDouble * dyy.toDouble)
      val rxz = dxz.toDouble / math.sqrt(dxx.toDouble * dzz.toDouble)
      val ryz = dyz.toDouble / math.sqrt(dyy.toDouble * dzz.toDouble)
      val want: Any =
        if (dxx <= 0 || dyy <= 0 || dzz <= 0 ||
          (1.0 - rxz * rxz) * (1.0 - ryz * ryz) <= 0) null
        else math.floor(1000.0 * (rxy - rxz * ryz) /
          math.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))).toLong
      val got = pc(rows)
      val gotV: Any = if (got.isNullAt(4)) null else got.getLong(4)
      assert(gotV == want, s"seed=$seed")
    }
  }

  test("chowTest: stable line low F, slope flip high F, perfect fits NULL") {
    def chow(rows: Seq[(String, Double, Double, Boolean)]) = Features.chowTest(
      rows.toDF("k", "x", "y", "post"), "k", "x", "y", "post")
      .collect().map(r => r.getString(0) -> r).toMap
    val rnd = new scala.util.Random(7)
    def noisy(f: Double => Double, xs: Seq[Double]) =
      xs.map(x => (x, f(x) + rnd.nextInt(11) / 100.0 - 0.05))
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 5.0)
    val stable =
      noisy(x => 2 * x, xs).map { case (x, y) => ("stable", x, y, false) } ++
      noisy(x => 2 * x, xs).map { case (x, y) => ("stable", x, y, true) }
    val break0 =
      noisy(x => 2 * x, xs).map { case (x, y) => ("brk", x, y, false) } ++
      noisy(x => -2 * x + 20, xs).map { case (x, y) => ("brk", x, y, true) }
    val out = chow(stable ++ break0)
    val fStable = out("stable").getAs[Long]("f_milli")
    val fBreak = out("brk").getAs[Long]("f_milli")
    assert(out("brk").getAs[Long]("n_pre") == 5L &&
      out("brk").getAs[Long]("n_post") == 5L)
    assert(fBreak > 10 * math.max(fStable, 1L), s"stable=$fStable brk=$fBreak")
    // perfect fits on both sides: SSR_1 + SSR_2 = 0 -> NULL by contract
    val perfect = Seq.tabulate(4)(i => ("p", i.toDouble, 2.0 * i, false)) ++
      Seq.tabulate(4)(i => ("p", i.toDouble, 5.0 * i, true))
    assert(chow(perfect)("p").isNullAt(3))
    // a key present in one regime only produces no row
    val only = Seq.tabulate(4)(i => ("solo", i.toDouble, 1.0 * i, false))
    assert(!chow(only ++ stable).contains("solo"))
  }

  test("captureRecapture: hand Chapman values, zero overlap defined") {
    def cr(a: Seq[Long], b: Seq[Long]) = graft.ops.Dedup.captureRecapture(
      a.toDF("id"), "id", b.toDF("id"), "id").collect()(0)
    val r = cr(1L to 50L, 26L to 75L)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((50L, 50L, 25L)))
    assert(r.getLong(3) == 51L * 51 / 26 - 1, r.toString) // = 99
    assert(r.getLong(4) == 500000L && r.getLong(5) == 500000L)
    // zero overlap: Chapman stays defined (the +1 correction)
    assert(cr(Seq(1L, 2L), Seq(3L, 4L)).getLong(3) == 8L)
    // duplicates collapse before counting
    assert(cr(Seq(1L, 1L, 2L), Seq(2L, 2L)).getLong(0) == 2L)
  }

  test("covariateBalance: balanced arms pass, shifted stratum flagged, scalar replay") {
    def cb(rows: Seq[(String, String, Double)]) = Causal.covariateBalance(
      rows.toDF("s", "g", "v"), "s", "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    // stratum "ok": identical arms; stratum "bad": arm a shifted +10
    val rows =
      (1 to 20).flatMap(i => Seq(
        ("ok", "a", i / 2.0), ("ok", "b", i / 2.0),
        ("bad", "a", i / 2.0 + 10.0), ("bad", "b", i / 2.0)))
    val out = cb(rows)
    assert(out("ok").getAs[Long]("smd_milli") == 0L &&
      out("ok").getAs[Boolean]("balanced"))
    assert(math.abs(out("bad").getAs[Long]("smd_milli")) > 1000L &&
      !out("bad").getAs[Boolean]("balanced"))
    // degenerate variance (both arms constant): NULL smd, NULL balanced
    val const = cb((1 to 5).flatMap(_ => Seq(("c", "a", 2.0), ("c", "b", 5.0))))
    assert(const("c").isNullAt(5) && const("c").isNullAt(6))
    // a stratum missing an arm produces no row
    assert(!cb(rows ++ Seq(("solo", "a", 1.0), ("solo", "a", 2.0)))
      .contains("solo"))
    // scalar replay of the double tree
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val rs = Seq.fill(40)(("s1",
        if (rnd.nextBoolean()) "a" else "b", rnd.nextInt(100) / 10.0))
      val byArm = rs.groupBy(_._2)
      if (byArm.size == 2 && byArm.values.forall(_.size >= 2)) {
        def mic(v: Double) = math.floor(v * 1e6).toLong
        def mom(g: String) = {
          val vs = byArm(g).map(r => mic(r._3))
          (vs.size.toLong, vs.map(BigInt(_)).sum,
            vs.map(v => BigInt(v) * v).sum)
        }
        val (an, as_, aq) = mom("a"); val (bn, bs, bq) = mom("b")
        val va = (aq.toDouble - as_.toDouble * as_.toDouble / an) / (an - 1)
        val vb = (bq.toDouble - bs.toDouble * bs.toDouble / bn) / (bn - 1)
        val want: Any =
          if (va + vb <= 0) null
          else math.floor(1000.0 * (as_.toDouble / an - bs.toDouble / bn) /
            math.sqrt((va + vb) / 2.0)).toLong
        val got = cb(rs)("s1")
        val gotV: Any = if (got.isNullAt(5)) null else got.getLong(5)
        assert(gotV == want, s"seed=$seed")
      }
    }
  }

  test("centroidCosineMatrix: orthogonal 0, 45-degree 707, zero vector NULL") {
    def ccm(rows: Seq[(Long, String, Seq[Double])]) =
      graft.ops.Similarity.centroidCosineMatrix(
        rows.toDF("id", "g", "vec"), "g", "vec")
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (if (r.isNullAt(4)) null else java.lang.Long.valueOf(r.getLong(4)))).toMap
    val out = ccm(Seq(
      (1L, "x", Seq(1.0, 0.0)), (2L, "x", Seq(1.0, 0.0)),
      (3L, "y", Seq(0.0, 1.0)),
      (4L, "d", Seq(1.0, 1.0)),
      (5L, "z", Seq(0.0, 0.0))))
    assert(out(("x", "y")) == 0L)
    assert(out(("d", "x")) >= 706L && out(("d", "x")) <= 708L)
    assert(out(("x", "z")) == null) // zero-vector side
    // centroid = sum direction: scaling one group's counts changes nothing
    val scaled = ccm(Seq(
      (1L, "x", Seq(1.0, 0.0)),
      (3L, "y", Seq(1.0, 2.0)), (4L, "y", Seq(1.0, 2.0)), (5L, "y", Seq(1.0, 2.0))))
    val one = ccm(Seq((1L, "x", Seq(1.0, 0.0)), (3L, "y", Seq(1.0, 2.0))))
    assert(scaled(("x", "y")) == one(("x", "y")))
    // cap is loud
    intercept[IllegalArgumentException] {
      graft.ops.Similarity.centroidCosineMatrix(
        (1 to 9).map(i => (i.toLong, s"g$i", Seq(1.0))).toDF("id", "g", "vec"),
        "g", "vec", maxGroups = 4)
    }
    // EMPTY (zero-length) vectors carry no embedding: a group whose rows
    // are all empty vanishes from the matrix, and an empty row inside a
    // live group counts toward neither n nor the sum — mirrors the
    // oracle's len(embedding) > 0 filter
    val emp = ccm(Seq(
      (1L, "x", Seq(1.0, 0.0)), (2L, "x", Seq.empty[Double]),
      (3L, "y", Seq(0.0, 1.0)),
      (4L, "e", Seq.empty[Double])))
    assert(emp.keySet == Set(("x", "y")))
    val empRows = graft.ops.Similarity.centroidCosineMatrix(
      Seq((1L, "x", Seq(1.0, 0.0)), (2L, "x", Seq.empty[Double]),
        (3L, "y", Seq(0.0, 1.0))).toDF("id", "g", "vec"), "g", "vec")
      .collect()
    assert(empRows.length == 1 && empRows.head.getLong(2) == 1L) // n_a excludes the empty row
  }

  test("multivariateOutliers: joint outlier outranks marginal ones, scalar replay") {
    // columns correlated ~y=x; row 99 is marginally ordinary in each
    // column but jointly extreme enough to top the diagonal score? No —
    // diagonal z² cannot see correlation; assert instead that the row
    // extreme in BOTH columns beats rows extreme in one
    val rows = (1 to 50).map(i => (i.toLong, (i % 10).toDouble, ((i + 3) % 10).toDouble)) ++
      Seq((98L, 40.0, 5.0), (99L, 40.0, 40.0))
    val spark2 = spark
    import spark2.implicits._
    val out = Features.multivariateOutliers(
      rows.toDF("id", "a", "b"), "id", Seq("a", "b"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.head._2 == 99L, out.toSeq.toString) // both-column outlier first
    assert(out(1)._2 == 98L, out.toSeq.toString)
    // scalar replay of the exact per-term-floored score for the top row
    def mic(x: Double) = math.floor(x * 1e6).toLong
    val n = rows.size.toLong
    def colScore(sel: ((Long, Double, Double)) => Double, v: Double): Long = {
      val vs = rows.map(r => BigInt(mic(sel(r))))
      val s = vs.sum; val q = rows.map(r => BigInt(mic(sel(r))) * mic(sel(r))).sum
      val d = BigInt(n) * q - s * s
      if (d <= 0) 0L
      else math.floor(1000000.0 *
        ((BigInt(n) * mic(v) - s) * (BigInt(n) * mic(v) - s)).toDouble /
        (n.toDouble * d.toDouble / (n - 1).toDouble)).toLong
    }
    val want99 = colScore(_._2, 40.0) + colScore(_._3, 40.0)
    assert(out.head._3 == want99, s"${out.head._3} != $want99")
  }

  test("hillTailIndex: scalar replay, equal-tail NULL, short input loud") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 40)
      // Pareto-ish sample via inverse transform on a deterministic grid
      val vals = (1 to 80).map(i =>
        math.pow(1.0 - (i - 0.5) / 80.0, -1.0 / (1.0 + seed)) * 10.0)
      val k = 10
      def mic(x: Double) = math.floor(x * 1e6).toLong
      val top = vals.map(mic).sorted.reverse.take(k + 1)
      val xk1 = top.last
      val want = top.take(k).map(x =>
        math.floor(1e6 * math.log(x.toDouble / xk1.toDouble)).toLong).sum
      val got = Features.hillTailIndex(vals.toDF("v"), "v", k = k)
        .collect()(0)
      assert(got.getLong(3) == want, s"seed=$seed")
      assert(got.getLong(4) == 10L * 1000000000L / want, s"seed=$seed")
    }
    // all-equal tail: zero information, NULL alpha
    val eq = Features.hillTailIndex(
      Seq.fill(20)(5.0).toDF("v"), "v", k = 5).collect()(0)
    assert(eq.getLong(3) == 0L && eq.isNullAt(4))
    intercept[IllegalArgumentException] {
      Features.hillTailIndex(Seq(1.0, 2.0).toDF("v"), "v", k = 5)
    }
  }

  test("yulesK: hand K, size invariance under replication") {
    val d = Seq((1L, "s1", "a a b")).toDF("id", "src", "text")
    val r = Corpus.yulesK(d, "src", "text").collect()(0)
    // tf {a:2, b:1}, N=3, S2=5: K_micro = 2e10/9
    assert((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_types"),
      r.getAs[Long]("k_micro")) == ((3L, 2L, 2222222222L)), r.toString)
    // exact replication multiplies every tf by m: K is invariant up to
    // the -N term: with m=10, K = (500-30)e10/900
    val rep = Seq.tabulate(10)(i => (i.toLong, "s1", "a a b"))
      .toDF("id", "src", "text")
    val k10 = Corpus.yulesK(rep, "src", "text").collect()(0).getAs[Long]("k_micro")
    assert(k10 == (BigInt(470) * 10000000000L / 900).toLong, k10.toString)
    // empty slice produces no row
    assert(Corpus.yulesK(
      Seq((1L, "s1", "  ")).toDF("id", "src", "text"), "src", "text")
      .count() == 0L)
  }

  test("dunnPosthoc: scalar replay on pooled midranks, tied input NULL, loud cap") {
    // groups a={1,2}, b={2,3}, c={10}: pooled sorted (1,2,2,3,10) with
    // midranks (1, 2.5, 2.5, 4, 5) → doubled (2,5,5,8,10)
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 3.0), ("c", 10.0))
      .toDF("g", "v")
    val out = Features.dunnPosthoc(df, "g", "v")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size == 3)
    val ab = out(("a", "b"))
    // mean ranks: a = (1+2.5)/2 = 1.75, b = (2.5+4)/2 = 3.25
    assert(ab.getLong(4) == 1750L && ab.getLong(5) == 3250L, ab.toString)
    // scalar replay: N=5, T=2^3-2=6,
    // V12 = N(N+1)/12 - T/(12(N-1)) = 2.5 - 0.125 = 2.375
    // z_ab = (1.75-3.25)/sqrt(2.375*(1/2+1/2)) = -0.97333...
    val zAb = math.floor(1000.0 * -1.5 / math.sqrt(2.375)).toLong
    assert(ab.getLong(6) == zAb, s"${ab.getLong(6)} vs $zAb")
    val ac = out(("a", "c"))
    // z_ac = (1.75-5)/sqrt(2.375*(1/2+1)) = -3.25/sqrt(3.5625)
    val zAc = math.floor(1000.0 * -3.25 / math.sqrt(2.375 * 1.5)).toLong
    assert(ac.getLong(6) == zAc, s"${ac.getLong(6)} vs $zAc")
    // all values tied → zero rank variance → NULL z, mean ranks equal
    val tied = Features.dunnPosthoc(
      Seq(("a", 7.0), ("a", 7.0), ("b", 7.0)).toDF("g", "v"), "g", "v")
      .collect()(0)
    assert(tied.isNullAt(6) && tied.getLong(4) == tied.getLong(5))
    // cap is loud
    intercept[IllegalArgumentException] {
      Features.dunnPosthoc(
        (1 to 9).map(i => (s"g$i", i.toDouble)).toDF("g", "v"),
        "g", "v", maxGroups = 4)
    }
  }

  test("hhiConcentration: balanced 1/k, monoculture 1, norm rescale") {
    val df = Seq(
      ("en", "s1"), ("en", "s1"), ("en", "s2"), ("en", "s2"), // balanced 2-way
      ("fr", "s1"), ("fr", "s1"), ("fr", "s1"),               // monoculture
      ("de", "s1"), ("de", "s1"), ("de", "s1"), ("de", "s2")) // 3:1 split
      .toDF("lang", "src")
    val out = Corpus.hhiConcentration(df, "lang", "src")
      .collect().map(r => r.getString(0) -> r).toMap
    val en = out("en") // HHI = (4+4)/16 = 0.5; norm = (2*8-16)/(16*1) = 0
    assert(en.getLong(1) == 4L && en.getLong(2) == 2L)
    assert(en.getLong(3) == 500000L && en.getLong(4) == 0L, en.toString)
    val fr = out("fr") // k=1: HHI = 1, norm undefined
    assert(fr.getLong(3) == 1000000L && fr.isNullAt(4), fr.toString)
    val de = out("de") // HHI = (9+1)/16 = 0.625; norm = (20-16)/16 = 0.25
    assert(de.getLong(3) == 625000L && de.getLong(4) == 250000L, de.toString)
  }

  test("isotonicCalibration: PAVA pools the violating bins, stays monotone") {
    // bins 0..3 with rates 0.2, 0.5, 0.3, 0.8 over 10 rows each:
    // PAVA pools bins 1,2 → (5+3)/20 = 0.4
    val rows = Seq(
      (0, 2), (1, 5), (2, 3), (3, 8)).flatMap { case (b, pos) =>
      (0 until 10).map(i => (i < pos, (b + 0.5) / 4.0))
    }
    val out = Eval.isotonicCalibration(
      rows.toDF("label", "score"), "label", "score", bins = 4)
      .orderBy("bin").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(out.map(_.getLong(3)).toSeq ==
      Seq(200000L, 500000L, 300000L, 800000L)) // observed rates
    assert(out.map(_.getLong(4)).toSeq ==
      Seq(200000L, 400000L, 400000L, 800000L)) // isotonic fit
    // already-monotone input is a fixed point
    val mono = Seq((0, 1), (1, 5), (2, 9)).flatMap { case (b, pos) =>
      (0 until 10).map(i => (i < pos, (b + 0.5) / 3.0))
    }
    val fix = Eval.isotonicCalibration(
      mono.toDF("label", "score"), "label", "score", bins = 3)
      .orderBy("bin").collect()
    assert(fix.forall(r => r.getLong(3) == r.getLong(4)), fix.mkString(","))
  }

  test("weightedKappa: perfect 1e6, perfect disagreement -1e6, ordinal credit, NULL chance") {
    def wk(pairs: Seq[(Long, Long)]) =
      Eval.weightedKappa(pairs.toDF("a", "b"), "a", "b").collect()(0)
    // perfect agreement on a 2-point scale
    val p = wk(Seq((0L, 0L), (0L, 0L), (1L, 1L), (1L, 1L)))
    assert(p.getLong(3) == 0L && p.getLong(5) == 1000000L, p.toString)
    // perfect disagreement on a 2-point scale: kappa_w = -1
    assert(wk(Seq((0L, 1L), (1L, 0L))).getLong(5) == -1000000L)
    // ordinal credit: a (4 vs 5) disagreement scores HIGHER than (1 vs 5)
    // against the same marginal structure
    val near = wk(Seq((4L, 5L), (5L, 4L), (1L, 1L), (2L, 2L))).getLong(5)
    val far = wk(Seq((1L, 5L), (5L, 1L), (1L, 1L), (2L, 2L))).getLong(5)
    assert(near > far, s"$near vs $far")
    // both raters constant at the same value: chance weight 0 -> NULL
    assert(wk(Seq((3L, 3L), (3L, 3L))).isNullAt(5))
    // cap is loud
    intercept[IllegalArgumentException] {
      Eval.weightedKappa(
        (1L to 9L).map(i => (i, i)).toDF("a", "b"), "a", "b",
        maxCategories = 4)
    }
  }

  test("gwetAc1: BigInt replay on the prevalence-skew case, k=1 NULL") {
    // 95 (y,y) + 1 (n,n) + 2 (y,n) + 2 (n,y): the kappa-paradox shape
    val rows = Seq.fill(95)(("y", "y")) ++ Seq(("n", "n")) ++
      Seq.fill(2)(("y", "n")) ++ Seq.fill(2)(("n", "y"))
    val r = Eval.gwetAc1(rows.toDF("a", "b"), "a", "b").collect()(0)
    assert(r.getLong(0) == 100L && r.getLong(1) == 2L && r.getLong(2) == 96L)
    assert(r.getLong(3) == 960000L) // p_o = 0.96
    // replay: m_y = 97+97 = 194, m_n = 6, S = 194*6 + 6*194 = 2328,
    // den = 4*100^2*1 = 40000 -> pe = 2328e6/40000 = 58200
    assert(r.getLong(4) == 58200L, r.toString)
    val ac1 = (BigInt(96 * 4 * 100) - 2328) * 1000000 / (40000 - 2328)
    assert(r.getLong(5) == ac1.toLong, s"${r.getLong(5)} vs $ac1")
    // one category only -> k = 1 -> NULL pe and ac1
    val one = Eval.gwetAc1(
      Seq(("y", "y"), ("y", "y")).toDF("a", "b"), "a", "b").collect()(0)
    assert(one.getLong(1) == 1L && one.isNullAt(4) && one.isNullAt(5))
  }

  test("cohensH: hand pi/2 case, two-group require is loud") {
    val rows = (1 to 10).map(i => ("arm_a", i <= 5)) ++
      (1 to 10).map(_ => ("arm_b", false))
    val r = Causal.cohensH(rows.toDF("arm", "s"), "arm", "s").collect()(0)
    // h = 2*asin(sqrt(0.5)) - 2*asin(0) = pi/2 -> floor(1000*1.5707) = 1570
    assert(r.getLong(8) == 1570L, r.toString)
    assert(r.getLong(6) == 500000L && r.getLong(7) == 0L)
    intercept[IllegalArgumentException] {
      Causal.cohensH(Seq(("only", true)).toDF("arm", "s"), "arm", "s")
    }
  }

  test("dispersionIndex: hand VMR, constant counts 0, degenerate NULL") {
    val df = Seq(("a", 0.0), ("a", 4.0), ("b", 3.0), ("b", 3.0), ("c", 1.0))
      .toDF("g", "v")
    val out = Features.dispersionIndex(df, "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a") // n=2 s=4 q=16: var = (32-16)/2 = 8, mean 2, VMR 4
    assert(a.getLong(2) == 2000000L && a.getLong(3) == 4000000L &&
      a.getLong(4) == 4000L, a.toString)
    val b = out("b") // constant → VMR 0, stat 0
    assert(b.getLong(3) == 0L && b.getLong(4) == 0L, b.toString)
    assert(out("c").isNullAt(3)) // n < 2 → NULL
  }

  test("scottsPi: perfect 1e6, prevalence-skew replay, constant NULL") {
    def sp(rows: Seq[(String, String)]) =
      Eval.scottsPi(rows.toDF("a", "b"), "a", "b").collect()(0)
    // perfect agreement over 2 categories
    val p = sp(Seq(("y", "y"), ("y", "y"), ("n", "n")))
    assert(p.getLong(4) == 1000000L, p.toString)
    // the gwetAc1 test's kappa-paradox table: m_y=194, m_n=6,
    // S = 194^2 + 6^2 = 37672, den = 4*100^2 = 40000
    // pe = 37672e6/40000 = 941800
    // pi = (4*100*96 - 37672)e6 / (40000 - 37672) = 728e6/2328 = 312714
    val r = sp(Seq.fill(95)(("y", "y")) ++ Seq(("n", "n")) ++
      Seq.fill(2)(("y", "n")) ++ Seq.fill(2)(("n", "y")))
    assert(r.getLong(0) == 100L && r.getLong(1) == 96L)
    assert(r.getLong(2) == 960000L && r.getLong(3) == 941800L, r.toString)
    assert(r.getLong(4) == 312714L, r.toString)
    // both raters constant at one shared label: 4n^2 = Σm^2 → NULL
    assert(sp(Seq(("y", "y"), ("y", "y"))).isNullAt(4))
  }

  test("gkLambda: hand 2x2 replay, constant predicted column NULL") {
    // cells x0:30 x1:10 y0:10 y1:50 — classic PRE table
    val rows = Seq.fill(30)(("x", 0L)) ++ Seq.fill(10)(("x", 1L)) ++
      Seq.fill(10)(("y", 0L)) ++ Seq.fill(50)(("y", 1L))
    val r = Eval.gkLambda(rows.toDF("a", "b"), "a", "b").collect()(0)
    // Σ_a max_b = 30+50 = 80; max col marginal = 60 (b=1)
    // λ_b|a = (80-60)/(100-60) = 0.5; mirrored λ_a|b = (80-60)/(100-60)
    assert(r.getLong(0) == 100L && r.getLong(1) == 80L &&
      r.getLong(2) == 80L && r.getLong(3) == 60L && r.getLong(4) == 60L,
      r.toString)
    assert(r.getLong(5) == 500000L && r.getLong(6) == 500000L &&
      r.getLong(7) == 500000L, r.toString)
    // predicted column constant → denominator 0 → NULL (that direction)
    val c = Eval.gkLambda(
      Seq(("x", 0L), ("y", 0L)).toDF("a", "b"), "a", "b").collect()(0)
    assert(c.isNullAt(5) && !c.isNullAt(6), c.toString)
  }

  test("theilsU: determination 1e6, independence ~0 (clamped), constant NULL") {
    // b determined by a (and vice versa): both U = 1
    val det = Eval.theilsU(
      Seq(("a1", "b1"), ("a1", "b1"), ("a2", "b2"), ("a2", "b2"))
        .toDF("a", "b"), "a", "b").collect()(0)
    assert(det.getLong(5) == 1000000L && det.getLong(6) == 1000000L,
      det.toString)
    // exact independence: H(b|a) = H(b) up to per-cell rounding → U ~ 0
    val ind = Eval.theilsU(
      (for { a <- Seq("a1", "a2"); b <- Seq("b1", "b2") } yield (a, b))
        .toDF("a", "b"), "a", "b").collect()(0)
    assert(ind.getLong(5) <= 10L && ind.getLong(6) <= 10L, ind.toString)
    // constant predicted column: H(b) = 0 → NULL that direction
    val c = Eval.theilsU(
      Seq(("a1", "b1"), ("a2", "b1")).toDF("a", "b"), "a", "b").collect()(0)
    assert(c.isNullAt(5) && !c.isNullAt(6), c.toString)
  }

  test("youdenJ: separable J=1e6 at the top bin, anti-score J=0, one class loud") {
    val sep = (1 to 5).map(_ => (true, 0.95)) ++
      (1 to 5).map(_ => (false, 0.15))
    val r = Eval.youdenJ(sep.toDF("y", "s"), "y", "s", bins = 10).collect()(0)
    assert(r.getLong(0) == 10L && r.getLong(1) == 5L && r.getLong(2) == 5L)
    assert(r.getLong(3) == 9L && r.getLong(4) == 5L && r.getLong(5) == 0L)
    assert(r.getLong(8) == 1000000L, r.toString)
    // anti-predictive score: best achievable J is 0 (threshold at bottom)
    val anti = (1 to 5).map(_ => (true, 0.15)) ++
      (1 to 5).map(_ => (false, 0.95))
    val a = Eval.youdenJ(anti.toDF("y", "s"), "y", "s", bins = 10).collect()(0)
    assert(a.getLong(8) == 0L && a.getLong(3) == 1L, a.toString)
    intercept[IllegalArgumentException] {
      Eval.youdenJ(Seq((true, 0.5)).toDF("y", "s"), "y", "s")
    }
  }

  test("calinskiHarabasz: hand two-cluster replay, W=0 and k=1 NULL") {
    // a: (0,0),(0,2); b: (10,10),(10,12) — exact micro arithmetic:
    // T = 448e12, ΣQg/ng = 444e12, W = 4e12; qTot/n = 244e12, B = 200e12
    // CH = (B/1)/(W/2) = 100 → ch_milli = 100000
    val df = Seq(
      ("a", Seq(0.0, 0.0)), ("a", Seq(0.0, 2.0)),
      ("b", Seq(10.0, 10.0)), ("b", Seq(10.0, 12.0)))
      .toDF("g", "v")
    val r = graft.ops.Similarity.calinskiHarabasz(df, "g", "v").collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L, r.toString)
    assert(r.getLong(2) == 100000L, r.toString)
    // every point at its centroid → W = 0 → NULL
    val w0 = Seq(("a", Seq(0.0)), ("a", Seq(0.0)),
      ("b", Seq(1.0)), ("b", Seq(1.0))).toDF("g", "v")
    assert(graft.ops.Similarity.calinskiHarabasz(w0, "g", "v")
      .collect()(0).isNullAt(2))
    // one group → NULL
    val k1 = Seq(("a", Seq(0.0)), ("a", Seq(1.0))).toDF("g", "v")
    assert(graft.ops.Similarity.calinskiHarabasz(k1, "g", "v")
      .collect()(0).isNullAt(2))
  }

  test("spiegelhalterZ: calibrated z=0, over-confident replay, p=1/2 NULL") {
    // p = 0.25, one of four positive: perfectly calibrated → num = 0
    val cal = Seq((true, 0.25), (false, 0.25), (false, 0.25), (false, 0.25))
    val r = Eval.spiegelhalterZ(cal.toDF("y", "p"), "y", "p").collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 0L && r.getLong(2) == 0L,
      r.toString)
    // p = 0.1 but ALL positive: num = 5*(9e5*8e5) = 3.6e12,
    // den = 5*(1e5*9e5*8e5*8e5) = 2.88e23 → z = 6.7082 → 6708 milli
    val over = (1 to 5).map(_ => (true, 0.1))
    val o = Eval.spiegelhalterZ(over.toDF("y", "p"), "y", "p").collect()(0)
    assert(o.getLong(1) == 3600000L && o.getLong(2) == 6708L, o.toString)
    // all scores exactly 1/2: (1-2p) = 0 → variance 0 → NULL
    val half = Seq((true, 0.5), (false, 0.5))
    assert(Eval.spiegelhalterZ(half.toDF("y", "p"), "y", "p")
      .collect()(0).isNullAt(2))
  }

  test("matthewsCorrelation: hand 7/15 replay, perfect 1000, constant NULL") {
    // tp=4 tn=2 fp=1 fn=1: num 4*2-1*1=7, den sqrt(5*5*3*3)=15
    val rows = Seq.fill(4)((true, true)) ++ Seq((false, true)) ++
      Seq((true, false)) ++ Seq.fill(2)((false, false))
    val r = Eval.matthewsCorrelation(rows.toDF("y", "p"), "y", "p")
      .collect()(0)
    assert(r.getLong(1) == 4L && r.getLong(2) == 1L &&
      r.getLong(3) == 1L && r.getLong(4) == 2L, r.toString)
    assert(r.getLong(5) == math.floor(1000.0 * 7 / 15).toLong, r.toString)
    val perfect = Seq((true, true), (false, false))
    assert(Eval.matthewsCorrelation(perfect.toDF("y", "p"), "y", "p")
      .collect()(0).getLong(5) == 1000L)
    // constant predictor: a marginal is 0 → NULL
    val const = Seq((true, true), (false, true))
    assert(Eval.matthewsCorrelation(const.toDF("y", "p"), "y", "p")
      .collect()(0).isNullAt(5))
  }

  test("logLoss: ln2 at p=1/2, eps-clip at p=0, n_pos") {
    val even = Seq((true, 0.5), (false, 0.5))
    val r = Eval.logLoss(even.toDF("y", "p"), "y", "p").collect()(0)
    // both rows: round(1e6*ln 2) = 693147
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L &&
      r.getLong(2) == 693147L, r.toString)
    // y=true at p=0 clips to 1 micro: round(1e6*ln(1e6)) = 13815511
    val clip = Eval.logLoss(Seq((true, 0.0)).toDF("y", "p"), "y", "p")
      .collect()(0)
    assert(clip.getLong(2) == 13815511L, clip.toString)
  }

  test("goodTuring: hand a3 b2 c1 profile, unseen f1/N") {
    val df = Seq(("a a a b b c")).toDF("text")
    val out = graft.ops.Corpus.goodTuring(df, "text", maxR = 4)
      .orderBy("r").collect()
    assert(out.length == 4)
    // N=6 V=3 f1=f2=f3=1: unseen = 1e6/6 = 166666
    assert(out.forall(r => r.getLong(4) == 6L && r.getLong(5) == 3L &&
      r.getLong(6) == 166666L), out.mkString(","))
    // r=1: r* = 2*f2/f1 = 2e6; r=2: 3*f3/f2 = 3e6; r=3: f4=0 → 0;
    // r=4: f4=0 → NULL
    assert(out(0).getLong(1) == 1L && out(0).getLong(3) == 2000000L)
    assert(out(1).getLong(3) == 3000000L)
    assert(out(2).getLong(2) == 0L && out(2).getLong(3) == 0L)
    assert(out(3).getLong(1) == 0L && out(3).isNullAt(3))
  }

  test("meanAveragePrecision: hand AP, k cutoff, all-negative query dropped") {
    // query 1 ranked z>y>x>w: rel at pos 1 and 3 → AP = (1 + 2/3)/2
    val rows = Seq(
      (1L, 1L, "z", true), (1L, 2L, "y", false),
      (1L, 3L, "x", true), (1L, 4L, "w", false),
      // query 2: nothing relevant → dropped from the mean
      (2L, 5L, "q", false))
    val r = Eval.meanAveragePrecision(
      rows.toDF("q", "i", "s", "rel"), "q", "i", "s", "rel", k = 10)
      .collect()(0)
    assert(r.getLong(0) == 1L, r.toString)
    assert(r.getLong(1) == (1000000L + 2000000L / 3) / 2, r.toString)
    // k=1: only the pos-1 hit counts, denominator min(2,1)=1 → 1e6
    val k1 = Eval.meanAveragePrecision(
      rows.toDF("q", "i", "s", "rel"), "q", "i", "s", "rel", k = 1)
      .collect()(0)
    assert(k1.getLong(1) == 1000000L, k1.toString)
  }

  test("bigramConditionalEntropy: hand cells, determinism U=1e6, constant-next NULL") {
    import graft.ops.TextOps
    // "a b a b a c": bigrams ab:2 ba:2 ac:1 — n=5, 3 types, 2 prev types
    val r = TextOps.bigramConditionalEntropy(
      Seq("a b a b a c").toDF("text"), "text").collect()(0)
    assert(r.getLong(0) == 5L && r.getLong(1) == 2L && r.getLong(2) == 3L,
      r.toString)
    assert(r.getLong(4) > 0L && r.getLong(4) < r.getLong(3), r.toString)
    // fully determined next token: H(next|prev)=0 → U = 1e6
    val det = TextOps.bigramConditionalEntropy(
      Seq("a b a b a b").toDF("text"), "text").collect()(0)
    assert(det.getLong(4) == 0L && det.getLong(5) == 1000000L, det.toString)
    // constant next marginal: H(next)=0 → NULL
    val const = TextOps.bigramConditionalEntropy(
      Seq("a a a a").toDF("text"), "text").collect()(0)
    assert(const.isNullAt(5), const.toString)
  }

  test("bartlett: equal variances 0, hand unequal replay, drops and NULLs") {
    import graft.ops.Features
    // two groups with IDENTICAL spread: chi2 exactly 0
    val eq = Seq(("a", 0.0), ("a", 2.0), ("b", 10.0), ("b", 12.0))
    val r = Features.bartlett(eq.toDF("g", "v"), "g", "v").collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L &&
      r.getLong(3) == 1L && r.getLong(4) == 0L, r.toString)
    // a constant group is dropped and counted, the stat unchanged
    val drop = eq ++ Seq(("c", 5.0), ("c", 5.0))
    val d = Features.bartlett(drop.toDF("g", "v"), "g", "v").collect()(0)
    assert(d.getLong(1) == 2L && d.getLong(2) == 1L && d.getLong(4) == 0L,
      d.toString)
    // unequal spread: replay the documented term-by-term arithmetic
    val uneq = Seq(("a", 0.0), ("a", 2.0), ("b", 0.0), ("b", 20.0))
    val u = Features.bartlett(uneq.toDF("g", "v"), "g", "v").collect()(0)
    def rnd(x: Double) = math.floor(x + 0.5).toLong // positive args here
    val lnSum = rnd(1e6 * math.log(2e12)) + rnd(1e6 * math.log(2e14))
    val lnP = 2 * rnd(1e6 * math.log((2e12 + 2e14) / 2))
    val c = 1.0 + (2 * 1000000000000L - 500000000000L).toDouble / 1e12 / 3.0
    val want = math.floor(1000.0 * ((lnP - lnSum).toDouble / 1e6) / c).toLong
    assert(u.getLong(4) == want && want > 1000L, s"${u.getLong(4)} vs $want")
    // one usable group → NULL
    val one = Features.bartlett(
      Seq(("a", 0.0), ("a", 1.0)).toDF("g", "v"), "g", "v").collect()(0)
    assert(one.isNullAt(4), one.toString)
  }

  test("daviesBouldin: hand two-cluster replay, coincident-centroid NULL") {
    // a: {0, 2} (centroid 1, S=1.0); b: {10, 12} (centroid 11, S=1.0);
    // M = 10 -> R both ways = (1e6+1e6)*1000/1e7 = 200 milli, DB = 200
    val df = Seq(
      ("a", Seq(0.0)), ("a", Seq(2.0)),
      ("b", Seq(10.0)), ("b", Seq(12.0))).toDF("g", "v")
    val r = graft.ops.Similarity.daviesBouldin(df, "g", "v").collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L, r.toString)
    assert(r.getLong(2) == 200L, r.toString)
    // coincident centroids: every pair has M=0 -> no valid neighbor -> NULL
    val co = Seq(("a", Seq(0.0)), ("a", Seq(2.0)),
      ("b", Seq(0.0)), ("b", Seq(2.0))).toDF("g", "v")
    assert(graft.ops.Similarity.daviesBouldin(co, "g", "v")
      .collect()(0).isNullAt(2))
    // one group -> NULL
    val k1 = Seq(("a", Seq(0.0)), ("a", Seq(1.0))).toDF("g", "v")
    assert(graft.ops.Similarity.daviesBouldin(k1, "g", "v")
      .collect()(0).isNullAt(2))
  }

  test("hosmerLemeshow: hand 2-bin replay, loud garbage-label exclusion") {
    // scores 0.25/0.75, 2 bins: per-bin chi2 term = 0.1111 exactly ->
    // chi2_milli 222 (micro terms 111111 + 111111, div 1000)
    val rows = Seq((true, 0.25), (false, 0.25), (false, 0.25),
      (true, 0.75), (true, 0.75), (false, 0.75))
    val r = Eval.hosmerLemeshow(rows.toDF("y", "s"), "y", "s", bins = 2)
      .collect()(0)
    assert(r.getLong(0) == 6L && r.getLong(1) == 2L && r.getLong(2) == 0L,
      r.toString)
    assert(r.getLong(3) == 1L && r.getLong(4) == 222L, r.toString)
    // a garbage string label/score must be EXCLUDED, not counted as y=0
    // or clipped to p=0 (the round-15 post-cast re-filter contract)
    val dirty = rows.map { case (y, sc) => (y.toString, sc.toString) } ++
      Seq(("not-a-bool", "0.75"), ("true", "junk"))
    val d = Eval.hosmerLemeshow(dirty.toDF("y", "s"), "y", "s", bins = 2)
      .collect()(0)
    assert(d.getLong(0) == 6L && d.getLong(4) == 222L, d.toString)
  }
}
