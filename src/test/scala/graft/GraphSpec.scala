package graft

import graft.ops.Graph
import org.apache.spark.sql.functions._

/** Unit checks for the exact-integer PageRank operator: a hand-replayed
  * 4-node graph, dangling-mass redistribution, mass conservation up to
  * floor-division remainders, and determinism under repartitioning.
  */
class GraphSpec extends SparkSuite {

  /** 1→2, 1→3, 2→3, 3→1 plus dangling node 4 (3→4 gives it in-flow but
    * it has no out-edges, so its whole rank is dangling mass).
    */
  private lazy val edges = {
    val spark2 = spark
    import spark2.implicits._
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("s", "d")
  }

  /** Reference replay of Graph.pageRank's exact integer recurrence in
    * plain Scala (Long floor division at each step, same order).
    */
  private def replay(
      edges: Seq[(Long, Long)], iters: Int, resetPct: Int): Map[Long, Long] = {
    val dampPct = 100 - resetPct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val n = nodes.size.toLong
    val init = Graph.RankUnit / n
    val base = init * resetPct / 100
    var r = nodes.map(_ -> init).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(outdeg.contains).map(r).sum
      val inflow = edges
        .map { case (s, d) => d -> r(s) / outdeg(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      r = nodes.map { nd =>
        nd -> (base + inflow.getOrElse(nd, 0L) * dampPct / 100 + (dm / n) * dampPct / 100)
      }.toMap
    }
    r
  }

  test("pageRank matches the exact-integer scalar replay") {
    val got = Graph.pageRank(edges, "s", "d", iters = 4)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    val want = replay(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L)), 4, 15)
    assert(got == want)
    // node 3 has two in-links (one from the hub 1) -> highest rank;
    // the dangling leaf 4 gets only 1/3 of 3's rank plus redistribution.
    assert(got(3L) == got.values.max)
    assert(got(4L) < got(3L))
  }

  test("mass is conserved up to floor-division remainders") {
    val ranks = Graph.pageRank(edges, "s", "d", iters = 3)
      .agg(sum("rank_micro")).collect()(0).getLong(0)
    // each of the 4 nodes loses < 3 micro-units per iteration to the three
    // floor divisions; total drift is bounded far below 0.1% of the unit
    assert(ranks <= Graph.RankUnit)
    assert(ranks > Graph.RankUnit - Graph.RankUnit / 1000)
  }

  test("result is invariant to input partitioning and duplicate edges") {
    val base = Graph.pageRank(edges, "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val shuffled = Graph.pageRank(
      edges.union(edges).repartition(7), "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(base == shuffled)
  }

  test("personalized PageRank: mass flows only from/back to the seed set") {
    val spark2 = spark
    import spark2.implicits._
    // 1→2→3 chain plus isolated pair 5→6; seed = {1}
    val ed = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("s", "d")
    val seeds = Seq(Tuple1(1L), Tuple1(99L)).toDF("n") // 99 not in graph: ignored
    val got = Graph.personalizedPageRank(ed, "s", "d", seeds, "n", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // unreachable-from-seed nodes end at exactly 0
    assert(got(5L) == 0L && got(6L) == 0L)
    // the seed holds the reset mass; downstream decays along the chain
    assert(got(1L) > got(2L) && got(2L) > got(3L) && got(3L) > 0L)
    // scalar replay of the seeded recurrence
    val nodes = Seq(1L, 2L, 3L, 5L, 6L)
    val outdeg = Map(1L -> 1L, 2L -> 1L, 5L -> 1L)
    val init = Graph.RankUnit / 1 // one seed in graph
    val base = init * 15 / 100
    var r = nodes.map(n => n -> (if (n == 1L) init else 0L)).toMap
    for (_ <- 1 to 3) {
      val dm = nodes.filterNot(outdeg.contains).map(r).sum
      val inflow = Map(2L -> r(1L) / 1, 3L -> r(2L) / 1, 6L -> r(5L) / 1)
      r = nodes.map { n =>
        n -> ((if (n == 1L) base else 0L) +
          inflow.getOrElse(n, 0L) * 85 / 100 +
          (if (n == 1L) (dm / 1) * 85 / 100 else 0L))
      }.toMap
    }
    assert(got == r)
  }

  test("personalized PageRank requires a seed present in the graph") {
    val spark2 = spark
    import spark2.implicits._
    val ed = Seq((1L, 2L)).toDF("s", "d")
    val seeds = Seq(Tuple1(42L)).toDF("n")
    val e = intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(ed, "s", "d", seeds, "n", iters = 1)
    }
    assert(e.getMessage.contains("no seed is a graph node"))
  }

  test("cooccurrence counts distinct-src pairs, caps hyperactive srcs, exact jaccard") {
    val spark2 = spark
    import spark2.implicits._
    // users 1,2,3 share items; user 9 touches everything (k=5 > cap 4)
    // and must not contribute; duplicate (1,10) edge collapses
    val ed = Seq(
      (1L, 10L), (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L), (3L, 40L),
      (9L, 10L), (9L, 20L), (9L, 30L), (9L, 40L), (9L, 50L)
    ).toDF("u", "it")
    val got = Graph.cooccurrence(ed, "u", "it", maxPerSrc = 4, minCommon = 2L)
      .collect()
      .map(r => (r.getAs[Long]("item_a"), r.getAs[Long]("item_b")) ->
        (r.getAs[Long]("n_common"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("jaccard_micro"))).toMap
    // without user 9: n(10)=3, n(20)=3, n(30)=1, n(40)=1
    // pairs with >=2 common: only (10,20) common={1,2,3}=3
    assert(got.keySet == Set((10L, 20L)))
    val (c, na, nb, j) = got((10L, 20L))
    assert(c == 3L && na == 3L && nb == 3L)
    assert(j == 3L * 1000000L / (3L + 3L - 3L)) // = 1_000_000 (identical sets)
  }

  test("hits: bipartite pointers/pointed split, exact integer fixpoint, scalar replay") {
    val spark2 = spark
    import spark2.implicits._
    // complete bipartite {1,2} → {3,4}: by symmetry the exact-integer
    // iteration lands on hub 500000 for pointers, authority 500000 for
    // pointed, zeros crosswise (hand-replayed: dn is 4 then always 2)
    val bip = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("s", "d")
    val r = Graph.hits(bip, "s", "d", iters = 3)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(r(1L) == ((500000L, 0L)) && r(2L) == ((500000L, 0L)))
    assert(r(3L) == ((0L, 500000L)) && r(4L) == ((0L, 500000L)))

    // irregular graph: compare against a plain-Scala replay of the same
    // integer recurrence, and check duplicate-edge / partitioning invariance
    val irregular = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 2L), (1L, 2L))
    def replayHits(es: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
      val ed = es.distinct
      val nodes = (ed.map(_._1) ++ ed.map(_._2)).distinct.sorted
      val U = Graph.HitsUnit
      var h = nodes.map(_ -> U).toMap
      var a = nodes.map(_ -> 0L).toMap
      for (_ <- 1 to iters) {
        val ar = ed.groupBy(_._2).map { case (d, g) => d -> g.map(e => h(e._1)).sum }
        val da = math.max(ar.values.sum / U, 1L)
        a = nodes.map(n => n -> ar.getOrElse(n, 0L) / da).toMap
        val hr = ed.groupBy(_._1).map { case (s, g) => s -> g.map(e => a(e._2)).sum }
        val dh = math.max(hr.values.sum / U, 1L)
        h = nodes.map(n => n -> hr.getOrElse(n, 0L) / dh).toMap
      }
      nodes.map(n => n -> ((h(n), a(n)))).toMap
    }
    val got = Graph.hits(irregular.toDF("s", "d").repartition(7), "s", "d", iters = 4)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(got == replayHits(irregular, 4), got.toString)
  }

  test("labelPropagation: two triangles separate; bridge doesn't merge them") {
    val spark2 = spark
    import spark2.implicits._
    // triangles {1,2,3} and {10,11,12} joined by one bridge edge 3–10;
    // hand-replay of the deterministic (count desc, label asc) rule gives
    // left → 1, right → 3 after three synchronous rounds
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 10L)).toDF("s", "d")
    val got = Graph.labelPropagation(e, "s", "d", iters = 3)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
    assert(Set(1L, 2L, 3L).map(got) == Set(1L))
    assert(Set(10L, 11L, 12L).map(got) == Set(3L))
  }

  /** Scalar synchronous replay of the label-propagation rule over the
    * undirected graph: count desc, ties to the SMALLEST label.
    */
  private def replayLabels(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap)).distinct
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    var labels = adj.keys.map(k => k -> k).toMap
    for (_ <- 1 to iters) {
      labels = adj.map { case (node, nbrs) =>
        val counts = nbrs.groupBy(labels).toSeq.map { case (l, xs) => (xs.size, l) }
        node -> counts.minBy { case (c, l) => (-c, l) }._2
      }
    }
    labels
  }

  private def labelsOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val spark2 = spark
    import spark2.implicits._
    Graph.labelPropagation(edges.toDF("s", "d"), "s", "d", iters)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
  }

  test("labelPropagation matches a scalar synchronous replay on random graphs") {
    val random = (1 to 4).map { seed =>
      val rnd = new scala.util.Random(seed)
      (1 to 60).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (a, b) => a != b }.distinct
    }
    // plus a hub 1000 linked to leaves 100..139, each leaf also linked to a
    // private node below it, in shuffled order: after round 1 every leaf
    // carries its private node as a distinct label, so round 2 is a 40-way
    // tie at the hub, which must take the smallest of them
    val priv = new scala.util.Random(7).shuffle((0L until 40L).toList)
    val hub = (0 until 40).flatMap(i => Seq((1000L, 100L + i), (100L + i, priv(i))))
    assert(replayLabels(hub, 2)(1000L) == 0L)
    for ((edges, g) <- (random :+ hub).zipWithIndex; iters <- Seq(1, 2, 3, 5))
      assert(labelsOf(edges, iters) == replayLabels(edges, iters), s"graph=$g iters=$iters")
  }

  test("labelPropagation carries Long.MinValue as a label") {
    // the label must never be negated: -Long.MinValue overflows under ANSI
    val edges = Seq((0L, Long.MinValue), (0L, 5L))
    assert(labelsOf(edges, 1)(0L) == Long.MinValue)
    for (iters <- Seq(1, 2))
      assert(labelsOf(edges, iters) == replayLabels(edges, iters), s"iters=$iters")
  }

  test("kCore peels chains off a clique; short runs flag non-convergence") {
    val spark2 = spark
    import spark2.implicits._
    // K4 on 1..4 plus a tail 4–5–6: at k=2 the tail peels in two rounds
    // (6 first, then 5 once it lost 6), leaving the clique at degree 3
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("s", "d")
    val core = Graph.kCore(edges, "s", "d", k = 2, iters = 3)
      .select("node", "degree", "in_core")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(core.toSeq == Seq((1L, 3L, true), (2L, 3L, true),
      (3L, 3L, true), (4L, 3L, true)))
    // k above the clique's degree: everything peels away
    assert(Graph.kCore(edges, "s", "d", k = 4, iters = 3).count() == 0)
    // one round only: 6 is gone but 5 (now degree 1) is still present
    // and flagged — the in_core=false rows ARE the non-convergence signal
    val partial = Graph.kCore(edges, "s", "d", k = 2, iters = 1)
      .select("node", "degree", "in_core")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(partial.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(partial.filter(!_._3).toSeq == Seq((5L, 1L, false)))
  }

  test("kCore early exit is output-identical and converged reports honestly") {
    val spark2 = spark
    import spark2.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("s", "d")
    // the peel converges in 2 rounds; a 64-round budget must early-exit
    // to the SAME rows as the tight 3-round run (bit-identical contract)
    def rows(iters: Int) = Graph.kCore(edges, "s", "d", k = 2, iters = iters)
      .select("node", "degree", "in_core")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(rows(64) == rows(3))
    // converged=true on the stable-round path (early exit observed)
    val conv = Graph.kCore(edges, "s", "d", k = 2, iters = 64,
        emitConverged = true)
      .select("node", "converged").as[(Long, Boolean)].collect()
    assert(conv.nonEmpty && conv.forall(_._2))
    // one round is NOT enough (node 5 still degree-1): converged=false
    // via the all-survivors->=k fallback, computed not assumed
    val unconv = Graph.kCore(edges, "s", "d", k = 2, iters = 1,
        emitConverged = true)
      .select("node", "converged").as[(Long, Boolean)].collect()
    assert(unconv.nonEmpty && unconv.forall(!_._2))
    // convergence landing EXACTLY on the last permitted round still
    // reports true (the fallback's equivalent global fact)
    val exact2 = Graph.kCore(edges, "s", "d", k = 2, iters = 2,
        emitConverged = true)
      .select("node", "converged").as[(Long, Boolean)].collect()
    assert(exact2.nonEmpty && exact2.forall(_._2))
    // fully-peeled graph: empty output either way, no crash
    assert(Graph.kCore(edges, "s", "d", k = 4, iters = 8,
      emitConverged = true).count() == 0)
  }

  test("all-dangling graph degenerates to uniform redistribution") {
    val spark2 = spark
    import spark2.implicits._
    // single edge, then only node 2 remains a source of dangling mass:
    // with one edge 1->2, node 2 is dangling
    val one = Seq((1L, 2L)).toDF("s", "d")
    val got = Graph.pageRank(one, "s", "d", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = replay(Seq((1L, 2L)), 1, 15)
    assert(got == want)
  }

  test("degreeAssortativity: star is -1000, regular ring degenerate, random matches scalar") {
    val spark2 = spark
    import spark2.implicits._
    // star K1,3: every edge joins deg-3 to deg-1 — perfect anticorrelation
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("s", "d")
    val rs = Graph.degreeAssortativity(star, "s", "d").collect()(0)
    assert((rs.getLong(0), rs.getLong(1), rs.getLong(2)) == ((4L, 3L, -1000L)))
    // 4-cycle: every degree 2 — zero variance, NULL by contract
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "d")
    assert(Graph.degreeAssortativity(ring, "s", "d").collect()(0).isNullAt(2))
    // random graphs vs a plain-Scala Pearson over the same directed pairs
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 70)
      val edges = (1 to 60).map(_ =>
        (rnd.nextInt(20).toLong + 1, rnd.nextInt(20).toLong + 1)).toSet
      val und = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      val deg = und.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val pairs = und.toSeq.flatMap(e =>
        Seq((deg(e._1), deg(e._2)), (deg(e._2), deg(e._1))))
      val np = pairs.size.toLong
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val want =
        if (np * sxx - sx * sx <= 0 || np * syy - sy * sy <= 0) null
        else java.lang.Long.valueOf(math.floor(1000.0 * (np * sxy - sx * sy) /
          math.sqrt((np * sxx - sx * sx).toDouble * (np * syy - sy * sy))).toLong)
      val got = Graph.degreeAssortativity(
        edges.toSeq.toDF("s", "d"), "s", "d").collect()(0)
      val gotR = if (got.isNullAt(2)) null else java.lang.Long.valueOf(got.getLong(2))
      assert(gotR == want, s"seed=$seed")
    }
  }

  test("modularity: two clean triangles score 1/2; an unlabeled node is reported") {
    val spark2 = spark
    import spark2.implicits._
    val tri2 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("s", "d")
    val labAll = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"), (6L, "B"))
      .toDF("node", "lab")
    val r = Graph.modularity(tri2, "s", "d", labAll, "node", "lab").collect()(0)
    // m=6, each community m_c=3, D_c=6: Q = 2*(3/6 - (6/12)^2) = 1/2
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((6L, 6L, 2L, 0L, 500000L)), r.toString)
    // drop node 6's label: B keeps only edge (4,5); D_B=4, m_B=1 ->
    // Q = (4*6*3-36 + 4*6*1-16)/144 = 44/144
    val labPart = labAll.filter(col("node") =!= 6L)
    val p = Graph.modularity(tri2, "s", "d", labPart, "node", "lab").collect()(0)
    assert((p.getLong(2), p.getLong(3), p.getLong(4)) == ((2L, 1L, 305555L)), p.toString)
    // single community = everything intra: Q = m/m - 1 = 0 exactly
    val labOne = labAll.select(col("node"), lit("X").as("lab"))
    assert(Graph.modularity(tri2, "s", "d", labOne, "node", "lab")
      .collect()(0).getLong(4) == 0L)
    // edgeless graph: NULL q
    val none = tri2.limit(0)
    assert(Graph.modularity(none, "s", "d", labAll, "node", "lab")
      .collect()(0).isNullAt(4))
  }

  test("modularity matches a scalar replay on random graphs and partitions") {
    val spark2 = spark
    import spark2.implicits._
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed + 110)
      val nNodes = 16
      val edges = (1 to 50).map(_ =>
        (rnd.nextInt(nNodes).toLong + 1, rnd.nextInt(nNodes).toLong + 1)).toSet
      val nComm = rnd.nextInt(3) + 2
      val labels = (1L to nNodes.toLong).map(n => n -> s"c${rnd.nextInt(nComm)}").toMap
      // scalar replay of the exact integer formula
      val und = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      val m = und.size.toLong
      val deg = und.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val dc = deg.groupBy { case (n, _) => labels(n) }
        .map { case (c, ds) => c -> ds.values.sum }
      val mc = und.toSeq.filter(e => labels(e._1) == labels(e._2))
        .groupBy(e => labels(e._1)).map { case (c, es) => c -> es.size.toLong }
      val num = dc.toSeq.map { case (c, d) =>
        BigInt(4) * BigInt(m) * BigInt(mc.getOrElse(c, 0L)) -
          BigInt(d) * BigInt(d)
      }.sum
      val want: Any =
        if (m == 0) null
        else if (num >= 0) (num * 1000000 / (4 * BigInt(m) * m)).toLong
        else -((-num) * 1000000 / (4 * BigInt(m) * m)).toLong
      val got = Graph.modularity(
        edges.toSeq.toDF("s", "d"), "s", "d",
        labels.toSeq.toDF("node", "lab"), "node", "lab").collect()(0)
      val gotQ: Any = if (got.isNullAt(4)) null else got.getLong(4)
      assert(gotQ == want, s"seed=$seed")
      assert(got.getLong(2) == dc.size.toLong, s"seed=$seed communities")
    }
  }

  test("kCore matches an in-memory parallel-peel reference on random graphs") {
    val spark2 = spark
    import spark2.implicits._
    // reference: the same simultaneous-peel rounds over Scala collections
    def peel(edges: Set[(Long, Long)], k: Int, iters: Int): Map[Long, Long] = {
      val und = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      var adj = und.flatMap(e => Seq(e, e.swap))
      for (_ <- 1 to iters) {
        val deg = adj.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
        val keep = deg.filter(_._2 >= k).keySet
        adj = adj.filter(e => keep(e._1) && keep(e._2))
      }
      adj.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    }
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed + 40)
      val n = 30
      val edges = (1 to 120).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).toSet
      val k = rnd.nextInt(3) + 2
      val iters = rnd.nextInt(3) + 2
      val want = peel(edges, k, iters)
      val got = Graph.kCore(edges.toSeq.toDF("s", "d"), "s", "d", k, iters)
        .select("node", "degree").as[(Long, Long)].collect().toMap
      assert(got == want, s"seed=$seed k=$k iters=$iters")
    }
  }
}
