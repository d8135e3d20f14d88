package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph computation over plain edge DataFrames — the
  * link-analysis layer a crawl-curation pipeline uses for host/page
  * authority signals (PageRank-family centrality is a standard
  * quality prior for web-scale corpus filtering).
  *
  * Scale shape: Pregel-style synchronous iterations. Each iteration is
  * exactly ONE data shuffle (contributions grouped by destination); the
  * edge list and out-degree table are checkpointed once and reused, the
  * dangling-mass term is a one-row aggregate broadcast into the update,
  * and each iteration's ranks are eagerly checkpointed so lineage stays
  * flat across iterations (no exponential plan growth).
  *
  * All arithmetic is exact integer micro-units (1 rank = 1e12), with
  * floor division at every step — ranks are identical regardless of
  * partitioning, aggregation order, or engine, so a SQL replay
  * hash-matches bit-for-bit. Everything is non-negative, which keeps
  * Spark's truncating `div` and DuckDB's flooring `//` in agreement.
  */
object Graph {

  /** Unit of rank mass: 1.0 == 1e12 micro-units. */
  val RankUnit: Long = 1000000000000L

  /** PageRank with `iters` synchronous power iterations at damping
    * (100-resetPct)%. Edges are deduplicated (simple directed graph);
    * nodes = src ∪ dst; dangling mass (nodes with no out-edges)
    * redistributes uniformly each iteration, per the standard
    * formulation.
    *
    * Returns (node, rank_micro): integer micro-unit ranks. Total mass is
    * conserved up to the per-node floor-division remainders (identical
    * in any replay).
    */
  def pageRank(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 5,
      resetPct: Int = 15): DataFrame =
    run(edges0, srcCol, dstCol, iters, resetPct, seeds0 = None, "")

  /** Personalized PageRank / TrustRank (Gyöngyi et al. 2004): identical
    * recurrence, but the reset mass and the dangling redistribution both
    * concentrate on the `seeds` node set instead of spreading uniformly —
    * rank flows outward from trusted seeds, so scores measure proximity
    * to them. The curation use: propagate authority from a vetted seed
    * list (curated hosts, benchmark-adjacent pages) over the link graph
    * and threshold on the result.
    *
    * Seeds not present in the graph are ignored; at least one seed must
    * be a graph node. Nodes unreachable from the seed set get rank 0 —
    * exactly the isolation TrustRank wants.
    */
  def personalizedPageRank(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iters: Int = 5,
      resetPct: Int = 15): DataFrame =
    run(edges0, srcCol, dstCol, iters, resetPct, Some(seeds), seedCol)

  private def run(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      resetPct: Int,
      seeds0: Option[DataFrame],
      seedCol: String): DataFrame = {
    require(iters >= 1, "iters >= 1")
    require(resetPct >= 0 && resetPct <= 100, "resetPct in [0, 100]")
    val dampPct = 100 - resetPct

    val edges = edges0
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()
    val allNodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
    // reset distribution: uniform over all nodes (PageRank) or uniform
    // over the seed rows present in the graph (personalized / TrustRank)
    val nodes = seeds0 match {
      case None => allNodes.withColumn("seed", lit(true)).localCheckpoint()
      case Some(s) =>
        val seedIds = s.select(col(seedCol).cast("long").as("node"))
          .filter(col("node").isNotNull).distinct()
        allNodes.join(broadcast(seedIds.withColumn("seed", lit(true))),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("seed"), lit(false)).as("seed"))
          .localCheckpoint()
    }
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg")).localCheckpoint()

    val nReset = nodes.filter(col("seed")).count()
    require(nReset > 0,
      if (seeds0.isEmpty) "graph has no nodes" else "no seed is a graph node")
    val init = RankUnit / nReset
    val base = init * resetPct / 100

    var ranks = nodes
      .withColumn("r", when(col("seed"), lit(init)).otherwise(lit(0L)))
      .drop("seed")
    for (_ <- 1 to iters) {
      // one-row dangling mass: rank held by nodes with no out-edges
      val dangling = ranks
        .join(deg, ranks("node") === deg("src"), "left_anti")
        .agg(coalesce(sum("r"), lit(0L)).as("dm"))
      // the iteration's single shuffle: per-destination contribution sum
      val inflow = edges
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("node"), expr("r div outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("inflow"))
      ranks = nodes
        .join(inflow, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(
          col("node"),
          (when(col("seed"), lit(base)).otherwise(lit(0L)) +
            expr(s"coalesce(inflow, CAST(0 AS BIGINT)) * $dampPct div 100") +
            when(col("seed"), expr(s"(dm div $nReset) * $dampPct div 100"))
              .otherwise(lit(0L))).as("r"))
        .localCheckpoint()
    }
    ranks.select(col("node"), col("r").as("rank_micro"))
  }

  /** Unit of HITS mass: 1.0 == 1e6 micro-units (smaller than
    * [[RankUnit]] so per-iteration sums keep Long headroom at
    * trillion-edge scale: Σ contributions ≤ |E|·1e6).
    */
  val HitsUnit: Long = 1000000L

  /** HITS hubs & authorities (Kleinberg 1999) over a directed edge list —
    * the complement of [[pageRank]]: a node is a good HUB if it points
    * at good authorities, a good AUTHORITY if good hubs point at it.
    * The curation read: authorities ≈ canonical content pages, hubs ≈
    * link/directory pages (prune-able boilerplate at crawl scale).
    *
    * Per iteration: `a ← Eᵀh`, `h ← E·a`, each L1-normalized back to
    * ~[[HitsUnit]] total mass (classic HITS normalizes in L2; the power
    * iteration's direction is the same under any norm, and L1 keeps the
    * arithmetic in exact non-negative integers — floor division at every
    * step, so Spark `div` and DuckDB `//` agree bit-for-bit and the
    * result is partitioning/engine independent). Nodes with no in-edges
    * have authority 0; no out-edges, hub 0.
    *
    * 100 TB shape: two contribution shuffles per iteration (group by
    * dst, group by src) over the checkpointed distinct edge list; the
    * normalizer is a one-row aggregate broadcast into the update; ranks
    * checkpoint each round so lineage stays flat.
    */
  def hits(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters $iters out of [1,16]")
    val edges = edges0
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    var h = nodes.withColumn("h", lit(HitsUnit))
    var a = nodes.withColumn("a", lit(0L))
    for (i <- 1 to iters) {
      val aRaw = edges.join(h.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum("h").as("ar"))
      val denomA = aRaw
        .agg(greatest(expr(s"coalesce(sum(ar), 0) div $HitsUnit"), lit(1L)).as("dn"))
      a = nodes.join(aRaw, Seq("node"), "left").crossJoin(broadcast(denomA))
        .select(col("node"), expr("coalesce(ar, CAST(0 AS BIGINT)) div dn").as("a"))
      // ONE checkpoint barrier per iteration, not two (round 15): the
      // h-update's plan embeds the a-half-step, so materializing h runs
      // both halves in one pass while lineage still resets each iteration
      // (every plan reaches back only to the previous h checkpoint). The
      // a-frame is checkpointed only on the LAST iteration, where the
      // final join would otherwise recompute its half-step once more.
      // Dataflow (and ranks) unchanged.
      if (i == iters) a = a.localCheckpoint()
      val hRaw = edges.join(a.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum("a").as("hr"))
      val denomH = hRaw
        .agg(greatest(expr(s"coalesce(sum(hr), 0) div $HitsUnit"), lit(1L)).as("dn"))
      h = nodes.join(hRaw, Seq("node"), "left").crossJoin(broadcast(denomH))
        .select(col("node"), expr("coalesce(hr, CAST(0 AS BIGINT)) div dn").as("h"))
        .localCheckpoint()
    }
    h.join(a, Seq("node"))
      .select(col("node"), col("h").as("hub_micro"), col("a").as("auth_micro"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over the
    * UNDIRECTED graph of `edges0`: every node starts as its own label
    * (= node id); each iteration it adopts the most frequent label among
    * its neighbors, ties broken toward the SMALLEST label — the standard
    * deterministic LPA variant, here fully engine-replayable because the
    * argmax rule (count desc, label asc) is a total order. Labels after
    * `iters` rounds approximate communities; connected components is the
    * `iters → ∞` degenerate case, LPA at small `iters` finds denser
    * substructure inside them (the host-cluster / link-farm shape a
    * crawl-quality pass looks for).
    *
    * Returns (node, label). Isolated self-loops keep their own label.
    *
    * Round 1 is closed-form: each node starts as its own label and the
    * symmetric edge list is distinct, so every neighbor label counts once
    * and the rule picks `min(b)`. Each later round is one neighbor join
    * plus one `mode(label, true)` aggregate (ties to the smallest label),
    * so count and argmax are fused and no label is negated.
    *
    * 100 TB shape: per round, one join on the checkpointed symmetric edge
    * list and ONE map-side-combined aggregate keyed by node. Each round's
    * labels are read once, so only the edges are checkpointed: the plan
    * grows linearly and nothing runs before the caller's action. Skew: a
    * node's neighbor-label histogram is one `mode` buffer (per task, then
    * per node) that AQE cannot split, so a hub holds all its distinct
    * neighbor labels in one buffer. There is no pair space anywhere.
    */
  def labelPropagation(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, "iters >= 1")
    val dir = edges0
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val edges = dir.union(dir.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .localCheckpoint()
    var labels = edges.groupBy(col("a").as("node")).agg(min("b").as("label"))
    for (_ <- 2 to iters) {
      labels = edges
        .join(labels.withColumnRenamed("node", "b"), Seq("b"))
        .groupBy(col("a").as("node"))
        .agg(mode(col("label"), true).as("label"))
    }
    labels
  }

  /** Bipartite co-occurrence projection: from (src, dst) interaction
    * edges, the dst–dst pair graph weighted by how many distinct srcs
    * touch both — the related-items / co-click primitive (and, over
    * doc–shingle edges, the generic "co-contained" similarity). Returns
    * `(item_a, item_b, n_common, n_a, n_b, jaccard_micro)` for unordered
    * pairs `item_a < item_b` with `n_common >= minCommon`; jaccard is
    * exact integer micros: `n_common * 1e6 div (n_a + n_b - n_common)`.
    *
    * 100 TB shape: the projection's quadratic danger is hyperactive
    * sources (a src with k dsts yields k² pairs), so srcs above
    * `maxPerSrc` are dropped BEFORE the pair join — the standard CF cap;
    * a power user following half the catalog contributes no similarity
    * signal, only pair-space blowup. What remains is one self-join
    * co-partitioned on src (a single exchange feeds both sides), a
    * map-side-combined pair count, and a per-item count table joined
    * twice (item-cardinality-sized: no forced broadcast — AQE broadcasts
    * catalog-sized tables and shuffles shingle-sized ones). Raise
    * `minCommon` to keep the output graph sparse at scale.
    */
  def cooccurrence(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      maxPerSrc: Int = 1000,
      minCommon: Long = 2L): DataFrame = {
    require(maxPerSrc >= 2, "maxPerSrc >= 2 (a single-dst src yields no pairs)")
    val edges = edges0
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val kept = edges
      .withColumn("__k", count(lit(1)).over(Window.partitionBy("src")))
      .filter(col("__k") <= maxPerSrc)
      .select("src", "dst")
      .localCheckpoint()
    val itemCounts = kept.groupBy(col("dst").as("item"))
      .agg(count(lit(1)).as("n"))
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .groupBy(col("a.dst").as("item_a"), col("b.dst").as("item_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    pairs
      .join(itemCounts.withColumnRenamed("item", "item_a")
        .withColumnRenamed("n", "n_a"), Seq("item_a"))
      .join(itemCounts.withColumnRenamed("item", "item_b")
        .withColumnRenamed("n", "n_b"), Seq("item_b"))
      .select(
        col("item_a"), col("item_b"), col("n_common"), col("n_a"), col("n_b"),
        expr("cast(n_common as decimal(38,0)) * 1000000 div (n_a + n_b - n_common)").as("jaccard_micro"))
  }

  /** Per-node triangle counts on an undirected graph — the local
    * clustering signal (tightly-knit supplier rings, collusive account
    * clusters, community cores). Input edges are canonicalized
    * (undirected, self-loops dropped, deduped); a node appears in the
    * output once per graph membership with `n_triangles ≥ 1` (isolated
    * and triangle-free nodes produce no row — left-join from your node
    * table if zeros matter).
    *
    * Algorithm: order every edge `u < v`, build wedges `u–v–w`
    * (`u < v < w` by construction, so each triangle is generated exactly
    * once), close them against the edge list, then explode the three
    * corners. Cost is Σ_v deg⁺(v)² on the ORDERED graph — the classic
    * bound that makes this tractable when a hub's edges point mostly
    * toward higher ids; for skew-heavy graphs cap degrees upstream (the
    * [[cooccurrence]] maxPerSrc pattern).
    *
    * 100 TB shape: two shuffled joins on single vertex keys + one count
    * — no broadcast of the edge list, no adjacency collection.
    */
  def triangles(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges0
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("u"), greatest(col("s"), col("d")).as("v"))
      .distinct()
    val wedges = e.select(col("u"), col("v").as("__mid"))
      .join(e.select(col("u").as("__mid"), col("v").as("w")), "__mid")
    val tris = wedges
      .join(e.select(col("u"), col("v").as("w")), Seq("u", "w"))
      .select(col("u"), col("__mid").as("v"), col("w"))
    tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** k-core by parallel peeling: each round simultaneously removes every
    * node whose CURRENT degree is < k, then drops the edges that lost an
    * endpoint — the dense-subgraph filter behind spam-farm and
    * engagement-ring detection (a k-core survives only through mutual
    * support; stars and chains peel away). Undirected: each input edge
    * counts once per direction, self-loops and duplicate edges ignored.
    *
    * Runs AT MOST `iters` rounds with a provably-exact early exit: the
    * peel is monotone and deterministic, so a round that removes NO
    * edge is a fixed point (degrees unchanged ⇒ every later round is a
    * no-op) — the loop tracks the alive-edge count (one cheap `count()`
    * on the frame it just localCheckpoint'd) and breaks there, skipping
    * the remaining rounds' 3 shuffles + checkpoint while producing
    * BIT-IDENTICAL output to the unrolled fixed-`iters` contract (which
    * the SQL oracle still replays round-for-round). Output per
    * surviving node: `(node, degree, in_core)` where `degree` is over
    * the surviving subgraph and `in_core` = (degree ≥ k) — all true ⇔
    * converged; rerun with more iters if any false. With
    * `emitConverged` a fourth column `converged` (same value on every
    * row) reports that global fact honestly: `true` when a stable round
    * was OBSERVED or every survivor's degree ≥ k (the two are
    * equivalent at the fixed point; the latter catches a peel that
    * converged exactly on its last permitted round). Computed via a
    * broadcast one-row rollup — never a single-partition window.
    *
    * 100 TB shape: per round one map-side-combined degree count plus two
    * semi-joins on the shrinking edge set, localCheckpoint'd per round
    * (same discipline as connectedComponents' large/small-star loop);
    * driver-side state is the loop counter and one edge count per round.
    */
  def kCore(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      iters: Int = 8,
      emitConverged: Boolean = false): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    require(iters >= 1 && iters <= 64, s"iters $iters out of [1, 64]")
    // Round 16: the peel loop runs on the CANONICAL (u < v) edge table —
    // half the rows of the both-directions union the earlier rounds
    // carried. A node's degree is its occurrence count across both
    // endpoint columns (explode(array(u, v)) with map-side combine —
    // identical counts to the doubled table's groupBy(u)), so every
    // per-round checkpoint, semi-join and edge count moves half the
    // bytes, and the union's second scan of the distinct edge set is
    // gone. Measured at sf0.1: ~74 s of task time → ~half.
    var alive = edges0
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("u"), greatest(col("s"), col("d")).as("v"))
      .distinct()
      .localCheckpoint()
    var prevEdges = alive.count()
    var stable = prevEdges == 0L
    var round = 0
    while (round < iters && !stable) {
      round += 1
      val keep = alive
        .select(explode(array(col("u"), col("v"))).as("__n"))
        .groupBy("__n").agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select(col("__n"))
      alive = alive
        .join(keep.select(col("__n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("__n").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint()
      val cur = alive.count()
      if (cur == prevEdges) stable = true
      prevEdges = cur
    }
    val core = alive
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))
      .withColumn("in_core", col("degree") >= k)
    if (!emitConverged) core
    else if (stable) core.withColumn("converged", lit(true))
    else {
      // ran out of rounds without observing a stable round — convergence
      // may still have landed exactly on the last one; all-degrees-≥-k is
      // the equivalent global fact, one broadcast row
      val conv = core.agg(
        coalesce(min(col("in_core").cast("int")), lit(1)).as("__c"))
      core.crossJoin(broadcast(conv))
        .withColumn("converged", col("__c") === 1)
        .drop("__c")
    }
  }

  /** Common-neighbor / Jaccard link prediction — the top-k NON-edges
    * most likely to be real relationships, by shared-neighbor evidence:
    * the recommender-bootstrap and knowledge-graph-completion primitive
    * ("users who co-occur with the same items", "entities sharing
    * co-mentions"). Scores every 2-hop pair by
    * `|Γ(a)∩Γ(b)| / (|Γ(a)|+|Γ(b)|−|Γ(a)∩Γ(b)|)` and keeps the k best.
    *
    * Skew control: vertices with degree > `maxDegree` are EXCLUDED
    * before wedge generation (the hot-block rule — one celebrity hub
    * would otherwise mint deg²/2 wedges); degrees and Jaccard are
    * computed on the capped graph, so the score contract is
    * self-consistent. Deterministic: exact integer Jaccard micro, total
    * order (score desc, node_a asc, node_b asc).
    *
    * Output: k rows `(node_a, node_b, common_neighbors, degree_a,
    * degree_b, jaccard_micro)`.
    *
    * 100 TB shape: wedges shuffle on the MID vertex (Σ deg²/2 bounded
    * by the maxDegree cap), candidates combine map-side on (a, b), the
    * existing-edge anti-join is an equi-join, and the top-k is a
    * TakeOrdered (per-partition heads + driver merge, no global sort).
    */
  def linkPrediction(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int = 20,
      maxDegree: Long = 10000L): DataFrame = {
    require(k >= 1 && k <= 100000, s"k $k must lie in [1, 100000]")
    require(maxDegree >= 2, s"maxDegree $maxDegree must be >= 2")
    val e = edges0
      .select(col(srcCol).cast("long").as("s"),
        col(dstCol).cast("long").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull &&
        col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("u"),
        greatest(col("s"), col("d")).as("v"))
      .distinct()
    val deg = e.select(col("u").as("x"))
      .unionByName(e.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
    val keep = deg.filter(col("deg") <= maxDegree).select("x")
    val e2 = e
      .join(keep.select(col("x").as("u")), Seq("u"), "left_semi")
      .join(keep.select(col("x").as("v")), Seq("v"), "left_semi")
      .select("u", "v")
      .localCheckpoint()
    val deg2 = e2.select(col("u").as("x"))
      .unionByName(e2.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
    val nbr = e2.select(col("u").as("m"), col("v").as("x"))
      .unionByName(e2.select(col("v").as("m"), col("u").as("x")))
    val cand = nbr.select(col("m"), col("x").as("a"))
      .join(nbr.select(col("m"), col("x").as("b")), Seq("m"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))
    cand
      .join(e2.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .join(deg2.select(col("x").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg2.select(col("x").as("b"), col("deg").as("deg_b")), Seq("b"))
      .withColumn("jaccard_micro",
        expr("cn * 1000000 div (deg_a + deg_b - cn)"))
      .orderBy(col("jaccard_micro").desc, col("a").asc, col("b").asc)
      .limit(k)
      .select(col("a").as("node_a"), col("b").as("node_b"),
        col("cn").as("common_neighbors"), col("deg_a").as("degree_a"),
        col("deg_b").as("degree_b"), col("jaccard_micro"))
  }

  /** Degree assortativity — the Pearson correlation of endpoint degrees
    * over every undirected edge, Newman's one-number answer to "do hubs
    * link to hubs?" Positive = social-network-like core (dense rings —
    * the engagement-farm signature concentrates here); negative =
    * hub-and-spoke (the shape of healthy web/crawl graphs). Reading it
    * BEFORE trusting PageRank-family priors is standard: a strongly
    * assortative subgraph inflates its own centrality.
    *
    * Edges canonicalize like [[kCore]] (undirected, self-loops and
    * duplicates dropped); every edge contributes its (deg_u, deg_v)
    * pair ONCE IN EACH DIRECTION (the standard symmetric convention, so
    * the correlation is well-defined without an arbitrary endpoint
    * order). r is the [[graft.ops.Features.linCcc]] r_milli double
    * tree over exact integer moments — cross-multiplied, one floor.
    * NULL when degenerate (every degree equal, or < 2 edges).
    *
    * Output (one row): `(n_nodes, n_edges, r_milli)`.
    *
    * Overflow: with 2m directed pairs and degrees ≤ n, moments ride
    * decimal(38,0) to m·n² ≈ 10³⁸ — loud NULL past it, never a wrap.
    *
    * 100 TB shape: one degree groupBy (map-side combined), two
    * broadcast-eligible equi-joins of the edge list against the degree
    * table (shuffle joins at web scale — each keyed by a single vertex
    * id), one map-side-combined one-row moment rollup. Nothing
    * pair-shaped beyond the edges that already exist.
    */
  def degreeAssortativity(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val und = edges0
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("u"), greatest(col("s"), col("d")).as("v"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("u").as("x"))
      .unionByName(und.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
    // Round 16: the moment sums are SYMMETRIC under edge reversal —
    // aggregating the both-directions union doubles every join and sum
    // for values derivable from the canonical table exactly:
    // np = 2n, sx = sy = Σ(dx+dy), sxy = 2·Σdx·dy, sxx = syy =
    // Σ(dx²+dy²). All exact integer decimal sums, so the mirrored
    // moments are bit-identical to the doubled table's and the final
    // double tree below is untouched.
    val pairs = und
      .join(deg.select(col("x").as("u"), col("deg").as("dx")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("deg").as("dy")), Seq("v"))
    val nNodes = deg.count()
    val nEdges = und.count()
    pairs.agg(
        count(lit(1)).as("__n"),
        sum(expr(s"cast(dx as $dec) + dy")).as("__a"),
        sum(expr(s"cast(dx as $dec) * dy")).as("__b"),
        sum(expr(s"cast(dx as $dec) * dx + cast(dy as $dec) * dy")).as("__c"))
      .select(
        (col("__n") * 2).as("np"),
        col("__a").as("sx"), col("__a").as("sy"),
        (col("__b") * 2).cast(dec).as("sxy"),
        col("__c").as("sxx"), col("__c").as("syy"))
      .select(lit(nNodes).as("n_nodes"), lit(nEdges).as("n_edges"),
        expr(s"""cast(case when np > 1
            and cast(np as $dec) * sxx - sx * sx > 0
            and cast(np as $dec) * syy - sy * sy > 0 then
          floor(1000.0 * cast(cast(np as $dec) * sxy - sx * sy as double)
            / sqrt(cast(cast(np as $dec) * sxx - sx * sx as double)
              * cast(cast(np as $dec) * syy - sy * sy as double)))
          end as long)""").as("r_milli"))
  }

  /** Newman modularity of a GIVEN node partition — the one-number
    * quality score for community labels ([[labelPropagation]] output, a
    * dedup clustering, a topic assignment): how much intra-community
    * edge mass exceeds what a degree-preserving random rewiring would
    * produce. Q ≈ 0 means the labels explain nothing; Q ≳ 0.3 is
    * conventional "real structure". The audit that belongs NEXT TO
    * every LPA run — a partition nobody scored is a partition nobody
    * can trust.
    *
    *   {{{ Q = Σ_c [ m_c/m − (D_c / 2m)² ] }}}
    *
    * (m undirected edges, m_c intra-community edges, D_c total degree
    * of community c). Exact integer: `q_micro = ⌊10⁶·Σ_c(4m·m_c −
    * D_c²) / (4m²)⌋` — one sign-split floor division of decimal
    * sums (Q can be negative). Unlabeled endpoints form no community
    * and contribute only degree mass; `n_unlabeled` reports them.
    *
    * Output (one row): `(n_nodes, n_edges, n_communities, n_unlabeled,
    * q_micro)`; NULL q when the graph has no edges.
    *
    * Overflow: D_c ≤ 2m so D_c² — and ΣD_c² ≤ (ΣD_c)² = 4m² — rides
    * decimal(38,0) to m ≈ 10¹⁸ edges; the ·10⁶ scaling and the final
    * ratio run on driver-side BigInt from the two collected agg rows,
    * so they add NO further wall (the DuckDB oracle's HUGEINT tree
    * scales the numerator by 10⁶ in-engine and walls earlier, at
    * m ≈ 1.5·10¹⁵ — academic at any real graph size).
    *
    * 100 TB shape: one degree groupBy, one broadcast-or-shuffle join of
    * degrees against the label table keyed by node, one label groupBy
    * (→ community-sized), one both-endpoint label join of the edge list
    * (two vertex-keyed joins), one one-row rollup. Everything after the
    * joins is community-table-sized, and the whole op launches exactly
    * TWO driver actions — one fused agg over the node table
    * (n_nodes, n_unlabeled, Σdeg = 2m) and one fused agg over the
    * community table (n_communities, Σm_c, ΣD_c²) — instead of a count
    * per statistic.
    */
  def modularity(
      edges0: DataFrame,
      srcCol: String,
      dstCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val und = edges0
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("u"), greatest(col("s"), col("d")).as("v"))
      .distinct()
      .localCheckpoint()
    val lab = labels
      .filter(col(nodeCol).isNotNull)
      .select(col(nodeCol).cast("long").as("x"),
        col(labelCol).cast("string").as("c"))
      .groupBy("x").agg(min("c").as("c")) // one label per node, deterministic
    val deg = und.select(col("u").as("x"))
      .unionByName(und.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
    val degLab = deg.join(lab, Seq("x"), "left")
    // fused action 1: node-side stats in ONE pass (Σdeg = 2m, so the
    // separate edge count is free)
    val nodeRow = degLab.agg(
      count(lit(1)).as("nn"),
      count(when(col("c").isNull, lit(1))).as("nu"),
      coalesce(sum(col("deg")), lit(0L)).as("sd")).head()
    val nNodes = nodeRow.getLong(0)
    val nUnlabeled = nodeRow.getLong(1)
    val m = nodeRow.getLong(2) / 2
    val commDeg = degLab.filter(col("c").isNotNull)
      .groupBy("c").agg(sum(col("deg").cast(dec)).as("dc"))
    val intra = und
      .join(lab.select(col("x").as("u"), col("c").as("cu")), Seq("u"))
      .join(lab.select(col("x").as("v"), col("c").as("cv")), Seq("v"))
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("c")).agg(count(lit(1)).as("mc"))
    val comm = commDeg.join(intra, Seq("c"), "left")
      .select(col("c"), col("dc"), coalesce(col("mc"), lit(0L)).as("mc"))
    // fused action 2: community-side stats in ONE pass — Σm_c and ΣD_c²
    // are independent of m, so the numerator 4m·Σm_c − ΣD_c² assembles
    // exactly on the driver (BigInt, no decimal ·10⁶ wall)
    val commRow = comm.agg(
      count(lit(1)).as("nc"),
      sum(col("mc").cast(dec)).as("smc"),
      sum(expr(s"dc * dc")).as("sdc2")).head()
    val nComm = commRow.getLong(0)
    val q: Option[Long] =
      if (m > 0 && !commRow.isNullAt(1) && !commRow.isNullAt(2)) {
        val sMc = BigInt(commRow.getDecimal(1).toBigInteger)
        val sDc2 = BigInt(commRow.getDecimal(2).toBigInteger)
        val num = 4 * BigInt(m) * sMc - sDc2
        // BigInt `/` truncates toward zero — identical to the oracle's
        // sign-split HUGEINT `//` tree
        Some(((num * 1000000) / (4 * BigInt(m) * BigInt(m))).toLong)
      } else None
    val spark = edges0.sparkSession
    spark.range(1).select(lit(nNodes).as("n_nodes"), lit(m).as("n_edges"),
      lit(nComm).as("n_communities"), lit(nUnlabeled).as("n_unlabeled"),
      q.map(lit(_)).getOrElse(lit(null)).cast("long").as("q_micro"))
  }
}
