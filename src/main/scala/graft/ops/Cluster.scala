package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: turn near-dup candidate PAIRS (from
  * [[Dedup.ngramJaccardPairs]], [[Dedup.minhashLshPairs]],
  * [[Dedup.simhashPairs]] or [[Dedup.embeddingNearDupPairs]]) into per-node
  * cluster assignments, so a pipeline can keep one canonical document per
  * connected component instead of reasoning about an edge list.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — the standard
  * shuffle-native formulation. Each round is two `groupBy(node) → min` +
  * re-explode passes; rounds converge in O(log² n) (in practice 2-4 for
  * dedup graphs, whose components are near-cliques), NOT in O(diameter)
  * like naive label propagation, and no step ever materializes a neighbor
  * LIST (high-degree boilerplate nodes stay safe: the per-node state is one
  * running `min`).
  */
object Cluster {

  /** Connected components over an undirected edge list. Returns one row per
    * distinct node: (id, cluster) where cluster is the smallest node id in
    * the component (so the canonical "keep" doc of a dedup cluster is the
    * cluster id itself). Nodes not present in `pairs` are absent — join the
    * result back to the corpus with a left join + coalesce(cluster, id).
    */
  // Canonical directed form: (u, v) with v < u ("points to smaller").
  private def canon(e: DataFrame): DataFrame =
    e.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()

  // large-star: for every node u, link each strictly-LARGER neighbor to
  // the minimum of u's neighborhood (incl. u). Computed as a groupBy min
  // joined back to the symmetric edge list — never a collected list.
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))
    canon(sym.join(mins, "u").filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v")))
  }

  // small-star: with edges pointing to smaller nodes, re-link each node's
  // smaller neighbors (and u itself) to the minimum of that set.
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
    val relinked = e.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
    canon(relinked)
  }

  /** One large-star + small-star round over a canonical (u, v>… ) edge
    * set — exposed for PlanSpec's per-round shuffle lock.
    */
  private[graft] def ccRound(e: DataFrame): DataFrame = smallStar(largeStar(e))

  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 25): DataFrame = {
    // Each round MUST truncate the logical-plan lineage, not just cache the
    // data: persist() alone leaves round N's plan embedding rounds 1..N-1,
    // so Catalyst analysis time and the serialized task binary grow
    // geometrically with iterations (observed: 9.9 MiB task binaries and
    // ~170 s for a job that runs in ~4 s with truncation). Eager
    // localCheckpoint materializes to executor-local storage and restarts
    // the plan from the checkpointed RDD; on a real cluster with lineage-
    // loss concerns, set spark.checkpoint.dir and swap for checkpoint().
    var edges = canon(pairs.select(col(aCol).as("u"), col(bCol).as("v")))
      .localCheckpoint(true)
    // One count job per round, not two (round 16): a round's |next|
    // becomes the next round's |edges| — carrying it in a driver var
    // drops the re-count of the already-counted checkpointed set.
    var edgeCount = edges.count()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = ccRound(edges).localCheckpoint(true)
      val nextCount = next.count()
      // Star-shaped fixpoint: every edge already points at the component
      // minimum, i.e. the next round reproduces the same edge set. The
      // count compare is near-free on the two checkpointed sets and
      // short-circuits every non-final round; only a count-equal round
      // pays the set compare — and since both sides are canon()-distinct
      // by construction, a LEFT ANTI probe is exactly except() minus
      // except's two redundant per-side distincts (2 shuffles instead of
      // 4, and isEmpty stops at the first surviving row). Equivalence:
      // |next| = |edges| and next ⊆ edges ⟹ next = edges.
      converged = nextCount == edgeCount &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      val prev = edges
      edges = next
      edgeCount = nextCount
      prev.unpersist()
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // Fixpoint edges form stars (node → component min); roots map to themselves.
    val members = edges.select(col("u").as("id"), col("v").as("cluster"))
    val roots = edges.select(col("v").as("id")).distinct()
      .select(col("id"), col("id").as("cluster"))
    val out = members.union(roots).distinct()
    edges.unpersist()
    out
  }

  /** Deterministic Lloyd k-means over an embedding column, in integer
    * MICRO space: every element is shifted non-negative and rounded to
    * integer micros up front, so every distance, comparison, and centroid
    * update is exact integer arithmetic — two engines (or two runs on
    * different partitionings) produce bit-identical assignments, which
    * floating-point k-means cannot promise (summation order). Micro
    * quantization (1e-6 per element) is far below embedding noise.
    *
    * Semantics: centroids init as the `k` corpus vectors with the lowest
    * md5(id) (deterministic pseudo-random seeding), then `iters` rounds of
    * [assign → integer-mean update] (means round half-up via
    * (2S+n) div (2n), all values non-negative; clusters that lose every
    * member keep their previous centroid), and the output is the final
    * assignment (id, cluster, dist_micro) against the updated centroids.
    *
    * Scale shape: per round, one map-only assignment pass (k exact Long
    * squared-distances per row) plus one (cluster, pos) aggregation whose
    * result is k×dim rows — collected to the driver like any model
    * broadcast (bounded by the model size, not the data).
    *
    * Exactness bound: each (x-c)² term is ≤ (2·maxMicro)² ≈ 2.8e14 for
    * |v|+shift ≤ 8, and the Long sum is exact up to ~2^63/2.8e14 ≈ 3e4
    * dims — any realistic embedding width. (A double-dot formulation is
    * NOT used: its per-term products overflow 2^53 above ~70 dims, where
    * near-equidistant centroids could assign differently than the exact
    * oracle.)
    */
  def kmeansAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 1,
      shift: Double = 4.0): DataFrame = {
    val micro = microVecs(df, idCol, vecCol, shift)
    val cents = trainMicro(micro, k, iters)
    // one struct per row: distance and argmin come out of the same
    // least(...) evaluation, so each centroid distance is computed once
    micro
      .withColumn("__best", nearestStruct(cents))
      .select(
        col("id").as(idCol),
        col("__best.j").as("cluster"),
        col("__best.d").as("dist_micro"))
  }

  /** Trained centroids in the ORIGINAL vector space (micro-space training,
    * then unshift) — the quantizer feed for [[Similarity.ivfTopK]].
    */
  def kmeansCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 1,
      shift: Double = 4.0): Array[Array[Double]] =
    trainMicro(microVecs(df, idCol, vecCol, shift), k, iters)
      .map(_.map(_ / 1e6 - shift))

  private def microVecs(
      df: DataFrame, idCol: String, vecCol: String, shift: Double): DataFrame =
    df.select(
      col(idCol).as("id"),
      transform(col(vecCol),
        x => round((x.cast("double") + lit(shift)) * 1e6).cast("long")).as("xm"))

  /** least-of-structs (Σ(x-c_j)², j): lexicographic struct ordering gives
    * argmin with ties → lower j. Distances are EXACT Long arithmetic
    * (zip_with over the micro vectors) — a double Σc² - 2·x·c formulation
    * loses integer exactness past ~70 dims (per-term products exceed
    * 2^53), which would let near-equidistant centroids assign differently
    * than the integer oracle at realistic embedding widths.
    */
  private def nearestStruct(cents: Array[Array[Long]]): org.apache.spark.sql.Column = {
    val scored = cents.zipWithIndex.map { case (c, j) =>
      struct(
        aggregate(
          zip_with(col("xm"), typedLit(c.toSeq), (x, cv) => (x - cv) * (x - cv)),
          lit(0L), (acc, x) => acc + x).as("d"),
        lit(j).as("j"))
    }
    least(scored: _*)
  }

  private def trainMicro(micro: DataFrame, k: Int, iters: Int): Array[Array[Long]] = {
    require(k > 0 && iters >= 0, "k > 0, iters >= 0")
    // deterministic seeding: k lowest md5(id); bounded k×dim collect
    var cents: Array[Array[Long]] = micro
      .withColumn("r", md5(col("id").cast("string")))
      .orderBy(col("r"), col("id")).limit(k)
      .select(col("xm")).collect()
      .map(_.getSeq[Long](0).toArray)

    for (_ <- 0 until iters) {
      val sums = micro
        .withColumn("cl", nearestStruct(cents).getField("j"))
        .select(col("cl"), posexplode(col("xm")).as(Seq("pos", "v")))
        .groupBy("cl", "pos")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone()) // empty clusters keep old centroid
      sums.foreach { r =>
        val (cl, pos, s, n) = (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))
        next(cl)(pos) = (2 * s + n) / (2 * n) // round-half-up, non-negative
      }
      cents = next
    }
    cents
  }

  /** Prototypicality / outlier scoring by centroid distance (the SSL-
    * prototypes curation signal, and D4's first stage): k-means-assign
    * every vector, then rank each cluster's members by distance to their
    * centroid — `rank_far = 1` is the farthest (least prototypical).
    * `is_outlier` flags the farthest `outlierPct`% per cluster
    * (`rank_far·100 ≤ n_cluster·outlierPct`, exact integer arithmetic —
    * no percentile estimation). Distances are [[kmeansAssign]]'s exact
    * integer micros, ties broken by id, so the flag replays bit-for-bit
    * in any engine. Returns
    * `(id, cluster, dist_micro, n_cluster, rank_far, is_outlier)`.
    *
    * 100 TB shape: one window sort per cluster over (id, cluster, dist)
    * triples — payload never enters the sort, and with corpus-
    * proportional k (the SemDeDup regime) per-cluster sorts stay small;
    * the cluster with the most members bounds the critical path, not the
    * corpus.
    */
  def outlierByCentroidDist(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 1,
      outlierPct: Int = 10): DataFrame = {
    require(outlierPct >= 0 && outlierPct <= 100, s"outlierPct $outlierPct not in [0,100]")
    val a = kmeansAssign(df, idCol, vecCol, k, iters)
    val byFar = Window.partitionBy(col("cluster"))
      .orderBy(col("dist_micro").desc, col(idCol))
    a.withColumn("rank_far", row_number().over(byFar))
      .withColumn("n_cluster",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .withColumn("is_outlier",
        col("rank_far") * 100 <= col("n_cluster") * outlierPct)
  }

  /** Dedup verdict per corpus row: (id, cluster, is_canonical). Rows in no
    * pair are their own singleton cluster. `is_canonical` marks the one row
    * per cluster a dedup pass keeps (the minimum id). The corpus side is
    * only left-joined on its id — no extra shuffle beyond the join.
    */
  def dedupAssign(
      corpus: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    corpus.select(col(idCol).as("id"))
      .join(cc, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("cluster"), col("id")).as("cluster"))
      .withColumn("is_canonical", col("id") === col("cluster"))
  }

  /** Pair participants PRESENT IN THE CORPUS with their component labels:
    * the CC output covers only ids that appear in some pair (delta-sized),
    * and the intersection guards the superset case — pairs computed on a
    * pre-filter corpus may name ids the final corpus no longer has, and a
    * cluster whose labeling minimum was filtered out must still keep one
    * survivor.
    *
    * NO forced broadcast hint here: on a crawl corpus, pair participants
    * are routinely 30-50% of the corpus, which would blow the driver / the
    * 8 GB broadcast hard limit. AQE sees the CC output's real runtime size
    * and picks broadcast-hash when it IS delta-sized, degrading to a
    * shuffle join (not an OOM) when it isn't.
    */
  private def corpusParticipants(
      corpus: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String): DataFrame =
    corpus.select(col(idCol).as("id"))
      .join(connectedComponents(pairs, aCol, bCol), Seq("id"))

  /** One LEFT join applies a participant verdict to the corpus: `verdict`
    * lists every participant id with a non-null `n_dropped` for survivors;
    * dropped participants carry null and filter out; non-participants
    * (absent) survive untouched with n_dropped = 0. Broadcast is AQE's
    * call, not a hint — see [[corpusParticipants]].
    */
  private def applyVerdict(
      corpus: DataFrame,
      idCol: String,
      verdict: DataFrame): DataFrame =
    corpus.join(
        verdict.withColumnRenamed("id", idCol)
          .withColumn("__part", lit(true)),
        Seq(idCol), "left")
      .filter(col("__part").isNull || col("n_dropped").isNotNull)
      .withColumn("n_dropped", coalesce(col("n_dropped"), lit(0L)))
      .drop("__part")

  /** Apply a dedup verdict end-to-end: the surviving corpus (one canonical
    * row per near-dup cluster, all original columns) annotated with
    * `n_dropped`, the number of near-duplicates that row absorbed. This is
    * the operator a pipeline actually runs after candidate generation —
    * [[dedupAssign]] is the auditable intermediate.
    *
    * 100 TB shape: every aggregation runs over the pair-PARTICIPANT set
    * (delta-sized — only docs in some pair), never the corpus: the
    * corpus is touched by exactly two joins (participant label pickup +
    * the verdict) whose small side AQE broadcasts when it fits — no
    * corpus-wide sort, and no forced-broadcast OOM when participants are
    * a large corpus fraction.
    */
  def dedupApply(
      corpus: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val part = corpusParticipants(corpus, idCol, pairs, aCol, bCol)
    // canonical = min participant id per cluster (see corpusParticipants)
    val survivors = part.groupBy(col("cluster"))
      .agg(
        min(col("id")).as("id"),
        (count(lit(1)) - 1).cast("long").as("n_dropped"))
      .drop("cluster")
    applyVerdict(corpus, idCol, part.select(col("id"))
      .join(survivors, Seq("id"), "left"))
  }

  /** The clustered frame + pair stage of [[semDedup]], exposed so
    * PlanSpec can lock the pair plan (the final semDedup plan hides it
    * behind the CC loop's eager checkpoints). Returns the checkpointed
    * (id, cluster, v, nrm) frame and the candidate-pair plan over it.
    */
  private[graft] def semDedupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      eps: Double,
      maxCluster: Long): (DataFrame, DataFrame) = {
    val assign = kmeansAssign(corpus, idCol, vecCol, k, iters)
      .select(col(idCol), col("cluster"))
    // ONE checkpoint feeds everything downstream — the hot-cluster count,
    // the cap anti-join, both pair-join sides AND the dedupApply corpus
    // (otherwise the k-means assignment re-derives from the base table in
    // every consumer: extra scans + repeated k×dim distance maps)
    val withC = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(assign.select(col(idCol).as("id"), col("cluster")), Seq("id"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .localCheckpoint(true)
    val hot = withC.groupBy("cluster").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxCluster).select("cluster")
    val capped = withC.join(broadcast(hot), Seq("cluster"), "left_anti")
    val cos = round(
      Similarity.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6)
    // Cluster-local SHUFFLE join, pinned (round 15; the q24/q22 pattern):
    // a broadcast pick runs every within-cluster cosine inside the
    // checkpointed frame's partition layout — at bench scale a single
    // task; the hint exchanges on the cluster key so per-cluster pair
    // work (bounded by maxCluster) lands one task per cluster.
    val pairs = capped.as("a")
      .join(capped.as("b").hint("shuffle_hash"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .filter(cos >= eps)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    (withC, pairs)
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication of an embedding
    * corpus — k-means cluster the vectors, generate cosine-≥-eps pairs
    * ONLY within each cluster, connected-component the pair graph, keep
    * one survivor per semantic-dup group (min id; [[dedupApplyByScore]]
    * composes the same way for a quality-keeper). Returns surviving
    * (id, cluster) rows with `n_dropped`.
    *
    * The within-cluster restriction is the paper's whole point: the
    * corpus-wide pair space never materializes — candidates are
    * Σ|cluster|², controlled by `k` (paper: 50k clusters for LAION) and
    * hard-capped by `maxCluster` (over-cap clusters skip pair generation
    * rather than going quadratic — the [[graft.ops.Dedup]] maxBucket
    * pattern). Cosine is rounded to 6 dp (cross-engine contract); the
    * clustered frame is checkpointed once and feeds the hot-cluster
    * count, the cap anti-join and both self-join sides.
    */
  def semDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 1,
      eps: Double = 0.9,
      maxCluster: Long = 100000L): DataFrame = {
    val (withC, pairs) =
      semDedupPairs(corpus, idCol, vecCol, k, iters, eps, maxCluster)
    dedupApply(withC.select(col("id").as(idCol), col("cluster")),
      idCol, pairs, "id_a", "id_b")
  }

  /** [[dedupApply]] keeping the BEST member per near-dup cluster instead
    * of the smallest id: survivor = max `scoreCol` (min id tie-break) —
    * the keep-the-longest / keep-the-highest-quality rule real curation
    * pipelines use, since boilerplate near-dup clusters usually contain
    * one full document and many truncated copies.
    *
    * 100 TB shape: the rank window runs over the pair-PARTICIPANT set
    * only (delta-sized); the corpus is touched by two joins whose build
    * side AQE broadcasts when the participant set really is small — no
    * forced hint, so a 40%-of-corpus participant set degrades to a
    * shuffle join instead of an 8 GB broadcast failure.
    */
  def dedupApplyByScore(
      corpus: DataFrame,
      idCol: String,
      scoreCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val part = corpus.select(col(idCol).as("id"), col(scoreCol).as("__score"))
      .join(connectedComponents(pairs, aCol, bCol), Seq("id"))
    val verdict = part
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("cluster"))
          .orderBy(col("__score").desc, col("id"))))
      .withColumn("n_dropped",
        when(col("__rk") === 1,
          count(lit(1)).over(Window.partitionBy(col("cluster"))) - 1).cast("long"))
      .select(col("id"), col("n_dropped"))
    applyVerdict(corpus, idCol, verdict)
  }

  /** External clustering quality vs a reference labelling: PURITY
    * (Σ per-cluster majority-label count / n) and NMI from the
    * cluster×label contingency table — the "did the clustering find the
    * structure the labels know about" audit (k-means runs vs language
    * tags, dedup clusters vs domains). Uses the q153 integer-ln recipe:
    * `MI·n = Σ o·(ln o + ln n − ln n_c − ln n_l)` and entropies
    * `H·n = Σ n_x·(ln n − ln n_x)` with each ln floored to micro
    * BEFORE combining, so every engine sums identical integers;
    * `nmi_milli = mi_sum·1000 div max(hc_sum, hl_sum)` (the max
    * normalization) is one integer division. Returns ONE row:
    * `(n, n_clusters, n_labels, purity_micro, mi_sum, hc_sum, hl_sum,
    * nmi_milli)`; NULL nmi when either marginal entropy is 0 (a single
    * cluster or single label has no mutual structure to normalize).
    *
    * 100 TB shape: ONE map-side-combined groupBy to the contingency
    * cells (clusters×labels-sized); everything after is arithmetic on
    * that small table. No corpus re-scan, no window over rows.
    */
  def purityNmi(df: DataFrame, clusterCol: String, labelCol: String): DataFrame = {
    val cells = df
      .filter(col(clusterCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(clusterCol).as("c"), col(labelCol).as("l"))
      .agg(count(lit(1)).as("o"))
    def lnMicro(c: String) = s"floor(ln(cast($c as double)) * 1e6)"
    val margC = cells.groupBy("c")
      .agg(sum(col("o")).as("nc"), max(col("o")).as("maxc"))
    val margL = cells.groupBy("l").agg(sum(col("o")).as("nl"))
    val tot = cells.agg(sum(col("o")).as("n"))
    val mi = cells
      .join(margC.select(col("c"), col("nc")), "c")
      .join(margL, "l")
      .crossJoin(broadcast(tot))
      .agg(sum(expr(
        s"o * (${lnMicro("o")} + ${lnMicro("n")} - ${lnMicro("nc")} - ${lnMicro("nl")})"))
        .cast("long").as("mi_sum"))
    val hc = margC.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("maxc")).as("pure_sum"),
        sum(expr(s"nc * (${lnMicro("n")} - ${lnMicro("nc")})"))
          .cast("long").as("hc_sum"))
    val hl = margL.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("n_labels"),
        sum(expr(s"nl * (${lnMicro("n")} - ${lnMicro("nl")})"))
          .cast("long").as("hl_sum"))
    tot.crossJoin(mi).crossJoin(hc).crossJoin(hl)
      .withColumn("purity_micro", expr("cast(pure_sum as decimal(38,0)) * 1000000 div n"))
      // mi_sum clamps at 0 inside the division: per-term ln flooring can
      // push a truly-independent table's MI a few micro negative, and
      // negative integer division rounds differently across engines.
      .withColumn("nmi_milli",
        when(greatest(col("hc_sum"), col("hl_sum")) > 0,
          expr("""cast(greatest(mi_sum, 0L) as decimal(38,0)) * 1000
                  div greatest(hc_sum, hl_sum)""")))
      .select(col("n"), col("n_clusters"), col("n_labels"),
        col("purity_micro"), col("mi_sum"), col("hc_sum"), col("hl_sum"),
        col("nmi_milli"))
  }

  /** Adjusted Rand Index — the PAIR-COUNTING external clustering
    * agreement that [[purityNmi]]'s information-theoretic view
    * complements: the fraction of point PAIRS on which two partitions
    * agree (same-cluster vs split), corrected for the agreement two
    * random partitions of the same sizes would get — 0 ≈ chance,
    * 1 = identical partitions, negative = worse than chance. The
    * standard score for "did this dedup/clustering run reproduce the
    * reference grouping", robust to label permutation by construction.
    *
    * Fully exact: with cells n_cg, sizes a_c, b_g and T = C(N,2),
    * Sab = Σ C(n_cg,2), Sa = Σ C(a_c,2), Sb = Σ C(b_g,2):
    * ARI = (Sab − Sa·Sb/T) / (½(Sa+Sb) − Sa·Sb/T). Scaled by 2T:
    * num = 2·(Sab·T − Sa·Sb), den = (Sa+Sb)·T − 2·Sa·Sb — exact
    * decimal(38,0) products. ari_milli = 1000·num div den with the
    * division sign-split (ARI is legitimately negative; Spark `div`
    * truncates toward zero, DuckDB `//` floors — only identical when
    * split). Overflow-loud: Sab·T ~ N⁴/8 passes decimal(38,0) to
    * ~3·10⁹ rows; beyond that the decimal sum NULLs loudly rather
    * than wrapping.
    *
    * Output (one row): `(n, n_clusters, n_labels, s_pairs, s_a, s_b,
    * ari_milli)`; NULL ari when den = 0 (both partitions all
    * singletons, or each a single block — no pair structure to
    * compare).
    *
    * 100 TB shape: ONE map-side-combined groupBy to the contingency
    * cells; every later aggregate is cells/marginal-table-sized.
    */
  def adjustedRand(
      df: DataFrame,
      clusterCol: String,
      labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .filter(col(clusterCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(clusterCol).as("c"), col(labelCol).as("l"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint()
    def c2(x: String) = s"cast(cast($x as $dec) * ($x - 1) div 2 as $dec)"
    val sab = cells.agg(
      coalesce(sum("o"), lit(0L)).as("n"),
      coalesce(sum(expr(c2("o"))), lit(0).cast(dec)).as("s_pairs"))
    val sa = cells.groupBy("c").agg(sum("o").as("ac"))
      .agg(count(lit(1)).as("n_clusters"),
        coalesce(sum(expr(c2("ac"))), lit(0).cast(dec)).as("s_a"))
    val sb = cells.groupBy("l").agg(sum("o").as("bl"))
      .agg(count(lit(1)).as("n_labels"),
        coalesce(sum(expr(c2("bl"))), lit(0).cast(dec)).as("s_b"))
    sab.crossJoin(sa).crossJoin(sb)
      .withColumn("__t", expr(s"cast(cast(n as $dec) * (n - 1) div 2 as $dec)"))
      .withColumn("__num", expr("2 * (s_pairs * __t - s_a * s_b)"))
      .withColumn("__den", expr("(s_a + s_b) * __t - 2 * s_a * s_b"))
      .select(col("n"), col("n_clusters"), col("n_labels"),
        col("s_pairs").cast("long").as("s_pairs"),
        col("s_a").cast("long").as("s_a"),
        col("s_b").cast("long").as("s_b"),
        when(col("__den") > 0,
          expr("1000 * __num div __den").cast("long"))
          .as("ari_milli"))
  }

  /** BCubed precision/recall — the per-ITEM external dedup-cluster
    * evaluation (Bagga & Baldwin '98; Amigó et al. '09 showed it is
    * the only common cluster metric satisfying all four formal
    * constraints): for each item, precision = the fraction of its
    * cluster that shares its gold label, recall = the fraction of its
    * gold family found in its cluster; scores average over ITEMS, so
    * — unlike [[purityNmi]]'s set-level view or [[adjustedRand]]'s
    * pair counting — a giant wrongly-merged cluster is punished in
    * proportion to the items it pollutes. The standard score for
    * "how good are these dedup families" against a labelled sample.
    *
    * Fully exact: P = (1/N)·Σ_cells o²/n_c and R = (1/N)·Σ_cells
    * o²/n_l collapse the per-item averages to cell arithmetic
    * (each of the o items in cell (c,l) contributes o/n_c and o/n_l).
    * Per-cell micro terms (o²·10⁶) div n_c — integer, order-
    * independent — then div N; f_micro = 2·P·R div (P+R) from the
    * two integers. Per-cell flooring slack ≤ 1 micro per cell,
    * mirrored exactly in the oracle.
    *
    * Output (one row): `(n, n_clusters, n_labels, bcubed_p_micro,
    * bcubed_r_micro, bcubed_f_micro)`; NULL f when P+R = 0 (empty
    * input).
    *
    * 100 TB shape: ONE map-side-combined groupBy to the cells; two
    * marginal joins on the cell table; scalar finish.
    */
  def bcubed(
      df: DataFrame,
      clusterCol: String,
      labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .filter(col(clusterCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(clusterCol).as("c"), col(labelCol).as("l"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val mc = cells.groupBy("c").agg(sum("o").as("nc"))
    val ml = cells.groupBy("l").agg(sum("o").as("nl"))
    val terms = cells.join(mc, "c").join(ml, "l")
      .agg(
        coalesce(sum("o"), lit(0L)).as("n"),
        coalesce(sum(expr(
            s"cast(cast(o as $dec) * o * 1000000 div nc as $dec)")),
          lit(0).cast(dec)).as("__pt"),
        coalesce(sum(expr(
            s"cast(cast(o as $dec) * o * 1000000 div nl as $dec)")),
          lit(0).cast(dec)).as("__rt"))
    terms
      .crossJoin(mc.agg(count(lit(1)).as("n_clusters")))
      .crossJoin(ml.agg(count(lit(1)).as("n_labels")))
      .withColumn("bcubed_p_micro",
        when(col("n") > 0, expr("__pt div n")).cast("long"))
      .withColumn("bcubed_r_micro",
        when(col("n") > 0, expr("__rt div n")).cast("long"))
      .select(col("n"), col("n_clusters"), col("n_labels"),
        col("bcubed_p_micro"), col("bcubed_r_micro"),
        when(col("bcubed_p_micro") + col("bcubed_r_micro") > 0,
          expr("""2 * cast(bcubed_p_micro as decimal(38,0)) * bcubed_r_micro
                  div (bcubed_p_micro + bcubed_r_micro)""").cast("long"))
          .as("bcubed_f_micro"))
  }

  /** Per-cluster silhouette quality — THE standard "are these clusters
    * real" metric: for each point, `a` = mean squared distance to its
    * own cluster, `b` = the smallest mean squared distance to any other
    * cluster, silhouette = (b − a)/max(a, b) ∈ [−1, 1]. Reported per
    * cluster in exact milli: `(cluster, n_points, mean_silhouette_milli,
    * n_negative)` — `n_negative` counts points that sit closer to a
    * foreign cluster than their own (the mis-assignment queue), and a
    * cluster mean near 0 means its boundary is noise.
    *
    * Integer contract: distances are [[kmeansAssign]]'s micro-long L2
    * via the codegen [[graft.functions.VectorL2Micro]]; per-(point,
    * cluster) means floor once; the signed ratios sign-split so only
    * positive quantities are floor-divided (engine-replayable).
    * Convention: a singleton's own-cluster mean is undefined →
    * silhouette 0 (scikit-learn's choice).
    *
    * 100 TB shape: all-pairs across the clustered SAMPLE — the audit
    * shape of its siblings (q191, medoids); one pair join on a
    * non-equi cluster condition stays a broadcast NL join on the
    * sample. Run on the same capped sample the clustering was fit on.
    */
  def silhouette(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      clusterCol: String,
      shift: Double = 4.0): DataFrame = {
    val m = df
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull &&
        col(clusterCol).isNotNull)
      .select(col(clusterCol).as("cl"), col(idCol).as("id"),
        transform(col(vecCol),
          x => round((x.cast("double") + lit(shift)) * 1e6).cast("long"))
          .as("xm"))
      // spread the NL-join STREAM side before the checkpoint (round 15):
      // the clustered sample usually arrives as a handful of scan
      // partitions, and the broadcast-NL all-pairs pass below inherits
      // that layout — one task computing every n² distance at bench
      // scale. One round-robin exchange of the (sample-sized, by this
      // op's contract) frame buys full-core streaming.
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint()
    val perCl = m.as("a")
      .join(broadcast(m.as("b")), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("a.cl").as("cl"),
        col("b.cl").as("ocl"),
        graft.functions.VectorL2Micro(col("a.xm"), col("b.xm")).as("d2"))
      .groupBy("id", "cl", "ocl")
      .agg(sum(col("d2").cast("decimal(38,0)")).as("__s"),
        count(lit(1)).as("__c"))
      .withColumn("mean2", expr("cast(__s div __c as long)"))
    val own = perCl.filter(col("cl") === col("ocl"))
      .select(col("id"), col("mean2").as("a_mean"))
    val other = perCl.filter(col("cl") =!= col("ocl"))
      .groupBy("id").agg(min("mean2").as("b_mean"))
    val pts = m.select("id", "cl")
      .join(own, Seq("id"), "left")
      .join(other, Seq("id"), "left")
      .withColumn("s_milli",
        when(col("a_mean").isNull || col("b_mean").isNull, lit(0L))
          .when(col("b_mean") > col("a_mean"), expr(
            "cast(cast(b_mean - a_mean as decimal(38,0)) * 1000 div b_mean as long)"))
          .when(col("a_mean") > col("b_mean"), expr(
            "-cast(cast(a_mean - b_mean as decimal(38,0)) * 1000 div a_mean as long)"))
          .otherwise(lit(0L)))
    pts.groupBy(col("cl").as("cluster"))
      .agg(count(lit(1)).as("n_points"),
        sum("s_milli").as("__sum"),
        count(when(col("s_milli") < 0, 1)).as("n_negative"))
      .withColumn("mean_silhouette_milli", expr("__sum div n_points"))
      .select("cluster", "n_points", "mean_silhouette_milli", "n_negative")
  }

  /** Medoid (exemplar) per cluster: the member minimizing the summed
    * squared distance to every other member — the REAL point a centroid
    * approximates, which is what dataset summarization, cluster naming,
    * and coreset seeding actually want (a centroid of text embeddings
    * is nobody's document). Distances are the same exact micro-long L2
    * as [[kmeansAssign]] (quantize once, integer arithmetic after), so
    * the argmin is deterministic; ties break to the smaller id, and
    * singleton clusters are their own medoid at cost 0.
    *
    * Returns `(cluster, medoid_id, n_members, avg_dist2)` where
    * `avg_dist2` = summed pair distance div (n−1), in micro² units.
    *
    * 100 TB shape: within-cluster all-pairs on the CLUSTER key — the
    * same bounded-cluster-size contract as [[semDedup]] (k is the knob
    * that caps member count); per-pair distance is a codegen'd HOF, the
    * per-member cost sum rides decimal(38,0).
    */
  def medoids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      clusterCol: String,
      shift: Double = 4.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = df
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull &&
        col(clusterCol).isNotNull)
      .select(col(clusterCol).as("cl"), col(idCol).as("id"),
        transform(col(vecCol),
          x => round((x.cast("double") + lit(shift)) * 1e6).cast("long"))
          .as("xm"))
      .localCheckpoint()
    val sizes = m.groupBy("cl")
      .agg(count(lit(1)).as("n_members"), min("id").as("__only"))
    val costs = m.as("a")
      .join(m.as("b").hint("shuffle_hash"),
        col("a.cl") === col("b.cl") && col("a.id") =!= col("b.id"))
      .select(col("a.cl").as("cl"), col("a.id").as("id"),
        // native codegen exact long L2 (HOF lambdas interpret per element
        // — measured ~20 s at sf0.1; the custom Expression is ~1 s);
        // per-pair distance is safe in long to ~35k dims, only the
        // member SUM needs decimal
        graft.functions.VectorL2Micro(col("a.xm"), col("b.xm")).as("d2"))
      .groupBy("cl", "id")
      .agg(sum(col("d2").cast("decimal(38,0)")).as("__cost"))
    val w = Window.partitionBy(col("cl")).orderBy(col("__cost"), col("id"))
    val multi = costs
      .withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .join(sizes, "cl")
      .select(col("cl").as("cluster"), col("id").as("medoid_id"),
        col("n_members"),
        expr("cast(__cost div greatest(n_members - 1, 1) as long)")
          .as("avg_dist2"))
    val single = sizes.filter(col("n_members") === 1)
      .select(col("cl").as("cluster"), col("__only").as("medoid_id"),
        col("n_members"), lit(0L).as("avg_dist2"))
    multi.unionByName(single)
  }
}
