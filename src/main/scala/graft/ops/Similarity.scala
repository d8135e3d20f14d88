package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Scale design: the query set is broadcast (it is small by definition); the
  * corpus is never collected. Brute force is the exactness baseline; the
  * sign-random-projection (SRP) bucket path is the 100 TB route — candidates
  * shuffle on a derived bucket key, so cost is Σ|bucket|·|bucket queries|
  * instead of |corpus|·|queries|. An IVF variant is the same shape with
  * k-means centroids as the bucketer.
  *
  * All arithmetic is double-precision sequential fold (functions.aggregate),
  * and scores are rounded to 6 dp before ranking so results are reproducible
  * across engines.
  */
object Similarity {

  /** Dot product of two numeric arrays: a native codegen'd Catalyst
    * expression ([[graft.functions.VectorDot]]) — same sequential-double
    * semantics as the composable `aggregate(zip_with(...))` fold, but a
    * primitive loop inside whole-stage codegen instead of per-element
    * interpreted lambdas.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorDot(a, b)

  /** The composable formulation, kept as the differential-test reference. */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Sign-random-projection bucket: `planes` bits, one per pseudo-random
    * hyperplane. Plane weights are ±1 derived from md5 hex-digit parity of
    * (plane, dim) — deterministic, engine-portable, no stored model. Bit j =
    * 1 iff Σ_i w(j,i)·v_i > 0.
    *
    * When `dim > 0` the ±1 weights are precomputed driver-side (same md5
    * recipe) and the per-plane sum runs through the codegen'd
    * [[graft.functions.VectorDot]] against a literal weight vector — the
    * generic path recomputes one md5 PER ELEMENT PER PLANE PER ROW in
    * interpreted lambdas, which dominated near-dup runtime. Multiplying by
    * ±1.0 is bit-identical to the conditional negation, and both paths fold
    * left from 0.0, so bucket strings agree exactly (spec-asserted).
    */
  def srpBucket(vec: Column, planes: Int, dim: Int = -1): Column = {
    val bits = (0 until planes).map { j =>
      val s =
        if (dim > 0)
          dot(vec, typedLit(Array.tabulate(dim)(i => if (planeParity(j, i)) 1.0 else -1.0)))
        else {
          val weighted = zip_with(
            vec,
            sequence(lit(0), size(vec) - 1),
            (x, i) => {
              val parity =
                (instr(lit("0123456789abcdef"),
                  substring(md5(concat(lit(s"p$j-"), i.cast("string"))), 1, 1)) - 1) % 2
              when(parity === 0, x.cast("double")).otherwise(-x.cast("double"))
            })
          aggregate(weighted, lit(0.0), (acc, x) => acc + x)
        }
      when(s > 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  /** Driver-side mirror of the in-plan weight derivation: true iff the
    * first hex digit of md5("<prefix><plane>-<dim>") is even (→ weight +1).
    */
  private def planeParity(plane: Int, i: Int, prefix: String = "p"): Boolean = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$prefix$plane-$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) >> 4) & 0xf) % 2 == 0
  }

  /** Deterministic Johnson–Lindenstrauss sign projection (Achlioptas 2003):
    * `outDim` components, each `round(Σ_i w(j,i)·v_i / sqrt(outDim), 6)`
    * with ±1 weights from md5 hex-digit parity of ("jl", component, dim) —
    * the same stored-model-free recipe as [[srpBucket]], under a distinct
    * hash family so projections are independent of SRP bucket bits. JL
    * guarantees pairwise distances survive within (1±ε) for
    * outDim = O(log n / ε²), which makes this the standard cost lever in
    * front of clustering / near-dup / brute-force ANN: a 768-d corpus
    * projected to 64-d cuts every downstream dot product 12×.
    *
    * Scale shape: pure map — no shuffle, no model, no collect; weights are
    * `outDim` literal vectors compiled into codegen'd [[dot]] loops.
    * Rounding to 6 dp makes components engine-replayable (sequential fold
    * both sides). Requires a constant embedding dimension (sniffed from the
    * first row, as elsewhere).
    */
  def jlProject(
      df: DataFrame,
      vecCol: String,
      outDim: Int,
      outCol: String = "proj"): DataFrame = {
    require(outDim >= 1, "outDim >= 1")
    val dim = sniffDim(df, vecCol)
    require(dim > 0, s"cannot sniff embedding dimension of non-empty $vecCol")
    val scale = math.sqrt(outDim.toDouble)
    val comps = (0 until outDim).map { j =>
      val w = typedLit(Array.tabulate(dim)(i => if (planeParity(j, i, "jl")) 1.0 else -1.0))
      round(dot(col(vecCol), w) / scale, 6)
    }
    df.withColumn(outCol, array(comps: _*))
  }

  /** Embedding dimensionality sniffed from the first row (one-row job; at
    * scale this reads a single row group). Returns -1 for an empty/null
    * column, which falls back to the generic per-row srpBucket path.
    */
  private[graft] def sniffDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).take(1) match {
      case Array(r) if !r.isNullAt(0) => r.getInt(0)
      case _ => -1
    }

  /** Exact top-k cosine neighbors per query row (brute force): ranks the
    * full corpus per query by (rounded score desc, corpus id asc). The query
    * side is broadcast; ranking is a window partitioned by query id, which
    * AQE splits per query key. Norms are precomputed once per row — not per
    * pair — so each pair costs a single array fold.
    */
  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
    * greedily pick `k` items maximizing
    * `λ·rel(item) − (1−λ)·max_{s∈selected} sim(item, s)` — relevance to
    * the query balanced against redundancy with what's already chosen.
    * The diversity-aware retrieval / exemplar-picking primitive: top-k
    * alone returns k paraphrases of the best hit; MMR returns k distinct
    * ones. Returns `(rank, idCol, mmr_score)` in selection order.
    *
    * Determinism: relevance and pairwise similarities are cosines rounded
    * to 6 dp; the greedy combination is per-row IEEE arithmetic on those
    * rounded values (engine-identical), ties break on ascending id.
    *
    * 100 TB shape: k rounds, each ONE corpus scan + a distributed
    * `TakeOrdered(1)` — no pair materialization, nothing driver-side but
    * the k chosen vectors (model-sized, the k-means precedent). The
    * selected set rides into the scan as literal vectors through codegen'd
    * [[dot]]; the candidate frame is checkpointed once so rounds don't
    * recompute lineage.
    */
  def mmrSelect(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queryVec: Seq[Double],
      k: Int,
      lambdaPct: Int = 70): DataFrame = {
    require(k >= 1, "k >= 1")
    require(lambdaPct >= 0 && lambdaPct <= 100, "lambdaPct in [0, 100]")
    val spark = df.sparkSession
    import spark.implicits._
    val lam = lambdaPct / 100.0
    val q = typedLit(queryVec.toArray)
    val cand = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        round(cosine(col(vecCol), q), 6).as("rel"))
      .filter(col("id").isNotNull && col("rel").isNotNull)
      .localCheckpoint()
    var selected = Vector.empty[(Long, Seq[Double], Double)] // (id, vec, score)
    while (selected.size < k) {
      val remaining = cand.filter(!col("id").isin(selected.map(_._1): _*))
      val scored =
        if (selected.isEmpty) remaining.select(col("id"), col("rel").as("mmr"))
        else {
          val sims = selected.map { case (_, sv, _) =>
            round(cosine(col("v"), typedLit(sv.toArray)), 6)
          }
          val maxSim = if (sims.size == 1) sims.head else greatest(sims: _*)
          remaining.select(col("id"),
            (lit(lam) * col("rel") - lit(1.0 - lam) * maxSim).as("mmr"))
        }
      scored.orderBy(col("mmr").desc, col("id").asc).limit(1)
        .join(cand, Seq("id"))
        .select(col("id"), col("v").cast("array<double>"), col("mmr"))
        .as[(Long, Seq[Double], Double)].collect() match {
        case Array(row) => selected :+= row
        case _ => return selectedDf(spark, selected, idCol) // corpus exhausted
      }
    }
    selectedDf(spark, selected, idCol)
  }

  private def selectedDf(
      spark: org.apache.spark.sql.SparkSession,
      selected: Vector[(Long, Seq[Double], Double)],
      idCol: String): DataFrame = {
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, _, s), i) => (i + 1, id, s) }
      .toDF("rank", idCol, "mmr_score")
  }

  /** Semantic decontamination: flag corpus items whose embedding lands
    * within cosine `threshold` of ANY held-out benchmark embedding — the
    * embedding-space complement of the n-gram overlap check
    * ([[Dedup.contaminatedBy]]), catching paraphrased benchmark leakage
    * verbatim-match filters miss. Returns flagged ids with the hit count
    * and the best-matching benchmark item (max cosine, larger bench id on
    * ties — a deterministic max(struct)).
    *
    * 100 TB shape: the benchmark side is evaluation-sized and BROADCASTS;
    * the corpus streams map-side through |corpus|·|bench| codegen'd
    * VectorDots and only flagged rows reach the per-id aggregation (one
    * shuffle of hits, not the corpus).
    *
    * `excludeSameId` (default false): corpus and benchmark ids are usually
    * INDEPENDENT domains (both often 0-based sequential), so by default
    * every (corpus, bench) pair is scored — a coincidental id collision
    * must not skip a comparison. Set it to true ONLY when the bench frame
    * is a slice of the corpus sharing its id column, to keep each row from
    * trivially flagging itself at cosine 1.0.
    */
  def semanticContaminatedBy(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      bench: DataFrame,
      benchId: String,
      benchVec: String,
      threshold: Double,
      excludeSameId: Boolean = false): DataFrame = {
    val c = corpus.select(col(corpusId).as("id"), col(corpusVec).as("cv"),
      norm(col(corpusVec)).as("cn"))
    val b = bench.select(col(benchId).as("bench_id"), col(benchVec).as("bv"),
      norm(col(benchVec)).as("bn"))
    val paired =
      if (excludeSameId) c.join(broadcast(b), col("id") =!= col("bench_id"))
      else c.crossJoin(broadcast(b))
    paired
      .withColumn("score", round(dot(col("cv"), col("bv")) / (col("cn") * col("bn")), 6))
      .filter(col("score") >= threshold)
      .groupBy(col("id"))
      .agg(
        max(struct(col("score"), col("bench_id"))).as("m"),
        count(lit(1)).as("n_hits"))
      .select(col("id"), col("m.score").as("best_cosine"),
        col("m.bench_id").as("best_bench_id"), col("n_hits"))
  }

  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      queryId: String,
      queryVec: String,
      k: Int): DataFrame = {
    val scored = corpus
      .select(col(corpusId).as("nbr_id"), col(corpusVec).as("cv"),
        norm(col(corpusVec)).as("cn"))
      .join(broadcast(
        queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"),
          norm(col(queryVec)).as("qn"))),
        col("nbr_id") =!= col("query_id"))
      .withColumn("score", round(dot(col("cv"), col("qv")) / (col("cn") * col("qn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nbr_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("score"))
  }

  /** Mutual nearest-neighbor pairs: the items that pick EACH OTHER as
    * top-1 cosine neighbor — the reciprocity filter that turns one-way
    * similarity into high-precision match candidates (the MNN criterion
    * of translation mining and batch-effect alignment: one-way top-1 is
    * noisy at hub points, mutuality suppresses exactly those hubs).
    * Built on [[bruteForceTopK]]'s scoring (6-dp cosine, ties to the
    * smaller neighbor id), joined against itself on the reversed pair.
    * Returns `(id_a, id_b, score)` with `id_a < id_b`, one row per
    * mutual pair.
    *
    * Exact-audit shape, like the q167 backbone: run on a capped sample
    * or one LSH/IVF bucket — the query side broadcasts. For corpus-scale
    * mutual-NN, feed bucketed candidates through the same reciprocity
    * join instead.
    */
  def mutualTop1(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val nn = bruteForceTopK(df, df, idCol, vecCol, idCol, vecCol, k = 1)
      .select(col("query_id"), col("nbr_id"), col("score"))
    nn.alias("f")
      .join(nn.alias("r"),
        col("f.query_id") === col("r.nbr_id") &&
          col("f.nbr_id") === col("r.query_id") &&
          col("f.query_id") < col("f.nbr_id"))
      .select(col("f.query_id").as("id_a"), col("f.nbr_id").as("id_b"),
        col("f.score").as("score"))
  }

  /** Contrastive triplet mining: for each anchor, the nearest SAME-cluster
    * corpus item (positive) and the nearest OTHER-cluster item (hard
    * negative — the highest-cosine wrong answer, the example that actually
    * teaches the boundary). Returns
    * `(anchor_id, pos_id, pos_score, neg_id, neg_score)`; anchors with an
    * empty positive or negative pool are dropped (a training triplet needs
    * both sides). Cosines round to 6 dp; ties pick the larger neighbor id
    * (max over `(score, id)` structs — the q79 tie rule).
    *
    * 100 TB shape: anchors are a training-batch-sized frame and BROADCAST
    * with their cluster labels; the corpus streams map-side through
    * codegen'd [[dot]]s and collapses to two max-structs per anchor in one
    * map-side-combined aggregation — no window, no pair materialization,
    * one anchor-keyed shuffle of pre-combined partials. For corpus-scale
    * anchor sets, run per cluster-bucket batches of anchors.
    */
  def mineTriplets(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      corpusCluster: String,
      anchors: DataFrame,
      anchorId: String,
      anchorVec: String,
      anchorCluster: String): DataFrame = {
    val c = corpus.select(col(corpusId).as("nbr_id"), col(corpusVec).as("cv"),
      norm(col(corpusVec)).as("cn"), col(corpusCluster).as("ncl"))
    val a = anchors.select(col(anchorId).as("anchor_id"), col(anchorVec).as("av"),
      norm(col(anchorVec)).as("an"), col(anchorCluster).as("acl"))
    c.join(broadcast(a), col("nbr_id") =!= col("anchor_id"))
      .withColumn("score", round(dot(col("cv"), col("av")) / (col("cn") * col("an")), 6))
      .groupBy("anchor_id")
      .agg(
        max(when(col("ncl") === col("acl"), struct(col("score"), col("nbr_id")))).as("p"),
        max(when(col("ncl") =!= col("acl"), struct(col("score"), col("nbr_id")))).as("n"))
      .filter(col("p").isNotNull && col("n").isNotNull)
      .select(
        col("anchor_id"),
        col("p.nbr_id").as("pos_id"), col("p.score").as("pos_score"),
        col("n.nbr_id").as("neg_id"), col("n.score").as("neg_score"))
  }

  /** Exact all-pairs cosine ≥ `threshold` over a broadcastable table via a
    * partition-wise primitive kernel: one side is collected and broadcast as
    * primitive float arrays with precomputed norms; the pair loop runs in
    * tight JVM code instead of per-element interpreted array lambdas
    * (~50-100× faster than the HOF formulation). Work is striped across
    * partitions so the triangular loop balances.
    *
    * Scale contract: requires the TABLE side to fit in executor memory
    * (n·dim floats — 5M × 64-dim ≈ 1.2 GB). Beyond that, block with
    * [[srpBucket]] (or IVF centroids) and run this kernel per bucket.
    *
    * The numeric path (sequential fold over dims, then /(na·nb), then
    * HALF_UP rounding) is identical to the relational formulation, so
    * results are engine-reproducible.
    */
  def allPairsCosine(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      scale: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
    val n = rows.length
    val ids = rows.map(_._1)
    val vecs = rows.map(_._2)
    val norms = vecs.map { v =>
      var s = 0.0; var k = 0
      while (k < v.length) { s += v(k).toDouble * v(k).toDouble; k += 1 }
      math.sqrt(s)
    }
    val bcIds = spark.sparkContext.broadcast(ids)
    val bcVecs = spark.sparkContext.broadcast(vecs)
    val bcNorms = spark.sparkContext.broadcast(norms)
    val slices = math.max(spark.sparkContext.defaultParallelism, 1)
    // stripe rows across partitions so early (wide) rows spread out
    val striped = (0 until n).sortBy(_ % slices)
    val pairs = spark.sparkContext.parallelize(striped, slices).flatMap { i =>
      val ids = bcIds.value; val vecs = bcVecs.value; val norms = bcNorms.value
      val a = vecs(i)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var j = i + 1
      while (j < ids.length) {
        val b = vecs(j)
        var s = 0.0; var k = 0
        while (k < a.length) { s += a(k).toDouble * b(k).toDouble; k += 1 }
        val cos = s / (norms(i) * norms(j))
        val r = BigDecimal(cos).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (r >= threshold) out += ((ids(i), ids(j), r))
        j += 1
      }
      out
    }
    pairs.toDF("id_a", "id_b", "cosine")
  }

  /** IVF-style approximate top-k: a coarse quantizer of `nlist` centroids
    * partitions the corpus; each query probes its `nprobe` nearest
    * centroids and reranks only those inverted lists. This is the classic
    * big-corpus ANN layout: the corpus shuffles once on its centroid id,
    * queries broadcast, and cost per query is Σ probed-list sizes instead
    * of |corpus|.
    *
    * The quantizer here picks the `nlist` lowest-id corpus vectors as
    * centroids — deterministic and training-free (swap in k-means centroids
    * for better balance; the plan shape is identical).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      queryId: String,
      queryVec: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      trainIters: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    // trainIters > 0 swaps the training-free lowest-id quantizer for
    // deterministic k-means centroids ([[Cluster.kmeansCentroids]]) —
    // better-balanced inverted lists, identical plan shape downstream.
    val centroids =
      if (trainIters > 0)
        Cluster.kmeansCentroids(corpus, corpusId, corpusVec, nlist, trainIters)
          .zipWithIndex
          .map { case (v, j) => (j.toLong, v.map(_.toFloat)) }
      else corpus
        .select(col(corpusId).cast("long").as("cid"), col(corpusVec).as("cv"))
        .orderBy(col("cid")).limit(nlist).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val centDf = broadcast(spark.createDataFrame(
      centroids.toSeq.map { case (id, v) => (id, v) }).toDF("cent_id", "cent_v"))

    // nearest-n centroids per vector: cross-join against the broadcast
    // centroid table, rank by cosine (the vector's own norm is rank-neutral)
    def assignN(df: DataFrame, idCol: String, vecCol: String, n: Int): DataFrame = {
      val w = Window.partitionBy(col(idCol))
        .orderBy((dot(col(vecCol), col("cent_v")) / norm(col("cent_v"))).desc, col("cent_id"))
      df.crossJoin(centDf)
        .withColumn("__cr", row_number().over(w))
        .filter(col("__cr") <= n)
        .drop("__cr", "cent_v")
    }
    val bucketedCorpus = assignN(
      corpus.select(col(corpusId).as("nbr_id"), col(corpusVec).as("cv")), "nbr_id", "cv", 1)
    val probes = assignN(
      queries.select(col(queryId).as("query_id"), col(queryVec).as("qv")), "query_id", "qv", nprobe)
    val scored = bucketedCorpus.join(broadcast(probes), Seq("cent_id"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("score", round(dot(col("cv"), col("qv")) / (norm(col("cv")) * norm(col("qv"))), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nbr_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("score"))
  }

  /** Product-quantization ADC top-k (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): each vector splits into
    * `m` subvectors, each subvector is replaced by the id of its nearest
    * sub-codebook centroid, and search runs entirely in the compressed
    * code domain via an Asymmetric Distance Computation lookup table.
    *
    * Scale shape — this is the memory-side complement of IVF's
    * compute-side pruning: a 64-dim float vector (256 B) becomes `m`
    * small ints (4 B at m=4), a 64× compression, so a 100 TB embedding
    * corpus scans as ~1.5 TB of codes. The encode pass is map-only
    * against DRIVER-LITERAL codebooks (nlist·dim doubles — KBs), the
    * query LUTs ride a broadcast, and the corpus never shuffles: the only
    * wide op is the per-query top-k window on the (tiny) scored
    * candidate set. Squared-L2 distances are micro-quantized to BIGINT
    * before the per-subspace sum, so the ADC total is an exact integer —
    * reproducible across engines regardless of fp summation order.
    *
    * The sub-codebooks are training-free by default: subvectors of the
    * `codes` lowest-id corpus vectors (same determinism recipe as
    * [[ivfTopK]]'s quantizer); `trainIters > 0` swaps in per-subspace
    * deterministic k-means — the PQ-paper recipe — with an identical
    * plan shape. Ties in both the encode argmin and the final rank break
    * on the lower id.
    *
    * `rerank > 0` enables the standard two-stage deployment: ADC keeps a
    * per-query shortlist of that many candidates, which alone fetch raw
    * vectors for an exact squared-L2 rerank (broadcast semi-join — the
    * corpus still never shuffles). Aggressive code sizes trade recall
    * for scan cost; reranking ~10·k recovers most of it (measured 0.16 →
    * 0.72 recall@5 at m=8, rerank=50 on the synthetic embeddings).
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      queryId: String,
      queryVec: String,
      k: Int,
      m: Int = 4,
      codes: Int = 16,
      trainIters: Int = 0,
      rerank: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    val dim = sniffDim(corpus, corpusVec)
    require(dim % m == 0, s"embedding dim $dim must split evenly into $m subspaces")
    val sub = dim / m

    // Sub-codebooks. trainIters = 0: subvectors of the `codes` lowest-id
    // corpus vectors (training-free, oracle-replayable). trainIters > 0:
    // per-subspace deterministic k-means ([[Cluster.kmeansCentroids]] on
    // the sliced subvector space) — the PQ-paper recipe, much tighter
    // cells; m bounded trainings, each collecting only codes×(dim/m)
    // doubles. Self-dots precompute driver-side with the same double fold
    // as the in-plan VectorDot, so literals and engine arithmetic agree
    // exactly.
    val perSubspace: Array[Array[Array[Double]]] =
      if (trainIters > 0)
        Array.tabulate(m) { j =>
          Cluster.kmeansCentroids(
            corpus.select(
              col(corpusId).as("id"),
              slice(col(corpusVec), j * sub + 1, sub).as("sv")),
            "id", "sv", codes, trainIters)
        }
      else {
        val cents = corpus
          .select(col(corpusId).cast("long").as("cid"), col(corpusVec).as("cv"))
          .orderBy(col("cid")).limit(codes).collect()
          .map(_.getSeq[Float](1).toArray.map(_.toDouble))
        require(cents.length == codes, s"corpus has fewer than $codes vectors")
        Array.tabulate(m)(j => cents.map(_.slice(j * sub, j * sub + sub)))
      }
    require(perSubspace.forall(_.length == codes),
      s"corpus has fewer than $codes vectors")
    def centSub(c: Int, j: Int): Array[Double] = perSubspace(j)(c)
    def selfDot(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      s
    }

    // squared L2 from subvector sv (self-dot precomputed once per j) to
    // literal centroid c of subspace j
    def d2(sv: Column, svSelf: Column, c: Int, j: Int): Column = {
      val cv = centSub(c, j)
      svSelf - lit(2.0) * dot(sv, typedLit(cv)) + lit(selfDot(cv))
    }
    def withSubCols(df: DataFrame, vec: String): DataFrame =
      (0 until m).foldLeft(df) { (d, j) =>
        d.withColumn(s"__sv$j", slice(col(vec), j * sub + 1, sub))
          .withColumn(s"__ss$j", dot(col(s"__sv$j"), col(s"__sv$j")))
      }

    // encode: per subspace, 1-based argmin over the code distances
    // (array_position finds the FIRST minimum — ties to the lower code)
    val enc = withSubCols(
      corpus.select(col(corpusId).as("nbr_id"), col(corpusVec).as("__v")), "__v")
      .withColumn("__codes", array((0 until m).map { j =>
        val dists = array((0 until codes).map(c =>
          d2(col(s"__sv$j"), col(s"__ss$j"), c, j)): _*)
        array_position(dists, array_min(dists)).cast("int")
      }: _*))
      .select(col("nbr_id"), col("__codes"))

    // query LUTs: micro-quantized distance to EVERY code of every
    // subspace; lut[j][c] indexes directly by the stored 1-based code
    val lutQueries = withSubCols(
      queries.select(col(queryId).as("query_id"), col(queryVec).as("__q")), "__q")
      .withColumn("__lut", array((0 until m).map { j =>
        array((0 until codes).map(c =>
          round(d2(col(s"__sv$j"), col(s"__ss$j"), c, j) * 1e6).cast("long")): _*)
      }: _*))
      .select(col("query_id"), col("__lut"))

    // ADC: integer sum of per-subspace LUT entries — map-side over the
    // code table with the broadcast LUTs
    val scored = enc.crossJoin(broadcast(lutQueries))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("dist",
        aggregate(
          zip_with(col("__codes"), col("__lut"), (cd, l) => element_at(l, cd)),
          lit(0L),
          (acc, x) => acc + x))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("nbr_id").asc)

    if (rerank <= 0)
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("nbr_id"), col("dist"))
    else {
      // Two-stage search — the deployment shape: the ADC pass keeps a
      // per-query shortlist of `rerank` ids (compressed-domain scan, no
      // raw vectors touched), then ONLY those candidates fetch their raw
      // vectors for an exact squared-L2 rerank. The shortlist is
      // queries×rerank rows — broadcast-sized by construction — so the
      // corpus-side fetch is a broadcast semi-join: the 100 TB vector
      // table is read map-side, never shuffled. Exact distances are
      // micro-quantized the same way as the LUT entries, keeping the
      // compare integer-exact.
      val shortlist = scored
        .withColumn("rank0", row_number().over(w))
        .filter(col("rank0") <= rerank)
        .select(col("query_id"), col("nbr_id"))
      val corpusVecs = corpus.select(col(corpusId).as("nbr_id"), col(corpusVec).as("cv"))
      val queryVecs = queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))
      val exactD2 = dot(col("cv"), col("cv")) -
        lit(2.0) * dot(col("cv"), col("qv")) +
        dot(col("qv"), col("qv"))
      val wr = Window.partitionBy(col("query_id"))
        .orderBy(col("dist").asc, col("nbr_id").asc)
      corpusVecs.join(broadcast(shortlist), Seq("nbr_id"))
        .join(broadcast(queryVecs), Seq("query_id"))
        .withColumn("dist", round(exactD2 * 1e6).cast("long"))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("nbr_id"), col("dist"))
    }
  }

  /** Approximate top-k: rank only within the query's SRP bucket, or — with
    * `probeBits = 1` — within the query's bucket plus every 1-bit-flip
    * neighbor bucket (standard multi-probe LSH: a near neighbor that fell
    * on the far side of ONE hyperplane is recovered without coarsening
    * `planes` for everyone). Recall improves with fewer planes, and at
    * fixed planes with multi-probe; exactness is [[bruteForceTopK]].
    *
    * One shuffle on the bucket key either way: probing explodes the
    * BROADCAST query side into planes+1 probe rows — the corpus keeps
    * exactly one bucket per row, so corpus cost is unchanged and no
    * candidate can be produced twice (probe buckets are distinct).
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      queryId: String,
      queryVec: String,
      k: Int,
      planes: Int = 8,
      probeBits: Int = 0): DataFrame = {
    require(probeBits >= 0 && probeBits <= 1,
      "probeBits ∈ {0, 1}: deeper probe rings grow combinatorially — " +
        "lower planes instead")
    val dim = sniffDim(corpus, corpusVec)
    val c = corpus.select(
      col(corpusId).as("nbr_id"), col(corpusVec).as("cv"),
      norm(col(corpusVec)).as("cn"),
      srpBucket(col(corpusVec), planes, dim).as("bk"))
    val q0 = queries.select(
      col(queryId).as("query_id"), col(queryVec).as("qv"),
      norm(col(queryVec)).as("qn"),
      srpBucket(col(queryVec), planes, dim).as("bk"))
    val q =
      if (probeBits == 0) q0
      else {
        val flips = (0 until planes).map { j =>
          val flipped = when(substring(col("bk"), j + 1, 1) === "1", "0").otherwise("1")
          concat(
            substring(col("bk"), 1, j), flipped,
            substring(col("bk"), j + 2, planes - j - 1))
        }
        q0.select(col("query_id"), col("qv"), col("qn"),
          explode(array((col("bk") +: flips): _*)).as("bk"))
      }
    val scored = c.join(broadcast(q), Seq("bk"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("score",
        round(dot(col("cv"), col("qv")) / (col("cn") * col("qn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nbr_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("score"))
  }

  /** Symmetric int8 quantization of an embedding column — the 4×
    * storage/shuffle saver for corpus-scale vector columns: per vector,
    * `scale = max|v| / 127` and `q_i = round(v_i / scale)`, plus the RMS
    * reconstruction error as the quality audit. Map-only column
    * expressions; at 100 TB the win is every DOWNSTREAM pass (ANN
    * bucketing, dedup banding) shuffling a quarter of the bytes.
    *
    * Determinism: per-dimension squared-error terms quantize to integer
    * picos and sum exactly (order-free), the scale/q math is single-op
    * double sequences — the engine's cross-engine recipe throughout.
    * All-zero vectors quantize to all-zero with scale 0 (guarded divide).
    */
  def quantizeInt8(
      df: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val base = df.select(
      col(idCol),
      col(vecCol).as("__v"),
      (array_max(transform(col(vecCol), x => abs(x.cast("double")))) / 127.0)
        .as("scale"))
    base
      .withColumn("q",
        when(col("scale") === 0.0, transform(col("__v"), _ => lit(0)))
          .otherwise(transform(col("__v"),
            x => round(x.cast("double") / col("scale")).cast("int"))))
      .withColumn("__ep",
        aggregate(
          zip_with(col("__v"), col("q"), (x, qi) => {
            val d = x.cast("double") - qi.cast("double") * col("scale")
            round(d * d * lit(1e12)).cast("long")
          }),
          lit(0L), (a, t) => a + t))
      .select(
        col(idCol),
        col("scale"),
        col("q"),
        round(sqrt(col("__ep").cast("double") / 1e12 / size(col("__v"))), 6)
          .as("rmse"))
  }

  /** Reconstruct an `array<float>` embedding from [[quantizeInt8]] output
    * (`q_i * scale`) so quantized corpora drop straight back into the
    * ANN/banding operators. OpsSpec checks top-k recall survives the
    * round-trip.
    */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, qi => (qi.cast("double") * scale).cast("float"))

  /** Reciprocal-rank fusion (Cormack et al. 2009) of multiple candidate
    * rankings per query — the standard way to ensemble BM25, ANN, and
    * quality signals into one list without score calibration:
    * rrf(d) = Σ_methods 1/(k0 + rank_method(d)). Input is the stacked
    * long form (query, item, method, score); ranks are computed per
    * (query, method) by (score desc, item asc), each reciprocal is
    * floored to integer MICROS, and the fused score is their exact
    * integer sum — engine-replayable, aggregation-order-proof. Returns
    * (query, item, n_methods, rrf_micro, fused_rank) with fused ties
    * broken on ascending item.
    *
    * 100 TB shape: candidate lists are per-query (retrieval-sized), so
    * the rank windows partition on (query, method) and the fuse
    * aggregates on (query, item) — two shuffles over candidate rows
    * only, never over a corpus; skew equals the largest candidate list.
    */
  def rrfFuse(
      candidates: DataFrame,
      queryCol: String,
      itemCol: String,
      methodCol: String,
      scoreCol: String,
      k0: Int = 60): DataFrame = {
    require(k0 >= 1, s"k0=$k0 must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val ranked = candidates.withColumn("__r",
      row_number().over(
        Window.partitionBy(col(queryCol), col(methodCol))
          .orderBy(col(scoreCol).desc, col(itemCol))))
    ranked
      .withColumn("__rr6", expr(s"1000000L div (${k0}L + __r)"))
      .groupBy(col(queryCol), col(itemCol))
      .agg(
        count(lit(1)).as("n_methods"),
        sum(col("__rr6")).as("rrf_micro"))
      .withColumn("fused_rank",
        row_number().over(
          Window.partitionBy(col(queryCol))
            .orderBy(col("rrf_micro").desc, col(itemCol))))
  }

  /** Per-group embedding centroid drift between two corpus snapshots —
    * the embedding-space distribution-shift monitor (did this week's
    * crawl move a domain/label's semantic center?): for every group
    * present in BOTH frames, the cosine and L2 distance between the two
    * group centroids, with the group sizes for context. Returns
    * `(<groupCol>, n_a, n_b, centroid_cos, l2_micro)`.
    *
    * Determinism contract: each vector component is micro-rounded once
    * (round(x·1e6), the [[quantizeInt8]] recipe), component sums are
    * exact integer arithmetic, and the centroid component is
    * floor(sum/n) computed through an IEEE double division (double stays
    * exact below 2^53 — at 1e6-scale micros that is ~9e9 rows per group;
    * beyond that, pre-shard groups). Cosine divides integer dot/norm
    * sums under IEEE sqrt (exactly specified, unlike ln) and rounds to
    * 6 dp; L2 is the micro-rounded root of an integer sum. Every step
    * replays bit-for-bit in any engine.
    *
    * 100 TB shape: each side is one component explode into a
    * map-side-combined (group, dim) sum — the moved data collapses to
    * |groups|·dims rows — plus a |groups|-row count; the centroid tables
    * join on (group, dim) and reduce to one row per group. Nothing
    * corpus-sized shuffles unreduced, nothing is collected.
    */
  def centroidDrift(
      a: DataFrame,
      b: DataFrame,
      idCol: String,
      vecCol: String,
      groupCol: String): DataFrame = {
    def centroids(df0: DataFrame, nName: String): DataFrame = {
      // null vectors carry no components, so they must not inflate the
      // divisor either
      val df = df0.filter(col(vecCol).isNotNull)
      val comps = df.select(
        col(groupCol).as("__g"),
        posexplode(col(vecCol)).as(Seq("dim", "__x")))
        .select(col("__g"), col("dim"),
          round(col("__x").cast("double") * 1e6).cast("long").as("__m"))
      val counts = df.groupBy(col(groupCol).as("__g"))
        .agg(count(lit(1)).as(nName))
      comps.groupBy(col("__g"), col("dim"))
        .agg(sum(col("__m")).as("__s"))
        .join(counts, Seq("__g"))
        .select(col("__g"), col("dim"), col(nName),
          floor(col("__s").cast("double") / col(nName)).cast("long").as("__c"))
    }
    val ca = centroids(a, "n_a").withColumnRenamed("__c", "__ca")
    val cb = centroids(b, "n_b").withColumnRenamed("__c", "__cb")
    ca.join(cb, Seq("__g", "dim"))
      .groupBy(col("__g"), col("n_a"), col("n_b"))
      .agg(
        sum(col("__ca") * col("__cb")).as("__dot"),
        sum(col("__ca") * col("__ca")).as("__na2"),
        sum(col("__cb") * col("__cb")).as("__nb2"),
        sum((col("__ca") - col("__cb")) * (col("__ca") - col("__cb"))).as("__d2"))
      .select(
        col("__g").as(groupCol), col("n_a"), col("n_b"),
        when(col("__na2") === 0L || col("__nb2") === 0L, lit(null))
          .otherwise(round(
            col("__dot").cast("double") /
              (sqrt(col("__na2").cast("double")) * sqrt(col("__nb2").cast("double"))), 6))
          .as("centroid_cos"),
        round(sqrt(col("__d2").cast("double"))).cast("long").as("l2_micro"))
  }

  /** Rank-biased overlap (Webber et al., TOIS 2010) between two top-k
    * rankings per query — the standard metric for "how close is the
    * approximate ranking to the exact one", here closing the ANN loop:
    * score [[lshTopK]] / [[ivfTopK]] / [[pqTopK]] against
    * [[bruteForceTopK]] as a first-class query instead of an offline
    * eyeball. RBO@k = Σ_{d=1..k} (1-p)·p^(d-1)·|A_d ∩ B_d|/d where A_d is
    * the top-d prefix; top-weighted (early agreement counts most), and
    * well-defined when the lists share only some items.
    *
    * Exactness: the geometric weights are floored to integer NANOS once
    * on the driver and inlined as literals, each term is an exact-integer
    * `(w_d · X_d) DIV d`, and X_d (overlap at depth d) comes from the
    * identity "item enters the overlap at depth max(rank_a, rank_b)" — so
    * any engine replays the metric bit-for-bit. Also emits `overlap_k`
    * and `recall_k` (= X_k/k, 4 dp).
    *
    * 100 TB shape: the join is on (query, item) over two top-k tables —
    * both already k·|queries| rows, NEVER corpus-sized; the depth explode
    * is ≤ k rows per matched item. Queries with zero overlap still emit a
    * row (rbo 0) via the left join back to the query list.
    */
  def rankBiasedOverlap(
      a: DataFrame,
      b: DataFrame,
      queryCol: String,
      itemCol: String,
      rankCol: String,
      k: Int,
      p: Double = 0.9): DataFrame = {
    require(k >= 1 && k <= 1000, s"k $k out of [1,1000]")
    require(p > 0 && p < 1, s"p $p out of (0,1)")
    val w = (1 to k).map(d => math.floor((1 - p) * math.pow(p, d - 1) * 1e9).toLong)
    def ranks(df: DataFrame, rn: String) = df.select(
      col(queryCol).as("qid"), col(itemCol).as("item"),
      col(rankCol).cast("long").as(rn)).filter(col(rn) <= k && col(rn) >= 1)
    val m = ranks(a, "ra").join(ranks(b, "rb"), Seq("qid", "item"))
      .select(col("qid"), greatest(col("ra"), col("rb")).as("m"))
    val agg = m.select(col("qid"), explode(sequence(col("m"), lit(k.toLong))).as("d"))
      .groupBy(col("qid"), col("d")).agg(count(lit(1)).as("x"))
      .withColumn("w", element_at(array(w.map(lit): _*), col("d").cast("int")))
      .withColumn("t", expr("((w * x) DIV d)"))
      .groupBy(col("qid"))
      .agg(sum(col("t")).as("rbo_nano"),
        max(when(col("d") === k, col("x"))).as("overlap_k"))
    a.select(col(queryCol).as("qid")).distinct()
      .join(agg, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("rbo_nano"), lit(0L)).as("rbo_nano"),
        coalesce(col("overlap_k"), lit(0L)).as("overlap_k"))
      .withColumn("recall_k", round(col("overlap_k").cast("double") / k, 4))
  }

  /** Embedding QA gate: per-row verdicts for the failure modes that
    * silently poison ANN indexes and centroid math — NULL vectors, wrong
    * dimensionality, NaN/NULL elements, zero vectors (cosine undefined).
    * Output: id, `dim`, `issue` (first violation: `null_vector` >
    * `bad_dim` > `bad_element` > `zero_vector`, NULL when clean),
    * `valid`, and `l2_micro` (micro-rounded L2 norm, NULL unless valid —
    * the magnitude profile feeds normalization decisions).
    *
    * The norm is the sequential double fold both engines replay
    * (float→double is exact; x² sums fold left-to-right), rounded once.
    * Map-only codegen; the rollup a caller adds is one (issue, count)
    * aggregation.
    */
  def embeddingChecks(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      expectedDim: Int): DataFrame = {
    require(expectedDim >= 1, s"expectedDim $expectedDim must be >= 1")
    val v = col(vecCol)
    val badElem = exists(v, x => x.isNull || isnan(x))
    val zero = !exists(v, x => x =!= 0.0f)
    val sumsq = aggregate(v, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val issue = when(v.isNull, "null_vector")
      .when(size(v) =!= expectedDim, "bad_dim")
      .when(badElem, "bad_element")
      .when(zero, "zero_vector")
    df.select(
      col(idCol).as("id"),
      when(v.isNull, lit(0)).otherwise(size(v)).cast("long").as("dim"),
      issue.as("issue"),
      issue.isNull.as("valid"),
      when(issue.isNull, round(sqrt(sumsq) * 1e6).cast("long")).as("l2_micro"))
  }

  /** Per-DIMENSION affine int8 quantization audit — the third member of
    * the compression family, deliberately distinct from its siblings:
    * [[quantizeInt8]] is per-VECTOR symmetric (one scale per row, the
    * map-only inline shuffle-saver), [[pqTopK]]'s product quantizer is
    * per-SUBSPACE codebooks; this is the FAISS-SQ8-style corpus-wide
    * per-dimension min/max grid — the layout a vector store trains once
    * and applies to every insert. The audit reports how much geometry
    * that grid loses BEFORE the store is rebuilt at 4 bytes→1 byte: a
    * dimension whose error dwarfs the others is the outlier dimension
    * to clip or rotate first (per-vector scaling can't see this — its
    * scale moves with each row).
    *
    * Exact integers: components micro-floor; per-dim min/max are exact;
    * the code is one half-up integer rounding
    * `⌊(2·255·(v−min) + range) / (2·range)⌋` and the reconstruction
    * `min + ⌊(2·code·range + 255) / (2·255)⌋` — every operand
    * non-negative, so Spark `div` and DuckDB `//` agree with no
    * sign-split needed. Degenerate dimensions (range 0) reconstruct
    * exactly and report zero error.
    *
    * Output: one row per dimension `(dim, n, min_micro, max_micro,
    * mean_abs_err_micro, max_abs_err_micro)`.
    *
    * 100 TB shape: posexplode + map-side-combined groupBy(dim) collapse
    * to a dim-row min/max table that BROADCASTS back onto the exploded
    * stream (dim is tiny by definition); the error pass is map-side
    * arithmetic + one more dim-keyed combine. Two corpus reads, zero
    * corpus-sized shuffles.
    */
  def sqQuantizeAudit(
      df: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val cells = df
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .withColumn("__c", floor(col("__x").cast("double") * 1e6).cast("long"))
      .select("dim", "__c")
    val bounds = cells.groupBy(col("dim"))
      .agg(min("__c").as("min_micro"), max("__c").as("max_micro"))
      .withColumn("range", col("max_micro") - col("min_micro"))
    cells.join(broadcast(bounds), "dim")
      .withColumn("code",
        expr("""case when range = 0 then 0
                else (2 * 255 * (__c - min_micro) + range) div (2 * range)
                end"""))
      .withColumn("recon",
        expr("""case when range = 0 then min_micro
                else min_micro + (2 * code * range + 255) div (2 * 255)
                end"""))
      .withColumn("err", abs(col("__c") - col("recon")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        min(col("min_micro")).as("min_micro"),
        max(col("max_micro")).as("max_micro"),
        // err·rows can pass int64 at corpus scale — sum in decimal,
        // the mean (≤ per-row err) returns to long via div
        expr("sum(cast(err as decimal(38,0))) div count(1)")
          .as("mean_abs_err_micro"),
        max(col("err")).as("max_abs_err_micro"))
  }

  /** Per-class embedding centroid report — the WITHIN-snapshot member of
    * the centroid family ([[centroidDrift]] compares a group's centroid
    * ACROSS two snapshots; this compares each class against its own
    * corpus's global mean): per label, the exact integer-micro
    * centroid's norm and its cosine to the GLOBAL centroid. A class whose centroid sits far from the global mean at
    * high norm is a separated mode; cosine ≈ 1 at low norm is a class
    * the embedding can't tell from the average — both are findings a
    * mean-pooling consumer needs before training on the labels.
    *
    * Exactness: components micro-floor per row; per-(label, dim) sums
    * are int64 (10¹³-row micro bound); centroid components are one
    * sign-split integer divide each (components are SIGNED — div
    * truncates, // floors, they only agree after the split); dot and
    * norm² of the integer centroids are exact int64
    * (dim · (10⁶·max|v|)² < 2⁶³ — fine to |v| ≈ 10³ at dim 1024);
    * cosine is ONE fixed double expression of those exact integers,
    * floored to micro.
    *
    * Output: one row per label `(label, n, norm_micro,
    * cos_global_micro)`; cosine NULL for a zero centroid (no
    * direction).
    *
    * 100 TB shape: posexplode fans each row to `dim` cells IN THE MAP
    * STAGE and the groupBy(label, dim) combines them map-side, so the
    * one shuffle carries |labels|·dim cells, not corpus·dim; the global
    * centroid is a dim-row aggregate OF THE CELL TABLE (no second
    * corpus pass), broadcast-joined back on dim.
    */
  def classCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String): DataFrame = {
    val cells = df
      .filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .withColumn("__c", floor(col("__x").cast("double") * 1e6).cast("long"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum("__c").as("s"))
      .localCheckpoint()
    val global = cells.groupBy(col("dim"))
      .agg(sum("n").as("gn"), sum("s").as("gs"))
      .withColumn("g", expr("gs div gn"))
      .select(col("dim"), col("g"))
    val comps = cells
      .withColumn("m", expr("s div n"))
      .join(broadcast(global), "dim")
    comps.groupBy(col("label"))
      .agg(max(col("n")).as("n"),
        sum(col("m") * col("m")).as("qa"),
        sum(col("m") * col("g")).as("dot"),
        sum(col("g") * col("g")).as("qg"))
      .withColumn("norm_micro",
        expr("cast(floor(sqrt(cast(qa as double))) as long)"))
      .withColumn("cos_global_micro", expr(
        """case when qa > 0 and qg > 0 then
             cast(floor(1000000.0 * cast(dot as double)
               / (sqrt(cast(qa as double)) * sqrt(cast(qg as double))))
             as long) end"""))
      .select("label", "n", "norm_micro", "cos_global_micro")
  }

  /** Greedy k-center (farthest-point) selection — the diverse-coreset
    * sampler for data selection: each round picks the point FARTHEST
    * from everything already chosen, so k rounds cover the embedding
    * space with the classic 2-approximation of the optimal k-center
    * cover. The selection a fine-tuning pipeline uses to pick maximally
    * diverse exemplars, and the radius column is the covering-radius
    * curve (how much of the space the first r picks already cover).
    *
    * Deterministic: the seed is the LOWEST id; every later round breaks
    * ties (same min-distance) by lowest id; distances are
    * [[graft.functions.VectorL2Micro]]'s exact integer micro² squared
    * L2 on floored-micro vectors — a pure function of the data, so an
    * oracle unrolls the same rounds. Component bound: |x|·10⁶ ≲ 8·10⁶
    * keeps Σd² inside int64 past 35k dims (the VectorL2Micro bound).
    *
    * Output per round: `(round, centroid_id, radius_mm)` — radius_mm
    * is the selected point's min-distance² to the earlier picks (NULL
    * for the seed); non-increasing by construction.
    *
    * 100 TB shape: k map-only corpus passes (each: one broadcast-
    * literal distance + `least`, localCheckpoint'd so lineage stays
    * flat) + k TakeOrdered argmax reductions (per-partition top-1 +
    * driver merge — no global sort); driver holds k vectors. `k ≤ 64`
    * loud-bounded.
    */
  def kCenterSelect(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 4): DataFrame = {
    require(k >= 2 && k <= 64, s"k $k must lie in [2, 64]")
    val m = df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol),
          x => floor(x.cast("double") * 1e6).cast("long")).as("xm"))
      .localCheckpoint()
    val first = m.orderBy("id").take(1)
    require(first.nonEmpty, "kCenterSelect: empty input")
    var picks = List[(Long, Long, Option[Long])](
      (1L, first(0).getLong(0), None))
    var mind = m.select(col("id"), col("xm"),
      graft.functions.VectorL2Micro(col("xm"),
        typedLit(first(0).getSeq[Long](1))).as("mind"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val nxt = mind.orderBy(col("mind").desc, col("id").asc).take(1)(0)
      picks ::= ((r.toLong, nxt.getLong(0), Some(nxt.getLong(2))))
      mind = mind.select(col("id"), col("xm"),
        least(col("mind"), graft.functions.VectorL2Micro(col("xm"),
          typedLit(nxt.getSeq[Long](1)))).as("mind"))
        .localCheckpoint()
    }
    val spark = df.sparkSession
    import spark.implicits._
    picks.reverse.toDF("round", "centroid_id", "radius_mm")
  }

  /** Top principal component of the (mean-centered) embedding corpus by
    * power iteration — the dominant direction every embedding-hygiene
    * recipe needs: all-but-the-top postprocessing removes it, isotropy
    * audits measure it, drift monitors track it. Runs a FIXED number of
    * iterations over an INTEGER-QUANTIZED state (the Bradley–Terry
    * replay contract): v stays a micro unit vector; each iteration is
    * `dot_i = Σ_d x̃_id·v_d` (exact decimal, floor-rescaled to micro) →
    * `w_d = Σ_i x̃_id·dot_i` (exact decimal, rescaled) → one double
    * sqrt for the norm → exact renormalize. Every step is a pure
    * function of the data, so an oracle unrolls the same iterations.
    * Sign fixed deterministically: the component with the largest |v|
    * (tie → lowest dim) is made non-negative.
    *
    * Output per dimension: `(dim, n, mean_micro, pc_micro,
    * score_micro)` — pc is the unit eigenvector in micro;
    * `score_micro = ⌊‖Σᵢ x̃ᵢ(x̃ᵢ·v̂)‖⌋` (micro² Gram-image norm of the
    * final unit vector — grows as n·λ, so compare per-corpus, not
    * across sizes) repeated on every row. Headroom: the rescaled
    * Gram image must fit int64 — `n·maxdim·|x̃|²_micro/10¹² < 2⁶³`,
    * i.e. ~10¹¹ rows of unit-range 64-dim embeddings; beyond that,
    * pre-scale the vectors down (the direction is scale-invariant).
    *
    * 100 TB shape (round 16 rewrite): the state (μ, v — dim-sized) lives
    * on the DRIVER as exact integers and enters each pass as literal
    * per-dimension expressions, so the corpus is never exploded to
    * (row, dim) cells and NOTHING is ever shuffled by id or dim: one
    * scalar aggregate computes (n_d, Σx_d) for every dimension, then
    * each iteration is ONE map-side pass — dot_i folds inline on the
    * row's own array, and the dim-wise Gram sums Σᵢ x̃_id·dot_i
    * map-side-combine into a single one-row result. iters+1 corpus
    * scans, zero data shuffles, versus the previous cell checkpoint +
    * 2·iters cell-table shuffles (measured 35 driver jobs → 7). The
    * literal-expression state bounds `dims` (hard require, 4096) —
    * far above any embedding width; the arithmetic is step-for-step
    * the old dataflow (same micro floors, same decimal sums, same
    * sign-split divisions — BigInt `/` truncates toward zero exactly
    * like the `div` tree), so outputs are bit-identical.
    */
  def topPrincipalComponent(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 5,
      s"iters $iters must lie in [1, 5] — each costs one corpus pass")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    val dec = "decimal(38,0)"
    // BigInt `/` truncates toward zero, like SQL `div`
    val base = df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(vecCol).as("__vec"))
    val outSchema = StructType(Seq(
      StructField("dim", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("mean_micro", LongType, nullable = true),
      StructField("pc_micro", LongType, nullable = true),
      StructField("score_micro", LongType, nullable = false)))
    val dimsRow = base.agg(max(size(col("__vec")))).head()
    val dims = if (dimsRow.isNullAt(0)) 0 else dimsRow.getInt(0)
    require(dims <= 4096,
      s"topPrincipalComponent: $dims dimensions exceed the literal-state " +
        "bound (4096) — pre-project the embedding first")
    if (dims <= 0) {
      return spark.createDataFrame(
        new java.util.ArrayList[Row](), outSchema)
    }
    // element d of the row's vector, micro-floored — the same expression
    // the posexplode cells carried (element_at is NULL past the row's
    // length, and count/sum skip NULLs exactly as the cell rows did)
    def xm0(d: Int): Column =
      floor(element_at(col("__vec"), d + 1).cast("double") * 1e6)
        .cast("long")
    // pass 1: per-dimension (n, Σx) in ONE scalar aggregate; n counts
    // rows LONG ENOUGH to have position d (a NULL element still occupied
    // a cell row in the old formulation)
    val statExprs = (0 until dims).flatMap { d =>
      Seq(count(when(size(col("__vec")) > d, 1)).as(s"n_$d"),
        sum(xm0(d).cast(dec)).as(s"s_$d"))
    }
    val statRow = base.agg(statExprs.head, statExprs.tail: _*).head()
    val n = (0 until dims).map(d => statRow.getLong(statRow.fieldIndex(s"n_$d")))
    val mean: IndexedSeq[Option[Long]] = (0 until dims).map { d =>
      val i = statRow.fieldIndex(s"s_$d")
      if (statRow.isNullAt(i)) None
      else Some((BigInt(statRow.getDecimal(i).toBigInteger) / n(d)).toLong)
    }
    var v: IndexedSeq[Option[Long]] = IndexedSeq.fill(dims)(Some(1000000L))
    var score = 0L
    for (_ <- 1 to iters) {
      // dot_i folds inline on the row's own array via ONE higher-order
      // expression over two single-Literal arrays (μ, v) — a 64-term
      // per-dim expression tree re-analyzed and re-codegen'd per
      // iteration was the dominant cost. Exact decimal terms; a NULL
      // term was a skipped cell row — coalesce(., 0) is the same
      // arithmetic, and a 0 dot contributes 0 to every Gram sum exactly
      // as the old NULL dot's skipped products did.
      val meanLit = typedLit(mean.map(_.map(java.lang.Long.valueOf).orNull))
      val vLit = typedLit(v.map(_.map(java.lang.Long.valueOf).orNull))
      val dotArr = transform(col("__vec"), (x, i) =>
        coalesce(
          (floor(x.cast("double") * 1e6).cast("long") -
            element_at(meanLit, i + 1)).cast(dec) *
            element_at(vLit, i + 1),
          lit(0).cast(dec)))
      val withDot = base
        .withColumn("__dot",
          aggregate(dotArr, lit(0).cast(dec), (acc, t) => (acc + t).cast(dec)))
        .withColumn("__dotmu", expr("cast(__dot div 1000000 as long)"))
      // pass: dim-wise Gram sums Σᵢ x̃_id·dot_i, map-side-combined into
      // one row
      val wExprs = (0 until dims).map { d =>
        mean(d) match {
          case Some(m) =>
            sum((xm0(d) - lit(m)).cast(dec) * col("__dotmu")).as(s"w_$d")
          case None => sum(expr(s"cast(null as $dec)")).as(s"w_$d")
        }
      }
      val wRow = withDot.agg(wExprs.head, wExprs.tail: _*).head()
      val wmu: IndexedSeq[Option[Long]] = (0 until dims).map { d =>
        val i = wRow.fieldIndex(s"w_$d")
        if (wRow.isNullAt(i)) None
        else Some((BigInt(wRow.getDecimal(i).toBigInteger) / 1000000L).toLong)
      }
      val qTerms = wmu.flatten.map(x => BigInt(x) * BigInt(x))
      val norm =
        if (qTerms.isEmpty) 0L
        else math.floor(math.sqrt(
          new java.math.BigDecimal(qTerms.sum.bigInteger)
            .doubleValue())).toLong
      score = norm
      v =
        if (norm <= 0) IndexedSeq.fill(dims)(Some(0L))
        else wmu.map(_.map(wm =>
          (BigInt(wm) * 1000000L / norm).toLong))
    }
    // deterministic sign: the largest-|v| component (tie → lowest dim)
    // points non-negative
    val pivot = (0 until dims)
      .flatMap(d => v(d).map(vd => (vd.abs, d, vd)))
      .sortBy { case (a, d, _) => (-a, d) }
      .headOption
    val flip = if (pivot.exists(_._3 < 0)) -1L else 1L
    val rows = new java.util.ArrayList[Row](dims)
    (0 until dims).foreach { d =>
      rows.add(Row(d.toLong, n(d),
        mean(d).map(java.lang.Long.valueOf).orNull,
        v(d).map(vd => java.lang.Long.valueOf(vd * flip)).orNull,
        score))
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** Pairwise cosine matrix of group centroids — the corpus-slice
    * similarity map: which labels / sources / clusters sit in the same
    * region of embedding space? The between-slice companion to
    * [[centroidDrift]] (same slice across time) and [[classCentroids]]
    * (the centroids themselves): read it before merging taxonomy
    * labels, choosing contrastive negatives, or trusting a per-source
    * balance that two near-identical sources quietly break.
    *
    * Exactness: cosine is SCALE-INVARIANT, so each group is represented
    * by its exact integer micro SUM vector (no per-dimension mean
    * floor — `cos(Σa, Σb) = cos(ā, b̄)` identically) and each pair's
    * cosine is one fixed double tree (`dot/√(‖a‖²·‖b‖²)` of exact
    * decimal(38,0) products), floored to milli. NULL for a zero-vector
    * side. Rows with EMPTY (zero-length) vectors are dropped up front —
    * they carry no embedding, so they belong in neither the sums nor
    * the counts (a group whose rows are all empty vanishes from the
    * matrix entirely).
    *
    * Output: one row per unordered pair `(grp_a < grp_b, n_a, n_b,
    * cos_milli)`.
    *
    * Overflow: Σ components in int64 to ~10¹² vectors per group at
    * |x| ≤ 100; pair products and their dim-sums ride decimal(38,0) —
    * loud-NULL past ~10¹⁰ vectors per group at dim 10³ (DuckDB HUGEINT
    * hits the same wall at the same magnitude).
    *
    * 100 TB shape: ONE map-side-combined groupBy(group, dim) — the
    * corpus's only shuffle; the (groups × dim) sum table (hard
    * `maxGroups` require) is centroid-model-sized, and the k² pairing
    * is a BROADCAST self-join of that table on the dim key — all 32
    * cores share the groups²·dim multiply instead of one driver
    * thread, and nothing larger than the pair matrix ever leaves the
    * executors.
    *
    * Small-k fast path: at ≤ 64 groups the distributed pairing's fixed
    * job latency (~0.3 s of scheduling for a few-row join) dwarfs the
    * arithmetic, so the already-collected sum table (≤ 64·dim rows) is
    * paired ON THE DRIVER in exact BigInt — identical double tree,
    * identical output (groups are compared by UTF-8 bytes, matching
    * Spark's string ordering). Above the gate the broadcast self-join
    * keeps the k²·dim multiply off the driver — the 100 TB path.
    */
  def centroidCosineMatrix(
      df: DataFrame,
      groupCol: String,
      vecCol: String,
      maxGroups: Int = 1000): DataFrame = {
    require(maxGroups >= 2, s"maxGroups $maxGroups must be >= 2")
    val dec = "decimal(38,0)"
    val base = df.filter(col(groupCol).isNotNull && col(vecCol).isNotNull &&
      size(col(vecCol)) > 0)
    val counts = base
      .groupBy(col(groupCol).cast("string").as("__g"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint()
    val nGroups = counts.count()
    require(nGroups <= maxGroups,
      s"centroidCosineMatrix: $nGroups groups exceed maxGroups=" +
        s"$maxGroups — the pair matrix is groups², bucket the label first")
    val sums = base
      .select(col(groupCol).cast("string").as("__g"),
        posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .select(col("__g"), col("__d"),
        round(col("__x").cast("double") * 1e6).cast("long").as("__m"))
      .groupBy("__g", "__d").agg(sum("__m").as("__s"))
      .localCheckpoint()
    if (nGroups <= SmallGroupsDriverPairing)
      return centroidCosineDriver(df.sparkSession, counts, sums)
    // every surviving group has dim 0 (vectors are non-empty), so the
    // inner dim-join reaches every unordered pair
    val dots = sums.select(col("__g").as("ga"), col("__d").as("__da"),
        col("__s").cast(dec).as("__sa"))
      .join(broadcast(sums.select(col("__g").as("gb"), col("__d").as("__db"),
        col("__s").cast(dec).as("__sb"))),
        col("__da") === col("__db") && col("ga") < col("gb"))
      .groupBy("ga", "gb").agg(sum(col("__sa") * col("__sb")).as("__dot"))
    val norms = sums.groupBy("__g")
      .agg(sum(col("__s").cast(dec) * col("__s").cast(dec)).as("__n2"))
    dots
      .join(broadcast(counts.select(col("__g").as("ga"), col("__n").as("n_a"))),
        Seq("ga"))
      .join(broadcast(counts.select(col("__g").as("gb"), col("__n").as("n_b"))),
        Seq("gb"))
      .join(broadcast(norms.select(col("__g").as("ga"), col("__n2").as("__a2"))),
        Seq("ga"))
      .join(broadcast(norms.select(col("__g").as("gb"), col("__n2").as("__b2"))),
        Seq("gb"))
      .select(col("ga").as("grp_a"), col("gb").as("grp_b"),
        col("n_a"), col("n_b"),
        when(col("__a2") > 0 && col("__b2") > 0,
          floor(lit(1000.0) * col("__dot").cast("double") /
            sqrt(col("__a2").cast("double") * col("__b2").cast("double"))))
          .cast("long").as("cos_milli"))
  }

  /** Calinski–Harabasz index — cluster-validity ratio of between- to
    * within-cluster dispersion, `CH = (B/(k−1)) / (W/(n−k))`: the
    * one-number "are these labels/clusters geometrically real" audit
    * over an embedding column, complementing silhouette (per-point,
    * pair-based) with a centroid-based statistic that needs only ONE
    * corpus pass — the cheap first check before paying for medoids.
    * Higher = tighter, better-separated clusters.
    *
    * Exactness: with micro components m = round(x·10⁶), total sum of
    * squares T = Σ m², per-group quadratic Q_g = Σ_d S_gd² (S_gd the
    * exact per-group per-dim sum) and total Q = Σ_d S_d²:
    * W = T − Σ_g floor(Q_g/n_g), B = Σ_g floor(Q_g/n_g) − floor(Q/n)
    * — each floor is one integer division on non-negative exact
    * decimals (the documented micro²-floor; at micro scale the slack
    * is ≤ k parts in 10¹²) — and CH_milli is one integer ratio
    * `1000·B·(n−k) div (W·(k−1))`, no doubles anywhere.
    *
    * Output (one row): `(n, k, ch_milli)`; NULL when k < 2, n ≤ k, or
    * W = 0 (every point at its centroid).
    *
    * Overflow: Q_g ≤ (n·10⁸)²·dim rides decimal(38,0) to ~10¹³ rows
    * at dim 10³ and |x| ≤ 100; the driver finish is BigInt.
    *
    * 100 TB shape: ONE map-side-combined groupBy(group, dim) carrying
    * (Σm, Σm², count) — the corpus's only shuffle; everything after
    * is the (groups × dim) model table (hard `maxGroups` require),
    * reduced to ≤ maxGroups driver rows.
    */
  def calinskiHarabasz(
      df: DataFrame,
      groupCol: String,
      vecCol: String,
      maxGroups: Int = 10000): DataFrame = {
    require(maxGroups >= 2, s"maxGroups $maxGroups must be >= 2")
    val dec = "decimal(38,0)"
    val base = df.filter(col(groupCol).isNotNull && col(vecCol).isNotNull &&
      size(col(vecCol)) > 0)
    val perDim = base
      .select(col(groupCol).cast("string").as("__g"),
        posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .select(col("__g"), col("__d"),
        round(col("__x").cast("double") * 1e6).cast("long").as("__m"))
      .groupBy("__g", "__d")
      .agg(sum("__m").as("__s"),
        sum(expr(s"cast(__m as $dec) * __m")).as("__q"),
        count(lit(1)).as("__c"))
      .localCheckpoint()
    // per-group: n_g (rows, not dim entries — dim 0 counts rows), Q_g,
    // and the within-group square sum
    val perGroup = perDim.groupBy("__g").agg(
      max(when(col("__d") === 0, col("__c"))).as("ng"),
      sum(expr(s"cast(__s as $dec) * __s")).as("qg"),
      sum("__q").as("tg"))
    val rows = perGroup.collect()
    require(rows.length <= maxGroups,
      s"calinskiHarabasz: ${rows.length} groups exceed maxGroups=" +
        s"$maxGroups — the driver finish is groups-sized")
    val k = rows.length.toLong
    var n = BigInt(0); var t = BigInt(0); var sumQg = BigInt(0)
    rows.foreach { r =>
      n += r.getLong(1)
      t += BigInt(r.getDecimal(3).toBigInteger)
      val qg = BigInt(r.getDecimal(2).toBigInteger)
      sumQg += qg / r.getLong(1)
    }
    // total per-dim sums re-derived distributed (groups × dim is model-
    // sized): Σ_d (Σ_g S_gd)²
    val qTotRow = perDim.groupBy("__d").agg(sum("__s").as("sd"))
      .agg(sum(expr(s"cast(sd as $dec) * sd")).as("q")).head()
    val qTot = if (qTotRow.isNullAt(0)) BigInt(0)
      else BigInt(qTotRow.getDecimal(0).toBigInteger)
    val ch: Option[Long] =
      if (k >= 2 && n > k) {
        // B >= 0 in exact math (between-SS); the per-group floors can
        // leave a residue as low as -k when all centroids coincide —
        // clamp at 0 (mirrored GREATEST in the oracle) so the division
        // never needs a sign split.
        val b = (sumQg - qTot / n).max(BigInt(0))
        val w = t - sumQg
        if (w > 0) Some((BigInt(1000) * b * (n - k) / (w * (k - 1))).toLong)
        else None
      } else None
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n.toLong, k, ch)).toDF("n", "k", "ch_milli")
  }

  /** Davies–Bouldin index — the third leg of the internal cluster-
    * validity battery next to [[calinskiHarabasz]] (variance ratio) and
    * [[Cluster.silhouette]] (per-point margins): DB = mean over
    * clusters of max_j (S_i + S_j)/M_ij with S the mean member-to-
    * centroid distance and M the centroid separation — LOWER is
    * better; the max picks each cluster's worst neighbor, so DB reads
    * as "how badly does the most-confusable pair overlap, on
    * average". The number to watch when choosing k for [[semDedup]] /
    * [[Cluster.kmeansAssign]] cluster counts.
    *
    * Exact-integer contract: elements floor to micro X. Member
    * distance to its centroid avoids rational centroids by scaling:
    * ssq_m = Σ_d (n_g·X_md − S_gd)² (exact decimal), and each member
    * contributes ONE rounded micro term D_m = ROUND(√ssq_m / n_g)
    * (q64 ln-term convention — the per-member rounding makes the
    * per-group sum order-independent; √ of a correctly-rounded
    * decimal→double is engine-portable, q323 precedent). S_i_micro =
    * (Σ D_m) div n_i. Centroid separation likewise scaled:
    * M_ij_micro = ROUND(√(Σ_d (n_j·S_id − n_i·S_jd)²) / (n_i·n_j)),
    * computed on the driver over the collected k×dim sum table
    * (model-sized; `maxGroups` bounds the k² pairing). R and DB are
    * integer floor divisions; pairs with M_ij = 0 (coincident
    * centroids) are excluded from the max, and a cluster with no
    * valid pair contributes nothing — db_milli is NULL when k < 2 or
    * no cluster has a separated neighbor.
    *
    * Output (one row): `(n, k, db_milli)`.
    *
    * 100 TB shape: one posexplode + map-side-combined groupBy(g, d)
    * to the k×dim sum table; ONE broadcast join back for the member
    * distance terms (corpus-sized map pass, no second shuffle beyond
    * the per-group sum); k² finish on the driver.
    */
  def daviesBouldin(
      df: DataFrame,
      groupCol: String,
      vecCol: String,
      maxGroups: Int = 256): DataFrame = {
    require(maxGroups >= 2, s"maxGroups $maxGroups must be >= 2")
    val dec = "decimal(38,0)"
    val base = df.filter(col(groupCol).isNotNull && col(vecCol).isNotNull &&
      size(col(vecCol)) > 0)
      .select(col(groupCol).cast("string").as("__g"), col(vecCol).as("__v"))
      .localCheckpoint()
    val perDim = base
      .select(col("__g"), posexplode(col("__v")).as(Seq("__d", "__x")))
      .select(col("__g"), col("__d"),
        round(col("__x").cast("double") * 1e6).cast("long").as("__m"))
      .groupBy("__g", "__d")
      .agg(sum("__m").as("__s"), count(lit(1)).as("__c"))
      .localCheckpoint()
    val dims = perDim.groupBy("__g")
      .agg(max(when(col("__d") === 0, col("__c"))).as("ng"),
        // dim sums as a dense array, dim order pinned by array_sort on
        // the (d, s) struct — model-sized per group
        expr("transform(array_sort(collect_list(struct(__d, __s))), e -> e.__s)")
          .as("sv"))
      .localCheckpoint()
    val grpRows = dims.collect()
    require(grpRows.length <= maxGroups,
      s"daviesBouldin: ${grpRows.length} groups exceed maxGroups=$maxGroups " +
        "— the finish pairs k² centroids on the driver")
    val k = grpRows.length
    // per-member rounded distance terms, summed per group (one map pass:
    // group sums broadcast back onto the checkpointed base)
    val withSums = base.join(
      broadcast(dims.select(col("__g"), col("ng"), col("sv"))), "__g")
    val ssqExpr =
      s"""aggregate(
            zip_with(__v, sv, (x, s) ->
              cast(cast(ng as $dec) * cast(round(cast(x as double) * 1e6) as long) - s
                   as $dec) *
              (cast(ng as $dec) * cast(round(cast(x as double) * 1e6) as long) - s)),
            cast(0 as $dec), (acc, t) -> acc + t)"""
    val sPerGroup = withSums
      .select(col("__g"), col("ng"),
        expr(s"cast(round(sqrt(cast($ssqExpr as double)) / ng) as long)")
          .as("__dm"))
      .groupBy("__g")
      .agg(expr("sum(__dm) div max(ng)").as("si"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // driver k² pairing over exact BigInt dim sums
    val groups = grpRows.map { r =>
      (r.getString(0), r.getLong(1),
        r.getSeq[Long](2).map(BigInt(_)).toArray)
    }
    val nTot = groups.map(_._2).sum
    var rMaxSum = BigInt(0); var contributing = 0
    groups.foreach { case (gi, ni, svi) =>
      var best = BigInt(-1)
      groups.foreach { case (gj, nj, svj) =>
        if (gi != gj) {
          var ssq = BigInt(0)
          var d = 0
          while (d < svi.length) {
            val t = BigInt(nj) * svi(d) - BigInt(ni) * svj(d)
            ssq += t * t
            d += 1
          }
          val m = math.round(math.sqrt(ssq.doubleValue) / (ni.toDouble * nj))
          if (m > 0) {
            val r = BigInt(sPerGroup(gi) + sPerGroup(gj)) * 1000 / m
            if (r > best) best = r
          }
        }
      }
      if (best >= 0) { rMaxSum += best; contributing += 1 }
    }
    val db: Option[Long] =
      if (k >= 2 && contributing > 0) Some((rMaxSum / contributing).toLong)
      else None
    val spark = df.sparkSession
    import spark.implicits._
    Seq((nTot, k.toLong, db)).toDF("n", "k", "db_milli")
  }

  /** Gate below which [[centroidCosineMatrix]] pairs on the driver: the
    * distributed self-join costs ~0.3 s of fixed scheduling latency at
    * any size, while ≤ 64 groups × dim sum rows pair in microseconds.
    */
  private val SmallGroupsDriverPairing = 64

  /** Driver-side k² pairing for the small-group path: exact BigInt dot
    * products and norms over the collected (group, dim, sum) table —
    * the same `floor(1000·dot/√(‖a‖²·‖b‖²))` double tree as the
    * distributed branch (BigInteger.doubleValue and Spark's
    * decimal→double cast are both correctly-rounded, so the IEEE
    * operand values coincide; BigInt additionally never hits the
    * decimal(38,0) loud-NULL wall, which only matters past ~10¹⁰
    * vectors/group). Group pair order ga < gb compares UTF-8 bytes —
    * Spark's binary string order — not UTF-16 chars.
    */
  private def centroidCosineDriver(
      spark: org.apache.spark.sql.SparkSession,
      counts: DataFrame,
      sums: DataFrame): DataFrame = {
    val nOf = counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vecOf = sums.collect()
      .groupBy(_.getString(0))
      .map { case (g, rows) =>
        g -> rows.map(r => r.getInt(1) -> BigInt(r.getLong(2))).toMap
      }
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    val groups = nOf.keys.toSeq.sortWith(utf8Lt)
    val norm2 = groups.map { g =>
      g -> vecOf.getOrElse(g, Map.empty).values.map(s => s * s).sum
    }.toMap
    val rows = for {
      i <- groups.indices
      j <- (i + 1) until groups.length
    } yield {
      val (ga, gb) = (groups(i), groups(j))
      val va = vecOf.getOrElse(ga, Map.empty)
      val vb = vecOf.getOrElse(gb, Map.empty)
      val dot = va.iterator.map { case (d, sa) =>
        sa * vb.getOrElse(d, BigInt(0))
      }.sum
      val (a2, b2) = (norm2(ga), norm2(gb))
      val cos: java.lang.Long =
        if (a2 > 0 && b2 > 0)
          java.lang.Long.valueOf(math.floor(
            1000.0 * dot.doubleValue / math.sqrt(
              a2.doubleValue * b2.doubleValue)).toLong)
        else null
      org.apache.spark.sql.Row(ga, gb, nOf(ga), nOf(gb), cos)
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("grp_a", StringType, nullable = true),
        StructField("grp_b", StringType, nullable = true),
        StructField("n_a", LongType, nullable = false),
        StructField("n_b", LongType, nullable = false),
        StructField("cos_milli", LongType, nullable = true))))
  }
}
