package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable sketches for corpus profiling.
  *
  * The distinct-count sketch is KMV (k minimum values, Bar-Yossef et al.
  * 2002): keep the k smallest md5 hashes of the distinct values; with
  * `U_k` the k-th smallest hash mapped into (0,1], the estimator
  * `(k-1)/U_k` is unbiased with relative error ~1/sqrt(k-2). Unlike
  * HyperLogLog (`approx_count_distinct`), a KMV over md5 is EXACTLY
  * reproducible in any engine with md5 — the sketch itself, not just the
  * estimate, hash-matches cross-engine, which is what a lineage-audited
  * pipeline wants from a profiling pass.
  */
object Sketch {

  /** Per-group approximate distinct count of `value`. Returns one row per
    * group: `n_kept` (= min(k, true distinct)), the k-th hash, and
    * `est_distinct` — exact when the group has fewer than k distinct
    * values (the sketch degenerates to the exact set), the KMV estimate
    * otherwise.
    *
    * Determinism: the estimate is one divide of exact integers
    * (`(k-1) * 2^32 / (u32_k + 1)`, hash prefix parsed as a 32-bit int)
    * rounded once — bit-identical across engines.
    *
    * 100 TB shape: one distinct-aggregation shuffle on (group, hash) with
    * map-side combine, then a per-group bottom-k. md5 distributes
    * uniformly, so a pre-filter `h < prefix_threshold` can thin the
    * window input when groups are known-large; the sort cost is bounded
    * by the surviving distinct count, never the row count.
    */
  def distinctSketch(
      df: DataFrame,
      groupCol: String,
      value: Column,
      k: Int): DataFrame = {
    require(k >= 2, s"k $k must be >= 2")
    // NULLs are ignored (count-distinct semantics): md5(NULL) = NULL would
    // otherwise claim a k-slot under Spark's NULLS FIRST ordering while
    // DuckDB sorts it last — corrupting the k-th hash on both counts
    val d = df.select(col(groupCol).as("grp"), md5(value).as("h"))
      .filter(col("h").isNotNull).distinct()
    d.withColumn("rn", row_number().over(Window.partitionBy("grp").orderBy("h")))
      .filter(col("rn") <= k)
      .groupBy("grp")
      .agg(
        count(lit(1)).as("n_kept"),
        max(when(col("rn") === k, col("h"))).as("kth_hash"))
      .select(
        col("grp"),
        lit(k).as("k"),
        col("n_kept"),
        col("kth_hash"),
        when(col("kth_hash").isNull, col("n_kept"))
          .otherwise(round(
            lit((k - 1).toDouble * 4294967296.0) /
              (conv(substring(col("kth_hash"), 1, 8), 16, 10).cast("double") + 1.0)))
          .cast("long").as("est_distinct"))
  }

  /** Count-min sketch (Cormode & Muthukrishnan 2005) of a value stream:
    * `depth` hash rows × `width` buckets of EXACT additive counts —
    * frequency estimates for any value in fixed memory, mergeable across
    * corpora/days by plain cell-wise addition (counts are sums, so the
    * sketch is order- and partition-independent, and — built on md5 —
    * reproduces bit-for-bit in any engine). Returns only non-empty cells:
    * `(d, bucket, cnt)`.
    *
    * 100 TB shape: one map-side-combined count keyed by (d, bucket) —
    * state is at most depth×width cells per task regardless of input
    * size; the output table is ≤ depth×width rows. NULLs are skipped.
    */
  def cmsSketch(df: DataFrame, value: Column, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth $depth out of [1,16]")
    require(width >= 2, s"width $width must be >= 2")
    val rows = (0 until depth).map { d =>
      struct(lit(d).as("d"),
        pmod(conv(substring(md5(concat_ws("|", lit(s"cms$d"), value)), 1, 8), 16, 10)
          .cast("long"), lit(width.toLong)).as("bucket"))
    }
    df.filter(value.isNotNull)
      .select(explode(array(rows: _*)).as("c"))
      .groupBy(col("c.d").as("d"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-frequency estimates from a [[cmsSketch]]: for each probe value,
    * `est = min over d of sketch[d][bucket_d(v)]` (absent cell = 0). The
    * classic guarantee: never an underestimate, overestimates bounded by
    * collisions (≈ N·e/width at depth ln(1/δ)). Probe sets are
    * query-sized, so they explode into depth rows each and join the
    * sketch table — broadcast-sized by construction.
    */
  def cmsEstimate(
      sketch: DataFrame,
      probes: DataFrame,
      probeCol: String,
      depth: Int,
      width: Int): DataFrame = {
    val rows = (0 until depth).map { d =>
      struct(lit(d).as("d"),
        pmod(conv(substring(md5(concat_ws("|", lit(s"cms$d"), col(probeCol))), 1, 8), 16, 10)
          .cast("long"), lit(width.toLong)).as("bucket"))
    }
    probes.select(col(probeCol).as("probe"), explode(array(rows: _*)).as("c"))
      .select(col("probe"), col("c.d").as("d"), col("c.bucket").as("bucket"))
      .join(sketch, Seq("d", "bucket"), "left")
      .groupBy(col("probe"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Pairwise corpus-overlap estimation from per-group MinHash signatures:
    * estimated n-gram Jaccard between every pair of groups (sources,
    * snapshots, languages) WITHOUT any row-level pair join — the sketch
    * answers "how much does source A's text overlap source B's" from
    * `numHashes` values per group. The per-group signature is the minimum
    * of each hash over the UNION of the group's shingles (min is
    * associative, so the group signature IS the signature of the union),
    * and `P[min_a = min_b] = J(A, B)` gives the estimate as the fraction
    * of agreeing hash slots — standard MinHash theory (Broder 1997), with
    * ±1/sqrt(numHashes) error. Output: (grp_a, grp_b, n_agree, est_jaccard)
    * for grp_a < grp_b.
    *
    * Same md5/15-hex-window hash family as [[graft.ops.Dedup
    * .withMinhashSignature]], so any engine with md5 reproduces the sketch —
    * and the estimate — bit-for-bit.
    *
    * 100 TB shape: ONE aggregation shuffle keyed by group (map-side
    * partial mins; state = numHashes strings per group); the pairwise
    * compare runs on the |groups|-row signature table — a broadcast
    * self-join over groups, never over rows. This is the cheap first-pass
    * a cross-corpus dedup campaign runs to decide WHICH corpus pairs are
    * worth a full [[graft.ops.Dedup.minhashLshPairsIncremental]] sweep.
    */
  def corpusOverlap(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 16): DataFrame = {
    // Map-side per-DOC signatures fold inside each row; the per-GROUP
    // signature is then min-of-mins — the only data shuffle carries 16
    // short strings per document instead of every shingle row. Par.spread
    // (round 16, §2.5): the per-row shingle+md5 fold is the op's whole
    // cost and inherits the scan's partition count — the same guard every
    // other withMinhashSignature caller already applies; no-op on
    // well-split production scans.
    val docSigs = Dedup.withMinhashSignature(
      Par.spread(df.select(col(groupCol).as("id"), col(textCol).as("__t"))),
      "__t", shingleLen, numHashes).drop("__t")
    val groupAggs = (0 until numHashes).map(i => min(col(s"mh_$i")).as(s"mh_$i"))
    val sigs = docSigs.groupBy(col("id")).agg(groupAggs.head, groupAggs.tail: _*)
    val a = sigs.select(col("id").as("grp_a") +:
      (0 until numHashes).map(i => col(s"mh_$i").as(s"a_$i")): _*)
    val b = sigs.select(col("id").as("grp_b") +:
      (0 until numHashes).map(i => col(s"mh_$i").as(s"b_$i")): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a_$i") === col(s"b_$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    a.join(broadcast(b), col("grp_a") < col("grp_b"))
      .select(col("grp_a"), col("grp_b"), agree.as("n_agree"))
      .withColumn("est_jaccard",
        round(col("n_agree").cast("double") / numHashes, 4))
  }

  /** Equi-join CARDINALITY estimate from two [[cmsSketch]]es over the
    * join keys (Cormode & Muthukrishnan 2005 §4.2, the CM inner
    * product): `|A ⋈ B|` on value v is `Σ_v fA(v)·fB(v)`, and each
    * sketch depth row overestimates it as `Σ_bucket a[d][w]·b[d][w]`
    * (collisions only ADD mass), so `min over d` is a never-under
    * estimate with error ≤ e·|A|·|B|/width at depth ln(1/δ). The
    * pre-flight a join planner runs before committing a 100 TB shuffle:
    * two fixed-memory map-only sketch passes answer "is this join going
    * to explode" without running it — feeding the broadcast / shuffle /
    * skew-salt strategy choice.
    *
    * Both sketches must share `depth` and width (same md5 bucket family
    * — [[cmsSketch]] guarantees it). The ≤ depth×width-row cell join is
    * sketch-sized, never data-sized; a depth row with NO overlapping
    * buckets estimates 0 (the spine join keeps it), correctly forcing
    * the minimum to 0 — disjoint key sets ARE a zero-row join.
    */
  def cmsJoinSize(a: DataFrame, b: DataFrame, depth: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth $depth out of [1,16]")
    val spine = a.sparkSession.range(depth.toLong)
      .select(col("id").cast("int").as("d"))
    val prod = a.as("a").join(b.as("b"), Seq("d", "bucket"))
      .groupBy(col("d")).agg(sum(col("a.cnt") * col("b.cnt")).as("s"))
    spine.join(prod, Seq("d"), "left")
      .agg(min(coalesce(col("s"), lit(0L))).as("est_join_size"))
  }

  /** KMV set-overlap estimate between two key columns (Beyer et al.,
    * SIGMOD'07): distinct-union, distinct-intersection, and Jaccard from
    * ONE bottom-k sketch of the hash UNION — the k smallest md5s with
    * membership flags; `n_both / k` is an unbiased Jaccard estimator and
    * `est_intersection = round(n_both/k · est_union)`. Exact (not
    * estimated) whenever the union has < k distinct values. The
    * pre-flight for "how much does yesterday's crawl overlap today's"
    * when both sides are too big to join: two map-side distinct passes +
    * a k-row sort, no cross-corpus shuffle.
    *
    * Determinism: md5 ordering, integer counts, and one rounded divide —
    * hash-identical in any engine. NULL keys are ignored on both sides.
    *
    * Returns one row: `(k, n_kept, n_both, est_union, est_intersection,
    * jaccard_micro)`.
    *
    * 100 TB shape: per-side distinct on the hash (map-side combined),
    * union, global bottom-k via TakeOrdered (k rows cross the wire, not
    * the corpora). The flags ride the union rows, so membership never
    * re-joins the inputs.
    */
  def kmvOverlap(a: DataFrame, aKey: Column, b: DataFrame, bKey: Column,
      k: Int): DataFrame = {
    require(k >= 2, s"k $k must be >= 2")
    val ha = a.select(md5(aKey.cast("string")).as("h"))
      .filter(col("h").isNotNull).distinct()
      .select(col("h"), lit(1L).as("in_a"), lit(0L).as("in_b"))
    val hb = b.select(md5(bKey.cast("string")).as("h"))
      .filter(col("h").isNotNull).distinct()
      .select(col("h"), lit(0L).as("in_a"), lit(1L).as("in_b"))
    val union = ha.unionAll(hb).groupBy("h")
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val bottom = union.orderBy("h").limit(k)
    bottom.agg(
        count(lit(1)).as("n_kept"),
        coalesce(sum(col("in_a") * col("in_b")), lit(0L)).as("n_both"),
        max(col("h")).as("max_h")) // = the k-th smallest iff n_kept == k
      .select(lit(k).as("k"), col("n_kept"), col("n_both"),
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(round(
            lit((k - 1).toDouble * 4294967296.0) /
              (conv(substring(col("max_h"), 1, 8), 16, 10).cast("double") + 1.0)))
          .cast("long").as("est_union"))
      .withColumn("est_intersection", coalesce(
        expr("cast(round(cast(n_both as double) * est_union / nullif(n_kept, 0)) as bigint)"),
        lit(0L)))
      .withColumn("jaccard_micro",
        coalesce(expr("n_both * 1000000L div nullif(n_kept, 0)"), lit(0L)))
  }
}
