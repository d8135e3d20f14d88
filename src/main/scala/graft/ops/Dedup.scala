package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Design for 100 TB:
  *  - every candidate-generation step is a hash-bucket shuffle on a derived
  *    key (never an all-pairs cross join);
  *  - hot shingles/buckets are frequency-capped (`maxDf`) so a stopword
  *    shingle can't create a quadratic bucket;
  *  - all hashing is md5-based and engine-portable, so a SQL oracle can
  *    reproduce every pair decision bit-for-bit.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct text hash with the canonical
    * (minimum) id and the duplicate count. Plain hash groupBy — one shuffle,
    * map-side partial agg.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** Streaming exact dedup: keeps the FIRST-arriving row per content hash
    * on an unbounded source, with state bounded by the watermark (a
    * duplicate arriving later than `lateness` after its original may pass —
    * the standard state-TTL trade every streaming dedup makes; Flink's
    * deduplicate and Spark's dropDuplicatesWithinWatermark share it).
    * One shuffle on the hash; state per distinct hash inside the window.
    * FIRST-ARRIVING is processing-order: which copy survives can differ
    * across replays. When the curation rule needs the event-time-first
    * copy (batch parity, replay determinism) or a mark-don't-drop flag,
    * use [[graft.streaming.StreamingDedup]] instead.
    */
  def streamingExactDedup(
      df: DataFrame,
      textCol: String,
      eventTsCol: String,
      lateness: scala.concurrent.duration.Duration): DataFrame = {
    require(df.isStreaming, "use exactGroups for batch inputs")
    df.withColumn("__text_hash", md5(col(textCol)))
      .withWatermark(eventTsCol, s"${lateness.toMillis} milliseconds")
      .dropDuplicatesWithinWatermark("__text_hash")
      .drop("__text_hash")
  }

  /** Distinct word `n`-gram shingles per document: (id, shingle).
    *
    * Built by zipping n shifted slices of the token array — zip_with walks
    * the arrays directly, ~10× faster than per-index element_at/get lambdas,
    * which pay interpreted ordinal resolution per element. A doc shorter
    * than n words yields one shingle of all its words. Distinct is
    * relational (map-side-combined hash distinct after the explode).
    */
  def wordShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    wordShinglesRaw(df, idCol, textCol, n).distinct()

  /** [[wordShingles]] WITHOUT the distinct — one shuffle cheaper. Correct
    * whenever the consumer is duplicate-insensitive (minhash `min`); set
    * consumers (Jaccard counts) need the distinct variant.
    */
  /** The word n-gram ARRAY of one document as a column expression —
    * shared by the exploding shingle table ([[wordShinglesRaw]]) and the
    * map-side signature ([[withMinhashSignature]]).
    */
  private[graft] def gramArray(textCol: Column, n: Int): Column = {
    val ws = TextOps.tokens(textCol)
    val m = greatest(size(ws) - (n - 1), lit(1))
    var acc = slice(ws, lit(1), m)
    for (j <- 1 until n)
      acc = zip_with(acc, slice(ws, lit(j + 1), m), (a, b) => concat(a, lit(" "), b))
    when(size(ws) >= n, acc).otherwise(array(array_join(ws, " ")))
  }

  private[graft] def wordShinglesRaw(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // Par.spread: the tokenize+shingle explode is the family's hottest
    // map stage and inherits the scan's split count — spread it to the
    // cluster's width when the input arrives under-partitioned (no-op on
    // well-split inputs; see Par.spread's scaladoc).
    Par.spread(df)
      .select(col(idCol).as("id"), explode(gramArray(col(textCol), n)).as("shingle"))

  /** All-pairs n-gram Jaccard similarity ≥ `threshold`, computed by joining
    * documents through shared shingles (inverted-index join): only pairs with
    * at least one common shingle are ever materialized. `maxDf` drops
    * shingles occurring in more documents — the skew guard that keeps a
    * stopword shingle from producing |bucket|² pairs.
    *
    * Threshold is applied to the ROUNDED (4 dp) similarity so the decision
    * is reproducible across engines.
    *
    * SELECTION RULE vs [[ngramJaccardPairsPrefix]] (same output, measured
    * at sf0.1): pick THIS plain inverted index when the shingle document
    * frequencies are known flat (synthetic/templated corpora — ~2.6 s
    * warm vs ~5 s, the prefix variant's per-doc array build dominates);
    * pick the PREFIX variant on anything Zipfian — real crawl text — where
    * its rarity-ordered prefix prunes hot-shingle buckets 8-10× (12.6 s
    * vs 103.7 s on the 4× boilerplate-skewed ScaleCheck corpus). Default
    * to the prefix variant when the distribution is unknown: its worst
    * case is ~2× this one's best, while this one's worst case is
    * unbounded bucket blowup capped only by `maxDf` recall loss.
    *
    * The `maxDf` onset is measured (ScaleCheck `jaccard_capstress`, 64×
    * sf0.1: a fixed shingle tail reaching df 16k): capped runs stay
    * linear (36.5 s at 64×); uncapped, the two hot shingles alone push
    * ~2.6·10⁸ candidate pairs through the common-count aggregation —
    * 261 s, 7.2× over capped, quadratic in the hot df. At crawl scale
    * an uncapped hot shingle is non-terminating, not slow.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDf: Long = 10000L): DataFrame = {
    // Checkpointed: consumed four times (hot-shingle count, size table, both
    // self-join sides) — without it Spark re-runs the explode+distinct
    // pipeline per consumer. Eager localCheckpoint instead of persist():
    // blocks are released when the returned plan is GC'd (persist entries
    // pin the SQL cache until an explicit unpersist, which leaks across a
    // long-lived pipeline session), and the lineage cut keeps downstream
    // plans small. On a cluster with executor-loss concerns, swap for
    // reliable checkpoint() — same contract as Cluster.connectedComponents.
    val sh = wordShingles(df, idCol, textCol, n).localCheckpoint(true)
    // Hot-shingle guard as a broadcast anti-join: the set of shingles with
    // df > maxDf has at most |rows|/maxDf members — broadcastable by
    // definition — so this costs one aggregation instead of a full
    // shuffle+sort window over every shingle row.
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("shingle"))
    val kept = sh.join(broadcast(hot), Seq("shingle"), "left_anti")
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val common = kept.as("a")
      .join(kept.as("b"), col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn(
        "jaccard",
        round(col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Audit side channel for the `maxDf` shingle cap shared by
    * [[ngramJaccardPairs]] / [[ngramJaccardPairsPrefix]] /
    * [[containmentPairs]] — the no-silent-caps rule applied to the
    * inverted-index family: one row per shingle whose document frequency
    * exceeded `maxDf` (and was therefore excluded from candidate
    * generation), with its df. Empty output = no recall was traded for
    * skew safety. The loss here is MILDER than an LSH bucket drop — a
    * pair sharing a dropped stopword shingle can still surface through
    * any rarer shared shingle, and the Jaccard DENOMINATOR is unaffected
    * (sizes count kept shingles on both sides symmetrically) — but a
    * boilerplate family whose ONLY shared shingles are all hot does
    * vanish, and this table is how that becomes visible.
    *
    * 100 TB shape: one map-side-combined groupBy over the exploded
    * shingle table; output bounded by |shingle rows|/maxDf.
    */
  def hotShingles(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxDf: Long = 10000L): DataFrame =
    wordShingles(df, idCol, textCol, n)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("shingle"), col("df"))

  /** [[ngramJaccardPairs]] with All-Pairs / PPJoin-style PREFIX FILTERING
    * (Bayardo et al. "Scaling Up All Pairs Similarity Search", WWW'07;
    * Xiao et al. "Efficient Similarity Joins for Near Duplicate
    * Detection", WWW'08): IDENTICAL output, quadratically smaller
    * candidate space. Shingles get a global rarity order (document
    * frequency ascending, shingle ascending); for Jaccard >= t any
    * qualifying pair must overlap in at least ceil(t*|S|) shingles, so if
    * the globally-rarest common shingle sat outside either set's first
    * `|S| - ceil(t*|S|) + 1` shingles, every common shingle would sit in
    * that set's last `ceil(t*|S|) - 1` positions — too few. Hence the
    * inverted-index self-join runs on PREFIXES only, and candidates are
    * verified exactly against the full sets (`array_intersect` on the
    * per-doc shingle arrays — one row per doc, fine while a single
    * document's shingle set fits in a row, i.e. documents up to MBs).
    *
    * The bound is computed in exact integer arithmetic on
    * micro-thresholds, widened by the 4-dp rounding slack (`round(j,4) >=
    * t` admits true j >= t - 5e-5), so no floating-point ceil can shorten
    * a prefix and drop a pair the rounded comparison would keep:
    * the oracle for this operator is byte-identical to
    * [[ngramJaccardPairs]]'s. (Shingle identity downstream is a 64-bit
    * hash — see the inline note; distinct shingles conflate only with
    * ~m²/2⁶⁵ probability, the MinHash-band-class trade.)
    *
    * 100 TB shape: the rarity order makes hot shingles land in almost no
    * prefix (a shingle shared by many documents is late in the global
    * order, hence outside most prefixes), so per-shingle bucket sizes in
    * the candidate join collapse versus the plain inverted index — the
    * prefix is itself a skew guard, layered on the same `maxDf` hard cap.
    * One extra shuffle (the per-doc rank window) buys the smaller pair
    * space; at crawl scale that trade is decisively right.
    *
    * Measured trade (cold JVMs, sf0.1): on the synthetic corpus — near
    * UNIFORM shingle document frequencies — the plain inverted index has
    * no hot buckets and wins (warm ~2.6 s vs ~5 s; the per-doc sort +
    * array verify dominate). On a ZIPFIAN corpus (ScaleCheck
    * `jaccard_prefix`: 4× sf0.1 = 240k docs, four boilerplate phrases
    * appended so a few shingles reach df ≈ 60k, no df cap) the prefix
    * variant is **8–10× faster** (two runs: 12.6 s vs 103.7 s, 15.8 s vs
    * 155.1 s; round-8 re-measure with int64-hashed shingles on the
    * regenerated larger-doc corpus: 39.8–56.2 s vs 289.9–361.7 s,
    * 6.4–7.3×). Real crawl text is the Zipfian case; prefer this variant
    * there, the plain one on known-flat distributions. (The uniform-case
    * overhead is the per-doc array materialization, not the df join:
    * `rarityOrder = false` measures the same 5.5 s warm.)
    */
  def ngramJaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDf: Long = 10000L,
      rarityOrder: Boolean = true): DataFrame = {
    // Shingle identity is the 64-bit xxhash of the shingle text from here
    // on: every downstream shuffle — df counts, the prefix explode, the
    // candidate join, and above all the verify join's `sset` arrays —
    // ships fixed-width longs instead of n-word strings (a ~4-8× payload
    // cut at crawl scale). Two distinct shingles conflate with
    // probability ~m²/2⁶⁵ over m corpus-wide distinct shingles — the
    // same accepted identity trade as the MinHash band hash. The rarity
    // order becomes (df, hash); prefix filtering is lossless under ANY
    // total order, so the output is unchanged.
    val sh = wordShingles(df, idCol, textCol, n)
      .select(col("id"), xxhash64(col("shingle")).as("shingle"))
      .localCheckpoint(true)
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("shingle"))
    val kept = sh.join(broadcast(hot), Seq("shingle"), "left_anti")
    // Rounded-comparison slack: round(j, 4) >= t passes true j >= t - 5e-5.
    val tMicro = math.max(math.round(threshold * 1000000L) - 50L, 0L)
    // Prefix filtering is lossless under ANY global total order; the
    // df-ascending rarity order is the one that PRUNES well on skewed
    // corpora, but it costs a corpus-wide join against the df table.
    // `rarityOrder = false` orders by the shingle string alone — no df
    // join, one fewer shuffle of the shingle stream — the right call when
    // the df distribution is known flat (output identical either way).
    val keyed =
      if (rarityOrder) {
        val dfc = kept.groupBy(col("shingle")).agg(count(lit(1)).as("sdf"))
        kept.join(dfc, "shingle")
      } else kept.withColumn("sdf", lit(0L))
    // ONE per-doc aggregation builds the rarity-sorted shingle array
    // (sort_array on (df, shingle) structs = the global order, applied
    // in-executor per doc — no rank window, no second sets pass): the
    // prefix is a slice of it and the exact-verify set is the same array.
    // Checkpointed: consumed by both candidate-join sides and both
    // verification joins.
    val sets = keyed
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("sdf"), col("shingle")))).as("__arr"))
      .select(col("id"),
        transform(col("__arr"), x => x.getField("shingle")).as("sset"),
        size(col("__arr")).as("sz"))
      // min overlap o = ceil(t' * sz) in exact integer math; the prefix is
      // positions 1 .. sz - o + 1 of the rarity order.
      .withColumn("prefix",
        slice(col("sset"), lit(1),
          (col("sz") - expr(s"((${tMicro}L * sz + 999999) DIV 1000000)") + 1).cast("int")))
      .localCheckpoint(true)
    val pref = sets.select(col("id"), explode(col("prefix")).as("shingle"))
    val cand = pref.as("a")
      .join(pref.as("b"), col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sets.select(col("id").as("id_a"), col("sset").as("set_a"), col("sz").as("sz_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sset").as("set_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("set_a"), col("set_b"))).cast("long").as("common"),
        col("sz_a").cast("long").as("sz_a"),
        col("sz_b").cast("long").as("sz_b"))
      .withColumn(
        "jaccard",
        round(col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs: for candidate pairs sharing at
    * least one shingle, containment(A⊆B) = |S_A ∩ S_B| / |S_A| over
    * DISTINCT shingle sets. Jaccard ([[ngramJaccardPairs]]) misses the
    * quote/subset shape — a short document wholly embedded in a much
    * longer one scores near 0 Jaccard but 1.0 containment — so this is
    * the operator for quote extraction, page-within-crawl containment,
    * and super/subset pruning before training. Emits one row per
    * unordered pair (id_a < id_b) with BOTH directions and the dominant
    * one pre-computed; `threshold` applies to the dominant direction,
    * rounded to 4 dp so the verdict replays on any engine.
    *
    * Same 100 TB shape as the Jaccard path: inverted-index join through
    * shared shingles (pair space bounded by co-occurrence), hot shingles
    * with df > `maxDf` dropped via a broadcast anti-join before any pair
    * is formed.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDf: Long = 10000L): DataFrame = {
    val sh = wordShingles(df, idCol, textCol, n).localCheckpoint(true)
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("shingle"))
    val kept = sh.join(broadcast(hot), Seq("shingle"), "left_anti")
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val common = kept.as("a")
      .join(kept.as("b"), col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("containment_a_in_b",
        round(col("common").cast("double") / col("sz_a"), 4))
      .withColumn("containment_b_in_a",
        round(col("common").cast("double") / col("sz_b"), 4))
      .withColumn("containment",
        greatest(col("containment_a_in_b"), col("containment_b_in_a")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment_a_in_b"),
        col("containment_b_in_a"), col("containment"))
  }

  /** Training-corpus decontamination: flag corpus documents sharing at
    * least `minOverlap` distinct n-gram shingles with ANY row of a
    * benchmark/eval set — the standard train/test contamination sweep run
    * before training. The benchmark side is evaluation-sized by
    * definition, so its distinct shingle set broadcasts and the corpus
    * never shuffles on the join; the only corpus shuffle is the per-doc
    * overlap count, keyed by the corpus id. Returns (id, overlap).
    */
  def contaminatedBy(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      n: Int,
      minOverlap: Long = 1L): DataFrame = {
    val docSh = wordShingles(corpus, idCol, textCol, n)
    val benchSh = wordShingles(benchmark, benchIdCol, benchTextCol, n)
      .select(col("shingle")).distinct()
    docSh.join(broadcast(benchSh), Seq("shingle"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** [[contaminatedBy]] for benchmark sets BEYOND broadcast size: a Bloom
    * filter over the benchmark's distinct shingles (built once, sized to
    * the measured cardinality) prunes corpus shingles MAP-SIDE before the
    * exact shuffle join adjudicates. Identical output to the exact sweep —
    * Bloom filters have no false negatives, and every surviving candidate
    * is re-checked by the join — so this trades one extra corpus-side
    * `mightContain` probe per shingle for shuffling only the ~fpp false
    * positives plus true hits instead of the whole corpus shingle stream.
    *
    * 100 TB shape: [[contaminatedBy]] broadcasts the benchmark shingle
    * set, which dies when "benchmark" is itself large (a full eval-suite
    * union, a held-out corpus slice, yesterday's crawl): the broadcast is
    * 10s of bytes per distinct shingle. The Bloom filter is ~1.2 bytes
    * per item at 1% fpp — two orders denser — and the exact join it
    * guards is a plain hash shuffle whose probe side the filter has
    * already cut to hits+fpp. The corpus never broadcasts, never
    * collects; only the filter (one compact bitmap) ships to executors.
    * The one Scala UDF is deliberate: Spark exposes no public codegen
    * bloom-probe expression, and the probe is a bitwise hash check —
    * jit-friendly, no serialization inside the loop.
    */
  def contaminatedByBloom(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      n: Int,
      minOverlap: Long = 1L,
      fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    // Checkpointed: consumed twice (cardinality count + bloom build) and
    // again as the exact join's build side.
    val benchSh = wordShingles(benchmark, benchIdCol, benchTextCol, n)
      .select(col("shingle")).distinct().localCheckpoint(true)
    val m = math.max(benchSh.count(), 1000L)
    val bf = benchSh.stat.bloomFilter("shingle", m, fpp)
    val bfBc = spark.sparkContext.broadcast(bf)
    val might = udf((s: String) => s != null && bfBc.value.mightContainString(s))
    wordShingles(corpus, idCol, textCol, n)
      .filter(might(col("shingle")))
      .join(benchSh, Seq("shingle")) // exact verify: shuffle hash join
      .groupBy(col("id"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** Edit-distance-verified near-dup pairs: MinHash+LSH generates
    * candidates ([[minhashLshPairs]] — bucket-local, skew-capped), exact
    * Levenshtein adjudicates. The shingle/LSH stage is recall-oriented
    * and token-order-blind; the edit-distance verdict restores an
    * order-sensitive, human-auditable criterion ("at most `maxDist`
    * character edits apart") on the candidate set only — never all pairs.
    *
    * 100 TB shape: Levenshtein is O(len_a·len_b) per pair, far too hot to
    * run on a cross join but cheap on LSH candidates (their count is
    * bounded by bucket sizes, themselves capped by `maxBucket`). Spark's
    * three-arg `levenshtein(l, r, threshold)` banded algorithm early-exits
    * at O(maxDist·len), so the verify cost scales with the threshold,
    * not the document length squared. Texts join to candidates by id —
    * two hash joins, no corpus self-join.
    */
  /** Fuzzy train↔eval contamination — [[contaminatedBy]] catches VERBATIM
    * benchmark text in the corpus; this catches the near-duplicates that
    * survive a paraphrase, whitespace churn, or a truncation: MinHash+LSH
    * candidates across the split boundary, exact-Jaccard-verified, rolled
    * up per eval-side document. The split-aware wrapper a "did our
    * training set eat the test set" audit actually runs — within-split
    * near-dups (train↔train) are someone else's problem and are filtered
    * before the expensive verify.
    *
    * Output: one row per CONTAMINATED eval document —
    * `(eval_id, n_matches, best_jaccard, best_match_id)`, best = highest
    * rounded Jaccard, ties to the smallest matching id. Rounded-4dp
    * threshold semantics as [[ngramJaccardPairs]].
    *
    * 100 TB shape: candidates come from [[minhashLshPairs]] (map-side
    * signatures, bucket join, `maxBucket` skew cap — never all-pairs);
    * the verify joins the candidate set to the distinct-shingle table by
    * doc id (hash joins keyed on id, cost ∝ candidates · shingles/doc);
    * the cross-split cut happens BEFORE the verify so within-split
    * candidate mass never ships shingles.
    */
  def crossSplitContamination(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splitCol: String,
      evalSplit: String,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Long = 10000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold $threshold must lie in (0, 1]")
    val splits = df.select(col(idCol).as("id"), col(splitCol).as("__split"))
    val cand = minhashLshPairs(df, idCol, textCol, shingleLen, numHashes,
      bands, maxBucket)
      .join(splits.select(col("id").as("id_a"), col("__split").as("sp_a")), "id_a")
      .join(splits.select(col("id").as("id_b"), col("__split").as("sp_b")), "id_b")
      .filter((col("sp_a") === evalSplit) =!= (col("sp_b") === evalSplit))
      .select(
        when(col("sp_a") === evalSplit, col("id_a")).otherwise(col("id_b"))
          .as("eval_id"),
        when(col("sp_a") === evalSplit, col("id_b")).otherwise(col("id_a"))
          .as("other_id"))
    val sh = wordShingles(df, idCol, textCol, shingleLen).localCheckpoint(true)
    val sz = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val common = cand
      .join(sh.select(col("id").as("eval_id"), col("shingle")), "eval_id")
      .join(sh.select(col("id").as("other_id"), col("shingle")),
        Seq("other_id", "shingle"))
      .groupBy(col("eval_id"), col("other_id"))
      .agg(count(lit(1)).as("common"))
    val verified = common
      .join(sz.select(col("id").as("eval_id"), col("sz").as("sz_e")), "eval_id")
      .join(sz.select(col("id").as("other_id"), col("sz").as("sz_o")), "other_id")
      .withColumn("jaccard", round(
        col("common").cast("double") /
          (col("sz_e") + col("sz_o") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      // verified pairs are contamination-sized (small); checkpoint so the
      // count rollup and the best-match window don't re-run the verify
      .localCheckpoint(true)
    val counts = verified.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_matches"))
    val best = verified
      .withColumn("__rn", row_number().over(Window.partitionBy(col("eval_id"))
        .orderBy(col("jaccard").desc, col("other_id").asc)))
      .filter(col("__rn") === 1)
      .select(col("eval_id"), col("jaccard").as("best_jaccard"),
        col("other_id").as("best_match_id"))
    counts.join(best, "eval_id")
  }

  def editVerifiedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Long = 10000L): DataFrame = {
    require(maxDist >= 0, s"maxDist $maxDist must be >= 0")
    val cand = minhashLshPairs(df, idCol, textCol, shingleLen, numHashes, bands, maxBucket)
    val t = df.select(col(idCol).as("__eid"), col(textCol).as("__etxt"))
    cand
      .join(t.select(col("__eid").as("id_a"), col("__etxt").as("__ta")), "id_a")
      .join(t.select(col("__eid").as("id_b"), col("__etxt").as("__tb")), "id_b")
      .withColumn("edit_dist",
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long"))
      .filter(col("edit_dist") >= 0) // threshold variant returns -1 above maxDist
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  /** Exact-substring decontamination: flag corpus documents containing any
    * benchmark phrase verbatim — the stricter companion to the n-gram
    * sweep ([[contaminatedBy]]), catching quoted eval answers that token
    * shingling can miss across formatting differences. Returns
    * (id, n_hits, first_phrase) with the lexicographically first matching
    * phrase as the audit sample.
    *
    * 100 TB shape: the phrase set is evaluation-sized, so it broadcasts
    * and the corpus never shuffles for the scan — the
    * BroadcastNestedLoopJoin is |corpus|·|phrases| `contains` probes
    * streamed map-side (each doc scans the broadcast list in place), and
    * the only corpus shuffle is the per-doc hit count. For phrase sets
    * beyond broadcast size, pre-block by a shared rare token first.
    */
  def containsPhrase(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      phrases: DataFrame,
      phraseCol: String): DataFrame = {
    val p = phrases.select(col(phraseCol).as("__phrase"))
      .filter(col("__phrase").isNotNull && col("__phrase") =!= "").distinct()
    corpus.select(col(idCol).as("id"), col(textCol).as("__text"))
      .join(broadcast(p), col("__text").contains(col("__phrase")))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_hits"),
        min(col("__phrase")).as("first_phrase"))
  }

  /** Cross-document duplicated-SPAN removal — the APPLY step of
    * exact-substring dedup (reference recipe: Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"), at
    * word-token granularity. Every length-`w` token window whose text
    * occurs at least `minOcc` times in the whole corpus (all occurrences
    * counted — within- and cross-document) is marked duplicated; per
    * document, overlapping duplicated windows are merged into maximal
    * spans, the covered tokens are cut, and the survivors are reassembled
    * in order. This is the remove-the-repeated-passage primitive the
    * flag-only checks ([[contaminatedBy]], [[TextOps.dupNgramCoverage]])
    * and the fixed-segment cut ([[TextOps.segmentDedup]]) don't give:
    * sliding windows catch a duplicated passage at ANY alignment, and the
    * interval merge cuts it exactly once.
    *
    * Returns (id, n_tokens, n_dup_windows, n_spans, n_removed,
    * cleaned_text); cleaned_text is the kept tokens joined with single
    * spaces (whitespace-normalized, like every tokenized op here). No
    * floats anywhere, so any engine replays it bit-for-bit.
    *
    * 100 TB shape: the window table shuffles once on the window hash
    * (map-side-combined count, the dup set re-joined co-partitioned on
    * that same key); everything after is keyed by doc id — the span merge
    * is a per-document sort window (docs are KB-sized; fine), and the
    * kept-token anti-join is equi on (id, pos). Lineage is cut with one
    * eager localCheckpoint because the window table feeds both the count
    * and the join-back. The suffix-array construction of the paper is a
    * single-node design; the window-hash formulation is the
    * shuffle-native equivalent at fixed w.
    */
  def dupSpanRemoval(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int,
      minOcc: Long = 2L): DataFrame = {
    require(w >= 2, s"w=$w must be >= 2")
    require(minOcc >= 2, s"minOcc=$minOcc must be >= 2")
    val toks = TextOps.tokens(col(textCol))
    val grams = when(size(toks) >= w,
      transform(
        sequence(lit(0), size(toks) - w),
        i => struct(i.as("p"), md5(array_join(slice(toks, i + 1, lit(w)), " ")).as("h"))))
      .otherwise(array().cast("array<struct<p:int,h:string>>"))
    // consumed twice (occurrence count + join-back): checkpoint so the
    // tokenize+md5 explode runs once
    val wins = Par.spread(df).select(col(idCol).as("id"), explode(grams).as("pg"))
      .select(col("id"), col("pg.p").as("p"), col("pg.h").as("h"))
      .localCheckpoint(true)
    val dup = wins.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOcc).select(col("h"))
    val starts = wins.join(dup, Seq("h")).select(col("id"), col("p"))
    // classic interval merge: a window opens a new span iff it starts past
    // the running max end of everything before it; its fresh coverage is
    // the part past that running end (exact integers, no span groupBy)
    val byDoc = Window.partitionBy(col("id")).orderBy(col("p"))
    val merged = starts
      .withColumn("prev_end",
        max(col("p") + w).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_end").isNull || col("p") > col("prev_end"), 1L).otherwise(0L))
      .withColumn("fresh",
        greatest(col("p") + w - greatest(coalesce(col("prev_end"), col("p")), col("p")), lit(0)))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_dup_windows"),
        sum(col("new_span")).as("n_spans"),
        sum(col("fresh")).cast("long").as("n_removed"))
    val covered = starts
      .select(col("id"), explode(sequence(col("p"), col("p") + (w - 1))).as("pos"))
    val tokPos = df.select(col(idCol).as("id"), posexplode(toks).as(Seq("pos", "tok")))
    val cleaned = tokPos.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")),
        " ").as("cleaned_text"))
    df.select(col(idCol).as("id"), size(toks).cast("long").as("n_tokens"))
      .join(merged, Seq("id"), "left")
      .join(cleaned, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** MinHash signature columns `mh_0..mh_{numHashes-1}` per id: the i-th
    * hash is the minimum over the document's shingles of the FIXED-LENGTH
    * 15-hex-digit window of md5(shingle) starting at offset i. One md5 per
    * shingle; family member i is decided by hex digits from offset i (the
    * same independence argument as the classic rotation family), so
    * per-row hash cost is constant in numHashes. The short fixed window
    * matters at scale: equal-length hex strings compare lexicographically
    * = numerically, the hash-aggregate buffer holds 15-byte values
    * instead of 32-char rotations, and partial-agg merge traffic halves.
    * Recorded cold-JVM A/B (rounds 5-6; one fresh JVM per variant,
    * min-of-3 on sf0.1 full q22 pipeline, identical 256 candidate pairs):
    * window 2.13 s vs rotation 3.10 s — 1.46× faster; the plan it chose
    * is locked by PlanSpec's minhash LSH test. (Round-5 bench once
    * showed q22 at 7.4 s vs round-4's 0.57 s: the 0.57 was subsidized by a
    * since-fixed cross-query persist leak and the 7.4 by shared-host
    * noise; the bench now clears caches between queries and this A/B is
    * the controlled measurement.) Portable: any engine with md5 + substr
    * reproduces it bit-for-bit. Duplicate shingles are harmless (min is
    * idempotent). One shuffle (groupBy id).
    */
  def minhashSignatures(shingles: DataFrame, numHashes: Int): DataFrame = {
    require(numHashes <= 18, "15-hex windows over md5 support at most 18 hashes")
    val withH = shingles.withColumn("__h", md5(col("shingle")))
    val aggs = (0 until numHashes).map { i =>
      min(substring(col("__h"), i + 1, 15)).as(s"mh_$i")
    }
    withH.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** MAP-SIDE MinHash signature: all of a document's shingles live in its
    * own row, so the full signature is an array fold — md5 each gram once
    * into an array, then `array_min` one 15-hex window per slot. ZERO
    * shuffles and no exploded shingle table, versus
    * [[minhashSignatures]]'s explode + groupBy. Bit-identical hash family
    * (min over the same md5 windows), so the two are interchangeable
    * under any oracle. Appends `mh_0..mh_{n-1}` to `df`'s columns.
    *
    * This is also what makes MinHash STREAMABLE: a stateless per-row
    * signature needs no pre-shuffle aggregation, so band buckets can feed
    * a single stateful operator ([[graft.streaming.StreamingLsh]]).
    */
  def withMinhashSignature(
      df: DataFrame,
      textCol: String,
      shingleLen: Int,
      numHashes: Int): DataFrame = {
    require(numHashes <= 18, "15-hex windows over md5 support at most 18 hashes")
    val sigCols = (0 until numHashes).map { i =>
      array_min(transform(col("__mh_hh"), h => substring(h, i + 1, 15))).as(s"mh_$i")
    }
    df.withColumn("__mh_hh", transform(gramArray(col(textCol), shingleLen), g => md5(g)))
      .select(df.columns.map(col).toIndexedSeq ++ sigCols: _*)
  }

  /** LSH band buckets from minhash signatures: `bands` buckets per doc, each
    * the md5 of `rowsPerBand` consecutive signature entries. Docs agreeing on
    * any full band land in the same bucket.
    */
  def lshBands(signatures: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws("|", parts: _*)).as("bucket"))
    }
    signatures.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** MinHash+LSH candidate pairs: distinct (id_a < id_b) sharing at least one
    * band bucket. Shuffles on (band, bucket); `maxBucket` caps pathological
    * buckets (identical boilerplate docs) the same way `maxDf` caps shingles.
    *
    * The cap is an ABSOLUTE per-bucket work bound, independent of corpus
    * size: a kept bucket of B rows generates B²/2 pairs in one task per
    * band. Measured at the default (ScaleCheck `minhash_capstress`, 64×
    * sf0.1): a bucket crossing the cap is star-salvaged and the run stays
    * linear; the same corpus UNCAPPED pays 180.5 s (14×) for one
    * 12.8k bucket, and a bucket just UNDER the cap (9,472 rows — the
    * worst the default admits) costs ~108 s of straggler time (~1.8·10⁸
    * pairs ≈ 100 s of one core). Tuning rule this pins: maxBucket=10000
    * keeps B²/2 candidate density for families up to 10k docs; drop to
    * ~2000 (≈2 s worst bucket) when p99 task latency matters more —
    * within-bucket pair work scales with the SQUARE of the cap.
    *
    * OVER-CAP buckets are STAR-SALVAGED, not dropped (round 15; the 64×
    * cap-onset measurement showed a >10k identical-doc family — the
    * most-duplicated content in a real crawl — yielded ZERO pairs under
    * the old left-anti drop): every member of an over-cap bucket pairs
    * with the bucket's MIN id (the same star-edge shape as
    * [[multiKeyClusters]]), B−1 pairs instead of B²/2, linear in the
    * family. Connected-component dedup (dedupApply/fuzzyDedup) then
    * still groups the whole family through the representative, and the
    * downstream exact-similarity verify screens collision-driven false
    * positives exactly as it does for full pairs. What IS lost over the
    * cap: within-family candidate pairs that don't involve the
    * representative — irrelevant for CC clustering, but if you need the
    * dense pair set, raise `maxBucket`. [[minhashLshOverCapBuckets]] is
    * the audit side channel (band, bucket, n, rep) for every bucket that
    * took this path — materialize it next to the pairs so salvage recall
    * loss is observable, never silent.
    */
  /** The checkpointed (id, band, bucket) table both [[minhashLshPairs]]
    * and [[minhashLshOverCapBuckets]] run on — exposed (package-private)
    * so a pipeline materializing pairs AND the over-cap audit pays the
    * shingle+minhash pass once ([[graft.Queries]] q331 does this).
    */
  private[graft] def minhashBandBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      numHashes: Int,
      bands: Int): DataFrame = {
    // Map-side signatures ([[withMinhashSignature]]): a document's whole
    // signature folds inside its own row, so the band-bucket table is
    // produced with ZERO shuffles — no exploded shingle table, no
    // signature groupBy. (min() is duplicate-insensitive, so skipping the
    // distinct is correct; the array fold skips even the explode.)
    val sigs = withMinhashSignature(
      Par.spread(df.select(col(idCol).as("id"), col(textCol).as("__mht"))),
      "__mht", shingleLen, numHashes).drop("__mht")
    // One checkpoint of the band-bucket table: the shingle+minhash pipeline
    // runs once; the hot-bucket count and both self-join sides all re-read
    // the materialized buckets (eager localCheckpoint, not persist — see
    // ngramJaccardPairs for the leak rationale).
    lshBands(sigs, numHashes, bands).localCheckpoint(true)
  }

  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Long = 10000L): DataFrame = {
    val bb = minhashBandBuckets(df, idCol, textCol, shingleLen, numHashes, bands)
    minhashLshPairsFromBuckets(bb, maxBucket)
  }

  private[graft] def minhashLshPairsFromBuckets(
      bb: DataFrame,
      maxBucket: Long): DataFrame = {
    // The over-cap set has at most |rows·bands|/maxBucket buckets —
    // broadcastable by construction; checkpointed because it feeds the
    // anti-join, the semi-join and (via hotRows) the rep table.
    val hot = bb.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)
      .select(col("band"), col("bucket"))
      .localCheckpoint(true)
    val capped = bb.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    // The scaladoc's contract is a BUCKET-LOCAL shuffle join; pin it
    // (round 15). Left to size estimates the planner broadcasts one side,
    // which parks the whole B²/2 pair generation inside the stream side's
    // (often single-partition, scan-derived) map stage — measured as a
    // multi-second single task at bench scale. The hint exchanges both
    // sides on (band, bucket), so per-bucket pair work distributes and the
    // maxBucket cap bounds each task; at crawl scale both sides exceed the
    // broadcast threshold and a shuffle join is what the planner picks
    // anyway — the hint just prefers hash over sort-merge.
    val full = capped.as("a")
      .join(
        capped.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // Star salvage (see scaladoc): each over-cap bucket member pairs with
    // the bucket's min id — B−1 pairs per bucket, linear, rep < id by
    // construction so the id_a < id_b contract holds without a sort.
    val hotRows = bb.join(broadcast(hot), Seq("band", "bucket"), "left_semi")
    val reps = hotRows.groupBy(col("band"), col("bucket"))
      .agg(min(col("id")).as("rep"))
    val star = hotRows.join(broadcast(reps), Seq("band", "bucket"))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    full.unionByName(star).distinct()
  }

  /** Audit side channel for [[minhashLshPairs]]'s star salvage — the
    * repo-wide no-silent-caps rule: one row per (band, bucket) whose
    * membership exceeded `maxBucket`, with the member count `n` and the
    * min-id representative `rep` the salvage starred through. Empty
    * output = every bucket got full B²/2 candidate density. Materialize
    * this next to the pairs in a production run; a non-empty result is
    * the signal to either raise `maxBucket` (if the dense within-family
    * pair set matters) or accept star connectivity.
    *
    * 100 TB shape: one map-side-combined groupBy over the band-bucket
    * table; output bounded by |rows·bands|/maxBucket rows.
    */
  def minhashLshOverCapBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Long = 10000L): DataFrame =
    overCapBucketsFromBuckets(
      minhashBandBuckets(df, idCol, textCol, shingleLen, numHashes, bands),
      maxBucket)

  private[graft] def overCapBucketsFromBuckets(
      bb: DataFrame,
      maxBucket: Long): DataFrame =
    bb.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("rep"))
      .filter(col("n") > maxBucket)
      .select(col("band"), col("bucket"), col("n"), col("rep"))

  /** Incremental MinHash+LSH: near-dup candidates for a NEW batch against
    * an EXISTING corpus plus within the batch itself — daily-crawl dedup
    * without ever re-pairing the old corpus against itself (the quadratic
    * bulk a full [[minhashLshPairs]] re-run would redo every day). Returns
    * (id_a, id_b) with id_a from either side, id_b always from the new
    * batch (old↔new pairs keep the old id first).
    *
    * 100 TB shape: both sides bucket independently (the old side's
    * signatures are re-derivable or can be persisted columns); the join is
    * bucket-local with the same `maxBucket` skew cap, and the old↔old
    * pair space — the bulk of the quadratic work — is never generated.
    */
  def minhashLshPairsIncremental(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucket: Long = 10000L): DataFrame = {
    def buckets(df: DataFrame) = lshBands(
      withMinhashSignature(
        Par.spread(df.select(col(idCol).as("id"), col(textCol).as("__mht"))),
        "__mht", shingleLen, numHashes).drop("__mht"),
      numHashes, bands)
    // Both sides checkpoint once: each feeds the hot-bucket count plus one
    // or two join inputs, and the shingle+minhash pass over the LARGE old
    // corpus is exactly the thing a daily incremental run cannot afford to
    // execute twice. (In steady state the old side's signatures would be
    // persisted columns — accept them precomputed and this checkpoint is a
    // cheap re-read.) Eager localCheckpoint, not persist: blocks free on
    // GC instead of pinning the SQL cache across daily invocations.
    val oldBb = buckets(oldDf).localCheckpoint(true)
    val newBb = buckets(newDf).localCheckpoint(true)
    val all = oldBb.select(col("band"), col("bucket"))
      .unionByName(newBb.select(col("band"), col("bucket")))
    val hot = all.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)
      .select(col("band"), col("bucket"))
      .localCheckpoint(true)
    val oldCapped = oldBb.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    val newCapped = newBb.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    val oldNew = oldCapped.as("a").join(
        newCapped.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val newNew = newCapped.as("a").join(
        newCapped.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // Star salvage of over-cap buckets ([[minhashLshPairs]] scaladoc; the
    // over-cap family is EXACTLY the daily boilerplate flood this
    // incremental path exists for). Representative = min id over BOTH
    // sides (min of (id, is_new) structs — a same-id re-crawl ties to
    // the old copy); every member pairs with it EXCEPT old↔old pairs,
    // which this op's contract never emits (old-corpus dedup already
    // ran). Orientation per the contract: old id first when mixed,
    // min-first (rep < id) when both new.
    val hotMembers = oldBb.join(broadcast(hot), Seq("band", "bucket"), "left_semi")
      .withColumn("is_new", lit(false))
      .unionByName(
        newBb.join(broadcast(hot), Seq("band", "bucket"), "left_semi")
          .withColumn("is_new", lit(true)))
    val reps = hotMembers.groupBy(col("band"), col("bucket"))
      .agg(min(struct(col("id"), col("is_new"))).as("r"))
      .select(col("band"), col("bucket"),
        col("r.id").as("rep"), col("r.is_new").as("rep_new"))
    val star = hotMembers.join(broadcast(reps), Seq("band", "bucket"))
      .filter(col("id") =!= col("rep"))
      .filter(col("is_new") || col("rep_new"))
      .select(
        when(!col("is_new") && col("rep_new"), col("id")).otherwise(col("rep"))
          .as("id_a"),
        when(!col("is_new") && col("rep_new"), col("rep")).otherwise(col("id"))
          .as("id_b"))
    oldNew.unionByName(newNew).unionByName(star).distinct()
  }

  /** 64-bit SimHash as a '0'/'1' bit string (avoids BIGINT sign overflow and
    * stays engine-portable). Bit b of a token = bit (b%4) of hex digit
    * (b/4 + 1) of md5(token); document bit b = majority vote over all token
    * occurrences (sum of ±1 > 0). Computed as 64 map-side partial sums in a
    * single groupBy — one shuffle.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Par.spread(df).select(
      col(idCol).as("id"),
      explode(TextOps.tokens(col(textCol))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val hexIdx: Column => Column = d => instr(lit("0123456789abcdef"), d) - 1
    val bitSums = (0 until 64).map { b =>
      val digit = hexIdx(substring(col("h"), b / 4 + 1, 1))
      val bit = floor(digit / math.pow(2, b % 4).toInt).cast("long") % 2
      sum(bit * 2 - 1).as(s"s_$b")
    }
    val sums = toks.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    sums.select(
      col("id"),
      concat((0 until 64).map(b => when(col(s"s_$b") > 0, "1").otherwise("0")): _*)
        .as("simhash"))
  }

  /** The 64-char '0'/'1' signature as 4 packed 16-bit words: per-candidate
    * Hamming then costs 4 XOR + 4 bit_count primitives inside codegen
    * instead of splitting both strings into 64-element arrays and running
    * a comparison lambda per bit (measured 18 µs → sub-µs per pair; the
    * candidate set is |pairs sharing a block|, which at crawl scale is
    * orders of magnitude above the near-dup output).
    */
  private def simhashWords(df: DataFrame): DataFrame =
    (0 until 4).foldLeft(df) { (acc, k) =>
      acc.withColumn(s"w$k",
        conv(substring(col("simhash"), k * 16 + 1, 16), 2, 10).cast("long"))
    }

  private def wordHamming: Column =
    (0 until 4).map(k => bit_count(col(s"a.w$k").bitwiseXOR(col(s"b.w$k"))))
      .reduce(_ + _).cast("int")

  /** SimHash near-dup candidates: pairs agreeing on a `prefixBits`-bit prefix
    * with Hamming distance ≤ `maxHamming` over the full 64 bits. Prefix
    * blocking keeps the join bucketed; for guaranteed recall at distance d,
    * run 64/prefixBits rotated-prefix passes (standard SimHash table
    * rotation) — [[simhashPairsMultiPass]] runs all tables in one join.
    */
  def simhashPairs(
      sim: DataFrame,
      prefixBits: Int = 16,
      maxHamming: Int = 3): DataFrame = {
    // both self-join sides; localCheckpoint (not persist) so the upstream
    // simhash aggregation runs once and the blocks free on GC
    val withPrefix = simhashWords(
        sim.withColumn("pfx", substring(col("simhash"), 1, prefixBits)))
      .localCheckpoint(true)
    withPrefix.as("a")
      .join(withPrefix.as("b"),
        col("a.pfx") === col("b.pfx") && col("a.id") < col("b.id"))
      .withColumn("hamming", wordHamming)
      .filter(col("hamming") <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("hamming"))
  }

  /** SimHash near-dup pairs with GUARANTEED recall at distance
    * `maxHamming`: the standard rotated-table scheme — table k blocks on
    * the signature rotated left by k·prefixBits. A pair within Hamming
    * d < 64/prefixBits has some prefixBits-bit block containing NO
    * differing bit (pigeonhole over the blocks), and that block is the
    * prefix of exactly one rotation — so every qualifying pair is found,
    * which the single-pass [[simhashPairs]] cannot promise.
    *
    * Rotation k's prefix IS block k of the original signature, so no
    * rotated string is ever built: each row explodes into `tables`
    * (table, block) keys and ONE self-join on (table, block) runs all
    * tables together — a single shuffle of t·n skinny rows instead of t
    * sequential bucketed joins (measured 6.5 s → 1.9 s at sf0.1).
    * Hamming is computed on the original signatures, so a pair caught by
    * several tables collapses under the final distinct.
    *
    * 100 TB shape: same volume through one exchange, each bucket still
    * prefix-blocked; the t× row fan-out rides the shuffle, never a
    * quadratic step.
    */
  def simhashPairsMultiPass(
      sim: DataFrame,
      prefixBits: Int = 16,
      maxHamming: Int = 3): DataFrame = {
    require(64 % prefixBits == 0, s"prefixBits=$prefixBits must divide 64")
    val tables = 64 / prefixBits
    require(maxHamming < tables,
      s"guaranteed recall needs maxHamming < 64/prefixBits = $tables " +
        "(pigeonhole: some block must be difference-free)")
    // materialize the signatures once; both self-join sides would
    // otherwise re-run the upstream simhash aggregation
    val blocks = simhashWords(sim)
      .select(
        col("id"), col("w0"), col("w1"), col("w2"), col("w3"),
        explode(array((0 until tables).map(k => struct(
          lit(k).as("tbl"),
          substring(col("simhash"), k * prefixBits + 1, prefixBits).as("blk"))): _*)).as("t"))
      .select(col("id"), col("w0"), col("w1"), col("w2"), col("w3"),
        col("t.tbl").as("tbl"), col("t.blk").as("blk"))
      .localCheckpoint(true)
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.blk") === col("b.blk") &&
          col("a.id") < col("b.id"))
      .withColumn("hamming", wordHamming)
      .filter(col("hamming") <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("hamming"))
      .distinct()
  }

  /** Dedup yield-vs-threshold sweep — the table that PICKS the simhash
    * Hamming cutoff instead of guessing it: per distance d, how many
    * near-dup pairs appear at exactly d, and how many documents become
    * dedup-affected for the FIRST time (their minimum pair distance is
    * d). Read cumulatively: `n_docs_cum` at d = documents a dedup at
    * threshold d would touch — the removal-budget curve; a sharp elbow
    * marks the natural true-dup/false-positive boundary. Rides the
    * guaranteed-recall [[simhashPairsMultiPass]] (single-pass blocking
    * would under-count the very tail the sweep exists to expose).
    *
    * Output per d ∈ [0, maxHamming] (zero rows kept): `(hamming,
    * n_pairs, n_pairs_cum, n_docs_new, n_docs_cum)`.
    *
    * 100 TB shape: the pair generation dominates and is the multi-pass
    * operator's (bucketed, skew-capped); on top ride one checkpoint of
    * the pair set, two map-side-combined histograms (pair-distance and
    * min-distance-per-doc), and a window over a ≤ `maxHamming+1`-row
    * frame.
    */
  def simhashYieldCurve(
      df: DataFrame,
      idCol: String,
      textCol: String,
      prefixBits: Int = 16,
      maxHamming: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = simhashPairsMultiPass(simhash(df, idCol, textCol),
        prefixBits, maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      .localCheckpoint()
    val frame = df.sparkSession.range(0, maxHamming + 1)
      .select(col("id").cast("int").as("hamming"))
    val pc = pairs.groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
    val dc = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("__id"),
        col("hamming"))
      .groupBy("__id").agg(min("hamming").as("hamming"))
      .groupBy("hamming").agg(count(lit(1)).as("n_docs_new"))
    val wOrd = Window.orderBy(col("hamming"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frame
      .join(pc, Seq("hamming"), "left")
      .join(dc, Seq("hamming"), "left")
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
      .withColumn("n_docs_new", coalesce(col("n_docs_new"), lit(0L)))
      .withColumn("n_pairs_cum", sum(col("n_pairs")).over(wOrd))
      .withColumn("n_docs_cum", sum(col("n_docs_new")).over(wOrd))
      .select("hamming", "n_pairs", "n_pairs_cum", "n_docs_new",
        "n_docs_cum")
  }

  /** Embedding near-duplicates: pairs with cosine ≥ `threshold` (rounded to
    * 6 dp for cross-engine determinism).
    *
    * `planes = 0` → exact all-pairs via the broadcast primitive kernel
    * ([[Similarity.allPairsCosine]]) — requires the table to be
    * broadcastable; kept as the small-data exactness baseline.
    *
    * `planes > 0` → sign-random-projection blocking (the 100 TB route):
    * the `planes`-bit SRP signature is split into `bands` bands (same
    * OR-of-ANDs amplification as [[minhashLshPairs]]); a pair is a
    * candidate iff it agrees on ALL bits of SOME band, so recall at a
    * given threshold is tuned by (planes/bands, bands) instead of being
    * stuck at agree-on-everything. Only candidates are scored; the one
    * data shuffle is the self-join on (band, bucket), and a final
    * `distinct` collapses pairs that collide in several bands. Vectors
    * ride along the band explode so no join back to the base table is
    * needed.
    *
    * `maxBucket` is the same skew guard as [[minhashLshPairs]]: a large
    * cluster of identical boilerplate embeddings lands in ONE bucket of
    * EVERY band (the `planes` knob tunes density, not degenerate
    * identity), and without the cap that bucket's self-join is
    * |cluster|² pairs before the cosine filter ever runs. Over-cap
    * buckets are STAR-SALVAGED ([[minhashLshPairs]] scaladoc): each
    * member is scored against the bucket's min-id representative only —
    * B−1 cosine evaluations instead of B²/2 — and the ≥ `threshold`
    * filter still applies to every emitted pair, so the output contract
    * (all pairs carry a true cosine ≥ threshold) is preserved; what's
    * lost over the cap is member↔member pairs not through the
    * representative, which CC-style grouping downstream doesn't need.
    * The over-cap set has at most |rows·bands|/maxBucket buckets —
    * broadcastable by construction.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int = 0,
      bands: Int = 1,
      maxBucket: Long = 10000L): DataFrame = {
    if (planes == 0)
      return Similarity.allPairsCosine(df, idCol, vecCol, threshold)
    require(bands > 0 && planes % bands == 0, s"bands=$bands must divide planes=$planes")
    val bitsPerBand = planes / bands
    val banded = df
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      // norm once per ROW here, not per candidate PAIR after the join
      .withColumn("nm", Similarity.norm(col("v")))
      .withColumn("bk",
        Similarity.srpBucket(col("v"), planes, Similarity.sniffDim(df, vecCol)))
      .select(col("id"), col("v"), col("nm"),
        explode(array((0 until bands).map(b => struct(
          lit(b).as("band"),
          substring(col("bk"), b * bitsPerBand + 1, bitsPerBand).as("bucket"))): _*)).as("bb"))
      .select(col("id"), col("v"), col("nm"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      // consumed three times (hot count + both join sides); checkpointed so
      // the SRP signature pass runs once and blocks free on GC
      .localCheckpoint(true)
    val hot = banded.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)
      .select(col("band"), col("bucket"))
      .localCheckpoint(true)
    val capped = banded.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    // Bucket-local SHUFFLE join, pinned (round 15) — same reasoning as
    // [[minhashLshPairsFromBuckets]]: a broadcast pick runs every
    // candidate cosine inside the banded table's single scan-derived
    // partition (measured 4 s in one task at bench scale); the hint
    // spreads buckets across reduce tasks and is what a crawl-scale
    // planner does regardless.
    val full = capped.as("a")
      .join(capped.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .withColumn("cosine",
        round(Similarity.dot(col("a.v"), col("b.v")) / (col("a.nm") * col("b.nm")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
    // Star salvage (see scaladoc): members of over-cap buckets score
    // against the bucket's min-id representative only — linear — and the
    // threshold filter still gates every emitted pair. min(struct(...))
    // carries the representative's vector+norm out of the same aggregate
    // (struct ordering compares id first; v/nm ride along).
    val hotRows = banded.join(broadcast(hot), Seq("band", "bucket"), "left_semi")
    val reps = hotRows.groupBy(col("band"), col("bucket"))
      .agg(min(struct(col("id"), col("v"), col("nm"))).as("r"))
      .select(col("band"), col("bucket"),
        col("r.id").as("rid"), col("r.v").as("rv"), col("r.nm").as("rnm"))
    val star = hotRows.join(broadcast(reps), Seq("band", "bucket"))
      .filter(col("id") =!= col("rid"))
      .withColumn("cosine",
        round(Similarity.dot(col("v"), col("rv")) / (col("nm") * col("rnm")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("rid").as("id_a"), col("id").as("id_b"), col("cosine"))
    full.unionByName(star).distinct()
  }

  /** Multi-evidence dedup clusters: two rows merge when ANY of several
    * evidence keys matches — full-content hash OR head hash OR tail hash
    * OR canonical URL — the union-find shape of production crawl dedup,
    * where no single fingerprint catches every duplicate family
    * (truncated mirrors share a head, paginated copies share a tail,
    * syndicated copies share a URL). Each evidence key contributes STAR
    * edges only — every sharer links to the bucket's MIN id — so a
    * k-row bucket costs k−1 edges, never k²/2 pairs; connected
    * components over the union then merges across evidence types
    * transitively. Buckets larger than `maxBucket` are dropped as
    * non-evidence (a hash of the empty string matching 10M rows is a
    * degenerate key, not a duplicate family — same reasoning as the LSH
    * skew caps, and it keeps any single evidence value from chaining
    * the corpus together). NULL key values never match. Output is the
    * [[Cluster.dedupAssign]] shape: `(id, cluster, is_canonical)` for
    * every corpus row.
    *
    * 100 TB shape: per evidence key ONE map-side-combined
    * groupBy(value) to bucket roots + one value-keyed join back —
    * edges are linear in matched rows; CC is the large-star/small-star
    * loop (O(log² n) rounds). No pair space anywhere.
    */
  def multiKeyClusters(
      df: DataFrame,
      idCol: String,
      evidenceKeys: Seq[(String, Column)],
      maxBucket: Int = 1000): DataFrame = {
    require(evidenceKeys.nonEmpty, "at least one evidence key")
    require(maxBucket >= 2, s"maxBucket $maxBucket must be >= 2")
    val edges = evidenceKeys.map { case (_, keyExpr) =>
      val keyed = df.select(col(idCol).as("__id"), keyExpr.as("__kv"))
        .filter(col("__kv").isNotNull)
      val roots = keyed.groupBy("__kv")
        .agg(min(col("__id")).as("__root"), count(lit(1)).as("__c"))
        .filter(col("__c") >= 2 && col("__c") <= maxBucket)
        .select("__kv", "__root")
      keyed.join(roots, Seq("__kv"))
        .filter(col("__id") =!= col("__root"))
        .select(col("__root").as("id_a"), col("__id").as("id_b"))
    }.reduce(_ unionByName _).distinct()
    Cluster.dedupAssign(df, idCol, edges, "id_a", "id_b")
  }

  /** Chapman capture–recapture estimate — how big is the population
    * NEITHER pass saw? Run two independent detectors over the same
    * corpus (two LSH band configs, two quality screens, two crawl
    * snapshots — or first-half vs second-half observation windows) and
    * the overlap of their finds estimates the total:
    *
    *   {{{ N̂ = ⌊(n_a+1)(n_b+1)/(n_both+1)⌋ − 1 }}}
    *
    * (Chapman's bias-corrected Lincoln–Petersen — defined even at zero
    * overlap). The honest answer to "how many duplicates/PII hits/bad
    * docs did we MISS": a detector audit without ground truth. Also
    * emits each pass's estimated recall under the independence
    * assumption (`recall_a = n_both/n_b`: the fraction of B's finds A
    * also caught). Independence is the caller's burden — two passes
    * sharing a blocking key overlap MORE than independence predicts
    * and the estimate reads low (documented, inherent to the method).
    *
    * Pure integers: counts and one floor division each. Output (one
    * row): `(n_a, n_b, n_both, chapman_est, recall_a_micro,
    * recall_b_micro)` — recalls NULL when the other side is empty.
    *
    * 100 TB shape: two distinct groupBys and one left-semi join on the
    * id — three collapsing shuffles, one-row output.
    */
  def captureRecapture(
      a: DataFrame,
      idColA: String,
      b: DataFrame,
      idColB: String): DataFrame = {
    val da = a.filter(col(idColA).isNotNull)
      .select(col(idColA).cast("string").as("__id")).distinct()
      .localCheckpoint()
    val db = b.filter(col(idColB).isNotNull)
      .select(col(idColB).cast("string").as("__id")).distinct()
      .localCheckpoint()
    val na = da.count()
    val nb = db.count()
    val nBoth = da.join(db, Seq("__id"), "left_semi").count()
    val chapman = (BigInt(na + 1) * (nb + 1) / (nBoth + 1) - 1).toLong
    val recallA = if (nb == 0) None else Some(nBoth * 1000000L / nb)
    val recallB = if (na == 0) None else Some(nBoth * 1000000L / na)
    val spark = a.sparkSession
    import spark.implicits._
    Seq((na, nb, nBoth, chapman, recallA, recallB))
      .toDF("n_a", "n_b", "n_both", "chapman_est",
        "recall_a_micro", "recall_b_micro")
  }
}
