package graft

import graft.ops.{Cluster, Dedup, Multimodal, Sampling, Similarity, Sketch, TextOps}
import org.apache.spark.sql.functions._

/** Unit-level checks of the training-data-pipeline operators on small
  * hand-built frames (the sf0.01 oracle gate covers them at scale).
  */
class OpsSpec extends SparkSuite {

  private lazy val docs = {
    val spark2 = spark
    import spark2.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "a completely different sentence about spark engines"),
      (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (5L, "der hund und die katze und der vogel")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups collapse identical texts") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(g.length == 4)
    val dup = g.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("decontamination flags overlap with the benchmark set only") {
    // benchmark = doc 1; docs 2 and 4 share 3-grams with it, doc 3 and the
    // German doc 5 share none
    val bench = docs.filter(col("doc_id") === 1L)
    val corpus = docs.filter(col("doc_id") =!= 1L)
    val hit = Dedup.contaminatedBy(corpus, "doc_id", "text", bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("overlap")).toMap
    assert(hit.keySet == Set(2L, 4L))
    assert(hit(4L) == 7L) // exact dup shares all 7 shingles
    assert(hit(2L) == 6L) // near dup differs in the final word
  }

  test("stratified sample is deterministic, map-only, and near the target rates") {
    import graft.ops.Sampling
    val spark2 = spark
    import spark2.implicits._
    val rows = (0 until 4000).map { i =>
      (i.toLong, if (i % 2 == 0) "en" else "de")
    }.toDF("id", "lang")
    val sampled = Sampling.stratifiedSample(
      rows, "lang", "id", Map("en" -> 0.5), default = 0.125)
    // no shuffle: pure filter over the scan
    assert(sampled.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty)
    val byLang = sampled.groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    assert(math.abs(byLang("en") - 1000L) < 120) // 2000 * 0.5
    assert(math.abs(byLang("de") - 250L) < 80)   // 2000 * 0.125
    // reproducible: second evaluation selects the identical rows
    val a = sampled.collect().map(_.getLong(0)).toSet
    val b = Sampling.stratifiedSample(
      rows, "lang", "id", Map("en" -> 0.5), default = 0.125)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("connected components resolve chains, cliques, and isolated nodes") {
    val spark2 = spark
    import spark2.implicits._
    // chain 1-2-3-4-5 (diameter > 1 round of naive propagation),
    // clique {10,11,12}, pair {20,21}; node 30 isolated (absent from pairs)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L) // reversed order on purpose
    ).toDF("id_a", "id_b")
    val cc = Cluster.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert((1L to 5L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(cc(_) == 10L))
    assert(cc(20L) == 20L && cc(21L) == 20L)
    assert(!cc.contains(30L))

    val corpus = (Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 20L, 21L, 30L))
      .toDF("doc_id")
    val assign = Cluster.dedupAssign(corpus, "doc_id", pairs, "id_a", "id_b")
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Boolean]("is_canonical")))).toMap
    assert(assign(30L) == ((30L, true)))   // singleton keeps itself
    assert(assign(1L) == ((1L, true)))
    assert(assign(5L) == ((1L, false)))
    assert(assign.values.count(_._2) == 4) // one canonical per cluster: 1,10,20,30
  }

  test("repetition signals: repetitive doc dominated by its top bigram") {
    val spark2 = spark
    import spark2.implicits._
    val d = Seq(
      (1L, "spam ham spam ham spam ham spam ham"),
      (2L, "all tokens here are fully distinct words"),
      (3L, "one")
    ).toDF("doc_id", "text")
    val r = TextOps.repetitionSignals(d, "text", Seq("doc_id"))
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    // doc 1: 8 tokens, 2 distinct; bigrams: "spam ham" x4, "ham spam" x3
    assert(r(1L).getAs[Double]("distinct_ratio") == 0.25)
    assert(r(1L).getAs[String]("top_bigram") == "spam ham")
    assert(r(1L).getAs[Long]("top_bigram_cnt") == 4L)
    assert(r(1L).getAs[Double]("top_bigram_ratio") == 0.5714)
    // doc 2: all distinct, every bigram count 1, ties to lexicographically
    // largest bigram
    assert(r(2L).getAs[Double]("distinct_ratio") == 1.0)
    assert(r(2L).getAs[Long]("top_bigram_cnt") == 1L)
    assert(r(2L).getAs[String]("top_bigram") == "tokens here")
    // doc 3: no bigram at all
    assert(r(3L).getAs[String]("top_bigram") == null)
    assert(r(3L).getAs[Long]("top_bigram_cnt") == 0L)
    assert(r(3L).getAs[Double]("top_bigram_ratio") == 0.0)
  }

  test("pii redaction counts and replaces emails before phones") {
    val spark2 = spark
    import spark2.implicits._
    val d = Seq(
      (1L, "write to jane.doe+x@mail.example.org or call 555-123-4567 now"),
      (2L, "digits 555-12-34567 do not match, neither does a@b"),
      (3L, "two mails a.b@c.io and d_e@f.co plus 111-222-3333 and 999-888-7777")
    ).toDF("doc_id", "text")
    val r = TextOps.redactPii(d, "text", Seq("doc_id"))
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Long]("n_emails") == 1L && r(1L).getAs[Long]("n_phones") == 1L)
    assert(r(1L).getAs[String]("redacted") == "write to <EMAIL> or call <PHONE> now")
    assert(r(2L).getAs[Long]("n_emails") == 0L && r(2L).getAs[Long]("n_phones") == 0L)
    assert(r(3L).getAs[Long]("n_emails") == 2L && r(3L).getAs[Long]("n_phones") == 2L)
    assert(r(3L).getAs[String]("redacted") ==
      "two mails <EMAIL> and <EMAIL> plus <PHONE> and <PHONE>")
  }

  test("top tokens per group rank by count then token") {
    val spark2 = spark
    import spark2.implicits._
    val d = Seq(
      (1L, "en", "b b b a a c"),
      (2L, "en", "a"),
      (3L, "de", "x y")
    ).toDF("doc_id", "lang", "text")
    val top = TextOps.topTokens(d, "text", "lang", 2).collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Int]("rank")) ->
        ((r.getAs[String]("token"), r.getAs[Long]("cnt")))).toMap
    assert(top(("en", 1)) == (("a", 3L))) // a=3 (2+1), b=3; tie → smaller token
    assert(top(("en", 2)) == (("b", 3L)))
    assert(top(("de", 1)) == (("x", 1L)))
    assert(top(("de", 2)) == (("y", 1L)))
    assert(top.size == 4)
  }

  test("ngram jaccard finds the near-dup pair and not the unrelated one") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("prefix-filtered jaccard is lossless: identical pairs to the plain inverted index") {
    // Randomized parity across thresholds, including ones where the 4-dp
    // rounding slack matters (t*|S| near-integer shapes) and tiny docs.
    val rnd = new scala.util.Random(20260814)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "alpha", "beta")
    val rows = (0L until 60L).map { i =>
      val len = 1 + rnd.nextInt(12)
      val base = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      // clone-with-small-edit every third doc so near-dups exist
      val txt = if (i % 3 == 2) base + " " + vocab(rnd.nextInt(vocab.size)) else base
      (i, txt)
    }
    val d = spark.createDataFrame(rows).toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.6667, 0.9)) {
      val plain = Dedup.ngramJaccardPairs(d, "doc_id", "text", 2, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = Dedup.ngramJaccardPairsPrefix(d, "doc_id", "text", 2, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref == plain, s"threshold $t: prefix-filtered pairs diverged")
      val flat = Dedup.ngramJaccardPairsPrefix(d, "doc_id", "text", 2, t, rarityOrder = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(flat == plain, s"threshold $t: flat-order prefix pairs diverged")
      assert(plain.nonEmpty || t >= 0.9)
    }
  }

  test("bloom decontamination equals the exact broadcast sweep") {
    val corpus = docs.filter(col("doc_id") >= 3)
    val bench = docs.filter(col("doc_id") < 3)
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("overlap"))).toSet
    val exact = pairs(Dedup.contaminatedBy(
      corpus, "doc_id", "text", bench, "doc_id", "text", n = 3))
    val bloom = pairs(Dedup.contaminatedByBloom(
      corpus, "doc_id", "text", bench, "doc_id", "text", n = 3))
    assert(bloom == exact)
    assert(exact.contains((4L, 7L))) // doc 4 = exact dup of bench doc 1: all 7 shingles
  }

  test("edit-verified pairs: distance gates LSH candidates, exact dup is 0") {
    val byDist = Dedup.editVerifiedPairs(docs, "doc_id", "text", maxDist = 0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(byDist == Map((1L, 4L) -> 0L)) // only the exact dup survives maxDist=0
    val wide = Dedup.editVerifiedPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // dog vs cat = 3 substitutions; present iff LSH bucketed them together
    wide.get((1L, 2L)).foreach(d => assert(d == 3L))
    assert(wide((1L, 4L)) == 0L)
  }

  test("leave-last-k split holds out exactly the latest k per entity") {
    val spark2 = spark
    import spark2.implicits._
    val ev = Seq(
      ("u1", 1L, 10L), ("u1", 2L, 20L), ("u1", 3L, 30L), ("u1", 4L, 40L),
      ("u2", 5L, 100L), ("u2", 6L, 100L), // tie on ts → event_id desc wins
      ("u3", 7L, 5L) // fewer than k events → all holdout
    ).toDF("user_id", "event_id", "ts")
    val s = Sampling.leaveLastKSplit(ev, "user_id", "ts", "event_id", k = 2)
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[String]("split"))).toMap
    assert(s(4L) == "test" && s(3L) == "test" && s(2L) == "train" && s(1L) == "train")
    assert(s(6L) == "test" && s(5L) == "test")
    assert(s(7L) == "test")
  }

  test("oov rate: in-vocab doc scores 0, out-of-vocab tokens counted") {
    val spark2 = spark
    import spark2.implicits._
    // vocab of size 3 over this corpus = {a, b, c} (a:3, b:2, c:2 beats d:1 on ties)
    val d = Seq((1L, "a b c a"), (2L, "a b c"), (3L, "d d c a")).toDF("doc_id", "text")
    val r = TextOps.oovRate(d, Seq("doc_id"), "text", vocabSize = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"), r.getAs[Double]("oov_ratio")))).toMap
    assert(r(1L) == ((4L, 0L, 0.0)))
    assert(r(2L) == ((3L, 0L, 0.0)))
    assert(r(3L) == ((4L, 2L, 0.5))) // the two d's are OOV
  }

  test("corpus overlap: identical groups estimate 1.0, disjoint estimate 0.0") {
    val spark2 = spark
    import spark2.implicits._
    val d = Seq(
      ("s1", "alpha beta gamma delta epsilon zeta"),
      ("s2", "alpha beta gamma delta epsilon zeta"), // identical to s1
      ("s3", "one two three four five six seven")    // disjoint
    ).toDF("source", "text")
    val o = Sketch.corpusOverlap(d, "source", "text", shingleLen = 3)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getAs[Double]("est_jaccard"))).toMap
    assert(o(("s1", "s2")) == 1.0)
    assert(o(("s1", "s3")) == 0.0)
    assert(o(("s2", "s3")) == 0.0)
  }

  test("perceptual hash: 64 balanced bits, equal payloads collide, hamming 0 via simhashPairs") {
    val spark2 = spark
    import spark2.implicits._
    val d = Seq((1L, "image-bytes-alpha"), (2L, "image-bytes-alpha"), (3L, "other-image"))
      .toDF("doc_id", "txt")
      .withColumn("payload", org.apache.spark.sql.functions.encode(col("txt"), "UTF-8"))
    val ph = graft.ops.Multimodal.perceptualHash(d, "doc_id", "payload")
    val rows = ph.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.values.forall(h => h.length == 64 && h.forall(c => c == '0' || c == '1')))
    assert(rows(1L) == rows(2L) && rows(1L) != rows(3L))
    // aHash thresholds around the mean → neither all-zeros nor all-ones
    assert(rows.values.forall(h => h.contains('0') && h.contains('1')))
    val pairs = Dedup.simhashPairs(ph, prefixBits = 16, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString.toInt))
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("packing efficiency: exact sequence counts and utilization") {
    val spark2 = spark
    import spark2.implicits._
    // group a: lengths 10, 10, 5 with seqLen 8 → padded ceil = 2+2+1 = 5,
    // packed = ceil(25/8) = 4; group b: one doc of 8 → both 1, util 1.0
    val d = Seq(("a", 10L), ("a", 10L), ("a", 5L), ("b", 8L)).toDF("src", "n")
    val r = graft.ops.Corpus.packingEfficiency(d, "src", "n", seqLen = 8)
      .collect().map(x => (x.getString(0), (x.getAs[Long]("n_docs"), x.getAs[Long]("n_tokens"),
        x.getAs[Long]("n_seqs_padded"), x.getAs[Long]("n_seqs_packed"),
        x.getAs[Double]("util_padded"), x.getAs[Double]("util_packed"),
        x.getAs[Long]("seqs_saved")))).toMap
    assert(r("a") == ((3L, 25L, 5L, 4L, 0.625, 0.7813, 1L)))
    assert(r("b") == ((1L, 8L, 1L, 1L, 1.0, 1.0, 0L)))
  }

  test("bpe merges learn the classic low/lower sequence with deterministic ties") {
    val spark2 = spark
    import spark2.implicits._
    val d = Seq((1L, "low low low lower"), (2L, "lower newest")).toDF("doc_id", "text")
    val m = TextOps.bpeMerges(d, "text", rounds = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // pairs (l,o) and (o,w) both count 5 → lexicographic tie-break picks (l,o);
    // after merging lo then low, (e,r) and (low,e) tie at 2 → (e,r) wins
    assert(m.toSeq == Seq((1, "l", "o", 5L), (2, "lo", "w", 5L), (3, "e", "r", 2L)), m.toSeq.toString)
  }

  test("bpe encode applies learned merges in round order, word boundaries kept") {
    val spark2 = spark
    import spark2.implicits._
    val d = Seq((1L, "low low low lower"), (2L, "lower newest"), (3L, "  ")).toDF("doc_id", "text")
    // merges learned above: (l,o) → lo, (lo,w) → low, (e,r) → er
    val e = TextOps.bpeEncode(d, Seq("doc_id"), "text", TextOps.bpeMerges(d, "text", rounds = 3))
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    assert(e(1L) == (("low low low low er", 5L)), e(1L).toString)
    assert(e(2L) == (("low er n e w e s t", 8L)), e(2L).toString)
    assert(e(3L) == (("", 0L))) // whitespace-only doc keeps its row, zero tokens
    // zero merges: pure char split
    val raw = TextOps.bpeEncode(d.filter(col("doc_id") === 2L), Seq("doc_id"), "text",
      TextOps.bpeMerges(d, "text", rounds = 3).limit(0))
      .collect().head
    assert(raw.getString(1) == "l o w e r n e w e s t" && raw.getLong(2) == 11L)
  }

  test("bpeEncodeLarge matches the literal-replace oracle on learned tables") {
    val spark2 = spark
    import spark2.implicits._
    // randomized parity: learn merges from random corpora, encode every
    // doc both ways — the min-rank loop must reproduce the round-order
    // literal replace bit-for-bit on any learned table
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 90)
      val alphabet = "abcde"
      def word() = (1 to (rnd.nextInt(6) + 1))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val docs = (1L to 12L).map(i =>
        (i, (1 to (rnd.nextInt(8) + 1)).map(_ => word()).mkString(" ")))
        .toDF("doc_id", "text")
      val merges = TextOps.bpeMerges(docs, "text", rounds = rnd.nextInt(10) + 3)
      val small = TextOps.bpeEncode(docs, Seq("doc_id"), "text", merges)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      val large = TextOps.bpeEncodeLarge(docs, Seq("doc_id"), "text", merges)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(large == small, s"seed=$seed")
    }
  }

  test("bpeEncodeLarge handles a real-scale synthetic vocab past the 64-merge cap") {
    val spark2 = spark
    import spark2.implicits._
    // 4,000 merges: chains x->xa, xa->xaa, ... for 40 seed letters — a
    // vocab two orders past the expression-tree cap. Each merge's left
    // operand is created by the previous round (the learned-table
    // property), so the min-rank semantics are exact.
    val seeds = (0 until 40).map(i =>
      ('a' + i % 26).toChar.toString + (if (i < 26) "" else (i / 26).toString))
    val merges = seeds.zipWithIndex.flatMap { case (s0, si) =>
      // seed symbol is multi-char for i>=26: first merge builds it
      val base = s0.toList.map(_.toString)
      val startSym = base.head
      val chain = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var cur = startSym
      base.tail.foreach { c => chain += ((cur, c)); cur = cur + c }
      (1 to 100).foreach { _ => chain += ((cur, "z")); cur = cur + "z" }
      chain.zipWithIndex.map { case ((a, b), j) => (si * 1000 + j, a, b, 1L) }
    }.toDF("round", "sym_a", "sym_b", "cnt")
    assert(merges.count() > 4000)
    val docs = Seq(
      (1L, "a" + "z" * 100),            // fully merged: ONE token
      (2L, "a" + "z" * 100 + " b" + "z" * 50), // one full + one partial chain
      (3L, "q q q")).toDF("doc_id", "text")    // unranked symbols untouched
    val got = TextOps.bpeEncodeLarge(docs, Seq("doc_id"), "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1L) == (("a" + "z" * 100, 1L)), got(1L)._2.toString)
    assert(got(2L)._2 == 2L, got(2L).toString)
    assert(got(3L) == (("q q q", 3L)))
    // the literal-replace path must refuse this table loudly
    intercept[IllegalArgumentException] {
      TextOps.bpeEncode(docs, Seq("doc_id"), "text", merges)
    }
  }

  test("bpeEncodeLarge: a 200k-char unbroken token completes in bounded time") {
    val spark2 = spark
    import spark2.implicits._
    val merges = Seq((0, "a", "b", 1L)).toDF("round", "sym_a", "sym_b", "cnt")
    // one pathological whitespace-free blob — without the maxWordLen
    // pre-segmentation the min-rank loop would scan O(L²) = 4·10¹⁰
    val blob = "ab" * 100000
    val docs = Seq((1L, blob)).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val r = TextOps.bpeEncodeLarge(docs, Seq("doc_id"), "text", merges)
      .collect().head
    val secs = (System.nanoTime() - t0) / 1e9
    // default maxWordLen (16384) is even, so every chunk is whole "ab"
    // pairs and the token count is exactly L/2 — the guard changes cost,
    // not the answer, for boundary-aligned content
    assert(r.getLong(2) == 100000L, r.getLong(2).toString)
    assert(secs < 60.0, s"pathological token took ${secs}s")
    // boundary contract: merges never cross a pre-segment boundary —
    // "aaa" with merges [(a,a),(aa,a)] is ONE token unchunked but TWO
    // at maxWordLen=2 (the byte-level pre-tokenization convention)
    val chain = Seq((0, "a", "a", 1L), (1, "aa", "a", 1L))
      .toDF("round", "sym_a", "sym_b", "cnt")
    val tri = Seq((1L, "aaa")).toDF("doc_id", "text")
    assert(TextOps.bpeEncodeLarge(tri, Seq("doc_id"), "text", chain)
      .collect().head.getLong(2) == 1L)
    assert(TextOps.bpeEncodeLarge(tri, Seq("doc_id"), "text", chain,
      maxWordLen = 2).collect().head.getLong(2) == 2L)
  }

  test("audio fingerprint: 64 delta bits, re-upload identical, tail edit flips few bits") {
    val spark2 = spark
    import spark2.implicits._
    val base = new scala.util.Random(7).alphanumeric.take(300).mkString
    val d = Seq((1L, base), (2L, base), (3L, base + "xxxx"), (4L, base.reverse))
      .toDF("doc_id", "txt")
      .withColumn("payload", org.apache.spark.sql.functions.encode(col("txt"), "UTF-8"))
    val fp = graft.ops.Multimodal.audioFingerprint(d, "doc_id", "payload", windowBytes = 8)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(fp.values.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
    assert(fp(1L) == fp(2L)) // re-upload: identical fingerprint
    val hamming3 = fp(1L).zip(fp(3L)).count { case (a, b) => a != b }
    assert(hamming3 >= 1 && hamming3 <= 4, s"tail edit flipped $hamming3 bits")
    // reversed content diverges well beyond near-dup range in the active region
    val hamming4 = fp(1L).zip(fp(4L)).count { case (a, b) => a != b }
    assert(hamming4 > 4, s"unrelated content only $hamming4 bits apart")
    // pair stage consumes the fingerprint unchanged: only the re-upload survives
    val pairs = graft.ops.Dedup.simhashPairs(
        graft.ops.Multimodal.audioFingerprint(d, "doc_id", "payload", windowBytes = 8),
        prefixBits = 16, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("frame overlap: reupload shares everything, clip is contained, unrelated absent") {
    val spark2 = spark
    import spark2.implicits._
    // 4 frames of 4 bytes, stride 1; clip = first half (2 frames)
    val full = "aaaabbbbccccdddd"
    val d = Seq((1L, full), (2L, full), (3L, full.substring(0, 8)), (4L, "zzzzyyyyxxxxwwww"))
      .toDF("doc_id", "txt")
      .withColumn("payload", org.apache.spark.sql.functions.encode(col("txt"), "UTF-8"))
    val p = graft.ops.Multimodal.frameOverlapPairs(d, "doc_id", "payload", 4, 1, minShared = 2L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getAs[Long]("shared"), r.getAs[Double]("overlap_a"), r.getAs[Double]("overlap_b")))).toMap
    assert(p((1L, 2L)) == ((4L, 1.0, 1.0)))
    assert(p((1L, 3L)) == ((2L, 0.5, 1.0))) // clip fully contained in original
    assert(p((2L, 3L)) == ((2L, 0.5, 1.0)))
    assert(!p.keySet.exists(k => k._1 == 4L || k._2 == 4L))
  }

  test("expectations gate: passing and violated checks in one pass") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.Corpus.Check
    val d = Seq(
      (1L, "a", 10.0), (2L, "b", 20.0), (2L, "c", 200.0), (4L, null.asInstanceOf[String], 30.0)
    ).toDF("id", "name", "v")
    val r = graft.ops.Corpus.expectations(d, Seq(
      Check.NotNull("name"),       // 1 null
      Check.InRange("v", 0, 100),  // 200.0 violates
      Check.Matches("name", "^[ab]$"), // c violates (null skipped)
      Check.Accepted("name", Seq("a", "b", "c")), // passes
      Check.Unique(Seq("id"))      // id=2 twice → 1 violation
    )).collect().map(x => ((x.getString(0), x.getString(1)),
      (x.getLong(2), x.getBoolean(3)))).toMap
    assert(r(("not_null", "name")) == ((1L, false)))
    assert(r(("in_range", "v")) == ((1L, false)))
    assert(r(("matches", "name")) == ((1L, false)))
    assert(r(("accepted", "name")) == ((0L, true)))
    assert(r(("unique", "id")) == ((1L, false)))
  }

  test("rank-biased overlap: identical, disjoint, and partial rankings") {
    val spark2 = spark
    import spark2.implicits._
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 10L, 1), (2L, 11L, 2), (2L, 12L, 3),
      (3L, 10L, 1), (3L, 11L, 2), (3L, 12L, 3)).toDF("qid", "item", "rank")
    val b = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),       // identical
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3),                 // disjoint
      (3L, 12L, 1), (3L, 11L, 2), (3L, 99L, 3)).toDF("qid", "item", "rank") // partial
    val r = Similarity.rankBiasedOverlap(a, b, "qid", "item", "rank", k = 3)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    // weights (nanos): floor((1-0.9)*0.9^(d-1)*1e9) = 99999999, 89999999, 80999999
    assert(r(1L) == ((270999997L, 3L, 1.0)))  // sum of all three weights
    assert(r(2L) == ((0L, 0L, 0.0)))
    // partial: item 11 at max(2,2)=2, item 12 at max(3,1)=3 →
    // x = [0,1,2]; (89999999*1)//2 + (80999999*2)//3 = 44999999 + 53999999
    assert(r(3L) == ((98999998L, 2L, 0.6667)))
  }

  test("count-min sketch: never underestimates, cells merge by addition") {
    val spark2 = spark
    import spark2.implicits._
    val vals = (1 to 300).map(i => s"t${i % 40}") // 40 distinct values
    val d = vals.toDF("v")
    val sk = Sketch.cmsSketch(d, col("v"), depth = 3, width = 16)
    val probes = vals.distinct.toDF("v")
    val est = Sketch.cmsEstimate(sk, probes, "v", depth = 3, width = 16)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val exact = vals.groupBy(identity).view.mapValues(_.size.toLong).toMap
    exact.foreach { case (v, c) => assert(est(v) >= c, s"$v est ${est(v)} < exact $c") }
    // width 16 << 40 values forces collisions → at least one overestimate
    assert(exact.exists { case (v, c) => est(v) > c })

    // mergeability: sketch(A ++ B) == cell-wise sum of the two sketches
    val (a, b) = vals.splitAt(120)
    val merged = Sketch.cmsSketch(a.toDF("v"), col("v"), 3, 16)
      .unionByName(Sketch.cmsSketch(b.toDF("v"), col("v"), 3, 16))
      .groupBy("d", "bucket").agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    val whole = sk.collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    assert(merged == whole)
  }

  test("cms join size: exact when collision-free, never under, disjoint is zero") {
    val spark2 = spark
    import spark2.implicits._
    def sk(vs: Seq[String], width: Int) =
      Sketch.cmsSketch(vs.toDF("v"), col("v"), depth = 3, width = width)
    def est(a: Seq[String], b: Seq[String], width: Int): Long =
      Sketch.cmsJoinSize(sk(a, width), sk(b, width), depth = 3)
        .collect().head.getLong(0)
    val a = Seq("x", "x", "y", "z")
    val b = Seq("x", "y", "y", "y", "w")
    // true join size = 2*1 + 1*3 = 5; wide sketch → no collisions → exact
    assert(est(a, b, 4096) == 5L)
    // forced collisions still never underestimate
    assert(est(a, b, 2) >= 5L)
    // disjoint key sets: some depth row has zero overlap → estimate 0
    assert(est(Seq("a", "b"), Seq("c", "d"), 4096) == 0L)
  }

  test("cdc chunks: tile exactly, re-synchronize after a point edit, degenerate docs") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(11)
    val toks = (1 to 400).map(_ => "w" + rnd.nextInt(5000))
    val edited = toks.updated(200, "EDITED")
    val d = Seq((1L, toks.mkString(" ")), (2L, edited.mkString(" ")),
      (3L, ""), (4L, "solo")).toDF("doc_id", "text")
    val ch = TextOps.cdcChunks(d, Seq("doc_id"), "text", window = 3, avgChunkTokens = 8)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)).toMap
    // chunks tile doc 1 exactly, in order
    val tiled = ch(1L).map(_._3).mkString(" ")
    assert(tiled == toks.mkString(" "))
    assert(ch(1L).map(_._2).sum == 400L)
    // point edit: boundaries re-synchronize, so most chunk hashes survive
    val h1 = ch(1L).map(_._4).toSet
    val h2 = ch(2L).map(_._4).toSet
    val shared = (h1 intersect h2).size
    assert(shared >= h1.size - 3, s"only $shared of ${h1.size} chunks survived a 1-token edit")
    assert(h1 != h2) // the edited chunk itself differs
    // empty doc: no chunks; single token: one whole-doc chunk
    assert(!ch.contains(3L))
    assert(ch(4L).toSeq == Seq((0L, 1L, "solo", ch(4L).head._4)))
    // expected chunk length ~ avgChunkTokens: loose band
    val avg = 400.0 / ch(1L).size
    assert(avg > 3 && avg < 25, s"mean chunk len $avg")
  }

  test("chat checks: every rule fires in first-violation order, valid rows flatten") {
    val spark2 = spark
    import spark2.implicits._
    val cases = Seq(
      (1L, """[{"role":"system","content":"s"},{"role":"user","content":"q"},{"role":"assistant","content":"a"}]"""),
      (2L, """[{"role":"user","content":"q"},{"role":"assistant","content":"a"}]"""),
      (3L, "not json at all"),
      (4L, """[]"""),
      (5L, """[{"role":"tool","content":"x"},{"role":"assistant","content":"a"}]"""),
      (6L, """[{"role":"user","content":"q"},{"role":"user","content":"q2"}]"""),
      (7L, """[{"role":"system","content":"s"}]"""),
      (8L, """[{"role":"user","content":"  "},{"role":"assistant","content":"a"}]"""),
      (9L, """[{"role":"user","content":"q"},{"role":"assistant","content":"a"},{"role":"user","content":"q2"}]"""))
    val d = cases.toDF("id", "j")
      .withColumn("msgs", graft.ops.Chat.parseChat(col("j")))
    val r = graft.ops.Chat.chatChecks(d, Seq("id"), "msgs")
      .collect()
      .map(x => (x.getLong(0),
        (x.getLong(1), x.getBoolean(2),
          if (x.isNullAt(3)) null else x.getString(3),
          if (x.isNullAt(4)) null else x.getString(4)))).toMap
    assert(r(1L) == ((3L, true, null, "system: s\nuser: q\nassistant: a")))
    assert(r(2L) == ((2L, true, null, "user: q\nassistant: a")))
    assert(r(3L) == ((0L, false, "not_parsed", null)))
    assert(r(4L) == ((0L, false, "empty", null)))
    assert(r(5L) == ((2L, false, "bad_first_role", null)))
    assert(r(6L) == ((2L, false, "role_alternation", null)))
    assert(r(7L) == ((1L, false, "role_alternation", null))) // system-only: no body
    assert(r(8L) == ((2L, false, "empty_content", null)))
    assert(r(9L) == ((3L, false, "no_assistant_end", null)))
  }

  test("license signals: class precedence, gpl versions, cc-by-nc restrictive") {
    val spark2 = spark
    import spark2.implicits._
    val d = Seq(
      (1L, "Released under the MIT License."),
      (2L, "Copyright 2024. All Rights Reserved."),
      (3L, "Creative Commons text ... but also All Rights Reserved"),
      (4L, "Shared as CC-BY-NC 4.0"),
      (5L, "plain document, no markers"),
      (6L, "code under GPLv3 terms"),
      (7L, "the gplan word must not trigger")).toDF("doc_id", "text")
    val r = TextOps.licenseSignals(d, Seq("doc_id"), "text")
      .collect().map(x => (x.getLong(0), (x.getBoolean(1), x.getBoolean(2), x.getString(3)))).toMap
    assert(r(1L) == ((true, false, "permissive")))
    assert(r(2L) == ((false, true, "restricted")))
    assert(r(3L) == ((true, true, "restricted"))) // restrictive wins
    assert(r(4L) == ((true, true, "restricted"))) // cc-by-nc contains cc-by; class still right
    assert(r(5L) == ((false, false, "none")))
    assert(r(6L) == ((false, true, "restricted")))
    assert(r(7L) == ((false, false, "none"))) // word boundary holds
  }

  test("embedding checks: verdict precedence and clean-row norms") {
    val spark2 = spark
    import spark2.implicits._
    val d = Seq(
      (1L, Some(Array(3.0f, 4.0f))),
      (2L, None),
      (3L, Some(Array(1.0f))),
      (4L, Some(Array(Float.NaN, 1.0f))),
      (5L, Some(Array(0.0f, 0.0f))),
      (6L, Some(Array(0.5f, Float.NaN))) // NaN reported before zero logic
    ).toDF("vec_id", "v")
    val r = Similarity.embeddingChecks(d, "vec_id", "v", expectedDim = 2)
      .collect().map(x => (x.getLong(0),
        (x.getLong(1), if (x.isNullAt(2)) null else x.getString(2), x.getBoolean(3),
          if (x.isNullAt(4)) None else Some(x.getLong(4))))).toMap
    assert(r(1L) == ((2L, null, true, Some(5000000L)))) // |(3,4)| = 5
    assert(r(2L) == ((0L, "null_vector", false, None)))
    assert(r(3L) == ((1L, "bad_dim", false, None)))
    assert(r(4L) == ((2L, "bad_element", false, None)))
    assert(r(5L) == ((2L, "zero_vector", false, None)))
    assert(r(6L) == ((2L, "bad_element", false, None)))
  }

  test("augment dropout: deterministic replay, salt independence, drop rate in band") {
    val spark2 = spark
    import spark2.implicits._
    val d = (1L to 50L).map(i => (i, (1 to 40).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    def run(salt: String) = TextOps.augmentDropout(d, Seq("doc_id"), "text", 0.25, salt)
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val a1 = run("s1")
    assert(a1 == run("s1")) // exact replay
    val a2 = run("s2")
    assert(a1 != a2) // a different salt is a different epoch
    val dropped = a1.values.map { case (_, n, k) => n - k }.sum.toDouble
    val total = a1.values.map(_._2).sum.toDouble
    assert(dropped / total > 0.18 && dropped / total < 0.32,
      s"drop rate ${dropped / total} far from 0.25")
    // kept tokens preserve order
    val (txt, _, _) = a1(1L)
    val idx = txt.split(" ").filter(_.nonEmpty).map(_.drop(1).toInt)
    assert(idx.sameElements(idx.sorted))
  }

  test("minhash lsh recovers exact duplicates") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simhash: identical docs share signatures; hamming pairs found") {
    val sim = Dedup.simhash(docs, "doc_id", "text")
    val byId = sim.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("simhash")).toMap
    assert(byId(1L) == byId(4L))
    assert(byId(1L).length == 64 && byId(1L).forall(c => c == '0' || c == '1'))
    assert(byId(1L) != byId(5L))
    val pairs = Dedup.simhashPairs(sim, prefixBits = 16, maxHamming = 0)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 4L)))
  }

  test("simhash multi-pass: guaranteed recall where single-pass provably misses") {
    val spark2 = spark
    import spark2.implicits._
    val rng = new scala.util.Random(7)
    def randSig() = Seq.fill(64)(if (rng.nextBoolean()) '1' else '0').mkString
    def flip(s: String, bits: Seq[Int]) =
      bits.foldLeft(s)((acc, b) => acc.updated(b, if (acc(b) == '1') '0' else '1'))
    val base = randSig()
    val rows = Seq(
      (1L, base),
      // 3 flips spread over blocks 0,1,2: every 16-bit PREFIX differs, so
      // single-pass prefix blocking cannot pair it with 1 — but block 3 is
      // untouched, so rotation pass k=3 must find it
      (2L, flip(base, Seq(5, 25, 45))),
      (3L, randSig()),
      (4L, flip(base, Seq(0, 17, 33, 50))) // hamming 4 > maxHamming: excluded
    ).toDF("id", "simhash")
    val single = Dedup.simhashPairs(rows, prefixBits = 16, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!single.contains((1L, 2L)), "prefix-blocked single pass should miss the spread pair")
    val multi = Dedup.simhashPairsMultiPass(rows, prefixBits = 16, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming"))).toSet
    assert(multi.exists(t => t._1 == 1L && t._2 == 2L && t._3 == 3))
    assert(!multi.exists(t => Set(t._1, t._2) == Set(1L, 4L)))
    // randomized guarantee: EVERY pair within hamming 3 is found
    val rand = (0L until 40L).map { i =>
      if (i % 4 == 0) (i, flip(base, Seq((i % 64).toInt, ((i * 7 + 11) % 64).toInt)))
      else (i, randSig())
    }.toDF("id", "simhash")
    val sigs = rand.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val truth = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      d = sigs(a).zip(sigs(b)).count { case (x, y) => x != y } if d <= 3
    } yield (a, b)).toSet
    val found = Dedup.simhashPairsMultiPass(rand, prefixBits = 16, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == truth, s"multi-pass recall: found ${found.size} of ${truth.size}")
  }

  test("lshTopK multi-probe improves recall at fixed planes; primary path unchanged") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
    val exact = pairs(Similarity.bruteForceTopK(
      emb, queries, "vec_id", "embedding", "vec_id", "embedding", k = 5))
    val single = pairs(Similarity.lshTopK(
      emb, queries, "vec_id", "embedding", "vec_id", "embedding", k = 5, planes = 8))
    val probed = pairs(Similarity.lshTopK(
      emb, queries, "vec_id", "embedding", "vec_id", "embedding", k = 5, planes = 8,
      probeBits = 1))
    // every single-probe candidate survives (the primary bucket is probed too)
    assert(single.subsetOf(probed) ||
      // rank-k cutoff can swap a weaker candidate out for a better probed one
      (single -- probed).forall(p => probed.exists(_._1 == p._1)))
    val rSingle = single.intersect(exact).size.toDouble / exact.size
    val rProbed = probed.intersect(exact).size.toDouble / exact.size
    assert(rProbed > rSingle, s"multi-probe recall $rProbed should beat $rSingle")
  }

  test("dedupApplyByScore keeps the best-scoring cluster member") {
    val spark2 = spark
    import spark2.implicits._
    val corpus = Seq(
      (1L, 10L), (2L, 99L), (3L, 50L), // cluster {1,2,3}: 2 wins on score
      (4L, 7L), (5L, 7L),              // cluster {4,5}: tie -> smaller id 4
      (6L, 1L)                         // singleton survives
    ).toDF("id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = graft.ops.Cluster
      .dedupApplyByScore(corpus, "id", "score", pairs, "id_a", "id_b")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_dropped")).toMap
    assert(got == Map(2L -> 2L, 4L -> 1L, 6L -> 0L))
  }

  test("temperature quotas flatten toward tail groups and cap at group size") {
    import graft.ops.Sampling
    val spark2 = spark
    import spark2.implicits._
    val df = (1 to 900).map(i => (i.toLong, if (i <= 800) "en" else if (i <= 890) "de" else "fi"))
      .toDF("id", "lang")
    val q = Sampling.temperatureQuotas(df, "lang", alpha = 0.5, budget = 300)
      .collect().map(r => r.getAs[String]("group") ->
        (r.getAs[Long]("n"), r.getAs[Long]("quota"))).toMap
    // sqrt weights: en sqrt(800)=28.28, de sqrt(90)=9.49, fi sqrt(10)=3.16
    // -> en share .69 vs raw .89; fi share .077 vs raw .011 (flattened)
    assert(q("en")._2 < 800 * 300 / 900) // below proportional allocation
    assert(q("fi")._2 == 10L)            // capped at group size (epochs > 1)
    assert(q.values.map(_._2).sum <= 310) // quotas track the budget
    val kept = Sampling.temperatureSample(df, "lang", "id", 0.5, 300)
    val counts = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("en") == q("en")._2 && counts("fi") == 10L)
    // deterministic: same call, same membership
    assert(kept.collect().map(_.getAs[Long]("id")).sorted.toSeq ==
      Sampling.temperatureSample(df, "lang", "id", 0.5, 300)
        .collect().map(_.getAs[Long]("id")).sorted.toSeq)
  }

  test("fraction 1.0 keeps everything; trailing zero splits get no rows") {
    import graft.ops.Sampling
    val spark2 = spark
    import spark2.implicits._
    val df = (1 to 500).map(_.toLong).toDF("id")
    // "100" vs 2-hex-char lexicographic trap: 1.0 must be keep-all
    assert(Sampling.sample(df, "id", 1.0).count() == 500)
    assert(Sampling.stratifiedSample(df, "id", "id", Map.empty, default = 1.0).count() == 500)
    // an intermediate cumulative bound of exactly 65536
    val s = Sampling.splitAssign(df, "id", Seq("train" -> 1.0, "tail" -> 0.0))
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s == Map("train" -> 500L))
  }

  test("splitAssign partitions every row deterministically near the fractions") {
    import graft.ops.Sampling
    val spark2 = spark
    import spark2.implicits._
    val df = (1 to 2000).map(_.toLong).toDF("id")
    val got = Sampling.splitAssign(df, "id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val counts = got.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000) // exactly one label per row
    assert(counts("train") > 1700 && counts("val") > 50 && counts("test") > 50)
    // re-running never moves a row across splits (leak-proofness)
    val again = Sampling.splitAssign(df, "id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      again.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    // map-only: no exchange in the plan
    assert(!got.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("leakageSafeSplit: a duplicate family never straddles the split boundary") {
    import graft.ops.Sampling
    val spark2 = spark
    import spark2.implicits._
    val docs = (1L to 200L).toDF("doc_id")
    // chains 1-2-3, 10-11, rest singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Sampling.leakageSafeSplit(docs, "doc_id", pairs, "id_a", "id_b",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.length == 200 && got.map(_._1).distinct.length == 200)
    // clustered docs share one split label
    val bySplit = got.map(t => t._1 -> t._3).toMap
    assert(Set(bySplit(1L), bySplit(2L), bySplit(3L)).size == 1)
    assert(bySplit(10L) == bySplit(11L))
    // cluster label = min of the family; singleton = itself
    val byCluster = got.map(t => t._1 -> t._2).toMap
    assert(byCluster(3L) == 1L && byCluster(11L) == 10L && byCluster(42L) == 42L)
    // label equals hashing the cluster directly (composition contract)
    val direct = Sampling.splitAssign(
        got.map(t => t._2).distinct.toSeq.toDF("cluster"), "cluster",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.forall(t => direct(t._2) == t._3))
  }

  test("profile: per-column nulls, string min/max, exact-below-k distinct") {
    import graft.ops.Corpus
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, Some("b"), Some(10L)), (2L, Some("a"), None),
      (3L, None, Some(30L)), (4L, Some("a"), Some(10L)))
      .toDF("id", "s", "v")
    val got = Corpus.profile(df, Seq("id", "s", "v"), k = 8)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4), r.getLong(5))).toMap
    assert(got("id") == ((4L, 0L, "1", "4", 4L)))
    assert(got("s") == ((4L, 1L, "a", "b", 2L)))
    assert(got("v") == ((4L, 1L, "10", "30", 2L))) // distinct ignores nulls
    // all-null column profiles without erroring, distinct 0
    val nulls = Corpus.profile(
      Seq((1L, Option.empty[String]), (2L, None)).toDF("id", "x"), Seq("x"), k = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(5)))
    assert(nulls.toSeq == Seq((2L, 2L, 0L)))
  }

  test("domainPrior: exact shrinkage toward the global mean, m=0 identity") {
    import graft.ops.Corpus
    val spark2 = spark
    import spark2.implicits._
    // domain a: 4 rows mean 100; domain b: 1 row value 1000
    val df = Seq(("a", 100L), ("a", 100L), ("a", 100L), ("a", 100L), ("b", 1000L))
      .toDF("dom", "v")
    val got = Corpus.domainPrior(df, Seq("dom"), "v", m = 10L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val mu = 1400L * 1000000L / 5L // global mean micros, floored
    assert(got("a") == ((4L, 100000000L, (400L * 1000000L + 10L * mu) / 14L)))
    assert(got("b") == ((1L, 1000000000L, (1000L * 1000000L + 10L * mu) / 11L)))
    // the small outlier domain moved far toward the mean; the big one less
    assert(math.abs(got("b")._3 - mu) < math.abs(1000000000L - mu) / 2)
    // m=0 degenerates to the raw mean
    val id0 = Corpus.domainPrior(df, Seq("dom"), "v", m = 0L)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(id0.values.forall(p => p._1 == p._2))
  }

  test("quantile thresholds + score buckets: every bucket bound holds") {
    import graft.ops.Sampling
    val spark2 = spark
    import spark2.implicits._
    val df = (1 to 400).map(i => (i.toLong, if (i % 2 == 0) "a" else "b", (i % 97).toLong))
      .toDF("id", "g", "score")
    val thr = Sampling.quantileThresholds(df, "g", "score", "id",
      probs = Seq(0.25, 0.75), sampleFraction = 0.5)
    val t = thr.collect().map(r => r.getAs[String]("group") ->
      (r.getAs[Long]("t0"), r.getAs[Long]("t1"))).toMap
    assert(t.keySet == Set("a", "b"))
    t.values.foreach { case (t0, t1) => assert(t0 <= t1) }
    val buckets = Sampling.scoreBuckets(df, thr, "g", "score", Seq("head", "middle", "tail"))
    buckets.collect().foreach { r =>
      val (g, s, b) = (r.getAs[String]("g"), r.getAs[Long]("score"), r.getAs[String]("bucket"))
      val (t0, t1) = t(g)
      b match {
        case "head"   => assert(s <= t0)
        case "middle" => assert(s > t0 && s <= t1)
        case "tail"   => assert(s > t1)
      }
    }
    // thresholds frame stays tiny and the corpus side never shuffles
    assert(buckets.queryExecution.executedPlan.toString.contains("Broadcast"))
  }

  test("dsir weights rank target-domain-like docs first; log-ratio table broadcasts") {
    import graft.ops.Sampling
    // target = the German doc; the corpus's other German-ish content should
    // outrank the English fox sentences
    val target = docs.filter(col("doc_id") === 5L).select(col("text"))
    val w = Sampling.dsirWeights(docs, "doc_id", "text", target, "text")
    val byId = w.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("w_micro")).toMap
    assert(byId.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(byId(5L) == byId.values.max, s"target doc must self-select: $byId")
    assert(byId(5L) > byId(1L) && byId(5L) > byId(3L))
    // exact duplicates of each other score identically (pure function of text)
    assert(byId(1L) == byId(4L))
    val sel = Sampling.dsirSelect(docs, "doc_id", "text", target, "text", k = 1)
    assert(sel.collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(5L))
    assert(w.queryExecution.executedPlan.toString.contains("Broadcast"),
      "the bucket log-ratio table must broadcast, never shuffle the corpus side")
  }

  test("semDedup keeps one survivor per semantic-dup group; over-cap clusters skip pairs") {
    val spark2 = spark
    import spark2.implicits._
    // two tight groups far apart, plus a lone vector: group A {1,2,3}
    // nearly parallel, group B {10,11} nearly parallel, 20 orthogonal-ish
    val vecs = Seq(
      (1L, Array(1.0f, 0.01f, 0f, 0f)),
      (2L, Array(0.99f, 0.02f, 0f, 0f)),
      (3L, Array(1.01f, 0f, 0.01f, 0f)),
      (10L, Array(0f, 0f, 1.0f, 0.01f)),
      (11L, Array(0f, 0.01f, 0.98f, 0f)),
      (20L, Array(0f, 1.0f, 0f, 0f))
    ).toDF("id", "vec")
    val got = graft.ops.Cluster.semDedup(vecs, "id", "vec", k = 3, iters = 2, eps = 0.95)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_dropped")).toMap
    assert(got(20L) == 0L)                         // the loner survives untouched
    assert(got.keySet.intersect(Set(1L, 2L, 3L)).size == 1) // one survivor per group
    assert(got.keySet.intersect(Set(10L, 11L)).size == 1)
    assert(got.values.sum == 3L)                   // 3 semantic dups absorbed
    // maxCluster = 1: every cluster is over-cap, so NO pairs generate and
    // everything survives — the quadratic blowup guard
    val capped = graft.ops.Cluster.semDedup(vecs, "id", "vec", k = 3, iters = 2,
      eps = 0.95, maxCluster = 1L)
    assert(capped.count() == 6L)
  }

  test("semantic decontamination flags near-benchmark vectors only; bench broadcasts") {
    val spark2 = spark
    import spark2.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0f, 0f)),    // parallel to bench 100 -> flagged
      (2L, Array(0.9f, 0.1f, 0f)),  // near bench 100 -> flagged
      (3L, Array(0f, 0f, 1.0f)),    // orthogonal -> clean
      (100L, Array(1.0f, 0f, 0f))   // the benchmark row itself: self-match excluded
    ).toDF("id", "vec")
    val bench = corpus.filter(col("id") === 100L)
    val got = graft.ops.Similarity.semanticContaminatedBy(
        corpus, "id", "vec", bench, "id", "vec", threshold = 0.8,
        excludeSameId = true)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("best_bench_id"), r.getAs[Long]("n_hits"))).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == ((100L, 1L)) && got(2L) == ((100L, 1L)))
    val plan = graft.ops.Similarity.semanticContaminatedBy(
      corpus, "id", "vec", bench, "id", "vec", 0.8, excludeSameId = true)
      .queryExecution.executedPlan
    assert(plan.toString.contains("Broadcast"),
      "the benchmark side must broadcast; the corpus must not shuffle for scoring")
  }

  test("semantic decontamination default compares coincidentally-equal ids") {
    val spark2 = spark
    import spark2.implicits._
    // Independent id domains: corpus id 0 collides with bench id 0 but they
    // are different items — the pair must still be scored (default flag).
    val corpus = Seq((0L, Array(1.0f, 0f, 0f))).toDF("id", "vec")
    val bench = Seq((0L, Array(0.95f, 0.05f, 0f))).toDF("id", "vec")
    val got = graft.ops.Similarity.semanticContaminatedBy(
      corpus, "id", "vec", bench, "id", "vec", threshold = 0.8).collect()
    assert(got.length == 1 && got(0).getAs[Long]("id") == 0L,
      "same-id (corpus, bench) pair must be compared by default")
    val excl = graft.ops.Similarity.semanticContaminatedBy(
      corpus, "id", "vec", bench, "id", "vec", 0.8, excludeSameId = true)
    assert(excl.count() == 0L)
  }

  test("chunkDocuments covers every token with the declared overlap") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b"),                                    // shorter than a chunk
      (3L, null.asInstanceOf[String])                 // null-safe
    ).toDF("doc_id", "text")
    val got = graft.ops.TextOps.chunkDocuments(df, "doc_id", "text", 4, 1)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("chunk_idx"),
        r.getAs[String]("chunk_text"), r.getAs[Long]("n_tokens")))
      .sortBy(x => (x._1, x._2)).toSeq
    // stride 3: ceil((10-1)/3) = 3 chunks; consecutive chunks share 1 token
    assert(got.filter(_._1 == 1L) == Seq(
      (1L, 0L, "t1 t2 t3 t4", 4L),
      (1L, 1L, "t4 t5 t6 t7", 4L),
      (1L, 2L, "t7 t8 t9 t10", 4L)))
    assert(got.filter(_._1 == 2L) == Seq((2L, 0L, "a b", 2L)))
    assert(got.filter(_._1 == 3L) == Seq((3L, 0L, "", 1L))) // empty-token doc
    intercept[IllegalArgumentException] {
      graft.ops.TextOps.chunkDocuments(df, "doc_id", "text", 4, 4)
    }
  }

  test("encodingQuality counts replacement, control, and mojibake characters") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "clean ascii text"),
      (2L, "bad � byte �"),         // 2 replacement chars
      (3L, "ctl\u0001\u0002 ok\ttab\nnl"), // 2 control (tab/nl excluded)
      (4L, "cafÃ© mojibake"),       // UTF-8 'é' read as Latin-1: Ã©
      (5L, "")
    ).toDF("doc_id", "text")
    val got = graft.ops.TextOps.encodingQuality(df, Seq("doc_id"), "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_replacement"), r.getAs[Long]("n_control"),
          r.getAs[Long]("n_mojibake"), r.getAs[Double]("ascii_ratio")))).toMap
    assert(got(1L) == ((0L, 0L, 0L, 1.0)))
    assert(got(2L)._1 == 2L)
    assert(got(3L)._2 == 2L)
    assert(got(4L)._3 == 1L)
    assert(got(4L)._4 < 1.0)
    assert(got(5L) == ((0L, 0L, 0L, 1.0)))
  }

  test("compactWrite sizes files to the data per partition directory") {
    val spark2 = spark
    import spark2.implicits._
    // skewed layout: lang 'en' 900 rows, 'de' 90, 'fi' 10
    val df = (1 to 1000).map { i =>
      (i.toLong, if (i <= 900) "en" else if (i <= 990) "de" else "fi", s"doc $i")
    }.toDF("id", "lang", "text")
    val out = SparkEnv.scratchDir("graft_compact")
    graft.ops.Corpus.compactWrite(df, out, Seq("lang"), "id", targetRowsPerFile = 100)
    def files(dir: String): Int =
      new java.io.File(s"$out/lang=$dir").listFiles()
        .count(f => f.getName.endsWith(".parquet"))
    // ceil(900/100)=9, ceil(90/100)=1, ceil(10/100)=1 — not one file per
    // shuffle task (32) and not one giant file for the skewed partition
    assert(files("en") == 9, s"en got ${files("en")} files")
    assert(files("de") == 1 && files("fi") == 1)
    val back = spark.read.parquet(out)
    assert(back.count() == 1000)
    assert(back.columns.toSet == Set("id", "lang", "text"))
    // deterministic salting: a rerun produces the identical layout
    graft.ops.Corpus.compactWrite(df, out, Seq("lang"), "id", targetRowsPerFile = 100)
    assert(files("en") == 9)
  }

  test("compactWrite preserves NULL partition values (Hive default partition)") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, Some("en"), "a"), (2L, None, "b"), (3L, None, "c")
    ).toDF("id", "lang", "text")
    val out = SparkEnv.scratchDir("graft_compact_null")
    graft.ops.Corpus.compactWrite(df, out, Seq("lang"), "id", targetRowsPerFile = 100)
    val back = spark.read.parquet(out)
    assert(back.count() == 3, "null-partition rows must not be dropped")
    assert(back.filter(col("lang").isNull).count() == 2)
    assert(new java.io.File(s"$out/lang=__HIVE_DEFAULT_PARTITION__").exists())
  }

  test("langId picks the marker-heavy language") {
    val got = docs.select(col("doc_id"), TextOps.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en")
    assert(got(5L) == "de")
  }

  test("fingerprint is order- and duplication-insensitive") {
    val spark2 = spark
    import spark2.implicits._
    val d = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma beta alpha alpha")).toDF("doc_id", "text")
    val fps = d.select(TextOps.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("brute-force topk ranks the self-similar vector first") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      vecs, vecs.filter(col("vec_id") === 0L),
      "vec_id", "embedding", "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    assert(top.map(_.getAs[Long]("nbr_id")).toSeq == Seq(1L, 2L))
  }

  test("native VectorDot matches the HOF fold bit-for-bit") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = (0L until 200L).map { i =>
      (i, Array.tabulate(64)(k => ((i * 31 + k * 17) % 97).toFloat / 9.7f - 4.5f))
    }.toDF("id", "v")
    val paired = vecs.as("a").join(vecs.as("b"), col("a.id") < col("b.id")).limit(5000)
    val diff = paired.select(
      (Similarity.dot(col("a.v"), col("b.v")) -
        graft.ops.Similarity.dotHof(col("a.v"), col("b.v"))).as("d"))
      .agg(max(abs(col("d")))).collect().head.getDouble(0)
    assert(diff == 0.0)
    // null / length-mismatch contract
    val edge = Seq(
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f)),
      (Array(1.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val got = edge.select(Similarity.dot(col("a"), col("b"))).collect().map(r =>
      if (r.isNullAt(0)) null else r.getDouble(0))
    assert(got(0) == 11.0 && got(1) == null)
  }

  test("allPairsCosine matches the relational formulation") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 2.0f)), (1L, Array(2.0f, 4.0f)),
      (2L, Array(-1.0f, 1.0f))).toDF("vec_id", "embedding")
    val kernel = Similarity.allPairsCosine(vecs, "vec_id", "embedding", -2.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(kernel((0L, 1L)) == 1.0)
    assert(math.abs(kernel((0L, 2L)) - 0.316228) < 1e-6)
    assert(kernel.size == 3)
  }

  test("srpBucket literal-weights fast path matches the generic md5 path") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val mismatch = emb.select(
        Similarity.srpBucket(col("embedding"), 8).as("slow"),
        Similarity.srpBucket(col("embedding"), 8, dim = 64).as("fast"))
      .filter(col("slow") =!= col("fast")).count()
    assert(mismatch == 0)
  }

  test("jlProject: scalar replay, linearity on duplicates, norm preservation") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val proj = Similarity.jlProject(emb, "embedding", outDim = 8)
      .select("vec_id", "embedding", "proj").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Float](1), r.getSeq[Double](2))).toMap

    // scalar replay of the md5 ±1 family and the sequential fold
    def parity(j: Int, i: Int): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl$j-$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ((d(0) >> 4) & 0xf) % 2 == 0
    }
    val (v0, p0) = proj(proj.keys.min)
    val expect = (0 until 8).map { j =>
      var s = 0.0
      v0.indices.foreach { i =>
        s += v0(i).toDouble * (if (parity(j, i)) 1.0 else -1.0)
      }
      BigDecimal(s / math.sqrt(8.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(p0 == expect)

    // linear map: identical vectors project identically
    val twin = proj.values.toSeq
    assert(twin.groupBy(_._1).values.forall(g => g.map(_._2).distinct.size == 1))

    // JL norm concentration at outDim=32: median ||proj||²/||v||² near 1
    val ratios = Similarity.jlProject(emb, "embedding", outDim = 32)
      .select(
        graft.ops.Similarity.dot(col("proj"), col("proj")).as("pn"),
        graft.ops.Similarity.dot(col("embedding"), col("embedding")).as("vn"))
      .collect().map(r => r.getDouble(0) / r.getDouble(1)).sorted
    val median = ratios(ratios.length / 2)
    assert(median > 0.5 && median < 2.0, s"median norm ratio $median")
  }

  test("mmrSelect: matches a scalar greedy replay and beats top-k on diversity") {
    val spark2 = spark
    import spark2.implicits._
    // query between two clusters: A (ids 1-4, slightly more relevant)
    // and B (ids 5-6); plain top-k would return only A near-duplicates
    val q = Seq(1.0, 1.0, 0.0)
    val vecs: Seq[(Long, Array[Float])] = Seq(
      1L -> Array(1f, 0.05f, 0.00f), 2L -> Array(1f, 0.06f, 0.01f),
      3L -> Array(1f, 0.04f, 0.01f), 4L -> Array(1f, 0.05f, 0.02f),
      5L -> Array(0.05f, 1f, 0.00f), 6L -> Array(0.06f, 1f, 0.01f),
      7L -> Array(0.0f, 0.0f, 1.0f))
    val got = Similarity.mmrSelect(
        vecs.toDF("vec_id", "embedding"), "vec_id", "embedding", q,
        k = 4, lambdaPct = 60)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))

    // scalar replay: same 6-dp rounding, same greedy, same tie-break
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Seq[Double], b: Seq[Double]) = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      r6(d / (math.sqrt(na) * math.sqrt(nb)))
    }
    val cand = vecs.map { case (id, v) => id -> v.map(_.toDouble).toSeq }.toMap
    val lam = 60 / 100.0
    var sel = Vector.empty[(Int, Long, Double)]
    (1 to 4).foreach { step =>
      val best = cand.keys.toSeq.filterNot(id => sel.exists(_._2 == id)).map { id =>
        val mmr =
          if (sel.isEmpty) cos(cand(id), q)
          else lam * cos(cand(id), q) -
            (1.0 - lam) * sel.map(s => cos(cand(id), cand(s._2))).max
        (id, mmr)
      }.minBy { case (id, m) => (-m, id) }
      sel :+= ((step, best._1, best._2))
    }
    assert(got.toSeq == sel)
    // diversity: plain top-2 by relevance is two A near-duplicates; MMR's
    // first two picks must span both clusters
    val firstTwo = got.take(2).map(_._2).toSet
    assert(firstTwo.exists(Set(1L, 2L, 3L, 4L)) && firstTwo.exists(Set(5L, 6L)))
  }

  test("outlierByCentroidDist: per-cluster farthest ranks, exact integer pct flag") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Cluster.outlierByCentroidDist(emb, "vec_id", "embedding",
        k = 3, iters = 1, outlierPct = 20)
      .collect().map(r => (r.getAs[Int]("cluster"), r.getAs[Long]("dist_micro"),
        r.getAs[Long]("n_cluster"), r.getAs[Int]("rank_far"), r.getAs[Boolean]("is_outlier")))
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (cl, rows) =>
      val n = rows.length
      assert(rows.forall(_._3 == n), s"cluster $cl n_cluster mismatch")
      assert(rows.map(_._4).sorted.toSeq == (1 to n), s"cluster $cl ranks not 1..$n")
      // ranks are distance-descending: farthest member holds rank 1
      val byRank = rows.sortBy(_._4).map(_._2)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b }, s"cluster $cl rank order")
      rows.foreach { case (_, _, _, rk, out) =>
        assert(out == (rk * 100 <= n * 20), s"cluster $cl rank $rk flag")
      }
      // exactly floor(n*20/100) members flagged
      assert(rows.count(_._5) == n * 20 / 100, s"cluster $cl outlier count")
    }
  }

  test("zorderValue matches a scalar interleave replay; zorderBy clusters both dims") {
    import graft.ops.Corpus
    val spark2 = spark
    import spark2.implicits._
    def scalarZ(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    // full 32x32 grid, bits=5
    val grid = (for { x <- 0 until 32; y <- 0 until 32 } yield (x.toLong, y.toLong)).toDF("x", "y")
    val got = grid
      .withColumn("z", Corpus.zorderValue(Seq(col("x"), col("y")), 5))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    for (x <- 0L until 32L; y <- 0L until 32L)
      assert(got((x, y)) == scalarZ(x, y, 5), s"z($x,$y)")
    // clamp: out-of-range inputs saturate instead of corrupting high bits
    val clamped = Seq((40L, -3L)).toDF("x", "y")
      .select(Corpus.zorderValue(Seq(col("x"), col("y")), 5)).head.getLong(0)
    assert(clamped == scalarZ(31L, 0L, 5))

    // locality: a row-major (y-then-x) layout tiles the grid into 32-wide
    // strips — a predicate on x prunes NOTHING (every file spans all x).
    // Z-order tiles into near-square boxes: every file's min/max x-extent
    // is a fraction of the domain, so x predicates skip most files.
    def xExtents(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.groupBy(spark_partition_id())
        .agg((max("x") - min("x") + 1).as("ex"))
        .collect().map(_.getLong(1)).toSeq
    val zx = xExtents(Corpus.zorderBy(grid, Seq(col("x"), col("y")), 5, 16))
    val rx = xExtents(
      grid.withColumn("__o", col("y") * 32 + col("x"))
        .repartitionByRange(16, col("__o")).drop("__o"))
    assert(zx.max * 2 <= rx.max, s"zorder x-extents $zx vs row-major $rx")
    assert(zx.sum * 2 <= rx.sum, s"zorder x-extent sum ${zx.sum} vs ${rx.sum}")
  }

  test("mineTriplets: nearest same-cluster positive, hardest other-cluster negative") {
    val spark2 = spark
    import spark2.implicits._
    // cluster 0: ids 1-3 around x-axis; cluster 1: ids 4-5 around y-axis;
    // id 6 is a lone cluster-2 vector (no same-cluster positive → dropped)
    val vecs = Seq(
      (1L, Array(1f, 0.00f, 0f), 0), (2L, Array(1f, 0.10f, 0f), 0),
      (3L, Array(1f, 0.50f, 0f), 0),
      (4L, Array(0f, 1f, 0.0f), 1), (5L, Array(0.4f, 1f, 0f), 1),
      (6L, Array(0f, 0f, 1f), 2)
    ).toDF("vec_id", "embedding", "cl")
    val anchors = vecs.filter(col("vec_id").isin(1L, 6L))
    val got = Similarity
      .mineTriplets(vecs, "vec_id", "embedding", "cl", anchors, "vec_id", "embedding", "cl")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sortBy(_._1)
    // anchor 1: positive = id 2 (cos .995 > id 3 .894); hard negative = id 5
    // (cos .371 > id 4 0 > id 6 0 — but 6 is other-cluster too; 5 wins)
    assert(got.toSeq == Seq((1L, 2L, 5L)), got.mkString(","))
    // anchor 6 dropped: no same-cluster peer → no positive side
  }

  test("banded SRP near-dup pairs are a subset of exact all-pairs with equal scores") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val srp = Dedup
      .embeddingNearDupPairs(emb, "vec_id", "embedding", 0.4, planes = 8, bands = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty && srp.nonEmpty && srp.size <= exact.size)
    // every blocked pair is a true pair with a bitwise-identical score
    srp.foreach { case (k, c) => assert(exact.get(k).contains(c), s"pair $k") }
    // banding at 2 bits/band keeps a solid share of true pairs at this threshold
    assert(srp.size.toDouble / exact.size >= 0.5, s"recall ${srp.size}/${exact.size}")
  }

  test("embeddingNearDupPairs: maxBucket cap star-salvages the degenerate cluster, keeps real pairs") {
    val spark2 = spark
    import spark2.implicits._
    // 10 identical embeddings (one boilerplate cluster — same bucket in
    // EVERY band) + one genuine near-dup pair elsewhere in the space
    val boiler = (0L until 10L).map(i => (i, Array(1.0f, 0.5f, -0.25f, 2.0f)))
    val pairVecs = Seq(
      (100L, Array(-1.0f, 2.0f, 0.5f, -0.75f)),
      (101L, Array(-1.0f, 2.01f, 0.5f, -0.74f)))
    val vecs = (boiler ++ pairVecs).toDF("vec_id", "embedding")
    val capped = Dedup.embeddingNearDupPairs(
      vecs, "vec_id", "embedding", 0.9, planes = 8, bands = 4, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the over-cap cluster is star-salvaged, not dropped (round 15): B−1
    // pairs through the min-id representative instead of the C(10,2)=45
    // clique — the family stays one connected component at linear cost
    assert(capped.filter { case (a, b) => a < 100L && b < 100L } ==
      (1L until 10L).map(i => (0L, i)).toSet)
    // the normal-density pair survives the cap
    assert(capped.contains((100L, 101L)))
    assert(capped.size == 10)
    // with the cap above the cluster size, the full clique comes back
    val uncapped = Dedup.embeddingNearDupPairs(
      vecs, "vec_id", "embedding", 0.9, planes = 8, bands = 4, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.count { case (a, b) => a < 100L && b < 100L } == 45) // C(10,2)
    assert(uncapped.contains((100L, 101L)))
  }

  test("minhashLshPairs: over-cap bucket is star-salvaged through the min-id rep") {
    val spark2 = spark
    import spark2.implicits._
    // 8 identical docs (every band's bucket holds all 8 — over maxBucket=5)
    // + one normal near-dup pair that must keep full pair density
    val fam = (0L until 8L).map(i => (i, "aa bb cc dd ee ff gg hh ii jj"))
    val other = Seq(
      (100L, "xx yy zz ww vv uu tt ss rr qq"),
      (101L, "xx yy zz ww vv uu tt ss rr qq"))
    val df = (fam ++ other).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text", maxBucket = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // family: exactly the B−1 star edges (rep = min id 0), NOT C(8,2)=28
    assert(pairs.filter { case (a, b) => a < 100L && b < 100L } ==
      (1L until 8L).map(i => (0L, i)).toSet)
    // under-cap docs keep full candidate density
    assert(pairs.contains((100L, 101L)))
    // audit side channel: every band reports the one over-cap bucket
    val audit = Dedup.minhashLshOverCapBuckets(df, "doc_id", "text", maxBucket = 5L)
      .collect().map(r => (r.getAs[Int]("band"), r.getAs[Long]("n"), r.getAs[Long]("rep")))
    assert(audit.length == 4 && audit.forall { case (_, n, rep) => n == 8L && rep == 0L })
    assert(audit.map(_._1).toSet == Set(0, 1, 2, 3))
    // raising the cap restores the clique and empties the audit
    val unc = Dedup.minhashLshPairs(df, "doc_id", "text", maxBucket = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unc.count { case (a, b) => a < 100L && b < 100L } == 28)
    assert(Dedup.minhashLshOverCapBuckets(df, "doc_id", "text", maxBucket = 100L)
      .count() == 0L)
  }

  test("minhashLshPairsIncremental: star salvage keeps contract orientation, no old-old pairs") {
    val spark2 = spark
    import spark2.implicits._
    val boiler = "aa bb cc dd ee ff gg hh ii jj"
    // hot family spans both sides: old ids 0-3, new ids 10-13 (8 members
    // > maxBucket=5); plus one normal old↔new near-dup pair
    val oldDf = ((0L until 4L).map(i => (i, boiler)) :+
      (100L, "xx yy zz ww vv uu tt ss rr qq")).toDF("doc_id", "text")
    val newDf = ((10L until 14L).map(i => (i, boiler)) :+
      (101L, "xx yy zz ww vv uu tt ss rr qq")).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairsIncremental(
        oldDf, newDf, "doc_id", "text", maxBucket = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // rep = global min id 0 (old): stars to the NEW members only —
    // old↔old pairs are outside this op's contract
    assert(pairs.filter { case (a, b) => a < 100L && b < 100L } ==
      (10L until 14L).map(i => (0L, i)).toSet)
    assert(pairs.contains((100L, 101L)))
    // id_b is always from the new batch
    assert(pairs.forall { case (_, b) => b >= 10L })
  }

  test("hotShingles audit reports the over-df shingle family") {
    val spark2 = spark
    import spark2.implicits._
    // the jaccard_capstress shape: a fixed 3-word tail on every doc makes
    // its shingle hot; per-doc-distinct leading text stays under maxDf
    val df = (0L until 6L).map(i => (i, s"u$i v$i w$i zq alpha beta"))
      .toDF("doc_id", "text")
    val hot = Dedup.hotShingles(df, "doc_id", "text", 3, maxDf = 4L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(hot == Map("zq alpha beta" -> 6L))
    assert(Dedup.hotShingles(df, "doc_id", "text", 3, maxDf = 10L).count() == 0L)
  }

  test("pair generators leave the SQL cache manager empty (no persist leaks)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // Assert on the returned PLAN, not the global cache manager: suites
    // share one SparkSession and run in parallel, so a sibling suite's
    // legitimate cache (e.g. SlidingWindows' partitioning-reuse persist)
    // must not flake this. A persist leak inside a generator shows up as
    // an InMemoryRelation pinned in its own plan after cache substitution.
    def assertClean(tag: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val d = df
      d.count() // materialize the full pipeline
      val pinned = d.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(pinned.isEmpty, s"$tag pins ${pinned.size} cached subtrees")
    }
    assertClean("jaccard")(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5))
    assertClean("minhashLsh")(Dedup.minhashLshPairs(docs, "doc_id", "text"))
    assertClean("incrementalLsh")(Dedup.minhashLshPairsIncremental(
      docs.filter(col("doc_id") <= 3), docs.filter(col("doc_id") > 3), "doc_id", "text"))
    assertClean("simhash")(Dedup.simhashPairs(Dedup.simhash(docs, "doc_id", "text")))
    assertClean("srpNearDup")(Dedup.embeddingNearDupPairs(
      emb, "vec_id", "embedding", 0.4, planes = 8, bands = 4))
  }

  test("ivf topk: high recall vs brute force on clustered vectors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(
      emb, queries, "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
    val ivf = Similarity.ivfTopK(
      emb, queries, "vec_id", "embedding", "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
    // probing half the lists should recover a solid share of the exact top-5
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.4, s"ivf recall $recall")
    assert(ivf.size == exact.size) // k results per query either way
  }

  test("pq topk: exact duplicate codes to distance 0; useful recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // a corpus vector that duplicates query 3's embedding exactly shares
    // all m sub-codes, so its ADC distance to that query is EXACTLY the
    // query's own quantization residual — and it must rank first when the
    // corpus has no other copy of that vector
    val dup = emb.filter(col("vec_id") === 3)
      .withColumn("vec_id", lit(9001L))
    val corpus = emb.unionByName(dup)
    val got = Similarity.pqTopK(
      corpus, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", "vec_id", "embedding", k = 5)
    val q3 = got.filter(col("query_id") === 3).orderBy("rank").collect()
    assert(q3.head.getAs[Long]("nbr_id") == 9001L, "duplicate vector must be the ADC top-1")
    // duplicate's ADC distance equals the self-residual: both encode to the
    // same codes, so LUT lookups are identical
    // exact L2 top-5 (PQ approximates SQUARED-L2, not cosine — compare
    // under the matched metric)
    import org.apache.spark.sql.expressions.Window
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val d2 = Similarity.dot(col("cv"), col("cv")) -
      lit(2.0) * Similarity.dot(col("cv"), col("qv")) +
      Similarity.dot(col("qv"), col("qv"))
    val w = Window.partitionBy(col("query_id")).orderBy(d2.asc, col("nbr_id").asc)
    val exact = emb.select(col("vec_id").as("nbr_id"), col("embedding").as("cv"))
      .crossJoin(broadcast(qs))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
    // two-stage (ADC shortlist + exact rerank) — the deployment shape —
    // must recover most of what aggressive 16-bit codes lose: measured
    // 0.2 (pure ADC) → 0.46 (rerank=20) on this corpus
    val reranked = Similarity.pqTopK(
      emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", "vec_id", "embedding", k = 5, rerank = 20)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
    assert(reranked.size == exact.size) // k per query either way
    val recall = reranked.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.4, s"two-stage pq recall $recall")

    // rerank distances are EXACT squared-L2 (micro-quantized): the planted
    // duplicate scores dist 0 at rank 1
    val rr = Similarity.pqTopK(
      corpus, emb.filter(col("vec_id") === 3),
      "vec_id", "embedding", "vec_id", "embedding", k = 5, rerank = 20)
      .filter(col("rank") === 1).collect().head
    assert(rr.getAs[Long]("nbr_id") == 9001L)
    assert(rr.getAs[Long]("dist") == 0L)
  }

  test("multimodal: meta derivation and frame sampling shapes") {
    val d = docs.withColumn("payload", encode(col("text"), "UTF-8"))
    val meta = Multimodal.withMeta(d, "payload", "image/png")
      .select("doc_id", "meta.mime", "meta.n_bytes", "meta.width", "meta.height")
      .collect()
    assert(meta.forall(_.getAs[String]("mime") == "image/png"))
    assert(meta.find(_.getAs[Long]("doc_id") == 1L).get.getAs[Long]("n_bytes") == 43L)
    assert(meta.forall { r =>
      val w = r.getAs[Int]("width"); w >= 16 && w < 256 })

    val frames = Multimodal.sampleFrames(d, "doc_id", "payload", 10, 2)
    val f1 = frames.filter(col("id") === 1L).orderBy("frame_idx").collect()
    // 43 bytes → 4 full frames (0..3), stride 2 → indices 0,1 = chunks 0,2
    assert(f1.length == 2)
    assert(new String(f1(0).getAs[Array[Byte]]("frame_bytes")) == "the quick ")

    val feat = Multimodal.extractFeatures(d, "doc_id", "payload", dim = 4).collect()
    assert(feat.forall(_.getAs[scala.collection.Seq[Float]]("features").length == 4))
    // deterministic: same payload → same features
    val m = feat.map(r => r.getAs[Long]("id") -> r.getAs[scala.collection.Seq[Float]]("features").toSeq).toMap
    assert(m(1L) == m(4L))
  }

  test("metric store writes prometheus exposition text") {
    import graft.client.{GraftClient, MetricStore, Metrics}
    import graft.table._
    import scala.concurrent.duration._
    val spark2 = spark
    import spark2.implicits._
    val events = Seq(
      (1L, "error", 86400000L * 10 + 100),
      (2L, "click", 86400000L * 10 + 200),
      (3L, "error", 86400000L * 11 + 100)).toDF("id", "etype", "t_ms")
    val src = DataFrameSource(
      "m_src", events, keys = Some(Seq("id")),
      timestampField = Some("t_ms"), timestampFormat = "epoch_millis")
    val out = java.nio.file.Files.createTempFile("graft_metrics", ".prom").toString
    val cl = new GraftClient(spark)
    new MetricStore(cl, out).materializeWithMetrics(
      src, BlackHoleSink,
      Seq(
        Metrics.count("event_cnt", None, 1.day),
        Metrics.ratio("error_ratio", "etype = 'error'", 1.day)))
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)))
    assert(text.contains("# TYPE graft_event_cnt gauge"))
    assert(text.contains("graft_event_cnt{table=\"m_src\"} 2"))
    assert(text.contains("graft_error_ratio{table=\"m_src\"} 0.5"))
    assert(text.contains("graft_error_ratio{table=\"m_src\"} 1.0"))

    // Average and CountMap rewrites (ref: metric.py:196-258)
    val avgOut = java.nio.file.Files.createTempFile("graft_metrics_a", ".prom").toString
    val events2 = Seq(
      (1L, "error", 10.0, 86400000L * 10 + 100),
      (2L, "click", 30.0, 86400000L * 10 + 200)).toDF("id", "etype", "score", "t_ms")
    new MetricStore(cl, avgOut).materializeWithMetrics(
      DataFrameSource("m_src2", events2, keys = Some(Seq("id")),
        timestampField = Some("t_ms"), timestampFormat = "epoch_millis"),
      BlackHoleSink,
      Seq(
        Metrics.average("score_avg", "score", 1.day),
        Metrics.countMap("etype_counts", "etype", 1.day)))
    val atext = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(avgOut)))
    assert(atext.contains("graft_score_avg{table=\"m_src2\"} 20.0"))
    assert(atext.contains("graft_etype_counts{table=\"m_src2\"} Map(error -> 1, click -> 1)")
      || atext.contains("graft_etype_counts{table=\"m_src2\"} Map(click -> 1, error -> 1)"))

    // label VALUES with ", \, and newline must escape per the Prometheus
    // text exposition spec (they previously interpolated raw)
    val weird = Seq(("a\"b\\c\nd", 10L, 86400000L * 10 + 100)).toDF("k", "v", "t_ms")
    val wsrc = DataFrameSource(
      "w_src", weird, keys = Some(Seq("k")),
      timestampField = Some("t_ms"), timestampFormat = "epoch_millis")
    val wout = java.nio.file.Files.createTempFile("graft_metrics_w", ".prom").toString
    new MetricStore(cl, wout).materializeWithMetrics(
      wsrc, BlackHoleSink,
      Seq(Metrics.count("w_cnt", None, 1.day, keys = Seq("k"))), keys = Seq("k"))
    val wtext = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(wout)))
    assert(wtext.contains("k=\"a\\\"b\\\\c\\nd\""))
    assert(!wtext.contains("\nd\"")) // no literal line break inside a label
  }

  test("hive source reads a catalog table and round-trips through JSON") {
    import graft.client.GraftClient
    import graft.table._
    import graft.types._
    val spark2 = spark
    import spark2.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_test_db")
    spark.sql("DROP TABLE IF EXISTS graft_test_db.hs_tbl")
    // a fresh in-memory catalog does not know about a previous run's
    // managed-table directory — remove the leftover location too
    val loc = new java.io.File("spark-warehouse/graft_test_db.db/hs_tbl")
    if (loc.exists()) {
      java.nio.file.Files.walk(loc.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
    Seq((1L, "a", 100L), (2L, "b", 200L)).toDF("id", "tag", "t_ms")
      .write.mode("overwrite").saveAsTable("graft_test_db.hs_tbl")
    val src = HiveSource(
      "hs_src", "graft_test_db", "hs_tbl",
      schema = Some(Schema(Seq("id", "tag", "t_ms"), Seq(DInt64, DString, DInt64))),
      keys = Some(Seq("id")),
      timestampField = Some("t_ms"), timestampFormat = "epoch_millis")
    val cl = new GraftClient(spark)
    val got = cl.getFeatures(src).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
    assert(Json.fromJson(Json.toJson(src)) == src)
  }

  test("prometheus sink pushes exposition text to a push gateway") {
    import graft.client.{GraftClient, MetricStore, Metrics}
    import graft.table._
    import scala.concurrent.duration._
    import java.net.InetSocketAddress
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val spark2 = spark
    import spark2.implicits._

    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        calls.synchronized {
          calls += ((ex.getRequestMethod, ex.getRequestURI.getPath, body))
        }
        ex.sendResponseHeaders(200, -1)
        ex.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val ps = PrometheusSink(
        url, "graft job", deleteOnShutdown = true,
        extraLabels = Map("env" -> "test"))
      val events = Seq(
        (1L, "error", 86400000L * 10 + 100),
        (2L, "click", 86400000L * 10 + 200)).toDF("id", "etype", "t_ms")
      val src = DataFrameSource(
        "pm_src", events, keys = Some(Seq("id")),
        timestampField = Some("t_ms"), timestampFormat = "epoch_millis")
      val cl = new GraftClient(spark)
      val store = new MetricStore(cl, ps)
      store.materializeWithMetrics(
        src, BlackHoleSink, Seq(Metrics.count("ev_cnt", None, 1.day)))
      store.shutdown()

      val (putMethod, putPath, putBody) = calls.head
      assert(putMethod == "PUT")
      assert(putPath == "/metrics/job/graft+job/env/test") // URL-encoded job name
      assert(putBody.contains("# TYPE graft_ev_cnt gauge"))
      assert(putBody.contains("graft_ev_cnt{table=\"pm_src\"} 2"))
      val (delMethod, delPath, _) = calls.last
      assert(delMethod == "DELETE" && delPath == putPath && calls.size == 2)
    } finally server.stop(0)
  }

  test("lookup join pushes static map-entry fetches into the KV store") {
    import graft.client.{FieldRequest, GraftClient, MemoryKvStore, MemoryOnlineStore}
    import graft.table._
    MemoryOnlineStore.clear()
    val spark2 = spark
    import spark2.implicits._
    val cl = new GraftClient(spark)
    val dim = Seq(
      (1L, Map("bal" -> 10.0, "lim" -> 99.0), "gold", 100L),
      (2L, Map("bal" -> 20.0, "lim" -> 88.0), "silver", 100L))
      .toDF("uid", "m", "tier", "t_ms")
    cl.materialize(
      DataFrameSource("lkp_src", dim, keys = Some(Seq("uid")),
        timestampField = Some("t_ms"), timestampFormat = "epoch_millis"),
      MemoryStoreSink("lkp_tbl"))
    val left = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("uid", "tag")

    // only m['bal'] + the scalar tier are used → the store is asked for
    // entry 'bal' only, not the whole map
    val got = cl.lookupJoin(left, "lkp_tbl",
        Seq("bal" -> "m['bal']", "tier" -> "tier"))
      .orderBy("uid")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(r.fieldIndex("bal"))), Option(r.get(r.fieldIndex("tier")))))
      .toSeq
    assert(got == Seq(
      (1L, Some(10.0), Some("gold")),
      (2L, Some(20.0), Some("silver")),
      (3L, None, None)))
    val req = MemoryKvStore.lastRequest("lkp_tbl").get
    assert(req.contains(FieldRequest("m", Some(Seq("bal")))))
    assert(req.contains(FieldRequest("tier", None)))
    // the store really projected: fetched rows carry only the requested entry
    val fetched = MemoryKvStore.fetch("lkp_tbl", Seq(FieldRequest("m", Some(Seq("bal")))))
    assert(fetched.forall(_.get("m").exists(_ == Map("bal" -> 10.0)) ||
      fetched.forall(_.get("m").exists(m => m.asInstanceOf[Map[String, Any]].keySet == Set("bal")))))

    // a full use of the map anywhere disables the projection for that field
    cl.lookupJoin(left, "lkp_tbl", Seq("bal" -> "m['bal']", "whole" -> "m"))
    assert(MemoryKvStore.lastRequest("lkp_tbl").get.contains(FieldRequest("m", None)))

    // non-string subscript: whole-field fetch (redis_utils.py:124-133)
    assert(graft.engine.LookupJoin.analyze(Seq("m[1]")) == Seq(FieldRequest("m", None)))
  }

  test("batch online lookup joins keys against the store snapshot") {
    import graft.client.{GraftClient, MemoryOnlineStore}
    import graft.table._
    MemoryOnlineStore.clear()
    val cl = new GraftClient(spark)
    val spark2 = spark
    import spark2.implicits._
    val data = Seq(
      ("Alex", 100L, 1L), ("Alex", 600L, 3L), ("Emma", 400L, 2L))
      .toDF("name", "cost", "t_ms")
    cl.materialize(
      DataFrameSource("bol_src", data, keys = Some(Seq("name")),
        timestampField = Some("t_ms"), timestampFormat = "epoch_millis"),
      MemoryStoreSink("bol_tbl"))
    val got = cl.getOnlineFeatures(
      Seq("Alex", "Emma", "Nobody").toDF("name"), "bol_tbl", Seq("cost"))
      .orderBy("name").collect()
      .map(r => (r.getString(0), Option(r.getAs[Any]("cost")))).toSeq
    assert(got == Seq(
      ("Alex", Some(600L)), ("Emma", Some(400L)), ("Nobody", None)))
  }

  test("on-demand view serves expressions + store lookups per request") {
    import graft.client.{GraftClient, MemoryOnlineStore}
    import graft.table._
    MemoryOnlineStore.clear()
    val cl = new GraftClient(spark)
    val spark2 = spark
    import spark2.implicits._
    val dim = Seq((7L, 3.5), (8L, 4.5)).toDF("uid", "rate")
    cl.materialize(
      DataFrameSource("od_dim", dim, keys = Some(Seq("uid"))),
      MemoryStoreSink("od_dim"))
    val view = OnDemandFeatureView(
      "od_view",
      features = Seq(
        Feature("rate", JoinTransform("od_dim", "rate"), keys = Some(Seq("uid"))),
        Feature.expr("scaled", "rate * amount")),
      requestFields = Seq("uid", "amount"))
    val got = cl.getOnlineFeatures(Seq(Map("uid" -> 7L, "amount" -> 2L)), view)
    assert(got.head("rate") == 3.5)
    assert(got.head("scaled") == 7.0)
  }

  test("online store matches Int, Long and Double requests for a Long key") {
    import graft.client.{GraftClient, MemoryOnlineStore}
    import graft.table._
    val cl = new GraftClient(spark)
    val spark2 = spark
    import spark2.implicits._
    cl.materialize(
      DataFrameSource("nk_dim", Seq((7L, 3.5), (8L, 4.5)).toDF("uid", "rate"),
        keys = Some(Seq("uid"))),
      MemoryStoreSink("nk_dim"))
    def view(table: String) = OnDemandFeatureView(
      s"nk_view_$table",
      features = Seq(Feature("rate", JoinTransform(table, "rate"), keys = Some(Seq("uid")))),
      requestFields = Seq("uid"))
    def served(table: String, req: Map[String, Any]) =
      cl.getOnlineFeatures(Seq(req), view(table)).head("rate")
    for (uid <- Seq[Any](7, 7L, 7.0)) {
      assert(MemoryOnlineStore.get("nk_dim", Map("uid" -> uid)).map(_("rate")) == Some(3.5),
        s"${uid.getClass}")
      assert(served("nk_dim", Map("uid" -> uid)) == 3.5, s"${uid.getClass}")
    }
    // misses: no key field, a null key (none stored), an unregistered table
    val misses = Seq[(String, Map[String, Any])](
      "nk_dim" -> Map("other" -> 7L), "nk_dim" -> Map("uid" -> null), "nk_none" -> Map("uid" -> 7L))
    for ((table, req) <- misses) {
      assert(MemoryOnlineStore.get(table, req).isEmpty, s"$table $req")
      assert(served(table, req) == null, s"$table $req")
    }
  }

  test("feature-attached metrics match the reference transformation golden") {
    // ref: metric_stores/tests/test_metric_store.py test_metric_transformation
    // — int64_v [1, -1] with Count/Ratio/Average("> 0", 1d) and string_v
    // "abc" with CountMap(1d): window 1 → (1, 0.5, 1.0, {abc: 2}),
    // trailing empty window → (0, 0.0, null, null)
    import graft.client.{GraftClient, MetricStore}
    import graft.table._
    import scala.concurrent.duration._
    val spark2 = spark
    import spark2.implicits._
    def ms(s: String): Long =
      java.time.LocalDateTime.parse(s.replace(" ", "T"))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val rows = Seq(
      (ms("2022-01-01 08:01:00"), "abc", 1L),
      (ms("2022-01-01 08:02:00"), "abc", -1L)).toDF("t_ms", "string_v", "int64_v")
    val view = DerivedFeatureView(
      "mgold", DataFrameSource(
        "mgold_src", rows,
        timestampField = Some("t_ms"), timestampFormat = "epoch_millis"),
      features = Seq(
        Feature.expr("int64_v", "int64_v").copy(metrics = Seq(
          Metric.Count(Some("> 0"), 1.day),
          Metric.Ratio("> 0", 1.day),
          Metric.Average(Some("> 0"), 1.day))),
        Feature.expr("string_v", "string_v").copy(metrics = Seq(
          Metric.CountMap(windowSize = 1.day)))),
      keepSourceFields = true)

    val out = java.nio.file.Files.createTempFile("graft_metrics_g", ".prom").toString
    val cl = new GraftClient(spark)
    new MetricStore(cl, out).materializeWithMetrics(view, BlackHoleSink)
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)))

    val t1 = ms("2022-01-02 00:00:00") - 1 // window 1 end
    val t2 = ms("2022-01-03 00:00:00") - 1 // trailing empty window end
    def line(metric: String, tags: String, v: String, t: Long): String =
      s"""graft_$metric{table="mgold",$tags} $v $t"""
    assert(text.contains(line(
      "int64_v_count", """feature_name="int64_v",filter_expr="> 0"""", "1", t1)))
    assert(text.contains(line(
      "int64_v_count", """feature_name="int64_v",filter_expr="> 0"""", "0", t2)))
    assert(text.contains(line(
      "int64_v_ratio", """feature_name="int64_v",filter_expr="> 0"""", "0.5", t1)))
    assert(text.contains(line(
      "int64_v_ratio", """feature_name="int64_v",filter_expr="> 0"""", "0.0", t2)))
    assert(text.contains(line(
      "int64_v_average", """feature_name="int64_v",filter_expr="> 0"""", "1.0", t1)))
    // empty-window average is NULL → exactly one sample line (window 1)
    assert(text.linesIterator.count(_.startsWith("graft_int64_v_average{")) == 1)
    assert(text.contains(line(
      "string_v_count_map", """feature_name="string_v",value="null",filter_expr=""""",
      "Map(abc -> 2)", t1)))

    // keep_source_metrics: a downstream view reports the chain's metrics
    // (ref: metric_store.py:131-139 recursion)
    val wrapped = DerivedFeatureView(
      "mgold_outer", view,
      features = Seq(Feature.expr("doubled", "int64_v * 2")),
      keepSourceFields = true, keepSourceMetrics = true)
    val out2 = java.nio.file.Files.createTempFile("graft_metrics_g2", ".prom").toString
    new MetricStore(cl, out2).materializeWithMetrics(wrapped, BlackHoleSink)
    val t2text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out2)))
    assert(t2text.contains(
      s"""graft_int64_v_count{table="mgold_outer",feature_name="int64_v",filter_expr="> 0"} 1 $t1"""))
    // without the flag, upstream metrics stay silent
    val out3 = java.nio.file.Files.createTempFile("graft_metrics_g3", ".prom").toString
    new MetricStore(cl, out3).materializeWithMetrics(
      wrapped.copy(name = "mgold_outer2", keepSourceMetrics = false), BlackHoleSink)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out3))).isEmpty)
  }

  test("segment dedup marks cross-doc repeated windows as boilerplate") {
    val spark2 = spark
    import spark2.implicits._
    // 3-token segments: "cookie notice here" opens docs 1 and 2
    // (boilerplate at minDocFreq=2); the remainders are unique
    val d = Seq(
      (1L, "cookie notice here unique body one"),
      (2L, "cookie notice here another body text"),
      (3L, "totally original content third doc")
    ).toDF("doc_id", "text")
    val out = TextOps.segmentDedup(d, "text", "doc_id", segTokens = 3, minDocFreq = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_segments"), r.getAs[Long]("n_boilerplate"),
          r.getAs[String]("cleaned_md5"))).toMap
    assert(out(1L)._1 == 2 && out(1L)._2 == 1)
    assert(out(2L)._1 == 2 && out(2L)._2 == 1)
    assert(out(3L)._1 == 2 && out(3L)._2 == 0)
    // cleaned text = the non-boilerplate remainder
    val md5of = (s: String) =>
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(out(1L)._3 == md5of("unique body one"))
    assert(out(3L)._3 == md5of("totally original content third doc"))
  }

  test("skewReport: hot key ranked first with exact share, nulls counted") {
    val spark2 = spark
    import spark2.implicits._
    val d = (Seq.fill(6)("hot") ++ Seq("a", "b", "c") ++ Seq(null, null))
      .map(Tuple1(_)).toDF("key")
    val got = graft.ops.Corpus.skewReport(d, Seq("key"), k = 3)
      .collect().map(r => r.getAs[Int]("rank") ->
        (r.getAs[String]("value"), r.getAs[Long]("cnt"), r.getAs[Double]("share"))).toMap
    assert(got(1) == (("hot", 6L, 0.5455))) // 6/11
    assert(got(2) == ((null, 2L, 0.1818))) // nulls are a countable hotspot
    assert(got(3)._2 == 1L)
    assert(got.size == 3)
  }

  test("rrfFuse: exact reciprocal sums, consensus item outranks split opinions") {
    val spark2 = spark
    import spark2.implicits._
    // method m1 ranks a > b > c; m2 ranks a > c > b → a is the consensus
    val cand = Seq(
      ("q1", "a", "m1", 0.9), ("q1", "b", "m1", 0.8), ("q1", "c", "m1", 0.7),
      ("q1", "a", "m2", 0.95), ("q1", "c", "m2", 0.5), ("q1", "b", "m2", 0.4),
      ("q1", "only_m1", "m1", 0.01)
    ).toDF("qid", "item", "method", "score")
    val got = graft.ops.Similarity.rrfFuse(cand, "qid", "item", "method", "score", k0 = 10)
      .collect().map(r => r.getAs[String]("item") ->
        (r.getAs[Long]("n_methods"), r.getAs[Long]("rrf_micro"),
          r.getAs[Int]("fused_rank"))).toMap
    val rr = (r: Int) => 1000000L / (10 + r)
    assert(got("a") == ((2L, rr(1) * 2, 1)))
    assert(got("b") == ((2L, rr(2) + rr(3), 2))) // ties with c → item asc
    assert(got("c") == ((2L, rr(3) + rr(2), 3)))
    assert(got("only_m1") == ((1L, rr(4), 4)))
  }

  test("snapshotDecay: exact half-life weights, sign-split, future events dropped") {
    val spark2 = spark
    import spark2.implicits._
    val hl = 1000L
    val ref = 10000L
    val d = Seq(
      (1L, 10000L, 10.0),  // age 0      → w6 = 1000000
      (1L, 9000L, 10.0),   // age = hl   → w6 = 500000
      (1L, 8000L, -10.0),  // age = 2hl  → w6 = 250000, negative value
      (1L, 10500L, 99.0),  // future: dropped
      (2L, 10000L, 0.5)
    ).toDF("user_id", "ts_ms", "value")
    val got = graft.ops.Decay.snapshotDecay(d, Seq("user_id"), "ts_ms", "value", hl, ref)
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("decayed_count_micro"),
          r.getAs[Long]("decayed_sum_micro"))).toMap
    // user 1: contributions 10e6·1.0 + 10e6·0.5 − 10e6·0.25 = 12.5e6
    assert(got(1L) == ((3L, 1750000L, 12500000L)))
    assert(got(2L) == ((1L, 1000000L, 500000L)))
  }

  test("negativeSample: true negatives only, deterministic, k-bounded") {
    val spark2 = spark
    import spark2.implicits._
    // 10 users x a few interactions over a 50-item catalog
    val rnd = new scala.util.Random(3)
    val inter = (for (u <- 1L to 10L; _ <- 1 to 5)
      yield (u, 100L + rnd.nextInt(50))).distinct.toDF("user_id", "item")
    val pos = inter.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = graft.ops.Sampling.negativeSample(inter, "user_id", "item",
      k = 5, oversample = 4, salt = "t")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("item"),
        r.getAs[Int]("rank")))
    // no sampled negative is a real interaction; k bound; no dup items
    assert(got.forall { case (u, i, _) => !pos((u, i)) })
    val byU = got.groupBy(_._1)
    assert(byU.values.forall(_.length <= 5))
    assert(byU.values.forall(rs => rs.map(_._2).distinct.length == rs.length))
    assert(byU.size == 10) // every user got at least one negative
    // replay-identical
    val again = graft.ops.Sampling.negativeSample(inter, "user_id", "item", 5, 4, "t")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("item"),
        r.getAs[Int]("rank"))).toSet
    assert(again == got.toSet)
  }

  test("canonicalUrl: tracking params, order, ports, fragments all collapse") {
    val spark2 = spark
    import spark2.implicits._
    val urls = Seq(
      "HTTPS://Example.com:443/a/b/?b=2&a=1#sec",
      "https://example.com/a/b?a=1&utm_source=tw&b=2&ref=x",
      "https://example.com/other?page=2",
      "https://example.com/other?page=3",
      "plain-not-a-url")
    val got = urls.toDF("u")
      .select(TextOps.canonicalUrl(col("u")).as("c")).collect().map(_.getString(0))
    // variants of the same page collapse to one canonical form
    assert(got(0) == "https://example.com/a/b?a=1&b=2")
    assert(got(1) == got(0))
    // meaningful params SURVIVE — pagination stays distinct
    assert(got(2) == "https://example.com/other?page=2")
    assert(got(2) != got(3))
    assert(got(4) == "plain-not-a-url") // schemeless input passes through
  }

  test("mixedLanguageSignals flags a stitched bilingual doc, not a clean one") {
    val spark2 = spark
    import spark2.implicits._
    // 4-token segments: doc 1 is English + German halves; doc 2 pure English
    val d = Seq(
      (1L, "the quick brown fox der hund und die"),
      (2L, "the quick brown fox with the lazy dog")
    ).toDF("doc_id", "text")
    val out = TextOps.mixedLanguageSignals(d, "doc_id", "text", segTokens = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_segments"), r.getAs[Long]("n_langs"),
          r.getAs[Boolean]("is_mixed"), r.getAs[Double]("majority_share"))).toMap
    assert(out(1L)._1 == 2 && out(1L)._2 == 2 && out(1L)._3)
    assert(out(1L)._4 == 0.5)
    assert(out(2L)._2 == 1 && !out(2L)._3 && out(2L)._4 == 1.0)
  }

  test("weightedSample: deterministic, k-bounded, weight-proportional-ish") {
    val spark2 = spark
    import spark2.implicits._
    // one heavy doc (w=1000) among 99 light ones (w=1): over 40 salts the
    // heavy doc must appear in the k=5 sample far more often than any
    // light doc would by chance
    val d = (1L to 100L).map(i => (i, "g", if (i == 1L) 1000L else 1L))
      .toDF("id", "grp", "w")
    val hits = (0 until 40).count { s =>
      graft.ops.Sampling.weightedSample(d, "id", "w", "grp", k = 5, salt = s"s$s")
        .collect().exists(_.getAs[Long]("id") == 1L)
    }
    assert(hits >= 35, s"heavy doc sampled only $hits/40 times")
    // deterministic replay; k bound; zero-weight rows excluded
    val one = graft.ops.Sampling.weightedSample(d, "id", "w", "grp", 5, "s0")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("rank"))).sortBy(_._2)
    val two = graft.ops.Sampling.weightedSample(d, "id", "w", "grp", 5, "s0")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("rank"))).sortBy(_._2)
    assert(one.toSeq == two.toSeq && one.length == 5)
    val dz = d.withColumn("w", when(col("id") === 1L, 0L).otherwise(col("w")))
    assert(!graft.ops.Sampling.weightedSample(dz, "id", "w", "grp", 100, "s0")
      .collect().exists(_.getAs[Long]("id") == 1L))
  }

  test("centroidDrift: identical groups cos 1, opposite groups cos -1") {
    val spark2 = spark
    import spark2.implicits._
    val a = Seq(
      (1L, "same", Array(1.0f, 0.0f)), (2L, "same", Array(1.0f, 0.0f)),
      (3L, "flip", Array(0.0f, 2.0f)), (4L, "only_a", Array(1.0f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    val b = Seq(
      (5L, "same", Array(1.0f, 0.0f)),
      (6L, "flip", Array(0.0f, -2.0f))
    ).toDF("vec_id", "label", "embedding")
    val got = graft.ops.Similarity.centroidDrift(a, b, "vec_id", "embedding", "label")
      .collect().map(r => r.getAs[String]("label") ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Any]("centroid_cos"), r.getAs[Long]("l2_micro"))).toMap
    assert(got.keySet == Set("same", "flip")) // inner join drops only_a
    assert(got("same") == ((2L, 1L, 1.0, 0L)))
    // flip: centroids (0, 2e6) vs (0, -2e6): cos -1, l2 = 4e6 micros
    assert(got("flip") == ((1L, 1L, -1.0, 4000000L)))
  }

  test("pmiCollocations: scalar decomposed-log replay, phrase outranks chance") {
    val spark2 = spark
    import spark2.implicits._
    val d = Seq(
      (1L, "new york new york"),
      (2L, "san francisco san francisco"),
      (3L, "the the the")
    ).toDF("doc_id", "text")
    val got = TextOps.pmiCollocations(d, "text", minCount = 1L, k = 10)
      .collect().map(r => (r.getAs[String]("w1"), r.getAs[String]("w2")) ->
        (r.getAs[Long]("n_pair"), r.getAs[Long]("pmi_micro"))).toMap
    // unigrams: new 2, york 2, san 2, francisco 2, the 3 → N=11; bigrams:
    // (new,york) 2, (york,new) 1, (san,francisco) 2, (francisco,san) 1,
    // (the,the) 2 → Nb=8
    val f6 = (x: Double) => math.floor(math.log(x) * 1e6).toLong
    val exp = f6(2.0 / 8) - f6(2.0 / 11) - f6(2.0 / 11)
    assert(got(("new", "york")) == ((2L, exp)))
    assert(got(("san", "francisco")) == ((2L, exp)))
    // "the the" pairs a MORE frequent unigram: lower PMI than the phrases
    assert(got(("the", "the"))._2 < exp)
    assert(got.size == 5)
  }

  test("histogramQuantiles: within one bin of exact on a known distribution") {
    val spark2 = spark
    import spark2.implicits._
    // 0..999 uniform: exact pth percentile ≈ 10·p; bin width 1000/50 = 20
    val d = (0L until 1000L).map(_.toDouble).toDF("x")
    val got = graft.ops.Corpus.histogramQuantiles(
      d, Seq("x"), percents = Seq(0, 50, 100), bins = 50)
      .collect().map(r => r.getAs[Int]("percent") -> r.getAs[Double]("est_value")).toMap
    assert(got.size == 3)
    assert(math.abs(got(50) - 499.5) <= 20.0)
    assert(got(0) >= 0.0 && got(0) <= 20.0)
    assert(got(100) >= 979.0 && got(100) <= 999.0 + 1e-9)
  }

  test("trainingOrder: exact global permutation, deterministic, epoch-varying") {
    val spark2 = spark
    import spark2.implicits._
    val d = (0L until 100L).toDF("id")
    val out = graft.ops.Sampling.trainingOrder(d, "id", numShards = 4, seed = "e0")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("shard"),
        r.getAs[Long]("pos"), r.getAs[Long]("global_pos")))
    assert(out.length == 100)
    // global_pos is an exact permutation of 0..99
    assert(out.map(_._4).sorted.toSeq == (0L until 100L))
    // shard-local positions are dense from 0 per shard
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length))
    }
    // same seed replays identically; a new seed permutes differently
    val again = graft.ops.Sampling.trainingOrder(d, "id", 4, "e0")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("global_pos"))).toMap
    assert(out.forall(r => again(r._1) == r._4))
    val epoch1 = graft.ops.Sampling.trainingOrder(d, "id", 4, "e1")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("global_pos"))).toMap
    assert(out.count(r => epoch1(r._1) == r._4) < 20)
  }

  test("histogram: exact equi-width buckets, max clamps, constants collapse") {
    val spark2 = spark
    import spark2.implicits._
    val d = Seq[(java.lang.Double, java.lang.Double)](
      (0.0, 7.0), (2.0, 7.0), (5.0, 7.0), (9.0, 7.0), (10.0, 7.0), (null, 7.0)
    ).toDF("x", "c")
    val got = graft.ops.Corpus.histogram(d, Seq("x", "c"), bins = 5)
      .collect().map(r => (r.getAs[String]("col_name"), r.getAs[Int]("bucket")) ->
        (r.getAs[Double]("bucket_lo"), r.getAs[Double]("bucket_hi"), r.getAs[Long]("n"))).toMap
    // x: lo=0 hi=10, width 2; v=10 clamps into bucket 4; null skipped
    assert(got(("x", 0)) == ((0.0, 2.0, 1L))) // only 0.0 (2.0 → bucket 1)
    assert(got(("x", 1)) == ((2.0, 4.0, 1L)))
    assert(got(("x", 4))._3 == 2L) // 9 and clamped 10
    // constant column: lo=hi → single bucket 0 with all 6 rows
    assert(got(("c", 0))._3 == 6L)
    assert(got.keys.count(_._1 == "c") == 1)
  }

  test("dupSpanRemoval matches a brute-force reference on random corpora") {
    val spark2 = spark
    import spark2.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
      val docs = (1L to 30L).map { i =>
        val n = 3 + rnd.nextInt(18)
        (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val w = 3
      // brute force: global w-gram counts → dup set → covered union → merge
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
      val grams = toks.toSeq.flatMap { case (id, tk) =>
        if (tk.length < w) Nil
        else (0 to tk.length - w).map(p => (id, p, tk.slice(p, p + w).mkString(" ")))
      }
      val dup = grams.groupBy(_._3).filter(_._2.length >= 2).keySet
      val expected = docs.map { case (id, _) =>
        val tk = toks(id)
        val starts = grams.filter(g => g._1 == id && dup(g._3)).map(_._2).sorted
        val covered = starts.flatMap(p => p until p + w).toSet
        val spans = starts.foldLeft((0, -1)) { case ((cnt, maxEnd), p) =>
          (if (p > maxEnd || maxEnd < 0) cnt + 1 else cnt, math.max(maxEnd, p + w))
        }._1
        val cleaned = tk.indices.filterNot(covered).map(tk).mkString(" ")
        id -> ((tk.length.toLong, starts.length.toLong, spans.toLong,
          covered.size.toLong, cleaned))
      }.toMap
      val got = Dedup.dupSpanRemoval(docs.toDF("doc_id", "text"), "doc_id", "text", w)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_windows"),
            r.getAs[Long]("n_spans"), r.getAs[Long]("n_removed"),
            r.getAs[String]("cleaned_text"))).toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("containmentPairs matches brute-force distinct-set containment") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("p", "q", "r", "s", "t", "u")
    val docs = (1L to 20L).map { i =>
      val n = 3 + rnd.nextInt(12)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val n = 2
    def shingleSet(t: String): Set[String] = {
      val tk = t.split(" ", -1).toSeq
      if (tk.length < n) Set(tk.mkString(" "))
      else (0 to tk.length - n).map(p => tk.slice(p, p + n).mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
    val expected = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      common = (sets(a) & sets(b)).size if common > 0
      ca = math.round(common.toDouble / sets(a).size * 10000) / 10000.0
      cb = math.round(common.toDouble / sets(b).size * 10000) / 10000.0
      if math.max(ca, cb) >= 0.5
    } yield (a, b) -> ((ca, cb))).toMap
    val got = Dedup.containmentPairs(docs.toDF("doc_id", "text"), "doc_id", "text",
      n = n, threshold = 0.5, maxDf = 100000L)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Double]("containment_a_in_b"), r.getAs[Double]("containment_b_in_a"))).toMap
    assert(got == expected)
  }

  test("nbQualityScores: scalar log-odds replay, separates seed classes") {
    val spark2 = spark
    import spark2.implicits._
    // seed rule = contains no "spam" token; vocab covers everything
    val d = Seq(
      (1L, "good clean prose here"),
      (2L, "more good clean text"),
      (3L, "spam spam buy now"),
      (4L, "unlabeled good clean mix buy")
    ).toDF("doc_id", "text")
    val out = TextOps.nbQualityScores(
      d, "doc_id", "text", seedRule = !col("text").contains("spam"), topV = 100)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_vocab_tokens"), r.getAs[Long]("score_micro"),
          r.getAs[Boolean]("quality_pred"))).toMap
    // scalar replay: npos=3 nneg=1, w(t)=ln(((dfpos+1)/5)/((dfneg+1)/3))*1e6
    val w = (dfp: Long, dfn: Long) =>
      math.floor(math.log(((dfp + 1).toDouble / 5) / ((dfn + 1).toDouble / 3)) * 1e6).toLong
    val prior = math.floor(math.log(4.0 / 2) * 1e6).toLong
    // doc 3: spam(0,1) buy(1,1) now(0,1)
    val exp3 = w(0, 1) * 2 + w(1, 1) + prior
    assert(out(3L) == ((3L, exp3, exp3 > 0)))
    assert(!out(3L)._3) // spam doc predicted bad
    // doc 1: good(3,0) clean(3,0) prose(1,0) here(1,0)
    val exp1 = w(3, 0) * 2 + w(1, 0) * 2 + prior
    assert(out(1L) == ((4L, exp1, true)))
    assert(out(4L)._3) // mixed doc: 4 clean tokens outweigh one "buy"
  }

  test("containmentPairs catches a quote Jaccard misses, both directions exact") {
    val spark2 = spark
    import spark2.implicits._
    // doc 2 is doc 1's text embedded in a much longer page: containment of
    // 1-in-2 is 1.0 while Jaccard is far below the same threshold
    val d = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "intro words here alpha beta gamma delta plus lots of trailing filler tokens end"),
      (3L, "unrelated text about something else entirely")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, "doc_id", "text", n = 3, threshold = 0.9)
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    // doc 1 has 2 distinct 3-grams, both inside doc 2
    assert(r.getAs[Double]("containment_a_in_b") == 1.0)
    assert(r.getAs[Double]("containment") == 1.0)
    assert(r.getAs[Double]("containment_b_in_a") < 0.2)
    // the same pair fails a 0.9 JACCARD gate — the asymmetry is the point
    assert(Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.9).collect().isEmpty)
  }

  test("dupSpanRemoval merges overlapping dup windows and cuts exact spans") {
    val spark2 = spark
    import spark2.implicits._
    // docs 1/2 share "a b c d e" at DIFFERENT alignments (w=3 windows
    // "a b c","b c d","c d e" each occur twice); doc 3 is a within-doc
    // repeat that gets fully removed; doc 4 is shorter than w; doc 6 has
    // TWO disjoint dup spans separated by unique tokens
    val d = Seq(
      (1L, "a b c d e x y z"),
      (2L, "p q a b c d e"),
      (3L, "m n m n m n m n"),
      (4L, "u v"),
      (5L, "solo unique tokens only here"),
      (6L, "a b c g1 g2 g3 c d e")
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpanRemoval(d, "doc_id", "text", w = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_windows"),
          r.getAs[Long]("n_spans"), r.getAs[Long]("n_removed"),
          r.getAs[String]("cleaned_text"))).toMap
    assert(out(1L) == ((8L, 3L, 1L, 5L, "x y z")))
    assert(out(2L) == ((7L, 3L, 1L, 5L, "p q")))
    assert(out(3L) == ((8L, 6L, 1L, 8L, ""))) // fully duplicated → empty
    assert(out(4L) == ((2L, 0L, 0L, 0L, "u v"))) // shorter than w: untouched
    assert(out(5L) == ((5L, 0L, 0L, 0L, "solo unique tokens only here")))
    assert(out(6L) == ((9L, 2L, 2L, 6L, "g1 g2 g3"))) // two disjoint spans
  }

  test("bigram LM scores repeated corpus patterns above one-off ones") {
    val spark2 = spark
    import spark2.implicits._
    // "a b" appears twice among the three "a *" contexts → P = 2/3;
    // "a c" once → P = 1/3; doc 3's bigrams are all deterministic (P = 1)
    val d = Seq(
      (1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "x y z")
    ).toDF("doc_id", "text")
    val out = TextOps.bigramLmScore(d, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Any]("avg_logprob"))).toMap
    assert(out(1L)._1 == 1 && out(1L)._2 == math.round(math.log(2.0 / 3) * 1e4) / 1e4)
    assert(out(3L)._1 == 1 && out(3L)._2 == math.round(math.log(1.0 / 3) * 1e4) / 1e4)
    assert(out(4L)._1 == 2 && out(4L)._2 == 0.0) // ln(1) = 0
    // a single-token doc has no bigrams and NULL score
    val single = TextOps.bigramLmScore(
      Seq((9L, "solo")).toDF("doc_id", "text"), "text", "doc_id").collect().head
    assert(single.getAs[Long]("n_bigrams") == 0L && single.isNullAt(2))
  }

  test("tf-idf keywords rank distinctive terms above ubiquitous ones") {
    val spark2 = spark
    import spark2.implicits._
    // "common" appears in every doc → idf = ln(1) = 0; distinctive terms
    // appear in exactly one of three docs → idf = ln(3)
    val d = Seq(
      (1L, "common zebra zebra apple"),
      (2L, "common yak"),
      (3L, "common xray")
    ).toDF("doc_id", "text")
    val out = TextOps.tfidfKeywords(d, "text", "doc_id", 2)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getAs[Int]("rank"))
          .map(r => (r.getAs[String]("token"), r.getAs[Long]("tfidf_micro"))).toSeq
      }
    val ln3micro = math.round(math.log(3.0) * 1e6)
    // doc 1: zebra tf=2 beats apple tf=1; "common" scores 0 and ranks last
    assert(out(1L) == Seq(("zebra", 2 * ln3micro), ("apple", ln3micro)))
    assert(out(2L).head == ("yak", ln3micro))
    assert(out(2L)(1) == ("common", 0L))
  }

  test("dup n-gram coverage unions overlapping duplicate spans") {
    val spark2 = spark
    import spark2.implicits._
    // "a b c a b c a b" with n=3: grams "a b c"(×2), "b c a"(×2), "c a b"(×2)
    // — every position 0..7 is covered → coverage 1.0; a no-repeat doc → 0
    val d = Seq(
      (1L, "a b c a b c a b"),
      (2L, "one two three four five six")
    ).toDF("doc_id", "text")
    val out = TextOps.dupNgramCoverage(d, "text", "doc_id", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_pos"),
          r.getAs[Double]("dup_coverage"))).toMap
    assert(out(1L) == ((8L, 8L, 1.0)))
    assert(out(2L) == ((6L, 0L, 0.0)))
  }

  test("k-means separates well-spaced blobs and is partitioning-invariant") {
    val spark2 = spark
    import spark2.implicits._
    // two tight blobs far apart; k=2 must split them regardless of which
    // vectors seed the clusters
    def blob(base: Float, ids: Range) =
      ids.map(i => (i.toLong, Array(base, base + i * 0.001f, base)))
    val rows = blob(0.1f, 0 until 10) ++ blob(0.9f, 10 until 20)
    val df = rows.toDF("vec_id", "embedding")
    val out = Cluster.kmeansAssign(df, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val c0 = (0 until 10).map(out(_)).toSet
    val c1 = (10 until 20).map(out(_)).toSet
    assert(c0.size == 1 && c1.size == 1 && c0 != c1)
    // identical assignments from a different partitioning (integer
    // arithmetic has no summation-order sensitivity to hide behind)
    val out2 = Cluster.kmeansAssign(df.repartition(7), "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == out2)
  }

  test("gopher rules flag the failing dimension only") {
    val spark2 = spark
    import spark2.implicits._
    // 60 words, stopwords present, mean word length ≈ 4.8 — passes all rules
    val good = ("the quick brown foxes jumped over several lazy dogs today " * 6).trim
    val tooShort = "the of just a few words"
    val symbols = good + " " + (Array.fill(20)("###").mkString(" "))
    val d = Seq((1L, good), (2L, tooShort), (3L, symbols)).toDF("doc_id", "text")
    val out = TextOps.gopherRules(d, "text", Seq("doc_id"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("ok_word_count"), r.getAs[Boolean]("ok_symbol_ratio"),
          r.getAs[Boolean]("keep"))).toMap
    assert(out(1L) == ((true, true, true)))
    assert(out(2L)._1 == false && out(2L)._3 == false)
    assert(out(3L)._2 == false && out(3L)._3 == false)
  }

  test("winnowing guarantees a shared fingerprint for long shared substrings") {
    val spark2 = spark
    import spark2.implicits._
    // k=8, w=4 → any shared substring of length ≥ 11 must yield at least
    // one common selected hash (SIGMOD'03 guarantee); doc 3 shares nothing
    val shared = "identical-run-of-text"
    val d = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"other beginning $shared different end"),
      (3L, "completely unrelated content here")
    ).toDF("doc_id", "text")
    val fps = TextOps.winnowingFingerprint(d, "text", "doc_id", k = 8, w = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1).split('|').toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    assert((fps(1L) intersect fps(3L)).isEmpty)
  }

  test("sequence packing assigns contiguous spans and straddles boundaries") {
    val spark2 = spark
    import spark2.implicits._
    // budget 4: doc 1 (3 toks) → seq 0 off 0..2; doc 2 (3 toks) → starts
    // seq 0 off 3, ends seq 1; doc 3 (2 toks) → starts seq 1 off 2, ends
    // seq 1; other group restarts at seq 0
    val d = Seq(
      (1L, "g1", "a b c"),
      (2L, "g1", "d e f"),
      (3L, "g1", "g h"),
      (9L, "g2", "x y z w q")
    ).toDF("doc_id", "source", "text")
    val out = TextOps.packSequences(d, "text", "doc_id", "source", seqTokens = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("start_seq"), r.getAs[Long]("start_offset"),
          r.getAs[Long]("end_seq"))).toMap
    assert(out(1L) == ((0L, 0L, 0L)))
    assert(out(2L) == ((0L, 3L, 1L)))
    assert(out(3L) == ((1L, 2L, 1L)))
    assert(out(9L) == ((0L, 0L, 1L))) // 5 tokens: seq 0 → 1
  }

  test("k-means-trained IVF achieves exact recall on separable blobs") {
    val spark2 = spark
    import spark2.implicits._
    // two far-apart blobs; ids 0-9 are ALL in blob A, so the lowest-id
    // quantizer puts both centroids there — trained centroids land one per
    // blob, and with nprobe=1 every query probes exactly its own blob,
    // where all its true neighbors live → results equal brute force
    def blob(base: Float, ids: Range) =
      ids.map(i => (i.toLong, Array(base + i * 0.001f, base, base + 0.05f)))
    val corpus = (blob(0.1f, 0 until 10) ++ blob(0.9f, 10 until 20))
      .toDF("vec_id", "embedding")
    val queries = Seq(
      (100L, Array(0.105f, 0.1f, 0.15f)),
      (200L, Array(0.905f, 0.9f, 0.95f))).toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(
      corpus, queries, "vec_id", "embedding", "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val trained = Similarity.ivfTopK(
      corpus, queries, "vec_id", "embedding", "vec_id", "embedding",
      k = 3, nlist = 2, nprobe = 1, trainIters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(trained == exact)
  }

  test("group quota sample keeps exactly min(n, quota) rows per group, reproducibly") {
    import graft.ops.Sampling
    val spark2 = spark
    import spark2.implicits._
    val rows = ((0 until 100).map(i => (i.toLong, "big")) ++
      (100 until 103).map(i => (i.toLong, "small"))).toDF("id", "grp")
    val take = Sampling.groupQuotaSample(rows, "grp", "id", quota = 10, salt = "s")
    val counts = take.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("big" -> 10L, "small" -> 3L))
    val again = Sampling.groupQuotaSample(rows, "grp", "id", quota = 10, salt = "s")
      .collect().map(_.getLong(0)).toSet
    assert(take.collect().map(_.getLong(0)).toSet == again)
    // a different salt draws a different subset of the big group
    val other = Sampling.groupQuotaSample(rows, "grp", "id", quota = 10, salt = "t")
      .collect().map(_.getLong(0)).toSet
    assert(again != other)
  }

  test("mixing manifest computes inventory, targets, and epochs per source") {
    import graft.ops.Sampling
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(
      (1L, "web", 100L), (2L, "web", 300L),
      (3L, "wiki", 50L), (4L, "code", 150L)).toDF("id", "src", "n_tok")
    val m = Sampling.mixingManifest(
        rows, "src", "n_tok", Map("web" -> 0.5, "wiki" -> 0.4),
        defaultWeight = 0.1, unitBudget = 1000L)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(m("web").getAs[Long]("n_docs") == 2L)
    assert(m("web").getAs[Long]("n_units") == 400L)
    assert(m("web").getAs[Double]("corpus_share") == 0.6667)
    assert(m("web").getAs[Long]("target_units") == 500L)
    assert(m("web").getAs[Double]("epochs") == 1.25)
    assert(m("web").getAs[String]("mode") == "upsample")
    assert(m("wiki").getAs[Long]("target_units") == 400L)
    assert(m("wiki").getAs[Double]("epochs") == 8.0)
    assert(m("code").getAs[Long]("target_units") == 100L)
    assert(m("code").getAs[String]("mode") == "downsample")
  }

  test("char entropy: uniform text maxes out, constant text scores zero") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(
      (1L, "abcd"),     // 4 distinct, uniform -> exactly 2 bits
      (2L, "aaaa"),     // 1 distinct -> 0 bits
      (3L, "aabb"),     // 2 distinct, uniform -> 1 bit
      (4L, "")          // empty -> 0 chars, 0 bits
    ).toDF("doc_id", "text")
    val e = TextOps.charEntropy(rows, "text", Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(e(1L).getAs[Double]("entropy_bits") == 2.0)
    assert(e(1L).getAs[Long]("n_distinct") == 4L)
    assert(e(2L).getAs[Double]("entropy_bits") == 0.0)
    assert(e(3L).getAs[Double]("entropy_bits") == 1.0)
    assert(e(4L).getAs[Long]("n_chars") == 0L)
    assert(e(4L).getAs[Double]("entropy_bits") == 0.0)
  }

  test("dedup apply keeps one canonical row per cluster with drop counts") {
    val spark2 = spark
    import spark2.implicits._
    // pairs: {1,2,4} one cluster; 3 and 5 singletons
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("id_a", "id_b")
    val corpus = Seq(
      (1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")).toDF("doc_id", "v")
    val kept = Cluster.dedupApply(corpus, "doc_id", pairs, "id_a", "id_b")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("v"), r.getAs[Long]("n_dropped"))).toMap
    assert(kept.keySet == Set(1L, 3L, 5L))
    assert(kept(1L) == ("a", 2L)) // absorbed docs 2 and 4
    assert(kept(3L) == ("c", 0L))
    assert(kept(5L) == ("e", 0L))
  }

  test("kmv sketch: exact under k, within estimator error above k") {
    import graft.ops.Sketch
    val spark2 = spark
    import spark2.implicits._
    // group "small": 5 distinct values (< k) -> exact; "big": 1000 distinct
    val rows = ((1 to 5).map(i => ("small", s"v$i")) ++
      (1 to 3000).map(i => ("big", s"w${i % 1000}"))).toDF("grp", "v")
    val s = Sketch.distinctSketch(rows, "grp", col("v"), k = 64)
      .collect().map(r => r.getAs[String]("grp") -> r).toMap
    assert(s("small").getAs[Long]("n_kept") == 5L)
    assert(s("small").getAs[Long]("est_distinct") == 5L)
    assert(s("small").isNullAt(s("small").fieldIndex("kth_hash")))
    assert(s("big").getAs[Long]("n_kept") == 64L)
    val est = s("big").getAs[Long]("est_distinct")
    // KMV relative stderr ~ 1/sqrt(k-2) = 12.7%; allow 3 sigma
    assert(est > 600 && est < 1400, s"estimate $est far from 1000")
  }

  test("sessionize splits on gaps and aggregates per session") {
    import graft.ops.Sessions
    val spark2 = spark
    import spark2.implicits._
    val ev = Seq(
      (1L, 0L, 10L), (1L, 10000L, 11L), (1L, 20000L, 12L), // session 1
      (1L, 120000L, 13L),                                  // gap 100s -> session 2
      (2L, 5000L, 20L)                                     // lone event
    ).toDF("user_id", "ts_ms", "event_id")
    val s = Sessions.sessionize(ev, "user_id", "ts_ms", "event_id", gapMs = 30000L)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx")) -> r).toMap
    assert(s.keySet == Set((1L, 1L), (1L, 2L), (2L, 1L)))
    assert(s((1L, 1L)).getAs[Long]("n_events") == 3L)
    assert(s((1L, 1L)).getAs[Long]("duration_ms") == 20000L)
    assert(s((1L, 2L)).getAs[Long]("n_events") == 1L)
    assert(s((1L, 2L)).getAs[Long]("start_ms") == 120000L)
    assert(s((2L, 1L)).getAs[Long]("duration_ms") == 0L)
  }

  test("dedup apply survives a cluster whose labeling minimum is filtered out") {
    val spark2 = spark
    import spark2.implicits._
    // pairs computed on a superset: doc 1 linked 2 and 3 but was itself
    // filtered from the corpus — exactly one of {2,3} must still survive
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val corpus = Seq((2L, "b"), (3L, "c"), (5L, "e")).toDF("doc_id", "v")
    val kept = Cluster.dedupApply(corpus, "doc_id", pairs, "id_a", "id_b")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dropped")).toMap
    assert(kept == Map(2L -> 1L, 5L -> 0L))
  }

  test("corpus diff: NULL texts compare by presence, not hash nullness") {
    import graft.ops.Corpus
    val spark2 = spark
    import spark2.implicits._
    val old = Seq((1L, Option.empty[String]), (2L, Option.empty[String]),
      (3L, Some("x"))).toDF("doc_id", "text")
    val cur = Seq((1L, Option.empty[String]), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val d = Corpus.diff(old, cur, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    assert(d == Map(1L -> "unchanged", 2L -> "removed", 3L -> "changed"))
  }

  test("kmv sketch ignores NULL values") {
    import graft.ops.Sketch
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(("g", Some("a")), ("g", Some("b")), ("g", None))
      .toDF("grp", "v")
    val s = Sketch.distinctSketch(rows, "grp", col("v"), k = 64).collect()
    assert(s.length == 1 && s.head.getAs[Long]("n_kept") == 2L)
    assert(s.head.getAs[Long]("est_distinct") == 2L)
  }

  test("int8 quantization: exact codes, small rmse, zero-vector safe") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = graft.ops.Similarity.quantizeInt8(rows, "vec_id", "embedding")
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(q(1L).getAs[scala.collection.Seq[Int]]("q").toList == List(127, -64, 32, 0))
    assert(math.abs(q(1L).getAs[Double]("scale") - 1.0 / 127) < 1e-12)
    val rmse = q(1L).getAs[Double]("rmse")
    assert(rmse > 0 && rmse < 1.0 / 127, s"rmse $rmse out of range")
    assert(q(2L).getAs[scala.collection.Seq[Int]]("q").toList == List(0, 0, 0, 0))
    assert(q(2L).getAs[Double]("rmse") == 0.0)
  }

  test("ann top-k recall survives the int8 quantization round-trip") {
    val spark2 = spark
    import spark2.implicits._
    // deterministic pseudo-random vectors (no Random: seeds via arithmetic)
    val vecs = (0 until 100).map { i =>
      (i.toLong, (0 until 16).map(j =>
        (((i * 31 + j * 17) % 97) - 48) / 48.0f))
    }.toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(
        vecs, vecs.filter(col("vec_id") < 5), "vec_id", "embedding",
        "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
    val deq = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .select(col("vec_id"),
        Similarity.dequantizeInt8(col("q"), col("scale")).as("embedding"))
    val approx = Similarity.bruteForceTopK(
        deq, deq.filter(col("vec_id") < 5), "vec_id", "embedding",
        "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall after int8 round-trip")
  }

  test("incremental lsh equals full lsh restricted to new-involving pairs") {
    val old = docs.filter(col("doc_id") <= 2L)
    val fresh = docs.filter(col("doc_id") >= 3L)
    def norm(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .map(p => (p._1 min p._2, p._1 max p._2)).toSet
    val inc = norm(Dedup.minhashLshPairsIncremental(
      old, fresh, "doc_id", "text").collect())
    val full = norm(Dedup.minhashLshPairs(docs, "doc_id", "text").collect())
      .filter(p => p._1 >= 3L || p._2 >= 3L)
    assert(inc == full)
    assert(inc.nonEmpty) // docs 1 and 4 are exact dups -> pair must survive
    // no old-old pair may appear
    assert(!inc.exists(p => p._1 <= 2L && p._2 <= 2L))
  }

  test("substring contamination flags verbatim phrase carriers only") {
    val spark2 = spark
    import spark2.implicits._
    val corpus = Seq(
      (10L, "prefix the exact eval answer is forty two suffix"),
      (11L, "the exact eval answer is   forty two"), // whitespace differs
      (12L, "nothing to see here")).toDF("doc_id", "text")
    val phrases = Seq(
      Some("the exact eval answer is forty two"),
      Some("see here"), None, Some("")).toDF("phrase")
    val hits = graft.ops.Dedup.containsPhrase(corpus, "doc_id", "text", phrases, "phrase")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_hits"), r.getAs[String]("first_phrase")))).toMap
    assert(hits.keySet == Set(10L, 12L)) // 11 differs in whitespace: no exact hit
    assert(hits(10L) == ((1L, "the exact eval answer is forty two")))
    assert(hits(12L) == ((1L, "see here")))
  }

  test("corpus diff classifies added/removed/changed/unchanged") {
    import graft.ops.Corpus
    val spark2 = spark
    import spark2.implicits._
    val old = Seq(
      (1L, "same text"), (2L, "will change"), (3L, "gets removed"),
      (4L, "Same, TEXT!")).toDF("doc_id", "text")
    val cur = Seq(
      (1L, "same text"), (2L, "has changed"), (5L, "brand new"),
      (4L, "same text")).toDF("doc_id", "text") // 4: normalization-equal
    val d = Corpus.diff(old, cur, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    assert(d == Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "added"))
  }

  test("url parts decomposes scheme/host/domain/tld/path and normalizes") {
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(
      (1L, "HTTPS://WWW.Example.COM:443/a/b/?q=1#frag"),
      (2L, "http://sub.site.co.uk/page"),
      (3L, "not a url at all")).toDF("id", "url")
    val p = TextOps.urlParts(rows, "url", Seq("id"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(p(1L).getAs[String]("scheme") == "https")
    assert(p(1L).getAs[String]("host") == "www.example.com")
    assert(p(1L).getAs[String]("domain") == "example.com")
    assert(p(1L).getAs[String]("tld") == "com")
    assert(p(1L).getAs[String]("path") == "/a/b/")
    assert(p(1L).getAs[String]("norm_url") == "https://www.example.com/a/b")
    assert(p(2L).getAs[String]("domain") == "co.uk") // naive last-two-labels
    assert(p(2L).getAs[String]("tld") == "uk")
    assert(p(3L).getAs[String]("scheme") == "")
    assert(p(3L).getAs[String]("host") == "")
    // blocklist predicate
    val blocked = TextOps.urlParts(rows, "url", Seq("id"))
      .withColumn("b", TextOps.domainBlocked(col("domain"), Seq("example.com")))
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("b")).toMap
    assert(blocked == Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("packPieces: pieces tile every sequence exactly, docs fully covered") {
    val spark2 = spark
    import spark2.implicits._
    // token counts chosen to straddle: 7+5=12 crosses the L=8 boundary,
    // 20 spans seqs 1..3, a zero-token doc (id 4) must vanish
    val docs = Seq((1L, 7L), (2L, 5L), (3L, 20L), (4L, 0L), (5L, 3L))
      .toDF("doc_id", "n_tok")
    val rows = graft.ops.Corpus.packPieces(docs, "doc_id", "n_tok", seqLen = 8L, numBuckets = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(!rows.exists(_._2 == 4L), "zero-token doc must be dropped")
    // every doc's pieces concatenate to the full doc: sum piece_len == n
    val byDoc = rows.groupBy(_._2).view.mapValues(_.map(_._5).sum).toMap
    assert(byDoc == Map(1L -> 7L, 2L -> 5L, 3L -> 20L, 5L -> 3L))
    // per doc, pieces are contiguous in start_in_doc from 0
    for ((d, ps) <- rows.groupBy(_._2)) {
      val sorted = ps.sortBy(_._4)
      assert(sorted.head._4 == 0L, s"doc $d first piece starts at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._5 == b._4, s"doc $d gap")
        case _ =>
      }
    }
    // every sequence except the last is exactly full (stream = 35 tokens,
    // L=8 -> seqs 0..4, last holds 3)
    val bySeq = rows.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap
    assert(bySeq == Map(0L -> 8L, 1L -> 8L, 2L -> 8L, 3L -> 8L, 4L -> 3L))
    // doc 1 (7 tok) then doc 2 starts at offset 7 of seq 0 and spills 4
    // tokens into seq 1
    val d2 = rows.filter(_._2 == 2L).sortBy(_._4).toList
    assert(d2 == List((0L, 2L, 7L, 0L, 1L), (1L, 2L, 0L, 1L, 4L)))
  }

  test("bm25Scores matches a scalar integer replay of the Okapi formula") {
    val spark2 = spark
    import spark2.implicits._
    val corpus = Seq(
      (1L, "spark streams join fast spark"), // spark tf=2
      (2L, "the lazy dog sleeps"),           // no query terms
      (3L, "join join join spark"),          // join tf=3, high saturation
      (4L, "a long document about many things with one join inside it here")
    ).toDF("doc_id", "text")
    val got = TextOps.bm25Scores(corpus, "text", "doc_id", Seq("spark", "join"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // scalar replay: same floor-division order as the operator
    val docs = Map(
      1L -> Seq("spark", "streams", "join", "fast", "spark"),
      2L -> Seq("the", "lazy", "dog", "sleeps"),
      3L -> Seq("join", "join", "join", "spark"),
      4L -> "a long document about many things with one join inside it here".split(" ").toSeq)
    val M = 1000000L
    val n = docs.size.toLong
    val tot = docs.values.map(_.size.toLong).sum
    val avgdl100 = tot * 100 / n
    val dfs = Map("spark" -> 2L, "join" -> 3L)
    def idf6(df: Long) =
      math.floor(math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * M).toLong
    def score(id: Long): (Long, Long) = {
      val toks = docs(id)
      val dl = toks.size.toLong
      val hits = Seq("spark", "join")
        .map(t => t -> toks.count(_ == t).toLong).filter(_._2 > 0)
      val contribs = hits.map { case (t, tf) =>
        val norm6 = 250000L + 750000L * dl * 100 / avgdl100
        val denom6 = tf * M + 1200000L * norm6 / M
        (tf * 2200000L * M / denom6) * idf6(dfs(t)) / M
      }
      (hits.size.toLong, contribs.sum)
    }
    assert(got == Map(1L -> score(1L), 3L -> score(3L), 4L -> score(4L)))
    assert(!got.contains(2L), "doc without query terms must not appear")
    // saturation sanity: doc 3's join tf=3 beats doc 4's single join
    assert(got(3L)._2 > got(4L)._2)
  }

  test("resample densifies gaps, forward-fills sums, floors values once") {
    import graft.ops.TimeSeries
    val spark2 = spark
    import spark2.implicits._
    // key "a": events in buckets 0, 0, 30 (gap at 10 and 20); key "b": one event
    val df = Seq(
      ("a", 1L, 1.25), ("a", 9L, 2.5), ("a", 35L, 4.0),
      ("b", 12L, -0.5)
    ).toDF("k", "ts_ms", "v")
    val out = TimeSeries.resample(df, Seq("k"), "ts_ms", "v", 10L)
      .orderBy("k", "bucket_ms").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      // bucket 0: two events, floor(1.25e6)+floor(2.5e6) = 3_750_000
      ("a", 0L, 2L, Some(3750000L), 3750000L),
      ("a", 10L, 0L, None, 3750000L), // gap: ffill carries bucket 0
      ("a", 20L, 0L, None, 3750000L),
      ("a", 30L, 1L, Some(4000000L), 4000000L),
      ("b", 10L, 1L, Some(-500000L), -500000L)))
  }

  test("resample drops null keys/ts/values before bucketing") {
    import graft.ops.TimeSeries
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (Option("a"), Option(1L), Option(1.0)),
      (None, Option(2L), Option(9.0)),
      (Option("a"), None, Option(9.0)),
      (Option("a"), Option(3L), None)
    ).toDF("k", "ts_ms", "v")
    val out = TimeSeries.resample(df, Seq("k"), "ts_ms", "v", 10L).collect()
    assert(out.length == 1 && out(0).getLong(2) == 1L)
  }

  test("psi: identical snapshots score ~0, a shifted snapshot drifts") {
    import graft.ops.Corpus
    val spark2 = spark
    import spark2.implicits._
    val ref = (1 to 1000).map(i => (i % 100).toDouble).toDF("x")
    val same = Corpus.psi(ref, ref, Seq("x"), bins = 10).collect()(0)
    assert(same.getAs[Long]("n_ref") == 1000L &&
      same.getAs[Long]("n_cur") == 1000L)
    assert(same.getAs[Long]("psi_pico") <= 0L, "identical dists: psi <= 0 " +
      "(exact zero up to the micro-floor's one-sided rounding)")
    assert(!same.getAs[Boolean]("drifted"))
    // current mass concentrated in the ref range's top decile → large PSI
    val cur = (1 to 1000).map(i => 95.0 + (i % 5)).toDF("x")
    val drift = Corpus.psi(ref, cur, Seq("x"), bins = 10).collect()(0)
    assert(drift.getAs[Boolean]("drifted"))
    assert(drift.getAs[Long]("psi_pico") > 2000000000000L) // >> 0.2
  }

  test("rolling computes trailing-frame stats over the dense series") {
    import graft.ops.TimeSeries
    val spark2 = spark
    import spark2.implicits._
    // buckets 0,10,20,30 for key a; bucket 20 is a gap
    val df = Seq(("a", 1L, 1.0), ("a", 12L, 2.0), ("a", 35L, 4.0))
      .toDF("k", "ts_ms", "v")
    val out = TimeSeries.rolling(
        TimeSeries.resample(df, Seq("k"), "ts_ms", "v", 10L), Seq("k"), 2)
      .orderBy("bucket_ms")
      .select("bucket_ms", "roll_n_events", "roll_sum_micro",
        "roll_min_micro", "roll_max_micro", "lag1_sum_micro")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), Option(r.get(5)).map(_.asInstanceOf[Long])))
    assert(out.toSeq == Seq(
      (0L, 1L, 1000000L, 1000000L, 1000000L, None),
      (10L, 2L, 3000000L, 1000000L, 2000000L, Some(1000000L)),
      // frame = {10, 20-gap}: gap's NULL sum is skipped by sum/min/max
      (20L, 1L, 2000000L, 2000000L, 2000000L, Some(2000000L)),
      // frame = {20-gap, 30}
      (30L, 1L, 4000000L, 4000000L, 4000000L, None)))
  }

  test("groupQuantiles: nearest-rank values that actually occur") {
    import graft.ops.Corpus
    val spark2 = spark
    import spark2.implicits._
    val df = ((1 to 10).map(i => ("a", i.toLong)) ++
      Seq(("b", 7L), ("b", 99L))).toDF("g", "x")
    val out = Corpus.groupQuantiles(df, Seq("g"), "x", Seq(0, 50, 100))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // group a: n=10, rank(50) = floor(50*9/100) = 4 → value 5
    assert(out(("a", 0)) == (10L, 1L))
    assert(out(("a", 50)) == (10L, 5L))
    assert(out(("a", 100)) == (10L, 10L))
    // group b: n=2, rank(50) = floor(50*1/100) = 0 → lower value
    assert(out(("b", 50)) == (2L, 7L))
    assert(out(("b", 100)) == (2L, 99L))
  }

  test("jsonKeyProfile distinguishes key presence from non-null values") {
    import graft.ops.SemiStructured
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      """{"a":1,"b":"x","c":true}""",
      """{"a":-7,"b":"2.5","d":null}""",
      """{"a":"9"}""",
      null, // null payload: n_rows only
      "not json at all" // unparseable: n_rows only
    ).toDF("payload")
    val out = SemiStructured.jsonKeyProfile(df, "payload").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("a", "b", "c", "d"))
    val a = out("a")
    assert(a.getAs[Long]("n_keys") == 3 && a.getAs[Long]("n_present") == 3)
    // "9" extracts as 9 → int-like; stringiness is invisible post-extraction
    assert(a.getAs[Long]("n_int_like") == 3 && a.getAs[Long]("n_num_like") == 3)
    val b = out("b")
    assert(b.getAs[Long]("n_int_like") == 0 && b.getAs[Long]("n_num_like") == 1)
    assert(out("c").getAs[Long]("n_bool_like") == 1)
    val d = out("d")
    assert(d.getAs[Long]("n_keys") == 1 && d.getAs[Long]("n_present") == 0,
      "JSON null: key occurs, value absent")
    assert(a.getAs[Long]("n_rows") == 5)
    assert(a.getAs[Long]("share_micro") == 600000L)
  }

  test("saltedJoin equals the plain join, inner and left") {
    import graft.ops.Skew
    val spark2 = spark
    import spark2.implicits._
    // key 1 is hot on the big side; key 3 has no match
    val big = ((1 to 50).map(i => (1L, s"r$i")) ++
      Seq((2L, "x"), (3L, "orphan"))).toDF("k", "payload")
    val small = Seq((1L, "one"), (2L, "two"), (4L, "unused")).toDF("k", "name")
    for (jt <- Seq("inner", "left")) {
      val got = Skew.saltedJoin(big, small, Seq("k"), salt = 4, joinType = jt)
        .select("k", "payload", "name").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
      val want = big.join(small, Seq("k"), jt)
        .select("k", "payload", "name").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
      assert(got.toSeq == want.toSeq, s"joinType=$jt")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(big, small, Seq("k"), salt = 4, joinType = "right")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(big, small, Seq("k"), salt = 1)
    }
  }

  test("binaryEval: tie-aware exact AUC and threshold confusion") {
    import graft.ops.Eval
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      ("g", true, 0.9), ("g", true, 0.7), ("g", false, 0.8), ("g", false, 0.7),
      ("h", true, 0.5), ("h", true, 0.6) // single-class → AUC undefined
    ).toDF("grp", "label", "score")
    val out = Eval.binaryEval(df, Seq("grp"), "label", "score", 0.75)
      .collect().map(r => r.getString(0) -> r).toMap
    val g = out("g")
    // asc ranks: 0.7,0.7 → avg 1.5 (one pos); 0.8 → 3 (neg); 0.9 → 4 (pos)
    // AUC = (1.5 + 4 − 2·3/2) / (2·2) = 2.5/4 = 0.625
    assert(g.getAs[Long]("auc_micro") == 625000L)
    assert(g.getAs[Long]("tp") == 1 && g.getAs[Long]("fp") == 1 &&
      g.getAs[Long]("fn") == 1 && g.getAs[Long]("tn") == 1)
    assert(g.getAs[Long]("precision_micro") == 500000L &&
      g.getAs[Long]("recall_micro") == 500000L &&
      g.getAs[Long]("f1_micro") == 500000L)
    val h = out("h")
    assert(h.getAs[Long]("n_neg") == 0)
    assert(h.isNullAt(h.fieldIndex("auc_micro")), "one-class AUC must be NULL")
    assert(h.isNullAt(h.fieldIndex("precision_micro")),
      "no predicted positives at t=0.75 → precision NULL")
  }

  test("kmvOverlap: exact under k, sketch agrees with true overlap above") {
    import graft.ops.Sketch
    val spark2 = spark
    import spark2.implicits._
    val a = (1 to 50).map(_.toLong).toDF("x")
    val b = (26 to 80).map(_.toLong).toDF("x")
    // union 80 < k=128 → everything exact
    val ex = Sketch.kmvOverlap(a, col("x"), b, col("x"), k = 128).collect()(0)
    assert(ex.getAs[Long]("n_kept") == 80 && ex.getAs[Long]("est_union") == 80)
    assert(ex.getAs[Long]("n_both") == 25 &&
      ex.getAs[Long]("est_intersection") == 25)
    // bigger than k: estimates within 30% of truth (k=256 → ~6% stderr)
    val a2 = (1L to 4000L).toDF("x")
    val b2 = (2001L to 6000L).toDF("x")
    val est = Sketch.kmvOverlap(a2, col("x"), b2, col("x"), k = 256).collect()(0)
    val u = est.getAs[Long]("est_union").toDouble
    val i = est.getAs[Long]("est_intersection").toDouble
    assert(math.abs(u - 6000) / 6000 < 0.3, s"union est $u")
    assert(math.abs(i - 2000) / 2000 < 0.4, s"intersection est $i")
  }

  test("madOutliers flags by exact median/MAD, immune to one megavalue") {
    import graft.ops.Corpus
    val spark2 = spark
    import spark2.implicits._
    // 9 values near 10, one at 10000: mean/stddev would mask the outlier
    val df = (Seq(8.0, 9.0, 9.0, 10.0, 10.0, 10.0, 11.0, 11.0, 12.0, 10000.0))
      .zipWithIndex.map { case (v, i) => (i.toLong, "g", v) }
      .toDF("id", "grp", "x")
    val out = Corpus.madOutliers(df, Seq("grp"), "x", kMicro = 3000000L)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Boolean]("is_outlier")).toMap
    // median = 10, MAD = 1: only the megavalue exceeds 3·MAD
    assert(out(9L), "10000 must be flagged")
    assert((0L to 8L).forall(i => !out(i)), "inliers unflagged")
  }

  test("retention counts presence once per bucket and sizes cohorts") {
    import graft.ops.TimeSeries
    val spark2 = spark
    import spark2.implicits._
    // bucket=10: u1 first at 0, active 0 and 20 (twice in 20 — counts once)
    //            u2 first at 0 only; u3 first at 20
    val df = Seq((1L, 1L), (1L, 25L), (1L, 27L), (2L, 5L), (3L, 22L))
      .toDF("u", "ts_ms")
    val out = TimeSeries.retention(df, "u", "ts_ms", bucketMs = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out((0L, 0L)) == (2L, 2L, 1000000L)) // cohort 0: u1,u2 at offset 0
    assert(out((0L, 2L)) == (1L, 2L, 500000L)) // u1 back on day 2, once
    assert(out((20L, 0L)) == (1L, 1L, 1000000L)) // u3's own cohort
    assert(out.size == 3)
  }

  test("funnel: in-order greedy matching with conversion window") {
    import graft.ops.Sessions
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      // u1 converts fully in order
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "buy"),
      // u2: buy BEFORE click → stops at click
      (2L, 10L, "view"), (2L, 15L, "buy"), (2L, 20L, "click"),
      // u3: click outside the 50ms window from first view
      (3L, 10L, "view"), (3L, 100L, "click"),
      // u4 never views: not even step 0
      (4L, 10L, "click"), (4L, 20L, "buy")
    ).toDF("u", "ts_ms", "t")
    val out = Sessions.funnel(df, "u", "ts_ms", "t",
        Seq("view", "click", "buy"), windowMs = Some(50L))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out == Map("view" -> 3L, "click" -> 2L, "buy" -> 1L))
  }

  test("transitions: per-key adjacency with deterministic tie order") {
    import graft.ops.Sessions
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 20L, 3L, "c"), // tie: id order
      (2L, 5L, 4L, "a"), (2L, 9L, 5L, "b"),
      (3L, 1L, 6L, "z") // singleton key: no pair
    ).toDF("u", "ts_ms", "eid", "t")
    val out = Sessions.transitions(df, "u", "ts_ms", "t", "eid")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(4))).toMap
    assert(out == Map(
      ("a", "b") -> (2L, 1000000L), // both a's go to b
      ("b", "c") -> (1L, 1000000L)))
  }

  test("targetEncode shrinks rare categories toward the global prior") {
    import graft.ops.Features
    val spark2 = spark
    import spark2.implicits._
    val df = (Seq.fill(100)(("common", 10.0)) ++ Seq(("rare", 1000.0)) ++
      Seq((null: String, 10.0)))
      .toDF("cat", "y")
    val out = Features.targetEncode(df, "cat", "y", m = 50L)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("enc_micro")).toMap
    // prior = (101·10 + 1000)/102 ≈ 19.7; rare(n=1) lands near the prior,
    // common(n=100) stays near 10
    assert(out("common") > 10000000L && out("common") < 14000000L)
    assert(out("rare") > 19000000L && out("rare") < 40000000L)
    assert(out.contains("__NULL__"), "null category must get its own row")
  }

  test("chiSquare: independence scores ~0, determinism scores big") {
    import graft.ops.Features
    val spark2 = spark
    import spark2.implicits._
    // independent: every (a,b) combo equally likely
    val ind = (for { a <- 1 to 4; b <- 1 to 4; _ <- 1 to 25 }
      yield (s"a$a", s"b$b")).toDF("x", "y")
    val ri = Features.chiSquare(ind, "x", "y").collect()(0)
    assert(ri.getAs[Long]("n") == 400 && ri.getAs[Long]("n_a") == 4)
    assert(ri.getAs[Long]("chi2_micro") == 0L)
    assert(ri.getAs[Long]("cramers_v_micro") == 0L)
    // deterministic: b fully decided by a → V = 1
    val det = (for { a <- 1 to 4; _ <- 1 to 25 }
      yield (s"a$a", s"b$a")).toDF("x", "y")
    val rd = Features.chiSquare(det, "x", "y").collect()(0)
    assert(rd.getAs[Long]("cramers_v_micro") == 1000000L)
    // chi2 = N·min(r-1,c-1) = 100·3 under perfect association
    assert(rd.getAs[Long]("chi2_micro") == 300000000L)
  }

  test("mutualInfo: zero for independence, ln(k) for a bijection") {
    import graft.ops.Features
    val spark2 = spark
    import spark2.implicits._
    val ind = (for { a <- 1 to 4; b <- 1 to 4; _ <- 1 to 5 }
      yield (s"a$a", s"b$b")).toDF("x", "y")
    val ri = Features.mutualInfo(ind, "x", "y").collect()(0)
    assert(math.abs(ri.getAs[Long]("mi_micro")) <= 4L,
      s"independent MI ~0, got ${ri.getAs[Long]("mi_micro")}")
    val det = (for { a <- 1 to 4; _ <- 1 to 5 } yield (s"a$a", s"b$a"))
      .toDF("x", "y")
    val rd = Features.mutualInfo(det, "x", "y").collect()(0)
    // MI of a 4-way bijection = ln 4 ≈ 1.386294 nats
    assert(math.abs(rd.getAs[Long]("mi_micro") - 1386294L) <= 4L)
  }

  test("calibration: perfect scores give matched bins and Brier 0") {
    import graft.ops.Eval
    val spark2 = spark
    import spark2.implicits._
    val perfect = (Seq.fill(20)((true, 1.0)) ++ Seq.fill(20)((false, 0.0)))
      .toDF("label", "score")
    val rp = Eval.calibration(perfect, "label", "score", bins = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rp.keySet == Set(0L, 9L), "scores 0/1 land in edge bins")
    assert(rp(9L).getAs[Long]("obs_rate_micro") == 1000000L)
    assert(rp(0L).getAs[Long]("brier_micro") == 0L)
    // constant 0.5 on a balanced set: observed rate 0.5, Brier 0.25
    val half = (Seq.fill(10)((true, 0.5)) ++ Seq.fill(10)((false, 0.5)))
      .toDF("label", "score")
    val rh = Eval.calibration(half, "label", "score", bins = 10).collect()(0)
    assert(rh.getLong(0) == 5L && rh.getAs[Long]("obs_rate_micro") == 500000L)
    assert(rh.getAs[Long]("brier_micro") == 250000L)
    assert(rh.getAs[Long]("avg_score_micro") == 500000L)
  }

  test("standardize: exact moments, constant column scores std 0") {
    import graft.ops.Features
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((2.0, 7.5), (4.0, 7.5), (6.0, 7.5), (8.0, 7.5))
      .toDF("x", "c")
    val out = Features.standardize(df, Seq("x", "c")).collect()
      .map(r => r.getString(0) -> r).toMap
    val x = out("x")
    assert(x.getAs[Long]("n") == 4 && x.getAs[Long]("mean_micro") == 5000000L)
    // var = (9+1+1+9)/4 = 5 → std = √5 ≈ 2.2360679
    assert(x.getAs[Long]("std_micro") == 2236067L)
    assert(out("c").getAs[Long]("std_micro") == 0L)
    assert(out("c").getAs[Long]("mean_micro") == 7500000L)
  }

  test("jsdGroups: identical dists ~0, disjoint dists = ln 2") {
    import graft.ops.Corpus
    val spark2 = spark
    import spark2.implicits._
    val df = (
      Seq.fill(30)(("s1", "en")) ++ Seq.fill(10)(("s1", "de")) ++
      Seq.fill(30)(("s2", "en")) ++ Seq.fill(10)(("s2", "de")) ++ // same dist
      Seq.fill(40)(("s3", "fr")) // disjoint support
    ).toDF("src", "lang")
    val out = Corpus.jsdGroups(df, "src", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Long]("jsd_micro")).toMap
    assert(math.abs(out(("s1", "s2"))) <= 4L, "identical → ~0")
    // disjoint supports: JSD = ln 2 = 693147 micro-nats (floor error ≤ 4)
    assert(math.abs(out(("s1", "s3")) - 693147L) <= 6L)
    assert(math.abs(out(("s2", "s3")) - 693147L) <= 6L)
  }

  test("associationRules: exact support/confidence/lift with dedup") {
    import graft.ops.Sessions
    val spark2 = spark
    import spark2.implicits._
    // 4 baskets; bread+butter together in 2; butter alone in 1; bread in 3
    // (basket 1 has bread TWICE — presence counts once)
    val df = Seq(
      (1L, "bread"), (1L, "bread"), (1L, "butter"),
      (2L, "bread"), (2L, "butter"),
      (3L, "bread"),
      (4L, "butter"), (4L, "jam")
    ).toDF("basket", "item")
    val out = Sessions.associationRules(df, Seq("basket"), "item")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getAs[Long]("confidence_micro"),
          r.getAs[Long]("lift_micro"))).toMap
    // bread→butter: n_ab=2, n_a=3 → conf 2/3; lift = 2·4/(3·3) = 8/9
    assert(out(("bread", "butter")) == (2L, 666666L, 888888L))
    // butter→bread: conf 2/3, same lift
    assert(out(("butter", "bread")) == (2L, 666666L, 888888L))
    // butter→jam: n_ab=1, n_a=3, n_b=1 → lift = 1·4/(3·1) = 4/3
    assert(out(("butter", "jam")) == (1L, 333333L, 1333333L))
  }

  test("fuzzyPairs matches brute-force blocked levenshtein on random strings") {
    import graft.ops.Entity
    import scala.util.Random
    val spark2 = spark
    import spark2.implicits._
    // classic full DP — independent of the engine's banded variant
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      val rows = (1L to 60L).map { i =>
        val len = 1 + rnd.nextInt(12)
        (i, (0 until len).map(_ => "abcd" (rnd.nextInt(4))).mkString)
      }
      val df = rows.toDF("id", "name")
      for (maxDist <- Seq(0, 1, 3)) {
        val got = Entity.fuzzyPairs(df, "id", "name",
            expr("substring(name, 1, 1)"), maxDist)
          .selectExpr("id_a", "id_b", "cast(dist as long)",
            "cast(max_len as long)", "sim_micro")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        val exp = (for {
          a <- rows; b <- rows
          if a._1 < b._1 && a._2.head == b._2.head
          d = lev(a._2, b._2) if d <= maxDist
          ml = math.max(a._2.length, b._2.length)
        } yield (a._1, b._1, d.toLong, ml.toLong,
          (ml - d) * 1000000L / ml)).toSet
        assert(got == exp, s"seed $seed maxDist $maxDist")
      }
    }
  }

  test("fuzzyPairs: block cut, distance cut, ordered pairs once") {
    import graft.ops.Entity
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "red widget"), (2L, "rad widget"), // dist 1, same "widget" block
      (3L, "red gadget"), // other block: never compared
      (4L, "crimson widget") // same block as 1,2 but dist 6 > max
    ).toDF("id", "name")
    val out = Entity.fuzzyPairs(df, "id", "name",
        expr("split(name, ' ')[1]"), maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getAs[Long]("sim_micro"))).toMap
    assert(out.keySet == Set((1L, 2L)), s"got ${out.keySet}")
    assert(out((1L, 2L)) == (1, 900000L)) // (10-1)/10
  }

  test("kAnonymity flags small classes and collapsed sensitive values") {
    import graft.ops.Privacy
    val spark2 = spark
    import spark2.implicits._
    val df = (
      (1 to 10).map(i => ("US", "a", s"u$i")) ++ // big class, diverse
      (1 to 10).map(_ => ("DE", "a", "same")) ++ // big class, 1 sensitive
      Seq(("FR", "b", "x"), ("FR", "b", "y")) // small class
    ).toDF("country", "grp", "secret")
    val out = Privacy.kAnonymity(df, Seq("country", "grp"), k = 5L,
        sensitiveCol = Some("secret"), l = 2L)
      .collect().map(r => (r.getString(0),
        (r.getAs[Long]("n"), r.getAs[Boolean]("k_violation"),
          r.getAs[Boolean]("l_violation")))).toMap
    assert(out("US") == (10L, false, false))
    assert(out("DE") == (10L, false, true), "10 rows, 1 secret → l-violation")
    assert(out("FR") == (2L, true, false))
    // k-only scan path: no sensitive column
    val quick = Privacy.kAnonymity(df, Seq("country", "grp"), k = 5L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(quick("FR").getAs[Boolean]("k_violation"))
    assert(quick("FR").isNullAt(quick("FR").fieldIndex("l_violation")))
  }

  test("tCloseness measures exact TVD per class, zero cells for free") {
    import graft.ops.Privacy
    val spark2 = spark
    import spark2.implicits._
    // global secrets: X×4 (q=666666), Y×2 (q=333333). Class A holds only
    // X → TVD = ½(|1−⅔| + |0−⅓|) = ⅓; Y's share arrives via the global
    // constant, never materialized as a zero cell. Class B is 50/50 →
    // TVD = ½(⅙+⅙) = ⅙. Exact floored-micro: 333333 and 166666.
    val df = Seq(("A", "X"), ("A", "X"),
      ("B", "X"), ("B", "X"), ("B", "Y"), ("B", "Y"))
      .toDF("cls", "secret")
    val out = Privacy.tCloseness(df, Seq("cls"), "secret", tMicro = 300000L)
      .select("cls", "n", "tvd_micro", "t_violation")
      .as[(String, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      ("A", 2L, 333333L, true),
      ("B", 4L, 166666L, false)))
  }

  test("confusableAudit counts invisible and homoglyph artifacts exactly") {
    import graft.ops.TextOps
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "clean ordinary text"),
      (2L, "hidden\u200B\u200Bbreak and p\u0430yment token"), // 2 ZWSP + homoglyph
      (3L, "bidi \u202Eattack\u202C here"), // RLO + PDF, both in the class
      (4L, "ctrl\u0007bell")).toDF("id", "t")
    val out = TextOps.confusableAudit(df, "id", "t")
      .select("id", "n_zero_width", "n_bidi", "n_control",
        "n_mixed_script_tokens", "suspicious")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 0L, 0L, 0L, 0L, false),
      (2L, 2L, 0L, 0L, 1L, true),
      (3L, 0L, 2L, 0L, 0L, true),
      (4L, 0L, 0L, 1L, 0L, true)))
  }

  test("simhashYieldCurve: identical docs land at d=0, frame keeps zero rows") {
    import graft.ops.Dedup
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content about spark shuffles and joins"))
      .toDF("id", "t")
    val out = Dedup.simhashYieldCurve(df, "id", "t", 16, 3)
      .select("hamming", "n_pairs", "n_pairs_cum", "n_docs_new", "n_docs_cum")
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.length == 4, s"frame rows 0..3: ${out.toSeq}")
    assert(out(0) == ((0, 1L, 1L, 2L, 2L)), s"identical pair at d=0: ${out(0)}")
    assert(out.last == ((3, 0L, 1L, 0L, 2L)), s"flat cums: ${out.last}")
  }

  test("vocabGrowth: repetition flattens the tail, novelty keeps it linear") {
    import graft.ops.TextOps
    val spark2 = spark
    import spark2.implicits._
    // four IDENTICAL docs: whatever the md5 order, the second slice
    // introduces zero new vocabulary
    val same = (1L to 4L).map(i => (i, "alpha beta gamma")).toDF("id", "t")
    val s = TextOps.vocabGrowth(same, "id", "t", buckets = 2)
      .select("bucket", "n_docs", "n_tokens", "new_vocab", "vocab_cum",
        "tokens_cum")
      .as[(Int, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(s.map(_._2).toSeq == Seq(2L, 2L))
    assert(s.toSeq.map(_._4) == Seq(3L, 0L), s"flat tail: $s")
    assert(s.last._5 == 3L && s.last._6 == 12L)
    // four fully-novel docs: every slice mints its own tokens
    val novel = (1L to 4L).map(i => (i, s"w${i}a w${i}b")).toDF("id", "t")
    val n = TextOps.vocabGrowth(novel, "id", "t", buckets = 2)
      .select("bucket", "new_vocab", "vocab_cum", "ttr_micro")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    assert(n.map(_._2).toSeq == Seq(4L, 4L), s"linear growth: ${n.toSeq}")
    assert(n.last._3 == 8L && n.last._4 == 1000000L)
  }

  test("readability: simple prose scores higher than dense prose") {
    import graft.ops.TextOps
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "The cat sat. The dog ran. It was fun."),
      (2L, "Notwithstanding institutional considerations, organizational " +
        "repercussions necessitate comprehensive reevaluation."),
      (3L, ""), // wordless → NULL score
      (4L, "go. go. go.")
    ).toDF("doc_id", "text")
    val out = TextOps.readability(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val simple = out(1L).getAs[Long]("flesch_micro")
    val dense = out(2L).getAs[Long]("flesch_micro")
    assert(simple > 90000000L, s"simple prose ~100, got $simple")
    assert(dense < 0L, s"academic sludge goes negative, got $dense")
    assert(out(3L).isNullAt(out(3L).fieldIndex("flesch_micro")))
    assert(out(1L).getAs[Long]("n_sentences") == 3)
    assert(out(4L).getAs[Long]("n_words") == 3)
  }

  test("featureHash: deterministic signed buckets, nulls skipped") {
    import graft.ops.Features
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, Option("a"), Option("x")), (2L, Option("a"), None),
      (3L, Option("a"), Option("x"))).toDF("id", "c1", "c2")
    val out = Features.featureHash(df, "id", Seq("c1", "c2"), dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val r1 = out.keys.filter(_._1 == 1L).toSet
    val r3 = out.keys.filter(_._1 == 3L).toSet
    // same values → same buckets and signs
    assert(r1.map(_._2) == r3.map(_._2))
    assert(r1.forall(k => out(k) == out((3L, k._2))))
    // row 2 hashed only c1 (one entry unless collision-free by construction)
    assert(out.keys.count(_._1 == 2L) == 1)
    assert(out.values.forall(v => v.abs >= 1))
  }

  test("gini: balanced mass ~0, total concentration near 1") {
    import graft.ops.Corpus
    val spark2 = spark
    import spark2.implicits._
    val balanced = (1 to 4).flatMap(g => (1 to 25).map(_ => s"g$g")).toDF("g")
    val rb = Corpus.gini(balanced, "g").collect()(0)
    assert(rb.getAs[Long]("n_groups") == 4 && rb.getAs[Long]("gini_micro") == 0L)
    // one group holds 97 of 100 rows
    val skewed = (Seq.fill(97)("big") ++ Seq("s1", "s2", "s3")).toDF("g")
    val rs = Corpus.gini(skewed, "g").collect()(0)
    // exact: masses 1,1,1,97 → G = (2(1+2+3+4·97)−5·100)/(4·100) = 0.72
    assert(rs.getAs[Long]("gini_micro") == 720000L)
  }

  test("crossCorrelation finds the planted lead-lag alignment") {
    import graft.ops.TimeSeries
    val spark2 = spark
    import spark2.implicits._
    // y is x shifted one bucket later (y_{t+1} = x_t): corr peaks at lag=1
    val x = Seq(1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0, 7.0)
    val df = x.indices.map { i =>
      (i.toLong * 10L, x(i), if (i == 0) 0.0 else x(i - 1))
    }.toDF("b", "x", "y")
    val out = TimeSeries.crossCorrelation(df, "b", "x", "y",
        Seq(-1, 0, 1), everyMs = 10L)
      .collect().map(r => r.getInt(0) ->
        Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    assert(out(1).get == 1000000L, s"perfect alignment at +1, got ${out(1)}")
    assert(out(0).get < 900000L && out(-1).get < 900000L)
  }

  test("cusumChangepoint locates a planted level shift exactly") {
    import graft.ops.TimeSeries
    val spark2 = spark
    import spark2.implicits._
    // 10 buckets at 0, then 10 at 1000: |CUSUM| peaks at the last
    // low bucket (mean 500 → cum dev -500·10 = -5000)
    val df = (0 until 20).map(i =>
      ("u", i.toLong * 10, if (i < 10) 0L else 1000L)).toDF("k", "b", "v")
    val r = TimeSeries.cusumChangepoint(df, Seq("k"), "b", "v").collect()(0)
    assert(r.getAs[Long]("mean_micro") == 500L)
    assert(r.getAs[Long]("change_bucket_ms") == 90L,
      s"peak at bucket 90, got ${r.getAs[Long]("change_bucket_ms")}")
    assert(r.getAs[Long]("cusum_at_change") == -5000L)
    assert(r.getAs[Long]("n_buckets") == 20L)
  }

  test("corrMatrix: exact +1/-1 on linear pairs, pairwise-complete n") {
    import graft.ops.Features
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1.0, Option(2.0), Option(-1.0)),
      (2.0, Option(4.0), Option(-2.0)),
      (3.0, None, Option(-3.0)),
      (4.0, Option(8.0), Option(-4.0))
    ).toDF("a", "b", "c")
    val out = Features.corrMatrix(df, Seq("a", "b", "c")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(out(("a", "b")) == (3L, Some(1000000L))) // b = 2a where present
    assert(out(("a", "c")) == (4L, Some(-1000000L))) // c = −a
    assert(out(("b", "c"))._1 == 3L)
  }

  test("extractPii audits matches with per-kind positions, agrees with redact") {
    import graft.ops.TextOps
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "mail a@b.com then b@c.org call 555-123-4567"),
      (2L, "clean text"),
      (3L, "digits 555-111-2222 only")
    ).toDF("doc_id", "text")
    val out = TextOps.extractPii(df, "text", Seq("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSet == Set(
      (1L, "email", "a@b.com", 1L), (1L, "email", "b@c.org", 2L),
      (1L, "phone", "555-123-4567", 1L),
      (3L, "phone", "555-111-2222", 1L)))
    // counts agree with redactPii
    val red = TextOps.redactPii(df, "text", Seq("doc_id")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(red(1L) == (2L, 1L) && red(2L) == (0L, 0L))
  }

  test("triangles counts each triangle once per corner, dedups edges") {
    import graft.ops.Graph
    val spark2 = spark
    import spark2.implicits._
    // K4 on 1..4 (every edge, some reversed/duplicated) + pendant 5
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L),
      (4L, 2L), (3L, 4L), (4L, 5L), (5L, 5L)).toDF("a", "b")
    val out = Graph.triangles(edges, "a", "b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4 has 4 triangles; each vertex sits in C(3,2)=3 of them
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"got $out")
  }

  test("manifest checksum is row-order independent and change-sensitive") {
    import graft.ops.Corpus
    val spark2 = spark
    import spark2.implicits._
    val a = Seq(("s1", 1L, "x"), ("s1", 2L, "y"), ("s2", 3L, "z"))
      .toDF("src", "id", "v")
    val b = Seq(("s2", 3L, "z"), ("s1", 2L, "y"), ("s1", 1L, "x")) // reordered
      .toDF("src", "id", "v")
    val c = Seq(("s1", 1L, "x"), ("s1", 2L, "CHANGED"), ("s2", 3L, "z"))
      .toDF("src", "id", "v")
    def m(df: org.apache.spark.sql.DataFrame) =
      Corpus.manifest(df, Seq("src"), Seq("id", "v")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(a) == m(b), "row order must not matter")
    assert(m(a)("s1") != m(c)("s1"), "a changed value must change the sum")
    assert(m(a)("s2") == m(c)("s2"), "untouched partitions keep their sum")
  }

  test("rarityScore: rare and unseen rows outscore common ones") {
    import graft.ops.Corpus
    val spark2 = spark
    import spark2.implicits._
    // ref: 99 values at ~10, one at 1000 (its own bucket)
    val ref = ((1 to 99).map(_ => 10.0) ++ Seq(1000.0)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "x")
    // score: a common row, the rare row, an unseen-range row, a null
    val sc = Seq((1L, Option(10.0)), (2L, Option(1000.0)),
      (3L, Option(-1e9)), (4L, None)).toDF("id", "x")
    val out = Corpus.rarityScore(ref, sc, "id", Seq("x"), bins = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    val (common, rare, unseen, nul) =
      (out(1L)._1, out(2L)._1, out(3L)._1, out(4L))
    assert(common < rare, s"common $common !< rare $rare")
    // documented clamp rule: out-of-range joins the EDGE bucket — here the
    // dense low bucket, so it scores like a common row, not like an outlier
    assert(unseen == common, s"clamped row scores its edge bucket: " +
      s"$unseen vs $common")
    assert(nul == (0L, 1L), "null contributes nothing, counts missing")
    // exact replay: common = ln6(110) − ln6(100)
    def ln6(x: Double) = math.floor(math.log(x) * 1e6).toLong
    assert(common == ln6(110) - ln6(100))
    assert(rare == ln6(110) - ln6(2))
  }

  test("scd2FromLog: change dedup, null-safe tuples, interval closure") {
    import graft.ops.Scd
    val spark2 = spark
    import spark2.implicits._
    val log = Seq(
      (1L, 1L, 10L, Option("a")),
      (1L, 2L, 20L, Option("a")), // no-op repeat
      (1L, 3L, 30L, Option("b")), // change
      (1L, 4L, 40L, None), // change to NULL (real change)
      (1L, 5L, 50L, None), // NULL→NULL: no-op
      (2L, 6L, 15L, Option("x"))
    ).toDF("k", "eid", "ts_ms", "v")
    val scd = Scd.scd2FromLog(log, Seq("k"), "ts_ms", Seq("v"), "eid")
    val rows = scd.collect().map(r => (r.getLong(0),
      Option(r.getString(1)), r.getLong(2),
      Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4))).toSet
    assert(rows == Set(
      (1L, Some("a"), 10L, Some(30L), false),
      (1L, Some("b"), 30L, Some(40L), false),
      (1L, None, 40L, None, true),
      (2L, Some("x"), 15L, None, true)))
    // snapshot at t=35: key 1 shows "b", key 2 shows "x"
    val snap = Scd.snapshotAt(scd, 35L).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(snap == Map(1L -> Some("b"), 2L -> Some("x")))
    // snapshot before key 2 existed
    val early = Scd.snapshotAt(scd, 12L).collect().map(_.getLong(0)).toSet
    assert(early == Set(1L))
  }

  test("psi clamps out-of-range current values into edge buckets") {
    import graft.ops.Corpus
    val spark2 = spark
    import spark2.implicits._
    val ref = (1 to 100).map(_.toDouble).toDF("x")
    // all current values far outside the ref range, half below, half above
    val cur = ((1 to 50).map(_ => -1e9) ++ (1 to 50).map(_ => 1e9)).toDF("x")
    val r = Corpus.psi(ref, cur, Seq("x"), bins = 10).collect()(0)
    assert(r.getAs[Long]("n_cur") == 100L, "clamped rows must all be counted")
    assert(r.getAs[Boolean]("drifted"))
  }

  test("targetEncodeLoo excludes each row's own target from its encoding") {
    import graft.ops.Features
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0), (4L, "b", 10.0))
      .toDF("id", "cat", "y")
    // m = 0: pure leave-one-out means; the singleton has no complement
    val loo = Features.targetEncodeLoo(df, "id", "cat", "y", m = 0L)
      .collect().map(r => r.getLong(0) ->
        Option(r.getAs[Any]("enc_loo_micro")).map(_.asInstanceOf[Long])).toMap
    assert(loo(1L).contains(2500000L)) // (2+3)/2
    assert(loo(2L).contains(2000000L)) // (1+3)/2
    assert(loo(3L).contains(1500000L)) // (1+2)/2
    assert(loo(4L).isEmpty, "singleton category with m=0 must encode NULL")
    // m = 2: the singleton collapses exactly to the prior
    // prior = (1+2+3+10)/4 = 4 → enc(4) = (0 + 2·4e6)/(0 + 2) = prior
    val sm = Features.targetEncodeLoo(df, "id", "cat", "y", m = 2L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("enc_loo_micro")).toMap
    assert(sm(4L) == 4000000L)
    // and a leaked full-fit mean would be 10 — LOO must not equal it
    assert(sm(4L) != 10000000L)
  }

  test("ndcgAtK: perfect ranking scores 1e6, exact worst-case by hand") {
    import graft.ops.Eval
    val spark2 = spark
    import spark2.implicits._
    // rels 3,2,1; score aligned with rel → perfect; query q2 reversed
    val df = Seq(
      ("q1", 1L, 30, 3.0), ("q1", 2L, 20, 2.0), ("q1", 3L, 10, 1.0),
      ("q2", 1L, 10, 3.0), ("q2", 2L, 20, 2.0), ("q2", 3L, 30, 1.0))
      .toDF("q", "item", "score", "rel")
    val out = Eval.ndcgAtK(df, "q", "item", "score", "rel", k = 3)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("dcg_mm"), r.getAs[Long]("idcg_mm"),
          r.getAs[Long]("ndcg_micro"))).toMap
    val w = Eval.DcgWeightMicro
    val ideal = 3000000L * w(0) + 2000000L * w(1) + 1000000L * w(2)
    assert(out("q1") == ((ideal, ideal, 1000000L)))
    val worst = 1000000L * w(0) + 2000000L * w(1) + 3000000L * w(2)
    assert(out("q2")._1 == worst && out("q2")._2 == ideal)
    assert(out("q2")._3 == worst * 1000000L / ideal)
  }

  test("ndcgAtK clamps negative relevance and cuts at k") {
    import graft.ops.Eval
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      ("q", 1L, 30, -5.0), ("q", 2L, 20, 4.0), ("q", 3L, 10, 1.0))
      .toDF("q", "item", "score", "rel")
    val r = Eval.ndcgAtK(df, "q", "item", "score", "rel", k = 2).collect()(0)
    val w = Eval.DcgWeightMicro
    // actual order: item1(rel 0), item2(rel 4), item3 OUTSIDE k=2
    assert(r.getAs[Long]("dcg_mm") == 4000000L * w(1))
    // ideal order: rel 4, rel 1
    assert(r.getAs[Long]("idcg_mm") == 4000000L * w(0) + 1000000L * w(1))
  }

  test("sqQuantizeAudit: exact int8 grid codes, degenerate dims error-free") {
    import graft.ops.Similarity
    val spark2 = spark
    import spark2.implicits._
    // dim 0 spans [0, 1]: endpoints reconstruct exactly, the midpoint
    // lands on code 128 with a hand-computable error; dim 1 is constant
    val df = Seq(
      (1L, Seq(0.0f, 2.0f)), (2L, Seq(1.0f, 2.0f)), (3L, Seq(0.5f, 2.0f)))
      .toDF("id", "vec")
    val out = Similarity.sqQuantizeAudit(df, "id", "vec")
      .collect().map(r => r.getInt(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("min_micro"),
          r.getAs[Long]("max_micro"), r.getAs[Long]("mean_abs_err_micro"),
          r.getAs[Long]("max_abs_err_micro"))).toMap
    // midpoint: code = (2·255·5e5 + 1e6) div 2e6 = 128,
    // recon = (2·128·1e6 + 255) div 510 = 501961, err = 1961
    val midErr = (2L * 128 * 1000000 + 255) / 510 - 500000
    assert(midErr == 1961L)
    assert(out(0) == ((3L, 0L, 1000000L, midErr / 3, midErr)))
    assert(out(1) == ((3L, 2000000L, 2000000L, 0L, 0L)))
  }

  test("mixturePlan: exact allocations, repeats flagged, unlisted sources absent") {
    import graft.ops.Packing
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      ("a", 40L), ("a", 30L), ("a", 30L), ("b", 50L), ("zzz", 999L))
      .toDF("source", "toks")
    val out = Packing.mixturePlan(df, "source", "toks",
      weights = Seq(("a", 3L), ("b", 1L)), tokenBudget = 400L)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("tokens_available"),
          r.getAs[Long]("weight_micro"), r.getAs[Long]("tokens_target"),
          r.getAs[Long]("sample_rate_micro"), r.getAs[Long]("epochs_milli"),
          r.getAs[Long]("tokens_taken_norepeat"))).toMap
    // a: 3/4 of 400 = 300 target over 100 available → 3 epochs
    assert(out("a") == ((3L, 100L, 750000L, 300L, 3000000L, 3000L, 100L)))
    // b: 100 target over 50 available → 2 epochs
    assert(out("b") == ((1L, 50L, 250000L, 100L, 2000000L, 2000L, 50L)))
    assert(!out.contains("zzz"), "unlisted sources must get no row")
    // negative token counts fail loudly, never clamp
    val bad = Seq(("a", -1L)).toDF("source", "toks")
    intercept[Exception] {
      Packing.mixturePlan(bad, "source", "toks", Seq(("a", 1L)), 10L).collect()
    }
  }

  test("hillTailIndex recovers the exact Pareto tail exponent") {
    import graft.ops.Corpus
    val spark2 = spark
    import spark2.implicits._
    // Exact Pareto(α=1) top tail: v_i = 2^(12-i) for i = 1..12 — every
    // ln-ratio to the threshold is a multiple of ln 2, so the Hill mean
    // is computable by hand from the same floored-micro terms
    val vals = (1 to 12).map(i => (i.toLong, math.pow(2.0, 12 - i)))
    val df = vals.toDF("id", "v")
    val k = 4
    val out = Corpus.hillTailIndex(df, "id", "v", k = k).collect()(0)
    // top 5: 2048, 1024, 512, 256, threshold 128
    assert(out.getAs[Long]("x_threshold_micro") == 128000000L)
    val lnM = (x: Double) => math.floor(math.log(x) * 1e6).toLong
    val expHill = (1 to k).map(i => lnM(math.pow(2.0, 12 - i) * 1e6))
      .sum / k - lnM(128e6)
    assert(out.getAs[Long]("hill_micro") == expHill)
    // α = 1/hill ≈ 1/ (2.5·ln2): exact integer division of the literals
    assert(out.getAs[Long]("alpha_milli") == 1000000000L / expHill)
    assert(out.getAs[Long]("n_tail") == k && out.getAs[Long]("n_total") == 12L)
  }

  test("hillTailIndex: fewer than k+1 positive values yields no row") {
    import graft.ops.Corpus
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, 5.0), (2L, 3.0), (3L, -1.0)).toDF("id", "v")
    assert(Corpus.hillTailIndex(df, "id", "v", k = 2).count() == 0)
  }
}
