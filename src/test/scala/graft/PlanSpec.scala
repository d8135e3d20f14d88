package graft

import graft.engine.Registry
import graft.table._
import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}

import scala.concurrent.duration._

/** Plan-shape regression locks: the properties that make the engine hold
  * at 100 TB are asserted on the plans themselves, so a refactor that
  * silently degrades them fails CI rather than the cluster.
  */
class PlanSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("no inventory query plans a CartesianProduct") {
    // BroadcastNestedLoopJoin against a broadcast side is fine (brute-force
    // topk / IVF probes do this deliberately); an unbroadcast cartesian
    // product is never acceptable.
    graft.client.MemoryOnlineStore.clear()
    Registry.clear()
    Queries.all.foreach { q =>
      val plan = q.build(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"${q.name} plans a CartesianProduct:\n$plan")
    }
  }

  test("over-window features sharing a frame fuse into one Window operator") {
    val src = FileSource(
      "plan_ev", s"$sfDir/events.parquet", "parquet",
      keys = Some(Seq("user_id")),
      timestampField = Some("ts"), timestampFormat = "epoch_nanos")
    val cl = new graft.client.GraftClient(spark)
    val df = cl.getFeatures(DerivedFeatureView(
      "plan_fused", src,
      features = Seq(
        Feature("a", OverWindowTransform("value", AggFunc.Avg, Some(1.hour), Seq("user_id"))),
        Feature("s", OverWindowTransform("value", AggFunc.Sum, Some(1.hour), Seq("user_id"))),
        Feature("c", OverWindowTransform("value", AggFunc.Count, Some(1.hour), Seq("user_id"))),
        Feature("f", OverWindowTransform("event_type", AggFunc.FirstValue, Some(1.hour), Seq("user_id")))),
      keepSourceFields = true))
    val windows = df.queryExecution.optimizedPlan.collect { case w: LogicalWindow => w }
    assert(windows.size == 1,
      s"4 same-frame features should share one Window operator, got ${windows.size}")
  }

  test("sliding windows: shuffles and scans are independent of window-size count") {
    def build(tag: String, sizes: Seq[Duration], emptyAndSkip: Boolean) = {
      val src = FileSource(
        s"plan_ev_$tag", s"$sfDir/events.parquet", "parquet",
        keys = Some(Seq("user_id")),
        timestampField = Some("ts"), timestampFormat = "epoch_nanos")
      val cl = new graft.client.GraftClient(spark)
      cl.getFeatures(SlidingFeatureView(
        s"plan_sliding_$tag", src,
        features = sizes.zipWithIndex.map { case (d, i) =>
          Feature(s"s$i", SlidingWindowTransform("value", AggFunc.Sum, d, 1.day, Seq("user_id"))) },
        enableEmptyWindowOutput = emptyAndSkip, skipSameWindowOutput = emptyAndSkip))
        .queryExecution.executedPlan
    }
    // every window size is merged by the same aggregate over one scan: the
    // map-side-combined pre-agg shuffle and the keys repartition of the
    // panes are the only exchanges, and the merge aggregate and the
    // skip-same lag reuse the second
    for (emptyAndSkip <- Seq(false, true)) {
      val one = build(s"one_$emptyAndSkip", Seq(2.days), emptyAndSkip)
      val three = build(s"three_$emptyAndSkip", Seq(1.day, 2.days, 7.days), emptyAndSkip)
      assert(fileScans(one) == 1 && fileScans(three) == 1,
        s"expected one source scan, got ${fileScans(one)} / ${fileScans(three)}:\n$three")
      assert(shuffles(three) == shuffles(one),
        s"exchange count grew with window sizes: ${shuffles(one)} -> ${shuffles(three)}")
      assert(shuffles(three) <= 2, s"expected <=2 exchanges, got ${shuffles(three)}:\n$three")
    }
  }

  /** Count shuffle exchanges, descending into AQE wrappers —
    * `AdaptiveSparkPlanExec` has no tree children, so a plain `collect`
    * sees zero nodes of any adaptive plan and every count-based assertion
    * would pass vacuously.
    */
  private def shuffles(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    plan.collect {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        shuffles(a.executedPlan)
    }.sum

  // AdaptiveSparkPlanExec has NO children, so a plain collect over an AQE
  // plan sees nothing inside — scan assertions must recurse like shuffles()
  private def fileScans(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    plan.collect {
      case _: org.apache.spark.sql.execution.FileSourceScanExec => 1
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fileScans(a.executedPlan)
    }.sum

  test("connected components: bounded per-round shuffles, lineage-truncated result") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val spark2 = spark
    import spark2.implicits._
    // one round over a checkpointed canonical edge set: two groupBy-min
    // aggregations + two canon distincts is the SoCC'14 shape — more means
    // a regression (e.g. a lost partial agg or a join that stopped
    // broadcasting its vocabulary-sized min table)
    val edges = Seq((5L, 1L), (9L, 5L), (7L, 3L), (8L, 7L), (9L, 8L))
      .toDF("u", "v").localCheckpoint(true)
    // 7 in the static tree: 2 canon distincts + 2 min-agg exchanges, with
    // smallStar's min table appearing twice (join + union branch — AQE
    // reuses the exchange at runtime)
    val round = graft.ops.Cluster.ccRound(edges)
    assert(shuffles(round.queryExecution.executedPlan) <= 7,
      s"ccRound shuffle count grew:\n${round.queryExecution.executedPlan}")
    assert(fileScans(round.queryExecution.executedPlan) == 0,
      "a CC round must read only the checkpointed edge set")
    // checkpoint discipline: the RESULT plan of a multi-round run must not
    // embed the iteration history (without the eager localCheckpoint each
    // round's plan nests all previous rounds — measured 70x wall-clock)
    val chain = (1L until 10L).map(i => (i + 1, i)).toDF("u", "v")
    val cc = graft.ops.Cluster.connectedComponents(chain, "u", "v")
    val logicalNodes = cc.queryExecution.optimizedPlan.collect { case p => p }.size
    assert(logicalNodes < 40,
      s"CC result plan embeds iteration history ($logicalNodes nodes)")
    assert(cc.collect().map(_.getLong(1)).forall(_ == 1L)) // single component
  }

  test("medoids/silhouette: pair joins broadcast, L2 is the native expression") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 40L).map(i =>
      (i, Array(i.toFloat, (i % 7).toFloat), (i % 3).toInt)).toDF("id", "v", "c")
    for (out <- Seq(graft.ops.Cluster.medoids(df, "id", "v", "c"),
        graft.ops.Cluster.silhouette(df, "id", "v", "c"))) {
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian pair join:\n$plan")
      assert(plan.toLowerCase.contains("vectorl2micro"),
        s"pair distance fell back off the native expression:\n$plan")
    }
  }

  test("vocab growth / fk discovery: checkpointed collapse feeds all consumers") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val spark2 = spark
    import spark2.implicits._
    val docs = (1L to 50L).map(i => (i, s"tok$i shared common")).toDF("id", "t")
    val vg = graft.ops.TextOps.vocabGrowth(docs, "id", "t", buckets = 2)
    assert(vg.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s }.isEmpty,
      "vocabGrowth result must read only the checkpointed rank table")
    // fk discovery on REAL parquet: the value side (distincts — BOTH
    // self-join sides — and colStats) must come from the checkpoint, so
    // the only file scans left are the per-table row-count branch: one
    // per table, no matter how many columns or join sides read values
    val fk = graft.ops.Corpus.inclusionDependencies(Seq(
      ("nation", spark.read.parquet(s"$sfDir/nation.parquet"),
        Seq("n_nationkey")),
      ("supplier", spark.read.parquet(s"$sfDir/supplier.parquet"),
        Seq("s_suppkey", "s_nationkey"))))
    // pre-AQE physical plan: a plain tree, so collect sees every scan
    // once. Both the value distincts and the col-stats table are
    // checkpointed, so the RESULT plan reads no files at all — each
    // table was scanned exactly twice total (values + row count), at
    // checkpoint time
    val n = fk.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s }.size
    assert(n == 0,
      s"fk discovery result plan scanned files $n times — stats and " +
        "values must ride their checkpoints")
  }

  test("k-core: per-round checkpoints keep the result plan flat") {
    val spark2 = spark
    import spark2.implicits._
    // same trap as CC: without the per-round localCheckpoint the final
    // plan nests every peel round's joins
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("s", "d")
    val out = graft.ops.Graph.kCore(edges, "s", "d", k = 2, iters = 6)
    val logicalNodes = out.queryExecution.optimizedPlan.collect { case p => p }.size
    assert(logicalNodes < 40,
      s"kCore result plan embeds peel history ($logicalNodes nodes)")
    assert(out.count() == 4)
  }

  test("labelPropagation: one join and one aggregate per round over the one edge checkpoint") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.LogicalRDD
    val spark2 = spark
    import spark2.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 10L)).toDF("s", "d")
    def run(iters: Int) = graft.ops.Graph.labelPropagation(edges, "s", "d", iters).queryExecution
    val three = run(3)
    val p3 = three.optimizedPlan
    // the edge list is the only checkpoint: a per-round checkpoint would
    // cut the plan down to a single LogicalRDD and drop its rounds
    val rdds = p3.collect { case r: LogicalRDD => r.rdd.id }
    assert(rdds.size == 3 && rdds.distinct.size == 1,
      s"expected every round to read the one edge checkpoint:\n$p3")
    // round 1 is the closed-form min, each later round one join + one mode
    assert(p3.collect { case a: Aggregate => a }.size == 3, s"one aggregate per round:\n$p3")
    assert(p3.collect { case j: Join => j }.size == 2, s"one join per round after the first:\n$p3")
    // small data broadcasts the label table: one shuffle per round
    assert(shuffles(three.executedPlan) <= 3,
      s"labelPropagation shuffle count grew:\n${three.executedPlan}")
    // without per-round checkpoints the plan grows by a fixed step per round
    def nodes(iters: Int) = run(iters).optimizedPlan.collect { case p => p }.size
    val step = nodes(4) - nodes(3)
    assert(step <= 4, s"a round adds $step logical nodes")
    assert(nodes(20) == nodes(3) + 17 * step, s"plan grows non-linearly: ${nodes(20)} nodes")
  }

  test("cooccurrence: capped pair self-join stays equi-join with bounded shuffles") {
    val spark2 = spark
    import spark2.implicits._
    val edges = (1L to 40L).flatMap(u => (1L to 5L).map(v => (u, (u + v) % 9)))
      .toDF("u", "it")
    val plan = graft.ops.Graph.cooccurrence(edges, "u", "it", maxPerSrc = 4)
      .queryExecution.executedPlan
    assert(!plan.toString.contains("CartesianProduct"),
      s"cooccurrence went cartesian:\n$plan")
    // distinct + per-src count window + pair self-join/groupBy + two
    // item-count joins; more exchanges means the src co-partitioning or a
    // map-side combine was lost
    assert(shuffles(plan) <= 8, s"cooccurrence shuffle count grew to ${shuffles(plan)}:\n$plan")
  }

  test("banded SRP near-dup: checkpoint feeds all consumers, bounded shuffles") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = Queries.all.find(_.name == "q24_embed_neardup").get
      .build(spark, sfDir).queryExecution.executedPlan
    // the banded table (vectors + norms + band buckets) is checkpointed
    // once: the hot-bucket count, the anti-join, and both self-join sides
    // all read it back — NO parquet scan may appear downstream (a scan
    // would mean the SRP signature pass or the base-table join came back)
    assert(fileScans(plan) == 0, s"q24 re-scans the base table:\n$plan")
    // hot-bucket count + self-join sides + final distinct; the skew-cap
    // anti-join must stay broadcast (never a shuffle)
    assert(shuffles(plan) <= 4, s"q24 shuffle count grew:\n$plan")
    assert(plan.toString.contains("LeftAnti"), s"q24 lost the maxBucket cap:\n$plan")
  }

  test("minhash LSH (q22/q71): no rescans past the checkpoint, bounded shuffles") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // Locks the honest q22 plan the round-5/6 A/B adjudicated (recorded
    // at Dedup.withMinhashSignature): everything downstream of the band-bucket
    // localCheckpoint is bucket-local — hot-bucket count, broadcast
    // anti-join cap, self-join sides, final distinct. A parquet scan here
    // means the shingle+signature pipeline came back; shuffle growth means
    // a bucket join or the distinct stopped being bucket-local.
    val q22 = Queries.all.find(_.name == "q22_dedup_minhash_lsh").get
      .build(spark, sfDir).queryExecution.executedPlan
    assert(fileScans(q22) == 0,
      s"q22 re-scans the base table past the checkpoint:\n$q22")
    assert(shuffles(q22) <= 4, s"q22 shuffle count grew to ${shuffles(q22)}:\n$q22")
    assert(q22.toString.contains("LeftAnti"), s"q22 lost the maxBucket cap:\n$q22")
    // Incremental variant: same locks, and both checkpointed sides feed the
    // old-new and new-new joins without regenerating signatures.
    val q71 = Queries.all.find(_.name == "q71_incremental_lsh").get
      .build(spark, sfDir).queryExecution.executedPlan
    assert(fileScans(q71) == 0,
      s"q71 re-scans a base table past the checkpoints:\n$q71")
    assert(shuffles(q71) <= 8, s"q71 shuffle count grew to ${shuffles(q71)}:\n$q71")
    assert(q71.toString.contains("LeftAnti"), s"q71 lost the maxBucket cap:\n$q71")
  }

  test("prefix jaccard (q113): hashed-long shingles, no rescans, bounded shuffles") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = Queries.all.find(_.name == "q113_jaccard_prefix").get
      .build(spark, sfDir).queryExecution.executedPlan
    // everything downstream of the eager per-doc-set localCheckpoint is
    // array-of-long land (the maxDf LeftAnti runs upstream of it, inside
    // the already-materialized segment): a parquet scan here means the
    // shingle pipeline or the base table came back
    assert(fileScans(plan) == 0,
      s"q113 re-scans the base table past the checkpoints:\n$plan")
    // the verify join must ship hashed LONG shingle arrays, not strings —
    // the round-8 payload cut (~4-8x smaller shuffles at crawl scale);
    // checked on the logical plan (AQE hides the physical subtree)
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val logical = Queries.all.find(_.name == "q113_jaccard_prefix").get
      .build(spark, sfDir).queryExecution.optimizedPlan
    val ssets = logical.collect { case r: LogicalRDD => r }
      .flatMap(_.output).filter(_.name == "sset")
    assert(ssets.nonEmpty, s"q113 lost the checkpointed per-doc sets:\n$logical")
    ssets.foreach { a =>
      assert(a.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }, s"q113 sset is ${a.dataType} — string shingles are back in the verify join")
    }
    // prefix self-join sides + candidate distinct + two verify joins
    assert(shuffles(plan) <= 9, s"q113 shuffle count grew to ${shuffles(plan)}:\n$plan")
  }

  test("fuzzy pairs (q158): maxBlock cap is a broadcast anti-join") {
    val plan = Queries.all.find(_.name == "q158_fuzzy_pairs").get
      .build(spark, sfDir).queryExecution.executedPlan
    assert(plan.toString.contains("LeftAnti"),
      s"q158 lost the maxBlock hot-block cap:\n$plan")
    // hot-block count + the blk equi-join; the cap itself must stay a
    // broadcast anti-join, never a shuffled one
    assert(shuffles(plan) <= 4, s"q158 shuffle count grew:\n$plan")
  }

  test("dup-span removal: one window-hash count past the checkpoint, bounded shuffles") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = Queries.all.find(_.name == "q97_dup_span_removal").get
      .build(spark, sfDir).queryExecution.executedPlan
    // the window table is checkpointed once; the base table is re-read
    // only for the cheap token/stat projections (2 scans), never for the
    // window pipeline
    assert(plan.collect { case s: FileSourceScanExec => s }.length <= 2,
      s"q97 re-runs the window explode from parquet:\n$plan")
    // hash count + span window + span agg + covered anti-join + text
    // reassembly + final joins; growth means a doc-keyed stage started
    // re-shuffling corpus-sized data
    assert(shuffles(plan) <= 8, s"q97 shuffle count grew to ${shuffles(plan)}:\n$plan")
  }

  test("embargo split: the corpus side is map-only behind a broadcast cutoff") {
    val plan = Queries.all.find(_.name == "q179_embargo_split").get
      .build(spark, sfDir).queryExecution.executedPlan
    // the whole design: ONE cutoff row broadcasts, labelling is a pure
    // predicate — any ShuffleExchange here means the corpus started
    // shuffling for a split label (the rank machinery lives inside the
    // Ranks LogicalRDD lineage, not this plan)
    assert(shuffles(plan) == 0,
      s"q179 shuffles the corpus for a broadcast-cutoff split:\n$plan")
    assert(plan.toString.contains("Broadcast"),
      s"q179 lost the broadcast cutoff:\n$plan")
  }

  test("range-partition plan: assignment is a broadcast-free map fold, bounded shuffles") {
    val plan = Queries.all.find(_.name == "q175_range_plan").get
      .build(spark, sfDir).queryExecution.executedPlan
    // count-by-partition-id (1 shuffle, map-side combined) + the tiny
    // bound-table join; growth means assignment started shuffling the
    // corpus instead of folding literal boundaries
    assert(shuffles(plan) <= 2,
      s"q175 shuffle count grew to ${shuffles(plan)}:\n$plan")
  }

  test("conformal thresholds: group-sized threshold table broadcasts onto test") {
    val plan = Queries.all.find(_.name == "q174_conformal").get
      .build(spark, sfDir).queryExecution.executedPlan
    assert(plan.toString.contains("Broadcast"),
      s"q174 lost the broadcast threshold join:\n$plan")
    // calibration rank window + coverage agg + final join; the test-side
    // scan must not shuffle on the group before the broadcast join
    assert(shuffles(plan) <= 4,
      s"q174 shuffle count grew to ${shuffles(plan)}:\n$plan")
  }

  test("training order: no range partitioning — the total order must not global-sort") {
    val plan = Queries.all.find(_.name == "q101_training_order").get
      .build(spark, sfDir).queryExecution.executedPlan
    // the whole point of the broadcast-offset design: an orderBy-style
    // rangepartitioning exchange on the corpus would mean the global
    // position fell back to a global sort. (The numShards-row offset
    // table's single-partition window is fine and unavoidable.)
    assert(!plan.toString.toLowerCase.contains("rangepartitioning"),
      s"q101 global-sorts the corpus:\n$plan")
  }

  test("nb quality: vocab weight table broadcasts, bounded corpus shuffles") {
    val plan = Queries.all.find(_.name == "q99_nb_quality").get
      .build(spark, sfDir).queryExecution.executedPlan
    val s = plan.toString
    assert(s.contains("Broadcast"),
      s"q99's ≤V-row weight table must broadcast onto the (doc, token) pairs:\n$plan")
    // pairs distinct + token counts + TakeOrdered + per-doc sum + final join;
    // growth means the model join started shuffling the corpus side
    assert(shuffles(plan) <= 6, s"q99 shuffle count grew to ${shuffles(plan)}:\n$plan")
  }

  test("pmi: unigram/total tables broadcast onto bigrams, bounded shuffles") {
    val plan = Queries.all.find(_.name == "q104_pmi_collocations").get
      .build(spark, sfDir).queryExecution.executedPlan
    val s = plan.toString
    assert(s.contains("Broadcast"),
      s"q104's vocabulary-sized tables must broadcast:\n$plan")
    assert(shuffles(plan) <= 6, s"q104 shuffle count grew to ${shuffles(plan)}:\n$plan")
  }

  test("dsir: log-ratio model broadcasts, no cartesian, corpus shuffles stay bounded") {
    val plan = Queries.all.find(_.name == "q77_dsir_select").get
      .build(spark, sfDir).queryExecution.executedPlan
    val s = plan.toString
    assert(!s.contains("CartesianProduct"), s"q77 went cartesian:\n$plan")
    assert(s.contains("Broadcast"),
      s"q77's bucket log-ratio table must broadcast onto the corpus grams:\n$plan")
    // gram-count aggs + per-doc agg + the corpus-side survivor join + TakeOrdered;
    // growth here means a corpus-sized side started shuffling for the model join
    assert(shuffles(plan) <= 8, s"q77 shuffle count grew:\n$plan")
  }

  test("semdedup: within-cluster equi-join only, cap stays anti-join, no rescans") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the pair stage (the final semDedup plan hides it behind the CC
    // loop's eager checkpoints): cluster-restricted equi-join, anti-join
    // cap, and every consumer reading the ONE checkpointed frame
    val (_, pairs) = graft.ops.Cluster.semDedupPairs(
      spark.read.parquet(s"$sfDir/embeddings.parquet"),
      "vec_id", "embedding", k = 4, iters = 1, eps = 0.45, maxCluster = 100000L)
    val pp = pairs.queryExecution.executedPlan
    val ps = pp.toString
    assert(!ps.contains("CartesianProduct"),
      s"semDedup's pair space must stay cluster-restricted:\n$pp")
    assert(ps.contains("LeftAnti"), s"semDedup lost the maxCluster cap:\n$pp")
    assert(pp.collect { case sc: FileSourceScanExec => sc }.isEmpty,
      s"semDedup pair join must read only the checkpointed frame:\n$pp")
    // the final applied plan stays checkpoint-fed too (no parquet rescans)
    val plan = Queries.all.find(_.name == "q78_semdedup").get
      .build(spark, sfDir).queryExecution.executedPlan
    assert(!plan.toString.contains("CartesianProduct"))
    assert(plan.collect { case sc: FileSourceScanExec => sc }.isEmpty,
      s"q78 re-scans the base table past the checkpoint:\n$plan")
  }

  test("lookup join never shuffles the fact side") {
    graft.client.MemoryOnlineStore.clear()
    Registry.clear()
    val plan = Queries.all.find(_.name == "q37_lookup_join").get
      .build(spark, sfDir).queryExecution.executedPlan
    // the KV snapshot is dimension-sized by contract: it broadcasts, the
    // fact side flows map-only — at 100 TB fact scale this is the
    // difference between a lookup and a full shuffle join
    assert(shuffles(plan) == 0, s"lookup join shuffled:\n$plan")
    assert(plan.toString.contains("BroadcastHashJoin"), s"not a broadcast join:\n$plan")
  }

  test("text and multimodal operators are map-only, UDF-free plans") {
    // pure column expressions: whole-stage codegen end to end, no shuffle,
    // no black-box UDF the optimizer can't see through
    Seq("q26_text_tokens", "q27_text_quality", "q28_text_langid_fp",
      "q30_multimodal_meta", "q41_stratified_sample",
      "q54_normalize_text",
      "q61_url_parts").foreach { name =>
      val plan = Queries.all.find(_.name == name).get
        .build(spark, sfDir).queryExecution.executedPlan
      assert(shuffles(plan) == 0, s"$name shuffles:\n$plan")
      assert(!plan.toString.contains("UDF"), s"$name uses a UDF:\n$plan")
    }
    // q29/q55 (the md5-per-character maps) additionally allow ONE
    // round-robin exchange: Par.spread's input-parallelism guard fires on
    // under-partitioned inputs (this suite's tiny fixture qualifies) and
    // is a no-op on well-split production scans — the payload still
    // crosses the network at most once and the map body stays UDF-free.
    Seq("q29_text_sketch", "q55_winnowing").foreach { name =>
      val plan = Queries.all.find(_.name == name).get
        .build(spark, sfDir).queryExecution.executedPlan
      assert(shuffles(plan) <= 1, s"$name shuffles beyond the spread:\n$plan")
      assert(!plan.toString.contains("UDF"), s"$name uses a UDF:\n$plan")
    }
  }

  test("resample spine: the pre-explode repartition survives as a " +
      "REPARTITION_BY_NUM exchange AQE may not coalesce") {
    // Round 16 (VERDICT r15 item 1): the round-15 repartition sat above
    // the spine aggregate, where the child already provided
    // hashpartitioning(keys), and was PRUNED — AQE then coalesced the
    // keys-sized exchange to 1-2 partitions and the grid explode + ffill
    // window ran nearly single-task. The fix pins the exchange BELOW the
    // spine agg (child partitioned on (keys, bucket) — never redundant).
    // This lock fails if a refactor lets the planner prune it again.
    import org.apache.spark.sql.catalyst.expressions.{Explode, Sequence}
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$sfDir/events.parquet")
    val df = graft.ops.TimeSeries.resample(
      e.select(col("user_id"),
        (unix_millis(col("ts").cast("timestamp"))).as("ts_ms"), col("value")),
      Seq("user_id"), "ts_ms", "value", 3600000L)
    val plan = df.queryExecution.executedPlan
    // every node of the physical plan, through AQE and query-stage wrappers
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    def pinned(p: SparkPlan): Seq[ShuffleExchangeExec] = nodes(p).collect {
      case x: ShuffleExchangeExec if x.shuffleOrigin == REPARTITION_BY_NUM => x
    }
    assert(pinned(plan).nonEmpty,
      s"resample spine repartition was pruned from the plan:\n$plan")
    // and the grid explode (explode(sequence(lo, hi, every))) must sit
    // ABOVE that exchange, so the fan-out happens at the pinned parallelism
    val grid = nodes(plan).collect {
      case g: GenerateExec if (g.generator match {
        case Explode(_: Sequence) => true
        case _ => false
      }) => g
    }
    assert(grid.size == 1, s"expected one grid explode, got ${grid.size}:\n$plan")
    assert(pinned(grid.head.child).nonEmpty,
      s"grid explode does not sit above the pinned exchange:\n$plan")
  }

  test("Par.spread: no-op at/above cluster parallelism, widens below it") {
    val par = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 1000, 1, par)
      .selectExpr("id", "cast(id as string) s")
    // already at cluster width: the plan is untouched (no exchange)
    assert(graft.ops.Par.spread(wide) eq wide)
    val narrow = spark.range(0, 1000, 1, 1)
      .selectExpr("id", "cast(id as string) s")
    val spreadNarrow = graft.ops.Par.spread(narrow)
    assert(spreadNarrow.rdd.getNumPartitions == par)
    // row multiset unchanged
    assert(spreadNarrow.orderBy("id").collect().toSeq ==
      narrow.orderBy("id").collect().toSeq)
  }

  test("char entropy: bounded shuffles, volume collapsed by partial agg") {
    // explode + two-level agg: (id,char) partial-agg shuffle, per-doc agg,
    // and the id join-back — never more (a 4th would mean the partial
    // combine stopped collapsing the exploded characters)
    val plan = Queries.all.find(_.name == "q59_char_entropy").get
      .build(spark, sfDir).queryExecution.executedPlan
    assert(shuffles(plan) <= 3, s"q59 shuffle count grew:\n$plan")
  }

  test("sessionize shares one exchange across lag, cumsum, and final agg") {
    val plan = Queries.all.find(_.name == "q63_sessionize").get
      .build(spark, sfDir).queryExecution.executedPlan
    assert(shuffles(plan) == 1, s"q63 should shuffle exactly once:\n$plan")
  }

  test("segment dedup joins the boilerplate set back as a broadcast") {
    // the threshold-pruned boilerplate hash set must broadcast onto the
    // exploded segments — a sort-merge join there would shuffle the corpus
    // an extra time
    val plan = Queries.all.find(_.name == "q46_segment_dedup").get
      .build(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"boilerplate join-back is not broadcast:\n$plan")
  }

  test("loo target encoding: one category collapse + one keyed join back") {
    val plan = Queries.all.find(_.name == "q216_target_encode_loo").get
      .build(spark, sfDir).queryExecution.executedPlan
    // groupBy(category) + the join back on category + the one-row prior
    // broadcast; anything past 3 exchanges means the corpus started
    // re-shuffling for the cardinality-sized encoding table
    assert(shuffles(plan) <= 3,
      s"q216 shuffle count grew to ${shuffles(plan)}:\n$plan")
    assert(plan.toString.contains("Broadcast"),
      s"q216 lost the broadcast prior:\n$plan")
  }

  test("sprt: the walk and its decision rollup share one key exchange") {
    val plan = Queries.all.find(_.name == "q218_sprt").get
      .build(spark, sfDir).queryExecution.executedPlan
    // window partitionBy(user) then groupBy(user): the aggregation must
    // reuse the window's hash partitioning, not add its own exchange
    assert(shuffles(plan) <= 1,
      s"q218 must run on ONE user-keyed exchange, got ${shuffles(plan)}:\n$plan")
  }

  test("ndcg: two keyed window sorts, rollup reuses the partitioning") {
    val plan = Queries.all.find(_.name == "q219_ndcg").get
      .build(spark, sfDir).queryExecution.executedPlan
    // both ROW_NUMBER orderings partition by the query key; the groupBy
    // rides the same exchange — only the sort differs
    assert(shuffles(plan) <= 1,
      s"q219 shuffle count grew to ${shuffles(plan)}:\n$plan")
  }

  test("fuzzy contamination: bucket cap stays an anti-join, rollup is checkpoint-bounded") {
    // the final checkpoint truncates lineage, so the cap is asserted on
    // the candidate generator the op delegates to…
    val candPlan = graft.ops.Dedup.minhashLshPairs(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
      .queryExecution.executedPlan
    assert(candPlan.toString.contains("LeftAnti"),
      s"minhashLshPairs lost the maxBucket hot-bucket cap:\n$candPlan")
    // …and the emitted rollup must stay small: the count aggregate and
    // the best-match window over the verified-pairs checkpoint
    val plan = Queries.all.find(_.name == "q221_contamination_fuzzy").get
      .build(spark, sfDir).queryExecution.executedPlan
    assert(shuffles(plan) <= 3,
      s"q221 rollup shuffle count grew to ${shuffles(plan)}:\n$plan")
  }

  test("hill tail index: top-k is TakeOrdered, never a global sort") {
    val plan = Queries.all.find(_.name == "q220_tail_index").get
      .build(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"q220 must take the k+1 tail via TakeOrderedAndProject:\n$plan")
    // the ranking window may only run on the (k+1)-row result — a Sort
    // with a preceding Exchange over the corpus would be the global sort
    assert(!plan.contains("rangepartitioning"),
      s"q220 range-partitions the corpus (global sort):\n$plan")
  }

  test("partition filters prune hive-layout scans; data filters push down") {
    // the 100 TB read path: a time/source-partitioned corpus must show the
    // predicate as a PartitionFilter (directory pruning, no file touched)
    // and row-level predicates in PushedFilters (parquet row-group pruning)
    val dir = s"${SparkSuite.tmpDir}/prune_fixture"
    purchases.write.mode("overwrite").partitionBy("name").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("name") === "Alex")
      .filter(org.apache.spark.sql.functions.col("cost") > 100L)
      .select("cost")
    val scan = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.partitionFilters.exists(_.toString.contains("Alex")),
      s"partition filter not pruned:\n${scan.partitionFilters}")
    assert(scan.metadata("PushedFilters").contains("GreaterThan(cost,100)"),
      s"data filter not pushed:\n${scan.metadata("PushedFilters")}")
    assert(scan.requiredSchema.fieldNames.toSeq == Seq("cost"),
      s"column pruning failed: ${scan.requiredSchema.fieldNames.toSeq}")
  }

  test("key-filter read stays a broadcast left-semi join") {
    Registry.clear()
    val plan = Queries.all.find(_.name == "q16_keyfilter_timerange").get
      .build(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"key filter is not a broadcast semi join:\n$plan")
  }

  test("rank eval family: one keyed ordering, rollup rides the exchange") {
    // q224 (and q245) sort once by the query key; rank, running hits and
    // per-query totals all share that partitioning — a second exchange
    // means a window spec stopped aligning with the groupBy
    for (name <- Seq("q224_rank_eval", "q245_avg_precision")) {
      val plan = Queries.all.find(_.name == name).get
        .build(spark, sfDir).queryExecution.executedPlan
      assert(shuffles(plan) <= 1,
        s"$name shuffle count grew to ${shuffles(plan)}:\n$plan")
    }
  }

  test("kendall tau: the cell join stays broadcast, never a cartesian") {
    val plan = Queries.all.find(_.name == "q227_kendall_tau").get
      .build(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"kendall cell join lost its broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"kendall went cartesian:\n$plan")
  }

  test("link prediction: hot-vertex cap and anti-join survive in the plan") {
    val plan = Queries.all.find(_.name == "q248_link_predict").get
      .build(spark, sfDir).queryExecution.executedPlan.toString
    // existing-edge exclusion must stay an anti equi-join
    assert(plan.contains("LeftAnti"),
      s"link prediction lost the existing-edge anti-join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"link prediction went cartesian:\n$plan")
  }

  test("sketch aggregators run with MAP-SIDE partial aggregation") {
    // the property that makes a typed Aggregator the 100 TB form: each
    // task ships one fixed-size buffer per group, never the rows
    val plan254 = Queries.all.find(_.name == "q254_quantile_sketch").get
      .build(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan254.contains("partial_quantilesketchagg"),
      s"q254 lost its partial aggregation stage:\n$plan254")
    val plan261 = Queries.all.find(_.name == "q261_hll_distinct").get
      .build(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan261.contains("partial_hllagg"),
      s"q261 lost its partial aggregation stage:\n$plan261")
  }

  test("no inventory query plans a single-partition row-level sort/window") {
    // The standing 100 TB regression gate, inventory-wide: a Window with
    // an EMPTY partition spec (or a Sort fed directly by an Exchange
    // SinglePartition) funnels every row through one task — the plan
    // shape that works at sf0.1 and dies at 100x. Per-op locks assert it
    // for hand-picked queries; this sweep asserts it for all 264.
    //
    // Benign single-partition shapes NOT flagged: the final stage of a
    // global aggregate (one pre-aggregated row per upstream partition
    // crosses the exchange, not the corpus) and broadcast exchanges.
    //
    // Allowlist: ops whose keyless window provably runs on a MODEL-SIZED
    // or CAPPED table (the plan can't tell cardinality; the op's source
    // can — file:line checked for each). Every corpus-sized ordering in
    // these queries already rides Ranks.globalRank's range exchange.
    val allow = Map(
      "q18_metrics" -> "re-emission window over per-(metric, window-bucket) rows — day buckets, model-sized",
      "q58_source_mixing" -> "share normalization over the SOURCE group table (Sampling.scala:584)",
      "q75_temperature_mix" -> "quota window over the language group table (Sampling.scala:131)",
      "q84_pack_pieces" -> "prefix-sum over the numBuckets bucket table only (Corpus.scala:569, documented keyless-window bound)",
      "q101_training_order" -> "shard-offset window over numShards rows (Sampling.scala:375)",
      "q109_negative_sample" -> "trainingOrder's 32-row shard-offset table (Sampling.scala:375)",
      "q162_gini" -> "rank window over the per-group mass table (Corpus.scala:343)",
      "q173_group_folds" -> "greedy-packing window over the k-groups table (Sampling.scala:688)",
      "q192_lorenz_curve" -> "cumulative window over the bucket table; holders ranked by globalRank (Corpus.scala:1004)",
      "q198_gains_curve" -> "cumulative window over the bucket table; rows ranked by globalRank (Eval.scala:625)",
      "q200_disorder_profile" -> "histogram rollup over disorder buckets (TimeSeries.scala:521)",
      "q202_vocab_growth" -> "growth-curve window over checkpoint buckets (TextOps.scala:1528)",
      "q203_dedup_yield" -> "yield-curve window over maxHamming+1 radius rows (Dedup.scala:926)",
      "q220_tail_index" -> "rank window over the TakeOrderedAndProject (k+1)-row top table (Corpus.scala:1141)",
      "q322_youden_j" -> "cumulative tp/fp sweep over the <=bins bin table (Eval.scala youdenJ, require(bins <= 10000))")
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    def singlePartExchange(p: SparkPlan): Boolean = p match {
      case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
      case _ => false
    }
    def hits(plan: SparkPlan): Seq[String] = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Seq("keyless Window")
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        Seq("keyless WindowGroupLimit")
      case s: SortExec if singlePartExchange(s.child) =>
        Seq("Sort over Exchange SinglePartition")
      case a: AdaptiveSparkPlanExec => hits(a.executedPlan)
    }.flatten
    graft.client.MemoryOnlineStore.clear()
    Registry.clear()
    val bad = Queries.all.flatMap { q =>
      val found = hits(q.build(spark, sfDir).queryExecution.executedPlan)
      if (found.isEmpty || allow.contains(q.name)) None
      else Some(s"${q.name}: ${found.distinct.mkString(", ")}")
    }
    assert(bad.isEmpty,
      s"single-partition row-level plan shapes found:\n${bad.mkString("\n")}")
  }
}
