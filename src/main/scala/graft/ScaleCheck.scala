package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cap-onset fixtures for the pair-stage caps of the dedup family. Plain
  * replication (`JobProf --scale N`, which measures how the inventory
  * scales) never pushes a hot key past a cap, so each fixture here grows
  * one key's mass WITH the corpus until the cap trips, on documents
  * replicated by [[Replicas]] (salted, so the hot key is the only
  * quadratic term), and prints the 1× and N× times:
  *
  *  - `minhash_capstress` (64×): an identical-text family of every 25th
  *    doc forms one bucket per band that crosses `maxBucket` = 10000 at
  *    ≥ 51×. `capped` must stay ~linear (the bucket is star-salvaged),
  *    `uncapped` keeps the bucket and shows the quadratic onset the cap
  *    prevents, and `at-cap` (every 34th doc: 9,472 rows at 64× sf0.1,
  *    just under the cap) bounds the worst bucket the default admits;
  *  - `minhash_capsalvage` (64×): the same over-cap family must come back
  *    star-linked — famN−1 pairs, each with the min-id representative;
  *  - `jaccard_capstress` (64×): a fixed 3-word tail on every 20th doc is
  *    one shingle whose df crosses `maxDf` = 10000 at ≥ 41×;
  *  - `fuzzy_pairs` (8×): a default-value hot block (every 10th doc) that
  *    crosses `maxBlock` = 3000 at 8× must be dropped before pairing,
  *    while the fine blocks (`doc_id div 20`) stay constant-size.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 tools/run.sh graft.ScaleCheck`
  * (the sizes above are at sf0.1).
  */
object ScaleCheck {
  val MinhashMult = 64
  val JaccardMult = 64
  val FuzzyMult = 8

  private val HotText = "the quick brown fox jumps over the lazy dog while the " +
    "cat watches from the window and the birds sing in the garden today"

  private def secs(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEnv.session()
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup
    val strides = Replicas.strides(spark, dir)
    val stride = strides(("documents", "doc_id"))
    val doc1 = spark.read.parquet(s"$dir/documents.parquet")
    def docs(n: Int) = Replicas.replicate(doc1, "documents", n, strides)
    // every `every`-th 1× doc, in each replica
    def nth(id: Column, every: Int) = pmod(id % stride, lit(every)) === 0

    locally {
      def withHot(df: DataFrame, every: Int) = df.withColumn("text",
        when(nth(col("doc_id"), every), lit(HotText)).otherwise(col("text")))
      def t(maxBucket: Long, df: DataFrame) =
        secs(graft.ops.Dedup.minhashLshPairs(df, "doc_id", "text", maxBucket = maxBucket))
      val (d1, dN) = (docs(1), docs(MinhashMult))
      val c1 = t(10000L, withHot(d1, 25))
      val cN = t(10000L, withHot(dN, 25))
      val uN = t(1000000000L, withHot(dN, 25))
      val aN = t(10000L, withHot(dN, 34))
      println(f"minhash_capstress capped 1x=$c1%6.2fs ${MinhashMult}x=$cN%6.2fs " +
        f"(ratio ${cN / c1}%.1f, linear=$MinhashMult.0); uncapped ${MinhashMult}x=$uN%6.2fs " +
        f"(onset ${uN / cN}%.1fx over capped); at-cap-bucket ${MinhashMult}x=$aN%6.2fs")

      val hotN = withHot(dN, 25)
      val famN = hotN.filter(nth(col("doc_id"), 25)).count()
      val t0 = System.nanoTime()
      val pairs = graft.ops.Dedup.minhashLshPairs(hotN, "doc_id", "text", maxBucket = 10000L)
      val famPairs = pairs.filter(nth(col("id_a"), 25) && nth(col("id_b"), 25)).count()
      val tS = (System.nanoTime() - t0) / 1e9
      val audited = graft.ops.Dedup.minhashLshOverCapBuckets(
        hotN, "doc_id", "text", maxBucket = 10000L).count()
      println(f"minhash_capsalvage fam=$famN pairs=$famPairs " +
        f"(expect fam-1=${famN - 1}) hot_buckets=$audited t=$tS%6.2fs " +
        (if (famPairs == famN - 1) "OK" else "MISMATCH"))
    }

    locally {
      def withHot(df: DataFrame) = df.withColumn("text",
        when(nth(col("doc_id"), 20), concat(col("text"), lit(" zq alpha beta gamma")))
          .otherwise(col("text")))
      def t(maxDf: Long, df: DataFrame) =
        secs(graft.ops.Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5, maxDf))
      val c1 = t(10000L, withHot(docs(1)))
      val cN = t(10000L, withHot(docs(JaccardMult)))
      val uN = t(1000000000L, withHot(docs(JaccardMult)))
      println(f"jaccard_capstress capped 1x=$c1%6.2fs ${JaccardMult}x=$cN%6.2fs " +
        f"(ratio ${cN / c1}%.1f, linear=$JaccardMult.0); uncapped ${JaccardMult}x=$uN%6.2fs " +
        f"(onset ${uN / cN}%.1fx over capped)")
    }

    locally {
      def t(df: DataFrame) = secs(graft.ops.Entity.fuzzyPairs(
        df.select(col("doc_id"), substring(col("text"), 1, 24).as("nm"),
          when(nth(col("doc_id"), 10), lit("unknown"))
            .otherwise(expr("doc_id div 20").cast("string")).as("blk")),
        "doc_id", "nm", col("blk"), maxDist = 2, maxBlock = 3000L))
      val t1 = t(docs(1))
      val tN = t(docs(FuzzyMult))
      println(f"fuzzy_pairs  1x=$t1%6.2fs  ${FuzzyMult}x=$tN%6.2fs  ratio=${tN / t1}%.1f (linear=$FuzzyMult.0)")
    }
    spark.stop()
  }
}
