package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N× copies of an sf directory's tables, for measuring how the query
  * inventory scales: every query reads `<dir>/<table>.parquet`, so running
  * it on the copy's directory runs it on N× the data. The copy grows the
  * data the way real data grows:
  *
  *  - key domains: each column of a domain (the columns that join across
  *    tables) shifts by `i · stride` in replica `i`, where the stride is
  *    the smallest power of ten above the domain's largest key — replicas
  *    are disjoint at any sf, every cross-table join still matches within
  *    its replica, and `key % stride` is the 1× key;
  *  - fixed tables: `nation` and `region` are copied once, because
  *    dimensions do not grow with data; `events.props` keeps its item ids,
  *    so replicas add users against one item catalog;
  *  - documents: replica `i ≥ 1` prefixes every token after the first
  *    with `r<i>`, so no shingle, bigram or segment repeats across
  *    replicas and near-duplicate density stays that of the 1× corpus;
  *    `n_chars` is recomputed from the salted text when it is the text's
  *    length at 1×;
  *  - embeddings: replica `i` flips the sign of dimension `j` when
  *    `popcount(j & i)` is odd (Walsh sign flips), so cross-replica vectors
  *    are decorrelated and every L2 norm is kept.
  *
  * Query parameters are not scaled: a query keeps its own LSH planes,
  * cluster counts and caps, so ratios of density-sensitive ops include
  * the growth in candidate pairs at fixed parameters.
  */
object Replicas {

  /** Columns that share one offset per replica, as (table, column). */
  val Domains: Seq[Seq[(String, String)]] = Seq(
    Seq("customer" -> "c_custkey", "orders" -> "o_custkey", "events" -> "user_id"),
    Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey"),
    Seq("part" -> "p_partkey", "lineitem" -> "l_partkey"),
    Seq("supplier" -> "s_suppkey", "lineitem" -> "l_suppkey"),
    Seq("events" -> "event_id"),
    Seq("documents" -> "doc_id"),
    Seq("embeddings" -> "vec_id"))

  /** Tables copied once: dimensions do not grow with data. */
  val Fixed: Set[String] = Set("nation", "region")

  /** Per-replica key offset of each (table, column) of [[Domains]]. */
  type Strides = Map[(String, String), Long]

  /** The tables of sf directory `dir`, by name. */
  def tables(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted.toSeq

  private def read(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  /** The strides of every domain whose tables `dir` holds: one
    * aggregate per table reads the largest keys.
    */
  def strides(spark: SparkSession, dir: String): Strides = {
    val present = tables(dir).toSet
    val byTable = Domains.flatten.filter(tc => present(tc._1)).groupBy(_._1)
    val extremes: Map[(String, String), (Long, Long)] = byTable.flatMap {
      case (table, tcs) =>
        val aggs = tcs.flatMap(tc => Seq(min(col(tc._2)), max(col(tc._2))))
        val r = read(spark, dir, table).agg(aggs.head, aggs.tail: _*).head()
        tcs.zipWithIndex.map { case (tc, i) =>
          tc -> ((if (r.isNullAt(2 * i)) 0L else r.getAs[Number](2 * i).longValue),
            (if (r.isNullAt(2 * i + 1)) 0L else r.getAs[Number](2 * i + 1).longValue))
        }
    }
    Domains.flatMap { d =>
      val cols = d.filter(extremes.contains)
      if (cols.isEmpty) Nil
      else {
        val lo = cols.map(extremes(_)._1).min
        val hi = cols.map(extremes(_)._2).max
        require(lo >= 0, s"replica offsets need non-negative keys; ${cols.mkString(", ")} reach $lo")
        var stride = 10L
        while (stride <= hi) stride *= 10
        cols.map(_ -> stride)
      }
    }.toMap
  }

  /** `n` replicas of `df`, the rows of sf table `table`, under the rules
    * above; columns the rules do not name pass through unchanged.
    */
  def replicate(df: DataFrame, table: String, n: Int, strides: Strides): DataFrame = {
    require(n >= 1, s"replica count $n must be at least 1")
    val keys = strides.collect { case ((t, c), s) if t == table => c -> s }
    val recount = table == "documents" && n > 1 &&
      Seq("text", "n_chars").forall(df.columns.contains) &&
      df.agg(bool_and(col("n_chars") <=> length(col("text")))).head().getAs[Any](0) == true
    if (Fixed(table)) df
    else (0 until n).map { i =>
      var r = keys.foldLeft(df) { case (acc, (c, s)) =>
        acc.withColumn(c, col(c) + lit(i * s))
      }
      if (i > 0 && table == "documents") {
        r = r.withColumn("text", regexp_replace(col("text"), " ", s" r$i"))
        if (recount) r = r.withColumn("n_chars", length(col("text")).cast("long"))
      }
      if (i > 0 && table == "embeddings")
        r = r.withColumn("embedding",
          expr(s"transform(embedding, (x, j) -> if(bit_count(j & $i) % 2 = 1, -x, x))"))
      r
    }.reduce(_ unionByName _)
  }

  /** Write an `n`× copy of every table of `dir` into a new directory under
    * [[SparkEnv.scratchDir]] and return it. The caller deletes it.
    */
  def write(spark: SparkSession, dir: String, n: Int): String = {
    val out = SparkEnv.scratchDir(s"replicas-x$n-")
    val st = strides(spark, dir)
    tables(dir).foreach { t =>
      replicate(read(spark, dir, t), t, n, st).write.parquet(s"$out/$t.parquet")
    }
    out
  }

  /** Delete a directory made by [[write]]. */
  def delete(dir: String): Unit = SparkEnv.deleteDir(dir)
}
