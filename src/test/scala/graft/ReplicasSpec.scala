package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The N× copy `JobProf --scale` runs the inventory on: rows and key
  * domains grow N×, dimensions stay, cross-table joins grow N× (so each
  * replica joins only itself), salted documents share no shingle with
  * the 1× corpus, and sign-flipped embeddings keep their norms.
  */
class ReplicasSpec extends SparkSuite with BeforeAndAfterAll {
  private val sf = "/root/testdata/sf0.001"
  private val n = 3
  private lazy val copy = Replicas.write(spark, sf, n)

  override def afterAll(): Unit = try Replicas.delete(copy) finally super.afterAll()

  private def one(t: String): DataFrame = spark.read.parquet(s"$sf/$t.parquet")
  private def rep(t: String): DataFrame = spark.read.parquet(s"$copy/$t.parquet")

  test("every table grows N× except nation and region, with its schema kept") {
    assert(Replicas.tables(copy) == Replicas.tables(sf))
    assert(Replicas.tables(sf).size == 10)
    for (t <- Replicas.tables(sf)) {
      val k = if (Replicas.Fixed(t)) 1 else n
      assert(rep(t).count() == k * one(t).count(), t)
      assert(rep(t).schema == one(t).schema, t)
    }
    assert(rep("nation").except(one("nation")).isEmpty)
    assert(rep("region").except(one("region")).isEmpty)
  }

  test("each key domain has N× the distinct keys") {
    for (d <- Replicas.Domains) {
      def keys(dir: String) = d.map { case (t, c) =>
        spark.read.parquet(s"$dir/$t.parquet").select(col(c).as("k"))
      }.reduce(_ union _).distinct().count()
      assert(keys(copy) == n * keys(sf), d)
    }
  }

  test("cross-table joins return N× their 1× rows") {
    def joins(t: String => DataFrame): Seq[Long] = Seq(
      t("events").join(t("orders"), col("user_id") === col("o_custkey")),
      t("lineitem").join(t("orders"), col("l_orderkey") === col("o_orderkey")),
      t("lineitem").join(t("part"), col("l_partkey") === col("p_partkey")),
      t("lineitem").join(t("supplier"), col("l_suppkey") === col("s_suppkey")))
      .map(_.count())
    val base = joins(one)
    assert(base.forall(_ > 0))
    assert(joins(rep) == base.map(_ * n))
  }

  test("salted documents share no 3-word shingle with replica 0") {
    val stride = Replicas.strides(spark, sf)(("documents", "doc_id"))
    val shingles = rep("documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(floor(col("doc_id") / stride).as("r"),
        explode(expr("transform(sequence(0, size(split(text, ' ')) - 3), " +
          "i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3)))")).as("sh"))
    val r0 = shingles.filter(col("r") === 0).select("sh").distinct()
    assert(r0.count() > 0)
    assert(shingles.filter(col("r") > 0).join(r0, "sh").isEmpty)
    // n_chars follows the salted text, as it follows the text at 1×
    assert(rep("documents").filter(!(col("n_chars") <=> length(col("text")))).isEmpty)
  }

  test("sign-flipped embeddings keep every L2 norm and differ across replicas") {
    val stride = Replicas.strides(spark, sf)(("embeddings", "vec_id"))
    def norms(df: DataFrame) = df.select((col("vec_id") % stride).as("id"),
      floor(col("vec_id") / stride).as("r"), col("embedding"),
      expr("aggregate(embedding, 0d, (a, x) -> a + cast(x as double) * x)").as("n2"))
    val base = norms(one("embeddings")).select(col("id"), col("n2").as("n2_1"), col("embedding").as("e1"))
    val joined = norms(rep("embeddings")).join(base, "id")
    assert(joined.count() == n * one("embeddings").count())
    assert(joined.filter(abs(col("n2") - col("n2_1")) > lit(1e-9) * col("n2_1")).isEmpty)
    assert(joined.filter(col("r") > 0 && col("embedding") === col("e1")).isEmpty)
  }
}
