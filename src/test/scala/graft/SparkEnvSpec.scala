package graft

import org.apache.spark.sql.internal.SQLConf

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins the one session factory: the test harness session comes from
  * [[SparkEnv.session]], so its config is the config the bench times.
  */
class SparkEnvSpec extends SparkSuite {

  test("SparkEnv.session carries the bench settings") {
    val conf = spark.conf
    assert(spark.sparkContext.master == s"local[${SparkSuite.Cpus}]")
    assert(spark.sparkContext.defaultParallelism == SparkSuite.Cpus)
    assert(conf.get("spark.sql.shuffle.partitions") == SparkSuite.Cpus.toString)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.local.dir") == SparkEnv.localDir)
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    // the floor is live in the SQL conf the planner reads, not only set
    assert(spark.sessionState.conf.getConf(
      SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) == 64L * 1024)
  }

  test("only SparkEnv.session and Smoke's bare session build a SparkSession") {
    val sources = Files.walk(Paths.get("src")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    def builds(p: Path): Boolean =
      new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession" + ".builder")
    val builders = sources.filter(builds).map(_.getFileName.toString).sorted
    assert(builders == Seq("Smoke.scala", "SparkEnv.scala"))
  }
}
