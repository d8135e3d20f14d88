package graft.client

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One requested field of a KV lookup. `entryKeys = Some(ks)` restricts a
  * map-typed field to those entries — the static map-entry pushdown: when a
  * lookup join only uses `m['k']`-style literal subscripts of a map
  * feature, the store fetches just those hash entries instead of the whole
  * map (ref: python/feathub/processors/flink/table_builder/
  * redis_utils.py:109-167; docs/content/deep-dive/optimizations.md §3).
  */
final case class FieldRequest(field: String, entryKeys: Option[Seq[String]] = None)

/** Pluggable KV store behind lookup joins — the seam where a Redis/HBase
  * client would plug in (the reference's RedisSource lookup path);
  * [[MemoryKvStore]] is the in-process implementation used in tests and
  * local serving.
  */
trait KvStore {
  /** Key fields the table was registered with. */
  def keyFields(table: String): Seq[String]

  /** The schema the table was written with. */
  def schema(table: String): StructType

  /** Latest-per-key snapshot rows with the request's projection applied:
    * only the requested fields are present, and map-typed fields with
    * `entryKeys` set carry ONLY those entries — a real Redis impl issues
    * HMGET for exactly those hash fields.
    */
  def fetch(table: String, request: Seq[FieldRequest]): Seq[Map[String, Any]]
}

object KvStore {

  /** Store rows as a DataFrame of `columns`, each typed as in `schema`
    * (the schema the table was written with) and nullable.
    */
  def toDf(
      spark: SparkSession,
      schema: StructType,
      rows: Seq[Map[String, Any]],
      columns: Seq[String]): DataFrame = {
    val data = rows.map(m => Row.fromSeq(columns.map(c => m.getOrElse(c, null))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toList),
      StructType(columns.map(c => schema(c).copy(nullable = true))))
  }
}

/** [[KvStore]] over [[MemoryOnlineStore]], standing in for Redis. Records
  * the last request per table so tests can assert what was pushed down.
  */
object MemoryKvStore extends KvStore {

  @volatile private var requests: Map[String, Seq[FieldRequest]] = Map.empty

  /** The last fetch request issued against `table` (for pushdown specs). */
  def lastRequest(table: String): Option[Seq[FieldRequest]] = requests.get(table)

  override def keyFields(table: String): Seq[String] =
    MemoryOnlineStore.keyFieldsOf(table)

  override def schema(table: String): StructType =
    MemoryOnlineStore.schemaOf(table)

  override def fetch(table: String, request: Seq[FieldRequest]): Seq[Map[String, Any]] = {
    synchronized { requests += table -> request }
    MemoryOnlineStore.snapshotRows(table).map { row =>
      request.flatMap { fr =>
        row.get(fr.field).map { v =>
          val projected = (v, fr.entryKeys) match {
            case (m: Map[_, _], Some(ks)) =>
              m.asInstanceOf[Map[Any, Any]]
                .filter { case (k, _) => ks.contains(String.valueOf(k)) }
            case _ => v
          }
          fr.field -> projected
        }
      }.toMap
    }
  }
}
