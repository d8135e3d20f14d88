package graft.engine

import graft.client.{FieldRequest, KvStore}
import graft.expr.{ExprUtils, SparkCompiler}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Processing-time lookup join against a pluggable [[KvStore]] table
  * (ref: the reference's RedisSource lookup join,
  * python/feathub/processors/flink/table_builder/join_utils.py +
  * redis_utils.py:109-210).
  *
  * Scale shape: the KV snapshot is dimension-sized by definition, so it
  * broadcasts and the fact side never shuffles. The reference performs
  * per-row async lookups on Flink; on Spark the same semantics (join
  * against the store's CURRENT state, no time travel) come from a snapshot
  * broadcast join, which also batches far better at 100 TB fact scale.
  *
  * Static map-entry pushdown (docs/content/deep-dive/optimizations.md §3):
  * each feature expression is classified — a bare `m` needs the full
  * field; `m['k']` with a STRING literal only needs entry 'k', so the
  * store request lists exactly the referenced entries and a Redis-backed
  * store would HMGET those hash fields instead of HGETALL. A non-literal
  * subscript, a non-string key, or any full use of the map disables the
  * projection for that field (redis_utils.py:124-167).
  */
object LookupJoin {

  /** Classify feature expressions into per-field fetch requests. */
  def analyze(featureExprs: Seq[String]): Seq[FieldRequest] = {
    val full = scala.collection.mutable.LinkedHashSet.empty[String]
    val entries = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    featureExprs.foreach { e =>
      if (ExprUtils.isId(e)) {
        full += e.stripPrefix("`").stripSuffix("`")
      } else if (ExprUtils.isStaticMapLookup(e)) {
        ExprUtils.staticMapLookupParts(e) match {
          case (v, k: String) =>
            entries(v) = entries.getOrElse(v, Vector.empty) :+ k
          case (v, _) => full += v // non-string key: fetch the whole map
        }
      } else {
        full ++= ExprUtils.variables(e)
      }
    }
    full.toSeq.map(FieldRequest(_, None)) ++
      entries.collect {
        case (f, ks) if !full.contains(f) => FieldRequest(f, Some(ks.distinct))
      }
  }

  /** Join `left` with features evaluated over the store table's snapshot.
    * `features` maps output name → DSL expression over the store row.
    */
  def apply(
      spark: SparkSession,
      left: DataFrame,
      store: KvStore,
      table: String,
      features: Seq[(String, String)]): DataFrame = {
    val keyCols = store.keyFields(table)
    val request = analyze(features.map(_._2))
      .filterNot(fr => keyCols.contains(fr.field))
    val fetchFields = keyCols.map(FieldRequest(_, None)) ++ request
    val rows = store.fetch(table, fetchFields)
    require(rows.nonEmpty, "lookup join against an empty store table")
    val snapshot = KvStore.toDf(spark, store.schema(table), rows, fetchFields.map(_.field))
    var out = left.join(broadcast(snapshot), keyCols, "left")
    features.foreach { case (name, e) =>
      out = out.withColumn(name, SparkCompiler.compile(e))
    }
    // drop raw fetched columns unless a feature output reuses the name
    val keep = features.map(_._1).toSet ++ keyCols
    out.drop(request.map(_.field).filterNot(keep.contains): _*)
  }
}
