package graft.table

import graft.types.{DType, Schema}
import org.apache.spark.sql.Row

import scala.concurrent.duration.Duration
import scala.language.implicitConversions

/** Aggregation functions supported by window transforms
  * (ref: python/feathub/feature_views/transforms/agg_func.py:21-53).
  */
sealed abstract class AggFunc(val name: String)
object AggFunc {
  case object Avg extends AggFunc("AVG")
  case object Sum extends AggFunc("SUM")
  case object Max extends AggFunc("MAX")
  case object Min extends AggFunc("MIN")
  case object FirstValue extends AggFunc("FIRST_VALUE")
  case object LastValue extends AggFunc("LAST_VALUE")
  case object RowNumber extends AggFunc("ROW_NUMBER")
  case object Count extends AggFunc("COUNT")
  case object ValueCounts extends AggFunc("VALUE_COUNTS")
  case object CollectList extends AggFunc("COLLECT_LIST")

  val all: Seq[AggFunc] =
    Seq(Avg, Sum, Max, Min, FirstValue, LastValue, RowNumber, Count, ValueCounts, CollectList)

  def apply(name: String): AggFunc =
    all.find(_.name == name.toUpperCase).getOrElse(
      throw new IllegalArgumentException(s"Unknown agg func $name"))
}

/** Transformations a Feature can carry
  * (ref: python/feathub/feature_views/transforms/).
  */
sealed trait Transformation

/** Per-row derived column from a DSL expression
  * (ref: expression_transform.py:20-39). */
final case class ExpressionTransform(expr: String) extends Transformation

/** Row → scalar Scala function over the whole input row; the Scala-native
  * analogue of the reference's PythonUdfTransform
  * (ref: python_udf_transform.py:24-87). `resultType` declares the output.
  * If `valueOnException` is set, errors map to that value instead of failing
  * (ref: python_udf_transform.py:61-70).
  */
final case class UdfTransform(
    udf: Row => Any,
    resultType: DType,
    failOnException: Boolean = true,
    valueOnException: Any = null) extends Transformation

/** Point-in-time join of one feature from another table, keyed by the host
  * feature's keys (ref: join_transform.py:20-56). `featureExpr` is usually a
  * feature name; it may be a map subscript like `m['k']`.
  */
final case class JoinTransform(tableName: String, featureExpr: String) extends Transformation

/** Per-input-row aggregation over a trailing time window and/or last-N rows
  * (ref: over_window_transform.py:22-88).
  */
final case class OverWindowTransform(
    expr: String,
    aggFunc: AggFunc,
    windowSize: Option[Duration] = None,
    groupByKeys: Seq[String] = Nil,
    filterExpr: Option[String] = None,
    limit: Option[Int] = None) extends Transformation
// Note: ROW_NUMBER with window_size/limit is supported (the row's position
// within the bounded frame — Flink semantics per
// test_over_window_transform.py:646-680; the reference's Spark processor
// rejects the combination, a gap this engine closes).

/** Hopping event-time window aggregation emitting at each step
  * (ref: sliding_window_transform.py:23-101). Zero window size ⇒ infinite
  * (cumulative) window; zero step ⇒ emit per record.
  */
final case class SlidingWindowTransform(
    expr: String,
    aggFunc: AggFunc,
    windowSize: Duration,
    stepSize: Duration,
    groupByKeys: Seq[String] = Nil,
    filterExpr: Option[String] = None,
    limit: Option[Int] = None) extends Transformation {
  require(
    !(windowSize.toMillis == 0 && stepSize.toMillis != 0),
    "zero window size with non-zero step size is not supported")
  require(
    !(windowSize.toMillis != 0 && stepSize.toMillis == 0),
    "non-zero window size must have non-zero step size")
  if (windowSize.toMillis > 0 && stepSize.toMillis > 0)
    require(
      windowSize.toMillis % stepSize.toMillis == 0,
      "window_size must be a multiple of step_size")
}

/** A named column of a table: either a physical field or a derived feature
  * (ref: python/feathub/feature_views/feature.py:42-110). Keys default to
  * the window transform's group-by keys (feature.py:93-103).
  */
final case class Feature(
    name: String,
    transform: Transformation,
    dtype: Option[DType] = None,
    keys: Option[Seq[String]] = None,
    metrics: Seq[Metric] = Nil) {
  def resolvedKeys: Option[Seq[String]] = keys.orElse(transform match {
    case t: OverWindowTransform if t.groupByKeys.nonEmpty    => Some(t.groupByKeys)
    case t: SlidingWindowTransform if t.groupByKeys.nonEmpty => Some(t.groupByKeys)
    case _                                                   => None
  })
}

object Feature {
  /** Convenience: a feature defined by a DSL expression string. */
  def expr(name: String, e: String, dtype: Option[DType] = None): Feature =
    Feature(name, ExpressionTransform(e), dtype)
}

object Transformation {
  /** A bare string as a transform is ExpressionTransform shorthand
    * (ref: feature.py:60-66 accepts `transform="a + b"`).
    */
  implicit def fromString(expr: String): Transformation = ExpressionTransform(expr)
}

/** A table referenced by descriptor or by registered name — the reference's
  * `source: Union[str, TableDescriptor]` surface
  * (ref: derived_feature_view.py:52-60, 138-143).
  */
sealed trait TableRef
final case class TableDesc(desc: TableDescriptor) extends TableRef
final case class TableName(tableName: String) extends TableRef
object TableRef {
  implicit def fromDesc(d: TableDescriptor): TableRef = TableDesc(d)
  implicit def fromName(s: String): TableRef = TableName(s)
}

/** A feature given as a full [[Feature]] or as a string reference
  * (ref: derived_feature_view.py:61-75): `"f"` passes a source feature
  * through, `"table.f"` point-in-time-joins `f` from a registered table,
  * and `"table.m['k']"` joins a static map-entry lookup.
  */
sealed trait FeatureRef
final case class FeatureDef(feature: Feature) extends FeatureRef
final case class FeatureStr(ref: String) extends FeatureRef
object FeatureRef {
  implicit def fromFeature(f: Feature): FeatureRef = FeatureDef(f)
  implicit def fromString(s: String): FeatureRef = FeatureStr(s)
}

/** Timestamp formats: "epoch" (seconds), "epoch_millis", "auto" (native
  * TIMESTAMP column), or a strftime pattern
  * (ref: python/feathub/table/table_descriptor.py:37-50).
  */
sealed trait TableDescriptor {
  def name: String
  def keys: Option[Seq[String]]
  def timestampField: Option[String]
  def timestampFormat: String
  /** Recursive bounded twin of this descriptor tree — reference
    * `get_bounded_view()` parity; see [[Bounded.boundedView]].
    */
  def boundedView: TableDescriptor = Bounded.boundedView(this)
  /** Whether the whole tree is bounded (reference `is_bounded()`). */
  def isBoundedView: Boolean = Bounded.isBounded(this)
}

/** Batch/stream file scan (ref: python/feathub/feature_tables/sources/
  * file_system_source.py:22-105). `format` ∈ csv/json/parquet.
  * `isBounded = false` reads via Structured Streaming (readStream; requires
  * an explicit schema, per Spark's streaming file source).
  *
  * A batch read without a declared `schema` infers it, which is a Spark
  * job, at most once per process for each unchanged input
  * (`Sources.readInferred`): the inferred schema is kept under the format,
  * the path, the reader options, the session's set SQL confs and the
  * sorted listing of the files under the path as (path, length,
  * modification time), and later reads with an equal key pass it to the
  * reader. A rewritten or added file, or a changed conf, therefore infers
  * again. At most 256 schemas are kept; reaching the bound forgets them all.
  */
final case class FileSource(
    name: String,
    path: String,
    format: String,
    schema: Option[Schema] = None,
    keys: Option[Seq[String]] = None,
    timestampField: Option[String] = None,
    timestampFormat: String = "auto",
    maxOutOfOrderness: Duration = Duration.Zero,
    isBounded: Boolean = true) extends TableDescriptor

/** A pre-built (possibly streaming) DataFrame wrapped as a table — the
  * programmatic source for tests and embedding apps (e.g. a MemoryStream or
  * an already-loaded frame). Not JSON round-trippable by design.
  */
final case class DataFrameSource(
    name: String,
    df: org.apache.spark.sql.DataFrame,
    keys: Option[Seq[String]] = None,
    timestampField: Option[String] = None,
    timestampFormat: String = "auto",
    maxOutOfOrderness: Duration = Duration.Zero) extends TableDescriptor

/** Deterministic data generator (ref: python/feathub/feature_tables/
  * sources/datagen_source.py:27-232). Fields are either random in
  * [minimum, maximum] or a sequence [start, end]. A timestamp
  * RandomField with `maxPast` > 0 draws from [now - maxPast, now]
  * (datagen_source.py:36-53) instead of the [minimum, maximum] range.
  */
sealed trait GenField { def name: String }
final case class RandomField(
    name: String, dtype: DType, minimum: Double = 0, maximum: Double = 1,
    length: Int = 17, maxPast: Duration = Duration.Zero) extends GenField
final case class SequenceField(name: String, dtype: DType, start: Long = 0, end: Long = Long.MaxValue) extends GenField

/** `unbounded=true` emits `rowsPerSecond` rows forever through Spark's
  * `rate` streaming source with the SAME deterministic per-row column
  * synthesis (the reference's unbounded mode, datagen_source.py:123-140 —
  * rows_per_second controls the emit rate when no row count is set);
  * `numberOfRows` is ignored in that mode.
  */
final case class DataGenSource(
    name: String,
    numberOfRows: Long,
    fields: Seq[GenField],
    seed: Long = 42L,
    keys: Option[Seq[String]] = None,
    timestampField: Option[String] = None,
    timestampFormat: String = "auto",
    rowsPerSecond: Long = 10000L,
    unbounded: Boolean = false) extends TableDescriptor

/** Derived view: per-row exprs + over windows + PIT joins, row-count
  * preserving (minus filter)
  * (ref: python/feathub/feature_views/derived_feature_view.py:39-297).
  */
final case class DerivedFeatureView(
    name: String,
    source: TableDescriptor,
    features: Seq[Feature],
    keepSourceFields: Boolean = false,
    filterExpr: Option[String] = None,
    keys: Option[Seq[String]] = None,
    /** Report the SOURCE view chain's attached metrics too when this view
      * materializes (ref: feature_view.py:48-82 `keep_source_metrics`).
      */
    keepSourceMetrics: Boolean = false) extends TableDescriptor {
  def timestampField: Option[String] = source.timestampField
  def timestampFormat: String = source.timestampFormat
  /** Declared keys, inherited through a chain of derived views when not
    * declared here (the reference inherits keys from the source the same
    * way, feature_view.py keys resolution).
    */
  def resolvedKeys: Option[Seq[String]] = keys.orElse(source match {
    case dv: DerivedFeatureView => dv.resolvedKeys
    case other                  => other.keys
  })
}

/** Derived view whose source and/or features are still string references —
  * the reference's primary ergonomic surface
  * (ref: derived_feature_view.py:39-169). `build()` resolves the strings
  * against the [[graft.engine.Registry]], validates that every feature only
  * depends on features declared earlier or source fields, registers the
  * resolved view, and returns it.
  */
final case class UnresolvedDerivedFeatureView(
    name: String,
    source: TableRef,
    features: Seq[FeatureRef],
    keepSourceFields: Boolean = false,
    filterExpr: Option[String] = None,
    keys: Option[Seq[String]] = None) {
  def build(): DerivedFeatureView = Resolver.resolveDerived(this)
}

/** Sliding view with unresolved string references: strings must name
  * source fields (join references are invalid in a sliding view, ref:
  * test_sliding_feature_view.py:90-105); resolution then constructs the
  * [[SlidingFeatureView]], whose own validations (grouping-key rule,
  * shared step/keys, emission-config combos) apply.
  */
final case class UnresolvedSlidingFeatureView(
    name: String,
    source: TableRef,
    features: Seq[FeatureRef],
    filterExpr: Option[String] = None,
    enableEmptyWindowOutput: Boolean = true,
    skipSameWindowOutput: Boolean = true,
    timestampFieldName: String = "window_time",
    outputTimestampFormat: String = "epoch_millis") {
  def build(): SlidingFeatureView = Resolver.resolveSliding(this)
}

/** Sliding view: only expression + sliding-window transforms; all windows
  * share step and keys; output = keys + window_time + agg features
  * (ref: python/feathub/feature_views/sliding_feature_view.py:77-298).
  */
final case class SlidingFeatureView(
    name: String,
    source: TableDescriptor,
    features: Seq[Feature],
    filterExpr: Option[String] = None,
    enableEmptyWindowOutput: Boolean = true,
    skipSameWindowOutput: Boolean = true,
    timestampFieldName: String = "window_time",
    outputTimestampFormat: String = "epoch_millis",
    /** Report the SOURCE view chain's attached metrics too when this view
      * materializes (ref: feature_view.py:48-82 `keep_source_metrics`).
      */
    keepSourceMetrics: Boolean = false) extends TableDescriptor {
  // Skip-same without empty-window rows would drop legitimate outputs
  // (ref: python/feathub/feature_views/sliding_feature_view.py:188-195).
  require(
    enableEmptyWindowOutput || !skipSameWindowOutput,
    "SlidingFeatureView: enable_empty_window_output=false with " +
      "skip_same_window_output=true is not supported — without empty-window " +
      "rows the skip-same comparison drops legitimate outputs")
  // Join features are invalid in a sliding view — rejected at construction
  // like the reference's build() (test_sliding_feature_view.py:90-105).
  locally {
    val bad = features.filter(_.transform.isInstanceOf[JoinTransform]).map(_.name)
    require(bad.isEmpty,
      s"SlidingFeatureView does not accept join features: ${bad.mkString(", ")}")
  }
  private val sliding = features.map(_.transform).collect { case t: SlidingWindowTransform => t }
  require(sliding.nonEmpty, "SlidingFeatureView requires at least one SlidingWindowTransform feature")
  require(sliding.map(_.stepSize).distinct.size == 1, "all sliding windows must share step_size")
  require(sliding.map(_.groupByKeys).distinct.size == 1, "all sliding windows must share group_by_keys")
  // Pre-window per-row features must serve as grouping keys — anything else
  // would be dropped by the keys+window_time+aggregates output contract
  // (ref: sliding_feature_view.py:478-488 "not used as grouping key").
  locally {
    val keys = sliding.head.groupByKeys.toSet
    val preNonKey = features
      .takeWhile(f => !f.transform.isInstanceOf[SlidingWindowTransform])
      .filter(f => f.transform.isInstanceOf[ExpressionTransform] ||
        f.transform.isInstanceOf[UdfTransform])
      .map(_.name)
      .filterNot(keys.contains)
    require(
      preNonKey.isEmpty,
      s"SlidingFeatureView: ${preNonKey.mkString(", ")} are not used as grouping " +
        "key of the sliding windows")
  }

  def stepSize: Duration = sliding.head.stepSize
  def groupByKeys: Seq[String] = sliding.head.groupByKeys
  def keys: Option[Seq[String]] = Some(groupByKeys)
  def timestampField: Option[String] = Some(timestampFieldName)
  def timestampFormat: String = outputTimestampFormat
}

/** Online-serving view: features computed per request — expression
  * transforms over the request row plus lookup joins into online-store
  * tables (ref: python/feathub/feature_views/on_demand_feature_view.py:
  * 31-178; its source is the implicit request "table"). Evaluated by
  * [[graft.client.GraftClient.getOnlineFeatures]] without a Spark job.
  */
final case class OnDemandFeatureView(
    name: String,
    features: Seq[Feature],
    requestFields: Seq[String],
    keepSourceFields: Boolean = true) extends TableDescriptor {
  features.foreach { f =>
    require(
      f.transform.isInstanceOf[ExpressionTransform] || f.transform.isInstanceOf[JoinTransform],
      s"OnDemandFeatureView only accepts Expression/Join features, got ${f.transform}")
  }
  def keys: Option[Seq[String]] = None
  def timestampField: Option[String] = None
  def timestampFormat: String = "auto"
}

/** Kafka scan/write (ref: python/feathub/feature_tables/sources/
  * kafka_source.py:25-131). Values are JSON-encoded with the declared
  * schema; bounded mode uses the batch Kafka reader (Spark has this built
  * in — the reference needed a custom BoundedKafkaDynamicSource on Flink).
  * `startupMode` ∈ earliest-offset / latest-offset / group-offsets /
  * timestamp (the reference DEFAULTS to group-offsets,
  * kafka_source.py:42,76-79; ours keeps earliest-offset as the default for
  * API compatibility with existing descriptors but supports all four).
  * group-offsets resolves the group's committed offsets up front (see
  * [[graft.engine.KafkaOffsets]]) into Spark `startingOffsets` JSON —
  * Spark has no native committed-offset resume.
  *
  * `partitionDiscoveryIntervalMs` (kafka_source.py:44,89) is accepted for
  * descriptor parity and IGNORED: Spark's Kafka source re-fetches topic
  * metadata every micro-batch, so dynamically created partitions are
  * discovered automatically with no interval to configure.
  */
final case class KafkaSource(
    name: String,
    bootstrapServer: String,
    topic: String,
    schema: Schema,
    keys: Option[Seq[String]] = None,
    timestampField: Option[String] = None,
    timestampFormat: String = "auto",
    startupMode: String = "earliest-offset",
    startupTimestampMillis: Option[Long] = None,
    maxOutOfOrderness: Duration = Duration.Zero,
    isBounded: Boolean = false,
    // value payload format ∈ json / csv / raw / protobuf
    // (ref: feature_tables/sources/kafka_source.py value_format +
    // docs/content/connectors/formats/*); format props mirror
    // value_data_format_props (protobuf.field_numbers, ignore_parse_error)
    valueFormat: String = "json",
    valueFormatProps: Map[String, String] = Map.empty,
    // key_format (kafka_source.py:54-57): when set, the key payload
    // carries the key columns and the value carries the rest (the Flink
    // layout key.fields + value.fields-include=EXCEPT_KEY,
    // table_builder/kafka_utils.py:134-135); None = keyless message
    keyFormat: Option[String] = None,
    keyFormatProps: Map[String, String] = Map.empty,
    // consumer group id (kafka_source.py:36,61-62) — required for
    // startup_mode=group-offsets, otherwise advisory (passed through as
    // kafka.group.id when set)
    consumerGroup: Option[String] = None,
    // extra consumer properties (kafka_source.py:72-73), passed through
    // with Spark's "kafka." option prefix
    consumerProps: Map[String, String] = Map.empty,
    // accepted-and-ignored: Spark discovers partitions per micro-batch
    partitionDiscoveryIntervalMs: Option[Long] = None) extends TableDescriptor

/** Scan of an in-process online-store table (latest-per-key snapshot) —
  * the serving-store read-back path
  * (ref: python/feathub/feature_tables/sources/memory_store_source.py:24-40).
  */
final case class MemoryStoreSource(
    name: String,
    tableName: String,
    keys: Option[Seq[String]] = None) extends TableDescriptor {
  def timestampField: Option[String] = None
  def timestampFormat: String = "auto"
}

/** Catalog (Hive) table scan (ref: python/feathub/feature_tables/sources/
  * hive_source.py:47-140). On Spark the session's catalog IS the Hive
  * metastore connection, so `spark.table(database.table)` replaces the
  * reference's per-source hive-site.xml catalog wiring; an optional schema
  * prunes/casts the scan to the declared columns.
  */
final case class HiveSource(
    name: String,
    database: String,
    table: String,
    schema: Option[Schema] = None,
    keys: Option[Seq[String]] = None,
    timestampField: Option[String] = None,
    timestampFormat: String = "auto") extends TableDescriptor

/** Redis-backed feature table (ref: python/feathub/feature_tables/sources/
  * redis_source.py:40-120). Lookup-only, like the reference ("can only
  * read feature values written with RedisSink"): probe it with
  * [[graft.client.GraftClient.redisLookupJoin]]. `keyExpr` is a DSL
  * expression over the key fields plus the `__NAMESPACE__` / `__KEYS__` /
  * `__FEATURE_NAME__` keywords, resolved at compile time. The physical
  * client behind it is the pluggable [[graft.client.RedisStringStore]]
  * seam (in-process map here; a Jedis-style client plugs in at deploy).
  */
final case class RedisSource(
    name: String,
    schema: Schema,
    keys: Option[Seq[String]],
    host: String,
    port: Int = 6379,
    mode: String = "standalone",
    username: String = "",
    password: String = "",
    dbNum: Int = 0,
    namespace: String = "default",
    timestampField: Option[String] = None,
    keyExpr: String = RedisDefaults.KeyExpr) extends TableDescriptor {
  def timestampFormat: String = "auto"
}

object RedisDefaults {
  /** Default physical-key recipe (redis_source.py:60):
    * namespace:key1:key2:...:feature.
    */
  val KeyExpr = """CONCAT_WS(":", __NAMESPACE__, __KEYS__, __FEATURE_NAME__)"""
}

/** JDBC table scan — the reference's MySQLSource generalized to any JDBC
  * URL (ref: python/feathub/feature_tables/sources/mysql_source.py:22-61;
  * Spark's built-in jdbc reader replaces the reference's custom connector).
  */
final case class JdbcSource(
    name: String,
    url: String,
    table: String,
    user: String = "",
    password: String = "",
    keys: Option[Seq[String]] = None,
    timestampField: Option[String] = None,
    timestampFormat: String = "auto") extends TableDescriptor

/** Passthrough SQL executed on Spark's SQL interface with upstream tables
  * registered as temp views
  * (ref: python/feathub/feature_views/sql_feature_view.py:25-160).
  */
final case class SqlFeatureView(
    name: String,
    sqlStatement: String,
    dependencies: Seq[TableDescriptor] = Nil,
    keys: Option[Seq[String]] = None,
    timestampField: Option[String] = None,
    timestampFormat: String = "auto") extends TableDescriptor

/** Sinks (ref: python/feathub/feature_tables/sinks/).
  * FileSink.partitionColumns hive-partitions the output directory — the
  * layout that lets downstream time/key-range reads prune whole partitions
  * at 100 TB.
  */
sealed trait Sink
final case class FileSink(
    path: String,
    format: String = "parquet",
    mode: String = "overwrite",
    partitionColumns: Seq[String] = Nil) extends Sink
final case class PrintSink(numRows: Int = 20) extends Sink
case object BlackHoleSink extends Sink
final case class MemoryStoreSink(tableName: String) extends Sink
/** Rows encoded into the value per `valueFormat` (json default; protobuf
  * uses the proto3 wire codec with schema-ordered field numbers unless
  * `valueFormatProps` overrides); key columns concatenated into the key.
  * `producerProps` pass through with Spark's `kafka.` option prefix;
  * `keepTimestampField=false` drops the table's declared timestamp field
  * from the payload (ref: feature_tables/sinks/kafka_sink.py:27-50).
  */
final case class KafkaSink(
    bootstrapServer: String,
    topic: String,
    valueFormat: String = "json",
    valueFormatProps: Map[String, String] = Map.empty,
    keyFormat: Option[String] = None,
    keyFormatProps: Map[String, String] = Map.empty,
    producerProps: Map[String, String] = Map.empty,
    keepTimestampField: Boolean = true) extends Sink
/** JDBC append/overwrite (the reference's MySQLSink, generalized). */
final case class JdbcSink(url: String, table: String, user: String = "", password: String = "", mode: String = "append") extends Sink
/** Managed-catalog (Hive) table write (ref: python/feathub/feature_tables/
  * sinks/hive_sink.py — saveAsTable replaces the reference's Flink Hive
  * connector; partition columns hive-partition the layout for downstream
  * pruning).
  */
final case class HiveSink(
    database: String,
    table: String,
    format: String = "parquet",
    mode: String = "overwrite",
    partitionColumns: Seq[String] = Nil) extends Sink
/** Per-feature KV write into Redis under keys computed by `keyExpr`
  * (ref: python/feathub/feature_tables/sinks/redis_sink.py:25-90; same
  * keyword substitution as [[RedisSource]]).
  */
final case class RedisSink(
    host: String,
    port: Int = 6379,
    mode: String = "standalone",
    username: String = "",
    password: String = "",
    dbNum: Int = 0,
    namespace: String = "default",
    keyExpr: String = RedisDefaults.KeyExpr) extends Sink
/** Prometheus PushGateway sink (ref: python/feathub/feature_tables/sinks/
  * prometheus_sink.py:21-74): numeric columns push as gauges in text
  * exposition format, grouped by `jobName` plus `extraLabels`;
  * `deleteOnShutdown` issues a best-effort DELETE of the group when the
  * owning metric store shuts down.
  */
final case class PrometheusSink(
    serverUrl: String,
    jobName: String,
    deleteOnShutdown: Boolean = false,
    extraLabels: Map[String, String] = Map.empty) extends Sink
/** Bucketed managed/external table write: tables bucketed on their join key
  * with the same bucket count join WITHOUT a shuffle — the co-location
  * strategy for repeatedly-joined 100 TB fact tables.
  */
final case class BucketedTableSink(
    table: String,
    numBuckets: Int,
    bucketColumns: Seq[String],
    sortColumns: Seq[String] = Nil,
    path: Option[String] = None,
    format: String = "parquet") extends Sink
