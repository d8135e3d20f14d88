package graft.engine

import graft.table.{DataGenSource, FileSource, HiveSource, KafkaSource, RandomField, SequenceField}
import graft.types._
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.concurrent.duration.Duration

/** Physical sources (ref: python/feathub/processors/spark/
  * dataframe_builder/source_sink_utils.py:41-71 and
  * feature_tables/sources/datagen_source.py).
  */
object Sources {

  def read(spark: SparkSession, s: FileSource): DataFrame = {
    if (!s.isBounded) return readStream(spark, s)
    // Reference CSV semantics: a DECLARED schema means headerless data —
    // every line is a record and names come from the schema
    // (local/file_system_utils.py:43-50 `pd.read_csv(names=...)`); only a
    // schema-less read treats the first line as the header to infer from.
    val df = s.schema match {
      case Some(sc) =>
        val reader = spark.read.format(s.format)
        (if (s.format == "csv") reader.option("header", "false") else reader)
          .schema(sc.toSpark).load(s.path)
      case None =>
        val opts =
          if (s.format == "csv") Map("header" -> "true", "inferSchema" -> "true")
          else Map.empty[String, String]
        readInferred(spark, s.format, s.path, opts)
    }
    EventTime.append(df, s.timestampField, s.timestampFormat)
  }

  /** Key of one inferred schema: everything the inference reads. The set
    * SQL confs are part of it because some change the inferred types
    * (`spark.sql.legacy.parquet.nanosAsLong` reads TIMESTAMP(NANOS) as
    * int64), and the leaf files are listed as (path, length, modification
    * time) so that a rewritten or added file misses.
    */
  private final case class SchemaKey(
      format: String,
      path: String,
      options: Map[String, String],
      confs: Map[String, String],
      files: Seq[(String, Long, Long)])

  /** Bound on remembered schemas; the map is emptied when it is reached. */
  private val MaxSchemas = 256
  // concurrent: a MaterializationGroup builds its views on several threads
  private val schemas = new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]()

  /** Batch read of `path` without a declared schema. Schema inference is a
    * Spark job (parquet reads part-file footers, CSV scans the data), so
    * the inferred schema is remembered per [[SchemaKey]] and a later read
    * of the unchanged input passes it to the reader instead, which starts
    * no job. A path that lists no file is read as is, so that the reader
    * reports it.
    */
  def readInferred(
      spark: SparkSession,
      format: String,
      path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.format(format).options(options)
    leafFiles(spark, path) match {
      case None => reader.load(path)
      case Some(files) =>
        val key = SchemaKey(format, path, options, spark.conf.getAll, files)
        schemas.get(key) match {
          case null =>
            val df = reader.load(path)
            if (schemas.size >= MaxSchemas) schemas.clear()
            schemas.put(key, df.schema)
            df
          case schema => reader.schema(schema).load(path)
        }
    }
  }

  /** The files under `path` (a file, a directory or a glob), sorted, as
    * (path, length, modification time); None when nothing matches.
    */
  private def leafFiles(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(st: FileStatus): Iterator[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).iterator.flatMap(leaves)
      else Iterator(st)
    Option(fs.globStatus(p)).filter(_.nonEmpty).map { roots =>
      roots.iterator.flatMap(leaves)
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        .toVector.sorted
    }
  }

  /** Unbounded scan via Structured Streaming; Spark's streaming file source
    * requires an explicit schema (no inference on a moving directory).
    */
  private def readStream(spark: SparkSession, s: FileSource): DataFrame = {
    val schema = s.schema.getOrElse(throw new IllegalArgumentException(
      s"streaming FileSource ${s.name} requires an explicit schema"))
    val reader = spark.readStream.format(s.format).schema(schema.toSpark)
    // declared schema => headerless csv, same contract as the batch read
    val df = (if (s.format == "csv") reader.option("header", "false") else reader).load(s.path)
    EventTime.append(df, s.timestampField, s.timestampFormat)
  }

  /** Catalog table scan (ref: feature_tables/sources/hive_source.py:47-140).
    * The session catalog already speaks to the metastore, so this is a
    * plain `spark.table` — partition pruning and column pruning on the
    * underlying Hive/parquet layout come from Catalyst as usual. A declared
    * schema projects and casts to exactly those columns.
    */
  def readHive(spark: SparkSession, s: HiveSource): DataFrame = {
    val df = spark.table(s"${s.database}.${s.table}")
    val projected = s.schema match {
      case Some(sc) =>
        df.select(sc.fieldNames.zip(sc.fieldTypes).map {
          case (n, t) => col(n).cast(t.toSpark).as(n)
        }: _*)
      case None => df
    }
    EventTime.append(projected, s.timestampField, s.timestampFormat)
  }

  /** Kafka scan: JSON values decoded with the declared schema
    * (ref: python/feathub/feature_tables/sources/kafka_source.py:25-131 —
    * startup_mode ∈ earliest-offset/latest-offset/group-offsets/timestamp).
    * Bounded mode uses Spark's batch Kafka reader, which the reference had
    * to hand-build for Flink (BoundedKafkaDynamicSource.java).
    * group-offsets — the reference's default — resolves the consumer
    * group's committed offsets at plan time ([[KafkaOffsets]]) into
    * `startingOffsets` offsets-JSON, since Spark has no native resume.
    */
  def readKafka(spark: SparkSession, s: KafkaSource): DataFrame = {
    val opts = kafkaReadOptions(s)
    val raw =
      if (s.isBounded) spark.read.format("kafka").options(opts).load()
      else spark.readStream.format("kafka").options(opts).load()
    decodeKafkaRecords(raw, s)
  }

  /** Sink-side payload prep: `keep_timestamp_field=false` drops the
    * table's declared timestamp field before encoding
    * (ref: feature_tables/sinks/kafka_sink.py:50).
    */
  private[graft] def kafkaSinkPayload(
      df: DataFrame, timestampField: Option[String], keepTs: Boolean): DataFrame =
    if (keepTs) df else timestampField.map(df.drop(_)).getOrElse(df)

  /** The reader option map for a [[KafkaSource]] — split out so startup
    * modes are assertable without a broker. Consumer properties pass
    * through with Spark's `kafka.` prefix; the group id (when declared)
    * rides along as `kafka.group.id` for broker-side attribution.
    */
  private[graft] def kafkaReadOptions(s: KafkaSource): Map[String, String] = {
    val group = s.consumerGroup.map(g => Map("kafka.group.id" -> g))
      .getOrElse(Map.empty)
    val extra = s.consumerProps.map { case (k, v) => s"kafka.$k" -> v }
    Map(
      "kafka.bootstrap.servers" -> s.bootstrapServer,
      "subscribe" -> s.topic) ++ group ++ extra ++ (s.startupMode match {
      case "earliest-offset" => Map("startingOffsets" -> "earliest")
      case "latest-offset"   => Map("startingOffsets" -> "latest")
      case "group-offsets" => Map("startingOffsets" ->
        KafkaOffsets.startingOffsetsJson(
          s.bootstrapServer,
          s.consumerGroup.getOrElse(throw new IllegalArgumentException(
            "startupMode=group-offsets requires consumerGroup")),
          s.topic))
      case "timestamp" => Map("startingTimestamp" ->
        s.startupTimestampMillis.getOrElse(throw new IllegalArgumentException(
          "startupMode=timestamp requires startupTimestampMillis")).toString)
      case other => throw new IllegalArgumentException(
        s"Unknown startup mode $other (expected earliest-offset, " +
          "latest-offset, group-offsets, or timestamp)")
    })
  }

  /** Decode ONE Kafka payload column (`key` or `value`) into `fieldNames`,
    * carrying the `keep` columns through. json/csv decode relationally
    * (`from_json`/`from_csv` — codegen'd, no UDF); `raw` maps the bare
    * payload onto a single declared column; `protobuf` crosses the codec
    * boundary via mapPartitions (one JVM call per row, schema-typed Row
    * output, no Python round-trip).
    */
  private def decodePayload(
      df: DataFrame,
      payloadCol: String,
      format: String,
      fieldNames: Seq[String],
      fieldTypes: Seq[graft.types.DType],
      props: Map[String, String],
      keep: Seq[String],
      ctx: String): DataFrame = {
    val structType = org.apache.spark.sql.types.StructType(
      fieldNames.zip(fieldTypes).map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t.toSpark, nullable = true)
      })
    val keepCols = keep.map(col)
    format match {
      case "json" =>
        df.withColumn("__d", from_json(col(payloadCol).cast("string"), structType))
          .select(keepCols ++ fieldNames.map(n => col(s"__d.$n").as(n)): _*)
      case "csv" =>
        // ignore_parse_error (reference generic prop) maps to the parser
        // mode; remaining props pass through as Spark CSV options
        val csvOpts = (props - "ignore_parse_error") +
          ("mode" -> (if (ProtoFormat.ignoreParseError(props)) "PERMISSIVE" else "FAILFAST"))
        df.withColumn("__d", from_csv(col(payloadCol).cast("string"), structType, csvOpts))
          .select(keepCols ++ fieldNames.map(n => col(s"__d.$n").as(n)): _*)
      case "raw" =>
        // the reference's raw format: the whole payload is one field
        require(fieldNames.size == 1,
          s"raw format requires a single-column payload ($ctx)")
        df.select(keepCols :+ (fieldTypes.head match {
          case graft.types.DBytes => col(payloadCol).cast("binary").as(fieldNames.head)
          case t => col(payloadCol).cast("string").cast(t.toSpark).as(fieldNames.head)
        }): _*)
      case "protobuf" =>
        import org.apache.spark.sql.{Encoders, Row}
        val nums = ProtoFormat.fieldNumbers(fieldNames, props)
        val lenient = ProtoFormat.ignoreParseError(props)
        val nFields = fieldTypes.size
        val in = df.select(col(payloadCol).cast("binary").as("__p") +: keepCols: _*)
        val outSchema = org.apache.spark.sql.types.StructType(
          keep.map(in.schema(_)) ++ structType.fields)
        in.mapPartitions { it =>
          it.map { r =>
            val bytes = r.getAs[Array[Byte]](0)
            val kept = (1 to keep.size).map(r.get)
            val decoded =
              try ProtoFormat.decode(bytes, fieldTypes, nums).toSeq
              catch {
                case e: Exception if lenient =>
                  Seq.fill[Any](nFields)(null) // reference: null out bad rows
                case e: Exception =>
                  throw new IllegalArgumentException(
                    s"protobuf decode failed for $ctx", e)
              }
            Row.fromSeq(kept ++ decoded)
          }
        }(Encoders.row(outSchema))
      case other => throw new IllegalArgumentException(
        s"Unknown Kafka format '$other' for $ctx (json/csv/raw/protobuf)")
    }
  }

  /** Decode Kafka-shaped records (binary `key`/`value` columns) into the
    * declared schema — split out so the decode contract is testable
    * without a broker; it is the exact inverse of [[toKafkaRecords]] for
    * each format combination.
    *
    * With `keyFormat` set, the reference's Flink layout applies
    * (table_builder/kafka_utils.py:134-135): the key payload carries the
    * key columns (`key.fields` = keys) and the value payload carries the
    * REST of the schema (`value.fields-include = EXCEPT_KEY`). With no
    * `keyFormat` the message is assumed keyless and the value carries
    * every column (kafka_source.py:54-57).
    */
  def decodeKafkaRecords(raw: DataFrame, s: KafkaSource): DataFrame = {
    val names = s.schema.fieldNames
    val types = s.schema.fieldTypes
    val parsed = s.keyFormat match {
      case None =>
        decodePayload(raw, "value", s.valueFormat, names, types,
          s.valueFormatProps, keep = Nil, ctx = s"${s.name}.value")
      case Some(kf) =>
        val keys = s.keys.getOrElse(throw new IllegalArgumentException(
          s"KafkaSource ${s.name} declares key_format but no keys"))
        require(keys.forall(names.contains),
          s"keys $keys not all present in schema $names")
        // the raw payload columns are carried through the two-pass decode,
        // so schema fields may not shadow them
        require(!names.contains("key") && !names.contains("value"),
          s"KafkaSource ${s.name} with key_format cannot declare schema " +
            "fields named 'key' or 'value' (they shadow the raw payload columns)")
        val byName = names.zip(types).toMap
        val vNames = names.filterNot(keys.contains)
        val withV = decodePayload(raw, "value", s.valueFormat,
          vNames, vNames.map(byName), s.valueFormatProps,
          keep = Seq("key"), ctx = s"${s.name}.value")
        decodePayload(withV, "key", kf,
          keys, keys.map(byName), s.keyFormatProps,
          keep = vNames, ctx = s"${s.name}.key")
          .select(names.map(col): _*)
    }
    EventTime.append(parsed, s.timestampField, s.timestampFormat)
  }

  /** JDBC scan (ref: python/feathub/feature_tables/sources/
    * mysql_source.py:22-61 — Spark's jdbc reader replaces the reference's
    * custom connector).
    */
  def readJdbc(spark: SparkSession, s: graft.table.JdbcSource): DataFrame = {
    val df = spark.read.format("jdbc")
      .option("url", s.url)
      .option("dbtable", s.table)
      .option("user", s.user)
      .option("password", s.password)
      .load()
    EventTime.append(df, s.timestampField, s.timestampFormat)
  }

  /** Batch snapshot of an in-process online-store table — the read-back
    * path of MemoryStoreSink (ref: python/feathub/feature_tables/sources/
    * memory_store_source.py:24-40), typed as the table was written.
    */
  def fromMemoryStore(spark: SparkSession, s: graft.table.MemoryStoreSource): DataFrame = {
    import graft.client.{KvStore, MemoryOnlineStore}
    val rows = MemoryOnlineStore.snapshotRows(s.tableName)
    require(rows.nonEmpty, s"online store table ${s.tableName} is empty or unknown")
    val schema = MemoryOnlineStore.schemaOf(s.tableName)
    KvStore.toDf(spark, schema, rows, schema.fieldNames.toSeq.sorted)
  }

  /** Encode a subset of `df`'s columns as one Kafka payload column.
    * json/csv are codegen'd expressions; protobuf wraps the wire codec in
    * a binary-returning UDF — a codec-boundary crossing by nature, same
    * class as the decode side's mapPartitions.
    */
  private def encodePayload(
      df: DataFrame,
      format: String,
      names: Seq[String],
      props: Map[String, String],
      ctx: String): Column = format match {
    case "json" => to_json(struct(names.map(col): _*))
    case "csv"  => to_csv(struct(names.map(col): _*))
    case "raw" =>
      require(names.size == 1, s"raw format requires a single column ($ctx)")
      // binary passes through untouched — casting bytes to string mangles
      // any payload that is not valid UTF-8, and the decode side's DBytes
      // branch expects the original bytes back
      if (df.schema(names.head).dataType ==
          org.apache.spark.sql.types.BinaryType) col(names.head)
      else col(names.head).cast("string")
    case "protobuf" =>
      import org.apache.spark.sql.Row
      val types = names.map(n => graft.types.DType.fromSpark(df.schema(n).dataType))
      val nums = ProtoFormat.fieldNumbers(names, props)
      val n = names.size
      val enc = new org.apache.spark.sql.api.java.UDF1[Row, Array[Byte]] {
        override def call(r: Row): Array[Byte] =
          ProtoFormat.encode((0 until n).map(r.get), types, nums)
      }
      udf(enc, org.apache.spark.sql.types.BinaryType)
        .apply(struct(names.map(col): _*))
    case other => throw new IllegalArgumentException(
      s"Unknown Kafka format '$other' for $ctx (json/csv/raw/protobuf)")
  }

  /** Kafka write shape, the exact inverse of [[decodeKafkaRecords]]:
    * with `keyFormat` set, key = the key columns encoded in that format
    * and value = the REMAINING columns (the reference's `key.fields` +
    * `value.fields-include = EXCEPT_KEY` layout,
    * table_builder/kafka_utils.py:215-217); without it, key = "|"-joined
    * key columns (partitioning only) and value = every column.
    */
  def toKafkaRecords(
      df: DataFrame,
      keys: Seq[String],
      valueFormat: String = "json",
      valueFormatProps: Map[String, String] = Map.empty,
      keyFormat: Option[String] = None,
      keyFormatProps: Map[String, String] = Map.empty): DataFrame = {
    val allCols = df.columns.toIndexedSeq
    keyFormat match {
      case None =>
        val keyCol =
          if (keys.nonEmpty) concat_ws("|", keys.map(k => col(k).cast("string")): _*)
          else lit(null).cast("string")
        df.select(keyCol.as("key"),
          encodePayload(df, valueFormat, allCols, valueFormatProps, "value").as("value"))
      case Some(kf) =>
        require(keys.nonEmpty, "key_format requires table keys")
        require(keys.forall(allCols.contains), s"keys $keys not all in $allCols")
        val vNames = allCols.filterNot(keys.contains)
        df.select(
          encodePayload(df, kf, keys, keyFormatProps, "key").as("key"),
          encodePayload(df, valueFormat, vNames, valueFormatProps, "value").as("value"))
    }
  }

  /** Deterministic data generator: sequence fields count from `start`;
    * random fields derive from a seeded hash of (seed, row id, field name)
    * so results are reproducible regardless of parallelism — unlike
    * `rand()`, whose output depends on partitioning
    * (ref behavior: python/feathub/processors/spark/dataframe_builder/
    * datagen_utils.py:36-169 uses deterministic per-field seeds).
    *
    * Unbounded mode rides Spark's `rate` streaming source: the rate
    * source's monotonically increasing `value` becomes the row id feeding
    * the SAME column-synthesis expressions, so a streaming datagen emits
    * the identical rows a bounded one would, paced at `rowsPerSecond`
    * (the reference's unbounded generator, datagen_source.py:123-140).
    */
  def generate(spark: SparkSession, s: DataGenSource): DataFrame = {
    val base =
      if (s.unbounded)
        spark.readStream.format("rate")
          .option("rowsPerSecond", s.rowsPerSecond.toString).load()
          .select(col("value").as("id"))
      else spark.range(s.numberOfRows)
    val cols = s.fields.map {
      case SequenceField(name, dtype, start, _) =>
        (lit(start) + col("id")).cast(dtype.toSpark).as(name)
      case RandomField(name, dtype, minimum, maximum, length, maxPast) =>
        // xxhash64 → uniform in [0,1) → scaled; strings from hex digest.
        val h = xxhash64(lit(s.seed), col("id"), lit(name))
        val u = (pmod(h, lit(1000000007L)).cast("double") / lit(1000000007.0))
        dtype match {
          case DString =>
            substring(md5(concat_ws("-", lit(s.seed), col("id"), lit(name))), 1, length).as(name)
          case DBool => (pmod(h, lit(2)) === 0).as(name)
          case DTimestamp if maxPast > Duration.Zero =>
            // within max_past of NOW (datagen_source.py:36-53);
            // current_timestamp is per-query (batch) / per-microbatch
            // (stream), and the offset within [0, maxPast) stays
            // deterministic per row id
            timestamp_millis((unix_millis(current_timestamp()) -
              (u * lit(maxPast.toMillis.toDouble)).cast("bigint")).cast("bigint")).as(name)
          case DTimestamp =>
            timestamp_millis((lit(minimum) + u * (lit(maximum) - lit(minimum))).cast("bigint")).as(name)
          case _ =>
            (lit(minimum) + u * (lit(maximum) - lit(minimum))).cast(dtype.toSpark).as(name)
        }
    }
    val df = base.select(cols: _*)
    EventTime.append(df, s.timestampField, s.timestampFormat)
  }
}
