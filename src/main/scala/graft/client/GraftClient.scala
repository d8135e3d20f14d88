package graft.client

import graft.engine.{Builder, EventTime, Registry, TemporalJoin}
import graft.expr.SparkCompiler
import graft.table._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** User-facing facade mirroring the reference client's three entry points
  * (ref: python/feathub/feathub_client.py:92-187): offline read
  * (`getFeatures`), ETL write (`materialize`), and online serving
  * (`getOnlineFeatures` via [[MemoryOnlineStore]]).
  */
final class GraftClient(val spark: SparkSession) {

  private val builder = new Builder(spark)

  def registerTable(desc: TableDescriptor): Unit = Registry.register(desc)

  /** Group multiple materializations and execute them as one concurrent
    * submission (ref: feathub_client.py:132-140 create_materialization_group).
    */
  def createMaterializationGroup(): MaterializationGroup =
    new MaterializationGroup(this)

  /** Offline read; optional key-filter and event-time range
    * (ref: python/feathub/processors/spark/
    * spark_dataframe_builder.py:136-148, 360-382).
    */
  def getFeatures(
      desc: TableDescriptor,
      keysDf: Option[DataFrame] = None,
      startMillis: Option[Long] = None,
      endMillis: Option[Long] = None): DataFrame = {
    Registry.register(desc)
    var df = builder.buildWithTime(desc)
    keysDf.foreach(k => df = TemporalJoin.filterByKeys(df, k))
    EventTime.drop(inRange(desc, df, startMillis, endMillis))
  }

  /** `df`, built from `desc` with the engine time column, cut to
    * start <= event time < end; unchanged when neither bound is given.
    */
  private def inRange(
      desc: TableDescriptor,
      df: DataFrame,
      startMillis: Option[Long],
      endMillis: Option[Long]): DataFrame = {
    if (startMillis.isDefined || endMillis.isDefined)
      require(desc.timestampField.isDefined,
        s"Feature ${desc.name} is missing timestamp_field; it cannot be " +
          "ranged by start/end") // ref: spark_dataframe_builder.py:119-126
    var out = df
    startMillis.foreach(s => out = out.filter(col(EventTime.Col) >= s))
    endMillis.foreach(e => out = out.filter(col(EventTime.Col) < e))
    out
  }

  /** Key-filtered read where the key set is itself a table descriptor —
    * its output columns become the filter keys
    * (ref: spark_dataframe_builder.py:75-93 `keys: Union[DataFrame,
    * TableDescriptor]`).
    */
  def getFeatures(
      desc: TableDescriptor,
      keysTable: TableDescriptor): DataFrame =
    getFeatures(desc, Some(builder.build(keysTable)))

  /** Offline read by registered name (ref: the reference accepts either a
    * descriptor or a registry name, feathub_client.py:158-187).
    */
  def getFeatures(name: String): DataFrame = getFeatures(Registry.get(name))

  /** ETL write (ref: python/feathub/processors/spark/
    * dataframe_builder/source_sink_utils.py:96-123).
    */
  def materialize(
      desc: TableDescriptor,
      sink: Sink,
      startMillis: Option[Long] = None,
      endMillis: Option[Long] = None,
      allowOverwrite: Option[Boolean] = None): Unit = {
    Registry.register(desc)
    // allow_overwrite maps to the file write mode exactly as the reference
    // does (source_sink_utils.py:96-103): true → overwrite, false → error
    // on existing data. None (direct call, no policy) keeps the sink's own
    // declared mode — a superset the reference's mode-less FileSystemSink
    // cannot express.
    val sinkEff = (sink, allowOverwrite) match {
      case (f: FileSink, Some(ov)) =>
        f.copy(mode = if (ov) "overwrite" else "error")
      case _ => sink
    }
    // Time-bounded ETL writes: only features with start <= event time < end
    // reach the sink (ref: feathub_client.py:92-116 materialize_features
    // start_datetime/end_datetime).
    def readWithTime(): DataFrame =
      inRange(desc, builder.buildWithTime(desc), startMillis, endMillis)
    def read(): DataFrame = EventTime.drop(readWithTime())
    sinkEff match {
      case FileSink(path, format, mode, partCols) =>
        val w = read().write.format(format).mode(mode)
        (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).save(path)
      case PrintSink(n)   => read().show(n, truncate = false)
      case BlackHoleSink  => read().foreach(_ => ())
      case MemoryStoreSink(tableName) =>
        // Keep the engine event-time column so upsert order uses the
        // descriptor's declared timestampFormat (epoch/epoch_millis/auto/
        // strftime), matching the reference's to_unix_timestamp-based order
        // (ref: python/feathub/online_stores/memory_online_store.py:51-123).
        MemoryOnlineStore.put(
          tableName,
          readWithTime(),
          desc.keys.getOrElse(throw new IllegalArgumentException(
            "MemoryStoreSink requires table keys")))
      case KafkaSink(server, topic, vf, vfp, kf, kfp, pp, keepTs) =>
        val payload =
          graft.engine.Sources.kafkaSinkPayload(read(), desc.timestampField, keepTs)
        graft.engine.Sources
          .toKafkaRecords(payload, desc.keys.getOrElse(Nil), vf, vfp, kf, kfp)
          .write.format("kafka")
          .option("kafka.bootstrap.servers", server)
          .options(pp.map { case (p, v) => s"kafka.$p" -> v })
          .option("topic", topic)
          .save()
      case BucketedTableSink(table, n, bucketCols, sortCols, path, format) =>
        var w = read().write.format(format).mode("overwrite")
          .bucketBy(n, bucketCols.head, bucketCols.tail: _*)
        if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
        path.foreach(p => w = w.option("path", p))
        w.saveAsTable(table)
      case s @ (_: JdbcSink | _: HiveSink | _: RedisSink | _: PrometheusSink) =>
        writer(desc, s)(read())
    }
  }

  /** The write of one DataFrame into a JDBC, Hive, Redis or Prometheus
    * sink, shared by [[materialize]] and [[materializeStream]] (which
    * runs it per micro-batch); key requirements are checked up front.
    */
  private def writer(desc: TableDescriptor, sink: Sink): DataFrame => Unit = sink match {
    case JdbcSink(url, table, user, password, mode) =>
      if (mode == "upsert") {
        val keys = desc.keys.getOrElse(throw new IllegalArgumentException(
          "JdbcSink upsert mode requires table keys"))
        df => graft.engine.JdbcUpsert.upsert(df, url, table, user, password, keys)
      } else df => df.write.format("jdbc")
        .option("url", url).option("dbtable", table)
        .option("user", user).option("password", password)
        .mode(mode).save()
    case HiveSink(database, table, format, mode, partCols) =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $database")
      df => {
        val w = df.write.format(format).mode(mode)
        (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
          .saveAsTable(s"$database.$table")
      }
    case rs: RedisSink =>
      // One SET per (row, feature) under the key_expr-derived physical
      // key, executed per partition through the pluggable client
      // (ref: redis_sink.py + flink table_builder/redis_utils.py:80-107).
      val keys = desc.keys.getOrElse(throw new IllegalArgumentException(
        "RedisSink requires table keys"))
      df => {
        val featureNames = df.columns.toSeq
          .filterNot(keys.contains).filterNot(desc.timestampField.contains)
        val (withKeys, keyCols) = graft.engine.RedisKeys
          .appendPhysicalKeyColumns(df, rs.keyExpr, rs.namespace, keys, featureNames)
        val pairs = featureNames.zip(keyCols)
        withKeys.foreachPartition { (it: Iterator[Row]) =>
          val store = RedisClients.provider(rs)
          it.foreach { r =>
            pairs.foreach { case (f, kc) =>
              val v = r.getAs[Any](f)
              val k = r.getAs[String](kc)
              if (v != null && k != null) store.put(k, String.valueOf(v))
            }
          }
        }
      }
    case ps: PrometheusSink =>
      // Numeric non-key columns push as gauges, keys become labels, and
      // the table's timestamp field (when numeric) the sample timestamp
      // (ref: prometheus_sink.py — the reference pushes each row the
      // same way via the Flink Prometheus reporter).
      val keys = desc.keys.getOrElse(Nil)
      df => {
        val numeric = df.schema.fields.collect {
          case f if !keys.contains(f.name) && !desc.timestampField.contains(f.name) &&
            f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] => f.name
        }.toSeq
        PrometheusPush.push(ps, MetricStore.exposition(
          df.collect().toSeq, numeric, keys, desc.name, desc.timestampField))
      }
    case other =>
      throw new IllegalArgumentException(s"$other has no per-DataFrame writer")
  }

  /** ETL write for unbounded descriptors: starts a Structured Streaming
    * query and returns its handle (the reference returns a ProcessorJob,
    * ref: python/feathub/processors/processor_job.py). PrintSink → console,
    * BlackHoleSink → noop, MemoryStoreSink → per-batch upsert via
    * foreachBatch; JDBC, Hive, Redis and Prometheus sinks run the batch
    * writer per micro-batch.
    */
  def materializeStream(
      desc: TableDescriptor,
      sink: Sink,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    Registry.register(desc)
    val df = builder.buildWithTime(desc)
    require(df.isStreaming, s"${desc.name} is bounded; use materialize")
    val base = EventTime.drop(df).writeStream.option("checkpointLocation", checkpointDir)
    sink match {
      case FileSink(path, format, _, partCols) =>
        val b = base.format(format).option("path", path)
        (if (partCols.nonEmpty) b.partitionBy(partCols: _*) else b).start()
      case PrintSink(n)  => base.format("console").option("numRows", n).start()
      case BlackHoleSink => base.format("noop").start()
      case MemoryStoreSink(tableName) =>
        val keys = desc.keys.getOrElse(throw new IllegalArgumentException(
          "MemoryStoreSink requires table keys"))
        df.writeStream.option("checkpointLocation", checkpointDir)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            MemoryOnlineStore.put(tableName, batch, keys)
          }.start()
      case KafkaSink(server, topic, vf, vfp, kf, kfp, pp, keepTs) =>
        val payload = graft.engine.Sources.kafkaSinkPayload(
          EventTime.drop(df), desc.timestampField, keepTs)
        graft.engine.Sources
          .toKafkaRecords(payload, desc.keys.getOrElse(Nil), vf, vfp, kf, kfp)
          .writeStream.option("checkpointLocation", checkpointDir)
          .format("kafka")
          .option("kafka.bootstrap.servers", server)
          .options(pp.map { case (p, v) => s"kafka.$p" -> v })
          .option("topic", topic)
          .start()
      case s: BucketedTableSink =>
        throw new IllegalArgumentException(
          s"BucketedTableSink(${s.table}) is batch-only — bucketBy requires a table write")
      case s @ (_: JdbcSink | _: HiveSink | _: RedisSink | _: PrometheusSink) =>
        // no native stream sink: each micro-batch goes through the batch
        // writer. Hive appends per micro-batch; JDBC upsert, the natural
        // streaming mode, lands each micro-batch's latest values per key.
        val write = writer(desc, s match {
          case h: HiveSink => h.copy(mode = "append")
          case other => other
        })
        EventTime.drop(df).writeStream.option("checkpointLocation", checkpointDir)
          .foreachBatch { (batch: DataFrame, _: Long) => write(batch) }.start()
    }
  }

  /** Online serving: evaluate an OnDemand-style request — per-request
    * lookups against the online store plus row-level expressions — without
    * launching a Spark job (ref: python/feathub/feature_service/
    * local_feature_service.py:36-146).
    */
  def getOnlineFeatures(
      requestRows: Seq[Map[String, Any]],
      storeTable: String,
      lookupFeatures: Seq[String],
      exprFeatures: Seq[(String, String)] = Nil): Seq[Map[String, Any]] = {
    requestRows.map { req =>
      val enriched = req ++ MemoryOnlineStore
        .get(storeTable, req)
        .map(found => lookupFeatures.flatMap(f => found.get(f).map(f -> _)).toMap)
        .getOrElse(Map.empty)
      enriched ++ exprFeatures.map { case (name, e) =>
        name -> graft.expr.RowInterpreter.eval(e, enriched)
      }
    }
  }

  /** Generic processing-time lookup join against a pluggable [[KvStore]]
    * table: each feature is a DSL expression over the store row, with
    * static map-entry pushdown — `m['k']` literals fetch only those entries
    * (ref: flink table_builder/redis_utils.py:109-210;
    * docs/content/deep-dive/optimizations.md §3).
    */
  def lookupJoin(
      left: DataFrame,
      storeTable: String,
      features: Seq[(String, String)],
      store: KvStore = MemoryKvStore): DataFrame =
    graft.engine.LookupJoin(spark, left, store, storeTable, features)

  /** Per-row lookup join against a [[graft.table.RedisSource]]: each left
    * row computes the physical key for every requested feature from the
    * source's `key_expr` and GETs it through the pluggable client — the
    * Spark analogue of the reference's Flink lookup function over
    * RedisSource (redis_utils.py:170-210). Values parse back by the
    * source's declared schema. Runs partition-wise (a real client pipelines
    * per partition); the left side never shuffles.
    */
  def redisLookupJoin(
      left: DataFrame,
      src: RedisSource,
      featureNames: Seq[String]): DataFrame = {
    import graft.types._
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types.{StructField, StructType}
    val keys = src.keys.getOrElse(throw new IllegalArgumentException(
      s"RedisSource ${src.name} requires keys"))
    val (withKeys, keyCols) = graft.engine.RedisKeys
      .appendPhysicalKeyColumns(left, src.keyExpr, src.namespace, keys, featureNames)
    val dtypes = featureNames.map { f =>
      val i = src.schema.fieldNames.indexOf(f)
      require(i >= 0, s"feature $f is not in RedisSource ${src.name}'s schema")
      src.schema.fieldTypes(i)
    }
    val outSchema = StructType(
      left.schema.fields.toSeq ++
        featureNames.zip(dtypes).map { case (f, t) => StructField(f, t.toSpark) })
    val leftWidth = left.schema.size
    val kIdx = keyCols.map(withKeys.schema.fieldIndex)
    def parse(t: DType, s: String): Any = t match {
      case DString  => s
      case DInt64   => s.toLong
      case DInt32   => s.toInt
      case DFloat64 => s.toDouble
      case DFloat32 => s.toFloat
      case DBool    => s.toBoolean
      case other =>
        throw new IllegalArgumentException(s"RedisSource value type $other not supported")
    }
    val srcCopy = src
    withKeys.mapPartitions { it =>
      val store = RedisClients.forSource(srcCopy)
      it.map { r =>
        val vals = dtypes.zipWithIndex.map { case (t, i) =>
          val k = if (r.isNullAt(kIdx(i))) null else r.getString(kIdx(i))
          (if (k == null) None else store.get(k)).map(parse(t, _)).orNull
        }
        Row.fromSeq(r.toSeq.take(leftWidth) ++ vals)
      }
    }(Encoders.row(outSchema))
  }

  /** Batch lookup into an online-store table: one row per key row, with the
    * selected features (ref: python/feathub/online_stores/
    * memory_online_store.py:125-184 — `get(table, input_data,
    * feature_names)`). Snapshot semi-join keyed on the store's registered
    * key fields.
    */
  def getOnlineFeatures(
      keysDf: DataFrame,
      storeTable: String,
      featureNames: Seq[String]): DataFrame = {
    val snapshot = graft.engine.Sources.fromMemoryStore(
      spark, MemoryStoreSource(s"${storeTable}_snapshot", storeTable))
    val keyCols = keysDf.columns.toSeq
    keysDf.join(snapshot, keyCols, "left")
      .select((keyCols ++ featureNames).map(col): _*)
  }

  /** Serve an [[OnDemandFeatureView]]: features evaluate in declaration
    * order over the request row — expressions via the row interpreter,
    * joins as keyed lookups into the online store (ref: python/feathub/
    * feature_service/local_feature_service.py:51-145). Pure in-process; no
    * Spark job per request.
    */
  def getOnlineFeatures(
      requestRows: Seq[Map[String, Any]],
      view: OnDemandFeatureView): Seq[Map[String, Any]] = {
    requestRows.map { req =>
      var row = req
      view.features.foreach { f =>
        f.transform match {
          case ExpressionTransform(e) =>
            row += f.name -> graft.expr.RowInterpreter.eval(e, row)
          case JoinTransform(table, featureExpr) =>
            // the reference references the SOURCE by name and resolves it
            // to its physical table (nyc_taxi.py "online_store_source.f_x"
            // with MemoryStoreSource(table_name=...)); an unregistered
            // name is taken as the store table directly
            val storeTable = Registry.lookup(table) match {
              case Some(m: MemoryStoreSource) => m.tableName
              case _ => table
            }
            val value = MemoryOnlineStore.get(storeTable, row)
              .map(found => graft.expr.RowInterpreter.eval(featureExpr, found))
              .orNull
            row += f.name -> value
          case other =>
            throw new IllegalArgumentException(s"OnDemandFeatureView does not accept $other")
        }
      }
      if (view.keepSourceFields) row
      else row.view.filterKeys(k =>
        view.requestFields.contains(k) || view.features.exists(_.name == k)).toMap
    }
  }
}

/** In-process online store with latest-per-key upsert semantics
  * (ref: python/feathub/online_stores/memory_online_store.py:51-184 — per
  * key, the row with the max event time wins).
  */
object MemoryOnlineStore {
  private final case class Entry(timeMillis: Long, row: Map[String, Any])
  // All access synchronizes on `tables`: the store is process-shared
  // (parallel test suites, concurrent foreachBatch sinks) and an
  // unsynchronized HashMap corrupts under concurrent upserts.
  private val tables = mutable.Map.empty[String, mutable.Map[Seq[Any], Entry]]
  // the schema each table was last written with, engine time column excluded
  private val schemas = mutable.Map.empty[String, StructType]

  /** Upsert latest-per-key rows. `df` should carry the engine's epoch-millis
    * event-time column ([[EventTime.Col]], appended by the builder from the
    * descriptor's timestampFormat); rows without it upsert at t=0. Key fields
    * are registered here so the materialize → serve path works without a
    * separate manual registration.
    */
  def put(name: String, df: DataFrame, keys: Seq[String]): Unit = {
    registerKeys(name, keys)
    val cols = df.columns.filterNot(_ == EventTime.Col)
    val withT =
      if (df.columns.contains(EventTime.Col)) df.withColumn("__t__", col(EventTime.Col))
      else df.withColumn("__t__", lit(0L))
    val collected = withT.collect() // outside the lock: runs a Spark job
    tables.synchronized {
      schemas(name) = StructType(df.schema.filterNot(_.name == EventTime.Col))
      val table = tables.getOrElseUpdate(name, mutable.Map.empty)
      collected.foreach { r =>
        val keyVals = keys.map(k => r.getAs[Any](k))
        val t = if (r.isNullAt(r.fieldIndex("__t__"))) 0L else r.getAs[Long]("__t__")
        val m = cols.map(c => c -> r.getAs[Any](c)).toMap
        table.get(keyVals) match {
          case Some(e) if e.timeMillis > t => ()
          case _                           => table(keyVals) = Entry(t, m)
        }
      }
    }
  }

  /** The schema table `name` was last written with. */
  def schemaOf(name: String): StructType = tables.synchronized {
    schemas.getOrElse(name, throw new NoSuchElementException(
      s"online store table $name has never been written"))
  }

  /** Latest-per-key snapshot of a store table (for [[graft.table.MemoryStoreSource]]). */
  def snapshotRows(name: String): Seq[Map[String, Any]] = tables.synchronized {
    tables.get(name).map(_.values.map(_.row).toSeq).getOrElse(Nil)
  }

  def get(name: String, keyedRequest: Map[String, Any]): Option[Map[String, Any]] =
    tables.synchronized {
      tables.get(name).flatMap { table =>
        table.collectFirst {
          case (k, e) if matchesKeys(name, k, keyedRequest) => e.row
        }
      }
    }

  private val keyFields = mutable.Map.empty[String, Seq[String]]
  def registerKeys(name: String, keys: Seq[String]): Unit =
    tables.synchronized { keyFields(name) = keys }
  def keyFieldsOf(name: String): Seq[String] = tables.synchronized {
    keyFields.getOrElse(name, throw new NoSuchElementException(
      s"online store table $name has no registered keys"))
  }

  private def matchesKeys(name: String, storedKey: Seq[Any], req: Map[String, Any]): Boolean =
    keyFields.get(name) match {
      case Some(ks) => ks.map(req.get(_).orNull) == storedKey
      case None     => false
    }

  def clear(): Unit = tables.synchronized {
    tables.clear(); keyFields.clear(); schemas.clear()
  }
}
