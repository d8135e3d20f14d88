package graft

import graft.client._
import graft.engine.Registry
import graft.table._
import graft.types._
import org.apache.spark.sql.functions._

/** JDBC-backed registry (Derby stands in for MySQL), HiveSink writes, and
  * the Redis sink/lookup surface.
  */
class StoreSpec extends SparkSuite {

  test("jdbc registry: digest-idempotent register, cache and DB fallback") {
    val reg = new JdbcRegistry("jdbc:derby:memory:graftreg;create=true", "reg_t")
    try {
      val src = FileSource(
        "jr_src", "/tmp/x.parquet", "parquet",
        schema = Some(Schema(Seq("id", "v"), Seq(DInt64, DFloat64))),
        keys = Some(Seq("id")))
      assert(reg.register(src))
      assert(!reg.register(src)) // same digest → no new row
      val changed = src.copy(keys = Some(Seq("id", "v")))
      assert(reg.register(changed)) // digest differs → new row
      assert(reg.get("jr_src") == changed)

      // a second registry over the same database sees the newest row and
      // loads it into the in-process registry too
      Registry.clear()
      val reg2 = new JdbcRegistry("jdbc:derby:memory:graftreg;create=true", "reg_t")
      try {
        assert(reg2.get("jr_src") == changed)
        assert(Registry.get("jr_src") == changed)
      } finally reg2.close()

      assertThrows[NoSuchElementException](reg.get("nope"))
      assertThrows[IllegalArgumentException](
        reg.register(src.copy(name = "x" * 65)))

      // delete removes all rows + caches; idempotent second call is false
      assert(reg.delete("jr_src"))
      assert(!reg.delete("jr_src"))
      assertThrows[NoSuchElementException](reg.get("jr_src"))
      assertThrows[NoSuchElementException](Registry.get("jr_src"))
    } finally reg.close()
  }

  test("jdbc sink writes a table a JdbcSource reads back (Derby)") {
    // Derby stands in for MySQL: Spark's built-in jdbc reader/writer (with
    // its DerbyDialect) covers the reference's MySQLSource/MySQLSink.
    val spark2 = spark
    import spark2.implicits._
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val cl = new GraftClient(spark)
    val data = Seq((1L, "a", 100L), (2L, "b", 200L)).toDF("id", "tag", "t_ms")
    cl.materialize(
      DataFrameSource("jd_src", data, keys = Some(Seq("id")),
        timestampField = Some("t_ms"), timestampFormat = "epoch_millis"),
      JdbcSink(url, "jd_tbl", mode = "overwrite"))
    val got = cl.getFeatures(JdbcSource(
        "jd_read", url, "jd_tbl", keys = Some(Seq("id")),
        timestampField = Some("t_ms"), timestampFormat = "epoch_millis"))
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("tag"))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
  }

  test("jdbc sink upsert mode updates existing keys and inserts new ones (Derby)") {
    // the reference's MySQL sink declares its keys as the Flink table's
    // PRIMARY KEY (mysql_utils.py:58), i.e. JDBC upsert semantics — here
    // as the dialect-neutral UPDATE-then-INSERT transaction
    val spark2 = spark
    import spark2.implicits._
    val url = "jdbc:derby:memory:graftupsert;create=true"
    val cl = new GraftClient(spark)
    val v1 = Seq((1L, "a", 100L), (2L, "b", 200L)).toDF("id", "tag", "t_ms")
    cl.materialize(
      DataFrameSource("up_src1", v1, keys = Some(Seq("id")),
        timestampField = Some("t_ms"), timestampFormat = "epoch_millis"),
      JdbcSink(url, "up_tbl", mode = "overwrite")) // create the keyed table
    val v2 = Seq((2L, "B2", 300L), (3L, "c", 400L)).toDF("id", "tag", "t_ms")
    cl.materialize(
      DataFrameSource("up_src2", v2, keys = Some(Seq("id")),
        timestampField = Some("t_ms"), timestampFormat = "epoch_millis"),
      JdbcSink(url, "up_tbl", mode = "upsert"))
    val got = cl.getFeatures(JdbcSource(
        "up_read", url, "up_tbl", keys = Some(Seq("id")),
        timestampField = Some("t_ms"), timestampFormat = "epoch_millis"))
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("tag"))).toSeq
    assert(got == Seq((1L, "a"), (2L, "B2"), (3L, "c"))) // 1 kept, 2 updated, 3 inserted
    // upsert without keys is a declaration error, not silent appends
    intercept[IllegalArgumentException] {
      cl.materialize(
        DataFrameSource("up_src3", v2, keys = None,
          timestampField = Some("t_ms"), timestampFormat = "epoch_millis"),
        JdbcSink(url, "up_tbl", mode = "upsert"))
    }
    // a NULL key value fails loud: it can never match `k = ?`, so it would
    // re-insert (duplicate) on every run
    val nullKey = Seq((Some(4L), "d", 500L), (None: Option[Long], "e", 600L))
      .toDF("id", "tag", "t_ms")
    val ex = intercept[Exception] {
      graft.engine.JdbcUpsert.upsert(
        nullKey, url, "up_tbl", "", "", keys = Seq("id"))
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t =>
      Option(t.getMessage).exists(_.contains("null keys"))))
  }

  test("kafka record encode/decode round-trips without a broker") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, "a", 100L), (2L, "b", 200L)).toDF("id", "tag", "t_ms")
    val records = graft.engine.Sources.toKafkaRecords(df, Seq("id", "tag"))
    assert(records.columns.toSeq == Seq("key", "value"))
    assert(records.orderBy("key").collect().map(_.getString(0)).toSeq ==
      Seq("1|a", "2|b"))
    // the decode path is the exact inverse given the declared schema
    val src = KafkaSource(
      "kd_src", "unused:9092", "t",
      Schema(Seq("id", "tag", "t_ms"), Seq(DInt64, DString, DInt64)),
      keys = Some(Seq("id")),
      timestampField = Some("t_ms"), timestampFormat = "epoch_millis")
    val decoded = graft.engine.Sources
      .decodeKafkaRecords(records.select(col("value").cast("binary").as("value")), src)
    val got = decoded.orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("tag"), r.getAs[Long]("t_ms"))).toSeq
    assert(got == Seq((1L, "a", 100L), (2L, "b", 200L)))
  }

  test("kafka sink keep_timestamp_field=false drops the ts field from the payload") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, "a", 100L)).toDF("id", "tag", "t_ms")
    val kept = graft.engine.Sources.kafkaSinkPayload(df, Some("t_ms"), keepTs = true)
    assert(kept.columns.toSeq == Seq("id", "tag", "t_ms"))
    val dropped = graft.engine.Sources.kafkaSinkPayload(df, Some("t_ms"), keepTs = false)
    assert(dropped.columns.toSeq == Seq("id", "tag"))
    // no declared timestamp field: nothing to drop
    assert(graft.engine.Sources.kafkaSinkPayload(df, None, keepTs = false)
      .columns.toSeq == Seq("id", "tag", "t_ms"))
  }

  test("kafka group-offsets startup mode maps committed offsets to startingOffsets") {
    // the reference's DEFAULT startup mode (kafka_source.py:42,76-79):
    // committed group offsets become Spark startingOffsets offsets-JSON.
    // The offset fetch is the pluggable KafkaOffsets seam — install a
    // committed-offset fixture in place of the AdminClient.
    val prev = graft.engine.KafkaOffsets.setProvider { (bootstrap, group, topic) =>
      assert(bootstrap == "broker:9092" && group == "cg1" && topic == "clicks")
      Map(0 -> 42L, 1 -> -2L, 2 -> 7L) // partition 1: nothing committed yet
    }
    try {
      val src = KafkaSource(
        "go_src", "broker:9092", "clicks",
        Schema(Seq("id"), Seq(DInt64)),
        startupMode = "group-offsets", consumerGroup = Some("cg1"),
        consumerProps = Map("session.timeout.ms" -> "30000"))
      val opts = graft.engine.Sources.kafkaReadOptions(src)
      assert(opts("startingOffsets") == """{"clicks":{"0":42,"1":-2,"2":7}}""")
      assert(opts("kafka.group.id") == "cg1")
      assert(opts("kafka.session.timeout.ms") == "30000")
      // without a consumer group the mode is a declaration error
      val bad = intercept[IllegalArgumentException] {
        graft.engine.Sources.kafkaReadOptions(
          src.copy(consumerGroup = None))
      }
      assert(bad.getMessage.contains("consumerGroup"))
      // the unknown-mode error lists all four modes
      val unknown = intercept[IllegalArgumentException] {
        graft.engine.Sources.kafkaReadOptions(src.copy(startupMode = "bogus"))
      }
      assert(unknown.getMessage.contains("group-offsets"))
    } finally graft.engine.KafkaOffsets.setProvider(prev)
  }

  test("kafka protobuf format round-trips without a broker") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "alpha", 1.5f, 2.5, true, Array(0.25f, -0.5f, 0f)),
      (2L, "", 0f, 0.0, false, Array.empty[Float]), // all-default row
      (3L, "βeta", -1f, 1e300, true, Array(1f))
    ).toDF("id", "tag", "f", "d", "b", "vec")
    val records = graft.engine.Sources.toKafkaRecords(
      df, Seq("id"), valueFormat = "protobuf")
    assert(records.schema("value").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val src = KafkaSource(
      "pb_src", "unused:9092", "t",
      Schema(
        Seq("id", "tag", "f", "d", "b", "vec"),
        Seq(DInt64, DString, DFloat32, DFloat64, DBool, DVector(DFloat32))),
      valueFormat = "protobuf")
    val got = graft.engine.Sources
      .decodeKafkaRecords(records.select(col("value")), src)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("tag"), r.getAs[Float]("f"),
        r.getAs[Double]("d"), r.getAs[Boolean]("b"),
        r.getAs[Seq[Float]]("vec").toList))
    assert(got(0) == ((1L, "alpha", 1.5f, 2.5, true, List(0.25f, -0.5f, 0f))))
    // proto3 defaults come back as defaults (0 / "" / false / empty)
    assert(got(1) == ((2L, "", 0f, 0.0, false, Nil)))
    assert(got(2) == ((3L, "βeta", -1f, 1e300, true, List(1f))))
  }

  test("kafka protobuf: explicit field numbers, unknown-field skip, parse errors") {
    val spark2 = spark
    import spark2.implicits._
    import graft.engine.ProtoFormat
    // writer uses sparse explicit numbers; reader only knows a SUBSET of
    // the fields (id, tag) — the extra field must be skipped by wire type
    val writerTypes = Seq(DInt64, DString, DFloat64)
    val writerNums = ProtoFormat.fieldNumbers(
      Seq("id", "tag", "extra"),
      Map("protobuf.field_numbers" -> "id:3,tag:10,extra:7"))
    val payload = ProtoFormat.encode(Seq(42L, "x", 9.5), writerTypes, writerNums)
    val dec = ProtoFormat.decode(
      payload, Seq(DInt64, DString),
      ProtoFormat.fieldNumbers(Seq("id", "tag"),
        Map("protobuf.field_numbers" -> "id:3,tag:10")))
    assert(dec.toSeq == Seq(42L, "x"))
    // ignore_parse_error=true (default) nulls out a malformed row;
    // false fails the decode
    val junk = Seq(Array[Byte](0x0a, 0x7f, 0x01)).toDF("value")
    val lenientSrc = KafkaSource("pb_bad", "unused:9092", "t",
      Schema(Seq("id"), Seq(DInt64)), valueFormat = "protobuf")
    val rows = graft.engine.Sources.decodeKafkaRecords(junk, lenientSrc).collect()
    assert(rows.length == 1 && rows.head.isNullAt(0))
    val strictSrc = lenientSrc.copy(
      valueFormatProps = Map("ignore_parse_error" -> "false"))
    intercept[Exception] {
      graft.engine.Sources.decodeKafkaRecords(junk, strictSrc).collect()
    }
  }

  test("protobuf codec fuzz: 200 random rows round-trip across all types") {
    import graft.engine.ProtoFormat
    val rng = new scala.util.Random(1234)
    val scalarTypes: Seq[DType] =
      Seq(DInt32, DInt64, DBool, DFloat32, DFloat64, DString, DBytes)
    def randValue(t: DType): Any = t match {
      case DInt32 => rng.nextInt()
      case DInt64 => rng.nextLong()
      case DBool => rng.nextBoolean()
      case DFloat32 => rng.nextFloat() * math.pow(10, rng.nextInt(20) - 10).toFloat
      case DFloat64 => rng.nextDouble() * math.pow(10, rng.nextInt(200) - 100)
      case DString => rng.alphanumeric.take(rng.nextInt(30)).mkString + "é☃"
      case DBytes => Array.fill(rng.nextInt(20))(rng.nextInt().toByte)
      case DVector(e) => Seq.fill(rng.nextInt(6))(randValue(e))
      case other => fail(s"unexpected $other")
    }
    def proto3Default(t: DType): Any = t match {
      case DInt32 => 0
      case DInt64 => 0L
      case DBool => false
      case DFloat32 => 0f
      case DFloat64 => 0d
      case DString => ""
      case DBytes => Array.empty[Byte]
      case DVector(_) => Seq.empty[Any]
      case other => fail(s"unexpected $other")
    }
    def same(t: DType, a: Any, b: Any): Boolean = (t, a, b) match {
      case (DBytes, x: Array[Byte], y: Array[Byte]) => x.sameElements(y)
      case (DVector(e), x: Seq[_], y: Seq[_]) =>
        x.size == y.size && x.zip(y).forall { case (p, q) => same(e, p, q) }
      case _ => a == b
    }
    (1 to 200).foreach { i =>
      val types = Seq.fill(1 + rng.nextInt(6)) {
        val base = scalarTypes(rng.nextInt(scalarTypes.size))
        if (rng.nextInt(3) == 0) DVector(base) else base
      }
      val nums = ProtoFormat.fieldNumbers(types.indices.map(j => s"f$j"), Map.empty)
      val vals = types.map(t => if (rng.nextInt(8) == 0) null else randValue(t))
      val decoded = ProtoFormat.decode(ProtoFormat.encode(vals, types, nums), types, nums)
      types.indices.foreach { j =>
        // proto3 contract: null and default encode to absence, decode to default
        val expected = if (vals(j) == null) proto3Default(types(j)) else vals(j)
        assert(same(types(j), decoded(j), expected),
          s"row $i field $j (${types(j)}): got ${decoded(j)}, want $expected")
      }
    }
  }

  test("kafka key_format: key columns ride the key payload, value carries the rest") {
    // the reference's Flink layout: key.fields = keys,
    // value.fields-include = EXCEPT_KEY (table_builder/kafka_utils.py:134-135)
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((7L, "us", "a", 1.5), (8L, "eu", "b", 2.5))
      .toDF("id", "region", "tag", "score")
    val schema = Schema(
      Seq("id", "region", "tag", "score"),
      Seq(DInt64, DString, DString, DFloat64))
    for ((kf, vf) <- Seq(("csv", "protobuf"), ("protobuf", "json"), ("json", "csv"))) {
      val records = graft.engine.Sources.toKafkaRecords(
        df, Seq("id", "region"), valueFormat = vf, keyFormat = Some(kf))
      val src = KafkaSource(
        s"kv_${kf}_$vf", "unused:9092", "t", schema,
        keys = Some(Seq("id", "region")),
        valueFormat = vf, keyFormat = Some(kf))
      val got = graft.engine.Sources
        .decodeKafkaRecords(
          records.select(col("key").cast("binary").as("key"),
            col("value").cast("binary").as("value")), src)
        .orderBy("id").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("region"),
          r.getAs[String]("tag"), r.getAs[Double]("score"))).toSeq
      assert(got == Seq((7L, "us", "a", 1.5), (8L, "eu", "b", 2.5)),
        s"key=$kf value=$vf round trip")
    }
    // key_format without keys is a declaration error
    intercept[IllegalArgumentException] {
      graft.engine.Sources.toKafkaRecords(df, Nil, keyFormat = Some("json"))
    }
  }

  test("kafka csv and raw formats round-trip without a broker") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, "a", 100L), (2L, "b", 200L)).toDF("id", "tag", "t_ms")
    val csvSrc = KafkaSource(
      "kc_src", "unused:9092", "t",
      Schema(Seq("id", "tag", "t_ms"), Seq(DInt64, DString, DInt64)),
      valueFormat = "csv")
    val csvBack = graft.engine.Sources.decodeKafkaRecords(
      graft.engine.Sources.toKafkaRecords(df, Seq("id"), "csv")
        .select(col("value").cast("binary").as("value")), csvSrc)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(csvBack == Seq((1L, "a", 100L), (2L, "b", 200L)))
    val rawSrc = KafkaSource(
      "kr_src", "unused:9092", "t",
      Schema(Seq("payload"), Seq(DString)), valueFormat = "raw")
    val rawBack = graft.engine.Sources.decodeKafkaRecords(
      graft.engine.Sources.toKafkaRecords(df.select(col("tag")), Nil, "raw")
        .select(col("value").cast("binary").as("value")), rawSrc)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(rawBack == Seq("a", "b"))
  }

  test("hive sink writes a catalog table a HiveSource reads back") {
    val spark2 = spark
    import spark2.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_test_db.hsink_tbl")
    val loc = new java.io.File("spark-warehouse/graft_test_db.db/hsink_tbl")
    if (loc.exists()) {
      java.nio.file.Files.walk(loc.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
    val cl = new GraftClient(spark)
    val data = Seq((1L, "a", 100L), (2L, "b", 200L)).toDF("id", "tag", "t_ms")
    cl.materialize(
      DataFrameSource("hsink_src", data, keys = Some(Seq("id")),
        timestampField = Some("t_ms"), timestampFormat = "epoch_millis"),
      HiveSink("graft_test_db", "hsink_tbl"))
    val got = cl.getFeatures(HiveSource(
        "hsink_read", "graft_test_db", "hsink_tbl", keys = Some(Seq("id"))))
      .orderBy("id").collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("tag"))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
  }

  test("redis sink computes key_expr physical keys; lookup join reads them back") {
    val spark2 = spark
    import spark2.implicits._
    MemoryRedis.clear()
    val cl = new GraftClient(spark)
    val data = Seq(
      ("Alex", 100L, 1.5, 10L),
      ("Emma", 400L, 2.5, 20L)).toDF("name", "cost", "score", "t_ms")
    cl.materialize(
      DataFrameSource("rs_src", data, keys = Some(Seq("name")),
        timestampField = Some("t_ms"), timestampFormat = "epoch_millis"),
      RedisSink(host = "localhost", namespace = "ns1"))
    // default key recipe: namespace:key...:feature (redis_source.py:60)
    assert(MemoryRedis.get("ns1:Alex:cost").contains("100"))
    assert(MemoryRedis.get("ns1:Emma:score").contains("2.5"))

    val src = RedisSource(
      "rs_lookup",
      Schema(Seq("name", "cost", "score"), Seq(DString, DInt64, DFloat64)),
      keys = Some(Seq("name")), host = "localhost", namespace = "ns1")
    val left = Seq("Alex", "Emma", "Nobody").toDF("name")
    val got = cl.redisLookupJoin(left, src, Seq("cost", "score"))
      .orderBy("name").collect()
      .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(got == Seq(
      ("Alex", Some(100L), Some(1.5)),
      ("Emma", Some(400L), Some(2.5)),
      ("Nobody", None, None)))

    // a RedisSource cannot be built as a table (lookup-only)
    assertThrows[IllegalArgumentException](cl.getFeatures(src))

    // custom key_expr: keyword substitution feeds the DSL compiler
    MemoryRedis.clear()
    cl.materialize(
      DataFrameSource("rs_src2", data, keys = Some(Seq("name")),
        timestampField = Some("t_ms"), timestampFormat = "epoch_millis"),
      RedisSink(host = "localhost", namespace = "ns2",
        keyExpr = """CONCAT_WS("/", __NAMESPACE__, LOWER(__KEYS__), __FEATURE_NAME__)"""))
    assert(MemoryRedis.get("ns2/alex/cost").contains("100"))

    // JSON round-trip
    assert(Json.fromJson(Json.toJson(src)) == src)
  }

  test("RESP client: real-protocol sink write + lookup join with auth and db select") {
    val spark2 = spark
    import spark2.implicits._
    val server = new MiniRespServer(requiredPassword = "pw")
    server.start()
    val old = RedisClients.provider
    try {
      RedisClients.provider = RespRedis.provider
      val cl = new GraftClient(spark)
      val data = Seq(
        ("Alex", 100L, 1.5, 10L),
        ("Emma", 400L, 2.5, 20L)).toDF("name", "cost", "score", "t_ms")
      cl.materialize(
        DataFrameSource("rs_resp", data, keys = Some(Seq("name")),
          timestampField = Some("t_ms"), timestampFormat = "epoch_millis"),
        RedisSink(host = "127.0.0.1", port = server.port, username = "u1",
          password = "pw", dbNum = 2, namespace = "nsr"))
      // the bytes really crossed a TCP socket as RESP SET commands
      assert(server.get(2, "nsr:Alex:cost").contains("100"))
      assert(server.get(2, "nsr:Emma:score").contains("2.5"))
      assert(server.sawAuth.get == "u1|pw", "AUTH user pass must be sent first")
      assert(server.sawSelect.get == 2, "SELECT dbNum must follow AUTH")

      val src = RedisSource(
        "rs_resp_lookup",
        Schema(Seq("name", "cost", "score"), Seq(DString, DInt64, DFloat64)),
        keys = Some(Seq("name")), host = "127.0.0.1", port = server.port,
        username = "u1", password = "pw", dbNum = 2, namespace = "nsr")
      val left = Seq("Alex", "Nobody").toDF("name")
      val got = cl.redisLookupJoin(left, src, Seq("cost", "score"))
        .orderBy("name").collect()
        .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)))).toSeq
      // GET hit parses back; a RESP null bulk ($-1) surfaces as NULL
      assert(got == Seq(("Alex", Some(100L), Some(1.5)), ("Nobody", None, None)))

      // protocol errors are loud: wrong password -> -ERR -> IOException
      val bad = new RespRedisClient("127.0.0.1", server.port, "", "wrong", 0)
      try {
        assertThrows[java.io.IOException](bad.get("nsr:Alex:cost"))
      } finally bad.close()

      // a server -ERR reply is a RespErrorException and is NOT retried
      // on a fresh connection (only transport failures reconnect)
      val ok = new RespRedisClient("127.0.0.1", server.port, "u1", "pw", 0)
      try {
        server.gets.set(0)
        assertThrows[RespErrorException](ok.get("__boom__"))
        assert(server.gets.get == 1,
          s"-ERR must not re-send the command (sent ${server.gets.get}x)")
      } finally ok.close()

      // distinct credentials at one endpoint never share a pooled
      // session: the password participates in the pool key (hashed)
      val sinkA = RedisSink(host = "127.0.0.1", port = server.port,
        username = "u1", password = "pw", dbNum = 2, namespace = "nsr")
      assert(RespRedis.clientFor(sinkA) eq RespRedis.clientFor(sinkA),
        "same credentials must pool to the same client")
      assert(RespRedis.clientFor(sinkA) ne
          RespRedis.clientFor(sinkA.copy(password = "other-pw")),
        "different passwords must get separate clients")
    } finally {
      RedisClients.provider = old
      RespRedis.shutdown()
      server.stop()
    }
  }

  /** A fresh checkpoint directory for one streaming query. */
  private def checkpoint(name: String): String =
    s"${SparkSuite.tmpDir}/$name-${java.util.UUID.randomUUID()}"

  test("materializeStream upserts each micro-batch into a MemoryStoreSink") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Long)]
    val src = DataFrameSource("ms_stream_src", stream.toDF().toDF("name", "cost", "t_ms"),
      keys = Some(Seq("name")), timestampField = Some("t_ms"),
      timestampFormat = "epoch_millis")
    val q = new GraftClient(spark).materializeStream(
      src, MemoryStoreSink("ms_stream_tbl"), checkpoint("ms_stream"))
    def cost(name: String): Option[Any] =
      MemoryOnlineStore.get("ms_stream_tbl", Map("name" -> name)).flatMap(_.get("cost"))
    try {
      stream.addData(("Alex", 100L, 10L), ("Emma", 400L, 20L))
      q.processAllAvailable()
      assert(cost("Alex").contains(100L) && cost("Emma").contains(400L))
      // a newer row replaces the stored one; an older one does not
      stream.addData(("Alex", 300L, 30L), ("Emma", 1L, 5L))
      q.processAllAvailable()
      assert(cost("Alex").contains(300L) && cost("Emma").contains(400L))
      assert(cost("Nobody").isEmpty)
    } finally q.stop()
  }

  test("memory store reads VECTOR, MAP and BYTES back with the schema they were written with") {
    val spark2 = spark
    import spark2.implicits._
    val cl = new GraftClient(spark)
    val data = Seq(
      (1L, Seq(1L, 2L), Map("a" -> 1L), Array[Byte](1, 2), 10L),
      (2L, Seq(3L), Map("b" -> 2L, "c" -> 3L), Array[Byte](3), 20L))
      .toDF("id", "vec", "m", "blob", "t_ms")
    cl.materialize(
      DataFrameSource("mst_src", data, keys = Some(Seq("id")),
        timestampField = Some("t_ms"), timestampFormat = "epoch_millis"),
      MemoryStoreSink("mst_tbl"))
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.orderBy("id").select(cols.map(col): _*).collect().map(r =>
        r.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v }).toSeq
    val expected = rows(data, "id", "vec", "m", "blob")
    val types = Seq("vec", "m", "blob").map(c => data.schema(c).dataType)

    val read = cl.getFeatures(MemoryStoreSource("mst_read", "mst_tbl", keys = Some(Seq("id"))))
    assert(Seq("vec", "m", "blob").map(c => read.schema(c).dataType) == types)
    assert(rows(read, "id", "vec", "m", "blob") == expected)

    val served = cl.getOnlineFeatures(Seq(1L, 2L).toDF("id"), "mst_tbl", Seq("vec", "m", "blob"))
    assert(Seq("vec", "m", "blob").map(c => served.schema(c).dataType) == types)
    assert(rows(served, "id", "vec", "m", "blob") == expected)

    val joined = cl.lookupJoin(Seq(1L, 2L).toDF("id"), "mst_tbl",
      Seq("v" -> "vec", "mm" -> "m", "bb" -> "blob"))
    assert(Seq("v", "mm", "bb").map(c => joined.schema(c).dataType) == types)
    assert(rows(joined, "id", "v", "mm", "bb") == expected)
  }

  test("materialize into a MemoryStoreSink with a range needs a timestamp field") {
    val spark2 = spark
    import spark2.implicits._
    val cl = new GraftClient(spark)
    val src = DataFrameSource("mst_untimed", Seq((1L, 5L)).toDF("id", "v"), keys = Some(Seq("id")))
    val e = intercept[IllegalArgumentException](
      cl.materialize(src, MemoryStoreSink("mst_untimed_tbl"), startMillis = Some(0L)))
    assert(e.getMessage.contains("missing timestamp_field"))
    // without a range the untimed rows upsert at t = 0
    cl.materialize(src, MemoryStoreSink("mst_untimed_tbl"))
    assert(MemoryOnlineStore.get("mst_untimed_tbl", Map("id" -> 1L)).flatMap(_.get("v")).contains(5L))
  }

  test("materializeStream writes each micro-batch into a RedisSink over RESP") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val server = new MiniRespServer(requiredPassword = "pw")
    server.start()
    val old = RedisClients.provider
    try {
      RedisClients.provider = RespRedis.provider
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Double, Long)]
      val src = DataFrameSource("rs_stream_src",
        stream.toDF().toDF("name", "cost", "score", "t_ms"),
        keys = Some(Seq("name")), timestampField = Some("t_ms"),
        timestampFormat = "epoch_millis")
      val q = new GraftClient(spark).materializeStream(src,
        RedisSink(host = "127.0.0.1", port = server.port, username = "u1",
          password = "pw", dbNum = 1, namespace = "nss"),
        checkpoint("rs_stream"))
      try {
        stream.addData(("Alex", 100L, 1.5, 10L))
        q.processAllAvailable()
        assert(server.get(1, "nss:Alex:cost").contains("100"))
        assert(server.get(1, "nss:Alex:score").contains("1.5"))
        stream.addData(("Alex", 300L, 2.5, 30L), ("Emma", 400L, 0.5, 20L))
        q.processAllAvailable()
        assert(server.get(1, "nss:Alex:cost").contains("300"))
        assert(server.get(1, "nss:Emma:cost").contains("400"))
        // keys and the timestamp field are not features
        assert(server.get(1, "nss:Alex:t_ms").isEmpty && server.get(1, "nss:Alex:name").isEmpty)
      } finally q.stop()
    } finally {
      RedisClients.provider = old
      RespRedis.shutdown()
      server.stop()
    }
  }
}

/** Minimal in-process RESP2 SERVER for protocol-level client tests: real
  * TCP sockets, real RESP framing — AUTH / SELECT / SET / GET / PING over
  * a per-db map. Single-purpose: asserts the shipped [[graft.client
  * .RespRedisClient]] speaks wire-correct RESP, without a redis binary in
  * the sandbox.
  */
class MiniRespServer(requiredPassword: String) {
  import java.io.{BufferedInputStream, BufferedOutputStream}
  import java.net.{ServerSocket, Socket}
  import java.nio.charset.StandardCharsets.UTF_8
  import java.util.concurrent.ConcurrentHashMap
  import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

  private val data = new ConcurrentHashMap[String, String]()
  val sawAuth = new AtomicReference[String]("")
  val sawSelect = new AtomicInteger(-1)
  val gets = new AtomicInteger(0)
  @volatile private var ss: ServerSocket = _
  @volatile private var running = false

  def port: Int = ss.getLocalPort
  def get(db: Int, key: String): Option[String] = Option(data.get(s"$db $key"))

  def start(): Unit = {
    ss = new ServerSocket(0)
    running = true
    val t = new Thread(() => {
      while (running) {
        try {
          val c = ss.accept()
          val h = new Thread(() => handle(c), "mini-resp-conn")
          h.setDaemon(true); h.start()
        } catch { case _: java.io.IOException => /* closed */ }
      }
    }, "mini-resp-accept")
    t.setDaemon(true); t.start()
  }

  def stop(): Unit = { running = false; if (ss != null) ss.close() }

  private def handle(c: Socket): Unit = {
    val in = new BufferedInputStream(c.getInputStream)
    val out = new BufferedOutputStream(c.getOutputStream)
    var db = 0
    var authed = requiredPassword.isEmpty
    def line(): String = {
      val sb = new java.lang.StringBuilder
      var ch = in.read()
      while (ch != '\r' && ch >= 0) { sb.append(ch.toChar); ch = in.read() }
      if (ch < 0) throw new java.io.EOFException
      in.read() // \n
      sb.toString
    }
    def reply(s: String): Unit = { out.write(s.getBytes(UTF_8)); out.flush() }
    def bulk(v: String): String =
      if (v == null) "$-1\r\n"
      else { val b = v.getBytes(UTF_8); s"$$${b.length}\r\n$v\r\n" }
    try {
      while (true) {
        val head = line()
        if (!head.startsWith("*")) reply("-ERR expected array\r\n")
        else {
          val n = head.drop(1).toInt
          val args = (0 until n).map { _ =>
            val l = line() // $len
            val len = l.drop(1).toInt
            val buf = new Array[Byte](len)
            var off = 0
            while (off < len) {
              val r = in.read(buf, off, len - off)
              if (r < 0) throw new java.io.EOFException
              off += r
            }
            in.read(); in.read() // \r\n
            new String(buf, UTF_8)
          }
          args.head.toUpperCase match {
            case "AUTH" =>
              val pw = args.last
              if (pw == requiredPassword) {
                sawAuth.set(args.tail.mkString("|")); authed = true
                reply("+OK\r\n")
              } else reply("-ERR invalid password\r\n")
            case _ if !authed => reply("-NOAUTH Authentication required.\r\n")
            case "SELECT" =>
              db = args(1).toInt; sawSelect.set(db); reply("+OK\r\n")
            case "SET" =>
              data.put(s"$db ${args(1)}", args(2)); reply("+OK\r\n")
            case "GET" =>
              gets.incrementAndGet()
              if (args(1) == "__boom__") reply("-ERR boom key rejected\r\n")
              else reply(bulk(data.get(s"$db ${args(1)}")))
            case "PING" => reply("+PONG\r\n")
            case other => reply(s"-ERR unknown command '$other'\r\n")
          }
        }
      }
    } catch {
      case _: java.io.IOException => // connection closed
    } finally {
      try c.close() catch { case _: java.io.IOException => }
    }
  }
}
