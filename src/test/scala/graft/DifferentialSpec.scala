package graft

import graft.client.GraftClient
import graft.table._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import scala.concurrent.duration._
import scala.util.Random

/** Randomized batch-vs-streaming differential tests: the batch engine is
  * the oracle (itself DuckDB-verified), the streaming operators must agree
  * on the same rows for randomized keys/timestamps/values and varied
  * window configurations. Seeds are fixed so failures reproduce.
  */
class DifferentialSpec extends SparkSuite {

  private val minute = 60000L
  private def cl = new GraftClient(spark)

  private def randomRows(rnd: Random, n: Int): Seq[(String, Long, Long)] = {
    val keys = Seq("a", "b", "c")
    // distinct (key, t) pairs: same-timestamp same-key merge order within a
    // micro-batch is unspecified in both engines
    rnd.shuffle(
      (for (k <- keys; t <- 1 to 30) yield (k, t)).toList
    ).take(n).map { case (k, t) =>
      (k, (rnd.nextInt(100) + 1).toLong, t * minute)
    }.sortBy(_._3)
  }

  /** Split into 2-4 chunks on STRICT time boundaries: a later-chunk row at
    * or below an earlier chunk's watermark would be dropped as late
    * (reference semantics), which the batch engine cannot see. More chunks
    * = more microbatch boundaries, where emission-edge bugs live.
    */
  private def timeChunks(
      rnd: Random, rows: Seq[(String, Long, Long)]): Seq[Seq[(String, Long, Long)]] = {
    val nChunks = rnd.nextInt(3) + 2
    val cuts = rnd.shuffle(rows.map(_._3).distinct.toList).take(nChunks - 1).sorted
    val bounds = cuts :+ Long.MaxValue
    bounds.zip(Long.MinValue +: cuts).map { case (hi, lo) =>
      rows.filter(r => r._3 > lo && r._3 <= hi)
    }.filter(_.nonEmpty)
  }

  test("sliding windows: streaming equals batch on randomized inputs") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val aggs = Seq(
      ("sum", AggFunc.Sum), ("cnt", AggFunc.Count), ("avg", AggFunc.Avg),
      ("min", AggFunc.Min), ("mx", AggFunc.Max),
      ("fst", AggFunc.FirstValue), ("lst", AggFunc.LastValue),
      ("vc", AggFunc.ValueCounts), ("cli", AggFunc.CollectList))
    for (seed <- 1 to 6) {
      val rnd = new Random(seed)
      val rows = randomRows(rnd, 25)
      val win = (rnd.nextInt(4) + 1).toLong
      val (empty, skip) = Seq((true, true), (true, false), (false, false))(rnd.nextInt(3))
      // randomized limit on some features (last-N re-aggregation path) —
      // drawn ONCE per seed: view() runs for both engines and must build
      // the identical configuration
      val lims = aggs.map(_ =>
        if (rnd.nextBoolean()) Some(rnd.nextInt(2) + 1) else None)
      def view(src: TableDescriptor, name: String) = SlidingFeatureView(
        name, src,
        features = aggs.zip(lims).map { case ((n, a), lim) =>
          Feature(n, SlidingWindowTransform(
            "v", a, (win * 60).seconds, 1.minute, Seq("k"), limit = lim))
        },
        enableEmptyWindowOutput = empty, skipSameWindowOutput = skip)
      def norm(r: Row) = r.toSeq.map {
        case d: Double => math.round(d * 1e9) // avg association-order noise
        case x => x
      }.toList

      val batchSrc = DataFrameSource(
        s"dsb_$seed", rows.toDF("k", "v", "t_ms"),
        keys = Some(Seq("k")), timestampField = Some("t_ms"),
        timestampFormat = "epoch_millis")
      val cols = Seq("k", "window_time") ++ aggs.map(_._1)
      val expected = cl.getFeatures(view(batchSrc, s"dsbv_$seed"))
        .selectExpr(cols: _*).orderBy("k", "window_time")
        .collect().map(norm).toSeq

      val stream = MemoryStream[(String, Long, Long)]
      val streamSrc = DataFrameSource(
        s"dss_$seed", stream.toDF().toDF("k", "v", "t_ms"),
        keys = Some(Seq("k")), timestampField = Some("t_ms"),
        timestampFormat = "epoch_millis")
      val query = cl.getFeatures(view(streamSrc, s"dssv_$seed"))
        .writeStream.format("memory").queryName(s"ds_out_$seed")
        .outputMode("append").start()
      try {
        timeChunks(rnd, rows).foreach { chunk =>
          stream.addData(chunk: _*)
          query.processAllAvailable()
        }
        stream.addData(("zz", 1L, 10000L * minute)) // drain all windows
        query.processAllAvailable()
        val got = spark.sql(
            s"SELECT ${cols.mkString(", ")} FROM ds_out_$seed WHERE k <> 'zz' " +
              "ORDER BY k, window_time")
          .collect().map(norm).toSeq
        assert(got == expected, s"seed=$seed win=${win}m empty=$empty skip=$skip")
      } finally query.stop()
    }
  }

  test("over windows: streaming equals batch on randomized inputs") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (seed <- 1 to 6) {
      val rnd = new Random(seed + 100)
      val rows = randomRows(rnd, 25)
      val win = (rnd.nextInt(5) + 1).toLong
      val lim = rnd.nextInt(3) + 1
      def view(src: TableDescriptor, name: String) = DerivedFeatureView(
        name, src,
        features = Seq(
          Feature("s_w", OverWindowTransform("v", AggFunc.Sum, Some((win * 60).seconds), Seq("k"))),
          Feature("c_l", OverWindowTransform("v", AggFunc.Count, None, Seq("k"), limit = Some(lim))),
          Feature("m_wl", OverWindowTransform("v", AggFunc.Max, Some((win * 60).seconds), Seq("k"), limit = Some(lim))),
          Feature("f_flt", OverWindowTransform(
            "v", AggFunc.Sum, None, Seq("k"),
            filterExpr = Some("v > 50"), limit = Some(lim))),
          // the triple combo: filter + limit + window_size (expiry at the
          // output row's own time)
          Feature("f_3", OverWindowTransform(
            "v", AggFunc.Sum, Some((win * 60).seconds), Seq("k"),
            filterExpr = Some("v > 30"), limit = Some(lim))),
          Feature("l_3", OverWindowTransform(
            "v", AggFunc.LastValue, Some((win * 60).seconds), Seq("k"),
            filterExpr = Some("v > 30"), limit = Some(lim))),
          Feature("rn", OverWindowTransform("v", AggFunc.RowNumber, None, Seq("k")))),
        keepSourceFields = true)
      def norm(r: Row) = r.toSeq.toList

      val cols = Seq("k", "t_ms", "s_w", "c_l", "m_wl", "f_flt", "f_3", "l_3", "rn")
      val batchSrc = DataFrameSource(
        s"dob_$seed", rows.toDF("k", "v", "t_ms"),
        keys = Some(Seq("k")), timestampField = Some("t_ms"),
        timestampFormat = "epoch_millis")
      val expected = cl.getFeatures(view(batchSrc, s"dobv_$seed"))
        .selectExpr(cols: _*).orderBy("k", "t_ms")
        .collect().map(norm).toSeq

      val stream = MemoryStream[(String, Long, Long)]
      val streamSrc = DataFrameSource(
        s"dos_$seed", stream.toDF().toDF("k", "v", "t_ms"),
        keys = Some(Seq("k")), timestampField = Some("t_ms"),
        timestampFormat = "epoch_millis")
      val query = cl.getFeatures(view(streamSrc, s"dosv_$seed"))
        .writeStream.format("memory").queryName(s"do_out_$seed")
        .outputMode("append").start()
      try {
        timeChunks(rnd, rows).foreach { chunk =>
          stream.addData(chunk: _*)
          query.processAllAvailable()
        }
        stream.addData(("zz", 1L, 10000L * minute))
        query.processAllAvailable()
        val got = spark.sql(
            s"SELECT ${cols.mkString(", ")} FROM do_out_$seed WHERE k <> 'zz' " +
              "ORDER BY k, t_ms")
          .collect().map(norm).toSeq
        assert(got == expected, s"seed=$seed win=${win}m limit=$lim")
      } finally query.stop()
    }
  }

  test("MIN/MAX: streaming equals batch past 2^53 and on TIMESTAMP values") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 2^53 + 1 rounds to the double of 2^53 and 2^53 + 3 to that of
    // 2^53 + 4, and a TIMESTAMP is no Number: in each window the extreme
    // value arrives after one it only ties as a double (or not at all)
    val big = 9007199254740992L
    def ts(h: Int) = new java.sql.Timestamp(h * 3600000L)
    val rows = Seq(
      ("a", big + 1, ts(12), 1 * minute), ("a", big, ts(8), 2 * minute),
      ("a", big + 3, ts(10), 3 * minute), ("a", big + 4, ts(18), 4 * minute),
      ("a", big + 2, ts(9), 5 * minute), ("b", big + 3, ts(5), 1 * minute),
      ("b", big + 4, ts(7), 2 * minute), ("b", big + 1, ts(6), 3 * minute),
      ("b", big, ts(4), 4 * minute))
    def src(df: org.apache.spark.sql.DataFrame, name: String) = DataFrameSource(
      name, df.toDF("k", "b", "ts_v", "t_ms"), keys = Some(Seq("k")),
      timestampField = Some("t_ms"), timestampFormat = "epoch_millis")
    val aggs = for (e <- Seq("b", "ts_v"); a <- Seq(AggFunc.Min, AggFunc.Max))
      yield (s"${a.name.toLowerCase}_$e", e, a)
    def over(s: TableDescriptor, name: String) = DerivedFeatureView(name, s,
      features = aggs.flatMap { case (n, e, a) => Seq(
        Feature(s"u_$n", OverWindowTransform(e, a, None, Seq("k"))),
        Feature(s"w_$n", OverWindowTransform(e, a, Some(2.minutes), Seq("k"))),
        Feature(s"l_$n", OverWindowTransform(e, a, None, Seq("k"), limit = Some(3)))) },
      keepSourceFields = true)
    def sliding(s: TableDescriptor, name: String) = SlidingFeatureView(name, s,
      features = aggs.flatMap { case (n, e, a) => Seq(
        Feature(s"s_$n", SlidingWindowTransform(e, a, 3.minutes, 1.minute, Seq("k"))),
        Feature(s"sl_$n", SlidingWindowTransform(e, a, 3.minutes, 1.minute, Seq("k"),
          limit = Some(2)))) })
    val wrong = Seq[(String, (TableDescriptor, String) => TableDescriptor, String, Seq[String])](
      ("over", over, "t_ms", Seq("u", "w", "l")),
      ("sliding", sliding, "window_time", Seq("s", "sl"))).flatMap {
      case (kind, view, tCol, prefixes) =>
        val cols = Seq("k", tCol) ++ prefixes.flatMap(p => aggs.map(a => s"${p}_${a._1}"))
        val expected = cl.getFeatures(view(src(rows.toDF(), s"dmb_$kind"), s"dmbv_$kind"))
          .selectExpr(cols: _*).orderBy("k", tCol).collect().map(_.toSeq.toList).toSeq
        val stream = MemoryStream[(String, Long, java.sql.Timestamp, Long)]
        val query = cl.getFeatures(view(src(stream.toDF(), s"dms_$kind"), s"dmsv_$kind"))
          .selectExpr(cols: _*).writeStream.format("memory").queryName(s"dm_out_$kind")
          .outputMode("append").start()
        try {
          rows.sortBy(_._4).grouped(2).foreach { chunk =>
            stream.addData(chunk: _*)
            query.processAllAvailable()
          }
          stream.addData(("zz", 0L, ts(0), 10000L * minute))
          query.processAllAvailable()
          val got = spark.sql(
              s"SELECT * FROM dm_out_$kind WHERE k <> 'zz' ORDER BY k, $tCol")
            .collect().map(_.toSeq.toList).toSeq
          assert(got.nonEmpty, kind)
          // skipSameWindowOutput makes the emitted sliding rows depend on values
          if (got.map(_.take(2)) != expected.map(_.take(2))) Seq(s"$kind rows")
          else cols.indices.drop(2).filter(j => got.map(_(j)) != expected.map(_(j)))
            .map(j => s"$kind ${cols(j)}")
        } finally query.stop()
    }
    assert(wrong.isEmpty, s"streaming differs from batch in ${wrong.mkString(", ")}")
  }

  test("k-means matches a naive in-memory model on randomized inputs") {
    val spark2 = spark
    import spark2.implicits._
    for (seed <- 1 to 4) {
      val rnd = new Random(seed + 300)
      val dim = 6
      val n = 40
      val rows = (0 until n).map { i =>
        (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
      }
      val k = rnd.nextInt(3) + 2
      val iters = rnd.nextInt(3) + 1
      val shift = 4.0

      // naive model mirrors the documented contract exactly
      def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val micro = rows.map { case (id, v) =>
        id -> v.map(x => math.round((x.toDouble + shift) * 1e6))
      }.toMap
      var cents = rows.map(_._1).sortBy(id => (md5hex(id.toString), id))
        .take(k).map(micro(_).clone()).toArray
      def nearest(x: Array[Long]): Int =
        cents.zipWithIndex.map { case (c, j) =>
          (x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, j)
        }.min._2
      for (_ <- 0 until iters) {
        val groups = rows.map(_._1).groupBy(id => nearest(micro(id)))
        val next = cents.map(_.clone())
        groups.foreach { case (j, ids) =>
          val m = ids.size.toLong
          (0 until dim).foreach { p =>
            val s = ids.map(micro(_)(p)).sum
            next(j)(p) = (2 * s + m) / (2 * m)
          }
        }
        cents = next
      }
      val expected = rows.map { case (id, _) =>
        val x = micro(id)
        val j = nearest(x)
        (id, j, x.zip(cents(j)).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.toSet

      val got = graft.ops.Cluster.kmeansAssign(
        rows.toDF("vec_id", "embedding"), "vec_id", "embedding", k, iters, shift)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got == expected, s"seed=$seed k=$k iters=$iters")
    }
  }

  test("temporal join: streaming equals batch on randomized inputs") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (seed <- 1 to 6) {
      val rnd = new Random(seed + 200)
      val keys = Seq("a", "b", "c", "d")
      // left: (k, t) distinct; right: (k, v, t) WITH deliberate duplicate
      // (k, t) version pairs to exercise the greatest-tuple tie rule
      val left = rnd.shuffle(
        (for (k <- keys.take(3); t <- 1 to 30) yield (k, t)).toList
      ).take(20).map { case (k, t) => (k, t * minute) }
      val right = (1 to 25).map { _ =>
        (keys(rnd.nextInt(4)), (rnd.nextInt(90) + 1).toLong,
          (rnd.nextInt(30) + 1).toLong * minute)
      }

      def view(leftSrc: TableDescriptor, rightName: String, name: String) =
        DerivedFeatureView(
          name, leftSrc,
          features = Seq(
            Feature("jv", JoinTransform(rightName, "v"), keys = Some(Seq("k")))),
          keepSourceFields = true)

      val batchLeft = DataFrameSource(
        s"djb_l$seed", left.toDF("k", "t_ms"),
        keys = Some(Seq("k")), timestampField = Some("t_ms"),
        timestampFormat = "epoch_millis")
      val batchRight = DataFrameSource(
        s"djb_r$seed", right.toDF("k", "v", "t_ms"),
        keys = Some(Seq("k")), timestampField = Some("t_ms"),
        timestampFormat = "epoch_millis")
      graft.engine.Registry.register(batchRight)
      val expected = cl.getFeatures(view(batchLeft, s"djb_r$seed", s"djbv_$seed"))
        .selectExpr("k", "t_ms", "jv").orderBy("k", "t_ms")
        .collect().map(_.toSeq.toList).toSeq

      val leftStream = MemoryStream[(String, Long)]
      val rightStream = MemoryStream[(String, Long, Long)]
      val streamLeft = DataFrameSource(
        s"djs_l$seed", leftStream.toDF().toDF("k", "t_ms"),
        keys = Some(Seq("k")), timestampField = Some("t_ms"),
        timestampFormat = "epoch_millis")
      val streamRight = DataFrameSource(
        s"djs_r$seed", rightStream.toDF().toDF("k", "v", "t_ms"),
        keys = Some(Seq("k")), timestampField = Some("t_ms"),
        timestampFormat = "epoch_millis")
      graft.engine.Registry.register(streamRight)
      val out = cl.getFeatures(view(streamLeft, s"djs_r$seed", s"djsv_$seed"))
        .selectExpr("k", "t_ms", "jv")
      val ckpt = s"${SparkSuite.tmpDir}/dj_ckpt_${seed}_${System.nanoTime()}"
      // by batch id: a batch replayed after a restart replaces its first run
      val batches = scala.collection.mutable.Map.empty[Long, Seq[List[Any]]]
      // Both sides of a chunk are added while the query is stopped, then it
      // runs on the same checkpoint until drained: with the query running, a
      // batch could start between the two addData calls, advance the union
      // watermark past the chunk's left rows and drop them as late.
      def drain(): Unit = {
        val q = out.writeStream.option("checkpointLocation", ckpt).outputMode("append")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            val rows = b.collect().map(_.toSeq.toList).toSeq
            batches.synchronized { batches(id) = rows }
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      // chunk BOTH sides on shared strict time boundaries so no row ever
      // arrives at-or-below the union watermark (which would drop it)
      val allTimes = (left.map(_._2) ++ right.map(_._3)).distinct
      val nChunks = rnd.nextInt(3) + 2
      val cuts = rnd.shuffle(allTimes.toList).take(nChunks - 1).sorted
      val bounds = (Long.MinValue +: cuts).zip(cuts :+ Long.MaxValue)
      bounds.foreach { case (lo, hi) =>
        val rc = right.filter(r => r._3 > lo && r._3 <= hi)
        val lc = left.filter(l => l._2 > lo && l._2 <= hi)
        if (rc.nonEmpty) rightStream.addData(rc: _*)
        if (lc.nonEmpty) leftStream.addData(lc: _*)
        drain()
      }
      leftStream.addData(("zz", 10000L * minute)) // drain
      drain()
      val got = batches.synchronized(batches.values.flatten.toSeq)
        .filter(_.head != "zz")
        .sortBy(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Long]))
      assert(got == expected, s"seed=$seed")
    }
  }

  test("CUSUM monitor: streaming recurrence equals batch closed form " +
      "on randomized inputs") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (seed <- 1 to 6) {
      val rnd = new Random(seed + 700)
      val rows = randomRows(rnd, 25)
      val ref = (rnd.nextInt(60) + 20).toLong * 1000000L
      val slack = rnd.nextInt(5).toLong * 1000000L
      val thr = (rnd.nextInt(80) + 20).toLong * 1000000L

      val expected = graft.ops.TimeSeries.cusumMonitor(
          rows.toDF("k", "v", "t_ms").withColumn("tie", functions.col("t_ms")),
          "k", "t_ms", "tie", "v", ref, slack, thr)
        .selectExpr("k", "ts_ms", "v_micro", "CAST(s_micro AS STRING)",
          "alarmed")
        .orderBy("k", "ts_ms")
        .collect().map(_.toSeq.toList).toSeq

      val stream = MemoryStream[(String, Long, Long)]
      val streamed = graft.streaming.StreamingCusum.monitor(
        stream.toDF().toDF("k", "v", "t_ms")
          .withColumn("tie", functions.col("t_ms"))
          .withColumn("ts", functions.timestamp_millis(functions.col("t_ms"))),
        "k", "ts", "tie", "v", ref, slack, thr, Duration.Zero)
      val query = streamed.writeStream.format("memory")
        .queryName(s"cusum_diff_$seed").outputMode("append").start()
      try {
        timeChunks(rnd, rows).foreach { chunk =>
          stream.addData(chunk: _*)
          query.processAllAvailable()
        }
        stream.addData(("zz", 1L, 10000L * minute)) // drain
        query.processAllAvailable()
        val got = spark.sql(
            s"""SELECT k, ts_ms, v_micro, CAST(s_micro AS STRING), alarmed
               FROM cusum_diff_$seed WHERE k <> 'zz' ORDER BY k, ts_ms""")
          .collect().map(_.toSeq.toList).toSeq
        assert(got == expected, s"seed=$seed ref=$ref slack=$slack thr=$thr")
      } finally query.stop()
    }
  }

  test("sessionization: streaming session_window equals the batch operator") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (seed <- 1 to 6) {
      val rnd = new Random(seed + 300)
      val rows = randomRows(rnd, 25)
      val gap = (rnd.nextInt(4) + 2).toLong * minute

      val expected = graft.ops.Sessions.sessionize(
          rows.toDF("k", "v", "t_ms").selectExpr("k", "t_ms", "v"),
          "k", "t_ms", "v", gap)
        .selectExpr("k", "start_ms", "end_ms", "n_events", "duration_ms")
        .orderBy("k", "start_ms")
        .collect().map(_.toSeq.toList).toSeq

      val stream = MemoryStream[(String, Long, Long)]
      val streamed = StreamingSessionsFixture.build(
        stream.toDF().toDF("k", "v", "t_ms"), gap)
      val query = streamed.writeStream.format("memory")
        .queryName(s"sess_out_$seed").outputMode("append").start()
      try {
        timeChunks(rnd, rows).foreach { chunk =>
          stream.addData(chunk: _*)
          query.processAllAvailable()
        }
        stream.addData(("zz", 1L, 10000L * minute)) // drain all sessions
        query.processAllAvailable()
        val got = spark.sql(
            s"SELECT k, start_ms, end_ms, n_events, duration_ms " +
              s"FROM sess_out_$seed WHERE k <> 'zz' ORDER BY k, start_ms")
          .collect().map(_.toSeq.toList).toSeq
        assert(got == expected, s"seed=$seed gap=${gap / minute}m")
      } finally query.stop()
    }
  }
}

/** Adapter shared by the sessionization differential test: epoch-ms longs
  * → timestamp column → streaming sessionize → ms longs back.
  */
private object StreamingSessionsFixture {
  def build(df: org.apache.spark.sql.DataFrame, gapMs: Long): org.apache.spark.sql.DataFrame =
    graft.streaming.StreamingSessions.sessionize(
      df.withColumn("ts", org.apache.spark.sql.functions.timestamp_millis(
        org.apache.spark.sql.functions.col("t_ms"))),
      "k", "ts", scala.concurrent.duration.Duration(gapMs, "ms"),
      scala.concurrent.duration.Duration.Zero)
}
