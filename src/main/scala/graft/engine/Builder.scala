package graft.engine

import graft.expr.SparkCompiler
import graft.table._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Compiles a resolved descriptor tree into a Spark DataFrame (logical
  * plan); Catalyst takes over from there. Phase structure mirrors the
  * reference's builder (ref: python/feathub/processors/spark/
  * spark_dataframe_builder.py:150-358):
  *   source → phase-1 per-row transforms → all temporal joins → all
  *   over-windows → trailing per-row transforms → filter → output select.
  * Ordering rule preserved exactly: a per-row feature listed after the
  * first join/window feature is evaluated after all joins/windows
  * (spark_dataframe_builder.py:218-244).
  *
  * Subplans are memoized by table name (spark_dataframe_builder.py:75-77) so
  * a view feeding several consumers is built once.
  */
final class Builder(spark: SparkSession) {

  private val built = mutable.Map.empty[String, (TableDescriptor, DataFrame)]

  /** Build with the engine event-time metadata column still attached.
    * Reusing a name for a DIFFERENT descriptor within one builder is an
    * error, not a silent reuse of the first plan
    * (ref: spark_dataframe_builder.py:156-161).
    *
    * Synchronized: a [[graft.client.MaterializationGroup]] submits its
    * materializations concurrently and they share this memo table; plan
    * construction is driver-side and cheap, the Spark ACTIONS still
    * overlap (only plan building serializes).
    */
  def buildWithTime(desc: TableDescriptor): DataFrame = built.synchronized {
    built.get(desc.name) match {
      case Some((d0, df)) =>
        require(d0 == desc,
          s"Encountered different TableDescriptor with same name '${desc.name}'")
        df
      case None =>
        val df = doBuild(desc)
        built(desc.name) = (desc, df)
        df
    }
  }

  /** Build the user-facing output (metadata columns dropped). */
  def build(desc: TableDescriptor): DataFrame =
    EventTime.drop(buildWithTime(desc))

  private def doBuild(desc: TableDescriptor): DataFrame = desc match {
    case s: FileSource         => Sources.read(spark, s)
    case s: DataGenSource      => Sources.generate(spark, s)
    case s: KafkaSource        => Sources.readKafka(spark, s)
    case s: JdbcSource         => Sources.readJdbc(spark, s)
    case s: HiveSource         => Sources.readHive(spark, s)
    case s: MemoryStoreSource  => Sources.fromMemoryStore(spark, s)
    case s: DataFrameSource    => EventTime.append(s.df, s.timestampField, s.timestampFormat)
    case v: OnDemandFeatureView =>
      throw new IllegalArgumentException(
        s"OnDemandFeatureView ${v.name} is served per-request via getOnlineFeatures, not built as a table")
    case s: RedisSource =>
      // Lookup-only, like the reference ("can only read feature values
      // written with RedisSink"): physical keys are opaque key_expr
      // outputs, so there is no table scan to build.
      throw new IllegalArgumentException(
        s"RedisSource ${s.name} is lookup-only; probe it with redisLookupJoin")
    case v: DerivedFeatureView => buildDerived(v)
    case v: SlidingFeatureView => buildSliding(v)
    case v: SqlFeatureView     => buildSql(v)
  }

  // ---------------------------------------------------------------- derived

  private def buildDerived(v: DerivedFeatureView): DataFrame = {
    val source = buildWithTime(v.source)

    // Partition features into the reference's phases.
    val phase1 = mutable.ArrayBuffer.empty[Feature]
    val joins = mutable.ArrayBuffer.empty[Feature]
    val windows = mutable.ArrayBuffer.empty[Feature]
    val trailing = mutable.ArrayBuffer.empty[Feature]
    var sawJoinOrWindow = false
    v.features.foreach { f =>
      f.transform match {
        case _: JoinTransform       => joins += f; sawJoinOrWindow = true
        case _: OverWindowTransform => windows += f; sawJoinOrWindow = true
        case _: ExpressionTransform | _: UdfTransform =>
          if (sawJoinOrWindow) trailing += f else phase1 += f
        case other =>
          throw new IllegalArgumentException(s"DerivedFeatureView does not accept $other")
      }
    }

    var df = applyRowFeatures(source, phase1.toSeq)

    // All temporal joins, deduplicated per (table, keys)
    // (ref: spark_dataframe_builder.py:210-216,284-322).
    val joinGroups = joins.groupBy { f =>
      val jt = f.transform.asInstanceOf[JoinTransform]
      val keys = f.resolvedKeys.getOrElse(
        throw new IllegalArgumentException(s"Join feature ${f.name} requires keys"))
      (jt.tableName, keys)
    }
    joinGroups.foreach { case ((tableName, keys), fs) =>
      val rightDesc = Registry.get(tableName)
      // Point-in-time semantics need a right-side event time
      // (ref: test_join_transform.py:331-373 — joining a table without a
      // timestamp field is an error, not an implicit latest-row join).
      require(rightDesc.timestampField.isDefined,
        s"Join right table '$tableName' has no timestamp field; " +
          "point-in-time join requires one")
      val right0 = buildWithTime(rightDesc)
      // Join expiry ("valid time interval"): when the right table is a
      // SlidingFeatureView with enable_empty_window_output=false, no row is
      // emitted for empty windows, so a joined value older than one step
      // must revert to the aggregation default (SUM/COUNT→0, others NULL)
      // (ref: python/feathub/processors/flink/table_builder/
      // join_utils.py:57-142, 293-326; defaults per flink
      // aggregation_utils.py:93-118).
      val expiry: Option[Long] = rightDesc match {
        case sv: SlidingFeatureView if !sv.enableEmptyWindowOutput =>
          Some(sv.stepSize.toMillis)
        case _ => None
      }
      val needsRightTime = expiry.isDefined
      // each joined feature expression, evaluated on the right table
      val right = right0.select(
        (keys.map(col) :+ col(EventTime.Col)) ++
          fs.zipWithIndex.map { case (f, i) =>
            val jt = f.transform.asInstanceOf[JoinTransform]
            SparkCompiler.compile(jt.featureExpr).as(s"__jv_$i")
          } ++
          (if (needsRightTime) Seq(col(EventTime.Col).as("__rt")) else Nil): _*)
      val joinPairs =
        fs.toSeq.zipWithIndex.map { case (f, i) => (s"__jv_$i", f.name) } ++
          (if (needsRightTime) Seq(("__rt", "__rt")) else Nil)
      df =
        if (df.isStreaming) {
          // Unbounded as-of join: the Flink temporal-join analogue. The
          // right table must also be unbounded (declare isBounded=false /
          // feed a streaming DataFrame) — a bounded snapshot would freeze
          // versions at job start, which is not point-in-time semantics.
          require(right.isStreaming,
            s"streaming view ${v.name} temporal-joins bounded table '$tableName'; " +
              "declare the right source unbounded so versions keep advancing")
          graft.streaming.StreamingTemporalJoin(
            df, right, keys, joinPairs,
            math.max(maxOutOfOrderness(v.source), maxOutOfOrderness(rightDesc)))
        } else TemporalJoin.pointInTime(df, right, keys, joinPairs)
      // expiry and the declared dtype in one projection per join group
      val finals = fs.toSeq.flatMap { f =>
        val expired = expiry.map { validMs =>
          val default = slidingDefault(rightDesc.asInstanceOf[SlidingFeatureView],
            f.transform.asInstanceOf[JoinTransform].featureExpr)
          TemporalJoin.expiring("__rt", f.name, validMs, default)
        }
        val v = expired.getOrElse(col(f.name))
        f.dtype.map(dt => v.cast(dt.toSpark)).orElse(expired).map(f.name -> _)
      }
      df = Projection.all(df, finals)
      if (needsRightTime) df = df.drop("__rt")
    }

    if (df.isStreaming && windows.nonEmpty) {
      // Unbounded over-windows: the stateful per-row operator (the batch
      // Window-function plan is not runnable on a stream). Same frame
      // semantics; one groupByKey state per shared key set.
      require(joins.isEmpty,
        s"streaming DerivedFeatureView ${v.name} combines temporal joins and " +
          "over-windows: that chains two flatMapGroupsWithState operators, " +
          "which Structured Streaming rejects — split into two views")
      val specs = windows.toSeq.map(f => (f, f.transform.asInstanceOf[OverWindowTransform]))
      val keySets = specs.map(_._2.groupByKeys).distinct
      require(keySets.size == 1,
        s"streaming over-windows in ${v.name} must share group_by_keys, got $keySets")
      val prepped = Projection.all(df, specs.zipWithIndex.flatMap { case ((_, tr), i) =>
        val e = SparkCompiler.compile(tr.expr)
        Seq(
          s"__v_$i" -> tr.filterExpr.map(fe => when(SparkCompiler.compile(fe), e)).getOrElse(e),
          s"__m_$i" -> tr.filterExpr
            .map(fe => coalesce(SparkCompiler.compile(fe), lit(false)))
            .getOrElse(lit(true)))
      })
      df = graft.streaming.StreamingOverWindows(
        prepped,
        keySets.head,
        specs.map { case (f, tr) =>
          graft.streaming.StreamingOverWindows.FeatureSpec(
            f.name, tr.aggFunc, tr.windowSize.map(_.toMillis), tr.limit,
            tr.filterExpr.isDefined)
        },
        maxOutOfOrderness(v.source))
      df = castDeclared(df, windows.toSeq)
    } else {
    // All over-windows in one select; identical WindowSpecs collapse into a
    // single Window operator under Catalyst. filter+limit features take the
    // filtered-subset propagation path (limit counts matching rows),
    // grouped so features sharing (keys, filter, window, limit) ride one
    // union (the reference's OverWindowDescriptor fusion).
    val (flFeats, plainFeats) = windows.partition { f =>
      val tr = f.transform.asInstanceOf[OverWindowTransform]
      tr.filterExpr.isDefined && tr.limit.isDefined
    }
    df = Projection.add(df, plainFeats.toSeq.map { f =>
      val tr = f.transform.asInstanceOf[OverWindowTransform]
      val c0 = OverWindows.aggColumn(tr, Nil)
      Projection.Out(f.name, OverWindows.reads(tr), f.dtype.map(dt => c0.cast(dt.toSpark)).getOrElse(c0))
    })
    flFeats
      .groupBy { f =>
        val tr = f.transform.asInstanceOf[OverWindowTransform]
        (tr.groupByKeys, tr.filterExpr, tr.windowSize, tr.limit)
      }
      .foreach { case (_, fs) =>
        df = castDeclared(OverWindows.filteredLimitGroup(
          df, fs.toSeq.map(f => (f.name, f.transform.asInstanceOf[OverWindowTransform]))),
          fs.toSeq)
      }
    }

    df = applyRowFeatures(df, trailing.toSeq)

    // Filter applied after all transforms (ref: derived_feature_view.py:79-83).
    v.filterExpr.foreach(f => df = df.filter(SparkCompiler.compile(f)))

    val outFields: Seq[String] =
      if (v.keepSourceFields)
        (source.columns.filterNot(_ == EventTime.Col) ++ v.features.map(_.name)).distinct.toSeq
      else {
        val keyCols = v.resolvedKeys.getOrElse(Nil)
        (keyCols ++ v.timestampField.toSeq ++ v.features.map(_.name)).distinct
      }
    // Untimestamped sources (e.g. a DataGen dimension) have no event-time
    // metadata column to carry through.
    val metaCols = if (df.columns.contains(EventTime.Col)) Seq(col(EventTime.Col)) else Nil
    df.select(outFields.map(col) ++ metaCols: _*)
  }

  /** Expiry default for a feature joined from a sliding view: SUM/COUNT → 0,
    * everything else NULL (ref: flink aggregation_utils.py:93-118).
    */
  private def slidingDefault(sv: SlidingFeatureView, featureExpr: String): Column = {
    val agg = sv.features
      .find(_.name == featureExpr)
      .map(_.transform)
      .collect { case t: SlidingWindowTransform => t.aggFunc }
    agg match {
      case Some(AggFunc.Sum)   => lit(0)
      case Some(AggFunc.Count) => lit(0L)
      case _                   => lit(null)
    }
  }

  /** Per-row features in listed order, each seeing the ones before it. */
  private def applyRowFeatures(df: DataFrame, fs: Seq[Feature]): DataFrame =
    Projection.add(df, fs.map(rowFeature))

  private def rowFeature(f: Feature): Projection.Out = f.transform match {
    case ExpressionTransform(e) => Projection.Out.expr(f.name, e, f.dtype)
    case UdfTransform(fn, resultType, failOnException, valueOnException) =>
      val wrapped: Row => Any =
        if (failOnException) fn
        else r => try fn(r) catch { case _: Exception => valueOnException }
      val u = udf(new UDF1[Row, Any] { def call(r: Row): Any = wrapped(r) }, resultType.toSpark)
      // the UDF reads the whole row it is added to
      Projection.Out(f.name, None, df => u(struct(df.columns.toIndexedSeq.map(col): _*)))
    case other => throw new IllegalArgumentException(s"not a per-row transform: $other")
  }

  /** The declared dtypes of `fs`, cast in one projection. */
  private def castDeclared(df: DataFrame, fs: Seq[Feature]): DataFrame =
    Projection.all(df, fs.flatMap(f => f.dtype.map(dt => f.name -> col(f.name).cast(dt.toSpark))))

  // ---------------------------------------------------------------- sliding

  private def buildSliding(v: SlidingFeatureView): DataFrame = {
    val source = buildWithTime(v.source)
    val pre = mutable.ArrayBuffer.empty[Feature]
    val sliding = mutable.ArrayBuffer.empty[Feature]
    val post = mutable.ArrayBuffer.empty[(String, String)]
    var sawSliding = false
    v.features.foreach { f =>
      f.transform match {
        case _: SlidingWindowTransform => sliding += f; sawSliding = true
        case ExpressionTransform(e) =>
          if (sawSliding) post += ((f.name, e)) else pre += f
        case t: UdfTransform =>
          require(!sawSliding, "UDF features must precede sliding windows")
          pre += f
        case other =>
          throw new IllegalArgumentException(s"SlidingFeatureView does not accept $other")
      }
    }
    val input = applyRowFeatures(source, pre.toSeq)
    if (input.isStreaming) return buildSlidingStream(v, input, sliding.toSeq, post.toSeq)
    val out = SlidingWindows(
      input,
      sliding.toSeq.map(f =>
        SlidingWindows.SlidingFeature(f.name, f.transform.asInstanceOf[SlidingWindowTransform])),
      v.enableEmptyWindowOutput,
      v.skipSameWindowOutput)
    // Declared feature dtypes (ref: sliding Feature dtype casts applied to
    // the aggregation results).
    finishSliding(v, castDeclared(out, sliding.toSeq), sliding.toSeq, post.toSeq)
  }

  /** Shared tail of the sliding build: expose the window-close time under
    * the view's declared timestamp field/format (ref: sliding_feature_view
    * .py:146-151, 200-231 — the default is `window_time` in epoch_millis,
    * but any field name and strftime output format may be declared), then
    * apply post-expressions (which may reference both the formatted field
    * and GET_WINDOW_TIME()) and the view filter.
    */
  private def finishSliding(
      v: SlidingFeatureView,
      df0: DataFrame,
      sliding: Seq[Feature],
      post: Seq[(String, String)]): DataFrame = {
    val wt = col(SparkCompiler.WindowTimeCol)
    val tsCol = v.outputTimestampFormat match {
      case "epoch_millis" => wt
      case "epoch"        => (wt / 1000L).cast("bigint")
      case strftime =>
        date_format(
          timestamp_millis(wt),
          graft.expr.TimeFormats.toJavaDateFormat(strftime))
    }
    var out = Projection.add(df0,
      Projection.Out(v.timestampFieldName, Set.empty[String], tsCol) +:
        post.map { case (n, e) => Projection.Out.expr(n, e) })
    v.filterExpr.foreach(f => out = out.filter(SparkCompiler.compile(f)))
    val outCols = (v.groupByKeys :+ v.timestampFieldName) ++
      sliding.map(_.name) ++ post.map(_._1)
    out.select(outCols.distinct.map(col) :+ wt.as(EventTime.Col): _*)
  }

  /** Unbounded path: same SlidingFeatureView semantics via the stateful
    * streaming operator (graft.streaming.StreamingSlidingWindows).
    */
  private def buildSlidingStream(
      v: SlidingFeatureView,
      input: DataFrame,
      sliding: Seq[Feature],
      post: Seq[(String, String)]): DataFrame = {
    import graft.streaming.StreamingSlidingWindows
    val trs = sliding.map(f => (f, f.transform.asInstanceOf[SlidingWindowTransform]))
    val withVals = Projection.all(input, trs.zipWithIndex.map { case ((_, tr), i) =>
      val e = SparkCompiler.compile(tr.expr)
      s"__v_$i" -> tr.filterExpr.fold(e)(fe => when(SparkCompiler.compile(fe), e))
    })
    val maxOoo = maxOutOfOrderness(v.source)
    val out = StreamingSlidingWindows(
      withVals,
      v.groupByKeys,
      trs.map { case (f, tr) =>
        StreamingSlidingWindows.FeatureSpec(f.name, tr.aggFunc, tr.windowSize.toMillis, tr.limit) },
      v.stepSize.toMillis,
      v.enableEmptyWindowOutput,
      v.skipSameWindowOutput,
      maxOoo)
    val timed = castDeclared(out, sliding)
      .withColumn(SparkCompiler.WindowTimeCol, col("window_time"))
      .drop("window_time")
    finishSliding(v, timed, sliding, post)
  }

  private def maxOutOfOrderness(desc: TableDescriptor): Long = desc match {
    case s: FileSource      => s.maxOutOfOrderness.toMillis
    case s: DataFrameSource => s.maxOutOfOrderness.toMillis
    case s: KafkaSource     => s.maxOutOfOrderness.toMillis
    case _                  => 0L
  }

  // -------------------------------------------------------------------- sql

  private def buildSql(v: SqlFeatureView): DataFrame = {
    v.dependencies.foreach { dep =>
      build(dep).createOrReplaceTempView(dep.name)
    }
    val df = spark.sql(v.sqlStatement)
    EventTime.append(df, v.timestampField, v.timestampFormat)
  }
}

/** Process-local name → descriptor registry
  * (ref: python/feathub/registries/local_registry.py:44-104).
  */
object Registry {
  // synchronized: the registry is process-shared and registrations can
  // race (parallel suites, concurrent clients)
  private val tables = mutable.Map.empty[String, TableDescriptor]
  def register(desc: TableDescriptor): Unit =
    tables.synchronized { tables(desc.name) = desc }
  def get(name: String): TableDescriptor = tables.synchronized {
    tables.getOrElse(name, throw new NoSuchElementException(s"Table $name not registered"))
  }
  def lookup(name: String): Option[TableDescriptor] =
    tables.synchronized { tables.get(name) }
  /** Remove a registered descriptor; false when absent
    * (ref: local_registry.py delete_features / test_registry.py:158-186).
    */
  def delete(name: String): Boolean =
    tables.synchronized { tables.remove(name).isDefined }
  def clear(): Unit = tables.synchronized { tables.clear() }
}
