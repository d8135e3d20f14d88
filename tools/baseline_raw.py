#!/usr/bin/env python3
"""Hand-written PySpark equivalents of representative inventory queries
(dev tool, driver-side only — NOT part of the shipped library).

Establishes the single-node throughput baseline BASELINE.md lacks: the
reference publishes no numbers, so the operative comparison is (a) raw
hand-authored Spark DataFrame code, and (b) the reference's OWN Spark
temporal-join recipe (processors/spark/dataframe_builder/join_utils.py:72-110,
re-implemented verbatim here), timed on the same data, same session
config, same noop-write protocol as graft.Bench.

Usage: python3 tools/baseline_raw.py [sfDir]
Compare with: SPARK_GRAFT_SF_DIR=<sfDir> tools/run.sh graft.JobProf --repeat 3 q01_derived_expr   etc.
"""
import sys
import time

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", 32)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1000000).selectExpr("sum(id)").collect()  # JIT warmup
li = spark.read.parquet(f"{sf}/lineitem.parquet")
li.count()  # footer cache warmup, mirrors graft.Bench


def bench(name, df):
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    dt = min(dt, time.time() - t0)  # min-of-2, mirrors graft.Bench
    print(f"[raw] {name:28s} {dt:5.2f}s")
    return dt


# --- q01 equivalent: expression projection --------------------------------
bench(
    "q01_projection",
    li.withColumn("revenue", F.col("l_extendedprice") * (1 - F.col("l_discount")))
    .withColumn(
        "charge",
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
    )
    .withColumn(
        "qty_class",
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 30, "mid")
        .otherwise("high"),
    ),
)

# --- q06 equivalent: the REFERENCE's own Spark temporal-join recipe -------
# join_utils.py:72-110: left-outer join on key equality AND left_time >=
# right_time (row explosion over all earlier right versions), then
# row_number() over (keys, left_time) ordered by right_time desc, keep 1.
# o_orderkey added to the partition so duplicate (custkey, date) left rows
# are not collapsed — charitable to the recipe (equal-or-faster).
orders = spark.read.parquet(f"{sf}/orders.parquet").select(
    "o_orderkey", "o_custkey", (F.unix_micros(F.to_timestamp(F.col("o_orderdate"))) / 1000).cast("long").alias("t")
)
events = spark.read.parquet(f"{sf}/events.parquet").select(
    F.col("user_id").alias("r_key"),
    (F.col("ts") / 1000000).cast("long").alias("r_t"),
    F.col("value").alias("r_v"),
)
w = Window.partitionBy("o_custkey", "t", "o_orderkey").orderBy(F.desc("r_t"))
bench(
    "q06_pit_reference_recipe",
    orders.join(
        events,
        (F.col("o_custkey") == F.col("r_key")) & (F.col("t") >= F.col("r_t")),
        "left_outer",
    )
    .withColumn("rn", F.row_number().over(w))
    .filter("rn = 1"),
)

# --- PIT join under version depth: recipe vs union+running-last -----------
# The recipe's exploded row count is |left| x avg-versions-per-key; our
# engine's union + running-last window is |left| + |right| regardless.
# Folding the keyspace 500x (~300 versions/key at sf0.1) shows the
# crossover the flat ~15-versions/key comparison above hides.
hot_orders = orders.withColumn("o_custkey", F.col("o_custkey") % 500)
hot_events = events.withColumn("r_key", F.col("r_key") % 500)
bench(
    "pit_hotkeys_ref_recipe",
    hot_orders.join(
        hot_events,
        (F.col("o_custkey") == F.col("r_key")) & (F.col("t") >= F.col("r_t")),
        "left_outer",
    )
    .withColumn("rn", F.row_number().over(w))
    .filter("rn = 1"),
)
# our union + running-last formulation (TemporalJoin.pointInTime), raw
packed = hot_events.groupBy("r_key", "r_t").agg(F.max("r_v").alias("rv"))
unioned = hot_orders.select(
    F.col("o_custkey").alias("k"),
    F.col("t"),
    F.col("o_orderkey"),
    F.lit(1).alias("is_left"),
    F.lit(None).cast("double").alias("rv"),
).unionByName(
    packed.select(
        F.col("r_key").alias("k"),
        F.col("r_t").alias("t"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(0).alias("is_left"),
        F.col("rv"),
    )
)
wl = (
    Window.partitionBy("k")
    .orderBy(F.col("t").asc(), F.col("is_left").asc())
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)
)
bench(
    "pit_hotkeys_union_lastval",
    unioned.withColumn("pit", F.last("rv", True).over(wl)).filter(
        "is_left = 1"
    ),
)

# --- q07 equivalent: trailing range over-window ----------------------------
ev = spark.read.parquet(f"{sf}/events.parquet").select(
    "user_id", (F.col("ts") / 1000000).cast("long").alias("tms"), "value"
)
wr = (
    Window.partitionBy("user_id")
    .orderBy("tms")
    .rangeBetween(-3600 * 1000, Window.currentRow)
)
bench(
    "q07_over_window_range",
    ev.withColumn("avg_1h", F.avg("value").over(wr)),
)

# --- q20 equivalent: exact dedup -------------------------------------------
docs = spark.read.parquet(f"{sf}/documents.parquet")
bench(
    "q20_exact_dedup",
    docs.withColumn("h", F.md5("text"))
    .groupBy("h")
    .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")),
)

spark.stop()
