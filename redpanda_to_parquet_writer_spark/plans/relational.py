"""Reference-parity relational plans (SURVEY.md section 2) over the
synthetic tables, each paired with a DuckDB oracle.

The `events` table stands in for the Kafka envelope (FIXTURES.md section
5): `event_id` ~ kafka_offset, `user_id % 8` ~ kafka_partition, `ts` ~
kafka_timestamp, `props` ~ the JSON payload.

Plan-quality notes (verified via .explain):
  - small-dimension joins (region/nation/customer/part) broadcast — no
    shuffle of the fact side;
  - top-k plans become TakeOrderedAndProject (no global sort);
  - aggregates run partial (map-side) before the single shuffle;
  - filters/projections push into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.functions.dates import (
    date_path,
    event_epoch_ms,
    event_epoch_sec,
    event_epoch_us,
)
from redpanda_to_parquet_writer_spark.functions.ratio import exact_ratio
from redpanda_to_parquet_writer_spark.operators.dedup import anti_join_dedup
from redpanda_to_parquet_writer_spark.sources.parquet import load_table


def _partition(col: str = "user_id") -> F.Column:
    """Synthetic kafka_partition: user_id mod 8 (FIXTURES section 1)."""
    return F.pmod(F.col(col), F.lit(8)).cast("long")


# --- A8 / O3: aggregate + top-k (the reader's documented analytics query,
#     PARQUET_READER_README.md:417-424) -------------------------------------

def topk_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    # value is exact 2dp -> DECIMAL accumulation + integer half-up
    # average (r10 rounding-tie discipline; see hourly_event_stats)
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
            F.max("value").alias("max_value"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            F.expr("CAST(s AS DOUBLE)").alias("total_value"),
            exact_ratio("s", "n_events").alias("avg_value"),
            "max_value",
            "n_events",
        )
        .orderBy(F.col("total_value").desc(), F.col("event_type").asc())
        .limit(10)
    )


# --- A1: per-partition max offset (offset recovery, collector:468-530) -----

def offset_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(_partition().alias("kafka_partition"), F.col("event_id"))
        .groupBy("kafka_partition")
        .agg(F.max("event_id").alias("max_offset"))
    )


# --- A2: per-partition counts (validation, collector:1456-1461) ------------

def partition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(_partition().alias("kafka_partition"))
        .groupBy("kafka_partition")
        .agg(F.count("*").alias("n_records"))
    )


# --- A5: distinct values (reader:336) --------------------------------------

def distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select("event_type").distinct()


# --- A6: numeric profile (reader:406-443) ----------------------------------

def numeric_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE scan: a single wide aggregate (partial map-side, one tiny
    # exchange) unpivoted via stack — not a scan+exchange per column
    events = load_table(spark, sf_dir, "events")
    cols = ("event_id", "user_id", "value")
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"{c}__min"),
            F.max(F.col(c).cast("double")).alias(f"{c}__max"),
            # exact mean (r10 rounding-tie discipline): every profiled
            # column is integral or exact 2dp, so a DECIMAL sum +
            # integer half-away-from-zero average is exact; stddev has
            # no exact decimal form (inherent float) and keeps the
            # 6-dp round as the documented cross-engine mitigation
            F.sum(F.col(c).cast("decimal(25,2)")).alias(f"{c}__s"),
            F.count(F.col(c)).alias(f"{c}__n"),
            F.round(F.stddev(c), 6).alias(f"{c}__std"),
        ]
    wide = events.agg(*aggs)
    wide = wide.select(
        "*", *[exact_ratio(f"`{c}__s`", f"`{c}__n`").alias(f"{c}__mean") for c in cols]
    )
    stack = ", ".join(
        f"'{c}', `{c}__min`, `{c}__max`, `{c}__mean`, `{c}__std`" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) as (column, min, max, mean, std)"
    )


# --- A7: per-column null counts (reader:394-396) ---------------------------

def null_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        *[
            F.count(F.when(F.col(c).isNull(), F.lit(1))).alias(f"nulls_{c}")
            for c in events.columns
        ]
    )


# --- J1/D1: anti-join key dedup (collector:741-758) ------------------------

def dedup_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        _partition().alias("kafka_partition"),
        F.col("event_id").alias("kafka_offset"),
        "event_type",
    )
    # "already persisted" keys: every offset with offset % 10 < 3
    existing = events.filter(F.col("kafka_offset") % 10 < 3)
    return anti_join_dedup(events, existing).select(
        "kafka_partition", "kafka_offset", "event_type"
    )


# --- D2: content dedup keep-first (reader:653-710) -------------------------

def dedup_content_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keep-first == min(event_id) per content group, since the group
    # keys ARE the content: a plain map-side-combined aggregate, never
    # a window partitioned by content (the corpus's hottest duplicate
    # would own ONE unsplittable window task at scale — r12, the same
    # class as docs_line_dedup; oracle unchanged in window form)
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", "event_type", "value", "props")
        .agg(F.min("event_id").alias("event_id"))
        .select("event_id", "user_id", "event_type", "value", "props")
    )


# --- P1/P2 flavor: JSON payload extraction + aggregation -------------------

def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    # avg_k follows the exact-ratio rule (functions/ratio.py), so Spark
    # and the oracle produce bitwise-identical doubles; sum_k can be
    # negative, and the mean rounds half away from zero
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count("k").alias("cnt_k"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("null_k"),
        )
        .withColumn(
            "avg_k", F.when(F.col("cnt_k") > 0, exact_ratio("sum_k", "cnt_k"))
        )
        .select("event_type", "sum_k", "avg_k", "null_k")
    )


# --- F1/T4: event-time date partitioning (collector:863-867) ---------------

def date_partition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # events.ts is TIMESTAMP_NTZ in current fixtures (epoch-nanos long in
    # legacy ones) — event_epoch_ms adapts; the collector's chain is
    # epoch-ms -> yyyy/MM/dd (collector:863-867)
    epoch_ms = event_epoch_ms(events)
    return (
        events.select(date_path(epoch_ms).alias("date_path"), "event_id")
        .groupBy("date_path")
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("first_offset"),
            F.max("event_id").alias("last_offset"),
        )
    )


# --- U1/D1: union + distinct (collector:504-1296 concat usage) -------------

def union_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    a = events.filter(F.col("event_id") % 3 != 0)
    b = events.filter(F.col("event_id") % 2 == 0)
    return (
        a.unionByName(b)
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


# --- TPC-H-style plans over the star schema (generic operator coverage) ----

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan -> filter -> agg -> sort. The flagship."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way join with broadcast dims: region -> nation -> customer -> orders."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on both sides of a 3-way join,
    then top-10 revenue — plans as broadcast joins + TakeOrderedAndProject."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # A/B-measured at sf0.1: joining lineitem x orders first, then the
    # broadcast of the filtered customer dim, beats a filter-first
    # reorder (which adds a stage boundary AQE can't fuse) — 0.53s vs
    # 0.69s. AQE picks broadcast vs shuffle per join from runtime sizes.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost revenue from returned items per customer over
    one quarter. The only shuffle is lineitem<->orders (both facts,
    pre-filtered so the scan prunes on l_returnflag / o_orderdate);
    customer joins post-agg-side via AQE-sized join, nation broadcasts;
    top-20 plans as TakeOrderedAndProject. Tie-break on c_custkey (unique
    per group) keeps the limit deterministic across engines.

    Revenue sums decimal(18,4), not double: the small per-customer groups
    land sums exactly on the .xx5 rounding boundary at sf0.01, where
    double addition order flips the 2-dp rounding between engines;
    decimal accumulation is order-independent and exact."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(F.sum(revenue), 2).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def top_brands_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(revenue), 2).alias("revenue"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .orderBy(F.col("revenue").desc(), F.col("p_brand").asc())
        .limit(10)
    )


def global_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregates (A3/A4) — exercises parquet aggregate pushdown
    for count/min/max."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.min("l_orderkey").alias("min_orderkey"),
        F.max("l_orderkey").alias("max_orderkey"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join, customer and supplier co-located in
    the same nation, revenue per nation within one region. Dims broadcast;
    the lineitem<->orders join is the only shuffle."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(
            F.broadcast(customer),
            (orders.o_custkey == customer.c_custkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
    )


def hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate (the T9 extension): batch
    form of the streaming windowed agg, on the event timestamp."""
    events = load_table(spark, sf_dir, "events")
    ts = F.timestamp_micros(event_epoch_us(events))
    # value is exact 2dp, so DECIMAL accumulation is exact and the
    # average rounds via integer half-away-from-zero on micro-units —
    # round(avg(double), 6) split the engines at the sf1 fixture on an
    # exact tie (72443.5/1600 = 45.2771875); the final int->double
    # divisions are correctly rounded identically everywhere
    return (
        events.select(
            F.window(ts, "1 hour").alias("w"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        .groupBy(F.col("w.start").alias("window_start"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .select(
            "window_start",
            "n",
            F.expr("CAST(s AS DOUBLE)").alias("total_value"),
            exact_ratio("s", "n").alias("avg_value"),
        )
    )


def running_max_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window extension (SURVEY 2.10): per-user running max over event time."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id", "user_id", F.max("value").over(w).alias("running_max")
    )


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation (ROLLUP): per (type, partition), per type,
    and grand total in one pass — Spark expands grouping sets, one
    shuffle."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select("event_type", _partition().alias("kafka_partition"), "value")
        .rollup("event_type", "kafka_partition")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, partition): all four grouping-set levels in
    one pass — Spark expands grouping sets map-side, single shuffle."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select("event_type", _partition().alias("kafka_partition"), "value")
        .cube("event_type", "kafka_partition")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type to columns (counts per user bucket)."""
    events = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        events.select(F.pmod("user_id", F.lit(10)).cast("long").alias("user_bucket"), "event_type")
        .groupBy("user_bucket")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


def clicks_asof_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click gets the user's most recent purchase at or
    before it (trade-vs-quote shape on the event stream). Right side is
    made unique per (user, ts) first so ties are deterministic."""
    from redpanda_to_parquet_writer_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "event_id",
        "user_id",
        event_epoch_us(events).alias("ts_us"),
        "event_type",
        "value",
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_us")
        .agg(F.max_by("value", "event_id").alias("value"))
    )
    return asof_join(clicks, purchases, key_cols=["user_id"], ts_col="ts_us")


#: salt width for the two-level per-brand top-k: local top-3 within
#: each of TOPK_SALT id-hash shards, final top-3 over the surviving
#: |brands| x TOPK_SALT x 3 rows — the final window's frame is bounded
#: by the salt, never by |parts|
TOPK_SALT = 16


def top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (vs the global top-k of O3): 3 highest-revenue
    parts within every brand.

    Scale shape (r11): TWO-LEVEL rank selection. p_brand has ~25
    distinct values, so a single rank window partitioned by brand puts
    |parts|/25 rows in one task at cluster scale. Instead the first
    window partitions by (brand, p_partkey % 16): each shard keeps its
    local top-3, a shard's top-3 provably contains every global top-3
    row, and the final window ranks the surviving
    |brands| x 16 x 3 bounded frame. Both windows reuse one exchange
    lineage; results are bitwise-identical to the single-window form
    (same deterministic (revenue DESC, p_partkey ASC) order)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
    )
    order = (F.col("revenue").desc(), F.col("p_partkey").asc())
    local_w = Window.partitionBy(
        "p_brand", F.pmod(F.col("p_partkey"), F.lit(TOPK_SALT))
    ).orderBy(*order)
    survivors = per_part.withColumn(
        "__lrank", F.row_number().over(local_w)
    ).filter(F.col("__lrank") <= 3)
    w = Window.partitionBy("p_brand").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("p_brand", "p_partkey", "revenue", "rank")
    )


HOUR_US = 3_600_000_000


def purchase_attribution_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-join attribution: count each user's clicks in the hour
    before each purchase. Uses the binned interval join (equi-shuffle on
    (user, bin)), never a nested-loop BETWEEN join."""
    from redpanda_to_parquet_writer_spark.operators.asof import interval_join

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "event_id",
        "user_id",
        event_epoch_us(events).alias("ts_us"),
        "event_type",
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("click_ts")
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        (F.col("ts_us") - HOUR_US).alias("lo"),
        F.col("ts_us").alias("hi"),
    )
    joined = interval_join(
        clicks, purchases, "click_ts", "lo", "hi", ["user_id"], HOUR_US
    )
    return joined.groupBy("purchase_id").agg(
        F.count("*").alias("n_clicks"),
        F.min("click_ts").alias("first_click_ts"),
        F.max("click_ts").alias("last_click_ts"),
    )


def offset_gap_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition offset-gap detection, batch form (the streaming
    twin is `streaming.stateful.detect_offset_gaps`). Synthetic envelope:
    contiguous per-partition offsets with every offset ≡ 13 (mod 97)
    dropped — the detector must report exactly those holes."""
    from redpanda_to_parquet_writer_spark.streaming.stateful import offset_gaps_batch

    events = load_table(spark, sf_dir, "events")
    env = events.select(
        F.pmod("event_id", F.lit(8)).cast("long").alias("kafka_partition"),
        F.expr("event_id DIV 8").alias("kafka_offset"),
    ).filter(F.expr("kafka_offset % 97 != 13"))
    return offset_gaps_batch(env)


def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-aggregate coverage (extension beyond the reference's
    plain aggs): exact count(DISTINCT user_id) per event_type. Spark
    plans this as a two-phase expand+agg — partial distinct map-side."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


SESSION_GAP_SEC = 1800


def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (streaming-analytics extension of T9):
    a session breaks when a user is idle > 30 min. Two windows over the
    SAME (user_id, ts, event_id) ordering — Spark plans one shuffle and
    reuses the sort for both lag and the running session counter."""
    events = load_table(spark, sf_dir, "events")
    # floor event time to seconds, whatever dtype the fixture stores
    base = events.select(
        "user_id",
        "event_id",
        event_epoch_sec(events).alias("ts_sec"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    gap = F.col("ts_sec") - F.lag("ts_sec").over(w)
    sess = base.withColumn(
        "is_new", F.when(gap.isNull() | (gap > SESSION_GAP_SEC), 1).otherwise(0)
    ).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("ts_sec") - F.min("ts_sec")).alias("span_sec"),
    )
    # avg via the exact-ratio rule — bitwise-stable across engines
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("span_sec").alias("max_session_span_sec"),
        )
        .withColumn("avg_session_events", exact_ratio("n_events", "n_sessions"))
        .select(
            "user_id",
            "n_sessions",
            "n_events",
            "avg_session_events",
            "max_session_span_sec",
        )
    )


def events_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-set EXCEPT/INTERSECT (U-extension): ids in the high-value set
    but not the error set, unioned with ids in both click and view."""
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    high = events.filter(F.col("value") > 50).select("event_id")
    errors = events.filter(F.col("event_type") == "error").select("event_id")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.pmod("event_id", F.lit(1000)).alias("bucket")
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.pmod("event_id", F.lit(1000)).alias("bucket")
    )
    a = high.exceptAll(errors).select(F.col("event_id").alias("id")).withColumn(
        "src", F.lit("high_not_error")
    )
    b = (
        clicks.intersect(views)
        .select(F.col("bucket").alias("id"))
        .withColumn("src", F.lit("click_and_view_bucket"))
    )
    return a.unionByName(b)


def events_locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill via LOCF (last observation carried forward):
    every event carries the user's most recent purchase value.

    The hypertable-style forward-fill: `last(..., ignorenulls)` over an
    unbounded-preceding row frame. One shuffle on user_id; the running
    frame is computed in a single pass per partition (no self-join, no
    range scan) — the plan you want when back-filling sparse signals
    across a 100 TB event stream.
    """
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        )
        .over(w)
        .alias("last_purchase_value"),
    )


QUERIES = {
    "topk_events_by_type": topk_events_by_type,
    "events_locf_gap_fill": events_locf_gap_fill,
    "offset_recovery": offset_recovery,
    "partition_counts": partition_counts,
    "distinct_event_types": distinct_event_types,
    "numeric_profile_events": numeric_profile_events,
    "null_counts_events": null_counts_events,
    "dedup_anti_join": dedup_anti_join,
    "dedup_content_keep_first": dedup_content_keep_first,
    "json_extract_props": json_extract_props,
    "date_partition_counts": date_partition_counts,
    "union_dedup_count": union_dedup_count,
    "pricing_summary": pricing_summary,
    "revenue_by_region": revenue_by_region,
    "shipping_priority": shipping_priority,
    "top_brands_by_revenue": top_brands_by_revenue,
    "returned_item_revenue": returned_item_revenue,
    "global_stats_lineitem": global_stats_lineitem,
    "local_supplier_volume": local_supplier_volume,
    "hourly_event_stats": hourly_event_stats,
    "running_max_value": running_max_value,
    "events_rollup": events_rollup,
    "events_cube": events_cube,
    "events_pivot": events_pivot,
    "events_except_intersect": events_except_intersect,
    "events_sessionization": events_sessionization,
    "distinct_users_by_type": distinct_users_by_type,
    "offset_gap_check": offset_gap_check,
    "clicks_asof_purchases": clicks_asof_purchases,
    "purchase_attribution_window": purchase_attribution_window,
    "top_parts_per_brand": top_parts_per_brand,
}


ORACLES = {
    "events_locf_gap_fill": """
        SELECT event_id, user_id,
               LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS last_purchase_value
        FROM events
    """,
    "top_parts_per_brand": """
        WITH per_part AS (
          SELECT p.p_brand, p.p_partkey,
                 round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          GROUP BY p.p_brand, p.p_partkey
        )
        SELECT p_brand, p_partkey, revenue, rank
        FROM (
          SELECT p_brand, p_partkey, revenue,
                 row_number() OVER (
                   PARTITION BY p_brand ORDER BY revenue DESC, p_partkey ASC
                 ) AS rank
          FROM per_part
        )
        WHERE rank <= 3
    """,
    "purchase_attribution_window": f"""
        WITH base AS (
          SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events
        ),
        clicks AS (
          SELECT user_id, ts_us AS click_ts FROM base WHERE event_type = 'click'
        ),
        purchases AS (
          SELECT user_id, event_id AS purchase_id,
                 ts_us - {HOUR_US} AS lo, ts_us AS hi
          FROM base WHERE event_type = 'purchase'
        )
        SELECT purchase_id, count(*) AS n_clicks,
               min(click_ts) AS first_click_ts,
               max(click_ts) AS last_click_ts
        FROM purchases p JOIN clicks c
          ON c.user_id = p.user_id AND c.click_ts BETWEEN p.lo AND p.hi
        GROUP BY purchase_id
    """,
    "clicks_asof_purchases": """
        WITH base AS (
          SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
          FROM events
        ),
        clicks AS (
          SELECT event_id, user_id, ts_us FROM base WHERE event_type = 'click'
        ),
        purchases AS (
          SELECT user_id, ts_us, arg_max(value, event_id) AS value
          FROM base WHERE event_type = 'purchase'
          GROUP BY user_id, ts_us
        )
        SELECT l.event_id, l.user_id, l.ts_us,
               r.ts_us AS ts_us_asof, r.value AS value_asof
        FROM clicks l
        ASOF LEFT JOIN purchases r
          ON l.user_id = r.user_id AND r.ts_us <= l.ts_us
    """,
    "offset_gap_check": """
        WITH env AS (
          SELECT event_id % 8 AS kafka_partition,
                 event_id // 8 AS kafka_offset
          FROM events
          WHERE (event_id // 8) % 97 != 13
        ),
        d AS (SELECT DISTINCT kafka_partition, kafka_offset FROM env),
        lagged AS (
          SELECT kafka_partition, kafka_offset,
                 lag(kafka_offset) OVER (
                   PARTITION BY kafka_partition ORDER BY kafka_offset
                 ) AS prev
          FROM d
        )
        SELECT kafka_partition,
               prev + 1 AS gap_start,
               kafka_offset - 1 AS gap_end,
               kafka_offset - prev - 1 AS n_missing
        FROM lagged WHERE kafka_offset > prev + 1
    """,
    "distinct_users_by_type": """
        SELECT event_type,
               count(DISTINCT user_id) AS n_users,
               count(*) AS n_events
        FROM events GROUP BY event_type
    """,
    "events_sessionization": f"""
        WITH base AS (
          SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_sec FROM events
        ),
        flagged AS (
          SELECT user_id, event_id, ts_sec,
                 CASE WHEN lag(ts_sec) OVER w IS NULL
                        OR ts_sec - lag(ts_sec) OVER w > {SESSION_GAP_SEC}
                      THEN 1 ELSE 0 END AS is_new
          FROM base
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
        ),
        sess AS (
          SELECT user_id, ts_sec,
                 sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts_sec, event_id
                   ROWS UNBOUNDED PRECEDING
                 ) AS session_id
          FROM flagged
        ),
        per_session AS (
          SELECT user_id, session_id, count(*) AS n_events,
                 max(ts_sec) - min(ts_sec) AS span_sec
          FROM sess GROUP BY 1, 2
        )
        SELECT user_id,
               count(*) AS n_sessions,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               CAST((sum(n_events) * 2000000 + count(*)) // (2 * count(*))
                 AS BIGINT) / 1000000.0 AS avg_session_events,
               max(span_sec) AS max_session_span_sec
        FROM per_session GROUP BY user_id
    """,
    "topk_events_by_type": """
        -- value is exact 2dp: DECIMAL accumulation + integer half-up
        -- average (r10 rounding-tie discipline)
        SELECT event_type,
               CAST(s AS DOUBLE) AS total_value,
               CAST(CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
                    * ((2 * CAST(abs(s) * 1000000 AS HUGEINT) + n_events)
                       // (2 * n_events)) AS BIGINT) AS DOUBLE)
                 / 1000000.0 AS avg_value,
               max_value, n_events
        FROM (
          SELECT event_type,
                 sum(CAST(value AS DECIMAL(18,2))) AS s,
                 max(value) AS max_value,
                 count(*) AS n_events
          FROM events GROUP BY event_type
        )
        ORDER BY total_value DESC, event_type ASC
        LIMIT 10
    """,
    "offset_recovery": """
        SELECT user_id % 8 AS kafka_partition, max(event_id) AS max_offset
        FROM events GROUP BY user_id % 8
    """,
    "partition_counts": """
        SELECT user_id % 8 AS kafka_partition, count(*) AS n_records
        FROM events GROUP BY user_id % 8
    """,
    "distinct_event_types": "SELECT DISTINCT event_type FROM events",
    "numeric_profile_events": """
        -- exact means via DECIMAL sums + integer half-up (r10 discipline);
        -- stddev keeps the 6-dp round (inherent float, no exact form)
        WITH w AS (
          SELECT sum(CAST(event_id AS DECIMAL(25,2))) AS e_s, count(event_id) AS e_n,
                 sum(CAST(user_id AS DECIMAL(25,2))) AS u_s, count(user_id) AS u_n,
                 sum(CAST(value AS DECIMAL(25,2))) AS v_s, count(value) AS v_n,
                 min(CAST(event_id AS DOUBLE)) AS e_min, max(CAST(event_id AS DOUBLE)) AS e_max,
                 min(CAST(user_id AS DOUBLE)) AS u_min, max(CAST(user_id AS DOUBLE)) AS u_max,
                 min(value) AS v_min, max(value) AS v_max,
                 round(stddev(event_id), 6) AS e_std,
                 round(stddev(user_id), 6) AS u_std,
                 round(stddev(value), 6) AS v_std
          FROM events
        )
        SELECT 'event_id' AS "column", e_min AS min, e_max AS max,
               CAST(CAST((CASE WHEN e_s < 0 THEN -1 ELSE 1 END)
                    * ((2 * CAST(abs(e_s) * 1000000 AS HUGEINT) + e_n)
                       // (2 * e_n)) AS BIGINT) AS DOUBLE)
                 / 1000000.0 AS mean,
               e_std AS std
        FROM w
        UNION ALL
        SELECT 'user_id', u_min, u_max,
               CAST(CAST((CASE WHEN u_s < 0 THEN -1 ELSE 1 END)
                    * ((2 * CAST(abs(u_s) * 1000000 AS HUGEINT) + u_n)
                       // (2 * u_n)) AS BIGINT) AS DOUBLE) / 1000000.0,
               u_std
        FROM w
        UNION ALL
        SELECT 'value', v_min, v_max,
               CAST(CAST((CASE WHEN v_s < 0 THEN -1 ELSE 1 END)
                    * ((2 * CAST(abs(v_s) * 1000000 AS HUGEINT) + v_n)
                       // (2 * v_n)) AS BIGINT) AS DOUBLE) / 1000000.0,
               v_std
        FROM w
    """,
    "null_counts_events": """
        SELECT count(*) FILTER (event_id IS NULL) AS nulls_event_id,
               count(*) FILTER (ts IS NULL) AS nulls_ts,
               count(*) FILTER (user_id IS NULL) AS nulls_user_id,
               count(*) FILTER (event_type IS NULL) AS nulls_event_type,
               count(*) FILTER (value IS NULL) AS nulls_value,
               count(*) FILTER (props IS NULL) AS nulls_props
        FROM events
    """,
    "dedup_anti_join": """
        WITH keyed AS (
          SELECT user_id % 8 AS kafka_partition, event_id AS kafka_offset, event_type
          FROM events
        )
        SELECT kafka_partition, kafka_offset, event_type
        FROM keyed k
        WHERE NOT EXISTS (
          SELECT 1 FROM keyed e
          WHERE e.kafka_offset % 10 < 3
            AND e.kafka_partition = k.kafka_partition
            AND e.kafka_offset = k.kafka_offset
        )
    """,
    "dedup_content_keep_first": """
        SELECT event_id, user_id, event_type, value, props
        FROM events
        QUALIFY row_number() OVER (
          PARTITION BY user_id, event_type, value, props ORDER BY event_id ASC
        ) = 1
    """,
    "json_extract_props": """
        SELECT event_type,
               CAST(sum(k) AS BIGINT) AS sum_k,
               CASE WHEN count(k) > 0
                    THEN CAST((CASE WHEN sum(k) < 0 THEN -1 ELSE 1 END)
                              * ((abs(sum(k)) * 2000000 + count(k))
                                 // (2 * count(k))) AS BIGINT)
                         / 1000000.0
               END AS avg_k,
               count(*) FILTER (k IS NULL) AS null_k
        FROM (
          SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events
        )
        GROUP BY event_type
    """,
    "date_partition_counts": """
        SELECT strftime(ts, '%Y/%m/%d') AS date_path,
               count(*) AS n,
               min(event_id) AS first_offset,
               max(event_id) AS last_offset
        FROM events GROUP BY 1
    """,
    "union_dedup_count": """
        WITH unioned AS (
          SELECT event_id, event_type FROM events WHERE event_id % 3 != 0
          UNION ALL
          SELECT event_id, event_type FROM events WHERE event_id % 2 = 0
        )
        SELECT event_type, count(*) AS n
        FROM (SELECT DISTINCT event_id, event_type FROM unioned)
        GROUP BY event_type
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_extendedprice), 6) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "revenue_by_region": """
        SELECT r_name,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "shipping_priority": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    "top_brands_by_revenue": """
        SELECT p_brand,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               round(sum(l_quantity), 2) AS total_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        ORDER BY revenue DESC, p_brand ASC
        LIMIT 10
    """,
    "returned_item_revenue": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "global_stats_lineitem": """
        SELECT count(*) AS n_rows,
               min(l_orderkey) AS min_orderkey,
               max(l_orderkey) AS max_orderkey,
               round(sum(l_quantity), 2) AS sum_qty,
               count(DISTINCT l_partkey) AS n_parts
        FROM lineitem
    """,
    "local_supplier_volume": """
        SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
    """,
    "hourly_event_stats": """
        -- value is exact 2dp: DECIMAL accumulation + integer half-up
        -- (sf1 boundary fix: round(avg(double),6) split engines on the
        -- exact tie 72443.5/1600 = 45.2771875)
        SELECT window_start, n,
               CAST(s AS DOUBLE) AS total_value,
               CAST(CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)
                    * ((2 * CAST(abs(s) * 1000000 AS HUGEINT) + n)
                       // (2 * n)) AS BIGINT) AS DOUBLE)
                 / 1000000.0 AS avg_value
        FROM (
          SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                 count(*) AS n,
                 sum(CAST(value AS DECIMAL(18,2))) AS s
          FROM events
          GROUP BY 1
        )
    """,
    "running_max_value": """
        SELECT event_id, user_id,
               max(value) OVER (
                 PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS running_max
        FROM events
    """,
    "events_rollup": """
        SELECT event_type, user_id % 8 AS kafka_partition,
               count(*) AS n, round(sum(value), 2) AS total_value
        FROM events
        GROUP BY ROLLUP (event_type, user_id % 8)
    """,
    "events_cube": """
        SELECT event_type, user_id % 8 AS kafka_partition,
               count(*) AS n, round(sum(value), 2) AS total_value
        FROM events
        GROUP BY CUBE (event_type, user_id % 8)
    """,
    "events_pivot": """
        SELECT user_id % 10 AS user_bucket,
               count(*) FILTER (event_type = 'click') AS click,
               count(*) FILTER (event_type = 'error') AS error,
               count(*) FILTER (event_type = 'purchase') AS purchase,
               count(*) FILTER (event_type = 'signup') AS signup,
               count(*) FILTER (event_type = 'view') AS view
        FROM events
        GROUP BY 1
    """,
    "events_except_intersect": """
        SELECT id, 'high_not_error' AS src FROM (
          SELECT event_id AS id FROM events WHERE value > 50
          EXCEPT ALL
          SELECT event_id FROM events WHERE event_type = 'error'
        )
        UNION ALL
        SELECT id, 'click_and_view_bucket' AS src FROM (
          SELECT event_id % 1000 AS id FROM events WHERE event_type = 'click'
          INTERSECT
          SELECT event_id % 1000 FROM events WHERE event_type = 'view'
        )
    """,
}
