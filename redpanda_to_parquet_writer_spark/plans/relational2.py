"""TPC-H-shape plans, round 2: semi-joins, anti-joins, scalar subqueries,
conditional aggregation — the relational operator classes the round-1 plan
set did not yet exercise as first-class oracle-gated queries.

Reference parity note: the reference engine's query surface is scan/
filter/agg (SURVEY §2); these shapes extend it the same way the round-1
TPC-H plans do, staying within tables the driver provides.

Floating-point discipline (see plans/__init__.py): money sums accumulate
as decimal(18,4) (order-independent, exact); ratios of exact aggregates
round through `functions.ratio.exact_ratio`, so Spark and DuckDB produce
bitwise-identical doubles (round() on a double differs between engines in
the last ulps on rounding-boundary values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.functions.dates import event_epoch_sec
from redpanda_to_parquet_writer_spark.functions.ratio import exact_ratio
from redpanda_to_parquet_writer_spark.sources.parquet import load_table

#: money expression accumulated exactly (same convention as
#: returned_item_revenue)
_REV_DEC = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"


def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders of one quarter that had at least one
    late-shipped lineitem (> 60 days after order), counted by priority.

    LEFT SEMI join — the probe side (lineitem, the big fact) is never
    materialized into the output, so the shuffle carries only matched
    order keys. The o_orderdate filter prunes the orders scan before the
    join; the non-equi shipdate predicate rides the join condition.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (
        F.col("l_orderkey") == F.col("o_orderkey")
    ) & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    return (
        orders.join(li, on=late, how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def priority_shipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: one shipping year, lines bucketed by linestatus,
    counting high- vs low-priority orders per bucket (conditional
    aggregation over a fact-fact join).

    Integer counts only — exact in any engine. The shipdate filter
    pushes to the lineitem scan; both sides pre-project join keys.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_lines"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_priority_lines"),
        )
        .orderBy("l_linestatus")
    )


def promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: % of one quarter's revenue from PROMO parts.

    part broadcasts (small dim); revenue accumulates as decimal(18,4)
    (exact). The percentage is derived from the two exact sums through
    the exact-ratio rule, so both engines emit the same double.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01"))
        & (F.col("l_shipdate") < F.lit("1997-12-01"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.expr(_REV_DEC)
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(None)).alias(
                "__promo"
            ),
            F.sum(rev).alias("__total"),
        )
    )
    return agg.select(
        F.expr("CAST(round(coalesce(__promo, 0), 2) AS DOUBLE)").alias(
            "promo_revenue"
        ),
        F.expr("CAST(round(__total, 2) AS DOUBLE)").alias("total_revenue"),
        exact_ratio("100 * coalesce(__promo, 0)", "__total").alias("promo_pct"),
    )


def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum revenue over one
    quarter — a scalar subquery (global max) against a per-supplier agg.

    The revenue agg computes ONCE; the 1-row max broadcasts back against
    it (no second scan of lineitem, verified via .explain). Decimal
    accumulation makes the max-equality exact across engines.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy("l_suppkey").agg(F.sum(F.expr(_REV_DEC)).alias("__rev"))
    mx = rev.agg(F.max("__rev").alias("__mx"))
    return (
        rev.join(F.broadcast(mx), rev.__rev == mx.__mx)
        .join(F.broadcast(supplier), rev.l_suppkey == supplier.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.expr("CAST(round(__rev, 2) AS DOUBLE)").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


#: "inactive" = no orders on or after this date (every customer has SOME
#: order in the synthetic data, so plain Q22 no-orders-at-all is empty)
INACTIVE_CUTOFF = "2000-01-01"


def rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and no
    recent orders, profiled per nation. Scalar avg subquery + LEFT ANTI
    join (the anti side pre-filtered to recent orders).

    The above-average filter compares by CROSS-MULTIPLICATION
    (c_acctbal * n > sum) in exact decimals — no division, so no
    cross-engine rounding surface at all. customer is the probe side of
    the anti join against the recent-orders key set.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(INACTIVE_CUTOFF))
        .select("o_custkey")
    )
    bal = F.expr("CAST(c_acctbal AS DECIMAL(18,2))")
    avg_bal = (
        customer.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(bal).alias("__s"),
            F.count("*").alias("__n"),
        )
    )
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(bal * F.col("__n") > F.col("__s"))
        .join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            F.expr(
                "CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)"
            ).alias("total_acctbal"),
        )
        .orderBy("c_nationkey")
    )


#: Q18 threshold / limit: sums of integer-valued quantities are EXACT in
#: double, so the HAVING compare and the sort key are engine-stable
LARGE_ORDER_QTY = 180
LARGE_ORDER_LIMIT = 100


def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (HAVING on a fact agg), joined back to orders + customer, top-N.

    The lineitem agg runs FIRST and the filter collapses it to a tiny
    key set, so the joins probe with the already-reduced side; top-100
    plans as TakeOrderedAndProject (no global sort). l_quantity is
    integer-valued — its double sum is exact, so no rounding surface.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > LARGE_ORDER_QTY)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.col("sum_qty").desc(), F.col("o_orderkey").asc())
        .limit(LARGE_ORDER_LIMIT)
    )


def customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation balance quartiles — the distributed form of
    decile/quartile reporting. min/max copy stored values — no
    arithmetic, no rounding surface.

    Scale shape (r11): ntile is PURE RANK ARITHMETIC, so it decomposes
    over the (nation, acctbal) HISTOGRAM instead of a per-nation window
    over the customer table (~25 nations → customers/25 rows in one
    window task at scale). ntile(4)'s bucket sizes are
    n DIV 4 (+1 for the first n%4 buckets); quartile q spans ranks
    [start_q, end_q], and because balances are monotone along the rank
    order, max_bal(q) / min_bal(q) are exactly the values AT ranks
    start_q / end_q — each read from cumulative histogram counts as
    max{v : cumcount(>=v) >= r}. The custkey tiebreak only decides
    which equal-valued ROWS sit at a boundary, never the boundary
    VALUE, so the output is bitwise-identical to the ntile window
    (oracle unchanged, ntile SQL)."""
    from pyspark.sql import Window

    customer = load_table(spark, sf_dir, "customer")
    cum = (
        customer.groupBy("c_nationkey", "c_acctbal")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "cum",
            F.sum("c").over(
                Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
            ),
        )
        .withColumn("n", F.sum("c").over(Window.partitionBy("c_nationkey")))
    )
    aggs = [F.max("n").alias("n")]
    for q in (1, 2, 3, 4):
        start = f"(({q} - 1) * (n DIV 4) + least({q} - 1, n % 4) + 1)"
        end = f"({q} * (n DIV 4) + least({q}, n % 4))"
        aggs += [
            F.max(F.expr(f"CASE WHEN cum >= {start} THEN c_acctbal END")).alias(
                f"__max{q}"
            ),
            F.max(F.expr(f"CASE WHEN cum >= {end} THEN c_acctbal END")).alias(
                f"__min{q}"
            ),
        ]
    stacked = ", ".join(f"{q}, `__min{q}`, `__max{q}`" for q in (1, 2, 3, 4))
    return (
        cum.groupBy("c_nationkey")
        .agg(*aggs)
        .selectExpr(
            "c_nationkey",
            "n",
            f"stack(4, {stacked}) AS (quartile, min_bal, max_bal)",
        )
        .select(
            "c_nationkey",
            "quartile",
            F.expr(
                "(n DIV 4) + CASE WHEN quartile <= n % 4 THEN 1 ELSE 0 END"
            ).alias("n_customers"),
            "min_bal",
            "max_bal",
        )
        .filter(F.col("n_customers") > 0)
        .orderBy("c_nationkey", "quartile")
    )


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (bucket = floor(value/10)):
    the profiling primitive for range partitioning / skew diagnosis.
    One hash aggregation; bucket ids are exact (IEEE division + floor is
    deterministic), min/max copy stored doubles.
    """
    events = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 10)
    return (
        events.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("bucket")
    )


def inter_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event-gap profile via LEAD: for each user, the
    number of gaps, the min/max gap, and the count of "rapid" gaps
    (< 60s) — burst detection over event streams.

    One window shuffle on user_id (lead reuses the same sort as any
    other per-user window); gaps are exact integer second differences,
    so every aggregate is engine-exact.
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        "event_id",
        event_epoch_sec(events).alias("ts_sec"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    gap = F.lead("ts_sec").over(w) - F.col("ts_sec")
    return (
        base.withColumn("gap", gap)
        .filter(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.min("gap").alias("min_gap_sec"),
            F.max("gap").alias("max_gap_sec"),
            F.sum(F.when(F.col("gap") < 60, 1).otherwise(0)).alias(
                "n_rapid_gaps"
            ),
        )
    )


def sink_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational reconciliation of two sinks (e.g. primary vs replica
    export of the same topic): FULL OUTER join on the record key,
    classify each key as both/left_only/right_only, count per class and
    event type. The missing-row audit every at-scale pipeline runs after
    a backfill.

    The two sides here are deterministic overlapping slices of `events`
    (mod-3 / mod-2 keys, as in union_dedup_count). One shuffle pair on
    the join key; counts are integers — exact everywhere.
    """
    events = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    left = events.filter(F.col("event_id") % 3 != 0).alias("l")
    right = events.filter(F.col("event_id") % 2 == 0).alias("r")
    joined = left.join(
        right, F.col("l.event_id") == F.col("r.event_id"), "full_outer"
    )
    status = (
        F.when(
            F.col("l.event_id").isNotNull() & F.col("r.event_id").isNotNull(),
            "both",
        )
        .when(F.col("l.event_id").isNotNull(), "left_only")
        .otherwise("right_only")
    )
    return (
        joined.select(
            status.alias("status"),
            F.coalesce(F.col("l.event_type"), F.col("r.event_type")).alias(
                "event_type"
            ),
        )
        .groupBy("status", "event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("status", "event_type")
    )


def top_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type (argmax with deterministic tie-break:
    highest count, then lexicographically smallest type).

    Spark side is TWO hash aggregations — min(struct(-cnt, type)) — not
    a rank window: the partial agg collapses each group map-side, so
    the second shuffle carries one struct per (user) per partition.
    The oracle replays it as a rank window (engine-idiomatic there).
    """
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    top = counts.groupBy("user_id").agg(
        F.min(
            F.struct(
                (-F.col("cnt")).alias("neg"), F.col("event_type").alias("et")
            )
        ).alias("m")
    )
    return top.select(
        "user_id",
        F.col("m.et").alias("top_event_type"),
        (-F.col("m.neg")).alias("n_events"),
    )


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    20% of their part's average quantity — a correlated per-group scalar
    aggregate applied back to the detail rows.

    The per-part avg joins back against lineitem on p_partkey (one
    shuffle pair; the avg side is collapsed to one row per part before
    the join). The threshold compare is IEEE-deterministic: quantity
    sums are integer-valued (exact in double), counts exact, so
    0.2 * sum/cnt is the same double in any engine. Revenue output
    accumulates decimal(18,4).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    per_part = li.groupBy("l_partkey").agg(
        (F.sum("l_quantity") / F.count("l_quantity")).alias("avg_qty")
    )
    return (
        li.join(per_part.withColumnRenamed("l_partkey", "p_key"),
                li.l_partkey == F.col("p_key"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.count("*").alias("n_lines"),
            F.expr(
                "CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)"
                " AS DECIMAL(18,4))), 2) AS DOUBLE)"
            ).alias("small_qty_revenue"),
        )
    )


def discounted_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from lineitems matching a DISJUNCTION of
    (brand, size-range, quantity-range) condition triples — the
    multi-branch predicate shape that exercises Catalyst's OR handling.

    The shared conjuncts (join key; part is a broadcast dim) still plan
    a BroadcastHashJoin; the OR-of-ANDs evaluates post-join in codegen.
    Revenue accumulates decimal(18,4) — exact, engine-stable.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size") <= 10)
            & (F.col("l_quantity") >= 10)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size") <= 25)
            & (F.col("l_quantity") >= 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size") <= 40)
            & (F.col("l_quantity") >= 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.count("*").alias("n_lines"),
            F.expr(
                "CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)"
                " AS DECIMAL(18,4))), 2) AS DOUBLE)"
            ).alias("revenue"),
        )
    )


LATE_SHIP_DAYS = 90


def sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper in a
    multi-supplier finished order (late = shipped > 90 days after the
    order date; the fixture has no commit/receipt dates, reference
    tables are TPC-H-ish per TESTDATA.md).

    The double-correlated EXISTS / NOT EXISTS is expressed as ONE
    aggregation over (order, supplier) lateness followed by ONE window
    over the order — n_suppliers > 1 AND n_late == 1 selects the guilty
    supplier rows directly, so lineitem is scanned once (a groupBy +
    join-back formulation recomputes the aggregate subtree: 5 scans).
    The oracle replays the textbook EXISTS form, proving the
    formulations equivalent.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey)
    late = F.col("l_shipdate") > F.expr(
        f"o_orderdate + INTERVAL {LATE_SHIP_DAYS} DAY"
    )
    per_supp = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(late.cast("int")).alias("late")
    )
    w = Window.partitionBy("l_orderkey")
    guilty = (
        per_supp.withColumn("n_suppliers", F.count("*").over(w))
        .withColumn("n_late", F.sum("late").over(w))
        .filter(
            (F.col("late") == 1)
            & (F.col("n_suppliers") > 1)
            & (F.col("n_late") == 1)
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
    )
    return (
        guilty.groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer INCLUDING
    zero-order customers — LEFT OUTER join preserved through two
    aggregation levels (per-customer count, then histogram over counts).

    The outer join is what distinguishes this from a plain groupBy: the
    customers with no orders must survive as c_count = 0. Customer side
    broadcasts (dim); the per-customer agg partial-aggregates map-side.
    """
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    per_customer = (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_outer"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_customer.groupBy("c_count")
        .agg(F.count("*").alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), F.col("c_count").desc())
    )


QUERIES = {
    "sole_late_supplier": sole_late_supplier,
    "customer_order_distribution": customer_order_distribution,
    "order_priority_counts": order_priority_counts,
    "small_quantity_revenue": small_quantity_revenue,
    "discounted_brand_revenue": discounted_brand_revenue,
    "large_order_customers": large_order_customers,
    "customer_balance_quartiles": customer_balance_quartiles,
    "events_value_histogram": events_value_histogram,
    "inter_event_gap_stats": inter_event_gap_stats,
    "sink_reconciliation": sink_reconciliation,
    "top_event_type_per_user": top_event_type_per_user,
    "priority_shipping_stats": priority_shipping_stats,
    "promo_revenue_pct": promo_revenue_pct,
    "top_revenue_supplier": top_revenue_supplier,
    "rich_inactive_customers": rich_inactive_customers,
}


ORACLES = {
    "sole_late_supplier": f"""
        WITH lines AS (
          SELECT l.l_orderkey, l.l_suppkey,
                 l.l_shipdate > o.o_orderdate + INTERVAL {LATE_SHIP_DAYS} DAY
                   AS late
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE o.o_orderstatus = 'F'
        ),
        l1 AS (  -- late suppliers, one row per (order, supplier)
          SELECT DISTINCT l_orderkey, l_suppkey FROM lines WHERE late
        )
        SELECT s.s_name, count(*) AS numwait
        FROM l1
        JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        WHERE EXISTS (          -- another supplier shipped in this order
          SELECT 1 FROM lines l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
        )
        AND NOT EXISTS (        -- ... and none of the others were late
          SELECT 1 FROM lines l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.late
        )
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name ASC
        LIMIT 20
    """,
    "customer_order_distribution": """
        SELECT c_count, count(*) AS n_customers
        FROM (
          SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c
          LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey
        )
        GROUP BY c_count
        ORDER BY n_customers DESC, c_count DESC
    """,
    "large_order_customers": f"""
        WITH big AS (
          SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(l_quantity) > {LARGE_ORDER_QTY}
        )
        SELECT c_custkey, c_name, o_orderkey, o_orderdate,
               o_totalprice, sum_qty
        FROM big
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY sum_qty DESC, o_orderkey ASC
        LIMIT {LARGE_ORDER_LIMIT}
    """,
    "customer_balance_quartiles": """
        SELECT c_nationkey, quartile,
               count(*) AS n_customers,
               min(c_acctbal) AS min_bal,
               max(c_acctbal) AS max_bal
        FROM (
          SELECT c_nationkey, c_acctbal,
                 ntile(4) OVER (
                   PARTITION BY c_nationkey
                   ORDER BY c_acctbal DESC, c_custkey ASC
                 ) AS quartile
          FROM customer
        )
        GROUP BY c_nationkey, quartile
        ORDER BY c_nationkey, quartile
    """,
    "events_value_histogram": """
        SELECT CAST(floor(value / 10) AS BIGINT) AS bucket,
               count(*) AS n,
               min(value) AS min_value,
               max(value) AS max_value
        FROM events
        GROUP BY 1
        ORDER BY bucket
    """,
    "inter_event_gap_stats": """
        SELECT user_id,
               count(*) AS n_gaps,
               min(gap) AS min_gap_sec,
               max(gap) AS max_gap_sec,
               CAST(sum(CASE WHEN gap < 60 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_rapid_gaps
        FROM (
          SELECT user_id,
                 lead(ts_sec) OVER (
                   PARTITION BY user_id ORDER BY ts_sec, event_id
                 ) - ts_sec AS gap
          FROM (
            SELECT user_id, event_id,
                   epoch_ns(ts) // 1000000000 AS ts_sec
            FROM events
          )
        )
        WHERE gap IS NOT NULL
        GROUP BY user_id
    """,
    "sink_reconciliation": """
        WITH l AS (
          SELECT event_id, event_type FROM events WHERE event_id % 3 != 0
        ),
        r AS (
          SELECT event_id, event_type FROM events WHERE event_id % 2 = 0
        )
        SELECT CASE
                 WHEN l.event_id IS NOT NULL AND r.event_id IS NOT NULL
                   THEN 'both'
                 WHEN l.event_id IS NOT NULL THEN 'left_only'
                 ELSE 'right_only'
               END AS status,
               coalesce(l.event_type, r.event_type) AS event_type,
               count(*) AS n
        FROM l FULL OUTER JOIN r ON l.event_id = r.event_id
        GROUP BY 1, 2
        ORDER BY status, event_type
    """,
    "top_event_type_per_user": """
        SELECT user_id, event_type AS top_event_type, cnt AS n_events
        FROM (
          SELECT user_id, event_type, cnt,
                 row_number() OVER (
                   PARTITION BY user_id ORDER BY cnt DESC, event_type ASC
                 ) AS rn
          FROM (
            SELECT user_id, event_type, count(*) AS cnt
            FROM events GROUP BY user_id, event_type
          )
        )
        WHERE rn = 1
    """,
    "discounted_brand_revenue": """
        SELECT count(*) AS n_lines,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,4))), 2) AS DOUBLE)
                 AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity >= 10)
           OR (p_brand = 'Brand#2' AND p_size <= 25 AND l_quantity >= 20)
           OR (p_brand = 'Brand#3' AND p_size <= 40 AND l_quantity >= 30)
    """,
    "small_quantity_revenue": """
        WITH per_part AS (
          SELECT l_partkey AS p_key,
                 sum(l_quantity) / count(l_quantity) AS avg_qty
          FROM lineitem GROUP BY l_partkey
        )
        SELECT count(*) AS n_lines,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,4))), 2) AS DOUBLE)
                 AS small_qty_revenue
        FROM lineitem JOIN per_part ON l_partkey = p_key
        WHERE l_quantity < 0.2 * avg_qty
    """,
    "order_priority_counts": """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1996-07-01'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "priority_shipping_stats": """
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_priority_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """,
    "promo_revenue_pct": """
        WITH agg AS (
          SELECT
            sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                END) AS promo,
            sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
              AS total
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= '1997-09-01' AND l_shipdate < '1997-12-01'
        )
        SELECT CAST(round(coalesce(promo, 0), 2) AS DOUBLE) AS promo_revenue,
               CAST(round(total, 2) AS DOUBLE) AS total_revenue,
               ((CAST(coalesce(promo, 0) * 10000 AS HUGEINT) * 200000000
                 + CAST(total * 10000 AS HUGEINT))
                // (2 * CAST(total * 10000 AS HUGEINT))) / 1000000.0
                 AS promo_pct
        FROM agg
    """,
    "top_revenue_supplier": """
        WITH rev AS (
          SELECT l_suppkey,
                 sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                   AS total_rev
          FROM lineitem
          WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name,
               CAST(round(total_rev, 2) AS DOUBLE) AS total_revenue
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE total_rev = (SELECT max(total_rev) FROM rev)
        ORDER BY s_suppkey
    """,
    "rich_inactive_customers": """
        WITH avg_bal AS (
          SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s, count(*) AS n
          FROM customer WHERE c_acctbal > 0
        )
        SELECT c_nationkey, count(*) AS n_customers,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
                 AS total_acctbal
        FROM customer, avg_bal
        WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderdate >= '2000-01-01'
          )
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """,
}
