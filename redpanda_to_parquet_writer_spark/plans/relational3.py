"""TPC-H-shape plans, round 3: the multi-dimension join trees the earlier
sets did not exercise — two-sided nation lineage through one fact-fact
join (Q7), conditional market-share ratios per group (Q8), and
distinct-count aggregation over a dimension join (Q16 shape, adapted:
the fixtures carry no partsupp table, so supplier-part pairs come from
lineitem).

Reference parity note: as with relational2, these extend the reference's
scan/filter/agg surface (SURVEY §2) over the driver-provided tables.

Floating-point discipline (see plans/__init__.py): money accumulates as
decimal(18,4); per-group ratios round through `functions.ratio.exact_ratio`
(exact integer half-away-from-zero arithmetic, then ONE float division by
1e6), so Spark and DuckDB emit bitwise-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.functions.ratio import exact_ratio
from redpanda_to_parquet_writer_spark.sources.parquet import load_table

_REV_DEC = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"

VOLUME_NATIONS = ("NATION_1", "NATION_2")


def nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations, by direction
    and ship year — the supplier side and the customer side each carry
    their own nation lineage through the lineitem-orders join.

    Plan: ONE fact-fact shuffle (lineitem join orders on orderkey); every
    dimension hop (supplier->nation, customer->nation) broadcasts, with
    the nation-name filters pushed into the broadcast sides so the
    post-join filter is two IN-two-value string tests. At 100 TB the
    shape is identical — dims stay broadcast-sized, and the single
    shuffle is on the natural join key.
    """
    n1, n2 = VOLUME_NATIONS
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp_nation = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(nation.filter(F.col("n_name").isin(*VOLUME_NATIONS))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_nation = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(nation.filter(F.col("n_name").isin(*VOLUME_NATIONS))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust_nation), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            F.count("*").alias("n_lines"),
            F.expr(f"CAST(round(sum({_REV_DEC}), 2) AS DOUBLE)").alias("volume"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


SHARE_REGION = "ASIA"
SHARE_NATION = "NATION_2"  # a nation inside SHARE_REGION
SHARE_PART_TYPE = "PROMO"


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's market for one
    part type, per order year — a conditional-sum ratio over a join
    tree that chains part, customer->nation->region, supplier->nation.

    The share divides two exact decimal sums via integer half-up
    rounding at 6 dp (never double/double division), so both engines
    emit the same bits. All dimension hops broadcast; lineitem-orders is
    the only shuffle.
    """
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == SHARE_REGION
    )
    cust_in_region = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region), nation.n_regionkey == region.r_regionkey
                ).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
    )
    supp_nation = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == SHARE_PART_TYPE
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    rev = F.expr(_REV_DEC)
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_in_region), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == SHARE_NATION, rev).otherwise(None)
            ).alias("__nat"),
            F.sum(rev).alias("__tot"),
        )
    )
    return (
        agg.select(
            "order_year",
            F.expr("CAST(round(coalesce(__nat, 0), 2) AS DOUBLE)").alias(
                "nation_revenue"
            ),
            F.expr("CAST(round(__tot, 2) AS DOUBLE)").alias("total_revenue"),
            exact_ratio("coalesce(__nat, 0)", "__tot").alias("market_share"),
        )
        .orderBy("order_year")
    )


VARIETY_EXCLUDED_BRAND = "Brand#1"
VARIETY_MAX_SIZE = 25
VARIETY_TOP = 100


def supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: supplier-part pairs come from lineitem —
    the fixtures have no partsupp): how many distinct suppliers have
    shipped each (brand, type, size) combination, excluding one brand,
    top combinations first.

    count(DISTINCT supplier) partial-aggregates: Spark expands the
    distinct into a two-level aggregate, so the shuffle carries
    (brand, type, size, suppkey) pairs already deduplicated map-side —
    cardinality-bounded, not row-bounded. Part broadcasts; top-N is
    TakeOrderedAndProject.
    """
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != VARIETY_EXCLUDED_BRAND)
        & (F.col("p_size") <= VARIETY_MAX_SIZE)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
        .limit(VARIETY_TOP)
    )


def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): users whose
    FIRST click follows their first view, and whose first purchase
    follows that click — the classic event-analytics funnel the
    scan/filter/agg surface lacks.

    Plan: ONE shuffle on user_id, then three chained window aggregates
    over the same partitioning (each stage's cutoff references the
    previous stage's window output; Spark stacks WindowExecs without
    re-exchanging), one per-user row on that partitioning, then a global
    count of the users reaching each stage. Integer counts only — exact
    in any engine.
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id")
    staged = (
        events.withColumn(
            "m1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "m2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("m1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "m3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("m2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    # one row per user over the window's own user_id partitioning (no
    # second exchange), then plain counts: a countDistinct here would go
    # through Spark's distinct-aggregate Expand rewrite, whose projection
    # order varies between builds of the same query
    per_user = staged.groupBy("user_id").agg(
        *[F.max(m).alias(m) for m in ("m1", "m2", "m3")]
    )
    return per_user.agg(
        F.count("m1").alias("n_view"),
        F.count("m2").alias("n_click_after_view"),
        F.count("m3").alias("n_purchase_after_click"),
    )


def events_weekly_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week
    (cohort), counted per activity week — the standard
    retention-analysis shape.

    Plan: one aggregation derives each user's cohort week (map-side
    partial min), one window spreads it over the user's activity rows on
    the SAME user_id partitioning, then a distinct-count per
    (cohort_week, activity_week). Integer counts + date_trunc only —
    exact in any engine (both engines start ISO weeks on Monday).
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    # cast to DATE: Spark date_trunc returns TIMESTAMP, DuckDB's DATE
    week = F.date_trunc("week", F.col("ts")).cast("date")
    w = Window.partitionBy("user_id")
    staged = events.select(
        "user_id", week.alias("activity_week")
    ).withColumn("cohort_week", F.min("activity_week").over(w))
    return (
        staged.groupBy("cohort_week", "activity_week")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "activity_week")
    )


QUERIES = {
    "nation_volume_shipping": nation_volume_shipping,
    "nation_market_share": nation_market_share,
    "supplier_part_variety": supplier_part_variety,
    "events_funnel_conversion": events_funnel_conversion,
    "events_weekly_cohorts": events_weekly_cohorts,
}

ORACLES = {
    "nation_volume_shipping": f"""
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               year(l.l_shipdate) AS ship_year,
               count(*) AS n_lines,
               CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(18,4))), 2) AS DOUBLE) AS volume
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        WHERE sn.n_name IN ('{VOLUME_NATIONS[0]}', '{VOLUME_NATIONS[1]}')
          AND cn.n_name IN ('{VOLUME_NATIONS[0]}', '{VOLUME_NATIONS[1]}')
          AND sn.n_name <> cn.n_name
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
    "nation_market_share": f"""
        WITH agg AS (
          SELECT year(o.o_orderdate) AS order_year,
                 sum(CASE WHEN sn.n_name = '{SHARE_NATION}'
                     THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(18,4)) END) AS nat,
                 sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                   AS DECIMAL(18,4))) AS tot
          FROM lineitem l
          JOIN part p ON l.l_partkey = p.p_partkey
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation cn ON c.c_nationkey = cn.n_nationkey
          JOIN region r ON cn.n_regionkey = r.r_regionkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN nation sn ON s.s_nationkey = sn.n_nationkey
          WHERE r.r_name = '{SHARE_REGION}' AND p.p_type = '{SHARE_PART_TYPE}'
          GROUP BY 1
        )
        SELECT order_year,
               CAST(round(coalesce(nat, 0), 2) AS DOUBLE) AS nation_revenue,
               CAST(round(tot, 2) AS DOUBLE) AS total_revenue,
               CAST((2 * CAST(coalesce(nat, 0) * 10000 AS HUGEINT) * 1000000
                     + CAST(tot * 10000 AS HUGEINT))
                    // (2 * CAST(tot * 10000 AS HUGEINT)) AS DOUBLE)
                 / 1000000.0 AS market_share
        FROM agg
        ORDER BY order_year
    """,
    "supplier_part_variety": f"""
        SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
               CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand <> '{VARIETY_EXCLUDED_BRAND}'
          AND p.p_size <= {VARIETY_MAX_SIZE}
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p.p_brand ASC, p.p_type ASC, p_size ASC
        LIMIT {VARIETY_TOP}
    """,
    "events_funnel_conversion": """
        WITH s1 AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'view' THEN ts END) AS m1
          FROM events GROUP BY user_id
        ),
        s2 AS (
          SELECT e.user_id, min(e.ts) AS m2
          FROM events e JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > s1.m1
          GROUP BY e.user_id
        ),
        s3 AS (
          SELECT e.user_id, min(e.ts) AS m3
          FROM events e JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > s2.m2
          GROUP BY e.user_id
        )
        SELECT CAST((SELECT count(*) FROM s1 WHERE m1 IS NOT NULL) AS BIGINT)
                 AS n_view,
               CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_click_after_view,
               CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_purchase_after_click
    """,
    "events_weekly_cohorts": """
        WITH weeks AS (
          SELECT user_id, date_trunc('week', ts) AS activity_week
          FROM events
        ),
        cohorts AS (
          SELECT user_id, min(activity_week) AS cohort_week
          FROM weeks GROUP BY user_id
        )
        SELECT c.cohort_week, w.activity_week,
               CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
        FROM weeks w JOIN cohorts c USING (user_id)
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
}
