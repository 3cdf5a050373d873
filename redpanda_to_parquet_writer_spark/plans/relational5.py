"""Round-5 additions: statistical / layout-aware plans the relational
surface was still missing — per-group trend regression (drift detection
over ingest metrics) and Z-order interleave keys (the multi-dimensional
clustering that turns parquet min/max stats into data-skipping at
100 TB).

Reference parity note: extension scope like relational2-4 — the
reference's analytics stop at scan/filter/agg (SURVEY §2); these cover
the operations a production observability/curation layer adds on top.

Floating-point discipline (plans/__init__.py): every aggregate here is
an exact integer sum; doubles appear only in a final expression whose
tree is written once and mirrored verbatim in the oracle SQL, so both
engines perform the identical IEEE operation sequence on identical
inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.functions.dates import event_epoch_sec
from redpanda_to_parquet_writer_spark.functions.ratio import exact_ratio
from redpanda_to_parquet_writer_spark.operators.zorder import (
    interleave_sql,
    quantize_sql,
    zorder_key,
)
from redpanda_to_parquet_writer_spark.sources.parquet import load_table

# days-since-epoch of 2024-01-01 — centers the regressor so every
# integer moment (sum x*vu etc.) stays far below 2^63 even at sf >= 1
_DAY0 = 19723

# slope/intercept as ONE double expression tree over the exact integer
# moments, written here once and formatted into BOTH the Spark plan and
# the DuckDB oracle — identical inputs + identical operation order =
# identical bits (value is in micro-units, hence the final 1e6 unscale)
_NUM = (
    "(CAST(n_events AS DOUBLE) * CAST(sxyu AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(syu AS DOUBLE))"
)
_DEN = (
    "(CAST(n_events AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_SLOPE = f"round(({_NUM} / {_DEN}) / 1000000.0, 6)"
_INTERCEPT = (
    f"round((CAST(syu AS DOUBLE) - ({_NUM} / {_DEN}) * CAST(sx AS DOUBLE))"
    " / CAST(n_events AS DOUBLE) / 1000000.0, 6)"
)


def events_value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend: OLS slope/intercept of `value`
    against event day, per event type — the drift-detection primitive a
    training-data pipeline runs over quality scores and ingest metrics
    ("is document quality declining week over week?").

    Scale shape: ONE hash aggregation producing five exact integer
    moments per group (count, Σx, Σx², Σy, Σxy — all partial-aggregated
    map-side), then a scalar projection. No window, no second scan; the
    shuffle carries one 5-long row per (task, group). The closed form
    avoids regr_slope/avg built-ins whose double accumulation is
    summation-order-dependent — integer moments make the result
    bit-stable under any task interleaving (the partition-invariance
    suite's requirement).
    """
    events = load_table(spark, sf_dir, "events")
    # day index via exact BIGINT division (epoch seconds are positive, so
    # Spark's truncating DIV equals DuckDB's flooring `//`)
    base = events.select(
        "event_type",
        event_epoch_sec(events).alias("sec"),
        F.expr("CAST(round(value * 1000000) AS BIGINT)").alias("vu"),
    ).select(
        "event_type",
        F.expr(f"sec DIV 86400 - {_DAY0}").alias("x"),
        "vu",
    )
    # moment sums accumulate in DECIMAL(38,0): BIGINT sums of x², vu and
    # x·vu wrap at cluster-scale group sizes (Σx² > 9.2e18 at ~1e13 rows
    # of day-index ~2e4; r11 overflow-hardening sweep). The oracle's
    # HUGEINT sums are naturally 128-bit.
    moments = base.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(vu AS DECIMAL(38,0))")).alias("syu"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * vu")).alias("sxyu"),
    )
    return moments.select(
        "event_type",
        "n_events",
        F.expr(_SLOPE).alias("slope_per_day"),
        F.expr(_INTERCEPT).alias("intercept"),
    )


ZORDER_BITS = 8


def events_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) interleave key over (user_id, value) — the
    multi-dimensional clustering key production tables sort by before
    writing, so parquet row-group min/max footer stats prune on EITHER
    dimension (Delta OPTIMIZE ZORDER / Iceberg sort-order analog; the
    data-skipping effect is measured in tests/test_zorder.py).

    Scale shape: per-dimension min/max is a 1-row aggregate broadcast
    back over the scan (broadcast-scalar pattern, like
    top_revenue_supplier); quantize + interleave are codegen'd integer
    expressions — zero shuffle beyond the 1-row broadcast, no UDF.
    """
    events = load_table(spark, sf_dir, "events")
    keyed = zorder_key(
        events.select("event_id", "user_id", "value"),
        "user_id",
        "value",
        bits=ZORDER_BITS,
    )
    return keyed.select("event_id", F.col("zkey").cast("long").alias("zkey"))


def _zorder_oracle_sql(bits: int) -> str:
    qa = quantize_sql(
        "CAST(user_id AS DOUBLE)", "CAST(amin AS DOUBLE)", "CAST(amax AS DOUBLE)", bits
    )
    qb = quantize_sql(
        "CAST(value AS DOUBLE)", "CAST(bmin AS DOUBLE)", "CAST(bmax AS DOUBLE)", bits
    )
    inter = interleave_sql("qa", "qb", bits, div="//")
    return f"""
        WITH bounds AS (
          SELECT min(user_id) AS amin, max(user_id) AS amax,
                 min(value) AS bmin, max(value) AS bmax
          FROM events
        ),
        quantized AS (
          SELECT event_id, {qa} AS qa, {qb} AS qb
          FROM events CROSS JOIN bounds
        )
        SELECT event_id, CAST({inter} AS BIGINT) AS zkey FROM quantized
    """


def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — the pure scan-side query: one lineitem pass with
    three tight predicates (ship year, discount band, quantity cap) and
    a single ungrouped decimal sum. The whole point is pushdown: every
    predicate must reach the parquet scan (PushedFilters asserted in
    tests/test_plan_quality.py) so row groups outside the year prune on
    footer stats alone — this completes the 22/22 TPC-H shape coverage.
    """
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        F.count("*").alias("n_items"),
        F.expr(
            "CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))"
            " AS DOUBLE)"
        ).alias("revenue"),
    )


WINSOR_LO_PCT = 5
WINSOR_HI_PCT = 95


def events_value_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-clipped) robust stats per event type: exact
    rank-selected p05/p95 cut points, values clipped to them, then
    count/clip-count/winsorized-mean — the robust aggregation a quality
    pipeline uses so a handful of runaway values can't poison a metric.

    Exact nearest-rank selection instead of interpolating percentile
    built-ins whose IEEE arithmetic differs between engines.
    Plan (r11): the cut ranks come from cumulative counts over the
    (type, value) HISTOGRAM — map-side partial agg collapses the corpus
    before any window, so the rank window's frame is bounded by the
    value DOMAIN (exact-2dp metric), not the row count; the 5-row cut
    table broadcasts back over a fresh scan for the clip aggregate, and
    the mean comes from exact micro-unit integer sums through the
    exact-ratio rule.
    """
    events = load_table(spark, sf_dir, "events")
    base = events.select("event_type", "event_id", "value")
    from pyspark.sql import Window

    # r11 scale fix: the cut ranks used to come from a row_number window
    # over the FULL corpus partitioned by event_type — with a handful of
    # types that is a handful of window tasks each holding corpus/|types|
    # rows, the one window in the repo whose task size grew with data.
    # An order-statistic SELECTION never needs per-row ranks: the value
    # at rank r (ties broken by event_id order, which cannot cross equal
    # values) is min{v : cumcount(value <= v) >= r}, computed on the
    # (type, value) HISTOGRAM — map-side partial agg collapses the
    # corpus, and the rank window runs over a domain-bounded frame
    # (value is an exact-2dp metric), independent of row count.
    # Bitwise-identical cuts (bitcheck-gated at sf0.01 and sf1).
    cnts = base.groupBy("event_type", "value").agg(F.count("*").alias("c"))
    cum = cnts.withColumn(
        "cum", F.sum("c").over(Window.partitionBy("event_type").orderBy("value"))
    ).withColumn("n", F.sum("c").over(Window.partitionBy("event_type")))
    lo_rank = f"((n - 1) * {WINSOR_LO_PCT}) DIV 100 + 1"
    hi_rank = f"((n - 1) * {WINSOR_HI_PCT}) DIV 100 + 1"
    cuts = cum.groupBy("event_type").agg(
        F.min(F.expr(f"CASE WHEN cum >= {lo_rank} THEN value END")).alias("lo_cut"),
        F.min(F.expr(f"CASE WHEN cum >= {hi_rank} THEN value END")).alias("hi_cut"),
    )
    clipped = base.join(F.broadcast(cuts), "event_type").withColumn(
        "cv",
        F.expr(
            "CASE WHEN value < lo_cut THEN lo_cut"
            " WHEN value > hi_cut THEN hi_cut ELSE value END"
        ),
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CASE WHEN value < lo_cut THEN 1 ELSE 0 END")).alias(
                "n_clipped_lo"
            ),
            F.sum(F.expr("CASE WHEN value > hi_cut THEN 1 ELSE 0 END")).alias(
                "n_clipped_hi"
            ),
            F.min("lo_cut").alias("lo_cut"),
            F.min("hi_cut").alias("hi_cut"),
            # accumulate micro-units in DECIMAL(38,0): a BIGINT sum wraps
            # once a group's clipped value-sum exceeds ~9.2e12 (r11
            # overflow-hardening sweep; see tests/test_exact_rounding.py)
            F.sum(F.expr("CAST(round(cv * 1000000) AS DECIMAL(38,0))")).alias("su"),
        )
        .select(
            "event_type",
            "n_events",
            "n_clipped_lo",
            "n_clipped_hi",
            "lo_cut",
            "hi_cut",
            # su is in micro-units: su / (n * 1e6) is the mean
            exact_ratio("su", "n_events * 1000000").alias("winsorized_mean"),
        )
    )


# z-score from exact integer moments, one double tree mirrored in the
# oracle (micro-units; n >= 2 per type by fixture construction)
_MEAN_U = "(CAST(syu AS DOUBLE) / CAST(n AS DOUBLE))"
_VAR_U2 = (
    "((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(syu AS DOUBLE) * CAST(syu AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))"
)
_ZSCORE = f"round((value * 1000000.0 - {_MEAN_U}) / sqrt({_VAR_U2}), 3)"
ANOMALY_Z = 3.0


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly detection: events more than 3 sample
    standard deviations from their type's mean — the outlier monitor an
    ingest pipeline runs over metrics and quality scores.

    Scale shape: one hash aggregation produces exact integer moments
    (count, Σv, Σv² in micro-units — bit-stable under any task order),
    broadcast back over a fresh scan; the z expression is one double
    tree mirrored in the oracle, and the keep filter compares the
    ROUNDED score so both engines select the identical row set.
    """
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "event_id",
        "event_type",
        "value",
        F.expr("CAST(round(value * 1000000) AS BIGINT)").alias("vu"),
    )
    moments = base.groupBy("event_type").agg(
        F.count("*").alias("n"),
        # syu in DECIMAL(38,0) — BIGINT wraps at a ~9.2e12 value-sum
        # per group (r11 overflow-hardening sweep)
        F.sum(F.expr("CAST(vu AS DECIMAL(38,0))")).alias("syu"),
        F.sum(F.expr("CAST(vu AS DECIMAL(38,0)) * vu")).alias("syy"),
    )
    scored = base.join(F.broadcast(moments), "event_type").withColumn(
        "z", F.expr(_ZSCORE)
    )
    return scored.filter(F.expr(f"abs(z) > {ANOMALY_Z}")).select(
        "event_id", "event_type", "value", "z"
    )


CO_OCCUR_K = 25


def parts_co_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: the K part pairs most often ordered
    together. The dedup machinery's in-bucket pair enumeration turned
    into analytics — per order, distinct parts collect into one row and
    two chained explodes enumerate pairs (never an order self-join,
    which would scan and shuffle lineitem twice); pair counts then
    partial-aggregate map-side and the top-K is a TakeOrdered heap.
    Baskets are naturally tiny (an order has <= 7 lines), so the
    in-bucket quadratic is bounded at 21 pairs per order.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    lhs = baskets.select(F.explode("parts").alias("a"), "parts")
    pairs = lhs.select("a", F.explode("parts").alias("b")).filter(
        F.col("a") < F.col("b")
    )
    return (
        pairs.groupBy(F.col("a").alias("part_a"), F.col("b").alias("part_b"))
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(CO_OCCUR_K)
    )


def events_value_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event percentile of `value` within its type — the
    peer-comparison feature column ("this request was slower than 97%
    of its class") every feature-engineering pipeline derives. Exact
    rank arithmetic in half-up millionths (percentile = (rank-1)/(n-1);
    single-member groups get 0).

    Scale shape (r11): the rank over (value, event_id) decomposes as
    rank = cumcount(values strictly below) + row_number within the
    equal-value tie group. The cumulative counts ride the (type, value)
    HISTOGRAM — domain-bounded (exact-2dp metric), broadcast back over
    a fresh scan — so the fact-side window partitions by
    (event_type, VALUE): its task unit is one tie group, not one event
    type. The previous per-type window put corpus/|types| rows in a
    single task — the only remaining data-sized low-cardinality window;
    now the exchange key has |types| x |distinct values| cardinality.
    Bitwise-identical output (bitcheck-gated at sf0.01 and sf1).
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    base = events.select("event_id", "event_type", "value")
    cnts = base.groupBy("event_type", "value").agg(F.count("*").alias("c"))
    hist = (
        cnts.withColumn(
            "cum", F.sum("c").over(Window.partitionBy("event_type").orderBy("value"))
        )
        .withColumn("n", F.sum("c").over(Window.partitionBy("event_type")))
        .select(
            "event_type",
            "value",
            (F.col("cum") - F.col("c")).alias("below"),
            "n",
        )
    )
    w_tie = Window.partitionBy("event_type", "value").orderBy("event_id")
    # no explicit broadcast hint (r12): the histogram is
    # |types| x |distinct 2dp values| — small for a domain-bounded
    # metric, but a forced hint would bypass size-based planning and
    # OOM the driver on a wide value domain at scale. AQE's runtime
    # conversion broadcasts it when it is ACTUALLY small and falls back
    # to a shuffle join when it is not (plan-audited on the final plan).
    ranked = base.join(hist, ["event_type", "value"]).withColumn(
        "rn", F.col("below") + F.row_number().over(w_tie)
    )
    return ranked.select(
        "event_id",
        "event_type",
        "value",
        F.when(F.col("n") == 1, F.lit(0.0))
        .otherwise(exact_ratio("rn - 1", "n - 1"))
        .alias("pct_rank"),
    )


def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-concurrency sweep line: how many orders are OPEN (placed
    but not fully shipped) on each day — the backlog/concurrency shape
    (concurrent sessions, active jobs, WIP inventory) that naive
    per-day × per-order joins turn into |days|·|orders| pairs.

    Sweep formulation: each order emits +1 at its placement day and -1
    the day after its LAST line ships; per-day deltas hash-aggregate
    (calendar-bounded cardinality), then ONE running sum over days
    yields the open count. The final window is a single partition over
    per-day rows — provably tiny (one row per calendar day), unlike the
    data-sized global windows the plan audit rejects. Days ride as
    integer days-since-epoch (engine-portable, no date-type drift).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')").alias(
            "start_day"
        ),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01')").alias(
            "ship_day"
        ),
    )
    closes = li.groupBy("l_orderkey").agg(F.max("ship_day").alias("last_ship"))
    starts = orders.select(F.col("start_day").alias("day"), F.lit(1).alias("delta"))
    # orders with no lineitem rows never close (stay in the backlog)
    ends = (
        orders.join(closes, orders.o_orderkey == closes.l_orderkey)
        .select((F.col("last_ship") + 1).alias("day"), F.lit(-1).alias("delta"))
    )
    deltas = starts.unionByName(ends).groupBy("day").agg(
        F.sum("delta").alias("net")
    )
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.withColumn("open_orders", F.sum("net").over(w)).select(
        "day", "net", "open_orders"
    )


def msgpack_roundtrip_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MessagePack codec under the driver gate: every event's
    (type, value) packs into REAL MessagePack bytes (pure-stdlib
    encoder, Arrow-batched), flows through the production decode chain
    (`msgpack_to_json_udf` -> `from_json`), and the decoded columns
    aggregate to results the oracle computes from the ORIGINAL table —
    float64 survives bit-exactly (0xcb is a full double), so the
    decimal sums match bitwise. Both codec stages are narrow; only the
    aggregate leaves the blob rows.
    """
    import pandas as pd

    from redpanda_to_parquet_writer_spark.functions.msgpack_codec import packb
    from redpanda_to_parquet_writer_spark.operators.decode import (
        msgpack_to_json_udf,
    )

    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    pack = F.pandas_udf(
        lambda et, v: pd.Series(
            [packb({"t": a, "v": float(b)}) for a, b in zip(et, v)]
        ),
        "binary",
    )
    blobs = events.select(pack("event_type", "value").alias("blob"))
    decoded = blobs.select(
        F.from_json(
            msgpack_to_json_udf()(F.col("blob")), "t string, v double"
        ).alias("d")
    ).select(F.col("d.t").alias("event_type"), F.col("d.v").alias("value"))
    return decoded.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.expr(
            "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)"
        ).alias("total_value"),
    )


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition counts (the first-order Markov
    matrix behavioral models start from): one lag window per user, then
    a hash count per (from, to) pair with the transition probability in
    exact half-up millionths of each from-state's total. One user_id
    shuffle for the window, one tiny (from,to) aggregation; the
    from-state totals come from a window over the aggregated pairs
    (n_types^2 rows) — a groupBy+join-back replayed the whole
    scan->window->agg lineage for the totals side (r8: 2 scans / 5
    exchanges down to 1 scan / 3, two of them on the tiny frame)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        "event_type",
        event_epoch_sec(events).alias("ts_sec"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    pairs = (
        base.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    tw = Window.partitionBy("from_type")
    return (
        pairs.withColumn("row_total", F.sum("n").over(tw))
        .select(
            "from_type",
            "to_type",
            "n",
            exact_ratio("n", "row_total").alias("p"),
        )
    )


#: declared data contract for the events table: value in [0, 1000],
#: event timestamps inside the fixture year, user/type non-null
CONTRACT_VALUE_MAX = 1000.0


def events_contract_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract gate: one scan counting violations of each declared
    constraint (null keys, value range, timestamp window) plus the rows
    passing ALL of them — the pre-publish validation every production
    table runs, with per-rule counts so a breach is attributable. Pure
    conditional aggregation; exact integers.
    """
    events = load_table(spark, sf_dir, "events")
    sec = event_epoch_sec(events)
    lo = 1704067200  # 2024-01-01
    hi = 1735689600  # 2025-01-01
    return events.select(
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
        sec.alias("sec"),
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.expr("CASE WHEN user_id IS NULL THEN 1 ELSE 0 END")).alias(
            "null_user"
        ),
        F.sum(F.expr("CASE WHEN event_type IS NULL THEN 1 ELSE 0 END")).alias(
            "null_type"
        ),
        F.sum(
            F.expr(f"CASE WHEN value < 0 OR value > {CONTRACT_VALUE_MAX} THEN 1 ELSE 0 END")
        ).alias("value_out_of_range"),
        F.sum(
            F.expr(f"CASE WHEN sec < {lo} OR sec >= {hi} THEN 1 ELSE 0 END")
        ).alias("ts_out_of_window"),
        F.sum(
            F.expr(
                f"CASE WHEN user_id IS NOT NULL AND event_type IS NOT NULL"
                f" AND value >= 0 AND value <= {CONTRACT_VALUE_MAX}"
                f" AND sec >= {lo} AND sec < {hi} THEN 1 ELSE 0 END"
            )
        ).alias("n_conforming"),
    )


SKETCH_TOL_PCT = 5


def events_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketches under the oracle gate: per event type, Spark's HLL++
    distinct count and t-digest median must land within 5% of the exact
    answers computed in the same query. The oracle states the CONTRACT
    (exact values + within-tolerance booleans literally true): if either
    sketch drifted outside its error budget, the hash gate fails — the
    "measure, don't guess" check for the approx profiling operators that
    replace exact distinct/quantiles at 100 TB.

    Exact median is rank-selected ((n+1) DIV 2 over (value, event_id) —
    a stored value, engine-portable); exact distinct plans one expand.
    The rank selection rides the (type, value) histogram's cumulative
    counts (r11, same scale shape as events_value_winsorized_stats):
    the corpus collapses map-side before any window, so even the
    audit's exact side never puts a corpus-sized partition in one
    window task.
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    base = events.select("event_type", "event_id", "user_id", "value")
    cum = base.groupBy("event_type", "value").agg(
        F.count("*").alias("c")
    ).withColumn(
        "cum", F.sum("c").over(Window.partitionBy("event_type").orderBy("value"))
    ).withColumn("n", F.sum("c").over(Window.partitionBy("event_type")))
    med = (
        cum.groupBy("event_type")
        .agg(
            F.min(
                F.expr("CASE WHEN cum >= (n + 1) DIV 2 THEN value END")
            ).alias("p50_exact")
        )
    )
    # r17 (guide §1.2-1): mixing countDistinct with the imperative sketch
    # aggregates planned Spark's multi-stage distinct aggregation, which
    # builds an HLL++ AND a QuantileSummaries buffer PER (type, user)
    # GROUP and merges them across two exchanges — measured 1.70s where
    # the three aggregates cost 0.17/0.29/0.18s alone. Split instead:
    # the distinct side collapses to (type, user) pairs first — exact
    # count is the group count, and the HLL registers are IDENTICAL over
    # the deduplicated pairs (HLL is duplicate-insensitive), so both
    # audit values are bitwise unchanged — and the t-digest runs in a
    # plain one-exchange aggregate over the full rows. At scale this
    # also removes a per-(type,user)-group sketch-buffer shuffle.
    users = base.groupBy("event_type", "user_id").agg(F.lit(1).alias("__one"))
    dist = users.groupBy("event_type").agg(
        F.count("*").alias("n_users_exact"),
        F.approx_count_distinct("user_id", 0.02).alias("__hll"),
    )
    td = base.groupBy("event_type").agg(
        # 1/2000 rank error << the 5% contract; 10000 was 4x the cost
        # for accuracy the tolerance can't see
        F.percentile_approx("value", 0.5, 2000).alias("__td"),
    )
    agg = dist.join(F.broadcast(td), "event_type")
    tol = SKETCH_TOL_PCT / 100.0
    return (
        agg.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "n_users_exact",
            F.expr(
                f"abs(CAST(__hll AS DOUBLE) - CAST(n_users_exact AS DOUBLE))"
                f" <= {tol} * CAST(n_users_exact AS DOUBLE)"
            ).alias("hll_within_tol"),
            "p50_exact",
            F.expr(f"abs(__td - p50_exact) <= {tol} * p50_exact").alias(
                "tdigest_within_tol"
            ),
        )
    )


def parts_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the part co-occurrence graph —
    the standard oriented-edge formulation (count wedges a<b<c where
    (a,b),(b,c) are edges, then semi-join the closing edge (a,c)):
    orienting every edge low->high means each triangle is counted
    exactly once and the wedge join fans out from the LOW-degree
    endpoint ordering, the classic skew guard for power-law graphs.
    Emits one audit row: distinct edges, wedges, triangles, and the
    global clustering coefficient in exact half-up millionths.
    """
    from redpanda_to_parquet_writer_spark.operators.graph import (
        oriented_triangle_stats,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("parts"))
    lhs = baskets.select(F.explode("parts").alias("a"), "parts")
    edges = (
        lhs.select("a", F.explode("parts").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    # persisted multi-action counting + optional heavy-hitter degree cap
    # live in operators/graph.py; no cap here — the oracle counts the
    # full graph, and TPC-H co-occurrence has no power-law hubs
    n_edges, n_wedges, n_triangles = oriented_triangle_stats(edges)
    # one-row audit result built driver-side from exact counts (the
    # counts themselves are distributed jobs; the final row is O(1))
    coeff = (
        (2 * 3 * n_triangles * 1000000 + n_wedges) // (2 * n_wedges) / 1000000.0
        if n_wedges
        else 0.0
    )
    return spark.createDataFrame(
        [(n_edges, n_wedges, n_triangles, coeff)],
        "n_edges long, n_wedges long, n_triangles long, clustering_coeff double",
    )


#: bites at every fixture scale (sf0.001 max degree 138, sf0.01 max 206
#: with median 115) so the audit always measures a real drop
TRIANGLE_CAP_DEGREE = 128


def parts_triangle_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped-vs-exact triangle delta (VERDICT r6 #3) — the graph
    analogue of `ann_recall_audit`: `max_degree` silently drops hub
    triangles, so this audit counts the exact and the degree-capped
    co-occurrence graph side by side and reports the drop, plus the
    degree-table-only upper bound (sum over heavy v of C(deg_v, 2))
    that a 100-TB run checks when the exact count is unaffordable.
    `dropped_triangles <= dropped_triangle_bound` is property-tested in
    tests/test_graph.py; here the oracle replays every count exactly.
    """
    from redpanda_to_parquet_writer_spark.operators.graph import degree_cap_audit

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("parts"))
    lhs = baskets.select(F.explode("parts").alias("a"), "parts")
    edges = (
        lhs.select("a", F.explode("parts").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    a = degree_cap_audit(edges, TRIANGLE_CAP_DEGREE)
    cols = (
        "n_heavy dropped_edges n_edges n_wedges n_triangles capped_edges "
        "capped_wedges capped_triangles dropped_triangles dropped_triangle_bound"
    ).split()
    return spark.createDataFrame(
        [tuple(a[c] for c in cols)], ", ".join(f"{c} long" for c in cols)
    )


RESAMPLE_START_US = 1704067200 * 1000000  # 2024-01-01T00:00:00 (fixture epoch)
RESAMPLE_STEP_US = 6 * 3600 * 1000000  # 6-hour grid
RESAMPLE_POINTS = 124  # 31 days


def events_user_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular events → regular per-user time series: LOCF resampling
    onto a fixed 6-hour grid, running as a REAL Arrow grouped-map
    (`applyInPandas` + vectorized searchsorted — the grouped-pandas UDF
    surface under the oracle gate; see operators/asof.py:resample_locf).
    Grid points before a user's first event are SQL NULLs; ties at one
    timestamp collapse to the max event_id, mirrored by the oracle's
    arg_max."""
    from redpanda_to_parquet_writer_spark.functions.dates import event_epoch_us
    from redpanda_to_parquet_writer_spark.operators.asof import resample_locf

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        event_epoch_us(events).alias("ts_us"),
        "value",
        "event_id",
    )
    return resample_locf(
        base,
        "user_id",
        "ts_us",
        "value",
        "event_id",
        RESAMPLE_START_US,
        RESAMPLE_STEP_US,
        RESAMPLE_POINTS,
    )


def events_user_resample_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-JVM resample twin (VERDICT r5 #4): identical LOCF
    semantics to events_user_resample but with sequence+explode grid
    generation and a last(ignorenulls) row-frame window instead of an
    Arrow grouped-map — whole-stage codegen end to end, no Python
    serialization, the default at 100-TB scale (see
    operators/asof.py:resample_locf_sql). Gated against the SAME DuckDB
    ASOF oracle as the Arrow variant."""
    from redpanda_to_parquet_writer_spark.functions.dates import event_epoch_us
    from redpanda_to_parquet_writer_spark.operators.asof import resample_locf_sql

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        event_epoch_us(events).alias("ts_us"),
        "value",
        "event_id",
    )
    return resample_locf_sql(
        base,
        "user_id",
        "ts_us",
        "value",
        "event_id",
        RESAMPLE_START_US,
        RESAMPLE_STEP_US,
        RESAMPLE_POINTS,
    )


QUERIES = {
    "events_value_trend_by_type": events_value_trend_by_type,
    "events_anomaly_zscore": events_anomaly_zscore,
    "parts_co_occurrence": parts_co_occurrence,
    "events_user_resample": events_user_resample,
    "events_user_resample_sql": events_user_resample_sql,
    "events_sketch_audit": events_sketch_audit,
    "events_value_percentile": events_value_percentile,
    "orders_open_backlog": orders_open_backlog,
    "msgpack_roundtrip_decode": msgpack_roundtrip_decode,
    "parts_triangle_count": parts_triangle_count,
    "parts_triangle_cap_audit": parts_triangle_cap_audit,
    "events_transition_matrix": events_transition_matrix,
    "events_contract_violations": events_contract_violations,
    "events_zorder_key": events_zorder_key,
    "events_value_winsorized_stats": events_value_winsorized_stats,
    "forecast_revenue_change": forecast_revenue_change,
}

ORACLES = {
    "events_value_trend_by_type": f"""
        WITH base AS (
          SELECT event_type,
                 (epoch_ns(ts) // 1000000000) // 86400 - {_DAY0} AS x,
                 CAST(round(value * 1000000) AS BIGINT) AS vu
          FROM events
        ),
        moments AS (
          -- DECIMAL(38,0): exact-rounding double casts on both engines
          -- (DuckDB's negative hugeint->double mis-rounds; r11)
          SELECT event_type,
                 count(*) AS n_events,
                 CAST(sum(x) AS DECIMAL(38,0)) AS sx,
                 CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx,
                 CAST(sum(vu) AS DECIMAL(38,0)) AS syu,
                 CAST(sum(x * vu) AS DECIMAL(38,0)) AS sxyu
          FROM base GROUP BY event_type
        )
        SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
               {_SLOPE} AS slope_per_day,
               {_INTERCEPT} AS intercept
        FROM moments
    """,
    "events_zorder_key": _zorder_oracle_sql(ZORDER_BITS),
    "events_value_winsorized_stats": f"""
        WITH base AS (SELECT event_type, event_id, value FROM events),
        ranked AS (
          SELECT event_type, value,
                 row_number() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
                 ) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM base
        ),
        cuts AS (
          SELECT event_type,
                 min(CASE WHEN rn = ((n - 1) * {WINSOR_LO_PCT}) // 100 + 1
                          THEN value END) AS lo_cut,
                 min(CASE WHEN rn = ((n - 1) * {WINSOR_HI_PCT}) // 100 + 1
                          THEN value END) AS hi_cut
          FROM ranked
          WHERE rn = ((n - 1) * {WINSOR_LO_PCT}) // 100 + 1
             OR rn = ((n - 1) * {WINSOR_HI_PCT}) // 100 + 1
          GROUP BY event_type
        ),
        clipped AS (
          SELECT b.event_type, b.value, c.lo_cut, c.hi_cut,
                 CASE WHEN b.value < c.lo_cut THEN c.lo_cut
                      WHEN b.value > c.hi_cut THEN c.hi_cut
                      ELSE b.value END AS cv
          FROM base b JOIN cuts c USING (event_type)
        )
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CASE WHEN value < lo_cut THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clipped_lo,
               CAST(sum(CASE WHEN value > hi_cut THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clipped_hi,
               min(lo_cut) AS lo_cut,
               min(hi_cut) AS hi_cut,
               CAST((CASE WHEN sum(CAST(round(cv * 1000000) AS BIGINT)) < 0
                          THEN -1 ELSE 1 END)
                  * ((2 * abs(CAST(sum(CAST(round(cv * 1000000) AS BIGINT))
                                   AS HUGEINT))
                      + count(*)) // (2 * count(*))) AS BIGINT)
                 / 1000000.0 AS winsorized_mean
        FROM clipped GROUP BY event_type
    """,
    "events_anomaly_zscore": f"""
        WITH base AS (
          SELECT event_id, event_type, value,
                 CAST(round(value * 1000000) AS BIGINT) AS vu
          FROM events
        ),
        moments AS (
          -- DECIMAL(38,0) (not HUGEINT): DuckDB's negative
          -- hugeint->double cast is not correctly rounded (r11), and
          -- these moments feed CAST(.. AS DOUBLE); decimal->double is
          -- exact-rounding on both engines and mirrors the Spark side
          SELECT event_type, count(*) AS n,
                 CAST(sum(vu) AS DECIMAL(38,0)) AS syu,
                 CAST(sum(vu * vu) AS DECIMAL(38,0)) AS syy
          FROM base GROUP BY event_type
        ),
        scored AS (
          SELECT b.event_id, b.event_type, b.value, {_ZSCORE} AS z
          FROM base b JOIN moments USING (event_type)
        )
        SELECT event_id, event_type, value, z
        FROM scored WHERE abs(z) > {ANOMALY_Z}
    """,
    "events_transition_matrix": """
        WITH seq AS (
          SELECT user_id, event_type,
                 lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ns(ts) // 1000000000, event_id
                 ) AS next_type
          FROM events
        ),
        pairs AS (
          SELECT event_type AS from_type, next_type AS to_type,
                 count(*) AS n
          FROM seq WHERE next_type IS NOT NULL
          GROUP BY 1, 2
        ),
        totals AS (
          SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
          FROM pairs GROUP BY from_type
        )
        SELECT p.from_type, p.to_type, CAST(p.n AS BIGINT) AS n,
               (2 * p.n * 1000000 + t.row_total) // (2 * t.row_total)
                 / 1000000.0 AS p
        FROM pairs p JOIN totals t USING (from_type)
    """,
    "events_contract_violations": f"""
        WITH base AS (
          SELECT event_id, user_id, event_type, value,
                 epoch_ns(ts) // 1000000000 AS sec
          FROM events
        )
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS null_user,
               CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS null_type,
               CAST(sum(CASE WHEN value < 0 OR value > {CONTRACT_VALUE_MAX}
                        THEN 1 ELSE 0 END) AS BIGINT) AS value_out_of_range,
               CAST(sum(CASE WHEN sec < 1704067200 OR sec >= 1735689600
                        THEN 1 ELSE 0 END) AS BIGINT) AS ts_out_of_window,
               CAST(sum(CASE WHEN user_id IS NOT NULL
                         AND event_type IS NOT NULL
                         AND value >= 0 AND value <= {CONTRACT_VALUE_MAX}
                         AND sec >= 1704067200 AND sec < 1735689600
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_conforming
        FROM base
    """,
    "parts_triangle_count": """
        WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
          SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
          FROM baskets a JOIN baskets b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        wedges AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM edges e1 JOIN edges e2 ON e1.b = e2.a
        ),
        tri AS (
          SELECT w.x, w.y, w.z
          FROM wedges w
          WHERE EXISTS (SELECT 1 FROM edges c WHERE c.a = w.x AND c.b = w.z)
        ),
        counts AS (
          SELECT (SELECT count(*) FROM edges) AS n_edges,
                 (SELECT count(*) FROM wedges) AS n_wedges,
                 (SELECT count(*) FROM tri) AS n_triangles
        )
        SELECT CAST(n_edges AS BIGINT) AS n_edges,
               CAST(n_wedges AS BIGINT) AS n_wedges,
               CAST(n_triangles AS BIGINT) AS n_triangles,
               CASE WHEN n_wedges = 0 THEN 0.0 ELSE
                 (2 * 3 * n_triangles * 1000000 + n_wedges)
                   // (2 * n_wedges) / 1000000.0 END AS clustering_coeff
        FROM counts
    """,
    # capped-vs-exact triangle audit: degrees, the heavy set, the capped
    # graph, and BOTH graphs' wedge/triangle counts replayed exactly;
    # the bound sums the even term deg*(deg-1) then halves (integer)
    "parts_triangle_cap_audit": f"""
        WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
          SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
          FROM baskets a JOIN baskets b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        deg AS (
          SELECT v, count(*) AS deg FROM (
            SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
          ) GROUP BY v
        ),
        heavy AS (SELECT v, deg FROM deg WHERE deg > {TRIANGLE_CAP_DEGREE}),
        capped AS (
          SELECT a, b FROM edges
          WHERE a NOT IN (SELECT v FROM heavy)
            AND b NOT IN (SELECT v FROM heavy)
        ),
        wedges AS (
          SELECT e1.a AS x, e2.b AS z FROM edges e1 JOIN edges e2 ON e1.b = e2.a
        ),
        tri AS (
          SELECT 1 FROM wedges w
          WHERE EXISTS (SELECT 1 FROM edges c WHERE c.a = w.x AND c.b = w.z)
        ),
        cwedges AS (
          SELECT e1.a AS x, e2.b AS z FROM capped e1 JOIN capped e2 ON e1.b = e2.a
        ),
        ctri AS (
          SELECT 1 FROM cwedges w
          WHERE EXISTS (SELECT 1 FROM capped c WHERE c.a = w.x AND c.b = w.z)
        ),
        counts AS (
          SELECT (SELECT count(*) FROM heavy) AS n_heavy,
                 (SELECT coalesce(sum(deg * (deg - 1)), 0) // 2 FROM heavy)
                   AS bound,
                 (SELECT count(*) FROM edges) AS n_edges,
                 (SELECT count(*) FROM wedges) AS n_wedges,
                 (SELECT count(*) FROM tri) AS n_triangles,
                 (SELECT count(*) FROM capped) AS capped_edges,
                 (SELECT count(*) FROM cwedges) AS capped_wedges,
                 (SELECT count(*) FROM ctri) AS capped_triangles
        )
        SELECT CAST(n_heavy AS BIGINT) AS n_heavy,
               CAST(n_edges - capped_edges AS BIGINT) AS dropped_edges,
               CAST(n_edges AS BIGINT) AS n_edges,
               CAST(n_wedges AS BIGINT) AS n_wedges,
               CAST(n_triangles AS BIGINT) AS n_triangles,
               CAST(capped_edges AS BIGINT) AS capped_edges,
               CAST(capped_wedges AS BIGINT) AS capped_wedges,
               CAST(capped_triangles AS BIGINT) AS capped_triangles,
               CAST(n_triangles - capped_triangles AS BIGINT)
                 AS dropped_triangles,
               CAST(bound AS BIGINT) AS dropped_triangle_bound
        FROM counts
    """,
    # the packed-and-decoded aggregate must equal the direct aggregate —
    # any byte the codec mangles flips the hash
    "msgpack_roundtrip_decode": """
        SELECT event_type,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS total_value
        FROM events GROUP BY event_type
    """,
    "orders_open_backlog": """
        WITH starts AS (
          SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS day,
                 1 AS delta
          FROM orders
        ),
        closes AS (
          SELECT l_orderkey,
                 max(date_diff('day', DATE '1970-01-01',
                               CAST(l_shipdate AS DATE))) AS last_ship
          FROM lineitem GROUP BY l_orderkey
        ),
        ends AS (
          SELECT c.last_ship + 1 AS day, -1 AS delta
          FROM orders o JOIN closes c ON o.o_orderkey = c.l_orderkey
        ),
        deltas AS (
          SELECT day, CAST(sum(delta) AS BIGINT) AS net
          FROM (SELECT * FROM starts UNION ALL SELECT * FROM ends)
          GROUP BY day
        )
        SELECT day, net,
               CAST(sum(net) OVER (
                 ORDER BY day ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS open_orders
        FROM deltas
    """,
    "events_value_percentile": """
        WITH ranked AS (
          SELECT event_id, event_type, value,
                 row_number() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
                 ) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM events
        )
        SELECT event_id, event_type, value,
               CASE WHEN n = 1 THEN 0 ELSE
                 (2 * (CAST(rn AS HUGEINT) - 1) * 1000000 + (n - 1))
                   // (2 * (n - 1)) END
                 / 1000000.0 AS pct_rank
        FROM ranked
    """,
    # the oracle states the sketch CONTRACT: exact values + literal TRUE
    # tolerance booleans — Spark's sketches must live inside their error
    # budget or the hash gate fails
    "events_sketch_audit": """
        WITH base AS (
          SELECT event_type, event_id, user_id, value FROM events
        ),
        ranked AS (
          SELECT event_type, value,
                 row_number() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
                 ) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM base
        ),
        med AS (
          SELECT event_type, value AS p50_exact
          FROM ranked WHERE rn = (n + 1) // 2
        )
        SELECT b.event_type,
               count(DISTINCT b.user_id) AS n_users_exact,
               TRUE AS hll_within_tol,
               min(m.p50_exact) AS p50_exact,
               TRUE AS tdigest_within_tol
        FROM base b JOIN med m ON b.event_type = m.event_type
        GROUP BY b.event_type
    """,
    "events_user_resample": f"""
        WITH base AS (
          SELECT user_id, epoch_us(ts) AS ts_us, value, event_id FROM events
        ),
        dedup AS (
          SELECT user_id, ts_us, arg_max(value, event_id) AS value
          FROM base GROUP BY user_id, ts_us
        ),
        grid AS (
          SELECT {RESAMPLE_START_US} + g * {RESAMPLE_STEP_US} AS grid_ts
          FROM (SELECT unnest(range({RESAMPLE_POINTS})) AS g)
        ),
        users AS (SELECT DISTINCT user_id FROM base)
        SELECT u.user_id, g.grid_ts, d.value
        FROM users u
        CROSS JOIN grid g
        ASOF LEFT JOIN dedup d
          ON d.user_id = u.user_id AND d.ts_us <= g.grid_ts
    """,
    "parts_co_occurrence": f"""
        WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
          FROM baskets a JOIN baskets b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        counts AS (
          SELECT part_a, part_b, count(*) AS n_orders FROM pairs GROUP BY 1, 2
        )
        SELECT part_a, part_b, n_orders FROM counts
        ORDER BY n_orders DESC, part_a ASC, part_b ASC LIMIT {CO_OCCUR_K}
    """,
    "forecast_revenue_change": """
        SELECT count(*) AS n_items,
               CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
                    AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
}

# The JVM twin computes the identical result — gate it against the SAME
# ASOF oracle as the Arrow grouped-map variant.
ORACLES["events_user_resample_sql"] = ORACLES["events_user_resample"]
