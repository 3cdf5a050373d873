"""Deduplication operators.

Reference parity:
  - J1/J2 anti-join key dedup on ``(kafka_partition, kafka_offset)``
    (collector:741-758, 1003-1010) -> broadcast left-anti join.
  - D2 content-hash dedup keep-FIRST (reader:653-710): Polars
    ``unique(keep="first")`` depends on file row order; we sharpen it to a
    deterministic rule — keep the row with the smallest order key
    (offset order) — via a window ``row_number``.

Scale notes:
  - The anti-join's right side (already-persisted keys for one
    topic/date) is small relative to the batch -> broadcast hint avoids a
    shuffle of the big side entirely.
  - Content keep-first is a min_by AGGREGATE (r12): hash keys are
    uniform by construction, but list LENGTHS are not — the corpus's
    hottest exact duplicate is precisely what dedup removes, and a
    window partitioned by the hash would hold all its copies in one
    unsplittable task; partial min_by collapses them map-side instead.
  - `exact_dedup_min_key` is the keys-only groupBy formulation —
    cheaper still when only the surviving keys are needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.functions.hashing import content_columns, content_hash

DEDUP_KEY = ("kafka_partition", "kafka_offset")


def anti_join_dedup(
    new_df: DataFrame,
    existing_df: DataFrame,
    keys: tuple[str, ...] = DEDUP_KEY,
    broadcast_existing: bool = True,
) -> DataFrame:
    """Drop rows of `new_df` whose composite key already exists (J1/J2).

    Set difference by key as a left-anti equi-join; the existing key set
    is projected to the key columns only (column pruning, S7) and
    broadcast when the caller has established it is small (e.g. the
    date-pruned, size-gated merge path in `streaming/sink.py`). When the
    caller demotes (`broadcast_existing=False`) the join is pinned to
    sort-merge: Catalyst's stats-based auto-broadcast must not override
    an explicit too-big-to-broadcast decision — stats can underestimate,
    and a misjudged broadcast of a billion-key set OOMs every executor.
    """
    existing_keys = existing_df.select(*keys).dropDuplicates(list(keys))
    if broadcast_existing:
        existing_keys = F.broadcast(existing_keys)
    else:
        existing_keys = existing_keys.hint("merge")
    return new_df.join(existing_keys, on=list(keys), how="left_anti")


def content_dedup_keep_first(
    df: DataFrame,
    content_cols: list[str] | None = None,
    order_cols: tuple[str, ...] = DEDUP_KEY,
) -> DataFrame:
    """Content-hash dedup keeping the first row in `order_cols` order (D2).

    Hash all non-kafka columns (F4, reader:596-618), keep the row with the
    lowest (partition, offset) — a deterministic sharpening of Polars'
    row-order-dependent keep="first" (SURVEY 7.3 risk 3).

    Skew shape (r12): keep-first runs as a min_by AGGREGATE, not a
    row_number window — a window partitioned by content hash puts every
    copy of the corpus's hottest duplicate (the exact thing dedup
    exists to remove) in ONE unsplittable task, while the aggregate's
    map-side partial combine collapses hot hashes to one candidate row
    per map partition before the shuffle. The ordering struct encodes
    NULLS FIRST per order column ((0, null) sorts below (1, v)), so the
    selected row is bit-for-bit the one the old `orderBy(asc)` window
    picked, for any caller (ties in `order_cols` — impossible for the
    (partition, offset) default — were window-nondeterministic anyway).
    """
    hashed = df.withColumn("_content_hash", content_hash(df, content_cols))
    order_key = F.struct(
        *[
            f
            for c in order_cols
            for f in (
                F.when(F.col(c).isNotNull(), F.lit(1)).otherwise(F.lit(0)),
                F.col(c),
            )
        ]
    )
    first = F.min_by(
        F.struct(*[F.col(c) for c in df.columns]), order_key
    ).alias("__first")
    return hashed.groupBy("_content_hash").agg(first).select("__first.*")


def _materialize_flagged(df: DataFrame, flag_col: str) -> tuple[DataFrame, bool]:
    """Materialize one loop iteration with RESET stats and read a
    boolean convergence flag in the same full-scan job that fills the
    cache: persist -> agg(max) -> localCheckpoint -> unpersist.

    Why the stats reset: a bare per-round `localCheckpoint` truncates
    lineage but PRESERVES the child plan's Catalyst statistics in the
    resulting LogicalRDD — and a join's size estimate is the BigInt
    PRODUCT of its children's sizeInBytes. In an iterative loop that
    joins the checkpointed frame (worst: a self-join, which squares
    it), the stat's bit-length doubles every round, and round r's
    planning multiplies (2^r)-bit BigIntegers: profiled on the sf~1
    fixture, the driver burned 50s of a 51s round inside
    BigInteger.multiplyToomCook3 by round 21, with every executor
    thread idle — exponential driver CPU on constant-size data (123s
    total; 18s after this fix; the gap is unbounded in round count, so
    at 100 TB depth it is a hang). The aggregate materializes the
    cache, so the checkpoint's stats come from the cached relation's
    REAL byte size instead of the compounded estimate; the checkpoint
    then owns the data and the cache slot is released immediately.

    The flag read replaces the separate changed-check JOIN job the
    pre-r17 loop ran every round (~20% of round wall at sf0.1). Empty
    frames read as unchanged (max over zero rows is NULL)."""
    cached = df.persist()
    flag = cached.agg(F.max(F.col(flag_col))).collect()[0][0]
    out = cached.localCheckpoint(eager=True)
    cached.unpersist()
    return out, bool(flag)


def connected_components(
    vertices: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Resolve near-dup candidate PAIRS into clusters (connected
    components): one row per vertex, labeled with its component's
    minimum id; singletons keep themselves.

    LSH/Jaccard stages emit candidate *pairs*; a dedup pipeline must
    then group pairs transitively (a~b, b~c => {a,b,c} is one cluster).
    That is not expressible as one SQL query, so it runs as a
    driver-controlled loop of alternating large-star/small-star edge
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond"). Edges REWRITE toward component minima, so convergence is
    not bound by graph diameter: r17 measured the sf0.1 LSH candidate
    graph at 6 rounds / 2 jobs each vs r16 label propagation's 16
    rounds — and each star round shuffles only the (small) candidate
    edge set, where every label-propagation round also shuffled the
    full vertex label table twice.

    Edges live canonically as (u, v) with u > v. Each round:

      large-star: per vertex a, m(a) = min(neighborhood(a) ∪ {a});
        every edge {a, b} with a < b rewrites to {b, m(a)} — emitted
        exactly once, from its smaller endpoint's group, so the edge
        count never grows. Stable (flag false) iff every emitting
        vertex was already its neighborhood min: emitted == input.
      small-star: per vertex u over its SMALLER neighbors N(u),
        m = min(N(u)); children v ∈ N(u) \\ {m} rewrite to {v, m} and
        the {u, m} edge is (re-)emitted — the group collapses to a
        star around the local min. Stable iff every group had a single
        smaller neighbor (flag rides the child rows). The small-star
        groupBy(u, v) also dedups the round's edge multiset, so one
        distinct per round, in the same shuffle as the flag aggregate.

    Both phases are monotone (edge endpoints only ever decrease, and
    only to ids inside the same component), so the loop terminates at
    min-rooted stars; labels then read directly off the star edges.
    Per round the driver runs TWO jobs (the small-star materializing
    flag aggregate, then its checkpoint) over edge-sized frames only —
    large-star is pure lineage inside the small-star job, its
    instability flag rides the small-star rows, and the vertex table is
    touched once, at the final label join.

    Round shape (r17 session 3): both per-vertex minima come from
    WINDOW aggregates over ``partitionBy(u)`` instead of groupBy+self-
    join — 3 Exchanges + 0 joins per round where the join form paid 5
    Exchanges + 2 SortMergeJoins. On the tiny-per-round frames the
    round cost is sequential AQE stage waves, not bytes (profiled
    ~0.2s/wave at sf0.1), so cutting waves cuts the round: interleaved
    same-session A/B (noop sink, equality gated by full anti-join both
    ways) read join-form {10.1, 8.9, 8.3, 9.4}s vs window-form
    {6.3, 6.0, 7.0, 6.7}s — every window run faster than every join
    run, outputs bit-identical. Skew note: a hub vertex's window group
    lands in one task, but the join form shuffled the same rows to one
    join partition anyway; WindowExec buffers-with-spill where SMJ
    sorts-with-spill, so the straggler profile at scale is unchanged.

    `max_iterations` caps runaway graphs; the O(log^2 n) bound makes 25
    astronomically more than any real corpus needs (sf0.1: 6). History:
    r16 label-prop {16.8, 16.9, 14.9}s -> r17 join-form star
    {10.2, 9.6}s -> this window form (numbers above).

    r18 priced-and-rejected (VERDICT r17 #7): hash-to-min seeding — one
    pre-loop window pass rewriting every directed edge (u, v) to
    {v, m(u)} AND {u, m(u)} so neighborhoods hang off their min before
    round 1. Equality held (anti-join 0/0 both ways) but the seeded
    loop still ran the SAME 6 contraction rounds on the sf0.1 graph
    (the alternating-star convergence here is bound by the star-chain
    collapse pattern, not the initial hop count) and paid an extra
    materialization + a transiently ~2x edge set: interleaved mins
    prod 5.29s vs seeded 5.60s, prod faster in every adjacent pair.
    Harness: scripts/ab_cc_seed_r18.py at rev f23f2ab.

    Materialization cadence (r17 session 3): TWO contraction rounds run
    as one lineage per persist/flag/checkpoint when the cap allows (the
    second round's two references to the first resolve to one
    ReusedExchange), halving driver materializations. Results are
    identical at ANY cap: the edge set after k rounds does not depend
    on where materializations fall, a single round finishes an odd cap
    exactly, and a pair whose first round already hit the fixpoint
    leaves round two a no-op (stability is absorbing) so the pair flag
    still reads unchanged. Interleaved A/B on the sf0.1 graph
    (equality-gated): per-round {8.0, 8.8, 10.7}s vs fused
    {6.0, 7.3, 8.4}s — faster in every adjacent pair."""
    from pyspark.sql import Window

    edges = (
        pairs.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("u")

    def one_round(es: DataFrame) -> DataFrame:
        # large-star: neighborhoods need both directions; m(u) =
        # min(N(u) + {u}) rides ONE window min; each edge is emitted
        # from its smaller endpoint (v > u below), rewritten to
        # (v, m(u)). m <= u < v, so no self-loops can appear.
        directed = es.select("u", "v").union(
            es.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        large = (
            directed.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.col("m").alias("v"),
                (F.col("m") != F.col("u")).alias("__chg"),
            )
        )

        # small-star over the large-star output (still u > v): per
        # group, m = min(v) (window); the m-row(s) emit the (u, m)
        # self edge carrying the group's large-star flag (duplicates
        # collapse in the dedup aggregate), every other row is a child
        # rewrite (v, m) — unstable by construction. The groupBy(u, v)
        # is the round's dedup AND carries the instability flag.
        grouped = large.withColumn("m", F.min("v").over(w)).withColumn(
            "__lchg", F.max("__chg").over(w)
        )
        return (
            grouped.select(
                F.when(F.col("v") == F.col("m"), F.col("u"))
                .otherwise(F.col("v"))
                .alias("eu"),
                F.col("m").alias("ev"),
                F.when(F.col("v") == F.col("m"), F.col("__lchg"))
                .otherwise(F.lit(True))
                .alias("__chg"),
            )
            .select(
                F.greatest("eu", "ev").alias("u"),
                F.least("eu", "ev").alias("v"),
                "__chg",
            )
            .groupBy("u", "v")
            .agg(F.max("__chg").alias("__chg"))
        )

    remaining = max_iterations
    while remaining > 0:
        small = one_round(edges)
        if remaining >= 2:
            small = one_round(small.select("u", "v"))
            remaining -= 2
        else:
            remaining -= 1
        new_edges, changed = _materialize_flagged(small, "__chg")
        edges = new_edges.select("u", "v")
        if not changed:
            break

    roots = edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
    return (
        vertices.select(F.col(id_col).alias("id"))
        .join(roots.select(F.col("u").alias("id"), "cluster_id"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
        )
    )


def exact_dedup_min_key(
    df: DataFrame, content_cols: list[str] | None = None, order_col: str = "kafka_offset"
) -> DataFrame:
    """Keys of surviving rows after exact-content dedup (groupBy form).

    Returns one row per distinct content with the minimal `order_col`.
    Cheaper than the window when downstream only needs the keys: the
    map-side partial min() collapses duplicates before the shuffle.
    """
    cols = content_cols or content_columns(df)
    return df.groupBy(*cols).agg(F.min(order_col).alias(order_col))


# --- Bloom-filter prefilter -------------------------------------------------
# The standard ingest-dedup accelerator: a fixed-size bit array over the
# seen-key set answers "definitely new" without touching the key table,
# so the exact anti-join only processes the (few) maybe-seen rows. Words
# are 63-bit so every mask and every OR stays a non-negative BIGINT in
# both Spark and DuckDB (the 48-bit-simhash portability rule); hashes
# are md5-derived — the oracle rebuilds the filter bit-for-bit.

BLOOM_WORD_BITS = 63
BLOOM_WORDS = 64  # 64 x 63 = 4032 bits
BLOOM_HASHES = 3


def _bloom_bit(key: Column | str, j: int, n_bits: int) -> Column:
    col = F.col(key) if isinstance(key, str) else key
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{j}:"), col)), 1, 8), 16, 10
        ).cast("long"),
        F.lit(n_bits),
    )


def bloom_build(
    keys: DataFrame,
    key_col: str,
    n_words: int = BLOOM_WORDS,
    word_bits: int = BLOOM_WORD_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Fold a key set into a Bloom bit array: `n_words` rows of
    (word_idx, word) built by a bit_or aggregate — fixed size no matter
    how many keys, partial-aggregated map-side, ONE tiny result to
    broadcast at probe time."""
    n_bits = n_words * word_bits
    bits = keys.select(
        F.explode(
            F.array(
                *[_bloom_bit(key_col, j, n_bits).alias(f"b{j}") for j in range(n_hashes)]
            )
        ).alias("bit")
    )
    return (
        bits.select(
            F.expr(f"bit DIV {word_bits}").alias("word_idx"),
            F.expr(f"CAST(shiftleft(CAST(1 AS BIGINT), CAST(bit % {word_bits} AS INT)) AS BIGINT)").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )


def bloom_probe(
    probes: DataFrame,
    bloom: DataFrame,
    key_col: str,
    n_words: int = BLOOM_WORDS,
    word_bits: int = BLOOM_WORD_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Membership test against a broadcast Bloom filter: a probe is
    `maybe_seen` iff ALL its hash bits are set (no false negatives —
    the guarantee the oracle gate enforces; false positives are the
    collision price the exact verify pays for). Adds `maybe_seen`
    boolean; probes never shuffle (the filter broadcasts)."""
    n_bits = n_words * word_bits
    hashed = probes.select(
        "*",
        F.explode(
            F.array(*[_bloom_bit(key_col, j, n_bits) for j in range(n_hashes)])
        ).alias("bit"),
    ).withColumn("word_idx", F.expr(f"bit DIV {word_bits}"))
    joined = hashed.join(F.broadcast(bloom), "word_idx", "left").withColumn(
        "hit",
        F.expr(
            f"CASE WHEN word IS NULL THEN 0"
            f" WHEN (word DIV CAST(shiftleft(CAST(1 AS BIGINT), CAST(bit % {word_bits} AS INT)) AS BIGINT)) % 2 = 1"
            f" THEN 1 ELSE 0 END"
        ),
    )
    group_cols = [c for c in probes.columns]
    # min(hit)==1 (not sum==n_hashes): duplicate probe rows collapse in
    # the groupBy, which would make sum(hit) a multiple of n_hashes and
    # turn seen keys into false negatives — min is duplicate-safe.
    return (
        joined.groupBy(*group_cols)
        .agg((F.min("hit") == F.lit(1)).alias("maybe_seen"))
    )
