"""Unit tests for connected-components cluster resolution and PII-style
redaction (the oracle sweep in test_queries_oracle.py covers the full
queries; these pin the operator semantics on handcrafted inputs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.operators.dedup import connected_components
from redpanda_to_parquet_writer_spark.operators.text import redact_text


def _clusters(spark, n_vertices, pairs, **kw):
    vertices = spark.range(1, n_vertices + 1).select(F.col("id").alias("doc_id"))
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = connected_components(vertices, pdf, **kw)
    return {r["doc_id"]: r["cluster_id"] for r in out.collect()}

def test_cc_components_and_singletons(spark):
    got = _clusters(spark, 7, [(1, 2), (2, 3), (5, 6)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_cc_long_chain_needs_multiple_rounds(spark):
    # a 6-node chain: label 1 must propagate hop-by-hop across rounds
    got = _clusters(spark, 6, [(i, i + 1) for i in range(1, 6)])
    assert got == {i: 1 for i in range(1, 7)}


def test_cc_iteration_cap_partial_result(spark):
    # capped at 1 round, the star contraction has rewritten the chain's
    # edges {21,32,43} to {21,31,42}: nodes 2,3 reach root 1 but node 4
    # only reached 2
    got = _clusters(spark, 4, [(1, 2), (2, 3), (3, 4)], max_iterations=1)
    assert got == {1: 1, 2: 1, 3: 1, 4: 2}


def _star_rounds_reference(pairs, k):
    """Pure-Python alternating large/small-star contraction, exactly k
    rounds — the ground truth for cap-exactness of the fused-pair loop."""
    edges = {(max(a, b), min(a, b)) for a, b in pairs if a != b}
    for _ in range(k):
        nbrs: dict[int, set[int]] = {}
        for u, v in edges:
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
        m = {x: min(min(ns), x) for x, ns in nbrs.items()}
        large = {(v, m[u]) for u, v in ((min(e), max(e)) for e in edges)}
        out = set()
        small_groups: dict[int, set[int]] = {}
        for u, v in large:
            small_groups.setdefault(u, set()).add(v)
        for u, vs in small_groups.items():
            mn = min(vs)
            out.add((max(u, mn), min(u, mn)))
            out.update((max(v, mn), min(v, mn)) for v in vs if v != mn)
        edges = {(u, v) for u, v in out if u != v}
    return edges


def test_cc_fused_pair_cap_exactness(spark):
    # the fused two-rounds-per-materialization loop must still stop at
    # EXACTLY max_iterations contraction rounds: pin the Spark partial
    # at caps 1..4 on a 16-chain against a pure-Python reference of the
    # same contraction (the chain needs >4 rounds, so every cap below
    # that has a distinct edge set and a leaked extra round would show)
    chain = [(i, i + 1) for i in range(1, 16)]
    for cap in (1, 2, 3, 4):
        edges = _star_rounds_reference(chain, cap)
        label = {}
        for u, v in edges:
            label[u] = min(label.get(u, u), v)
        expect = {i: label.get(i, i) for i in range(1, 17)}
        got = _clusters(spark, 16, chain, max_iterations=cap)
        assert got == expect, f"cap={cap}: {got} != {expect}"


def test_cc_deep_chain_converges_logarithmically(spark):
    # 100-node path graph: plain min-propagation needs ~100 rounds (the
    # sf0.1 regression class — hit the 25-round cap); the star
    # contraction must converge inside 10
    got = _clusters(spark, 100, [(i, i + 1) for i in range(1, 100)], max_iterations=10)
    assert got == {i: 1 for i in range(1, 101)}


def _union_find_min_labels(n_vertices, pairs):
    """Driver-side reference: union-find over vertices 1..n, each
    vertex labeled with its component's minimum id."""
    parent = {v: v for v in range(1, n_vertices + 1)}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller root wins, so every root is its component's min
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_cc_star_equals_union_find_on_random_graphs(spark):
    # the star contraction must reach the min-label fixpoint a plain
    # union-find computes, on random graphs including self-loops,
    # duplicate and reversed pairs
    import random

    for seed in (7, 23):
        rnd = random.Random(seed)
        n = 300
        pairs = [
            (rnd.randrange(1, n + 1), rnd.randrange(1, n + 1))
            for _ in range(250)
        ]
        assert _clusters(spark, n, pairs) == _union_find_min_labels(n, pairs)


def test_cc_star_empty_and_selfloop_only(spark):
    # no pairs / only self-loops: every vertex is its own singleton
    got = _clusters(spark, 5, [(2, 2), (4, 4)])
    assert got == {i: i for i in range(1, 6)}


def test_redact_text_masks_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob@example.com and card 1234 5678"),
            (2, "no pii here"),
            (3, "secret project apollo x2"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in redact_text(df, "text", "doc_id", blocklist_terms=("apollo",)).collect()
    }
    assert rows[1]["redacted"] == "mail <EMAIL> and card <NUM> <NUM>"
    assert (rows[1]["n_emails"], rows[1]["n_numbers"], rows[1]["n_terms"]) == (1, 2, 0)
    assert rows[2]["redacted"] == "no pii here"
    assert (rows[2]["n_emails"], rows[2]["n_numbers"], rows[2]["n_terms"]) == (0, 0, 0)
    # term masked with word boundaries; the digit inside x2 still masks
    assert rows[3]["redacted"] == "secret project <TERM> x<NUM>"
    assert rows[3]["n_terms"] == 1


def test_redact_no_blocklist(spark):
    df = spark.createDataFrame([(1, "a 42 b")], "doc_id long, text string")
    row = redact_text(df, "text", "doc_id").collect()[0]
    assert row["redacted"] == "a <NUM> b"
    assert row["n_terms"] == 0


def test_normalized_fingerprint_collapses_variants(spark):
    """Case/punctuation/whitespace variants share a fingerprint; truly
    different texts do not."""
    from redpanda_to_parquet_writer_spark.operators.text import normalized_fingerprint

    df = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello   world"),
            (3, "HELLO\tWORLD."),
            (4, "goodbye world"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in normalized_fingerprint(df, "text", "doc_id").collect()}
    assert rows[1]["norm_fp"] == rows[2]["norm_fp"] == rows[3]["norm_fp"]
    assert rows[1]["canonical_id"] == 1 and rows[3]["canonical_id"] == 1
    assert rows[1]["n_variants"] == 3
    assert rows[4]["norm_fp"] != rows[1]["norm_fp"] and rows[4]["n_variants"] == 1


def test_normalized_fingerprint_null_text_groups_together(spark):
    """Null-text docs share the null fingerprint like any other group —
    the window form's semantics, preserved across the r12 null-safe
    join-back (a plain inner join would silently DROP null-text rows)."""
    from redpanda_to_parquet_writer_spark.operators.text import normalized_fingerprint

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "a b")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in normalized_fingerprint(df, "text", "doc_id").collect()}
    assert len(rows) == 3
    assert rows[1]["canonical_id"] == 1 and rows[2]["canonical_id"] == 1
    assert rows[1]["n_variants"] == 2 and rows[3]["n_variants"] == 1


def test_normalized_fingerprint_drops_null_id_rows(spark):
    """`id_col` is a KEY (the documented contract, ADVICE r13): rows
    whose id is NULL are dropped — absent from the output AND excluded
    from n_variants — matching every other dedup operator's key
    contract. Pinned here because the r13 salted sub-collect shape
    introduced the drop structurally (collect_list skips nulls); the
    fuzzer also drives it with random null-id mixes."""
    from redpanda_to_parquet_writer_spark.operators.text import normalized_fingerprint

    df = spark.createDataFrame(
        [(1, "a b"), (None, "a b"), (2, "a b"), (None, None), (3, None)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in normalized_fingerprint(df, "text", "doc_id").collect()}
    assert set(rows) == {1, 2, 3}  # null-id rows gone, incl. the null-text one
    assert rows[1]["n_variants"] == 2  # the null-id "a b" copy does not count
    assert rows[1]["canonical_id"] == 1 and rows[2]["canonical_id"] == 1
    assert rows[3]["n_variants"] == 1 and rows[3]["norm_fp"] is None


def test_bloom_no_false_negatives(spark):
    """Every key that IS in the built set must probe maybe_seen=True —
    the guarantee the prefilter's correctness rests on; false positives
    are allowed (and measured small at this sizing)."""
    from pyspark.sql import functions as F

    from redpanda_to_parquet_writer_spark.operators.dedup import (
        bloom_build,
        bloom_probe,
    )

    keys = spark.createDataFrame(
        [(f"key-{i}",) for i in range(300)], "key string"
    )
    bloom = bloom_build(keys, "key")
    # probe 150 members + 150 non-members
    probes = spark.createDataFrame(
        [(i, f"key-{i}" if i < 150 else f"other-{i}") for i in range(300)],
        "pid long, key string",
    )
    got = {r["pid"]: r["maybe_seen"] for r in bloom_probe(probes, bloom, "key").collect()}
    assert all(got[i] for i in range(150)), "false negative!"
    fp = sum(1 for i in range(150, 300) if got[i])
    # 4032 bits / 300 keys / 3 hashes -> fp rate ~ (1-e^(-900/4032))^3 ~ 0.8%
    assert fp <= 15, f"false-positive rate implausibly high: {fp}/150"


def test_bloom_duplicate_probe_rows_no_false_negative(spark):
    """Fully duplicate probe rows collapse in the probe's groupBy; the
    membership aggregate must stay true for seen keys (min(hit)==1, not
    sum(hit)==n_hashes, which a collapsed duplicate would inflate)."""
    from redpanda_to_parquet_writer_spark.operators.dedup import (
        bloom_build,
        bloom_probe,
    )

    keys = spark.createDataFrame([(f"key-{i}",) for i in range(50)], "key string")
    bloom = bloom_build(keys, "key")
    # every probe row appears 3x — the ingest-prefilter shape ADVICE flagged
    probes = spark.createDataFrame(
        [(i % 50, f"key-{i % 50}") for i in range(150)], "pid long, key string"
    )
    out = bloom_probe(probes, bloom, "key").collect()
    assert len(out) == 50  # duplicates collapse to one row per probe key
    assert all(r["maybe_seen"] for r in out), "duplicate probes caused false negatives"


def test_countmin_never_underestimates(spark):
    """The count-min guarantee: estimate >= exact for EVERY term (min
    of counters that each include the term's full count), with equality
    for terms that collide with nothing in some row."""
    from pyspark.sql import functions as F

    from redpanda_to_parquet_writer_spark.operators.text import (
        countmin_estimate,
        countmin_sketch,
    )

    counts = spark.createDataFrame(
        [(f"t{i}", (i % 7) + 1) for i in range(400)], "term string, cnt long"
    )
    sketch = countmin_sketch(counts)
    est = countmin_estimate(sketch, counts.select("term"))
    joined = counts.join(est, "term")
    viol = joined.filter(F.col("cm_estimate") < F.col("cnt")).count()
    assert viol == 0, "count-min underestimated a term"
    exact_hits = joined.filter(F.col("cm_estimate") == F.col("cnt")).count()
    assert exact_hits > 0  # 4x256 counters over 400 keys: some collision-free


def test_dup_ngram_fraction_hand_corpus(spark):
    from redpanda_to_parquet_writer_spark.operators.text import dup_ngram_fraction

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),      # grams: "a b c" "b c d" "c d e"
            (2, "a b c x y"),      # grams: "a b c" "b c x" "c x y"
            (3, "z z"),            # shorter than n=3 -> no positions, omitted
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dup_ngram_fraction(docs, "text", "doc_id", n=3).collect()}
    assert set(rows) == {1, 2}
    # only "a b c" is shared; each doc has 3 positions, 1 duplicated
    for d in (1, 2):
        assert rows[d]["n_positions"] == 3
        assert rows[d]["n_dup_positions"] == 1
        assert rows[d]["dup_frac"] == 0.333333  # exact half-up millionths


def test_dup_ngram_fraction_within_doc_repeat_not_duplicated(spark):
    """A gram repeated WITHIN one doc but present in no other doc is
    not 'duplicated' (df counts documents, not occurrences)."""
    from redpanda_to_parquet_writer_spark.operators.text import dup_ngram_fraction

    docs = spark.createDataFrame(
        [(1, "p q r p q r"), (2, "x y z w v u")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dup_ngram_fraction(docs, "text", "doc_id", n=3).collect()}
    # doc 1: grams p-q-r(x2), q-r-p, r-p-q -> all unique to doc 1
    assert rows[1]["n_dup_positions"] == 0 and rows[1]["dup_frac"] == 0.0
    assert rows[2]["n_dup_positions"] == 0


def test_dup_ngram_fraction_fully_duplicated_doc(spark):
    from redpanda_to_parquet_writer_spark.operators.text import dup_ngram_fraction

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "a b c d")],
        "doc_id long, text string",
    )
    for r in dup_ngram_fraction(docs, "text", "doc_id", n=3).collect():
        assert r["dup_frac"] == 1.0 and r["n_positions"] == r["n_dup_positions"] == 2


def test_cc_stats_stay_flat_across_rounds(spark):
    """The r10 sf1 finding, pinned at the mechanism level: a bare
    per-round localCheckpoint PRESERVES Catalyst stats, and a loop's
    self-join SQUARES sizeInBytes each round — by round ~20 the driver
    multiplies 100M-bit BigIntegers (50s/round on constant data).
    `_materialize_flagged` resets stats from the cached relation each
    round, so the returned labels frame's sizeInBytes must stay a sane,
    DATA-sized number after many rounds — not an astronomically
    compounded estimate. 2^63 is far above any real 100-node frame and far below
    the compounded values (which exceed 2^1000 within 20 rounds)."""
    vertices = spark.range(1, 101).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 100)], "id_a long, id_b long"
    )
    out = connected_components(vertices, pairs, max_iterations=20)
    size = int(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert 0 < size < 2**63, f"compounded stats leaked through: {size}"
    assert {r["doc_id"]: r["cluster_id"] for r in out.collect()} == {
        i: 1 for i in range(1, 101)
    }


def test_hourly_avg_exact_tie_rounds_half_away(spark, tmp_path):
    """The r10 sf1 rounding-tie class, pinned on a constructed table:
    32 events in one hour summing to exactly 0.01 put the average on a
    perfect rounding boundary (0.01/32 = 0.0003125). round(double, 6)
    leaves the verdict to whichever side of the tie the binary double
    lands on — engine-dependent (the sf1 corpus split Spark from DuckDB
    at 72443.5/1600). The exact integer half-away-from-zero path must
    give 0.000313 from BOTH engines, bitwise."""
    import duckdb

    from redpanda_to_parquet_writer_spark.plans import ORACLES, QUERIES

    rows = [
        (i, "2024-01-01 05:%02d:00" % (i % 60), 1, "t", 0.01 if i == 0 else 0.0, "{}")
        for i in range(32)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id", F.to_timestamp("ts").alias("ts"), "user_id",
        "event_type", "value", "props",
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    got = QUERIES["hourly_event_stats"](spark, sf_dir).collect()
    assert len(got) == 1
    assert got[0]["n"] == 32
    assert float(got[0]["avg_value"]).hex() == (0.000313).hex()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet/*.parquet'"
    )
    oracle = con.execute(ORACLES["hourly_event_stats"]).fetchall()
    assert len(oracle) == 1
    assert float(oracle[0][3]).hex() == (0.000313).hex()


def test_exploded_ngrams_matches_array_path(spark):
    """exploded_ngrams (codegen Generate build, r17) must produce exactly
    the rows of with_ngrams + explode: same gram text (space-join), same
    multiplicities, short docs (< n tokens) absent, whitespace runs and
    leading/trailing space normalized identically."""
    from pyspark.sql import functions as F

    from redpanda_to_parquet_writer_spark.operators.text import (
        exploded_ngrams,
        with_ngrams,
    )

    rows = [
        (1, "a b c d e f g"),
        (2, "a b"),                      # shorter than n: no grams
        (3, ""),                         # empty
        (4, "  x   y\tz  w v  "),        # whitespace runs + tabs
        (5, "t t t t t t t t"),          # repeated token -> dup grams
        (6, "a b c d e"),                # exactly n tokens -> one gram
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    n = 5
    old = (
        with_ngrams(df, "text", n)
        .select("doc_id", F.explode("ngrams").alias("__g"))
        .groupBy("doc_id", "__g")
        .count()
    )
    new = exploded_ngrams(df, "text", "doc_id", n).groupBy("doc_id", "__g").count()
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    assert new.count() == old.count()
