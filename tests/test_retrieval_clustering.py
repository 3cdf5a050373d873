"""BM25 retrieval and Lloyd k-means semantics (the per-query oracle
hash check runs in test_queries_oracle.py; these pin the math on frames
small enough to verify by hand)."""

from __future__ import annotations

import math

from redpanda_to_parquet_writer_spark.operators.similarity import kmeans_lloyd_assign
from redpanda_to_parquet_writer_spark.operators.text import bm25_topk


def test_bm25_exact_score_tiny_corpus(spark):
    # 3 docs, query {"spark"}: doc 10 has tf=2, doc 20 tf=1, doc 30 tf=0
    docs = spark.createDataFrame(
        [
            (10, "spark spark join"),
            (20, "spark filter scan scan"),
            (30, "filter scan scan"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in bm25_topk(docs, "text", "doc_id", ("spark",), k=5).collect()
    }
    assert set(rows) == {10, 20}  # non-matching doc never surfaces
    assert rows[10]["rank"] == 1 and rows[20]["rank"] == 2
    # closed form: N=3, df=2, idf=ln(1+(3-2+0.5)/(2+0.5)); avgdl=10/3
    idf = math.log(1 + 1.5 / 2.5)
    k1, b = 1.2, 0.75

    def score(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / (10 / 3)))

    assert rows[10]["bm25"] == round(score(2, 3), 6)
    assert rows[20]["bm25"] == round(score(1, 4), 6)
    assert rows[10]["n_terms_matched"] == 1


def test_bm25_rare_term_outranks_common(spark):
    # same tf=1 everywhere: the doc matching the rarer term must win
    docs = spark.createDataFrame(
        [(i, "common filler filler") for i in range(1, 9)]
        + [(9, "rare filler filler")],
        "doc_id long, text string",
    )
    top = bm25_topk(docs, "text", "doc_id", ("common", "rare"), k=1).collect()
    assert top[0]["doc_id"] == 9


def test_kmeans_converges_on_separated_blobs(spark):
    # two tight 2-d blobs; k=2 with lowest-id init (one seed per blob)
    # must assign each blob to its own cluster after 2 iterations
    pts = [(0, [0.0, 0.1]), (2, [0.1, 0.0]), (4, [0.05, 0.05])]
    pts += [(1, [5.0, 5.1]), (3, [5.1, 5.0]), (5, [5.05, 5.05])]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    rows = kmeans_lloyd_assign(df, "vec_id", "embedding", k=2, n_iter=2).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["vec_id"])
    assert sorted(by_cluster.values(), key=min) == [{0, 2, 4}, {1, 3, 5}]
    # every point sits nearer its own centroid than the other's
    assert all(r["dist"] < 1.0 for r in rows)


def test_kmeans_empty_cluster_drops_out(spark):
    # k=3 but only 2 real blobs: seeds 0 and 1 are both in blob A, so
    # after iteration 1 one seed's cluster may starve — the operator
    # must still return every point exactly once
    pts = [(0, [0.0, 0.0]), (1, [0.1, 0.1]), (2, [0.05, 0.0]),
           (3, [9.0, 9.0]), (4, [9.1, 9.1])]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    rows = kmeans_lloyd_assign(df, "vec_id", "embedding", k=3, n_iter=3).collect()
    assert sorted(r["vec_id"] for r in rows) == [0, 1, 2, 3, 4]
    far = {r["vec_id"]: r["cluster_id"] for r in rows}
    assert far[3] == far[4] and far[3] != far[0]


def test_rrf_fuse_exact_scores_and_single_leg_docs(spark):
    from redpanda_to_parquet_writer_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
    )
    dense = spark.createDataFrame(
        [(2, 1), (4, 2)], "doc_id long, rank int"
    )
    rows = {r["doc_id"]: r for r in rrf_fuse(lex, dense, "doc_id", k=10).collect()}
    # doc 2 is in both legs: exact sum of the two reciprocals
    assert rows[2]["rrf"] == 1.0 / 62 + 1.0 / 61
    assert rows[2]["fused_rank"] == 1
    # single-leg docs contribute that leg alone, other rank is NULL
    assert rows[1]["rrf"] == 1.0 / 61 and rows[1]["rank_b"] is None
    assert rows[4]["rrf"] == 1.0 / 62 and rows[4]["rank_a"] is None
    # both-legs beats either single leg even at worse per-leg ranks
    assert rows[2]["rrf"] > rows[1]["rrf"] > rows[3]["rrf"]


def test_rrf_fuse_k_truncation_and_id_tiebreak(spark):
    from redpanda_to_parquet_writer_spark.operators.similarity import rrf_fuse

    # two docs with identical rrf (same rank, disjoint legs): lower id wins
    lex = spark.createDataFrame([(7, 1), (9, 2)], "doc_id long, rank int")
    dense = spark.createDataFrame([(8, 1), (5, 2)], "doc_id long, rank int")
    rows = rrf_fuse(lex, dense, "doc_id", k=3).collect()
    assert [r["doc_id"] for r in rows] == [7, 8, 5]
    assert [r["fused_rank"] for r in rows] == [1, 2, 3]


def test_rrf_fuse_monotone_in_rank(spark):
    """A doc that improves its rank in either leg (others unchanged)
    never loses fused score; total ordering respects the reciprocal
    law 1/(c+r)."""
    from redpanda_to_parquet_writer_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame([(i, i) for i in range(1, 9)], "doc_id long, rank int")
    dense = spark.createDataFrame([(i, 9 - i) for i in range(1, 9)], "doc_id long, rank int")
    rows = rrf_fuse(lex, dense, "doc_id", k=8).collect()
    for r in rows:
        assert r["rrf"] == 1.0 / (60 + r["rank_a"]) + 1.0 / (60 + r["rank_b"])
    # symmetric legs: fused order is by total rank sum, ties by id
    sums = [(r["rank_a"] + r["rank_b"], r["doc_id"]) for r in rows]
    fused_order = [r["doc_id"] for r in sorted(rows, key=lambda r: r["fused_rank"])]
    # the best combined docs are the extremes (rank 1 in one leg)
    assert fused_order[0] in (1, 8)


def test_temperature_sample_rate_monotone_in_group_size(spark):
    """Larger groups must keep a smaller-or-equal FRACTION (the whole
    point of temperature flattening); every group's kept fraction is
    within binomial noise of sqrt(n_min/n_g)."""
    import math

    from redpanda_to_parquet_writer_spark.operators.sampling import temperature_sample

    sizes = {"a": 900, "b": 400, "c": 100}
    rows = [
        (ord(g) * 10000 + i, g) for g, n in sizes.items() for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    kept = temperature_sample(df, "grp", "doc_id").collect()
    frac = {g: 0 for g in sizes}
    for r in kept:
        frac[r["grp"]] += 1
    fracs = {g: frac[g] / sizes[g] for g in sizes}
    for g, n in sizes.items():
        expect = math.sqrt(100 / n)
        tol = 4 * math.sqrt(expect * (1 - expect) / n) + 1e-9  # 4-sigma
        assert abs(fracs[g] - expect) <= tol, (g, fracs[g], expect, tol)
    assert fracs["c"] == 1.0
    assert fracs["a"] <= fracs["b"] + 0.05 <= fracs["c"] + 0.05


def test_kmeans_rejects_nonpositive_iterations(spark):
    """ADVICE r7: n_iter < 1 used to fall through to an AttributeError
    on a None frame — it must be a clear validation error."""
    import pytest

    df = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="n_iter"):
        kmeans_lloyd_assign(df, "vec_id", "embedding", k=2, n_iter=0)
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        kmeans_lloyd_centroids,
    )

    with pytest.raises(ValueError, match="n_updates"):
        kmeans_lloyd_centroids(df, "vec_id", "embedding", k=2, n_updates=-1)


def test_kmeans_centroids_match_assign_trajectory(spark):
    """kmeans_lloyd_centroids(n_updates=N-1) must be exactly the
    centroid state kmeans_lloyd_assign(n_iter=N) assigns against — the
    factoring (VERDICT r7 #5) cannot drift the gated trajectory."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        _lloyd_assign_once,
        _as_double,
        kmeans_lloyd_centroids,
    )
    from pyspark.sql import functions as F

    pts = [(i, [float(i % 5), float((3 * i) % 7)]) for i in range(20)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    cents = kmeans_lloyd_centroids(df, "vec_id", "embedding", k=3, n_updates=1)
    v = df.select(F.col("vec_id"), _as_double(F.col("embedding")).alias("v"))
    via_parts = sorted(
        (r["vec_id"], r["cluster_id"], r["dist"])
        for r in _lloyd_assign_once(v, cents, "vec_id").collect()
    )
    via_assign = sorted(
        (r["vec_id"], r["cluster_id"], r["dist"])
        for r in kmeans_lloyd_assign(df, "vec_id", "embedding", k=3, n_iter=2).collect()
    )
    assert via_parts == via_assign


def test_kmeans_quantizer_recall_not_worse_aggregate(spark, sf_dir):
    """VERDICT r7 #5: on the audit's out-of-seed query window, the Lloyd
    quantizer's inverted lists must reach at least the deterministic
    quantizer's aggregate recall — the production-quantizer claim in
    ivf_topk's docstring, measured."""
    from redpanda_to_parquet_writer_spark.plans.vector_queries import (
        ann_kmeans_recall_audit,
    )

    rows = ann_kmeans_recall_audit(spark, sf_dir).collect()
    assert sum(r["n_matched_kmeans"] for r in rows) >= sum(
        r["n_matched_det"] for r in rows
    )
    assert all(r["n_exact"] == 3 for r in rows)


# --- bounded-sample codebook training (VERDICT r16 #4) ----------------------

def test_resolve_train_cap_contract():
    """None -> the FAISS-convention 256*k, 0 -> unbounded (None),
    n -> n, negative -> error."""
    import pytest

    from redpanda_to_parquet_writer_spark.operators.similarity import (
        _resolve_train_cap,
    )

    assert _resolve_train_cap(8, None) == 2048
    assert _resolve_train_cap(2000, None) == 512_000
    assert _resolve_train_cap(8, 0) is None
    assert _resolve_train_cap(8, 100) == 100
    with pytest.raises(ValueError, match="max_train_rows"):
        _resolve_train_cap(8, -1)


def test_train_cap_at_or_above_corpus_is_bitwise_identity(spark):
    """THE bitwise gate: a cap at or above the corpus size must
    reproduce the unbounded centroids exactly (the hash-ordered top-N
    passes every row through and the trainer is order-independent), so
    the default 256*k cap cannot move any frozen registry query at any
    test scale (2,048 >= the 2,000-vector sf0.1 fixture)."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        kmeans_lloyd_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    full = sorted(
        tuple(r)
        for r in kmeans_lloyd_centroids(
            emb, k=8, n_updates=2, max_train_rows=0
        ).collect()
    )
    for cap in (None, 500, 501):  # default 2048; == corpus; corpus + 1
        got = sorted(
            tuple(r)
            for r in kmeans_lloyd_centroids(
                emb, k=8, n_updates=2, max_train_rows=cap
            ).collect()
        )
        assert got == full, f"cap={cap}"


def test_sampled_training_trains_on_exactly_the_hash_ordered_sample(spark):
    """With cap < corpus the trainer must see exactly the cap lowest
    rows by (xxhash64(id), id): training the full frame capped equals
    training the independently-materialized sample unbounded — and is
    deterministic across calls."""
    from pyspark.sql import functions as F

    from redpanda_to_parquet_writer_spark.operators.similarity import (
        kmeans_lloyd_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    capped = sorted(
        tuple(r)
        for r in kmeans_lloyd_centroids(
            emb, k=8, n_updates=2, max_train_rows=100
        ).collect()
    )
    again = sorted(
        tuple(r)
        for r in kmeans_lloyd_centroids(
            emb, k=8, n_updates=2, max_train_rows=100
        ).collect()
    )
    assert capped == again
    sample_ids = [
        r["vec_id"]
        for r in emb.select("vec_id")
        .orderBy(F.xxhash64("vec_id").asc(), F.col("vec_id").asc())
        .limit(100)
        .collect()
    ]
    subset = emb.filter(F.col("vec_id").isin(sample_ids))
    on_subset = sorted(
        tuple(r)
        for r in kmeans_lloyd_centroids(
            subset, k=8, n_updates=2, max_train_rows=0
        ).collect()
    )
    assert capped == on_subset


def test_sampled_trained_lists_hit_the_deterministic_recall_floor(spark):
    """Property over a blob-corpus family (three seeds): inverted lists
    from a SAMPLE-trained codebook (cap < corpus) must still reach at
    least the deterministic (lowest-id) quantizer's aggregate recall
    against exact brute force — the sampled twin of the
    `ann_kmeans_recall_audit` floor."""
    import numpy as np

    from redpanda_to_parquet_writer_spark.operators.similarity import (
        brute_force_topk,
        deterministic_centroids,
        ivf_topk,
        kmeans_lloyd_centroids,
        materialize_centroids,
    )

    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        centers = rng.normal(0, 10, size=(4, 8))
        vecs = np.concatenate(
            [c + rng.normal(0, 1, size=(100, 8)) for c in centers]
        )
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        queries = df.filter((df.vec_id >= 200) & (df.vec_id < 210))
        kcents = kmeans_lloyd_centroids(
            df, k=4, n_updates=2, max_train_rows=128
        )
        dcents = materialize_centroids(
            deterministic_centroids(df, 4, "vec_id", "embedding")
        )
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in brute_force_topk(
                df, queries, "vec_id", "embedding", 3
            ).collect()
        }
        hits = {}
        for name, cents in (("kmeans", kcents), ("det", dcents)):
            got = {
                (r["query_id"], r["neighbor_id"])
                for r in ivf_topk(
                    df, queries, cents, "vec_id", "embedding", 3, 2
                ).collect()
            }
            hits[name] = len(got & exact)
        assert hits["kmeans"] >= hits["det"], (seed, hits)
        assert hits["kmeans"] >= int(0.9 * len(exact)), (seed, hits)


def test_lloyd_assign_edge_rows(spark):
    """NULL and ragged vectors land in the lowest cluster id with a
    NULL dist, an exact centroid hit gets dist 0, and an empty codebook
    (every cluster died) yields zero assignments."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        _lloyd_assign_once,
    )

    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])], "cluster_id int, cv array<double>"
    )
    v = spark.createDataFrame(
        [
            (1, [0.5, 0.5]),
            (2, [9.0, 9.0]),
            (3, None),
            (4, [1.0]),  # ragged
            (5, [0.0, 0.0]),  # exact centroid hit
        ],
        "vec_id long, v array<double>",
    )
    got = {
        r["vec_id"]: (r["cluster_id"], r["dist"])
        for r in _lloyd_assign_once(v, cents, "vec_id").collect()
    }
    assert got == {1: (0, 0.5), 2: (1, 2.0), 3: (0, None), 4: (0, None), 5: (0, 0.0)}

    empty = cents.limit(0)
    assert _lloyd_assign_once(v, empty, "vec_id").count() == 0
