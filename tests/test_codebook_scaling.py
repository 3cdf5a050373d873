"""The codebook-scaling contract (VERDICT r10 #4).

The sf10 campaign measured that indexed ANN serving tracks per-list
candidate volume (n_probe x corpus/k): a FIXED 16-centroid codebook let
serve time grow 0.28 -> 0.74s across 100x data, while k ∝ corpus
(k=160 at 200k vectors — lists of 1250) restored 0.215s at the same
n_probe (SCALING.md "codebook scaling"). `select_n_centroids` promotes
that measurement into a tested contract on the index-build path, and
`build_ivf_index` makes it the default build.

The decade test here replays the measured pair at 1/100 corpus size:
the sf0.1 embeddings fixture (2,000 vectors) and a synthesized 10x
disjoint-copy decade (20,000 vectors), with target_list_len at 1/10
(corpus /100, k /10 -> lists /10) so the selected k's are EXACTLY the
measured 16 -> 160.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.operators.similarity import (
    IVF_TARGET_LIST_LEN,
    build_ivf_index,
    select_n_centroids,
)

SF01 = "/root/testdata/sf0.1"


# --- the pure selection contract -------------------------------------------

def test_selects_the_measured_sf10_point():
    # the measurement the contract encodes: 200k vectors -> k=160
    assert select_n_centroids(200_000) == 160
    assert 200_000 / select_n_centroids(200_000) == IVF_TARGET_LIST_LEN


def test_mean_list_length_bounded_when_unclamped():
    for n in (5_001, 10_000, 123_457, 2_000_000, 81_000_000):
        k = select_n_centroids(n)
        assert n / k <= IVF_TARGET_LIST_LEN, (n, k)
        # ceil is tight: one fewer centroid would break the bound
        if k > 4:
            assert n / (k - 1) > IVF_TARGET_LIST_LEN, (n, k)


def test_k_tracks_the_corpus_across_decades():
    # proportionality is the whole point: 10x rows -> ~10x centroids
    for n in (10_000, 100_000, 1_000_000):
        k1, k10 = select_n_centroids(n), select_n_centroids(10 * n)
        assert 9 <= k10 / k1 <= 11, (n, k1, k10)


def test_clamps_and_validation():
    assert select_n_centroids(0) == 4          # k_min floor
    assert select_n_centroids(100) == 4        # tiny corpus -> k_min
    assert select_n_centroids(10**12) == 65536  # k_max ceiling
    assert select_n_centroids(100, k_min=1) == 1
    with pytest.raises(ValueError):
        select_n_centroids(-1)
    with pytest.raises(ValueError):
        select_n_centroids(10, target_list_len=0)
    with pytest.raises(ValueError):
        select_n_centroids(10, k_min=8, k_max=4)


# --- candidate volume stays bounded across a real decade -------------------

def _mean_list_len(spark, path: str) -> tuple[float, int]:
    sizes = (
        spark.read.parquet(path)
        .groupBy("cluster_id")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in sizes)
    return total / len(sizes), len(sizes)


def test_candidate_volume_bounded_across_decades(spark, tmp_path):
    """Build the index at two corpus decades with helper-selected k and
    assert the quantity serving cost tracks — list length — stays at
    the target instead of growing with the corpus (the fixed-k failure
    mode the sf10 probe measured)."""
    # the sf10 pair replayed at 1/100 corpus: lists shrink by 10 (corpus
    # /100, k /10), so 2000/16 = 20000/160 = 125 = IVF_TARGET_LIST_LEN/10
    target = IVF_TARGET_LIST_LEN // 10
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    n1 = emb.count()
    assert n1 == 2_000, "fixture moved; re-derive the decade arithmetic"

    # 10x disjoint-copy decade: same vectors, shifted ids (the scaling
    # fixture's construction — dedup/ANN structure is preserved)
    copies = [
        emb.select((F.col("vec_id") + F.lit(i * n1)).alias("vec_id"), "embedding")
        for i in range(10)
    ]
    emb10 = copies[0]
    for c in copies[1:]:
        emb10 = emb10.unionByName(c)

    stats = {}
    for name, df, n in (("sf0.1", emb, n1), ("sf1", emb10, 10 * n1)):
        k = select_n_centroids(n, target_list_len=target)
        cents = build_ivf_index(
            df,
            str(tmp_path / name),
            target_list_len=target,
            n_updates=0,  # init-only codebook: list geometry, not recall
        )
        mean_len, n_lists = _mean_list_len(spark, str(tmp_path / name))
        stats[name] = (k, mean_len, n_lists)

    (k1, mean1, lists1), (k10, mean10, lists10) = stats["sf0.1"], stats["sf1"]
    # the measured sf10 pair, replayed: 16 -> 160
    assert (k1, k10) == (16, 160)
    # mean list length (the per-probe candidate volume driver) is flat
    # across the decade — NOT 10x, which is what a fixed k would give
    assert mean10 <= 2 * mean1, stats
    # and both decades honor the contract's bound (empty clusters can
    # only shrink the mean below n/k; ceil guarantees n/k <= target)
    assert mean1 <= target and mean10 <= target, stats
    # the codebook really is the returned relation's size (snapshot
    # contract for append/serve)
    assert lists10 <= k10 and cents.count() == k10
    # contrast: the fixed-k failure mode this contract kills — at the
    # 10x corpus a frozen k=16 means 10x the per-probe candidates
    assert (10 * n1) / k1 >= 10 * target


# --- the persisted index serves the inline rows ---------------------------

SF001 = "/root/testdata/sf0.01"


def _bits(df) -> list[tuple]:
    # float.hex: bitwise, not approximate, equality on the scores
    return sorted(
        tuple(float(v).hex() if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


@pytest.mark.parametrize("encoding", ["vectors", "pq"])
def test_index_serves_inline_rows(spark, tmp_path, encoding):
    """`build_ivf_index` + `ivf_topk_indexed` must return the inline
    reference's rows BITWISE: `ivf_topk` for vector postings,
    `ivfadc_topk` for PQ-code postings (the ADC tail).

    The config makes the equality a guarantee, not a coincidence: with
    the default target the fixture selects k_min=4 centroids, the
    inline reference uses a 4-centroid codebook, and n_probe=4 covers
    them all — both paths score the full corpus (exact cosine, or ADC
    sums of the same codes), so any divergence is a bug in the
    assignment, the pruning, or the rank — ties and rounding order
    included — which is exactly what this pins."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        deterministic_centroids,
        ivf_topk,
        ivf_topk_indexed,
        ivfadc_topk,
        pq_codebooks,
        write_ivf_index,
    )
    from redpanda_to_parquet_writer_spark.plans.vector_queries import (
        EMB_DIM,
        PQ_KSUB,
        PQ_M,
    )

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = deterministic_centroids(emb, 4)
    pq = {}
    if encoding == "pq":
        cb = pq_codebooks(emb, PQ_M, PQ_KSUB, EMB_DIM)
        pq = {"pq_codebook": cb, "m": PQ_M, "dim": EMB_DIM}
        inline = ivfadc_topk(emb, queries, cents, cb, PQ_M, EMB_DIM, k=3, n_probe=4)
    else:
        inline = ivf_topk(emb, queries, cents, k=3, n_probe=4)
    book = build_ivf_index(emb, str(tmp_path / "idx"))
    assert book.count() == 4
    if pq:  # the same codebook, PQ codes instead of vectors
        write_ivf_index(emb, book, str(tmp_path / "idx"), **pq)
    served = _bits(
        ivf_topk_indexed(
            spark, str(tmp_path / "idx"), queries, book, k=3, n_probe=4, **pq
        )
    )
    assert len(served) == 15  # 5 queries x k=3, fully ranked
    assert served == _bits(inline)


def test_write_rejects_null_centroids_before_any_row(spark, tmp_path):
    """ADVICE r15 #3: a NULL centroid vector is caller error — the
    build must refuse it with a targeted message before any row of the
    index is written, while a well-formed codebook writes every row."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        write_ivf_index,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    ok = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cluster_id int, cv array<double>"
    )
    bad = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None)], "cluster_id int, cv array<double>"
    )
    with pytest.raises(ValueError, match="NULL centroid vectors"):
        write_ivf_index(emb, bad, str(tmp_path / "bad"))
    assert not (tmp_path / "bad").exists()
    write_ivf_index(emb, ok, str(tmp_path / "ok"))
    assert spark.read.parquet(str(tmp_path / "ok")).count() == 2
