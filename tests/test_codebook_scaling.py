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
        books = build_ivf_index(
            df,
            str(tmp_path / name),
            target_list_len=target,
            n_updates=0,  # init-only codebook: list geometry, not recall
        )
        assert sorted(books) == [0]  # far below the sharding boundary
        cents = books[0]
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


# --- sharding: the scale path PAST the k_max clamp (VERDICT r11 #4) --------

SF001 = "/root/testdata/sf0.01"


def _served(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("encoding", ["vectors", "pq"])
@pytest.mark.parametrize("n_shards", [1, 2, 3])
def test_index_serves_inline_rows_at_any_shard_count(
    spark, tmp_path, n_shards, encoding
):
    """`build_ivf_index` + `ivf_topk_indexed` must return the inline
    reference's rows BITWISE at every shard count: `ivf_topk` for vector
    postings, `ivfadc_topk` for PQ-code postings (the ADC tail).

    The config makes the equality a guarantee, not a coincidence: with
    the default target the fixture selects k_min=4 centroids per shard,
    the inline reference uses a 4-centroid codebook, and n_probe=4
    covers them all — both paths score the full corpus (exact cosine,
    or ADC sums of the same codes), so any divergence is a bug in the
    shard routing, the pruning, or the (salted) rank — ties and
    rounding order included — which is exactly what this pins."""
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
    books = build_ivf_index(emb, str(tmp_path / "idx"), n_shards=n_shards)
    assert sorted(books) == list(range(n_shards))
    if pq:  # the same codebooks, PQ codes instead of vectors
        write_ivf_index(emb, books, str(tmp_path / "idx"), **pq)
    served = _served(
        ivf_topk_indexed(
            spark, str(tmp_path / "idx"), queries, books, k=3, n_probe=4, **pq
        )
    )
    assert len(served) == 15  # 5 queries x k=3, fully ranked
    assert served == _served(inline), f"n_shards={n_shards} diverged from inline"


def test_sharded_codebooks_sized_by_their_own_shard(spark, tmp_path):
    """Each shard's codebook must size by the SHARD's row count (the
    point of sharding: per-shard k stays under the clamp while total
    capacity grows with shards), and each shard's lists must honor the
    target bound."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        _shard_router,
    )

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    target, n_shards = 25, 4
    books = build_ivf_index(
        emb,
        str(tmp_path / "sh"),
        n_shards=n_shards,
        target_list_len=target,
        n_updates=0,
    )
    shard_counts = {
        int(r["s"]): r["c"]
        for r in emb.groupBy(_shard_router("vec_id", n_shards).alias("s"))
        .count()
        .withColumnRenamed("count", "c")
        .collect()
    }
    assert sum(shard_counts.values()) == emb.count()  # partition, no loss
    total_k = 0
    for s, book in books.items():
        k = book.count()
        assert k == select_n_centroids(shard_counts[s], target_list_len=target), s
        mean_len, _ = _mean_list_len(spark, str(tmp_path / "sh" / f"shard={s}"))
        assert mean_len <= target, (s, mean_len)
        total_k += k
    # total quantizer capacity grows with shards — a single codebook at
    # the same target would need select_n_centroids(n) in ONE codebook;
    # sharding spreads it (ceil per shard can only add centroids)
    assert total_k >= select_n_centroids(emb.count(), target_list_len=target)


def test_shard_router_rejects_bad_counts():
    with pytest.raises(ValueError):
        build_ivf_index(None, "/tmp/x", n_shards=0)


def test_sharded_append_equals_rebuild(spark, tmp_path):
    """`write_ivf_index(mode="append")` must route with the build's
    router and assign under each shard's frozen codebook: building on
    80% of the fixture, then appending the remaining 20%, must serve the
    SAME rows as a from-scratch write over the full corpus with the SAME
    codebooks (same frozen quantizer => same assignments => same
    directories — the append contract, per shard)."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        ivf_topk_indexed,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    n = emb.count()
    head = emb.filter(F.col("vec_id") < int(n * 0.8))
    tail = emb.filter(F.col("vec_id") >= int(n * 0.8))
    assert tail.count() > 0
    queries = emb.limit(5)
    n_shards = 2

    books = build_ivf_index(head, str(tmp_path / "grown"), n_shards=n_shards)
    write_ivf_index(tail, books, str(tmp_path / "grown"), "append")

    # rebuild over the full corpus under the SAME (frozen) codebooks
    write_ivf_index(emb, books, str(tmp_path / "rebuilt"), "overwrite")

    grown = _served(
        ivf_topk_indexed(
            spark, str(tmp_path / "grown"), queries, books, k=3, n_probe=4
        )
    )
    rebuilt = _served(
        ivf_topk_indexed(
            spark, str(tmp_path / "rebuilt"), queries, books, k=3, n_probe=4
        )
    )
    assert grown == rebuilt and len(grown) == 15


def test_sharded_append_rejects_sparse_codebook_dict():
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        write_ivf_index,
    )

    with pytest.raises(ValueError):
        write_ivf_index(None, {}, "/tmp/x", "append")
    with pytest.raises(ValueError):
        write_ivf_index(None, {0: None, 2: None}, "/tmp/x", "append")


# --- the sharding contract: select_n_shards (VERDICT r12 #5) ----------------

def test_select_n_shards_contract():
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        select_n_shards,
    )

    cap = 65536 * IVF_TARGET_LIST_LEN  # ~82M at the defaults
    # flat below the clamp boundary, sharded above — the exact boundary
    assert select_n_shards(0) == 1
    assert select_n_shards(cap) == 1
    assert select_n_shards(cap + 1) == 2
    assert select_n_shards(10 * cap) == 10
    with pytest.raises(ValueError):
        select_n_shards(-1)
    with pytest.raises(ValueError):
        select_n_shards(10, target_list_len=0)
    with pytest.raises(ValueError):
        select_n_shards(10, k_max=0)


def test_select_n_shards_keeps_per_shard_k_under_clamp():
    """The property sharding exists for, property-tested across the
    boundary: for ANY corpus size, the expected per-shard row count
    n/n_shards keeps that shard's select_n_centroids UNDER its clamp —
    so lists stay at target length no matter how big the corpus."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from redpanda_to_parquet_writer_spark.operators.similarity import (
        select_n_shards,
    )

    @settings(max_examples=300, deadline=None)
    @given(
        n=st.integers(min_value=0, max_value=10**13),
        target=st.integers(min_value=1, max_value=5000),
        k_max=st.integers(min_value=1, max_value=100_000),
    )
    def check(n, target, k_max):
        s = select_n_shards(n, target, k_max)
        assert s >= 1
        per_shard = -(-n // s)  # ceil: the heaviest shard's expected load
        k = select_n_centroids(per_shard, target, k_min=1, k_max=k_max)
        # unclamped k for the per-shard load never exceeds k_max…
        assert -(-per_shard // target) <= k_max, (n, target, k_max, s)
        # …so per-shard mean list length honors the target
        assert per_shard / max(k, 1) <= target or per_shard <= target, (
            n, target, k_max, s, k,
        )
        # and sharding is minimal: one fewer shard would break the cap
        if s > 1:
            assert n > (s - 1) * k_max * target, (n, target, k_max, s)

    check()


def test_select_chunk_shards_keeps_every_chunk_under_budget():
    """The chunk-sizing contract (VERDICT r14 #4), property-tested
    across the broadcast boundary: for ANY per-shard codebook sizes the
    selected chunking keeps EVERY possible chunk's combined codebook
    bytes inside the budget, and is maximal (one more shard per chunk
    would break it, unless all shards already fit in one chunk)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from redpanda_to_parquet_writer_spark.operators.similarity import (
        select_chunk_shards,
    )

    @settings(max_examples=300, deadline=None)
    @given(
        counts=st.lists(
            st.integers(min_value=0, max_value=65536), min_size=1, max_size=64
        ),
        dim=st.integers(min_value=1, max_value=4096),
        budget=st.integers(min_value=1, max_value=8 * 1024**3),
    )
    def check(counts, dim, budget):
        import pytest

        shard_centroids = dict(enumerate(counts))
        max_bytes = max(counts) * dim * 8
        if max_bytes > budget:
            # even one-shard chunks cannot fit: explicit refusal, never
            # a silently over-budget broadcast
            with pytest.raises(ValueError, match="over the"):
                select_chunk_shards(shard_centroids, dim, budget)
            return
        c = select_chunk_shards(shard_centroids, dim, budget)
        assert 1 <= c <= len(counts)
        if max_bytes == 0:
            assert c == len(counts)  # all-empty: one chunk serves all
            return
        # EVERY window of c shards fits (worst window <= c * max)
        assert c * max_bytes <= budget, (counts, dim, budget, c)
        # and the chunking is maximal
        if c < len(counts):
            assert (c + 1) * max_bytes > budget, (counts, dim, budget, c)

    check()


def test_chunk_fanout_workers_respect_broadcast_envelope():
    """`_select_chunk_workers` (r15 — the scale bound on the thread
    fan-out itself): concurrent chunk preps each hold their chunk's
    codebook broadcast live, so workers × worst_chunk_bytes must stay
    inside the one-shot serve's own 8 GiB broadcast envelope — tiny
    codebooks keep full overlap, budget-sized chunks serialize down,
    and the floor is the serial loop (1), never a refusal."""
    import pytest

    from redpanda_to_parquet_writer_spark.operators.similarity import (
        BROADCAST_TABLE_CEILING_BYTES as CEIL,
    )
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        _select_chunk_workers,
    )

    # tiny codebooks: full 8-way overlap (bounded by chunk count)
    assert _select_chunk_workers(1024, 20) == 8
    assert _select_chunk_workers(1024, 3) == 3
    assert _select_chunk_workers(0, 5) == 5  # empty codebooks
    # budget-sized chunks (default budget = CEIL // 2): exactly 2 fit
    assert _select_chunk_workers(CEIL // 2, 20) == 2
    # chunks at the full ceiling: serial, never 0
    assert _select_chunk_workers(CEIL, 20) == 1
    assert _select_chunk_workers(CEIL * 3, 20) == 1
    # the envelope invariant across a sweep of sizes
    for bytes_ in (1, 10**6, 10**9, CEIL // 3, CEIL - 1):
        w = _select_chunk_workers(bytes_, 20)
        assert 1 <= w <= 8 and (w == 1 or w * bytes_ <= CEIL)
    with pytest.raises(ValueError, match="n_chunks"):
        _select_chunk_workers(1024, 0)


def test_chunked_serve_self_sizes_within_budget(spark, tmp_path, monkeypatch):
    """`chunk_shards=None` (the default) must self-size from the ACTUAL
    codebook sizes: the default budget admits everything (one chunk =
    the one-shot plan), a budget of exactly 2 max-shard codebooks forces
    2-shard chunks, and either way the served rows stay BITWISE equal to
    the one-shot serve."""
    from redpanda_to_parquet_writer_spark.operators import similarity as sim
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        ivf_topk_indexed,
        select_chunk_shards,
    )

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    queries = emb.limit(5)
    n_shards = 4
    books = build_ivf_index(emb, str(tmp_path / "sh"), n_shards=n_shards)
    base = _served(
        ivf_topk_indexed(
            spark, str(tmp_path / "sh"), queries, books, k=3, n_probe=4,
            chunk_shards=n_shards,
        )
    )

    counts = {s: books[s].count() for s in books}
    dim = len(books[0].select("cv").first()["cv"])
    max_bytes = max(counts.values()) * dim * 8

    # default budget: everything fits -> the contract picks one chunk
    assert select_chunk_shards(counts, dim) == n_shards
    got_default = _served(
        ivf_topk_indexed(spark, str(tmp_path / "sh"), queries, books, k=3, n_probe=4)
    )
    assert got_default == base

    # a budget of exactly two max-shard codebooks forces 2-shard chunks
    assert select_chunk_shards(counts, dim, 2 * max_bytes) == 2
    chosen = []

    def _two_codebook_budget(counts_, dim_):
        chosen.append(select_chunk_shards(counts_, dim_, 2 * max_bytes))
        return chosen[-1]

    monkeypatch.setattr(sim, "select_chunk_shards", _two_codebook_budget)
    got_forced = _served(
        ivf_topk_indexed(spark, str(tmp_path / "sh"), queries, books, k=3, n_probe=4)
    )
    assert chosen == [2]
    assert got_forced == base


def test_auto_sharded_escalates_across_the_boundary(spark, tmp_path, monkeypatch):
    """`build_ivf_index(n_shards=None)` must stay FLAT (one shard, one
    codebook) below k_max * target_list_len rows and shard past it —
    exercised on the 500-row fixture by shrinking the boundary. The
    1-shard auto layout must serve BITWISE what the inline `ivf_topk`
    serves under the same codebook (the degenerate shard is the flat
    plan plus a shard predicate)."""
    from redpanda_to_parquet_writer_spark.operators import similarity as sim
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    queries = emb.limit(5)

    # below the boundary (defaults: cap ~82M >> 500) -> flat, 1 shard
    books = build_ivf_index(emb, str(tmp_path / "auto_flat"))
    assert sorted(books) == [0]
    served_1 = _served(
        ivf_topk_indexed(
            spark, str(tmp_path / "auto_flat"), queries, books, k=3, n_probe=4
        )
    )
    served_flat = _served(ivf_topk(emb, queries, books[0], k=3, n_probe=4))
    assert served_1 == served_flat and len(served_1) == 15

    # past the boundary (cap = k_max * target = 10 * 10 = 100 < 500
    # rows) -> escalates to ceil(500/100) = 5 shards, each with its own
    # codebook sized by its shard
    select_n_shards = sim.select_n_shards
    monkeypatch.setattr(
        sim, "select_n_shards", lambda n, t: select_n_shards(n, t, k_max=10)
    )
    books5 = build_ivf_index(
        emb,
        str(tmp_path / "auto_sharded"),
        target_list_len=10,
        n_updates=0,
    )
    assert sorted(books5) == list(range(5))
    served_5 = ivf_topk_indexed(
        spark, str(tmp_path / "auto_sharded"), queries, books5, k=3, n_probe=4
    )
    assert served_5.count() == 15


def test_chunked_serve_equals_unchunked(spark, tmp_path):
    """Chunked serving (`chunk_shards` — the escalation past the
    combined-codebook broadcast ceiling) must serve BITWISE what the
    one-chunk serve serves, at every chunking: per-chunk top-k is a row
    bound (selection decomposes over any partition of the shards),
    per-chunk scores stay unrounded into the global re-rank, and
    chunk_shards >= n_shards degenerates to the one-chunk plan."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        ivf_topk_indexed,
    )

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    queries = emb.limit(5)
    n_shards = 4
    books = build_ivf_index(emb, str(tmp_path / "sh"), n_shards=n_shards)

    base = _served(
        ivf_topk_indexed(spark, str(tmp_path / "sh"), queries, books, k=3, n_probe=4)
    )
    assert len(base) == 15
    for chunk_shards in (1, 2, 4, 7):
        got = _served(
            ivf_topk_indexed(
                spark,
                str(tmp_path / "sh"),
                queries,
                books,
                k=3,
                n_probe=4,
                chunk_shards=chunk_shards,
            )
        )
        assert got == base, chunk_shards


def test_chunked_rerank_orders_sub_rounding_near_ties(spark, tmp_path):
    """The chunked serve's WHY-unrounded gate: two candidates in
    DIFFERENT shards whose sims differ by ~2e-7 (both round to the same
    6-decimal value), with the higher unrounded sim on the HIGHER
    neighbor id. The unchunked serve ranks the higher-sim candidate
    first; a chunked re-rank over ROUNDED per-chunk sims would see a
    tie and flip the order to the lower id. `_rank_topk(final=False)`
    must keep the unchunked order across chunks."""
    import math

    from pyspark.sql import functions as F

    from redpanda_to_parquet_writer_spark.operators.similarity import (
        ivf_topk_indexed,
    )

    # pick two ids the router sends to DIFFERENT shards (n_shards=2)
    ids = spark.range(10, 40).select(
        F.col("id"), F.pmod(F.xxhash64(F.col("id")), F.lit(2)).alias("s")
    ).collect()
    shard0 = [int(r["id"]) for r in ids if r["s"] == 0]
    shard1 = [int(r["id"]) for r in ids if r["s"] == 1]
    # id_hi > id_lo AND cos(id_hi) > cos(id_lo): rounded tie-break
    # (id asc) would WRONGLY put id_lo first
    id_lo, id_hi = min(shard0[0], shard1[0]), max(shard0[0], shard1[0])

    q = [1.0, 0.0, 0.0, 0.0]
    eps_lo = math.sqrt(6e-7)  # cos ≈ 1 - 3e-7
    eps_hi = math.sqrt(2e-7)  # cos ≈ 1 - 1e-7  (closer to q)
    rows = [
        (0, q),
        (id_lo, [1.0, eps_lo, 0.0, 0.0]),
        (id_hi, [1.0, eps_hi, 0.0, 0.0]),
    ]
    # orthogonal-ish fillers so both shards hold several rows
    rows += [(100 + j, [0.0, 1.0, float(j), 1.0]) for j in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    books = build_ivf_index(emb, str(tmp_path / "idx"), n_shards=2, n_updates=0)
    queries = emb.filter(F.col("vec_id") == 0)
    base = ivf_topk_indexed(
        spark, str(tmp_path / "idx"), queries, books, k=2, n_probe=4
    ).collect()
    order = [r["neighbor_id"] for r in sorted(base, key=lambda r: r["rank"])]
    assert order == [id_hi, id_lo]  # unrounded sims decide, not the ids
    assert base[0]["sim"] == base[1]["sim"]  # …and they ROUND equal
    chunked = ivf_topk_indexed(
        spark, str(tmp_path / "idx"), queries, books, k=2, n_probe=4, chunk_shards=1
    ).collect()
    assert sorted(map(tuple, chunked)) == sorted(map(tuple, base))


def test_chunked_serve_reliable_matches_default(spark, tmp_path):
    """`reliable=True` through the THREADED chunked serve (r15): each
    chunk's probe materialization becomes a persist -> checkpoint ->
    unpersist bracket, and the thread fan-out runs those brackets
    CONCURRENTLY against the shared SparkContext — the one corner where
    the fan-out could bite. Materialization strategy is not part of the
    query semantics: rows must match the default-localCheckpoint serve
    bitwise."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        ivf_topk_indexed,
    )

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    queries = emb.limit(5)
    books = build_ivf_index(emb, str(tmp_path / "sh"), n_shards=4)
    base = _served(
        ivf_topk_indexed(
            spark, str(tmp_path / "sh"), queries, books, k=3, n_probe=4, chunk_shards=2
        )
    )
    assert len(base) == 15
    sc = spark.sparkContext
    old = sc.getCheckpointDir()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        durable = _served(
            ivf_topk_indexed(
                spark,
                str(tmp_path / "sh"),
                queries,
                books,
                k=3,
                n_probe=4,
                reliable=True,
                chunk_shards=2,
            )
        )
    finally:
        if old is not None:
            sc.setCheckpointDir(old)
    assert durable == base


def test_sharded_serve_is_one_pruned_scan(spark, tmp_path):
    """The serve of a sharded index (VERDICT r12 #1) must plan ONE index
    scan whose PartitionFilters carry BOTH partition levels (shard and
    cluster_id) — not one scan per shard — so the fixed serve costs are
    paid once regardless of n_shards."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        ivf_topk_indexed,
    )

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    queries = emb.limit(3)
    books = build_ivf_index(emb, str(tmp_path / "sh"), n_shards=4)
    df = ivf_topk_indexed(
        spark, str(tmp_path / "sh"), queries, books, k=3, n_probe=2
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one scan of the index directory tree
    assert plan.count("FileScan parquet") == 1, plan[:3000]
    pf_at = plan.index("PartitionFilters")
    pf = plan[pf_at : pf_at + 400]
    assert "shard" in pf and "cluster_id" in pf, pf
    # and the result is still fully ranked
    assert df.count() == 9


# --- the codebook-stats sidecar (VERDICT r15 #1) ----------------------------

def _sidecar_payload(path):
    import json
    import pathlib

    f = pathlib.Path(path) / "_codebook_stats.json"
    assert f.exists(), f"sidecar missing at {f}"
    return json.loads(f.read_text())


def test_build_persists_codebook_stats_sidecar(spark, tmp_path):
    """`build_ivf_index` must persist {shard: n_centroids} +
    dim next to the layout — the stats it already has — and the
    underscore-prefixed sidecar must stay invisible to the index
    scan's file listing."""
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    idx = str(tmp_path / "idx")
    books = build_ivf_index(emb, idx, n_shards=3)

    payload = _sidecar_payload(idx)
    assert payload["counts"] == {str(s): books[s].count() for s in books}
    assert payload["dim"] == len(books[0].select("cv").first()["cv"])
    # hidden-file convention: the parquet scan never sees the sidecar
    assert spark.read.parquet(idx).count() == emb.count()


def test_chunked_serve_self_sizes_from_sidecar_without_a_job(
    spark, tmp_path, monkeypatch
):
    """With the sidecar present, `chunk_shards=None` must NOT run the
    ~2s stats aggregate (the r15 structural leftover) — and must still
    serve bitwise what the one-shot serve returns. Removing the
    sidecar falls back to the job, same rows."""
    from redpanda_to_parquet_writer_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    queries = emb.limit(5)
    idx = str(tmp_path / "idx")
    books = sim.build_ivf_index(emb, idx, n_shards=4)
    base = _served(
        sim.ivf_topk_indexed(
            spark, idx, queries, books, k=3, n_probe=4, chunk_shards=4
        )
    )

    def _boom(codebooks):
        raise AssertionError("stats job must not run when the sidecar exists")

    monkeypatch.setattr(sim, "_codebook_stats", _boom)
    got = _served(
        sim.ivf_topk_indexed(
            spark, idx, queries, books, k=3, n_probe=4
        )
    )
    assert got == base

    # sidecar gone -> the bounded job takes over
    calls = []
    monkeypatch.undo()
    orig = sim._codebook_stats

    def _spy(codebooks):
        calls.append(sorted(codebooks))
        return orig(codebooks)

    monkeypatch.setattr(sim, "_codebook_stats", _spy)
    (tmp_path / "idx" / "_codebook_stats.json").unlink()
    got_fallback = _served(
        sim.ivf_topk_indexed(
            spark, idx, queries, books, k=3, n_probe=4
        )
    )
    assert got_fallback == base
    assert calls == [[0, 1, 2, 3]]


def test_append_backfills_a_missing_sidecar(spark, tmp_path):
    """Appends never change the frozen codebooks, so an existing
    sidecar stays correct; appending to a PRE-sidecar index must
    backfill it with the true counts."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    idx = str(tmp_path / "idx")
    books = build_ivf_index(emb, idx, n_shards=2)
    before = _sidecar_payload(idx)

    batch = emb.limit(10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    # sidecar'd index: append leaves it untouched-and-correct
    write_ivf_index(batch, books, idx, "append")
    assert _sidecar_payload(idx) == before

    # pre-sidecar index: append backfills the same stats
    (tmp_path / "idx" / "_codebook_stats.json").unlink()
    batch2 = emb.limit(10).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
    )
    write_ivf_index(batch2, books, idx, "append")
    assert _sidecar_payload(idx) == before


def test_stats_job_names_shards_with_null_centroids(spark):
    """ADVICE r15 #3: a NULL centroid vector must raise a targeted
    error naming the bad shard, not let F.size(NULL) drive a confusing
    'dim must be >= 1' out of select_chunk_shards."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        _codebook_stats,
    )

    ok = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cluster_id int, cv array<double>"
    )
    bad = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None)], "cluster_id int, cv array<double>"
    )
    assert _codebook_stats({0: ok}) == ({0: 2}, 2)
    with pytest.raises(ValueError, match=r"shards \[1\] contain NULL"):
        _codebook_stats({0: ok, 1: bad})


def test_explicit_chunking_feeds_actual_bytes_to_the_worker_bound(
    spark, tmp_path, monkeypatch
):
    """ADVICE r15 #2: the fan-out width bound must see ACTUAL
    worst-chunk bytes on the explicit-chunk_shards path — from the
    sidecar when present, else measured (`_codebook_stats`)."""
    from redpanda_to_parquet_writer_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    queries = emb.limit(3)
    idx = str(tmp_path / "idx")
    books = sim.build_ivf_index(emb, idx, n_shards=4)
    payload = _sidecar_payload(idx)
    dim = payload["dim"]
    counts = {int(s): n for s, n in payload["counts"].items()}

    seen = []
    orig = sim._select_chunk_workers

    def _spy(worst_chunk_bytes, n_chunks, cap=8):
        seen.append((worst_chunk_bytes, n_chunks))
        return orig(worst_chunk_bytes, n_chunks, cap)

    monkeypatch.setattr(sim, "_select_chunk_workers", _spy)
    sim.ivf_topk_indexed(
        spark, idx, queries, books, k=3, n_probe=4, chunk_shards=2
    ).write.mode("overwrite").format("noop").save()
    # chunks of 2 shards each over 4 shards -> worst chunk = the larger
    # 2-shard codebook sum, from the SIDECAR's counts
    expect = max(
        (counts[0] + counts[1]) * dim * 8, (counts[2] + counts[3]) * dim * 8
    )
    assert seen == [(expect, 2)]

    # sidecar-less explicit serve: the codebooks are measured instead
    seen.clear()
    (tmp_path / "idx" / "_codebook_stats.json").unlink()
    sim.ivf_topk_indexed(
        spark, idx, queries, books, k=3, n_probe=4, chunk_shards=2
    ).write.mode("overwrite").format("noop").save()
    assert seen == [(expect, 2)]


def test_corrupt_sidecar_falls_back_to_the_stats_job(spark, tmp_path):
    """A corrupt or truncated sidecar must never fail a serve — the
    reader returns None and `_codebook_stats` takes over, rows
    unchanged."""
    from redpanda_to_parquet_writer_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    queries = emb.limit(3)
    idx = str(tmp_path / "idx")
    books = sim.build_ivf_index(emb, idx, n_shards=2)
    base = _served(
        sim.ivf_topk_indexed(
            spark, idx, queries, books, k=3, n_probe=4, chunk_shards=2
        )
    )
    for garbage in ["not json {", '{"dim": 0, "counts": {"0": 5}}',
                    '{"dim": 4, "counts": {"0": -1}}']:
        (tmp_path / "idx" / "_codebook_stats.json").write_text(garbage)
        assert sim._read_codebook_sidecar(spark, idx) is None
        got = _served(
            sim.ivf_topk_indexed(
                spark, idx, queries, books, k=3, n_probe=4
            )
        )
        assert got == base


# --- r16 code-review hardening ----------------------------------------------

def test_sidecar_write_failure_does_not_fail_the_build(
    spark, tmp_path, monkeypatch
):
    """The sidecar is an optimization: a transient failure of its small
    driver-side write must not fail an otherwise-complete build —
    serving just measures the codebooks itself."""
    from redpanda_to_parquet_writer_spark.operators import similarity as sim

    def _boom(spark_, index_path):
        raise OSError("simulated transient FS failure")

    monkeypatch.setattr(sim, "_sidecar_jpath", _boom)
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    idx = str(tmp_path / "idx")
    # the degradation must be OBSERVABLE (VERDICT r16 #3): a persistent
    # FS failure otherwise silently costs every self-sized serve a job
    # forever with nothing in any log to say why
    with pytest.warns(RuntimeWarning, match="sidecar write failed"):
        books = sim.build_ivf_index(emb, idx, n_shards=2)
    assert sorted(books) == [0, 1]
    import os
    assert not os.path.exists(f"{idx}/_codebook_stats.json")
    # the serve works regardless (it measures the codebooks)
    queries = emb.limit(3)
    monkeypatch.undo()
    assert (
        sim.ivf_topk_indexed(spark, idx, queries, books, k=3, n_probe=4).count()
        == 9
    )


def test_sidecar_write_is_atomic_and_overwrites_cleanly(spark, tmp_path):
    """ADVICE r16 #3: the sidecar lands via temp-name + rename, so no
    .tmp residue survives a successful write, and a rebuild's write
    replaces an existing (stale) sidecar with the new payload."""
    from redpanda_to_parquet_writer_spark.operators import similarity as sim

    idx = tmp_path / "idx"
    idx.mkdir()
    final = idx / "_codebook_stats.json"
    final.write_text('{"dim": 99, "counts": {"0": 99}}')  # stale rebuild victim
    sim._write_codebook_sidecar(spark, str(idx), {0: 5, 1: 7}, 4)
    assert _sidecar_payload(str(idx)) == {
        "dim": 4,
        "counts": {"0": 5, "1": 7},
    }
    assert not (idx / "._codebook_stats.json.tmp").exists()


def test_failed_sidecar_overwrite_removes_the_stale_sidecar(spark, tmp_path):
    """ADVICE r16 #2: a rebuild whose sidecar write fails must not
    leave the OLD sidecar describing the NEW index — stale counts would
    mis-size chunk_shards and the fan-out's broadcast envelope. The
    failure path deletes whatever sidecar remains (serves fall back to
    the bounded stats job, which is always correct)."""
    from redpanda_to_parquet_writer_spark.operators import similarity as sim

    idx = tmp_path / "idx"
    idx.mkdir()
    final = idx / "_codebook_stats.json"
    final.write_text('{"dim": 2, "counts": {"0": 4}}')  # the pre-rebuild sidecar
    # natural failure injection: a non-empty DIRECTORY squatting on the
    # temp name makes fs.create(tmp, overwrite) throw
    (idx / "._codebook_stats.json.tmp" / "blocker").mkdir(parents=True)
    with pytest.warns(RuntimeWarning, match="sidecar write failed"):
        sim._write_codebook_sidecar(spark, str(idx), {0: 5}, 4)
    assert not final.exists(), "stale sidecar must not survive a failed overwrite"
    assert sim._read_codebook_sidecar(spark, str(idx)) is None


def test_append_backfill_failure_does_not_fail_the_append(
    spark, tmp_path, monkeypatch
):
    """ADVICE r16 #1: on a sidecar-less index, the append's backfill
    measures the codebooks AFTER the rows have durably landed — a
    failure there (transient Spark, or the targeted NULL-centroid
    error) must not fail the append (a retry would double-append the
    batch)."""
    from redpanda_to_parquet_writer_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    idx = str(tmp_path / "idx")
    books = sim.build_ivf_index(emb, idx, n_shards=2)
    n_built = spark.read.parquet(idx).count()
    (tmp_path / "idx" / "_codebook_stats.json").unlink()  # pre-sidecar index

    def _boom(codebooks):
        raise RuntimeError("simulated stats-job failure")

    monkeypatch.setattr(sim, "_codebook_stats", _boom)
    # caller-reconstructed codebooks (e.g. reloaded from a snapshot)
    rebuilt = {s: b.select("cluster_id", "cv") for s, b in books.items()}
    batch = emb.limit(10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    with pytest.warns(RuntimeWarning, match="sidecar backfill failed"):
        sim.write_ivf_index(batch, rebuilt, idx, "append")
    assert spark.read.parquet(idx).count() == n_built + 10
    assert sim._read_codebook_sidecar(spark, idx) is None


def test_chunked_serve_accepts_str_shard_keys(spark, tmp_path):
    """A codebook snapshot round-tripped through JSON metadata comes
    back with str keys ('0', '1', ...). The serve's stats plumbing must
    index by the caller's ORIGINAL keys on every path (sidecar,
    fallback job, worst-chunk bytes) instead of KeyError'ing."""
    from redpanda_to_parquet_writer_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    queries = emb.limit(5)
    idx = str(tmp_path / "idx")
    books = sim.build_ivf_index(emb, idx, n_shards=4)
    base = _served(
        sim.ivf_topk_indexed(
            spark, idx, queries, books, k=3, n_probe=4, chunk_shards=4
        )
    )
    str_books = {str(s): df for s, df in books.items()}
    # explicit multi-chunk with the sidecar present (the r16 regression
    # shape), self-sized with sidecar, and self-sized via the fallback job
    for kwargs in ({"chunk_shards": 2}, {}):
        got = _served(
            sim.ivf_topk_indexed(
                spark, idx, queries, str_books, k=3, n_probe=4, **kwargs
            )
        )
        assert got == base, kwargs
    (tmp_path / "idx" / "_codebook_stats.json").unlink()
    got = _served(
        sim.ivf_topk_indexed(
            spark, idx, queries, str_books, k=3, n_probe=4
        )
    )
    assert got == base


def test_codebook_stats_dim_is_max_over_rows(spark):
    """The one source of codebook sizes (`_codebook_stats`) must take
    dim as the MAX over rows so a short first vector cannot understate
    the sidecar's bytes."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        _codebook_stats,
    )

    cb = spark.createDataFrame(
        [(0, [1.0]), (1, [0.0, 1.0, 2.0])], "cluster_id int, cv array<double>"
    )
    assert _codebook_stats({0: cb}) == ({0: 2}, 3)
