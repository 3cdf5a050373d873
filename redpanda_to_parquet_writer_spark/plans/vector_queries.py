"""Embedding similarity plans over the `embeddings` table, paired with
DuckDB oracles.

Floating-point discipline: embeddings are float32 on disk; both engines
cast to double BEFORE any arithmetic and results round to 6 decimals, so
summation-order differences can't flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.functions.ratio import exact_ratio
from redpanda_to_parquet_writer_spark.operators import similarity as S
from redpanda_to_parquet_writer_spark.sources.parquet import load_table

TOPK_K = 3
N_QUERY_VECS = 5
NEARDUP_THRESHOLD = 0.2

# DuckDB-side exact dot/norm over DOUBLE[] (explicit lambda arithmetic
# rather than list_cosine_similarity, which computes in float32)
_DOT = (
    "list_sum(list_transform(generate_series(1, len(av)), i -> av[i] * bv[i]))"
)
_NORM_A = "sqrt(list_sum(list_transform(av, x -> x * x)))"
_NORM_B = "sqrt(list_sum(list_transform(bv, x -> x * x)))"


def _cos(a: str, b: str) -> str:
    """Inline DuckDB cosine(a, b) over DOUBLE[] columns, same fold order
    as the Spark `aggregate` implementation. NULLIF mirrors Spark's
    `try_divide` contract: a zero-norm vector yields NULL similarity on
    both engines (DuckDB would otherwise return inf/nan)."""
    return (
        f"(list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))"
        f" / NULLIF(sqrt(list_sum(list_transform({a}, x -> x * x)))"
        f" * sqrt(list_sum(list_transform({b}, x -> x * x))), 0))"
    )


#: per-process registry of built serving indexes, keyed by
#: (index kind, sf_dir): repeated invocations of an indexed query —
#: the bench warms then times, --scaling sweeps every SF, tests rerun —
#: REUSE one TemporaryDirectory instead of leaking a fresh full-corpus
#: index into /tmp per call (code-review r7 finding). Cross-process
#: isolation is preserved (each process gets its own mkdtemp), and the
#: TemporaryDirectory objects clean themselves up at interpreter exit.
_INDEX_DIRS: dict = {}


def _sf_fingerprint(sf_dir: str) -> tuple:
    """Cheap content fingerprint of the fixture dir (total size + newest
    mtime of its parquet files): if fixture data under sf_dir is
    regenerated within a process, the cached index must NOT silently
    serve the stale rows (ADVICE r7)."""
    import os

    total, newest = 0, 0
    for dirpath, _dirs, files in os.walk(sf_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, fn))
                total += st.st_size
                newest = max(newest, st.st_mtime_ns)
    return (total, newest)


def _cached_index(kind: str, sf_dir: str, build, params: tuple = ()) -> str:
    """Per-process registry of built serving indexes. The key carries the
    fixture fingerprint and the caller's build parameters, so (a) fixture
    regeneration invalidates the cache and (b) two queries sharing a
    `kind` (e.g. ann_ivfadc_indexed_topk / ann_ivfadc_recall_audit) can
    never serve each other stale rows if their build inputs ever diverge
    (ADVICE r7)."""
    import tempfile

    key = (kind, sf_dir, _sf_fingerprint(sf_dir), params)
    if key not in _INDEX_DIRS:
        tmp = tempfile.TemporaryDirectory(prefix=f"{kind}_")
        build(f"{tmp.name}/index")
        _INDEX_DIRS[key] = tmp
    return f"{_INDEX_DIRS[key].name}/index"


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return S.brute_force_topk(emb, queries, "vec_id", "embedding", TOPK_K)


IVF_CENTROIDS = 16
IVF_PROBE = 4


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF scale path: deterministic coarse quantizer so the oracle can
    replay the exact plan; recall-vs-brute-force is property-tested
    separately with seeded KMeans centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = S.deterministic_centroids(emb, IVF_CENTROIDS, "vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return S.ivf_topk(emb, queries, centroids, "vec_id", "embedding", TOPK_K, IVF_PROBE)


def ann_ivf_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over a PERSISTED cluster-partitioned index — the
    production ANN serving shape: `write_ivf_index` writes the inverted
    lists once (partitionBy cluster_id), then the probe reads ONLY
    the probed clusters via literal partition pruning (PartitionFilters in
    the plan, asserted in tests/test_plan_quality.py). Same semantics as
    `ann_ivf_topk`, gated by the identical oracle — at corpus scale the
    index is built once and each query batch touches
    n_probe/n_centroids of it.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # materialize the codebook ONCE and hand the local relation to both
    # the builder and the probe (each would otherwise re-collect it,
    # replaying the centroid-seed scan)
    centroids = S.materialize_centroids(
        S.deterministic_centroids(emb, IVF_CENTROIDS, "vec_id", "embedding")
    )
    # per-process private dir, built once and reused across invocations
    # (see _cached_index); in production the index is a durable managed
    # table instead
    path = _cached_index(
        "ivf_index",
        sf_dir,
        lambda p: S.write_ivf_index(emb, centroids, p, "overwrite"),
        params=(IVF_CENTROIDS,),
    )
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return S.ivf_topk_indexed(
        spark, path, queries, centroids, "vec_id", "embedding", TOPK_K, IVF_PROBE
    )


def ann_ivf_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental serving-index maintenance under the oracle gate:
    build the IVF index on HALF the corpus (even vec_ids), APPEND the
    other half (`write_ivf_index(mode="append")` — assigns only the new
    vectors against the frozen codebook, existing lists never read or
    rewritten), then serve with `ivf_topk_indexed`. Shares
    `ann_ivf_topk`'s oracle, so append-equals-rebuild is the gated
    property: any row the append path drops, duplicates or mis-assigns
    flips the hash. The 100-TB shape: per-ingest-batch cost is one
    broadcast-assign + a partitioned append of just the batch's rows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = S.materialize_centroids(
        S.deterministic_centroids(emb, IVF_CENTROIDS, "vec_id", "embedding")
    )

    def _build(p: str) -> None:
        S.write_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), centroids, p, "overwrite")
        S.write_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), centroids, p, "append")

    path = _cached_index(
        "ivf_append", sf_dir, _build, params=(IVF_CENTROIDS, "mod2-append")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return S.ivf_topk_indexed(
        spark, path, queries, centroids, "vec_id", "embedding", TOPK_K, IVF_PROBE
    )


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF scale path against the exact baseline — the
    "measure, don't guess" audit every approximate index needs before a
    pipeline trusts it (run on a sampled query set at corpus scale).

    Per query: n_exact (=k), n_matched (IVF hits inside the exact top-k),
    and recall as exact integer half-up millionths — no double ratio
    crosses the engine boundary. Composition: exact top-k LEFT JOIN
    IVF top-k on (query, neighbor); both sides are the already-gated
    plans, so the audit itself is pure integer aggregation.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    centroids = S.materialize_centroids(
        S.deterministic_centroids(emb, IVF_CENTROIDS, "vec_id", "embedding")
    )
    exact = S.brute_force_topk(emb, queries, "vec_id", "embedding", TOPK_K).select(
        "query_id", "neighbor_id"
    )
    approx = (
        S.ivf_topk(emb, queries, centroids, "vec_id", "embedding", TOPK_K, IVF_PROBE)
        .select("query_id", "neighbor_id")
        .withColumn("m", F.lit(1))
    )
    per_q = (
        # the approx side is a top-k result (<= k x n_queries rows) but
        # sits under rank windows whose stats overshoot the auto-
        # broadcast threshold — without the hint the 15-row audit join
        # plans as SortMerge and shuffles both composed plans
        exact.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(F.coalesce(F.col("m"), F.lit(0))).alias("n_matched"),
        )
    )
    return per_q.select(
        "query_id",
        "n_exact",
        "n_matched",
        exact_ratio("n_matched", "n_exact").alias("recall"),
    )


def ann_ivfadc_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVFADC serving path against the exact brute-force
    baseline (VERDICT r6 #2) — `ann_recall_audit`'s twin for the
    quantized index: where the IVF audit measures only probe loss, this
    one also charges the PQ/ADC approximation (candidates the byte-code
    distance mis-ranks out of the top-k). The audited side is the
    PERSISTED codes index (`ivf_topk_indexed` with the PQ codebook),
    i.e. the plan a 100-TB serving tier actually runs; it is oracle-equated with `ivfadc_topk`,
    so the audit measures quantization error, not implementation drift.

    Same output contract as `ann_recall_audit`: per query n_exact (=k),
    n_matched, and recall as exact integer half-up millionths — no
    double ratio crosses the engine boundary.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    centroids = S.materialize_centroids(
        S.deterministic_centroids(emb, IVF_CENTROIDS, "vec_id", "embedding")
    )
    cb = S.pq_codebooks(emb, PQ_M, PQ_KSUB, EMB_DIM)
    path = _cached_index(
        "ivfadc_index",
        sf_dir,
        lambda p: S.write_ivf_index(
            emb, centroids, p, pq_codebook=cb, m=PQ_M, dim=EMB_DIM
        ),
        params=(IVF_CENTROIDS, PQ_M, PQ_KSUB, EMB_DIM),
    )
    exact = S.brute_force_topk(emb, queries, "vec_id", "embedding", TOPK_K).select(
        "query_id", "neighbor_id"
    )
    approx = (
        S.ivf_topk_indexed(
            spark, path, queries, centroids, k=TOPK_K, n_probe=IVF_PROBE,
            pq_codebook=cb, m=PQ_M, dim=EMB_DIM,
        )
        .select("query_id", "neighbor_id")
        .withColumn("m", F.lit(1))
    )
    per_q = (
        # the approx side is a top-k result (<= k x n_queries rows) but
        # sits under rank windows whose stats overshoot the auto-
        # broadcast threshold — without the hint the 15-row audit join
        # plans as SortMerge and shuffles both composed plans
        exact.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(F.coalesce(F.col("m"), F.lit(0))).alias("n_matched"),
        )
    )
    return per_q.select(
        "query_id",
        "n_exact",
        "n_matched",
        exact_ratio("n_matched", "n_exact").alias("recall"),
    )


PQ_M = 8
PQ_KSUB = 16


def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k — the memory-bounded ANN serving
    path (IVFADC's scoring half): vectors compress to 8 one-byte codes,
    queries score candidates by summing per-subspace LOOKUPS instead of
    touching float vectors. Deterministic seed codebook (same convention
    as the IVF coarse quantizer) so the oracle replays the exact
    encode + LUT + sum; ADC totals accumulate as decimal — order-proof.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cb = S.pq_codebooks(emb, PQ_M, PQ_KSUB, EMB_DIM)
    codes = S.pq_encode(emb, cb, PQ_M, EMB_DIM)
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return S.pq_adc_topk(codes, queries, cb, PQ_M, EMB_DIM, TOPK_K)


def ann_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC: IVF probes narrow the candidates, PQ/ADC lookup sums
    score them — query-time work never touches a float vector (see
    operators/similarity.py:ivfadc_topk). Both halves reuse the already-
    gated deterministic quantizers, so the full composition is replayed
    verbatim by the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = S.deterministic_centroids(emb, IVF_CENTROIDS, "vec_id", "embedding")
    cb = S.pq_codebooks(emb, PQ_M, PQ_KSUB, EMB_DIM)
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return S.ivfadc_topk(
        emb, queries, centroids, cb, PQ_M, EMB_DIM, TOPK_K, IVF_PROBE
    )


def ann_ivfadc_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC over a PERSISTED cluster-partitioned codes index — the
    billion-vector serving shape end to end: `write_ivf_index` with the
    PQ codebook assigns AND PQ-encodes the corpus once (float vectors never enter
    the index), then the probe directory-prunes to the probed lists and
    scores byte codes via the shared broadcast-LUT tail. Same semantics
    and oracle as `ann_ivfadc_topk` (see
    operators/similarity.py:ivf_topk_indexed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = S.materialize_centroids(
        S.deterministic_centroids(emb, IVF_CENTROIDS, "vec_id", "embedding")
    )
    cb = S.pq_codebooks(emb, PQ_M, PQ_KSUB, EMB_DIM)
    # per-process dir, shared with ann_ivfadc_recall_audit (identical
    # build inputs) and reused across invocations (see _cached_index)
    path = _cached_index(
        "ivfadc_index",
        sf_dir,
        lambda p: S.write_ivf_index(
            emb, centroids, p, pq_codebook=cb, m=PQ_M, dim=EMB_DIM
        ),
        params=(IVF_CENTROIDS, PQ_M, PQ_KSUB, EMB_DIM),
    )
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return S.ivf_topk_indexed(
        spark, path, queries, centroids, k=TOPK_K, n_probe=IVF_PROBE,
        pq_codebook=cb, m=PQ_M, dim=EMB_DIM,
    )


def embeddings_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # restrict the exact-quadratic check to one label's vectors: the
    # realistic shape (LSH/bucketed prefilter, then exact verify)
    subset = emb.filter(F.col("label") == 0)
    return S.cosine_neardup_pairs(subset, "vec_id", "embedding", NEARDUP_THRESHOLD)


# --- LSH scale path ---------------------------------------------------------
# Fixture-tuned random-hyperplane tables: 1 plane per table x 16 tables.
# Worst qualifying pair in the fixture has sim 0.2 => bit-agreement
# p = 1 - acos(0.2)/pi = 0.564; per-pair miss probability (1-p)^16 ~ 1.7e-6,
# so recall over the ~75 qualifying pairs is 1 (verified empirically vs the
# exact-pair oracle at sf0.001 and sf0.01 — same oracle SQL gates both the
# exact and the LSH formulation). At corpus scale this is the plan that
# replaces the quadratic pair join: explode to (table, bucket), shuffle on
# the bucket key, exact-verify only candidates.
LSH_SEED = 7
LSH_TABLES = 16
LSH_PLANES_PER_TABLE = 1
EMB_DIM = 64  # fixture embedding width (TESTDATA.md)


def _lsh_planes(dim: int = EMB_DIM) -> list[list[list[float]]]:
    """Deterministic seeded hyperplane normals, L tables x k planes."""
    import numpy as np

    rng = np.random.default_rng(LSH_SEED)
    return [
        [
            [float(x) for x in rng.standard_normal(dim)]
            for _ in range(LSH_PLANES_PER_TABLE)
        ]
        for _ in range(LSH_TABLES)
    ]


def embeddings_lsh_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via the LSH scale path, gated against the SAME
    exact-pair oracle as `embeddings_neardup_pairs`: candidates from
    bucket collisions, exact cosine verify, threshold filter. Hash-equal
    to the quadratic formulation because fixture recall is 1 (see the
    plane-tuning note above)."""
    emb = load_table(spark, sf_dir, "embeddings")
    subset = emb.filter(F.col("label") == 0)
    return S.lsh_bucketed_neighbors(
        subset, _lsh_planes(), "vec_id", "embedding", NEARDUP_THRESHOLD
    )


def embeddings_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup keep-set: drop every vector that is
    cosine-near (>= threshold) a LOWER-id vector; the greedy min-id
    representative of each near-dup group survives.

    Composition: near-dup pairs from the LSH scale path (bucket-collision
    candidates, exact cosine verify — NOT the quadratic pair join) ->
    LEFT ANTI join of the bucket against the dropped-id side. The oracle
    replays the exact pair set, which the LSH source reproduces at
    recall 1 on the fixture — so the 100-TB-shaped plan is the verified
    artifact.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    subset = emb.filter(F.col("label") == 0)
    pairs = S.lsh_bucketed_neighbors(
        subset, _lsh_planes(), "vec_id", "embedding", NEARDUP_THRESHOLD
    )
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return subset.join(dropped, "vec_id", "left_anti").select("vec_id", "label")


RP_DIMS = 8


def embeddings_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL-style dimensionality reduction (64 -> 8 dims) with a
    deterministic integer projection matrix — the standard pre-ANN
    width cut (`operators/similarity.py:random_projection`). Zero
    shuffle; per-dim rows keep the result engine-portable, and the
    components are UNROUNDED doubles: both engines fold the identical
    product sequence left-to-right, so the bits match exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    proj = S.random_projection(emb, RP_DIMS, "vec_id", "embedding")
    return proj.select(
        "vec_id",
        F.posexplode("projected").alias("pos", "component"),
    ).select("vec_id", F.col("pos").cast("long").alias("pos"), "component")


def embeddings_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.norm_stats_by_label(emb, "label", "embedding")


def embeddings_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (element-wise mean), one row per
    (label, dimension) — class prototypes for centroid-based dedup /
    outlier filtering. Per-dim rows keep the result engine-portable."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.label_centroid_dims(emb, "label", "embedding")


QUERIES = {
    "ann_cosine_topk": ann_cosine_topk,
    "embeddings_label_centroids": embeddings_label_centroids,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_indexed_topk": ann_ivf_indexed_topk,
    "ann_ivf_append_topk": ann_ivf_append_topk,
    "ann_recall_audit": ann_recall_audit,
    "ann_pq_adc_topk": ann_pq_adc_topk,
    "ann_ivfadc_topk": ann_ivfadc_topk,
    "ann_ivfadc_indexed_topk": ann_ivfadc_indexed_topk,
    "ann_ivfadc_recall_audit": ann_ivfadc_recall_audit,
    "embeddings_neardup_pairs": embeddings_neardup_pairs,
    "embeddings_lsh_neardup_pairs": embeddings_lsh_neardup_pairs,
    "embeddings_semdedup_keep": embeddings_semdedup_keep,
    "embeddings_norm_stats": embeddings_norm_stats,
    "embeddings_random_projection": embeddings_random_projection,
}

ORACLES = {
    "ann_cosine_topk": f"""
        WITH pairs AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 CAST(q.embedding AS DOUBLE[]) AS av,
                 CAST(c.embedding AS DOUBLE[]) AS bv
          FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
          WHERE q.vec_id < {N_QUERY_VECS}
        ),
        scored AS (
          SELECT query_id, neighbor_id,
                 {_DOT} / NULLIF({_NORM_A} * {_NORM_B}, 0) AS sim
          FROM pairs
        )
        SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
        FROM (
          SELECT query_id, neighbor_id, sim,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
                 ) AS rank
          FROM scored
        )
        WHERE rank <= {TOPK_K}
    """,
    "ann_ivf_topk": f"""
        WITH vecs AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        centroids AS (
          SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster_id, v AS cv
          FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id ASC LIMIT {IVF_CENTROIDS})
        ),
        assigned AS (
          SELECT vec_id AS neighbor_id, v, cluster_id
          FROM (
            SELECT x.vec_id, x.v, c.cluster_id,
                   row_number() OVER (
                     PARTITION BY x.vec_id
                     ORDER BY {_cos('x.v', 'c.cv')} DESC, c.cluster_id ASC
                   ) AS rn
            FROM vecs x CROSS JOIN centroids c
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT query_id, qv, cluster_id
          FROM (
            SELECT q.vec_id AS query_id, q.v AS qv, c.cluster_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY {_cos('q.v', 'c.cv')} DESC, c.cluster_id ASC
                   ) AS pr
            FROM vecs q CROSS JOIN centroids c
            WHERE q.vec_id < {N_QUERY_VECS}
          ) WHERE pr <= {IVF_PROBE}
        ),
        cand AS (
          SELECT p.query_id, a.neighbor_id, {_cos('p.qv', 'a.v')} AS sim
          FROM probes p JOIN assigned a USING (cluster_id)
          WHERE a.neighbor_id != p.query_id
        )
        SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
        FROM (
          SELECT query_id, neighbor_id, sim,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
                 ) AS rank
          FROM cand
        ) WHERE rank <= {TOPK_K}
    """,
    "embeddings_neardup_pairs": f"""
        WITH vecs AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE label = 0
        ),
        pairs AS (
          SELECT l.vec_id AS id_a, r.vec_id AS id_b, l.v AS av, r.v AS bv
          FROM vecs l JOIN vecs r ON l.vec_id < r.vec_id
        )
        SELECT id_a, id_b, round(sim, 6) AS sim
        FROM (
          SELECT id_a, id_b,
                 {_DOT} / NULLIF({_NORM_A} * {_NORM_B}, 0) AS sim
          FROM pairs
        )
        WHERE sim >= {NEARDUP_THRESHOLD}
    """,
    # the LSH formulation must reproduce the EXACT pair set (fixture
    # recall = 1), so it is gated against the identical quadratic oracle
    "embeddings_lsh_neardup_pairs": f"""
        WITH vecs AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE label = 0
        ),
        pairs AS (
          SELECT l.vec_id AS id_a, r.vec_id AS id_b, l.v AS av, r.v AS bv
          FROM vecs l JOIN vecs r ON l.vec_id < r.vec_id
        )
        SELECT id_a, id_b, round(sim, 6) AS sim
        FROM (
          SELECT id_a, id_b,
                 {_DOT} / NULLIF({_NORM_A} * {_NORM_B}, 0) AS sim
          FROM pairs
        )
        WHERE sim >= {NEARDUP_THRESHOLD}
    """,
    "embeddings_semdedup_keep": f"""
        WITH vecs AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE label = 0
        ),
        pairs AS (
          SELECT l.vec_id AS id_a, r.vec_id AS id_b, l.v AS av, r.v AS bv
          FROM vecs l JOIN vecs r ON l.vec_id < r.vec_id
        ),
        dropped AS (
          SELECT DISTINCT id_b FROM (
            SELECT id_a, id_b, {_DOT} / NULLIF({_NORM_A} * {_NORM_B}, 0) AS sim
            FROM pairs
          ) WHERE sim >= {NEARDUP_THRESHOLD}
        )
        SELECT vec_id, label FROM vecs
        WHERE vec_id NOT IN (SELECT id_b FROM dropped)
    """,
    "embeddings_label_centroids": """
        SELECT label, pos - 1 AS pos, count(*) AS n_vecs,
               round(avg(x), 6) AS centroid
        FROM (
          SELECT label, pos, v[pos] AS x
          FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
               LATERAL unnest(generate_series(1, len(v))) t(pos)
        )
        GROUP BY label, pos
    """,
    # identical left-fold product sequence -> identical double bits; the
    # integer plane formula ((t*8191 + d*127) % 17) - 8 is closed-form in
    # both engines, so no plane constants ship between them
    "embeddings_random_projection": f"""
        SELECT vec_id,
               CAST(t AS BIGINT) AS pos,
               list_sum(list_transform(
                 generate_series(1, len(v)),
                 i -> v[i] * CAST(((t * 8191 + (i - 1) * 127) % 17) - 8 AS DOUBLE)
               )) AS component
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             LATERAL unnest(range({RP_DIMS})) u(t)
    """,
    "embeddings_norm_stats": """
        SELECT label,
               count(*) AS n,
               round(avg(nrm), 6) AS avg_norm,
               round(min(nrm), 6) AS min_norm,
               round(max(nrm), 6) AS max_norm
        FROM (
          SELECT label,
                 sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
          FROM embeddings
        )
        GROUP BY label
    """,
}

# identical semantics by construction — one oracle gates both IVF paths,
# so a fix to one can never silently desync the other
ORACLES["ann_ivf_indexed_topk"] = ORACLES["ann_ivf_topk"]

# append-equals-rebuild: the half-build + half-append index must serve
# the exact rows the full-corpus oracle ranks
ORACLES["ann_ivf_append_topk"] = ORACLES["ann_ivf_topk"]

# recall@k audit: exact top-k LEFT JOIN the IVF candidate ranking —
# the CTE chain replays both already-gated plans, then aggregates to
# integer match counts (recall via exact half-up millionths)
# PQ/ADC: the seed codebook, argmin encode, per-query LUT and decimal
# ADC sum are each replayed verbatim; queries are corpus members, so the
# LUT rows are just the query vectors' own subspace distances
_PQ_W = EMB_DIM // PQ_M
_PQ_SUB_L2 = (
    f"list_sum(list_transform(generate_series(1, {_PQ_W}),"
    " i -> (sv[i] - cv[i]) * (sv[i] - cv[i])))"
)
ORACLES["ann_pq_adc_topk"] = f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    sub AS (
      SELECT vec_id, CAST(s AS INTEGER) AS subspace,
             list_transform(generate_series(1, {_PQ_W}),
                            j -> v[CAST(s AS INTEGER) * {_PQ_W} + j]) AS sv
      FROM vecs, LATERAL unnest(range({PQ_M})) t(s)
    ),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS code, v
      FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id ASC LIMIT {PQ_KSUB})
    ),
    codebook AS (
      SELECT CAST(s AS INTEGER) AS subspace, code,
             list_transform(generate_series(1, {_PQ_W}),
                            j -> v[CAST(s AS INTEGER) * {_PQ_W} + j]) AS cv
      FROM seeds, LATERAL unnest(range({PQ_M})) t(s)
    ),
    dists AS (
      SELECT sub.vec_id, sub.subspace, codebook.code, {_PQ_SUB_L2} AS dist
      FROM sub JOIN codebook USING (subspace)
    ),
    codes AS (
      SELECT vec_id, subspace, code FROM (
        SELECT vec_id, subspace, code,
               row_number() OVER (
                 PARTITION BY vec_id, subspace ORDER BY dist ASC, code ASC
               ) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT vec_id AS query_id, subspace, code,
             CAST(round(dist, 6) AS DECIMAL(18,6)) AS ddec
      FROM dists WHERE vec_id < {N_QUERY_VECS}
    ),
    adc AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, sum(l.ddec) AS adc_dec
      FROM codes c JOIN lut l USING (subspace, code)
      WHERE c.vec_id != l.query_id
      GROUP BY l.query_id, c.vec_id
    )
    SELECT query_id, neighbor_id, CAST(adc_dec AS DOUBLE) AS adc_dist, rank
    FROM (
      SELECT query_id, neighbor_id, adc_dec,
             row_number() OVER (
               PARTITION BY query_id ORDER BY adc_dec ASC, neighbor_id ASC
             ) AS rank
      FROM adc
    ) WHERE rank <= {TOPK_K}
"""

# IVFADC: the IVF oracle's assignment/probe CTEs composed with the PQ
# oracle's codebook/codes/LUT CTEs — candidates restricted to probed
# clusters, scored by the exact decimal lookup sum
ORACLES["ann_ivfadc_topk"] = f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    centroids AS (
      SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster_id, v AS cv
      FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id ASC LIMIT {IVF_CENTROIDS})
    ),
    assigned AS (
      SELECT vec_id AS neighbor_id, cluster_id
      FROM (
        SELECT x.vec_id, c.cluster_id,
               row_number() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY {_cos('x.v', 'c.cv')} DESC, c.cluster_id ASC
               ) AS rn
        FROM vecs x CROSS JOIN centroids c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, cluster_id
      FROM (
        SELECT q.vec_id AS query_id, c.cluster_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_cos('q.v', 'c.cv')} DESC, c.cluster_id ASC
               ) AS pr
        FROM vecs q CROSS JOIN centroids c
        WHERE q.vec_id < {N_QUERY_VECS}
      ) WHERE pr <= {IVF_PROBE}
    ),
    sub AS (
      SELECT vec_id, CAST(s AS INTEGER) AS subspace,
             list_transform(generate_series(1, {_PQ_W}),
                            j -> v[CAST(s AS INTEGER) * {_PQ_W} + j]) AS sv
      FROM vecs, LATERAL unnest(range({PQ_M})) t(s)
    ),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS code, v
      FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id ASC LIMIT {PQ_KSUB})
    ),
    codebook AS (
      SELECT CAST(s AS INTEGER) AS subspace, code,
             list_transform(generate_series(1, {_PQ_W}),
                            j -> v[CAST(s AS INTEGER) * {_PQ_W} + j]) AS cv
      FROM seeds, LATERAL unnest(range({PQ_M})) t(s)
    ),
    dists AS (
      SELECT sub.vec_id, sub.subspace, codebook.code, {_PQ_SUB_L2} AS dist
      FROM sub JOIN codebook USING (subspace)
    ),
    codes AS (
      SELECT vec_id, subspace, code FROM (
        SELECT vec_id, subspace, code,
               row_number() OVER (
                 PARTITION BY vec_id, subspace ORDER BY dist ASC, code ASC
               ) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT vec_id AS query_id, subspace, code,
             CAST(round(dist, 6) AS DECIMAL(18,6)) AS ddec
      FROM dists WHERE vec_id < {N_QUERY_VECS}
    ),
    cand AS (
      SELECT p.query_id, a.neighbor_id
      FROM probes p JOIN assigned a USING (cluster_id)
      WHERE a.neighbor_id != p.query_id
    ),
    adc AS (
      SELECT c.query_id, c.neighbor_id, sum(l.ddec) AS adc_dec
      FROM cand c
      JOIN codes k ON k.vec_id = c.neighbor_id
      JOIN lut l ON l.query_id = c.query_id
               AND l.subspace = k.subspace AND l.code = k.code
      GROUP BY c.query_id, c.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(adc_dec AS DOUBLE) AS adc_dist, rank
    FROM (
      SELECT query_id, neighbor_id, adc_dec,
             row_number() OVER (
               PARTITION BY query_id ORDER BY adc_dec ASC, neighbor_id ASC
             ) AS rank
      FROM adc
    ) WHERE rank <= {TOPK_K}
"""

ORACLES["ann_recall_audit"] = f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    centroids AS (
      SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster_id, v AS cv
      FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id ASC LIMIT {IVF_CENTROIDS})
    ),
    assigned AS (
      SELECT vec_id AS neighbor_id, v, cluster_id
      FROM (
        SELECT x.vec_id, x.v, c.cluster_id,
               row_number() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY {_cos('x.v', 'c.cv')} DESC, c.cluster_id ASC
               ) AS rn
        FROM vecs x CROSS JOIN centroids c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qv, cluster_id
      FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c.cluster_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_cos('q.v', 'c.cv')} DESC, c.cluster_id ASC
               ) AS pr
        FROM vecs q CROSS JOIN centroids c
        WHERE q.vec_id < {N_QUERY_VECS}
      ) WHERE pr <= {IVF_PROBE}
    ),
    ivf_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, a.neighbor_id,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY {_cos('p.qv', 'a.v')} DESC, a.neighbor_id ASC
               ) AS rank
        FROM probes p JOIN assigned a USING (cluster_id)
        WHERE a.neighbor_id != p.query_id
      ) WHERE rank <= {TOPK_K}
    ),
    exact_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_cos('q.v', 'c.v')} DESC, c.vec_id ASC
               ) AS rank
        FROM vecs q JOIN vecs c ON q.vec_id != c.vec_id
        WHERE q.vec_id < {N_QUERY_VECS}
      ) WHERE rank <= {TOPK_K}
    )
    SELECT e.query_id,
           count(*) AS n_exact,
           CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
           (CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) * 2000000 + count(*)) // (2 * count(*))
             / 1000000.0 AS recall
    FROM exact_topk e
    LEFT JOIN ivf_topk i
      ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
    GROUP BY e.query_id
"""

# the persisted-index IVFADC twin computes the identical result
ORACLES["ann_ivfadc_indexed_topk"] = ORACLES["ann_ivfadc_topk"]

# IVFADC recall audit: the ALREADY-GATED ivfadc oracle nests verbatim as
# the approx side (identity with the serving plan by construction), the
# exact side replays the brute-force ranking, and the aggregation is the
# same integer half-up-millionths recall as ann_recall_audit
ORACLES["ann_ivfadc_recall_audit"] = f"""
    WITH ivfadc_topk AS (
      {ORACLES["ann_ivfadc_topk"]}
    ),
    all_vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    exact_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_cos('q.v', 'c.v')} DESC, c.vec_id ASC
               ) AS rank
        FROM all_vecs q JOIN all_vecs c ON q.vec_id != c.vec_id
        WHERE q.vec_id < {N_QUERY_VECS}
      ) WHERE rank <= {TOPK_K}
    )
    SELECT e.query_id,
           count(*) AS n_exact,
           CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
           (CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) * 2000000 + count(*)) // (2 * count(*))
             / 1000000.0 AS recall
    FROM exact_topk e
    LEFT JOIN ivfadc_topk i
      ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
    GROUP BY e.query_id
"""


KMEANS_K = 8
KMEANS_ITERS = 2


def embeddings_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering for cluster-based curation: 2 Lloyd
    iterations of k-means over the embedding column, deterministic init
    (k lowest-id vectors) so DuckDB replays the identical trajectory
    (operators/similarity.py:kmeans_lloyd_assign). Assignment is a
    broadcast map-side join; each update shuffles only (cluster, dim)
    partials."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.kmeans_lloyd_assign(emb, "vec_id", "embedding", KMEANS_K, KMEANS_ITERS)


QUERIES["embeddings_kmeans_assign"] = embeddings_kmeans_assign


def _sqd(a: str, b: str) -> str:
    """Inline DuckDB squared-Euclidean distance over DOUBLE[] columns,
    rounded to 6 like the Spark side, same left-to-right fold order."""
    return (
        f"round(list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6)"
    )


ORACLES["embeddings_kmeans_assign"] = f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster_id, v AS cv
      FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id ASC LIMIT {KMEANS_K})
    ),
    a0 AS (
      SELECT vec_id, v, cluster_id, dist FROM (
        SELECT x.vec_id, x.v, c.cluster_id,
               {_sqd('x.v', 'c.cv')} AS dist,
               row_number() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY {_sqd('x.v', 'c.cv')} ASC, c.cluster_id ASC
               ) AS rn
        FROM vecs x CROSS JOIN c0 c
      ) WHERE rn = 1
    ),
    dims AS (
      SELECT cluster_id, z.pos AS pos, z.x AS x FROM (
        SELECT cluster_id,
               unnest(list_transform(
                 generate_series(1, len(v)),
                 i -> struct_pack(pos := i, x := v[i])
               )) AS z
        FROM a0
      )
    ),
    c1 AS (
      SELECT cluster_id, list(c ORDER BY pos ASC) AS cv FROM (
        SELECT cluster_id, pos, round(avg(x), 6) AS c
        FROM dims GROUP BY cluster_id, pos
      ) GROUP BY cluster_id
    )
    SELECT vec_id, cluster_id, dist FROM (
      SELECT x.vec_id, c.cluster_id,
             {_sqd('x.v', 'c.cv')} AS dist,
             row_number() OVER (
               PARTITION BY x.vec_id
               ORDER BY {_sqd('x.v', 'c.cv')} ASC, c.cluster_id ASC
             ) AS rn
      FROM vecs x CROSS JOIN c1 c
    ) WHERE rn = 1
"""


HYBRID_TERMS = ("spark", "vector", "query")
HYBRID_LEG_N = 20  # depth of each retrieval leg
HYBRID_K = 10  # fused list size
HYBRID_RRF_C = 60  # standard RRF constant (Cormack et al.)


def docs_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical leg over `documents` fused with a
    dense cosine leg over `embeddings` (doc_id == vec_id in the synthetic
    corpus) by reciprocal-rank fusion
    (operators/similarity.py:rrf_fuse). The reference has no retrieval
    surface (parquet_to_polars.py stops at scans/aggregates); this is
    the LLM-pipeline extension's targeted-data-selection path.

    Scale shape: each leg keeps its own 100-TB plan — the BM25 leg
    shuffles only the query terms' postings, the dense leg is a
    broadcast-query scan with TakeOrderedAndProject (swap in the IVF
    serving index for production) — and the fusion joins two <=N-row
    frames, so it is free at any corpus size.
    """
    from redpanda_to_parquet_writer_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = T.bm25_topk(
        docs, "text", "doc_id", HYBRID_TERMS, HYBRID_LEG_N
    ).select("doc_id", "rank")
    dense = (
        S.brute_force_topk(
            emb, emb.filter(F.col("vec_id") == 0), "vec_id", "embedding", HYBRID_LEG_N
        )
        .select(F.col("neighbor_id").alias("doc_id"), "rank")
    )
    return S.rrf_fuse(lex, dense, "doc_id", HYBRID_K, HYBRID_RRF_C).select(
        "doc_id",
        "rrf",
        F.col("rank_a").alias("lex_rank"),
        F.col("rank_b").alias("dense_rank"),
        "fused_rank",
    )


QUERIES["docs_hybrid_rrf_topk"] = docs_hybrid_rrf_topk

ORACLES["docs_hybrid_rrf_topk"] = f"""
    WITH lengths AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS dl
      FROM documents
    ),
    corpus AS (
      SELECT count(*) AS n, avg(dl) AS avgdl FROM lengths
    ),
    postings AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents
      )
      WHERE term IN ({", ".join(f"'{t}'" for t in HYBRID_TERMS)})
      GROUP BY doc_id, term
    ),
    dfreq AS (
      SELECT term, count(*) AS df FROM postings GROUP BY term
    ),
    bm25_scored AS (
      SELECT p.doc_id,
             ln(1.0 + (c.n - d.df + 0.5) / (d.df + 0.5))
               * p.tf * (1.2 + 1.0)
               / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / c.avgdl)) AS term_score
      FROM postings p
      JOIN lengths l USING (doc_id)
      JOIN dfreq d USING (term)
      CROSS JOIN corpus c
    ),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank_a
      FROM (
        SELECT doc_id, round(sum(term_score), 6) AS bm25
        FROM bm25_scored GROUP BY doc_id
      )
      ORDER BY rank_a ASC LIMIT {HYBRID_LEG_N}
    ),
    dense_pairs AS (
      SELECT c.vec_id AS doc_id,
             CAST(q.embedding AS DOUBLE[]) AS av,
             CAST(c.embedding AS DOUBLE[]) AS bv
      FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      WHERE q.vec_id = 0
    ),
    dense AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS rank_b
      FROM (
        SELECT doc_id, {_DOT} / NULLIF({_NORM_A} * {_NORM_B}, 0) AS sim
        FROM dense_pairs
      )
      ORDER BY rank_b ASC LIMIT {HYBRID_LEG_N}
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             COALESCE(1.0 / ({HYBRID_RRF_C} + l.rank_a), 0.0)
               + COALESCE(1.0 / ({HYBRID_RRF_C} + d.rank_b), 0.0) AS rrf,
             l.rank_a AS lex_rank, d.rank_b AS dense_rank
      FROM lex l FULL OUTER JOIN dense d USING (doc_id)
    )
    SELECT doc_id, rrf, lex_rank, dense_rank,
           row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS fused_rank
    FROM fused
    ORDER BY rrf DESC, doc_id ASC
    LIMIT {HYBRID_K}
"""


def ann_ivfadc_compact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-append + compaction on the incremental IVFADC index
    (VERDICT r7 #4): build the byte-code index on a THIRD of the corpus,
    append the other two thirds in two separate batches
    (`write_ivf_index(mode="append")` — frozen quantizers, existing
    lists never read), COMPACT the accumulated small files
    (`sources.parquet.compact_parquet` with
    partition_by=['cluster_id'], snapshot-write, never
    in-place), then serve from the compacted copy with
    `ivf_topk_indexed`. Shares `ann_ivfadc_topk`'s oracle, so
    append-then-compact-equals-rebuild is the gated property: a row any
    append drops or duplicates, a list compaction mis-places, or a code
    byte that doesn't survive the rewrite flips the hash.

    The 100-TB maintenance story this gates end to end: ingest batches
    append only their own rows; when the per-list file count degrades
    scan cost, compaction rewrites at target file size while serving
    results stay bitwise identical.
    """
    import shutil

    from redpanda_to_parquet_writer_spark.sources.parquet import compact_parquet

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = S.materialize_centroids(
        S.deterministic_centroids(emb, IVF_CENTROIDS, "vec_id", "embedding")
    )
    cb = S.pq_codebooks(emb, PQ_M, PQ_KSUB, EMB_DIM)

    def _build(p: str) -> None:
        stage = f"{p}_stage"
        for batch, mode in ((0, "overwrite"), (1, "append"), (2, "append")):
            S.write_ivf_index(
                emb.filter(F.col("vec_id") % 3 == batch),
                centroids,
                stage,
                mode,
                pq_codebook=cb,
                m=PQ_M,
                dim=EMB_DIM,
            )
        compact_parquet(spark, stage, p, partition_by=["cluster_id"])
        shutil.rmtree(stage, ignore_errors=True)  # staging copy served its purpose

    path = _cached_index(
        "ivfadc_compact",
        sf_dir,
        _build,
        params=(IVF_CENTROIDS, PQ_M, PQ_KSUB, EMB_DIM, "mod3-append-compact"),
    )
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return S.ivf_topk_indexed(
        spark, path, queries, centroids, k=TOPK_K, n_probe=IVF_PROBE,
        pq_codebook=cb, m=PQ_M, dim=EMB_DIM,
    )


QUERIES["ann_ivfadc_compact_topk"] = ann_ivfadc_compact_topk

# append-then-compact-equals-rebuild: the 1/3-build + two-appends +
# compacted index must serve exactly the rows the full-corpus oracle ranks
ORACLES["ann_ivfadc_compact_topk"] = ORACLES["ann_ivfadc_topk"]


KMEANS_AUDIT_UPDATES = 1
#: audit query window, deliberately OUTSIDE the deterministic seed set:
#: the lowest-id queries (vec_id < N_QUERY_VECS) are themselves
#: deterministic centroids, so their own inverted lists always probe
#: first and the lowest-id quantizer gets a rigged perfect score on
#: them; out-of-seed queries measure the quantizers on equal footing.
#: kmeans >= deterministic holds on this window at sf0.001/0.01/0.1
#: (measured: 12v8 / 8v6 / 7v5 matched of 15).
KMEANS_AUDIT_QUERY_LO = 64


def _ivf_topk_cte(centroids_cte: str, prefix: str, query_pred: str) -> str:
    """Render the IVF top-k CTE chain (cosine assign + probe + exact
    verify, identical to the `ann_ivf_topk` oracle) against an arbitrary
    centroids CTE — lets the kmeans-vs-deterministic audit replay BOTH
    quantizers' inverted-list plans inside one oracle."""
    return f"""
        {prefix}assigned AS (
          SELECT vec_id AS neighbor_id, v, cluster_id
          FROM (
            SELECT x.vec_id, x.v, c.cluster_id,
                   row_number() OVER (
                     PARTITION BY x.vec_id
                     ORDER BY {_cos('x.v', 'c.cv')} DESC, c.cluster_id ASC
                   ) AS rn
            FROM vecs x CROSS JOIN {centroids_cte} c
          ) WHERE rn = 1
        ),
        {prefix}probes AS (
          SELECT query_id, qv, cluster_id
          FROM (
            SELECT q.vec_id AS query_id, q.v AS qv, c.cluster_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY {_cos('q.v', 'c.cv')} DESC, c.cluster_id ASC
                   ) AS pr
            FROM vecs q CROSS JOIN {centroids_cte} c
            WHERE {query_pred}
          ) WHERE pr <= {IVF_PROBE}
        ),
        {prefix}topk AS (
          SELECT query_id, neighbor_id
          FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                     PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
                   ) AS rank
            FROM (
              SELECT p.query_id, a.neighbor_id, {_cos('p.qv', 'a.v')} AS sim
              FROM {prefix}probes p JOIN {prefix}assigned a USING (cluster_id)
              WHERE a.neighbor_id != p.query_id
            )
          ) WHERE rank <= {TOPK_K}
        )"""


def ann_kmeans_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of an IVF built from the PRODUCTION-shaped quantizer —
    `kmeans_lloyd_centroids` (deterministic Lloyd, VERDICT r7 #5) —
    measured side by side with the deterministic lowest-id quantizer
    against the exact brute-force baseline. Until this query, only the
    lowest-id quantizer was oracle-verified and the "swap in k-means for
    production recall" claim in `ivf_topk`'s docstring was unmeasured;
    now both inverted-list layouts run inside the gated surface and the
    `kmeans_not_worse` column pins the comparison per query
    (aggregate-level kmeans >= deterministic is asserted in
    tests/test_retrieval_clustering.py).

    The audit queries sit OUTSIDE the deterministic seed set (see
    KMEANS_AUDIT_QUERY_LO): lowest-id queries are themselves seed
    centroids, whose own lists always probe first — a rigged comparison.

    Output per query: n_exact (=k), n_matched under each quantizer, both
    recalls as exact integer half-up millionths, and the comparison
    boolean — no double ratio crosses the engine boundary. Scale shape:
    three already-gated plans (exact top-k + two IVF probes) composed by
    integer aggregation; the Lloyd update shuffles only (cluster, dim)
    partials and ships k x dim doubles to the driver per update.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") >= KMEANS_AUDIT_QUERY_LO)
        & (F.col("vec_id") < KMEANS_AUDIT_QUERY_LO + N_QUERY_VECS)
    )
    kcents = S.kmeans_lloyd_centroids(
        emb, "vec_id", "embedding", IVF_CENTROIDS, KMEANS_AUDIT_UPDATES
    )
    dcents = S.materialize_centroids(
        S.deterministic_centroids(emb, IVF_CENTROIDS, "vec_id", "embedding")
    )
    exact = S.brute_force_topk(emb, queries, "vec_id", "embedding", TOPK_K).select(
        "query_id", "neighbor_id"
    )
    k_hits = (
        S.ivf_topk(emb, queries, kcents, "vec_id", "embedding", TOPK_K, IVF_PROBE)
        .select("query_id", "neighbor_id")
        .withColumn("mk", F.lit(1))
    )
    d_hits = (
        S.ivf_topk(emb, queries, dcents, "vec_id", "embedding", TOPK_K, IVF_PROBE)
        .select("query_id", "neighbor_id")
        .withColumn("md", F.lit(1))
    )
    per_q = (
        # both hit sides are top-k results (<= k x n_queries rows);
        # broadcast hints keep the audit joins off SortMerge (see
        # ann_recall_audit)
        exact.join(F.broadcast(k_hits), ["query_id", "neighbor_id"], "left")
        .join(F.broadcast(d_hits), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(F.coalesce(F.col("mk"), F.lit(0))).alias("n_matched_kmeans"),
            F.sum(F.coalesce(F.col("md"), F.lit(0))).alias("n_matched_det"),
        )
    )

    return per_q.select(
        "query_id",
        "n_exact",
        "n_matched_kmeans",
        "n_matched_det",
        exact_ratio("n_matched_kmeans", "n_exact").alias("recall_kmeans"),
        exact_ratio("n_matched_det", "n_exact").alias("recall_det"),
        (F.col("n_matched_kmeans") >= F.col("n_matched_det")).alias(
            "kmeans_not_worse"
        ),
    )


QUERIES["ann_kmeans_recall_audit"] = ann_kmeans_recall_audit

_KM_AUDIT_PRED = (
    f"q.vec_id >= {KMEANS_AUDIT_QUERY_LO}"
    f" AND q.vec_id < {KMEANS_AUDIT_QUERY_LO + N_QUERY_VECS}"
)

# the Lloyd trajectory (k=IVF_CENTROIDS, one update) replayed in SQL —
# same rounding discipline as the embeddings_kmeans_assign oracle — then
# BOTH quantizers' IVF plans and the exact baseline, composed by integer
# aggregation
ORACLES["ann_kmeans_recall_audit"] = f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    kc0 AS (
      SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster_id, v AS cv
      FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id ASC LIMIT {IVF_CENTROIDS})
    ),
    ka0 AS (
      SELECT vec_id, v, cluster_id FROM (
        SELECT x.vec_id, x.v, c.cluster_id,
               row_number() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY {_sqd('x.v', 'c.cv')} ASC, c.cluster_id ASC
               ) AS rn
        FROM vecs x CROSS JOIN kc0 c
      ) WHERE rn = 1
    ),
    kdims AS (
      SELECT cluster_id, z.pos AS pos, z.x AS x FROM (
        SELECT cluster_id,
               unnest(list_transform(
                 generate_series(1, len(v)),
                 i -> struct_pack(pos := i, x := v[i])
               )) AS z
        FROM ka0
      )
    ),
    kcents AS (
      SELECT cluster_id, list(c ORDER BY pos ASC) AS cv FROM (
        SELECT cluster_id, pos, round(avg(x), 6) AS c
        FROM kdims GROUP BY cluster_id, pos
      ) GROUP BY cluster_id
    ),
    dcents AS (
      SELECT cluster_id, cv FROM kc0
    ),
    {_ivf_topk_cte('kcents', 'k_', _KM_AUDIT_PRED)},
    {_ivf_topk_cte('dcents', 'd_', _KM_AUDIT_PRED)},
    exact_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_cos('q.v', 'c.v')} DESC, c.vec_id ASC
               ) AS rank
        FROM vecs q JOIN vecs c ON q.vec_id != c.vec_id
        WHERE {_KM_AUDIT_PRED}
      ) WHERE rank <= {TOPK_K}
    ),
    agg AS (
      SELECT e.query_id,
             count(*) AS n_exact,
             CAST(sum(CASE WHEN k.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_matched_kmeans,
             CAST(sum(CASE WHEN d.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_matched_det
      FROM exact_topk e
      LEFT JOIN k_topk k
        ON e.query_id = k.query_id AND e.neighbor_id = k.neighbor_id
      LEFT JOIN d_topk d
        ON e.query_id = d.query_id AND e.neighbor_id = d.neighbor_id
      GROUP BY e.query_id
    )
    SELECT query_id, n_exact, n_matched_kmeans, n_matched_det,
           (n_matched_kmeans * 2000000 + n_exact) // (2 * n_exact)
             / 1000000.0 AS recall_kmeans,
           (n_matched_det * 2000000 + n_exact) // (2 * n_exact)
             / 1000000.0 AS recall_det,
           n_matched_kmeans >= n_matched_det AS kmeans_not_worse
    FROM agg
"""
