"""Embedding similarity search (ANN) and vector ops.

Training-data-pipeline operators over an `array<float>` embedding column:
  - brute-force cosine top-k (the exact baseline)
  - LSH-bucketed ANN via random-hyperplane signatures (the scale path:
    collapses the O(n*q) pair space to per-bucket joins)
  - IVF and IVFADC top-k, inline (`ivf_topk`, `ivfadc_topk`) and over
    ONE persisted index type: `write_ivf_index` writes it,
    `build_ivf_index` trains and sizes it, `ivf_topk_indexed` serves it
  - embedding-cosine near-duplicate pairs, PQ and k-means
  - per-group vector norm statistics

All dot products / norms are built-in higher-order functions
(`zip_with` + `aggregate`) — JVM-side, codegen'd, no Python in the hot
path. Arrays are cast to double before accumulating so results are
reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector yields NULL similarity instead of an
    # ANSI DIVIDE_BY_ZERO job failure (nulls drop out of thresholds and
    # rank windows naturally)
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact cosine top-k per query vector (the ANN correctness baseline).

    Broadcast the (small) query set against the full corpus, rank with a
    window per query. One shuffle (rank partitioning by query id); the
    corpus side streams — at 100 TB this is the plan you want when the
    query set fits in memory, otherwise use `lsh_bucketed_topk`.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = df.select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv"))
    scored = (
        c.join(F.broadcast(q), on=F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def bucket_pair_candidates(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    payload_cols: list[str],
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Unique candidate pairs per bucket WITHOUT a self-join.

    A bucket self-join plans the whole signature lineage twice (AQE does
    not reuse the duplicated exchange — measured: the simhash pair query
    ran 1.6x slower as a self-join) and shuffles it twice. Instead:
    ONE groupBy on the bucket key collects members, then two chained
    explodes enumerate in-bucket pairs. The double explode (rather than
    a flatten/transform pairs array) keeps per-row memory at
    O(bucket * payload), never materializing the O(bucket^2) pair array
    as a single value — which matters when the payload is an embedding
    vector.

    At corpus scale the bucket key must keep buckets small (that is the
    banding/plane-count knob of the callers) — but real corpora always
    carry a degenerate key (empty docs, zero vectors, one boilerplate
    shingle) that is quadratic in ANY formulation. `max_bucket_size`
    is the standard LSH guard: buckets larger than the cap are DROPPED
    before their full member array is ever collected. The guard is a
    SALTED two-phase collect (r12 — it used to be a window count
    partitioned by the bucket key, which streamed the whole hot bucket
    through ONE unsplittable window task before dropping it): members
    sub-collect per (bucket, salt-of-id) — the hot bucket fans out
    over the salt range — bucket totals aggregate the sub-frame
    (map-side combined, skew-free), and only buckets within the cap
    flatten their sub-arrays (cap-bounded). Both consumers of the
    sub-collect read its full output, so its exchange plans ONCE (the
    one-signature-pass invariant this function exists for, now
    final-plan-audited). Pair output stays bounded at cap^2/2 per
    bucket; a hot bucket of near-identical members loses nothing real:
    its members still pair in their other bands/tables.

    Returns one row per distinct unordered pair: (id_a, id_b,
    <payload>_a, <payload>_b) with id_a < id_b, deduplicated across
    buckets.
    """
    member = F.struct(
        F.col(id_col).alias("id"), *[F.col(c).alias(c) for c in payload_cols]
    )
    if max_bucket_size is not None:
        sub = df.groupBy(
            *bucket_cols,
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(64)).alias("__s"),
        ).agg(F.collect_list(member).alias("__sub"))
        # totals consume __sub (size, not a separate count) so both
        # branches read the sub-collect's full output and its exchange
        # canonicalizes identically — the r12 exchange-reuse symmetry
        totals = sub.groupBy(*bucket_cols).agg(
            F.sum(F.size("__sub")).alias("__bn")
        )
        # NULL-SAFE join back (ADVICE r12): a plain equi-join drops
        # null-keyed buckets (null != null), silently diverging from
        # the uncapped path, which groups null keys like any other
        # value (hyperplane-LSH signatures of null/ragged vectors are
        # null). eqNullSafe keeps the capped path a pure refinement:
        # same buckets, minus the oversize ones.
        t = totals.select(
            *[F.col(c).alias(f"__t_{c}") for c in bucket_cols], "__bn"
        )
        cond = F.lit(True)
        for c in bucket_cols:
            cond = cond & F.col(c).eqNullSafe(F.col(f"__t_{c}"))
        buckets = (
            sub.join(t, cond)
            .filter(F.col("__bn") <= max_bucket_size)
            .groupBy(*bucket_cols)
            .agg(F.flatten(F.collect_list("__sub")).alias("__ms"))
            .filter(F.size("__ms") > 1)
        )
    else:
        buckets = (
            df.groupBy(*bucket_cols)
            .agg(F.collect_list(member).alias("__ms"))
            .filter(F.size("__ms") > 1)
        )
    lhs = buckets.select(F.explode("__ms").alias("a"), "__ms")
    pairs = lhs.select("a", F.explode("__ms").alias("b")).filter(
        F.col("a.id") < F.col("b.id")
    )
    out = pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload_cols],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload_cols],
    )
    # the same pair collides in several buckets/tables; payloads are
    # functionally dependent on the ids, so id-keyed dedup is exact
    return out.dropDuplicates(["id_a", "id_b"])


def random_hyperplane_signature(
    vec: Column, planes: list[list[float]]
) -> Column:
    """Sign-of-dot-product LSH signature as a bit string, e.g. '0110...'.

    `planes` are fixed (seeded driver-side) hyperplane normals; cosine-
    similar vectors agree on most bits, so bucketing on the signature
    prefix groups likely neighbors.
    """
    bits = [
        F.when(dot(vec, F.array(*[F.lit(float(x)) for x in p])) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for p in planes
    ]
    return F.concat(*bits)


def lsh_bucketed_neighbors(
    df: DataFrame,
    planes: list[list[float]] | list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_sim: float = 0.0,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """ANN scale path: multi-table random-hyperplane LSH.

    `planes` is either one table (list of hyperplanes) or L tables (list
    of lists of hyperplanes). Candidates = pairs sharing a bucket in ANY
    table (recall = 1-(1-p^k)^L: k planes per table sets precision, L
    tables sets recall); every candidate is then verified with exact
    cosine and filtered to `min_sim`, so precision is exact.

    Shuffle profile: one explode (L rows per vector) + ONE shuffle keyed
    on (table, bucket) + in-bucket pair enumeration
    (`bucket_pair_candidates` — no self-join, so the signature pass runs
    once and its shuffle happens once) — the O(n^2) pair space never
    materializes, which is the whole point at corpus scale.
    """
    if planes and isinstance(planes[0][0], (int, float)):
        tables: list[list[list[float]]] = [planes]  # single table
    else:
        tables = planes
    base = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    sig = base.select(
        id_col,
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"),
                        random_hyperplane_signature(F.col("v"), tbl).alias("bucket"),
                    )
                    for t, tbl in enumerate(tables)
                ]
            )
        ).alias("b"),
    ).select(id_col, "v", F.col("b.table").alias("table"), F.col("b.bucket").alias("bucket"))
    candidates = bucket_pair_candidates(
        sig, ["table", "bucket"], id_col, ["v"], max_bucket_size=max_bucket_size
    )
    return (
        candidates.withColumn("sim", cosine(F.col("v_a"), F.col("v_b")))
        .filter(F.col("sim") >= min_sim)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    centroid_id_col: str = "cluster_id",
    centroid_vec_col: str = "cv",
) -> DataFrame:
    """Coarse quantizer: assign each vector to its max-cosine centroid.

    Centroids broadcast (they're tiny by construction), so assignment is
    a map-side cross product + per-vector argmax — zero shuffle. Returns
    (id, v, cluster_id).

    r17 note: a one-row-broadcast-array + `array_max(transform(...))`
    rewrite (no groupBy exchange) was priced and REJECTED — Spark never
    codegens higher-order functions, and the interpreted per-centroid
    struct fold measured +36-62% on every ANN bench row containing the
    assignment (scripts/ab_ann_r17.py at rev f23f2ab; same finding as jaccard_pairs'
    posting-list note). The codegen'd join fan-out + max_by collapse
    stays.
    """
    scored = df.join(F.broadcast(centroids)).withColumn(
        "__sim", cosine(F.col(vec_col), F.col(centroid_vec_col))
    )
    # per-vector argmax via max_by on a (sim, -cluster_id) struct: ties
    # break to the LOWEST cluster id, deterministically
    return (
        scored.groupBy(id_col)
        .agg(
            F.first(vec_col).alias(vec_col),
            F.max_by(
                F.col(centroid_id_col),
                F.struct(F.col("__sim"), -F.col(centroid_id_col)),
            ).alias(centroid_id_col),
        )
    )


def materialize_centroids(centroids: DataFrame) -> DataFrame:
    """Collect the centroid codebook (tiny by contract — n_centroids
    rows) and rebuild it as a local relation.

    The codebook is referenced TWICE in the IVF plan (corpus assignment
    + query probe ranking); a parquet-derived centroid lineage replays
    its corpus scan at each reference (AQE does not dedup broadcast
    subtrees — measured: 2 extra embedding-table scans in ann_ivf_topk).
    Every real IVF system holds the codebook in memory; collecting
    n_centroids x dim doubles driver-side turns both references into
    scan-free local broadcasts.
    """
    spark = centroids.sparkSession
    rows = [
        (int(r["cluster_id"]), [float(x) for x in r["cv"]])
        for r in centroids.collect()
    ]
    return spark.createDataFrame(rows, "cluster_id int, cv array<double>")


def _rank_probes(
    queries: DataFrame, centroids: DataFrame, id_col: str, vec_col: str, n_probe: int
) -> DataFrame:
    """Rank the (broadcast) codebook per query and keep the `n_probe`
    nearest lists — shared by the inline and persisted-index IVF paths
    so their probe semantics cannot drift apart."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    qw = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("cluster_id").asc()
    )
    return (
        q.join(F.broadcast(centroids))
        .withColumn("__sim", cosine(F.col("qv"), F.col("cv")))
        .withColumn("__pr", F.row_number().over(qw))
        .filter(F.col("__pr") <= n_probe)
        .select("query_id", "qv", "cluster_id")
    )


def _score_probed(
    candidates: DataFrame, probes: DataFrame, lut: DataFrame | None = None
) -> DataFrame:
    """Verify the candidates of the probed lists — joined to their probe
    rows on `cluster_id` — into the UNROUNDED frame every IVF tail ranks.

    Without `lut`, exact cosine against the query vector: (query_id,
    neighbor_id, sim). With the ADC lookup table (`_pq_query_lut`), the
    (subspace, code) posting rows join the broadcast LUT and sum exact
    decimals: (query_id, neighbor_id, adc_dec) — no float vector is
    touched at query time, and the sum is order-proof.

    The probe side is a QUERY BATCH (n_queries x n_probe rows) — small
    by contract relative to the corpus-sized candidate side, so it
    broadcasts: without the hint Spark's stats for the windowed probe
    sub-plan overshoot the auto-broadcast threshold and the join falls
    back to SortMerge, shuffling the whole assigned corpus on
    cluster_id (the r5 bench drift's cause)."""
    joined = candidates.join(F.broadcast(probes), on="cluster_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    if lut is None:
        return joined.withColumn("sim", cosine(F.col("qv"), F.col("v"))).select(
            "query_id", "neighbor_id", "sim"
        )
    return (
        joined.join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("ddec").alias("adc_dec"))
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k over an UNROUNDED `_score_probed` frame: cosine
    `sim` descending, or ADC `adc_dec` ascending, ties to the lowest
    neighbor id. Rounding (cosine) and the double cast (ADC) happen
    AFTER ranking, so every IVF path ranks on exactly the same values.
    One window per query: a codebook sized by `select_n_centroids`
    bounds each query's candidates at n_probe x target_list_len.
    """
    adc = "adc_dec" in scored.columns
    score = "adc_dec" if adc else "sim"
    order = [
        F.col(score).asc() if adc else F.col(score).desc(),
        F.col("neighbor_id").asc(),
    ]
    ranked = scored.withColumn(
        "rank", F.row_number().over(Window.partitionBy("query_id").orderBy(*order))
    ).filter(F.col("rank") <= k)
    out = (
        F.col(score).cast("double").alias("adc_dist")
        if adc
        else F.round(score, 6).alias("sim")
    )
    return ranked.select("query_id", "neighbor_id", out, "rank")


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: probe the `n_probe` nearest inverted lists,
    then verify candidates with exact cosine.

    Scale path vs `brute_force_topk`: the corpus is scanned once to build
    assignments (map-side, centroids broadcast); each query touches only
    n_probe/n_centroids of the corpus. The candidate join shuffles on
    cluster_id — bounded by the largest inverted list, not the corpus.
    The codebook is materialized driver-side (`materialize_centroids`)
    so the whole query plans exactly 2 table scans: corpus + queries.

    `centroids` must be (cluster_id int, cv array<double>). Use
    `deterministic_centroids` for reproducible plans or
    `kmeans_lloyd_centroids` for production recall.
    """
    centroids = materialize_centroids(centroids)
    c = df.select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("v"))
    assigned = ivf_assign(c, centroids, "neighbor_id", "v")
    probes = _rank_probes(queries, centroids, id_col, vec_col, n_probe)
    return _rank_topk(_score_probed(assigned, probes), k)


def deterministic_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reproducible coarse quantizer: the `n_centroids` lowest-id vectors.

    Good enough to exercise/verify the IVF plan shape end-to-end (and
    oracle-expressible in SQL); swap in `kmeans_lloyd_centroids` for
    recall-optimal lists — the IVF plan is identical either way.
    """
    # orderBy+limit plans as TakeOrderedAndProject (no global sort); the
    # row_number window then runs over only n_centroids rows
    head = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("cv")).orderBy(
        F.col(id_col).asc()
    ).limit(n_centroids)
    w = Window.orderBy(F.col(id_col).asc())
    return head.withColumn("__rn", F.row_number().over(w)).select(
        (F.col("__rn") - 1).alias("cluster_id"), "cv"
    )


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Exact embedding near-dup pairs: all (a < b) with cosine >= threshold.

    The exact quadratic formulation — correctness oracle for the LSH
    path; at corpus scale use `lsh_bucketed_neighbors` instead.
    """
    v = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    n = v.withColumn("norm", norm(F.col("v")))
    left, right = n.alias("l"), n.alias("r")
    # try_divide, same contract as cosine(): a zero-norm vector yields
    # NULL sim (drops out of the threshold) instead of an ANSI
    # DIVIDE_BY_ZERO that would kill the job
    sim = F.try_divide(
        dot(F.col("l.v"), F.col("r.v")), F.col("l.norm") * F.col("r.norm")
    )
    return (
        left.join(right, on=F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.round("sim", 6).alias("sim"),
        )
    )


def norm_stats_by_label(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label vector-norm profile (n, avg/min/max norm)."""
    with_norm = df.select(
        F.col(label_col), norm(_as_double(F.col(vec_col))).alias("nrm")
    )
    return with_norm.groupBy(label_col).agg(
        F.count("*").alias("n"),
        F.round(F.avg("nrm"), 6).alias("avg_norm"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
    )


def label_centroid_dims(
    df: DataFrame, label_col: str, vec_col: str
) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension).

    posexplode is narrow; the (label, pos) groupBy partial-aggregates
    map-side, so the shuffle carries one (sum, count) pair per
    (label, dim) per input partition — independent of corpus size. The
    per-dim row form avoids array-valued results (engine-portable for
    hash comparison); `assemble_centroids` rebuilds arrays for API use.

    Returns (label_col, pos, n_vecs, centroid) with centroid rounded
    to 6 decimals.
    """
    ex = df.select(
        F.col(label_col),
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "x"),
    )
    return ex.groupBy(label_col, "pos").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("x"), 6).alias("centroid"),
    )


def assemble_centroids(
    dims: DataFrame, label_col: str
) -> DataFrame:
    """Fold `label_centroid_dims` rows back into (label, n_vecs,
    centroid: array<double>) — dimension order restored by sorting the
    (pos, value) structs (struct ordering is field-order lexicographic)."""
    return dims.groupBy(label_col).agg(
        F.max("n_vecs").alias("n_vecs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
            lambda s: s["centroid"],
        ).alias("centroid"),
    )


def random_projection(
    df: DataFrame,
    out_dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "projected",
) -> DataFrame:
    """Johnson-Lindenstrauss-style dimensionality reduction by a
    DETERMINISTIC pseudo-random integer projection matrix:
    plane[t][d] = ((t*8191 + d*127) % 17) - 8, values in [-8, 8].

    Integer plane entries make the projection closed-form reproducible
    in ANY engine (no RNG state to ship); dot products fold
    left-to-right over the array like every other vector op here, so
    Spark and a SQL oracle emit identical doubles. Pure per-row
    higher-order functions — ZERO shuffle, embarrassingly parallel at
    corpus scale; the standard pre-step before ANN when 1024-dim
    embeddings are too wide to bucket cheaply.
    """
    v = _as_double(F.col(vec_col))
    comps = [
        dot(
            v,
            F.transform(
                F.sequence(F.lit(0), F.size(v) - 1),
                lambda d: ((F.lit(t * 8191) + d * 127) % 17 - 8).cast("double"),
            ),
        )
        for t in range(out_dims)
    ]
    return df.select(F.col(id_col), F.array(*comps).alias(out_col))


# --- Product quantization (PQ) ---------------------------------------------
# The memory-bounded ANN scale path: each vector compresses to m one-byte
# codes (64 dims x 4B float -> 8B), and query-time scoring is a table
# lookup (ADC — asymmetric distance computation), not vector math. At
# corpus scale the codes table is ~32x smaller than the float vectors and
# the per-candidate cost is m integer lookups; combined with IVF this is
# the standard billion-vector serving layout (IVFADC).

_PQ_L2 = (
    "aggregate(zip_with(sv, cv, (a, b) -> (a - b) * (a - b)),"
    " CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
)


def _pq_check(m: int, dim: int, ksub: int | None = None) -> None:
    """Enforce the PQ slicing preconditions loudly: a dim that m does
    not divide would silently slice short subvectors (wrong distances,
    no error), and ksub > 256 breaks the one-byte-code memory claim."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} must divide evenly into m={m} subspaces")
    if ksub is not None and not (1 <= ksub <= 256):
        raise ValueError(f"ksub {ksub} must be in [1, 256] for one-byte codes")


def _pq_subvectors(
    df: DataFrame, m: int, width: int, id_col: str, vec_col: str, out_id: str
) -> DataFrame:
    """One row per (vector, subspace) with the double-cast subvector.
    The m-way explode is a literal array — no shuffle, rows grow m-fold
    inside the same tasks."""
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(F.array(*[F.lit(i) for i in range(m)])).alias("subspace"),
        F.col(vec_col).alias("__v"),
    ).select(
        out_id,
        "subspace",
        F.expr(
            f"transform(slice(__v, subspace * {width} + 1, {width}),"
            " x -> CAST(x AS DOUBLE))"
        ).alias("sv"),
    )


def pq_codebooks(
    df: DataFrame,
    m: int,
    ksub: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic per-subspace codebook: the `ksub` lowest-id vectors
    are the seeds (same replayable-seed convention as
    `deterministic_centroids`, so the DuckDB oracle can reproduce the
    exact codebook; swap in per-subspace k-means for production), sliced
    into m width-(dim/m) centroids each.

    Collected driver-side and rebuilt as a local relation — the codebook
    is m*ksub rows and is referenced by BOTH the encode and the LUT
    joins; a distributed lineage would replay its corpus scan per
    reference (the `materialize_centroids` finding).
    """
    _pq_check(m, dim, ksub)
    spark = df.sparkSession
    width = dim // m
    seeds = df.orderBy(id_col).limit(ksub).select(vec_col).collect()
    rows = []
    for code, r in enumerate(seeds):
        v = [float(x) for x in r[vec_col]]
        for s in range(m):
            rows.append((s, code, v[s * width : (s + 1) * width]))
    return spark.createDataFrame(rows, "subspace int, code int, cv array<double>")


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress each vector to m codes: per subspace, the L2-nearest
    codebook centroid (ties break to the lower code, mirrored by the
    oracle's rank ordering).

    Scale shape: corpus scanned once, codebook broadcast, argmin via
    min(struct(dist, code)) so the shuffle carries one pre-aggregated
    row per (vector, subspace) per task — never the k candidate rows.

    r17 note: a one-row `__cbs` broadcast array + per-subspace
    `array_min(transform(...))` argmin (zero shuffle) was priced and
    REJECTED — interpreted HOF evaluation of ksub struct folds per row
    measured +27% on `ann_pq_adc_topk` vs this codegen'd join+aggregate
    (scripts/ab_ann_r17.py at rev f23f2ab).
    """
    _pq_check(m, dim)
    width = dim // m
    sub = _pq_subvectors(df, m, width, id_col, vec_col, "__vid")
    dists = sub.join(F.broadcast(codebooks), "subspace").withColumn(
        "dist", F.expr(_PQ_L2)
    )
    return (
        dists.groupBy("__vid", "subspace")
        .agg(F.min(F.struct("dist", "code")).alias("mc"))
        .select(
            F.col("__vid").alias(id_col), "subspace", F.col("mc.code").alias("code")
        )
    )


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    m: int,
    dim: int,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over PQ codes: build each query's (subspace, code) ->
    distance lookup table exactly once (m*ksub rows per query), then
    score every candidate as the SUM OF LOOKUPS — the codes table joins
    the broadcast LUT and never touches float vectors again.

    Per-subspace distances round to 6 dp and accumulate as
    DECIMAL(18,6), so the ADC total is exact and order-independent
    (micro-batch/task order cannot flip a rank); ranking ties break on
    neighbor id. Returns (query_id, neighbor_id, adc_dist, rank).
    """
    _pq_check(m, dim)
    width = dim // m
    qsub = _pq_subvectors(queries, m, width, id_col, vec_col, "query_id")
    lut = (
        qsub.join(F.broadcast(codebooks), "subspace")
        .withColumn("ddec", F.expr(f"CAST(round({_PQ_L2}, 6) AS DECIMAL(18,6))"))
        .select("query_id", "subspace", "code", "ddec")
    )
    cand = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.sum("ddec").alias("adc_dec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dec").asc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.col("adc_dec").cast("double").alias("adc_dist"),
            "rank",
        )
    )


def ivfadc_topk(
    df: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    m: int,
    dim: int,
    k: int = 3,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC — the standard billion-vector serving composition: IVF
    narrows candidates to the probed inverted lists, PQ/ADC scores them
    as broadcast-LUT lookup sums. After the one-time index build
    (cluster assignment + codes), query-time work never touches a float
    vector: candidates flow as (cluster_id, m byte codes).

    Plan: codebooks broadcast everywhere; the only corpus-sized shuffle
    is attaching codes to assignments (at serving time this join IS the
    persisted index — see write_ivf_index for the partitioned layout);
    the probe join is bounded by the probed lists, and the ADC aggregate
    partial-aggregates map-side over exact decimals (rank order-proof).

    r17 note: fusing the index into one lineage (coarse-assign, then
    the subspace explode IN-TASK carrying cluster_id, then the code
    argmin — removing this SortMergeJoin, its re-sort Exchanges and the
    second corpus scan) was priced and REJECTED: min-of-6 interleaved
    A/B read 1.56-1.90s fused vs 1.37-1.54s composed
    (scripts/ab_one_r17.py at rev f23f2ab). The composition wins because BOTH groupBys
    shuffle only narrow pre-aggregated state (the optimizer prunes the
    unused first(v) from the assignment aggregate) and the SMJ
    re-attaches small (id, cluster_id) rows — while the fused lineage
    must carry the full vector THROUGH the argmax exchange to slice it
    afterwards, i.e. it moves the heavy bytes through a shuffle the
    composition never pays (guide §8's exact warning). Same verdict for
    the persisted build (`write_ivf_index`), which repartitions by
    cluster_id either way.
    """
    _pq_check(m, dim)
    centroids = materialize_centroids(centroids)
    c = df.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("v")
    )
    assigned = ivf_assign(c, centroids, "neighbor_id", "v").select(
        "neighbor_id", "cluster_id"
    )
    codes = pq_encode(df, codebooks, m, dim, id_col, vec_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    # the IVFADC index: inverted-list membership + codes per vector
    index = assigned.join(codes, "neighbor_id")
    probes = _rank_probes(queries, centroids, id_col, vec_col, n_probe).select(
        "query_id", "cluster_id"
    )
    lut = _pq_query_lut(queries, codebooks, m, dim, id_col, vec_col)
    return _rank_topk(_score_probed(index, probes, lut), k)


def _pq_query_lut(
    queries: DataFrame, codebooks: DataFrame, m: int, dim: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """Per-query (subspace, code) -> exact-decimal distance lookup table
    (m*ksub rows per query) — the ADC table built once per query batch
    and broadcast to the candidate scoring join."""
    qsub = _pq_subvectors(queries, m, dim // m, id_col, vec_col, "query_id")
    return (
        qsub.join(F.broadcast(codebooks), "subspace")
        .withColumn("ddec", F.expr(f"CAST(round({_PQ_L2}, 6) AS DECIMAL(18,6))"))
        .select("query_id", "subspace", "code", "ddec")
    )


# --- The persisted IVF index -------------------------------------------------
# ONE index type: parquet laid out as `cluster_id=<c>/` under one codebook.
# Posting rows hold either the vector (neighbor_id, v) or its PQ codes
# (neighbor_id, subspace, code), so IVFADC is an encoding on the same layout,
# not a second index. `write_ivf_index` writes it (build with
# mode="overwrite", maintain with mode="append"), `build_ivf_index` trains
# and sizes the codebook, and `ivf_topk_indexed` serves either encoding. The
# registry rows ann_ivf_indexed_topk, ann_ivf_append_topk,
# ann_ivfadc_indexed_topk, ann_ivfadc_recall_audit and
# ann_ivfadc_compact_topk gate it against the inline
# `ivf_topk`/`ivfadc_topk` oracles.


#: Inverted-list length the serving-flatness measurement was taken at:
#: the sf10 probe (200k vectors) read 0.63s serve with a FIXED k=16
#: (lists ~12.5k, candidates ~50k/query) and 0.215s after rebuilding
#: with k=160 — i.e. lists of 200k/160 = 1250 — at the same n_probe
#: (candidates ~5k; SCALING.md "codebook scaling"). Per-query serve
#: cost is n_probe x list_len, so this is the knob that keeps serving
#: flat as the corpus grows.
IVF_TARGET_LIST_LEN = 1250


def select_n_centroids(
    n_rows: int,
    target_list_len: int = IVF_TARGET_LIST_LEN,
    k_min: int = 4,
    k_max: int = 65536,
) -> int:
    """The codebook-scaling contract (VERDICT r10 #4): pick the IVF
    centroid count so inverted lists stay bounded as the corpus grows —
    k = clamp(ceil(n_rows / target_list_len), k_min, k_max).

    Why a contract and not a footnote: the sf10 campaign MEASURED that
    indexed serve time tracks per-list candidate volume (n_probe x
    n_rows/k), so a fixed k re-couples serving to corpus size — 100x
    data at k=16 grew serve 0.28 -> 0.74s, while k ∝ corpus restored
    0.215s (SCALING.md). Mean list length is n_rows/k <= target_list_len
    by construction whenever the k_min/k_max clamps are inactive.

    Bounds: k_min keeps tiny corpora from degenerating to one list
    (probe selectivity needs > n_probe lists to mean anything); k_max
    caps quantizer cost — past k_max * target_list_len rows (~82M at
    the defaults) the one codebook still serves every corpus, its
    lists simply grow longer than the target.
    Build cost grows with k (assignment is k-wide): the deterministic
    JVM join measured 31 -> 319s for 16 -> 160 at sf10.
    """
    if n_rows < 0:
        raise ValueError(f"n_rows must be >= 0, got {n_rows}")
    if target_list_len < 1:
        raise ValueError(f"target_list_len must be >= 1, got {target_list_len}")
    if not 1 <= k_min <= k_max:
        raise ValueError(f"need 1 <= k_min <= k_max, got {k_min}..{k_max}")
    k = -(-n_rows // target_list_len)  # ceil
    return max(k_min, min(k_max, k))


def _as_codebook(centroids: DataFrame) -> DataFrame:
    """The coarse quantizer in the index's column types: (cluster_id
    int, cv array<double>)."""
    return centroids.select(
        F.col("cluster_id").cast("int").alias("cluster_id"),
        _as_double(F.col("cv")).alias("cv"),
    )


def write_ivf_index(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    mode: str = "overwrite",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_codebook: DataFrame | None = None,
    m: int | None = None,
    dim: int | None = None,
) -> None:
    """THE index writer: assign every vector to its coarse list and
    persist the posting rows as `cluster_id=<c>/` parquet — assignment
    runs ONCE, at write time, and every later serve reads only its
    probed directories. At 100 TB that is the difference between
    re-assigning the corpus per query batch and a directory-pruned read
    of n_probe/n_centroids of the index. `centroids` is the one
    (cluster_id, cv) codebook relation: one scan, one broadcast, one
    write job.

    `mode="overwrite"` builds (replacing whatever was at `path`) and
    first rejects a codebook holding a NULL centroid vector, before any
    row lands. `mode="append"` is INCREMENTAL maintenance: only the new
    vectors assign against the (frozen) codebook and land in the
    existing directories — existing lists are never read or rewritten,
    and the serve reads the union transparently. The codebook must be
    the one the index was built with — appending under a different
    quantizer silently corrupts list membership (pinned by a test), so
    callers snapshot it beside the index. Append-equals-rebuild is
    oracle-gated (`ann_ivf_append_topk`) and property-tested; after
    many small appends `sources.parquet.compact_parquet(...,
    partition_by=["cluster_id"])` rewrites the lists at target file
    size with serving results unchanged (`ann_ivfadc_compact_topk`).

    Passing `pq_codebook` (`pq_codebooks`, with its `m` and `dim`)
    writes PQ codes instead of vectors: (neighbor_id, subspace, code)
    rows, ~32x smaller than the embeddings, served by the ADC tail. The
    PQ codebook is frozen with the index exactly like the coarse one.

    r17 note: fusing the PQ encode into the assignment lineage was
    priced and REJECTED with the inline composition (see `ivfadc_topk`):
    both groupBys shuffle only narrow pre-aggregated state, while the
    fused lineage carries the full vector through the argmax exchange.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")
    if pq_codebook is not None:
        _pq_check(m, dim)
    book = _as_codebook(centroids)
    if mode == "overwrite" and book.filter(F.col("cv").isNull()).limit(1).collect():
        raise ValueError(
            "codebook contains NULL centroid vectors (cv) — rebuild the "
            "codebook before writing the index"
        )
    c = df.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("v")
    )
    rows = ivf_assign(c, book, "neighbor_id", "v")
    if pq_codebook is not None:
        codes = pq_encode(df, pq_codebook, m, dim, id_col, vec_col)
        rows = rows.select("neighbor_id", "cluster_id").join(
            codes.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id"
        )
    (
        rows.repartition("cluster_id")
        .write.partitionBy("cluster_id")
        .mode(mode)
        .parquet(path)
    )


def build_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_list_len: int = IVF_TARGET_LIST_LEN,
    n_updates: int = 1,
    max_train_rows: int | None = None,
) -> DataFrame:
    """The production build: size, train and write the index in one
    call. Returns the local codebook relation — the snapshot the caller
    keeps beside the index for `write_ivf_index(mode="append")` and
    `ivf_topk_indexed`.

    Sizing: one corpus count picks k by the codebook-scaling contract
    (`select_n_centroids`), so lists stay at target length up to the
    k_max clamp. Training: the deterministic Lloyd quantizer
    (`kmeans_lloyd_centroids`, `n_updates` updates) on a bounded sample
    (VERDICT r16 #4 — at most `max_train_rows` vectors, None -> 256 x
    k), so training cost stays flat as the corpus grows; with the count
    in hand, a corpus that fits the cap trains unbounded, keeping plan
    and centroids byte-identical to the pre-cap build. The write itself
    is one pass (`write_ivf_index`); a PQ-code index over the same
    codebook is one more `write_ivf_index(df, book, path,
    pq_codebook=...)`.
    """
    n_rows = df.count()
    k = select_n_centroids(n_rows, target_list_len)
    cap = _resolve_train_cap(k, max_train_rows)
    book = kmeans_lloyd_centroids(
        df,
        id_col,
        vec_col,
        k=k,
        n_updates=n_updates,
        # count in hand: a corpus inside the cap trains unbounded (0)
        max_train_rows=0 if (cap is None or n_rows <= cap) else cap,
    )
    write_ivf_index(df, book, path, "overwrite", id_col, vec_col)
    return book


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_probe: int = 4,
    pq_codebook: DataFrame | None = None,
    m: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """THE index serve, for either encoding: probe the codebook, prune
    the index scan to the probed directories, verify, and rank. Same
    rows as the inline `ivf_topk` (or, with `pq_codebook`,
    `ivfadc_topk`) whenever the quantizers are the same — but the
    corpus is never re-assigned and never fully read. `centroids` is
    the codebook relation the index was written with.

    Scoring tail. Without `pq_codebook`, exact cosine on the stored
    vectors: (query_id, neighbor_id, sim, rank). With it (and its `m`,
    `dim`), the ADC lookup table is built once per query batch and the
    (subspace, code) rows score as exact-decimal lookup sums:
    (query_id, neighbor_id, adc_dist, rank).

    Plan: ONE probe-ranking job (the n_probe nearest lists per query);
    ONE materialization of that bounded probe frame (`localCheckpoint`)
    shared by its two consumers; ONE bounded collect of the distinct
    probed cluster ids — O(n_centroids) ints, never O(n_queries): the
    probe frame itself (query vectors included) stays distributed
    (VERDICT r5 #4); ONE index scan with a LITERAL partition predicate,
    so Catalyst prunes to exactly the probed directories
    (PartitionFilters in the plan — asserted in tests); ONE verify join
    on cluster_id.

    Failure mode (ADVICE r7): `localCheckpoint` truncates lineage, so an
    executor loss between the checkpoint and the caller's evaluation of
    the result fails THAT query (the caller retries; the index is
    durable parquet).

    Degenerate corpus (r15, measured): 200k identical vectors tie into
    ONE list, so the pruned scan is one corpus-sized directory whose
    parquet RLE-compresses past byte-range splitting — a one-task
    verify (18.8 s for an 8-query batch; repartitioning the candidates
    to 32 tasks read 2.61 s). The structural fix is exact pre-dedup
    (SCALING.md): collapse bitwise-equal vectors first, then no list is
    hot anywhere.
    """
    if pq_codebook is not None:
        _pq_check(m, dim)
    probes = _rank_probes(queries, _as_codebook(centroids), id_col, vec_col, n_probe)
    lut = None
    if pq_codebook is not None:
        probes = probes.drop("qv")  # ADC never touches a float vector
        lut = _pq_query_lut(queries, pq_codebook, m, dim, id_col, vec_col)
    probes = probes.localCheckpoint(eager=True)
    probed = sorted(
        int(r["cluster_id"]) for r in probes.select("cluster_id").distinct().collect()
    )
    index = spark.read.parquet(index_path).filter(F.col("cluster_id").isin(probed))
    return _rank_topk(_score_probed(index, probes, lut), k)


def sq_dist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance between two array<double> columns,
    folded left-to-right (same order as the DuckDB oracle's list_sum)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _lloyd_assign_once(v: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """One deterministic Lloyd assignment pass: squared-Euclidean argmin
    against the broadcast centroids (distance rounded to 6 decimals
    BEFORE the argmin; ties break to the lowest cluster_id). Returns
    (id_col, cluster_id, dist, v).

    r17 note: the one-row-broadcast-array + `array_min(transform(...))`
    rewrite (no per-update groupBy exchange) was priced and REJECTED
    with the `ivf_assign`/`pq_encode` HOF rewrites — flat at k=8 and
    +60% on `ann_kmeans_recall_audit` (scripts/ab_ann_r17.py
    at rev f23f2ab)."""
    scored = v.join(F.broadcast(cents)).withColumn(
        "dist", F.round(sq_dist(F.col("v"), F.col("cv")), 6)
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.min(F.struct("dist", "cluster_id")).alias("m"),
            F.first("v").alias("v"),
        )
        .select(
            id_col,
            F.col("m.cluster_id").alias("cluster_id"),
            F.col("m.dist").alias("dist"),
            "v",
        )
    )


def _lloyd_update(assigned: DataFrame) -> DataFrame:
    """One deterministic Lloyd update: per-dimension mean of each
    cluster's members, rounded to 6 decimals so cross-engine
    summation-order ulps cannot leak into the next iteration. Clusters
    with no members simply drop out (no re-seeding)."""
    dims = assigned.select("cluster_id", F.posexplode("v").alias("pos", "x"))
    return (
        dims.groupBy("cluster_id", "pos")
        .agg(F.round(F.avg("x"), 6).alias("c"))
        .groupBy("cluster_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("cv")
        )
    )


def _resolve_train_cap(k: int, max_train_rows: int | None) -> int | None:
    """The training-sample cap contract (VERDICT r16 #4): None ->
    256 * k (the FAISS convention for 'enough points per centroid to
    train a quantizer'), 0 -> unbounded (train on the whole corpus —
    the explicit escape hatch and the bitwise-gate baseline), n >= 1 ->
    cap at n. Returns the resolved cap or None for unbounded."""
    if max_train_rows is None:
        return 256 * k
    if max_train_rows < 0:
        raise ValueError(
            f"max_train_rows must be >= 0 (0 = unbounded), got {max_train_rows}"
        )
    return max_train_rows if max_train_rows > 0 else None


def _train_sample(v: DataFrame, id_col: str, cap: int) -> DataFrame:
    """Deterministic bounded training sample: the `cap` lowest rows by
    (xxhash64(id), id) — a uniform-ish, seedless, ORACLE-REPLAYABLE
    draw (expressible in SQL as ORDER BY hash LIMIT n). The id tiebreak pins the boundary row
    when two ids collide on the hash.

    Identity by construction when cap >= corpus: a top-N over <= N rows
    passes every row through, and the Lloyd trainer downstream is
    order-independent (init re-sorts by id; updates are rounded
    aggregates), so capping at-or-above the corpus reproduces the
    unbounded centroids — the bitwise gate in
    tests/test_retrieval_clustering.py.

    Scale shape: plans as TakeOrderedAndProject (per-partition top-N,
    one merge of cap rows — never a global sort), so the sample costs
    one corpus scan regardless of corpus size; the caller repartitions
    and persists the cap-bounded result so every training pass after
    the first reads cached sample bytes, not the corpus."""
    return v.orderBy(
        F.xxhash64(F.col(id_col)).asc(), F.col(id_col).asc()
    ).limit(cap)


def kmeans_lloyd_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_updates: int = 1,
    max_train_rows: int | None = None,
) -> DataFrame:
    """Centroids after `n_updates` deterministic Lloyd updates from the
    lowest-id-vector init — the oracle-replayable PRODUCTION quantizer
    feed for IVF index builds (`ann_kmeans_recall_audit` gates that the
    resulting inverted lists reach at-least-deterministic recall).

    Training reads at most `max_train_rows` vectors (VERDICT r16 #4 —
    None -> the FAISS-convention 256 * k; 0 -> unbounded), drawn as the
    deterministic hash-ordered top-N (`_train_sample`). This caps the
    assignment join at O(k * max_train_rows) per update REGARDLESS of
    corpus size — without it each update joins EVERY corpus row against
    the codebook (~40 BILLION joined rows per pass at 20M vectors x
    k=2000, the build path's scale wall), which is why a
    100-TB build could never afford a trained codebook. A cap at or
    above the corpus size reproduces the unbounded centroids exactly
    (the top-N passes every row through and the trainer is
    order-independent) — bitwise-gated in tests, so the frozen registry
    queries are unchanged at every test scale.

    Returns a LOCAL (cluster_id, cv) relation (`materialize_centroids`),
    ready to broadcast into `ivf_topk`/`write_ivf_index`; per-update
    driver traffic is k x dim doubles, never rows (the same contract as
    `kmeans_lloyd_assign`, whose loop this factors out).
    """
    if n_updates < 0:
        raise ValueError(f"n_updates must be >= 0, got {n_updates}")
    cap = _resolve_train_cap(k, max_train_rows)
    v = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    train = v if cap is None else _train_sample(v, id_col, cap)
    cached = None
    if cap is not None and n_updates > 0:
        # the top-N merge lands on ONE partition; spread the (bounded)
        # sample back out and cache it so the init pass and every
        # update's assignment read cached sample bytes, not the corpus
        cached = train = train.repartition(
            df.sparkSession.sparkContext.defaultParallelism
        ).persist()
    try:
        cents = materialize_centroids(
            deterministic_centroids(train, k, id_col, "v")
        )
        for _ in range(n_updates):
            cents = materialize_centroids(
                _lloyd_update(_lloyd_assign_once(train, cents, id_col))
            )
    finally:
        if cached is not None:
            cached.unpersist()
    return cents


def kmeans_lloyd_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
    max_train_rows: int | None = None,
) -> DataFrame:
    """Distributed Lloyd k-means over an embedding column — the semantic
    clustering step of cluster-based data curation (balance / prune a
    corpus by semantic cluster before training).

    Deterministic by construction so the plan is oracle-replayable:
    init centroids are the k lowest-id vectors; each iteration assigns
    by squared-Euclidean argmin (distance rounded to 6 decimals before
    the argmin; ties break to the lowest cluster_id) and recomputes
    centroids as the per-dimension mean, rounded to 6 decimals so
    cross-engine summation-order ulps cannot leak into the next
    iteration. Clusters that receive no points simply drop out (no
    re-seeding), identically on both engines.

    Scale shape — the canonical Spark Lloyd loop (what pyspark.ml does):
      - centroids live driver-side (k x dim doubles, O(kB)) and ride a
        broadcast into the assignment join; the per-vector argmin
        groupBy exchanges one (id, vec) row per vector per iteration
        (the honest cost of the join+max_by formulation — see the
        SCALING.md r8 note for why the zero-shuffle expression rewrite
        loses);
      - the update step posexplodes to (cluster, dim, x) and
        partial-aggregates map-side, so the per-iteration shuffle
        carries one (sum, count) per (cluster, dim) per input partition
        — independent of corpus row count;
      - per-iteration driver traffic is k x dim doubles, never rows;
      - TRAINING (the n_iter - 1 updates) reads at most `max_train_rows`
        vectors (None -> 256 * k, 0 -> unbounded — the
        `kmeans_lloyd_centroids` cap contract); only the one FINAL
        assignment pass touches the full corpus, so the per-row cost at
        100 TB is one broadcast argmin, not n_iter of them.
    Returns (id_col, cluster_id, dist) after `n_iter` assignment passes
    (i.e. n_iter - 1 centroid updates then one final assignment).
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    v = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    cents = kmeans_lloyd_centroids(
        df, id_col, vec_col, k, n_iter - 1, max_train_rows
    )
    return _lloyd_assign_once(v, cents, id_col).select(
        id_col, "cluster_id", "dist"
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str,
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked retrieval lists — the
    standard hybrid-retrieval combiner (Cormack et al., SIGIR'09) for a
    lexical (BM25) leg and a dense (embedding-cosine) leg.

    Each input must carry (id_col, rank) with rank 1-based. A document
    appearing in only one list contributes that leg's reciprocal alone:

        rrf(d) = sum over legs containing d of 1 / (c + rank_leg(d))

    PRECONDITION (ADVICE r8 #3): within each leg, `id_col` must be
    NON-NULL and UNIQUE — exactly one rank per document per leg.
    row_number()-ranked legs (this repo's BM25 and ANN legs) satisfy
    both by construction. The union+groupBy formulation below silently
    ASSUMES it: a duplicated id collapses to its max (worst) rank
    instead of summing two reciprocals, and NULL ids from both legs
    group into one phantom row — either would change fused scores
    without erroring. A future leg ranked by something other than
    row_number (e.g. dense_rank, which can emit ties) must dedup to one
    row per id first. The deviation is pinned by
    tests/test_similarity.py::test_rrf_fuse_precondition_unique_nonnull_ids
    so this contract can't drift silently.

    Floating-point discipline: each term is ONE integer->double division
    (correctly rounded, engine-independent) and the sum of the two is a
    single IEEE add, so the oracle hashes bitwise without rounding.

    Scale shape: both inputs are top-N limited (a few rows regardless of
    corpus size), so the fusion and the final TakeOrdered are
    driver-trivial; all the heavy lifting stays in the legs, which keep
    their own 100-TB plans (postings-pruned BM25 scan, IVF serving).
    The outer combine is a UNION + one tiny groupBy rather than a
    full-outer join: Spark cannot broadcast full-outer joins, so the
    join formulation forced a SortMerge (sort + exchange on BOTH legs'
    lineages) for a <= 2N-row merge (r8; semantics identical — max over
    one non-null rank per leg per id reproduces the outer join's rows).
    """
    a = ranked_a.select(
        F.col(id_col),
        F.col("rank").alias("rank_a"),
        F.lit(None).cast("int").alias("rank_b"),
    )
    b = ranked_b.select(
        F.col(id_col),
        F.lit(None).cast("int").alias("rank_a"),
        F.col("rank").alias("rank_b"),
    )
    fused = (
        a.unionByName(b)
        .groupBy(id_col)
        .agg(
            F.max("rank_a").alias("rank_a"),
            F.max("rank_b").alias("rank_b"),
        )
        .withColumn(
            "rrf",
            F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("rank_b")), F.lit(0.0)),
        )
        .orderBy(F.desc("rrf"), F.asc(id_col))
        .limit(k)
    )
    w = Window.orderBy(F.desc("rrf"), F.asc(id_col))
    return fused.withColumn("fused_rank", F.row_number().over(w)).select(
        id_col, "rrf", "rank_a", "rank_b", "fused_rank"
    )
