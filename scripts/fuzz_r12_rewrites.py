#!/usr/bin/env python
"""Randomized differential fuzz of the r12 skew-hardened rewrites.

Every r12 rewrite replaced a window-form operator with an
aggregate/join decomposition that must be ROW-IDENTICAL. The unit
tests pin hand-built adversarial shapes (boundary-straddling gaps,
all-ties, null order keys); this fuzzer drives the same equivalences
with seeded random frames — hot keys, empty groups, null text,
single-row groups, span-straddling ids — comparing each rewrite
against a naive window/lag reference built inline.

Usage: python scripts/fuzz_r12_rewrites.py [n_rounds] [base_seed]
Prints one line per (operator, round); exits non-zero on any mismatch.
"""

from __future__ import annotations

import os
import random
import sys
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from redpanda_to_parquet_writer_spark.config import EngineConfig  # noqa: E402
from redpanda_to_parquet_writer_spark.session import get_spark  # noqa: E402

WORDS = ["the", "hot", "line", "a", "b", "c", "xx", "yy", "zz", "boiler"]
# ADVICE r13: the regex-rewrite differential (one-pass [^a-z0-9]+ vs the
# oracle's two-pass punct->space + whitespace-squeeze) only has teeth on
# inputs where the two programs COULD diverge — punctuation runs, digits,
# uppercase, unicode, and mixed-whitespace runs, none of which the old
# lowercase-alpha-words generator ever produced.
RICH_WORDS = WORDS + [
    "Hello,",
    "WORLD!",
    "e.g.",
    "42",
    "3.14",
    "FOO_BAR",
    "x+y=z",
    "(paren)",
    "—dash—",
    "naïve",
    "…",
    "a1b2",
    "semi;colon",
    '"quoted"',
]
# separators: mostly single spaces, sometimes runs/tabs/newlines/CRLF/\x0B
SEPS = [" "] * 8 + ["  ", "\t", "\n", "\r\n", " \t ", "\x0b", "   \n\t"]


def _random_docs(rng: random.Random, spark, null_id_p: float = 0.0):
    """Docs with hot repeated lines, empty/null texts, short docs, rich
    punctuation/digit/uppercase/whitespace-run content (ADVICE r13), and
    — when `null_id_p` > 0 — occasional NULL doc_ids (the key-contract
    input: dedup operators treat id as a KEY and drop null-id rows)."""

    def _text(k_lo: int, k_hi: int) -> str:
        k = rng.randint(k_lo, k_hi)
        toks = rng.choices(RICH_WORDS, k=k)
        return "".join(
            t + (rng.choice(SEPS) if j < k - 1 else "")
            for j, t in enumerate(toks)
        )

    n = rng.randint(1, 120)
    hot_line = " ".join(rng.choices(WORDS, k=10))
    rows = []
    for i in range(n):
        r = rng.random()
        if r < 0.15:
            text = None
        elif r < 0.3:
            text = ""
        elif r < 0.6:
            # contains the hot line + noise
            noise = _text(0, 25)
            text = (hot_line + " " + noise).strip()
        else:
            text = _text(1, 40)
        doc_id = None if rng.random() < null_id_p else i
        rows.append((doc_id, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows_sorted(df):
    # repr-keyed sort: None-safe (mixed None/int tuples don't compare)
    return sorted((tuple(r) for r in df.collect()), key=repr)


def fuzz_line_dedup(rng, spark) -> bool:
    from redpanda_to_parquet_writer_spark.operators.text import (
        line_dedup_stats,
        tokens,
    )

    df = _random_docs(rng, spark)
    got = _rows_sorted(line_dedup_stats(df, "text", "doc_id", line_tokens=3))

    toks = tokens("text")
    n_lines = F.ceil(F.size(toks).cast("double") / 3).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 3 + 1, 3)),
    )
    exploded = df.filter(F.col("text").isNotNull()).select(
        F.col("doc_id"), F.posexplode(lines).alias("line_idx", "line")
    )
    w = Window.partitionBy("line").orderBy("doc_id", "line_idx")
    ref = (
        exploded.withColumn("__rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("__rn") > 1, 1).otherwise(0)).alias("n_dupes"),
        )
    )
    return got == _rows_sorted(ref)


def fuzz_normalized_fingerprint(rng, spark) -> bool:
    from redpanda_to_parquet_writer_spark.operators.text import (
        normalized_fingerprint,
    )

    # null_id_p: the id is a KEY (null-id rows dropped — the documented
    # normalized_fingerprint contract); the reference applies the same
    # drop explicitly, so the fuzz gates it differentially (ADVICE r13)
    df = _random_docs(rng, spark, null_id_p=0.1)
    got = _rows_sorted(normalized_fingerprint(df, "text", "doc_id"))

    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 \\t\\n\\r]", " "),
            "[ \\t\\n\\r]+",
            " ",
        )
    )
    base = df.filter(F.col("doc_id").isNotNull()).select(
        F.col("doc_id"), F.md5(norm).alias("norm_fp")
    )
    w = Window.partitionBy("norm_fp")
    ref = (
        base.withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("n_variants", F.count(F.lit(1)).over(w))
        .select("doc_id", "norm_fp", "canonical_id", "n_variants")
    )
    return got == _rows_sorted(ref)


def fuzz_keep_first(rng, spark) -> bool:
    from redpanda_to_parquet_writer_spark.operators.dedup import (
        content_dedup_keep_first,
    )

    n = rng.randint(1, 150)
    payloads = [rng.choice(["dup", "dup2", "x", "y", None]) for _ in range(n)]
    rows = []
    seen = set()
    for i, p in enumerate(payloads):
        # unique (partition, offset) with occasional null order keys
        part = rng.choice([0, 1, None])
        off = i if rng.random() > 0.1 else None
        key = (part, off)
        if key in seen:
            off = i + 1000
        seen.add((part, off))
        rows.append((part, off, p))
    df = spark.createDataFrame(
        rows, "kafka_partition long, kafka_offset long, payload string"
    )
    got = _rows_sorted(
        content_dedup_keep_first(
            df, content_cols=["payload"], order_cols=["kafka_partition", "kafka_offset"]
        )
    )
    hashed = df.withColumn("_h", F.md5(F.coalesce(F.col("payload"), F.lit("\0"))))
    w = Window.partitionBy("_h").orderBy(
        F.col("kafka_partition").asc(), F.col("kafka_offset").asc()
    )
    ref = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )
    # compare as payload -> surviving key (content_hash differs from the
    # md5 stand-in, but the SELECTED ROW per content must match)
    def keymap(rows_):
        return {r[2]: (r[0], r[1]) for r in rows_}

    return keymap(got) == keymap(_rows_sorted(ref))


def fuzz_offset_gaps(rng, spark) -> bool:
    import redpanda_to_parquet_writer_spark.streaming.stateful as st

    span_was = st.GAP_SPAN
    st.GAP_SPAN = rng.choice([4, 8, 16])
    try:
        rows = []
        for p in range(rng.randint(1, 4)):
            offs = sorted(
                rng.sample(range(0, 200), rng.randint(1, 60))
            )
            rows += [(p, o) for o in offs]
        df = spark.createDataFrame(rows, "kafka_partition long, kafka_offset long")
        got = _rows_sorted(st.offset_gaps_batch(df))
        w = Window.partitionBy("kafka_partition").orderBy("kafka_offset")
        prev = F.lag("kafka_offset").over(w)
        ref = (
            df.distinct()
            .withColumn("__p", prev)
            .filter(F.col("kafka_offset") > F.col("__p") + 1)
            .select(
                "kafka_partition",
                (F.col("__p") + 1).alias("gap_start"),
                (F.col("kafka_offset") - 1).alias("gap_end"),
                (F.col("kafka_offset") - F.col("__p") - 1).alias("n_missing"),
            )
        )
        return got == _rows_sorted(ref)
    finally:
        st.GAP_SPAN = span_was


def fuzz_grouped_running_sum(rng, spark) -> bool:
    import redpanda_to_parquet_writer_spark.operators.sampling as sa

    span_was = sa.PREFIX_SPAN
    sa.PREFIX_SPAN = rng.choice([4, 8, 32])
    try:
        rows = []
        i = 0
        for g in ["a", "b", "c"][: rng.randint(1, 3)]:
            for _ in range(rng.randint(1, 80)):
                rows.append((g, i, rng.randint(0, 50)))
                i += rng.randint(1, 9)  # sparse, span-straddling ids
        df = spark.createDataFrame(rows, "source string, doc_id long, v long")
        got = _rows_sorted(sa._grouped_running_sum(df, "source", "doc_id", "v"))
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        ref = df.withColumn("cum", F.sum("v").over(w))
        return got == _rows_sorted(ref)
    finally:
        sa.PREFIX_SPAN = span_was


def fuzz_tfidf_top_terms(rng, spark) -> bool:
    """df-guard rewrite (r12): document frequency as an aggregate +
    join-back must match the naive pre-r12 count window over the term."""
    from redpanda_to_parquet_writer_spark.operators.text import (
        tfidf_top_terms,
        tokens,
    )

    df = _random_docs(rng, spark)
    k = rng.randint(1, 5)
    got = _rows_sorted(tfidf_top_terms(df, "text", "doc_id", k=k))

    toks = df.select(F.col("doc_id"), F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = df.count()
    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    ).withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    ref = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "tfidf", "rank")
    )
    return got == _rows_sorted(ref)


def fuzz_unigram_logprob(rng, spark) -> bool:
    """df-guard rewrite (r12): corpus term counts as an aggregate +
    join-back must match the naive sum window over the term. The tail
    (DECIMAL micro-unit rounding) is shared verbatim, so any mismatch
    isolates the guard itself."""
    from redpanda_to_parquet_writer_spark.operators.text import (
        token_count,
        tokens,
        unigram_logprob,
    )

    df = _random_docs(rng, spark)
    got = _rows_sorted(unigram_logprob(df, "text", "doc_id"))

    toks = df.select(F.col("doc_id"), F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    total = df.select(token_count("text").alias("__dl")).agg(
        F.sum("__dl").alias("__t")
    )
    scored = (
        tf.withColumn("cnt", F.sum("tf").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "lp",
            F.expr(
                "CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(__t AS DOUBLE)), 6)"
                " AS DECIMAL(18,6))"
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("lp")).alias("s"),
    )
    ref = per_doc.select(
        "doc_id",
        "n_tokens",
        F.expr(
            "CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)"
            " * ((2 * CAST(abs(s) * 1000000 AS DECIMAL(38,0)) + n_tokens)"
            "    DIV (2 * n_tokens)) AS DOUBLE) / 1000000.0"
        ).alias("avg_logprob"),
    )
    return got == _rows_sorted(ref)


def fuzz_dup_ngram_fraction(rng, spark) -> bool:
    """df-guard rewrite (r12): gram document-frequency as an aggregate +
    join-back must match the naive count window over the gram."""
    from redpanda_to_parquet_writer_spark.operators.text import (
        dup_ngram_fraction,
        with_ngrams,
    )

    df = _random_docs(rng, spark)
    n = rng.choice([2, 3])
    min_docs = rng.choice([2, 3])
    got = _rows_sorted(dup_ngram_fraction(df, "text", "doc_id", n=n, min_docs=min_docs))

    grams = with_ngrams(df, "text", n)
    tf = (
        grams.select(F.col("doc_id"), F.explode("ngrams").alias("__g"))
        .groupBy("doc_id", "__g")
        .agg(F.count("*").alias("__tf"))
    )
    out = (
        tf.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("__g")))
        .groupBy("doc_id")
        .agg(
            F.sum("__tf").alias("n_positions"),
            F.coalesce(
                F.sum(F.when(F.col("__df") >= min_docs, F.col("__tf"))), F.lit(0)
            )
            .cast("long")
            .alias("n_dup_positions"),
        )
    )
    dup_frac = F.expr(
        "(n_dup_positions * 2000000 + n_positions) DIV (2 * n_positions)"
    ) / F.lit(1000000.0)
    ref = out.select("doc_id", "n_positions", "n_dup_positions", dup_frac.alias("dup_frac"))
    return got == _rows_sorted(ref)


def fuzz_bm25_topk(rng, spark) -> bool:
    """df-guard rewrite (r12): per-term document frequency as an
    aggregate + join-back must match the naive count window over the
    postings."""
    from redpanda_to_parquet_writer_spark.operators.text import (
        bm25_topk,
        token_count,
        tokens,
    )

    df = _random_docs(rng, spark)
    terms = tuple(rng.sample(WORDS, rng.randint(1, 4)))
    k = rng.randint(1, 20)
    got = _rows_sorted(bm25_topk(df, "text", "doc_id", terms, k=k))

    k1, b = 1.2, 0.75
    corpus = df.select(token_count("text").alias("dl")).agg(
        F.count("*").alias("__n"), F.avg("dl").alias("__avgdl")
    )
    term_set = F.array(*[F.lit(t) for t in terms])
    postings = (
        df.select(
            F.col("doc_id"),
            token_count("text").alias("dl"),
            F.explode(
                F.filter(tokens("text"), lambda t: F.array_contains(term_set, t))
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )
    scored = (
        postings.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0) + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.round(F.sum("term_score"), 6).alias("bm25"),
        F.count("*").alias("n_terms_matched"),
    )
    topk = per_doc.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    ref = topk.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "bm25", "n_terms_matched", "rank"
    )
    return got == _rows_sorted(ref)


def fuzz_jaccard_max_doc_freq(rng, spark) -> bool:
    """`jaccard_pairs` and `containment_pairs` (both `max_doc_freq=...`,
    one shared posting-list counter) against a PURE-PYTHON oracle:
    Jaccard and containment over the DF-filtered shingle space, computed
    driver-side from the collected shingle sets of one draw (threshold 0
    so no rounded-boundary filter flake; Jaccard compares within 2e-6 of
    the exact rational, containment exactly against Decimal half-up)."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal
    from fractions import Fraction

    from redpanda_to_parquet_writer_spark.operators.text import (
        containment_pairs,
        jaccard_pairs,
        with_ngrams,
    )

    df = _random_docs(rng, spark)
    cap = rng.randint(1, 6)
    grams = with_ngrams(df, "text", 2)
    got_j = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(grams, "doc_id", "ngrams", 0.0, max_doc_freq=cap).collect()
    }
    got_c = {
        (r["id_a"], r["id_b"]): (r["common"], r["containment"])
        for r in containment_pairs(
            grams, "doc_id", "ngrams", 0.0, max_doc_freq=cap
        ).collect()
    }

    sets = {
        r["doc_id"]: set(r["ngrams"] or [])
        for r in grams.select("doc_id", "ngrams").collect()
    }
    dfc = Counter(g for s in sets.values() for g in s)
    surviving = {d: {g for g in s if dfc[g] <= cap} for d, s in sets.items()}
    want_j, want_c = {}, {}
    ids = sorted(surviving)
    for i, a in enumerate(ids):
        for bb in ids[i + 1 :]:
            common = len(surviving[a] & surviving[bb])
            if common == 0:
                continue
            union = len(surviving[a]) + len(surviving[bb]) - common
            want_j[(a, bb)] = Fraction(common, union)
            smaller = min(len(surviving[a]), len(surviving[bb]))
            share = (Decimal(common) / smaller).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
            want_c[(a, bb)] = (common, float(share))
    if set(got_j) != set(want_j) or got_c != want_c:
        return False
    return all(abs(got_j[p] - float(want_j[p])) < 2e-6 for p in got_j)


def fuzz_lsh_salted_bucket_cap(rng, spark) -> bool:
    """The salted hot-bucket cap (r12: two-phase sub-collect) against a
    PURE-PYTHON oracle: drop buckets over the cap, enumerate in-bucket
    pairs, dedupe across buckets. Plants a hot over-cap bucket and NULL
    bucket keys (the ADVICE r12 null-safe join-back case)."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        bucket_pair_candidates,
    )

    n = rng.randint(2, 150)
    keys = ["k1", "k2", "k3", "hot", "hot", "hot", "hot", None]
    rows = [(i, rng.randint(0, 2), rng.choice(keys)) for i in range(n)]
    cap = rng.randint(1, 12)
    df = spark.createDataFrame(rows, "id long, band int, key string")
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in bucket_pair_candidates(
            df, ["band", "key"], "id", [], max_bucket_size=cap
        ).collect()
    )

    buckets: dict[tuple, list[int]] = {}
    for i, band, key in rows:
        buckets.setdefault((band, key), []).append(i)
    pairs = set()
    for members in buckets.values():
        if 1 < len(members) <= cap:
            ms = sorted(members)
            for x in range(len(ms)):
                for y in range(x + 1, len(ms)):
                    pairs.add((ms[x], ms[y]))
    return got == sorted(pairs)


def fuzz_sampled_lloyd_trainer(rng, spark) -> bool:
    """r17 family #14 (VERDICT r16 #4): the bounded-sample Lloyd
    trainer on random corpora — random dims, k, update counts, and
    duplicate vectors (tie-break path). The IDENTITY contract: a cap
    at or above the corpus size must reproduce the unbounded centroids
    EXACTLY (the hash-ordered top-N passes every row through and the
    trainer is order-independent)."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        kmeans_lloyd_centroids,
    )

    dim = rng.choice([2, 4, 8])
    n = rng.randint(40, 120)
    rows = []
    for i in range(n):
        if rng.random() < 0.15 and rows:
            vec = list(rng.choice(rows)[1])  # duplicate vector, new id
        else:
            vec = [rng.uniform(-2.0, 2.0) for _ in range(dim)]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    k = rng.randint(2, 6)
    n_updates = rng.randint(0, 3)

    def cents(**kw):
        return _rows_sorted(
            kmeans_lloyd_centroids(df, k=k, n_updates=n_updates, **kw)
        )

    unbounded = cents(max_train_rows=0)
    return cents(max_train_rows=n + rng.randint(0, 20)) == unbounded


FUZZERS = {
    "line_dedup": fuzz_line_dedup,
    "sampled_lloyd_trainer": fuzz_sampled_lloyd_trainer,
    "normalized_fingerprint": fuzz_normalized_fingerprint,
    "keep_first": fuzz_keep_first,
    "offset_gaps": fuzz_offset_gaps,
    "grouped_running_sum": fuzz_grouped_running_sum,
    # r13 extensions (VERDICT r12 #3): the df join-back guards and the
    # salted LSH hot-bucket cap, previously oracle-gated on fixed
    # fixtures only
    "tfidf_top_terms": fuzz_tfidf_top_terms,
    "unigram_logprob": fuzz_unigram_logprob,
    "dup_ngram_fraction": fuzz_dup_ngram_fraction,
    "bm25_topk": fuzz_bm25_topk,
    "jaccard_max_doc_freq": fuzz_jaccard_max_doc_freq,
    "lsh_salted_bucket_cap": fuzz_lsh_salted_bucket_cap,
}


def main() -> int:
    n_rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    base_seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1234
    spark = get_spark(
        EngineConfig(master="local[8]", shuffle_partitions=8), "fuzz-r12"
    )
    spark.sparkContext.setLogLevel("ERROR")
    rc = 0
    for rnd in range(n_rounds):
        for name, fn in FUZZERS.items():
            # crc32, not hash(): str hash is PYTHONHASHSEED-randomized
            # per process, so a printed seed would not replay a failure
            # in a fresh run (ADVICE r12)
            seed = base_seed + rnd * 1000 + zlib.crc32(name.encode()) % 1000
            ok = fn(random.Random(seed), spark)
            print(f"{name} round={rnd} seed={seed} {'OK' if ok else 'MISMATCH'}", flush=True)
            if not ok:
                rc = 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
