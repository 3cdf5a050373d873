"""Degenerate-input robustness: empty strings, nulls, single tokens.

ANSI mode (Spark 4 default) turns divide-by-zero into job failures — one
empty document must not kill a 100-TB curation pass. Ratios on
zero-token docs come out NULL instead.
"""

from __future__ import annotations

import pytest

from redpanda_to_parquet_writer_spark.operators import text as T

EDGE_DOCS = [(1, "hello world foo"), (2, ""), (3, None), (4, "single")]
SCHEMA = "doc_id long, text string"


@pytest.fixture(scope="module")
def edge_df(spark):
    return spark.createDataFrame(EDGE_DOCS, SCHEMA)


@pytest.mark.parametrize(
    "op",
    [
        T.stopword_stats,
        T.language_id,
        T.quality_score,
        T.tokenizer_stats,
        T.simhash_fingerprint,
        T.exact_dedup_hash,
    ],
    ids=lambda f: f.__name__,
)
def test_text_ops_survive_edge_inputs(edge_df, op):
    rows = op(edge_df, "text", "doc_id").collect()
    assert rows, f"{op.__name__} returned nothing"


def test_tokenizer_stats_matches_both_tokenizers(edge_df):
    """Both tokenizers' column sets of the single-scan operator, derived
    by hand: whitespace tokens of the trimmed text (an empty text is one
    empty token), BPE runs " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+" with
    their lengths trimmed; a NULL text yields NULL stats."""
    cols = (
        "n_chars", "n_tokens", "avg_token_len",
        "n_bpe_tokens", "n_distinct_bpe_tokens", "avg_bpe_token_len",
    )
    want = {
        1: (15, 3, 4.333333, 3, 3, 4.333333),  # "hello world foo": 13/3
        2: (0, 1, 0.0, 0, 0, None),
        3: (None,) * 6,
        4: (6, 1, 6.0, 1, 1, 6.0),
    }
    got = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in T.tokenizer_stats(edge_df, "text", "doc_id").collect()
    }
    assert got == want


def test_empty_doc_ratios_null_not_crash(edge_df):
    bpe = {r["doc_id"]: r for r in T.tokenizer_stats(edge_df, "text", "doc_id").collect()}
    assert bpe[2]["n_bpe_tokens"] == 0
    assert bpe[2]["avg_bpe_token_len"] is None
    q = {r["doc_id"]: r for r in T.quality_score(edge_df, "text", "doc_id").collect()}
    assert q[2]["quality"] is None and q[2]["keep"] is None
    assert q[1]["quality"] is not None


def test_zero_vector_yields_null_similarity(spark):
    from pyspark.sql import functions as F

    from redpanda_to_parquet_writer_spark.operators.similarity import (
        brute_force_topk,
        cosine,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [0.0, 0.0]), (2, [2.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    pair = df.select(
        cosine(F.col("embedding"), F.array(F.lit(0.0), F.lit(0.0))).alias("sim")
    ).collect()
    assert all(r["sim"] is None for r in pair)
    # a zero vector in the corpus must not kill top-k
    top = brute_force_topk(df, df.filter("vec_id = 0"), k=2).collect()
    assert {r["neighbor_id"] for r in top} == {1, 2}


def test_flatten_native_arrays_mode(spark):
    from pyspark.sql.types import ArrayType

    from redpanda_to_parquet_writer_spark.operators.flatten import (
        flatten_struct_columns,
    )

    df = spark.read.json(
        spark.sparkContext.parallelize(
            ['{"a": {"xs": [1, 2, 3]}, "data": {"ys": [4]}}']
        )
    )
    parity = flatten_struct_columns(df, keep=[])
    assert dict(parity.dtypes)["a_xs"] == "string"  # JSON-string parity
    native = flatten_struct_columns(df, keep=[], lists_as_json=False)
    assert isinstance(native.schema["a_xs"].dataType, ArrayType)
    assert native.collect()[0]["ys"] == [4]  # data.* still hoists


def test_interval_join_survives_corrupt_interval(spark):
    from redpanda_to_parquet_writer_spark.operators.asof import interval_join

    points = spark.createDataFrame([(1, 100)], "pid long, t long")
    intervals = spark.createDataFrame(
        [
            (10, 50, 150),  # matches
            (11, 200, 100),  # inverted -> dropped
            (12, 0, 2**62),  # absurd span -> dropped, must not OOM
        ],
        "iid long, lo long, hi long",
    )
    got = interval_join(points, intervals, "t", "lo", "hi", bin_width=100).collect()
    assert [r["iid"] for r in got] == [10]


def test_line_dedup_counts_and_edges(spark):
    """Keep-first line dedup: handcrafted duplicate lines count exactly;
    empty/null docs don't kill the pass."""
    docs = spark.createDataFrame(
        [
            # 11 tokens -> lines: "t0..t9" and "t10"
            (0, " ".join(f"t{i}" for i in range(11))),
            # repeats doc0's first line exactly, plus a unique line
            (1, " ".join(f"t{i}" for i in range(10)) + " unique tail line"),
            (2, ""),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["n_dupes"])
        for r in T.line_dedup_stats(docs, "text", "doc_id", 10).collect()
    }
    assert out[0] == (2, 2, 0)  # first occurrence of both its lines
    assert out[1] == (2, 1, 1)  # t0..t9 is a corpus duplicate
    assert 3 not in out  # null text filtered like chunk_documents
