"""Dtype-adaptive event-time helpers: identical epoch values whether the
fixture stores ts as TIMESTAMP_NTZ (current, parquet timestamp[us]),
TIMESTAMP (LTZ), or legacy epoch-nanos BIGINT."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.functions.dates import (
    event_epoch_ms,
    event_epoch_sec,
    event_epoch_us,
)

#: 2024-01-01 00:09:58.778549 UTC — the first sf0.001 event's timestamp
US = 1_704_067_798_778_549


@pytest.fixture(scope="module")
def frames(spark):
    ntz = spark.sql(
        f"SELECT timestamp_micros({US}) AS x"
    ).select(F.col("x").cast("timestamp_ntz").alias("ts"))
    ltz = spark.sql(f"SELECT timestamp_micros({US}) AS ts")
    legacy = spark.sql(f"SELECT CAST({US} * 1000 AS BIGINT) AS ts")  # epoch-nanos long
    return {"timestamp_ntz": ntz, "timestamp": ltz, "bigint": legacy}


def test_dtypes_as_expected(frames):
    for expect, df in frames.items():
        assert dict(df.dtypes)["ts"] == expect


@pytest.mark.parametrize(
    "helper,expected",
    [
        (event_epoch_us, US),
        (event_epoch_ms, US // 1_000),
        (event_epoch_sec, US // 1_000_000),
    ],
)
def test_epoch_helpers_agree_across_dtypes(frames, helper, expected):
    for kind, df in frames.items():
        out = df.select(helper(df).alias("v"))
        assert dict(out.dtypes)["v"] == "bigint", kind
        assert out.head()[0] == expected, kind


def test_matches_duckdb_epoch_us(spark, sf_dir):
    """The NTZ conversion is bitwise-equal to DuckDB's epoch_us on the
    same naive timestamps (what keeps the 6 event-time oracles green)."""
    import duckdb

    from redpanda_to_parquet_writer_spark.sources.parquet import load_table

    events = load_table(spark, sf_dir, "events")
    got = {
        r["event_id"]: r["us"]
        for r in events.select(
            "event_id", event_epoch_us(events).alias("us")
        ).limit(50).collect()
    }
    want = dict(
        duckdb.sql(
            f"SELECT event_id, epoch_us(ts) FROM '{sf_dir}/events.parquet' "
            "ORDER BY event_id LIMIT 50"
        ).fetchall()
    )
    assert {k: got[k] for k in want} == want
