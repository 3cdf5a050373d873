"""Streaming observability: listener-collected per-batch metrics match
what the ingest actually wrote (TimingTracker/FileTracker parity)."""

from __future__ import annotations

import time

from redpanda_to_parquet_writer_spark.config import EngineConfig
from redpanda_to_parquet_writer_spark.streaming.ingest import ingest_available_now
from redpanda_to_parquet_writer_spark.streaming.metrics import IngestMetricsListener

from tests.test_streaming_ingest import ENVELOPE_COLS, _envelope_df


def _wait_for(cond, timeout_sec=30.0):
    deadline = time.monotonic() + timeout_sec
    while time.monotonic() < deadline:
        if cond():
            return True
        time.sleep(0.25)
    return cond()


def test_listener_accounts_for_all_ingested_rows(spark, tmp_path):
    cfg = EngineConfig(
        output_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt")
    )
    n = 60
    src = str(tmp_path / "src")
    _envelope_df(spark, n=n).write.parquet(src)

    listener = IngestMetricsListener().attach(spark)
    try:
        source = spark.readStream.schema(ENVELOPE_COLS).parquet(src)
        ingest_available_now(
            spark, source, str(tmp_path / "out"), str(tmp_path / "ckpt"), cfg
        )
        # listener events arrive on a separate bus thread
        assert _wait_for(
            lambda: sum(b.input_rows for b in listener.batches) >= n
        ), f"listener saw {sum(b.input_rows for b in listener.batches)} rows"

        assert sum(b.input_rows for b in listener.batches) == n
        assert all(b.duration_ms >= 0 for b in listener.batches)

        (summary,) = listener.summary()
        assert summary.total_rows == n
        assert summary.n_batches == len(listener.batches)
        assert summary.rows_per_sec >= 0.0
    finally:
        listener.detach(spark)

    assert spark.read.parquet(str(tmp_path / "out")).count() == n


def test_listener_counts_each_row_once_on_the_merge_path(spark, tmp_path):
    """The micro-batch is not cached, so Spark's `numInputRows` counts
    every pass over it: the schema sample, the merge path's date pass and
    the write. The listener reports the rows of one full pass instead,
    null-timestamp rows included (they are read, then dropped)."""
    cfg = EngineConfig(
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        skip_dedup=False,
    )
    n = 100
    src = str(tmp_path / "src")
    _envelope_df(spark, n=n, with_null_ts=5).write.parquet(src)

    listener = IngestMetricsListener().attach(spark)
    try:
        source = spark.readStream.schema(ENVELOPE_COLS).parquet(src)
        ledger = ingest_available_now(spark, source, cfg.output_dir, cfg.checkpoint_dir, cfg)
        listener.wait_quiesce()
        (summary,) = listener.summary()
        assert summary.total_rows == n
        assert sum(b.input_rows for b in listener.batches) == n
    finally:
        listener.detach(spark)
    assert ledger == {cfg.output_dir: n - 5}
