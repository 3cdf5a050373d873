"""End-to-end ingest pipeline tests: envelope-shaped stream -> decode ->
flatten -> date-partitioned parquet, with the reference's invariants
(FIXTURES.md section 5): idempotent re-run, dedup exactness, schema-drift
versioning, date partitioning from event time, null-ts drop.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.config import EngineConfig
from redpanda_to_parquet_writer_spark.operators.flatten import flatten_struct_columns
from redpanda_to_parquet_writer_spark.streaming.ingest import ingest_available_now
from redpanda_to_parquet_writer_spark.streaming.sink import (
    existing_max_offsets,
    merge_dedup_append,
    with_event_date,
)


def _envelope_rows(n=100, start_offset=0, extra_field=False, with_null_ts=0):
    """Kafka-envelope dicts with a JSON payload, reference-shaped
    (FIXTURES sections 1-2)."""
    rows = []
    for i in range(n):
        offset = start_offset + i
        payload = {
            "event_type": "market_data",
            "source": "ibkr",
            "data": {"symbol": f"SYM{i % 5}", "price": 100.0 + i, "volume": i * 10},
            "metadata": {"exchange": "NASDAQ", "seq": i},
        }
        if extra_field:
            payload["data"]["new_col"] = i
        ts = None if i < with_null_ts else 1704067200000 + i * 3_600_000  # 2024-01-01 + i hours
        rows.append(
            (
                "md_topic",
                offset % 4,
                offset,
                ts,
                f"key{i}",
                json.dumps(payload).encode("utf-8"),
            )
        )
    return rows


ENVELOPE_COLS = "kafka_topic string, kafka_partition long, kafka_offset long, kafka_timestamp long, kafka_key string, value binary"


def _envelope_df(spark, **kw):
    return spark.createDataFrame(_envelope_rows(**kw), ENVELOPE_COLS)


@pytest.fixture
def cfg(tmp_path):
    return EngineConfig(
        output_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt")
    )


def _run_stream(spark, tmp_path, cfg, source_dir, out, ckpt):
    stream = (
        spark.readStream.schema(ENVELOPE_COLS).parquet(source_dir)
    )
    ingest_available_now(spark, stream, out, ckpt, cfg)


def test_ingest_end_to_end(spark, tmp_path, cfg):
    src = str(tmp_path / "src")
    out = str(tmp_path / "table")
    _envelope_df(spark, n=100, with_null_ts=5).write.parquet(src)
    _run_stream(spark, tmp_path, cfg, src, out, cfg.checkpoint_dir)

    result = spark.read.parquet(out)
    # null-ts rows dropped (P5)
    assert result.count() == 95
    # flatten hoisted data.* un-prefixed, prefixed metadata_* (P2)
    for col in ("symbol", "price", "volume", "metadata_exchange", "metadata_seq",
                "event_type", "source", "kafka_offset", "date"):
        assert col in result.columns, result.columns
    # event-time date partitioning (T4): 95 hourly rows starting 2024-01-01
    dates = {str(r["date"]) for r in result.select("date").distinct().collect()}
    assert "2024-01-01" in dates and len(dates) >= 4
    # partition dirs are hive-style (pruning-friendly)
    assert (tmp_path / "table" / "date=2024-01-01").exists()


def test_ingest_rerun_is_idempotent(spark, tmp_path, cfg):
    """T5: same checkpoint -> re-run ingests nothing new."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "table")
    _envelope_df(spark, n=50).write.parquet(src)
    for _ in range(2):
        _run_stream(spark, tmp_path, cfg, src, out, cfg.checkpoint_dir)
    assert spark.read.parquet(out).count() == 50


def test_merge_dedup_cross_run(spark, tmp_path, cfg):
    """J2 backstop: overlapping batches, no checkpoint -> anti-join dedup."""
    out = str(tmp_path / "table")
    first = with_event_date(
        flatten_via_pipeline(spark, _envelope_df(spark, n=60))
    )
    merge_dedup_append(spark, first, out, cfg=cfg)
    # second run overlaps offsets 30..59, adds 60..89
    second = with_event_date(
        flatten_via_pipeline(spark, _envelope_df(spark, n=60, start_offset=30))
    )
    merge_dedup_append(spark, second, out, cfg=cfg)
    result = spark.read.parquet(out)
    assert result.count() == 90
    # every (partition, offset) unique
    assert (
        result.select("kafka_partition", "kafka_offset").distinct().count() == 90
    )


def flatten_via_pipeline(spark, env_df):
    from redpanda_to_parquet_writer_spark.streaming.ingest import prepare_envelope_batch

    return prepare_envelope_batch(spark, env_df).drop("date")


def test_merge_dedup_prunes_dates_and_gates_broadcast(spark, tmp_path, cfg):
    """VERDICT r4 #1: the existing-side scan must be pruned to the
    batch's date partitions, and the broadcast must be size-gated with a
    shuffle-anti fallback — never an unconditional broadcast of the
    whole sink's key set."""
    from redpanda_to_parquet_writer_spark.streaming.sink import dedup_frame_for_merge

    out = str(tmp_path / "table")
    # 96 hourly rows = 4 date partitions (2024-01-01..04)
    history = with_event_date(flatten_via_pipeline(spark, _envelope_df(spark, n=96)))
    merge_dedup_append(spark, history, out, cfg=cfg)
    # incoming batch overlaps only the FIRST day (offsets 0..23)
    batch = with_event_date(flatten_via_pipeline(spark, _envelope_df(spark, n=24)))

    deduped = dedup_frame_for_merge(spark, batch, out, cfg=cfg)
    plan = deduped._jdf.queryExecution().executedPlan().toString()
    # date-pruned: only the single matching partition is scanned
    assert "PartitionFilters" in plan and "date" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # pruning actually takes effect: re-running the merge adds nothing
    assert deduped.count() == 0

    # size gate: a zero-byte threshold must force the shuffle anti-join
    tiny = EngineConfig(
        output_dir=cfg.output_dir,
        checkpoint_dir=cfg.checkpoint_dir,
        dedup_broadcast_max_bytes=0,
    )
    gated = dedup_frame_for_merge(spark, batch, out, cfg=tiny)
    gplan = gated._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in gplan, "gate must demote to shuffle join"
    assert "LeftAnti" in gplan
    assert gated.count() == 0  # shuffle path is just as correct

    # rerun-idempotence through the public entry point
    merge_dedup_append(spark, batch, out, cfg=tiny)
    assert spark.read.parquet(out).count() == 96


def test_schema_drift_creates_version_table(spark, tmp_path, cfg):
    """1.4: a batch with a new payload column goes to a _v<hash> table,
    base table untouched."""
    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    out = str(tmp_path / "table")
    _envelope_df(spark, n=20).write.parquet(src1)
    _envelope_df(spark, n=20, start_offset=20, extra_field=True).write.parquet(src2)

    _run_stream(spark, tmp_path, cfg, src1, out, str(tmp_path / "ck1"))
    base_count = spark.read.parquet(out).count()
    _run_stream(spark, tmp_path, cfg, src2, out, str(tmp_path / "ck2"))

    assert spark.read.parquet(out).count() == base_count  # base intact
    versioned = [p for p in tmp_path.iterdir() if p.name.startswith("table_v")]
    assert len(versioned) == 1
    vdf = spark.read.parquet(str(versioned[0]))
    assert vdf.count() == 20 and "new_col" in vdf.columns
    # union read across versions (U1)
    from redpanda_to_parquet_writer_spark.sources.parquet import read_versioned_union

    merged = read_versioned_union(spark, out)
    assert merged.count() == 40 and "new_col" in merged.columns


def test_offset_recovery_from_sink(spark, tmp_path, cfg):
    """T1 backstop: per-partition max offsets recoverable from output."""
    out = str(tmp_path / "table")
    df = with_event_date(flatten_via_pipeline(spark, _envelope_df(spark, n=40)))
    merge_dedup_append(spark, df, out, cfg=cfg)
    offsets = existing_max_offsets(spark, out)
    # partitions 0..3, offsets round-robin: partition p's max is 36+p
    assert offsets == {0: 36, 1: 37, 2: 38, 3: 39}
    assert offsets.rows == 40  # counted by the same aggregate
    assert existing_max_offsets(spark, str(tmp_path / "missing")) == {}
    assert existing_max_offsets(spark, str(tmp_path / "missing")).rows == 0


def test_offset_recovery_empty_sink_root(spark, tmp_path, cfg):
    """An exists-but-EMPTY sink root (pre-created by an orchestrator) is
    a first write, not a schema-inference crash; after a real write the
    same root recovers offsets and the dedup backstop engages."""
    root = tmp_path / "pre_created"
    root.mkdir()  # no data files yet
    assert existing_max_offsets(spark, str(root)) == {}
    # nested empty dirs (e.g. a stray date= partition dir) are still empty
    (root / "date=2024-01-01").mkdir()
    assert existing_max_offsets(spark, str(root)) == {}
    df = with_event_date(flatten_via_pipeline(spark, _envelope_df(spark, n=8)))
    merge_dedup_append(spark, df, str(root), cfg=cfg)
    assert existing_max_offsets(spark, str(root)) != {}


def test_undecodable_payload_keeps_raw_value(spark, tmp_path, cfg):
    """P1 fallback: garbage payloads survive as raw_value, not lost."""
    rows = [("t", 0, 0, 1704067200000, None, b"not json at all")]
    env = spark.createDataFrame(rows, ENVELOPE_COLS)
    from redpanda_to_parquet_writer_spark.streaming.ingest import prepare_envelope_batch

    # schema inferred from a valid sample elsewhere; garbage row -> nulls + raw_value
    valid = _envelope_df(spark, n=5)
    from redpanda_to_parquet_writer_spark.operators.decode import infer_json_schema

    schema = infer_json_schema(
        spark, [r["value"].decode() for r in valid.select("value").collect()]
    )
    prepared = prepare_envelope_batch(spark, env, schema)
    row = prepared.collect()[0]
    assert row["raw_value"] == "not json at all"
    assert row["symbol"] is None


# ---------------------------------------------------------------------------
# Crash injection (VERDICT r9 #3 / r8 #4): exactly-once must survive a
# foreachBatch abort, not just a clean rerun. The reference's staging+
# merge design (collector:653-686, 946-1046) exists precisely for the
# batch-landed-but-not-committed window; these tests inject a failure in
# each window and assert exact row parity with a clean single run.
# ---------------------------------------------------------------------------


def _clean_run_baseline(spark, tmp_path, cfg, src, n=96):
    """One clean ingest of the same source -> the parity target."""
    out = str(tmp_path / "baseline")
    _run_stream(spark, tmp_path, cfg, src, out, str(tmp_path / "ck_base"))
    rows = sorted(
        tuple(r) for r in spark.read.parquet(out).drop("date").collect()
    )
    assert len(rows) == n
    return rows


def _rows(spark, out):
    return sorted(tuple(r) for r in spark.read.parquet(out).drop("date").collect())


def _assert_v1_balances_restart(spark, stream, out, ckpt, cfg, written):
    """Restart the drain from `ckpt`; the ledger balances across the
    restart: V1 passes with the rows landed before it (from the resume
    scan) plus the `written` rows the restarted drain commits."""
    from redpanda_to_parquet_writer_spark.operators.validate import PASS, internal_consistency

    before = existing_max_offsets(spark, out).rows
    ledger = ingest_available_now(spark, stream, out, ckpt, cfg)
    assert ledger.get(out, 0) == written
    v1 = internal_consistency(spark, out, before + ledger.get(out, 0))
    assert (v1.status, v1.actual) == (PASS, 96)


def _crashing_stream(spark, src, writer, ckpt):
    """Run an availableNow drain whose foreachBatch body is `writer`;
    returns the exception the query died with."""
    q = (
        spark.readStream.schema(ENVELOPE_COLS)
        .parquet(src)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception) as exc:
        q.awaitTermination()
    return exc


def test_crash_mid_write_merge_path_recovers_exactly_once(spark, tmp_path, cfg):
    """Window 1, merge-dedup path: the foreachBatch body lands PART of
    the batch (one date partition), then dies before the checkpoint
    commit. Restart from the same checkpoint reprocesses the whole
    batch; the anti-join merge must skip the already-landed rows —
    final table identical to a clean single run (no dupes, no loss)."""
    from redpanda_to_parquet_writer_spark.streaming.ingest import (
        prepare_envelope_batch,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    # 96 hourly rows = 4 event dates
    _envelope_df(spark, n=96).write.parquet(src)
    merge_cfg = EngineConfig(
        output_dir=cfg.output_dir, checkpoint_dir=ckpt, skip_dedup=False
    )
    baseline = _clean_run_baseline(spark, tmp_path, merge_cfg, src)

    def partial_then_crash(batch_df, batch_id):
        prepared = prepare_envelope_batch(spark, batch_df)
        first_day = prepared.filter(F.col("date") == "2024-01-01")
        merge_dedup_append(spark, first_day, out, cfg=merge_cfg)
        raise RuntimeError("injected crash after first partition landed")

    _crashing_stream(spark, src, partial_then_crash, ckpt)
    landed = spark.read.parquet(out).count()
    assert 0 < landed < 96, landed  # genuinely partial

    # restart: same checkpoint, the REAL merge writer
    stream = spark.readStream.schema(ENVELOPE_COLS).parquet(src)
    _assert_v1_balances_restart(spark, stream, out, ckpt, merge_cfg, written=96 - landed)
    assert _rows(spark, out) == baseline

    # and a further rerun stays idempotent
    ingest_available_now(spark, stream, out, ckpt, merge_cfg)
    assert _rows(spark, out) == baseline


def test_crash_after_write_before_commit_merge_path(spark, tmp_path, cfg):
    """Window 2, merge-dedup path: the batch write COMPLETES, the crash
    hits before Spark records the batch in the checkpoint (the classic
    at-least-once window). Restart fully reprocesses the batch; the
    anti-join must produce zero new rows."""
    from redpanda_to_parquet_writer_spark.streaming.ingest import (
        make_merge_batch_writer,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    _envelope_df(spark, n=96).write.parquet(src)
    merge_cfg = EngineConfig(
        output_dir=cfg.output_dir, checkpoint_dir=ckpt, skip_dedup=False
    )
    baseline = _clean_run_baseline(spark, tmp_path, merge_cfg, src)
    real_writer = make_merge_batch_writer(spark, out, merge_cfg, {})

    def write_then_crash(batch_df, batch_id):
        real_writer(batch_df, batch_id)
        raise RuntimeError("injected crash after write, before batch commit")

    _crashing_stream(spark, src, write_then_crash, ckpt)
    assert spark.read.parquet(out).count() == 96  # write fully landed

    stream = spark.readStream.schema(ENVELOPE_COLS).parquet(src)
    _assert_v1_balances_restart(spark, stream, out, ckpt, merge_cfg, written=0)
    assert _rows(spark, out) == baseline


def test_crash_mid_write_direct_path_committer_atomicity(spark, tmp_path, cfg):
    """Window 1, direct (skip_dedup) sink: a crash INSIDE the write job
    must leave no visible data (S12 — the file-commit protocol stages
    task output and aborts uncommitted files), so the checkpoint replay
    appends the batch exactly once. The direct path's exactly-once rests
    on job atomicity + checkpoint replay; cross-run duplicate protection
    (checkpoint loss) is the merge path's job, tested above."""
    from redpanda_to_parquet_writer_spark.streaming.ingest import (
        prepare_envelope_batch,
    )
    from redpanda_to_parquet_writer_spark.streaming.sink import (
        _sink_exists,
        write_date_partitioned,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    _envelope_df(spark, n=96).write.parquet(src)
    direct_cfg = EngineConfig(
        output_dir=cfg.output_dir, checkpoint_dir=ckpt, skip_dedup=True
    )
    baseline = _clean_run_baseline(spark, tmp_path, direct_cfg, src)

    @F.udf("long")
    def boom(off):
        if off == 50:
            raise RuntimeError("injected task failure mid-write")
        return off

    def poisoned_writer(batch_df, batch_id):
        prepared = prepare_envelope_batch(spark, batch_df).withColumn(
            "kafka_offset", boom("kafka_offset")
        )
        write_date_partitioned(prepared, out, direct_cfg, mode="append")

    _crashing_stream(spark, src, poisoned_writer, ckpt)
    # committer atomicity: the failed job left NO visible data files
    assert not _sink_exists(spark, out)

    stream = spark.readStream.schema(ENVELOPE_COLS).parquet(src)
    _assert_v1_balances_restart(spark, stream, out, ckpt, direct_cfg, written=96)
    assert _rows(spark, out) == baseline


def test_merge_dedup_raises_on_corrupt_sink(spark, tmp_path, cfg):
    """ADVICE r01: a transient/corrupt read of the existing sink must
    PROPAGATE (not silently disable the anti-join backstop and append
    duplicates). Only a missing path means first-write."""
    sink = tmp_path / "corrupt_sink"
    sink.mkdir()
    (sink / "part-00000.parquet").write_text("this is not parquet")
    out = str(sink)
    df = spark.createDataFrame(
        [(0, 1, 1000, "k", "2024-01-01")],
        "kafka_partition int, kafka_offset long, kafka_timestamp long, "
        "kafka_key string, date string",
    )
    with pytest.raises(Exception):
        merge_dedup_append(spark, df, out, cfg=cfg)


def test_schema_probe_raises_on_corrupt_base(spark, tmp_path, cfg):
    """The base-schema read that routes schema versions must propagate a
    read error: a base whose only data file is not Parquet fails the
    drain, and the batch lands nowhere (neither the base nor a version
    table), even on the direct path that skips the anti-join."""
    src = str(tmp_path / "src")
    _envelope_df(spark, n=20).write.parquet(src)
    out = tmp_path / "table"
    out.mkdir()
    (out / "part-00000.parquet").write_text("this is not parquet")
    direct_cfg = EngineConfig(
        output_dir=cfg.output_dir, checkpoint_dir=cfg.checkpoint_dir, skip_dedup=True
    )

    def data_files():
        return sorted(
            p for p in tmp_path.glob("table*/**/*") if p.is_file() and not p.name.startswith((".", "_"))
        )

    before = data_files()
    with pytest.raises(Exception):
        _run_stream(spark, tmp_path, direct_cfg, src, str(out), cfg.checkpoint_dir)
    assert data_files() == before


def test_committed_files_keep_key_order(spark, tmp_path, cfg):
    """O1: the rows of every committed data file are in (kafka_partition,
    kafka_offset) order. The planned write sorts each task by `date`; a
    local sort that does not lead with `date` is replaced by that sort,
    and the files keep arrival order instead. Offsets round-robin over 4
    partitions, so arrival order is not key order."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "src")
    out = tmp_path / "table"
    _envelope_df(spark, n=96).coalesce(1).write.parquet(src)
    _run_stream(spark, tmp_path, cfg, src, str(out), cfg.checkpoint_dir)

    files = sorted(out.glob("date=*/*.parquet"))
    assert len(files) == 4
    for f in files:
        t = pq.read_table(f, columns=["kafka_partition", "kafka_offset"])
        keys = list(zip(t.column("kafka_partition").to_pylist(), t.column("kafka_offset").to_pylist()))
        assert len(keys) > 1 and keys == sorted(keys), f.name
