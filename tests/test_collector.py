"""Collector orchestration: multi-topic end-to-end run with validation."""

from __future__ import annotations

import pytest

from redpanda_to_parquet_writer_spark.collector import Collector
from redpanda_to_parquet_writer_spark.config import EngineConfig
from redpanda_to_parquet_writer_spark.operators.validate import ERROR, PASS, internal_consistency

from tests.test_streaming_ingest import ENVELOPE_COLS, _envelope_df, _envelope_rows


@pytest.fixture
def collector(spark, tmp_path):
    cfg = EngineConfig(
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        skip_validation=False,
    )
    sources = {}

    def factory(topic, resume_offsets):
        return spark.readStream.schema(ENVELOPE_COLS).parquet(sources[topic])

    c = Collector(spark, cfg, factory)
    c._test_sources = sources
    return c


def test_multi_topic_run(spark, tmp_path, collector):
    for i, topic in enumerate(("topic_a", "topic_b")):
        src = str(tmp_path / f"src_{topic}")
        _envelope_df(spark, n=30 + i * 10).write.parquet(src)
        collector._test_sources[topic] = src

    run = collector.run(["topic_a", "topic_b"])
    assert [r.topic for r in run.reports] == ["topic_a", "topic_b"]
    assert [r.rows_written for r in run.reports] == [30, 40]
    assert run.total_rows == 70
    assert all(r.validation.status == PASS for r in run.reports)
    assert all(r.fmt == "json" for r in run.reports)  # JSON payloads -> json verdict
    # listener-fed throughput: every fresh topic saw >= 1 micro-batch
    assert all(r.n_batches >= 1 and r.rows_per_sec > 0 for r in run.reports)

    # re-run: checkpointed -> this run writes no row, and V1 still
    # balances the tables against the rows they held before
    run2 = collector.run(["topic_a", "topic_b"])
    assert run2.total_rows == 0
    assert [(r.validation.status, r.validation.expected) for r in run2.reports] == [
        (PASS, 30),
        (PASS, 40),
    ]


def test_concurrent_topic_drains(spark, tmp_path, collector):
    """The docstring's ThreadPool-over-run_topic pattern: separate
    checkpoints make concurrent drains safe, and named queries keep each
    topic's listener rollup to its OWN batches (no cross-contamination
    on the shared listener bus)."""
    from concurrent.futures import ThreadPoolExecutor

    counts = {"topic_x": 30, "topic_y": 50}
    for topic, n in counts.items():
        src = str(tmp_path / f"src_{topic}")
        _envelope_df(spark, n=n).write.parquet(src)
        collector._test_sources[topic] = src

    with ThreadPoolExecutor(max_workers=2) as pool:
        reports = list(pool.map(collector.run_topic, counts))

    by_topic = {r.topic: r for r in reports}
    for topic, n in counts.items():
        assert by_topic[topic].rows_written == n
        assert by_topic[topic].n_batches >= 1
        assert by_topic[topic].rows_per_sec > 0


def test_checkpoint_loss_recovery_via_offset_backstop(spark, tmp_path):
    """T1 backstop end-to-end: checkpoint DELETED between runs, yet no
    duplicates — run_topic hands the parquet-derived per-partition max
    offsets to the source factory (the reference's resume recovery,
    collector:468-530), and a resume-aware source skips everything at or
    below them."""
    import shutil
    from functools import reduce
    from operator import or_

    from pyspark.sql import functions as F

    cfg = EngineConfig(
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        skip_validation=True,
    )
    src = str(tmp_path / "src")
    _envelope_df(spark, n=40).write.parquet(src)

    def factory(topic, resume_offsets):
        stream = spark.readStream.schema(ENVELOPE_COLS).parquet(src)
        if resume_offsets:
            keep = reduce(
                or_,
                [
                    (F.col("kafka_partition") == p) & (F.col("kafka_offset") > o)
                    for p, o in resume_offsets.items()
                ],
            )
            stream = stream.filter(keep)
        return stream

    c = Collector(spark, cfg, factory)
    assert c.run(["t"]).total_rows == 40

    shutil.rmtree(str(tmp_path / "ckpt"))  # simulate checkpoint loss
    run2 = c.run(["t"])
    assert run2.total_rows == 0  # backstop resumed past everything written
    assert spark.read.parquet(c.output_root("t")).count() == 40


def _part_rows(partition: int, offsets: list[int]) -> list[tuple]:
    """Envelope rows with PER-PARTITION offset sequences (real Kafka
    semantics — offsets are per partition, may have gaps after
    compaction/trim, and arrive in any order)."""
    import json

    rows = []
    for off in offsets:
        payload = {
            "event_type": "market_data",
            "source": "ibkr",
            "data": {"symbol": f"SYM{off % 5}", "price": 100.0 + off, "volume": off},
            "metadata": {"exchange": "NASDAQ", "seq": off},
        }
        rows.append(
            (
                "md_topic",
                partition,
                off,
                1704067200000 + off * 3_600_000,
                f"k{partition}-{off}",
                json.dumps(payload).encode("utf-8"),
            )
        )
    return rows


def test_collector_partition_replay_with_gaps_and_trim_cycle(spark, tmp_path):
    """Reference collector:341-376 semantics over the broker-less twin
    (VERDICT r5 #7): >=3 partitions with injected per-partition offset
    GAPS (compaction/trim leaves holes), OUT-OF-ORDER delivery within
    the spool, then a trim-then-resume cycle — the second segment starts
    at last+1 per partition, a replayed tail below the resume map must
    be skipped, and the recovered resume map (existing_max_offsets,
    streaming/sink.py) plus the synthetic high-watermark completeness
    report (operators/validate.py) pin the result."""
    import random
    import shutil
    from functools import reduce
    from operator import or_

    from pyspark.sql import functions as F

    from redpanda_to_parquet_writer_spark.operators.validate import (
        external_completeness,
    )
    from redpanda_to_parquet_writer_spark.streaming.sink import existing_max_offsets

    cfg = EngineConfig(
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        skip_validation=True,
    )
    src = str(tmp_path / "spool")

    # segment 1: leading trim on p1, interior gaps on all three
    seg1 = {0: [0, 1, 2, 5, 6, 9], 1: [10, 11, 14, 15], 2: [0, 3, 4, 8]}
    rows = [r for p, offs in seg1.items() for r in _part_rows(p, offs)]
    random.Random(7).shuffle(rows)  # out-of-order delivery
    spark.createDataFrame(rows, ENVELOPE_COLS).coalesce(1).write.parquet(src)

    def factory(topic, resume_offsets):
        # the resume-aware source twin: start at last+1 per partition,
        # drain to EOF (reference consume_topic_streaming semantics)
        stream = spark.readStream.schema(ENVELOPE_COLS).parquet(src)
        if resume_offsets:
            keep = reduce(
                or_,
                [
                    (F.col("kafka_partition") == p) & (F.col("kafka_offset") > o)
                    for p, o in resume_offsets.items()
                ],
            )
            stream = stream.filter(keep)
        return stream

    c = Collector(spark, cfg, factory)
    run1 = c.run(["md"])
    n1 = sum(len(o) for o in seg1.values())
    assert run1.total_rows == n1
    root = c.output_root("md")
    # the resume map recovers the per-partition MAX, gaps and disorder
    # notwithstanding — this is what the next cycle starts from
    assert existing_max_offsets(spark, root) == {0: 9, 1: 15, 2: 8}

    # trim-then-resume cycle: checkpoint lost (trim implies the broker
    # state moved on; the parquet-derived backstop is the only memory),
    # spool now holds a replayed tail BELOW the resume map plus new
    # records strictly after it
    shutil.rmtree(str(tmp_path / "ckpt"))
    seg2_new = {0: [10, 11], 1: [16], 2: [9, 10, 12]}
    seg2_replayed = {0: [5, 6, 9], 1: [15], 2: [8]}  # must all be skipped
    rows2 = [
        r
        for seg in (seg2_new, seg2_replayed)
        for p, offs in seg.items()
        for r in _part_rows(p, offs)
    ]
    random.Random(11).shuffle(rows2)
    spark.createDataFrame(rows2, ENVELOPE_COLS).coalesce(1).write.parquet(
        src, mode="append"
    )

    run2 = c.run(["md"])
    n2 = sum(len(o) for o in seg2_new.values())
    assert run2.total_rows == n2, "replayed tail leaked past the resume map"
    assert spark.read.parquet(root).count() == n1 + n2
    assert existing_max_offsets(spark, root) == {0: 11, 1: 16, 2: 12}

    # synthetic high watermarks = per-partition expected counts: exact
    # counts PASS, an inflated watermark must flag ERROR with the gap
    expected = {p: len(seg1[p]) + len(seg2_new[p]) for p in seg1}
    report = {
        r["kafka_partition"]: r
        for r in external_completeness(
            spark, root, {**expected, 1: expected[1] + 3}
        ).collect()
    }
    assert report[0]["status"] == PASS and report[2]["status"] == PASS
    assert report[1]["status"] == "ERROR" and report[1]["missing"] == 3


def test_trim_requires_kafka_lib():
    from redpanda_to_parquet_writer_spark.collector import trim_kafka_retention

    with pytest.raises(ImportError, match="confluent-kafka"):
        trim_kafka_retention("localhost:9092", {"t": {0: 10}})


def test_run_with_high_watermarks(spark, tmp_path, collector):
    """V2 path: the run carries per-partition completeness reports.
    Fixture offsets round-robin over partitions 0..3, so 40 rows = 10
    per partition; a watermark of 12 on partition 1 must flag ERROR with
    2 missing."""
    src = str(tmp_path / "src_wm")
    _envelope_df(spark, n=40).write.parquet(src)
    collector._test_sources["topic_wm"] = src

    run = collector.run(
        ["topic_wm"],
        high_watermarks={"topic_wm": {0: 10, 1: 12, 2: 10, 3: 10}},
    )
    rows = {r["kafka_partition"]: r for r in run.completeness["topic_wm"]}
    assert rows[0]["status"] == PASS and rows[0]["missing"] == 0
    assert rows[1]["status"] == "ERROR" and rows[1]["missing"] == 2
    assert rows[2]["status"] == PASS and rows[3]["status"] == PASS


def test_empty_topic_validates_as_zero_rows(spark, tmp_path, collector):
    """A topic with nothing to drain commits no file, so its sink root
    never appears. That counts as 0 rows: V1 passes with 0 on each side,
    and V2 reports every partition the watermarks name as missing. A
    root that exists but cannot be read still raises."""
    src = tmp_path / "src_empty"
    src.mkdir()
    collector._test_sources["topic_empty"] = str(src)

    run = collector.run(["topic_empty"], high_watermarks={"topic_empty": {0: 5, 1: 3}})
    (report,) = run.reports
    assert report.rows_written == 0
    assert (report.validation.status, report.validation.expected, report.validation.actual) == (
        PASS,
        0,
        0,
    )
    rows = sorted(
        (r["kafka_partition"], r["status"], r["missing"]) for r in run.completeness["topic_empty"]
    )
    assert rows == [(0, ERROR, 5), (1, ERROR, 3)]

    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_text("this is not parquet")
    with pytest.raises(Exception):
        internal_consistency(spark, str(corrupt), 0)


def test_trim_with_fake_admin(monkeypatch):
    """T8 trim hook end-to-end against an in-process fake AdminClient:
    delete_records must receive offset+1 per processed partition (the
    reference trims up to AND INCLUDING the processed offset,
    collector:1098-1151)."""
    import sys
    import types

    calls = {}

    class FakeTopicPartition:
        def __init__(self, topic, partition, offset):
            self.topic, self.partition, self.offset = topic, partition, offset

    class FakeAdminClient:
        def __init__(self, conf):
            calls["conf"] = conf

        def delete_records(self, tps):
            calls["tps"] = tps

    fake_ck = types.ModuleType("confluent_kafka")
    fake_ck.TopicPartition = FakeTopicPartition
    fake_admin = types.ModuleType("confluent_kafka.admin")
    fake_admin.AdminClient = FakeAdminClient
    fake_ck.admin = fake_admin
    monkeypatch.setitem(sys.modules, "confluent_kafka", fake_ck)
    monkeypatch.setitem(sys.modules, "confluent_kafka.admin", fake_admin)

    from redpanda_to_parquet_writer_spark.collector import trim_kafka_retention

    trim_kafka_retention("broker:9092", {"t1": {0: 10, 1: 20}, "t2": {0: 5}})
    assert calls["conf"] == {"bootstrap.servers": "broker:9092"}
    got = sorted((tp.topic, tp.partition, tp.offset) for tp in calls["tps"])
    assert got == [("t1", 0, 11), ("t1", 1, 21), ("t2", 0, 6)]


@pytest.mark.parametrize("fmt", ["json", "msgpack"])
def test_fresh_drain_runs_at_most_six_jobs(spark, tmp_path, fmt):
    """One pass per micro-batch: a fresh file-stream drain with V1 on
    runs the schema sample, the write's two jobs and V1's one re-count
    of the table, and no more. A cached batch (AQE fills a cache in a
    job of its own) or a second re-count of the table shows here as
    extra jobs. Jobs are counted by the scheduler's job-id window."""
    import json

    from redpanda_to_parquet_writer_spark.functions.msgpack_codec import packb

    rows = _envelope_rows(n=40)
    if fmt == "msgpack":
        rows = [(*r[:5], packb(json.loads(r[5]))) for r in rows]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, ENVELOPE_COLS).coalesce(1).write.parquet(src)
    cfg = EngineConfig(
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        skip_validation=False,
    )
    c = Collector(
        spark, cfg, lambda topic, resume: spark.readStream.schema(ENVELOPE_COLS).parquet(src)
    )
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    job0 = scheduler.nextJobId()
    (report,) = c.run(["t"], samples={"t": [r[5] for r in rows]}).reports
    jobs = scheduler.nextJobId() - job0
    assert report.fmt == fmt
    assert report.rows_written == 40 and report.validation.status == PASS
    assert jobs <= 6, f"{jobs} Spark jobs for one fresh drain"


def test_v1_reports_a_lost_file_as_error(spark, tmp_path, collector, monkeypatch):
    """V1 can fail: its expected count comes from the writer, not from
    the table it checks. A data file lost after the writes committed,
    before the run ends, shows as ERROR, short by exactly that file's
    rows, while `rows_written` still reports what the writer committed."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from redpanda_to_parquet_writer_spark import collector as collector_mod

    src = str(tmp_path / "src_lost")
    _envelope_df(spark, n=96).write.parquet(src)
    collector._test_sources["topic_lost"] = src
    drain = collector_mod.ingest_available_now
    lost = {}

    def drain_then_lose_a_file(spark, source, root, *args, **kwargs):
        ledger = drain(spark, source, root, *args, **kwargs)
        victim = sorted(Path(root).glob("date=*/*.parquet"))[0]
        lost["rows"] = pq.read_metadata(victim).num_rows
        victim.unlink()
        return ledger

    monkeypatch.setattr(collector_mod, "ingest_available_now", drain_then_lose_a_file)
    (report,) = collector.run(["topic_lost"]).reports
    assert report.rows_written == 96
    v1 = report.validation
    assert v1.status == ERROR and v1.expected == 96
    assert v1.expected - v1.actual == lost["rows"] > 0


def test_v1_balances_a_resumed_merge_run(spark, tmp_path):
    """A resumed merge-path run: V1 expects the rows the table held
    before the run plus the rows this run committed, and the redelivered
    keys the anti-join drops count in neither."""
    cfg = EngineConfig(
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        skip_validation=False,
        skip_dedup=False,
    )
    src = tmp_path / "src"
    _envelope_df(spark, n=40).write.parquet(str(src / "a"))
    c = Collector(
        spark,
        cfg,
        lambda topic, resume: spark.readStream.schema(ENVELOPE_COLS).parquet(str(src / "*")),
    )
    (first,) = c.run(["t"]).reports
    assert (first.rows_written, first.validation.status) == (40, PASS)

    # offsets 30..59: 10 redeliveries and 20 new rows
    spark.createDataFrame(_envelope_rows(n=60)[30:], ENVELOPE_COLS).write.parquet(str(src / "b"))
    (second,) = c.run(["t"]).reports
    assert second.rows_before == 40 and second.rows_written == 20
    v1 = second.validation
    assert (v1.status, v1.expected, v1.actual) == (PASS, 60, 60)
