"""Collector orchestration — the reference's main() lifecycle, Spark-first.

Reference flow (SURVEY 3.1, collector:1583-1789): discover topics ->
per-topic {format detect, offset calc, consume, convert, write} ->
merge -> summary -> validation -> optional retention trim.

Spark shape per topic:
    source = sources.kafka.stream_reader(topic, resume_offsets)
    ingest_available_now(source, <out>/<topic>, <ckpt>/<topic>)
then validation (operators.validate) and the retention trim hook.

Collapsed phases (built-in, SURVEY 4): offset calculation -> checkpoint;
batching -> micro-batches; parallel date writes -> task parallelism;
atomic writes -> commit protocol; merge/staging -> checkpointed sink +
anti-join backstop.

Kept phases (this module): topic discovery/fan-out, format verdict
caching, post-run validation, retention trim, run summary.

At scale: one streaming query per topic each with its own checkpoint —
queries are independent, so a 1000-topic deployment schedules them across
the cluster (or groups small topics via subscribePattern on one query
partitioned by topic).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from redpanda_to_parquet_writer_spark.config import EngineConfig
from redpanda_to_parquet_writer_spark.operators.decode import detect_format
from redpanda_to_parquet_writer_spark.operators.validate import (
    CountReport,
    external_completeness,
    internal_consistency,
)
from redpanda_to_parquet_writer_spark.streaming.ingest import ingest_available_now
from redpanda_to_parquet_writer_spark.streaming.sink import existing_max_offsets


@dataclass
class TopicRunReport:
    """Per-topic summary, the TimingTracker/FileTracker parity
    (collector:110-165)."""

    topic: str
    fmt: str
    seconds: float
    #: rows this run committed, over the base table and any schema
    #: versions (not the table total)
    rows_written: int
    validation: CountReport | None = None
    #: listener-observed micro-batch count / ingest rate (0 when the
    #: source produced no progress events, e.g. an already-drained topic)
    n_batches: int = 0
    rows_per_sec: float = 0.0
    #: rows the base table held before the run, and rows this run
    #: committed to the base table: V1 expects their sum
    rows_before: int = 0
    base_rows_written: int = 0


@dataclass
class CollectorRun:
    reports: list[TopicRunReport] = field(default_factory=list)
    #: topic -> per-partition completeness rows (V2), when watermarks given
    completeness: dict[str, list[dict]] = field(default_factory=dict)

    @property
    def total_rows(self) -> int:
        return sum(r.rows_written for r in self.reports)


class Collector:
    """Multi-topic ingest driver.

    `source_factory(topic, resume_offsets) -> streaming DataFrame` decouples
    orchestration from the source (Kafka in production via
    sources.kafka.stream_reader; file streams in tests), keeping every
    phase testable without a broker.
    """

    def __init__(self, spark: SparkSession, cfg: EngineConfig, source_factory):
        self.spark = spark
        self.cfg = cfg
        self.source_factory = source_factory
        self._format_cache: dict[str, str] = {}  # S5 verdict cache (collector:18)

    def topic_format(self, topic: str, sample: list[bytes]) -> str:
        if topic not in self._format_cache:
            self._format_cache[topic] = detect_format(sample)
        return self._format_cache[topic]

    def output_root(self, topic: str) -> str:
        return f"{self.cfg.output_dir}/{topic}"

    def run_topic(self, topic: str, sample: list[bytes] | None = None) -> TopicRunReport:
        """One topic end-to-end: resume -> drain -> count.

        The resume scan also counts the rows the base table holds, and
        the drain's ledger counts the rows it committed, so nothing
        re-reads the table here."""
        from redpanda_to_parquet_writer_spark.streaming.metrics import (
            IngestMetricsListener,
        )

        t0 = time.monotonic()
        fmt = self.topic_format(topic, sample or [])
        root = self.output_root(topic)
        # checkpoint is the primary progress store; the Parquet-derived
        # offsets (T1 backstop) are handed to the source factory for the
        # checkpoint-loss case
        resume = existing_max_offsets(self.spark, root)
        source = self.source_factory(topic, resume)
        listener = IngestMetricsListener().attach(self.spark)
        query_name = f"ingest-{topic}"
        try:
            ledger = ingest_available_now(
                self.spark,
                source,
                root,
                f"{self.cfg.checkpoint_dir}/{topic}",
                self.cfg,
                query_name=query_name,
                fmt=fmt,
            )
            listener.wait_quiesce(query_name=query_name)
        finally:
            listener.detach(self.spark)
        # filter by query name: concurrent per-topic drains (ThreadPool
        # over run_topic) share the session listener bus, so this topic
        # must roll up ONLY its own query's batches
        summaries = listener.summary(query_name)
        n_batches = sum(s.n_batches for s in summaries)
        rate = round(sum(s.rows_per_sec for s in summaries), 1)
        return TopicRunReport(
            topic=topic,
            fmt=fmt,
            seconds=time.monotonic() - t0,
            rows_written=sum(ledger.values()),
            n_batches=n_batches,
            rows_per_sec=rate,
            rows_before=resume.rows,
            base_rows_written=ledger.get(root, 0),
        )

    def run(
        self,
        topics: list[str],
        samples: dict[str, list[bytes]] | None = None,
        high_watermarks: dict[str, dict[int, int]] | None = None,
    ) -> CollectorRun:
        """Fan out over topics, then validate (V1/V2) when enabled.

        Topics run sequentially here; each ingest is itself fully
        parallel inside Spark. Concurrent queries (ThreadPool over
        `run_topic`) are safe — separate checkpoints — when topic count
        dwarfs per-topic data.
        """
        run = CollectorRun()
        samples = samples or {}
        for topic in topics:
            report = self.run_topic(topic, samples.get(topic))
            if not self.cfg.skip_validation:
                # V1: the base table re-read once, against the rows it
                # held before plus the rows the writer committed to it
                report.validation = internal_consistency(
                    self.spark,
                    self.output_root(topic),
                    report.rows_before + report.base_rows_written,
                )
            run.reports.append(report)
        if high_watermarks and not self.cfg.skip_validation:
            for topic, marks in high_watermarks.items():
                # per-partition external completeness report (V2)
                report = external_completeness(
                    self.spark, self.output_root(topic), marks
                )
                run.completeness[topic] = [r.asDict() for r in report.collect()]
        return run


def trim_kafka_retention(
    bootstrap_servers: str, processed_offsets: dict[str, dict[int, int]]
) -> None:
    """T8: delete Kafka records up to the processed offsets, post-commit
    (the reference's `rpk topic trim`, collector:1098-1151).

    Driver-side AdminClient.delete_records; import-gated — requires a
    Kafka client library, absent in this container.
    """
    try:
        from confluent_kafka.admin import AdminClient  # type: ignore
        from confluent_kafka import TopicPartition  # type: ignore
    except ImportError as e:
        raise ImportError(
            "confluent-kafka is required for retention trimming"
        ) from e
    admin = AdminClient({"bootstrap.servers": bootstrap_servers})
    tps = [
        TopicPartition(topic, int(p), int(offset) + 1)
        for topic, parts in processed_offsets.items()
        for p, offset in parts.items()
    ]
    admin.delete_records(tps)


if __name__ == "__main__":  # python -m redpanda_to_parquet_writer_spark.collector
    from redpanda_to_parquet_writer_spark.cli import collector_main

    raise SystemExit(collector_main())
