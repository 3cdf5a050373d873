"""Kafka/Redpanda source builders (S1-S4, T1-T2).

The reference consumes with librdkafka: per-partition start offsets,
EOF-bounded drain, tuned fetch sizes, no offset commits
(collector:324-411). Spark equivalents:

  - bounded batch read: `spark.read.format("kafka")` with
    startingOffsets/endingOffsets — the "run-to-EOF" semantics (T2)
  - streaming read: `spark.readStream.format("kafka")` +
    `Trigger.AvailableNow` for drain-then-stop with checkpointed progress
    (T1 — replaces the reference's Parquet-scan offset recovery)
  - fetch tuning via `kafka.`-prefixed passthrough options
    (collector:326-338's FETCH_MIN_BYTES / MAX_PARTITION_FETCH_BYTES)
  - topic discovery / high-watermark probe (S2/S4): Spark resolves
    `subscribePattern` and `endingOffsets=latest` internally; explicit
    probing would use kafka-python/confluent AdminClient driver-side and
    is import-gated here.

This module only *builds* readers — no broker in the test container, so
everything is exercised by construction tests plus the file-source
streaming tests (same downstream pipeline).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from redpanda_to_parquet_writer_spark.config import EngineConfig


def kafka_options(
    cfg: EngineConfig,
    topics: str | list[str] | None = None,
    pattern: str | None = None,
    starting_offsets: dict[str, dict[int, int]] | str = "earliest",
) -> dict[str, str]:
    """Common option map for batch and streaming Kafka reads.

    `starting_offsets` accepts the resume map the reference derives
    per partition (`{topic: {partition: offset}}`, collector:341-347) or
    'earliest'/'latest'.
    """
    opts: dict[str, str] = {
        "kafka.bootstrap.servers": cfg.kafka_bootstrap_servers,
        # fetch tuning: the reference's 20-30% consumption win
        # (collector:326-338, README.md:855)
        "kafka.fetch.min.bytes": str(cfg.kafka_fetch_min_bytes),
        "kafka.max.partition.fetch.bytes": str(cfg.kafka_max_partition_fetch_bytes),
        # the reference never commits offsets (collector:331); Spark's
        # source doesn't either — progress lives in the checkpoint
        "failOnDataLoss": "false",
    }
    if pattern:
        # internal-topic filter: the reference skips "__"-prefixed topics
        # (collector:290); a negative-lookahead pattern does the same
        opts["subscribePattern"] = pattern
    elif topics:
        opts["subscribe"] = topics if isinstance(topics, str) else ",".join(topics)
    if isinstance(starting_offsets, dict):
        opts["startingOffsets"] = json.dumps(starting_offsets)
    else:
        opts["startingOffsets"] = starting_offsets
    if cfg.max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(cfg.max_offsets_per_trigger)
    return opts


ALL_NON_INTERNAL_TOPICS_PATTERN = r"^(?!__).*"


def stream_reader(
    spark: SparkSession,
    cfg: EngineConfig,
    topics: str | list[str] | None = None,
    pattern: str | None = None,
    starting_offsets: dict[str, dict[int, int]] | str = "earliest",
) -> DataFrame:
    """Streaming source; pair with Trigger.AvailableNow for T1+T2 parity."""
    opts = kafka_options(cfg, topics, pattern, starting_offsets)
    return spark.readStream.format("kafka").options(**opts).load()
