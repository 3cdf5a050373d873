"""Structured-Streaming ingest pipeline (the collector, Spark-first).

Reference lifecycle (SURVEY 3.1): Kafka -> decode -> flatten -> envelope
-> null-ts filter -> date-partitioned parquet, with exactly-once/dedup
guarantees. Spark shape:

    source (Kafka readStream / file stream)
      -> prepare_envelope_batch   (decode + flatten + date column)
      -> writeStream.foreachBatch(merge)  OR  .partitionBy("date").parquet
      -> Trigger.AvailableNow     (drain-then-stop, T2)
      -> checkpointLocation       (progress/WAL, T1)

Exactly-once strategy (T5, SURVEY 7.3 risk 2): the parquet streaming
sink's commit log gives exactly-once within a checkpoint lineage; the
anti-join merge (`merge_dedup_append`) is the cross-run backstop when
checkpoints are lost — both are kept, like the reference keeps staging
AND anti-join.

Dynamic schema (SURVEY 7.3 risk 1): a streaming query's schema is fixed,
so the stream carries the permissive envelope (raw value bytes/string);
`foreachBatch` re-infers the payload schema per micro-batch from a
sample of its first 50 decodable payloads (a MessagePack sample is
decoded on the driver), flattens, and routes schema versions — each
micro-batch may differ, the stream never has to restart.

The batch is not cached. The sample is a `limit`, and the write is the
one full read. The merge path adds a pass for the batch's dates, which
a file source prunes to one column and a Kafka source serves by
fetching the batch again (a cost not measured against a broker). The
writer counts the rows it commits (`write_date_partitioned`), so
nothing re-reads the table to learn how many rows a drain wrote.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from redpanda_to_parquet_writer_spark.config import EngineConfig
from redpanda_to_parquet_writer_spark.functions.hashing import schema_fingerprint
from redpanda_to_parquet_writer_spark.operators.decode import (
    decode_json,
    infer_json_schema,
    msgpack_to_json,
    msgpack_to_json_udf,
)
from redpanda_to_parquet_writer_spark.operators.flatten import (
    flatten_struct_columns,
    project_kafka_envelope,
)
from redpanda_to_parquet_writer_spark.streaming.metrics import record_rows_read
from redpanda_to_parquet_writer_spark.streaming.sink import (
    _sink_exists,
    merge_dedup_append,
    with_event_date,
    write_date_partitioned,
)


def _json_sample(env: DataFrame, fmt: str, n: int) -> list[str]:
    """The batch's first `n` non-null payloads as JSON text; for
    MessagePack, the first `n` that decode.

    A MessagePack head of `n` non-null payloads is decoded on the
    driver, so the sample job starts no Python worker. When some of a
    full head does not decode, more payloads may lie past it: the sample
    is then taken again through the Arrow UDF, so it is still the first
    `n` payloads that decode."""

    def head(value) -> list:
        rows = env.select(value.alias("value")).filter(F.col("value").isNotNull()).limit(n)
        return [r["value"] for r in rows.collect()]

    if fmt != "msgpack":
        return head(F.col("value").cast("string"))
    raw = head(F.col("value"))
    sample = [j for j in map(msgpack_to_json, raw) if j is not None]
    if len(sample) < len(raw) == n:
        sample = head(msgpack_to_json_udf()(F.col("value")))
    return sample


def prepare_envelope_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    payload_schema: StructType | None = None,
    sample_size: int = 50,
    fmt: str = "json",
    observation: Observation | None = None,
) -> DataFrame:
    """Kafka-shaped batch -> flat, dated, reference-schema frame.

    decode (P1) -> flatten (P2) -> envelope columns first (P3) -> drop
    null timestamps (P5) -> event-date partition column (F1/T4).

    When `payload_schema` is None it is inferred from a bounded sample of
    this batch (the per-micro-batch dynamic schema path). `fmt` is the
    topic's sampled verdict (S5): MessagePack payloads convert to JSON
    strings through the Arrow-batched UDF first (the pure-stdlib
    codec), then share the JSON
    inference/decode path — one decoder per topic, never a per-row
    format cascade (collector:223-256). The sample is the batch's first
    `sample_size` non-null payloads, or for MessagePack the first that
    decode (`_json_sample`).

    `observation`, when given, counts the batch's rows (`rows`) on every
    pass after the sample, so its first action reads the whole batch.
    """
    env = project_kafka_envelope(batch_df) if "topic" in batch_df.columns else batch_df
    if payload_schema is None:
        sample = _json_sample(env, fmt, sample_size)
        payload_schema = infer_json_schema(spark, sample) if sample else None
    if observation is not None:
        env = env.observe(observation, F.count(F.lit(1)).alias("rows"))
    if payload_schema is None:  # no decodable payload in the sample
        return with_event_date(env.drop("value"))
    if fmt == "msgpack":
        env = env.withColumn("value", msgpack_to_json_udf()(F.col("value")))
    decoded = decode_json(env, payload_schema).drop("value")
    # the decoded payload IS the record's top level (collector:259-284);
    # expand it before flattening so the `data` hoist rule applies
    others = [F.col(c) for c in decoded.columns if c != "decoded"]
    expanded = decoded.select(*others, F.col("decoded.*"))
    flat = flatten_struct_columns(expanded)
    return with_event_date(flat)


def make_merge_batch_writer(
    spark: SparkSession,
    output_root: str,
    cfg: EngineConfig,
    ledger: dict[str, int],
    fmt: str = "json",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: prepare + schema-version routing + dedup merge.

    Schema drift handling (1.4): each micro-batch's flattened schema is
    fingerprinted (F5); a batch whose fingerprint differs from the base
    table's goes to `<root>_v<fingerprint>` — versioned tables instead of
    corrupting the base, exactly the reference's `topic_v{N}.parquet`
    fallback (collector:435-465, 795-819). Readers union versions with
    mergeSchema (U1).

    The rows each write commits are added to `ledger`, keyed by the
    target root (the base, or `<root>_v<fingerprint>`).

    The batch is not cached: the schema sample is a `limit`, the write
    reads the batch once, and on the merge path the distinct-dates pass
    reads the batch again for `kafka_timestamp` alone. A file source
    prunes that read to the one column. A Kafka source fetches the whole
    batch from the broker once more instead; whether that costs more or
    less than filling a cache has not been measured. Spark's
    `numInputRows` counts each of these passes, so the body counts the
    rows of one full pass and records them for the metrics listener
    (`record_rows_read`).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        read = Observation()
        prepared = prepare_envelope_batch(spark, batch_df, fmt=fmt, observation=read)
        if not prepared.columns:
            return
        target = output_root
        # a missing base is a first write; a base that exists but
        # cannot be read must fail the batch, never skip the check
        if _sink_exists(spark, output_root):
            base_schema = spark.read.parquet(output_root).drop("date").schema
            ours = prepared.drop("date").schema
            if schema_fingerprint(base_schema) != schema_fingerprint(ours):
                target = f"{output_root}_v{schema_fingerprint(ours)}"
        if cfg.skip_dedup:
            n = write_date_partitioned(prepared, target, cfg, mode="append")
        else:
            n = merge_dedup_append(spark, prepared, target, cfg=cfg)
        ledger[target] = ledger.get(target, 0) + n
        query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        if query_id:  # None when called outside a streaming query
            record_rows_read(query_id, batch_id, read.get["rows"])

    return write_batch


def ingest_available_now(
    spark: SparkSession,
    source: DataFrame,
    output_root: str,
    checkpoint_dir: str,
    cfg: EngineConfig | None = None,
    query_name: str | None = None,
    fmt: str = "json",
) -> dict[str, int]:
    """Drain everything available from a streaming source into the
    date-partitioned table, then stop (T1+T2+T5). Returns the ledger of
    rows this drain committed, keyed by target root (the base, or a
    `<root>_v<fingerprint>` schema version); a drain that wrote nothing
    returns {}.

    `source` is any streaming DataFrame (Kafka via sources.kafka, or a
    file stream in tests) already in (or convertible to) envelope shape.
    `query_name` labels the streaming query (progress events, metrics
    listener, Spark UI) — concurrent per-topic drains each get their own
    name so per-topic metrics don't cross-contaminate.
    """
    cfg = cfg or EngineConfig()
    ledger: dict[str, int] = {}
    writer = make_merge_batch_writer(spark, output_root, cfg, ledger, fmt=fmt)
    stream = source.writeStream.foreachBatch(writer)
    if query_name:
        stream = stream.queryName(query_name)
    query = (
        stream.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return ledger


def dedup_stream(
    df: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "event_time",
    watermark: str = "1 hour",
) -> DataFrame:
    """In-flight streaming dedup on the envelope key (T5 complement).

    `dropDuplicatesWithinWatermark` keeps per-key state only until the
    watermark passes — bounded state, unlike plain dropDuplicates on a
    stream (which accumulates keys forever). Use for at-least-once
    sources where the same (partition, offset) may be redelivered within
    the watermark window; the anti-join merge remains the cross-run
    backstop.
    """
    keys = keys or ["kafka_partition", "kafka_offset"]
    if not df.isStreaming:
        return df.dropDuplicates(keys)
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
