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
`foreachBatch` re-infers the payload schema per micro-batch, flattens,
and routes schema versions — each micro-batch may differ, the stream
never has to restart.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from redpanda_to_parquet_writer_spark.config import EngineConfig
from redpanda_to_parquet_writer_spark.functions.hashing import schema_fingerprint
from redpanda_to_parquet_writer_spark.operators.decode import decode_json, infer_json_schema
from redpanda_to_parquet_writer_spark.operators.flatten import (
    flatten_struct_columns,
    project_kafka_envelope,
)
from redpanda_to_parquet_writer_spark.streaming.sink import (
    _sink_exists,
    merge_dedup_append,
    with_event_date,
    write_date_partitioned,
)


def prepare_envelope_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    payload_schema: StructType | None = None,
    sample_size: int = 50,
    fmt: str = "json",
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
    format cascade (collector:223-256).
    """
    env = project_kafka_envelope(batch_df) if "topic" in batch_df.columns else batch_df
    if fmt == "msgpack":
        from redpanda_to_parquet_writer_spark.operators.decode import (
            msgpack_to_json_udf,
        )

        env = env.withColumn("value", msgpack_to_json_udf()(F.col("value")))
    if payload_schema is None:
        sample = [
            r["value"]
            for r in env.select(F.col("value").cast("string").alias("value"))
            .filter(F.col("value").isNotNull())
            .limit(sample_size)
            .collect()
        ]
        if not sample:
            return with_event_date(env.drop("value"))
        payload_schema = infer_json_schema(spark, sample)
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
    fmt: str = "json",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: prepare + schema-version routing + dedup merge.

    Schema drift handling (1.4): each micro-batch's flattened schema is
    fingerprinted (F5); a batch whose fingerprint differs from the base
    table's goes to `<root>_v<fingerprint>` — versioned tables instead of
    corrupting the base, exactly the reference's `topic_v{N}.parquet`
    fallback (collector:435-465, 795-819). Readers union versions with
    mergeSchema (U1).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the dynamic-schema path runs TWO actions over the batch (schema
        # sample, then the write) — persist so the source is scanned
        # once per micro-batch, not once per action
        batch_df.persist()
        try:
            prepared = prepare_envelope_batch(spark, batch_df, fmt=fmt)
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
                write_date_partitioned(prepared, target, cfg, mode="append")
            else:
                merge_dedup_append(spark, prepared, target, cfg=cfg)
        finally:
            batch_df.unpersist()

    return write_batch


def ingest_available_now(
    spark: SparkSession,
    source: DataFrame,
    output_root: str,
    checkpoint_dir: str,
    cfg: EngineConfig | None = None,
    query_name: str | None = None,
    fmt: str = "json",
) -> None:
    """Drain everything available from a streaming source into the
    date-partitioned table, then stop (T1+T2+T5).

    `source` is any streaming DataFrame (Kafka via sources.kafka, or a
    file stream in tests) already in (or convertible to) envelope shape.
    `query_name` labels the streaming query (progress events, metrics
    listener, Spark UI) — concurrent per-topic drains each get their own
    name so per-topic metrics don't cross-contaminate.
    """
    cfg = cfg or EngineConfig()
    writer = make_merge_batch_writer(spark, output_root, cfg, fmt=fmt)
    stream = source.writeStream.foreachBatch(writer)
    if query_name:
        stream = stream.queryName(query_name)
    query = (
        stream.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


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
