"""Oracle-gated Structured Streaming query: the STREAMING engine itself
inside the driver-verified surface.

Every other registry entry verifies a batch plan; this one runs a real
streaming query — file source -> watermarked tumbling-window aggregate ->
memory sink, drained with Trigger.AvailableNow — and returns the
materialized result, which the driver hash-compares against plain batch
SQL. Works because the pipeline is deterministic end-to-end: the window
aggregate's money-style sum accumulates as decimal (order-independent),
so micro-batch boundaries and task order cannot change a single bit.

Reference anchor: the reference's drain loop is a bounded consume->write
cycle (redpanda_to_parquet_collector.py:324-411); AvailableNow is the
Spark-native equivalent, and this query proves the equivalence class
(stream result == batch SQL result) rather than asserting it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.functions.dates import event_epoch_us


def streaming_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event stats computed by Structured Streaming (availableNow
    drain into a memory sink), hash-equal to the batch SQL oracle.

    total_value accumulates as DECIMAL(18,6) — exact and order-
    independent, so the result is bit-identical no matter how the file
    source splits micro-batches or how tasks interleave (the same
    invariant the partition-invariance suite asserts for batch plans).
    """
    stream = _events_stream(spark, sf_dir)
    ts = F.timestamp_micros(event_epoch_us(stream))
    agg = (
        stream.withColumn("evt_ts", ts)
        .withWatermark("evt_ts", "2 hours")
        .groupBy(F.window("evt_ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.expr(
                "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)"
            ).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )
    return _drain_to_memory(agg, "streaming_hourly_stats_sink", "complete")


def _events_stream(spark: SparkSession, sf_dir: str):
    """File-source stream over the events fixture (schema from a batch
    footer read). The file stream source requires a DIRECTORY, so a
    glob narrows the flat fixture dir (one file per table) to the
    events table."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _drain_to_memory(agg: DataFrame, sink_table: str, output_mode: str) -> DataFrame:
    """Drain `agg` with Trigger.AvailableNow into a memory sink and return
    the sink table. The sink's temp view is dropped first for rerun
    idempotence: the driver (and drive_entry.py) executes each query
    twice in one session."""
    spark = agg.sparkSession
    spark.catalog.dropTempView(sink_table)
    q = (
        agg.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


def streaming_offset_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM STATEFUL operator (`applyInPandasWithState`) under the
    oracle gate: per-partition offset-gap detection running as a real
    streaming query (availableNow -> memory sink), hash-equal to the lag-
    window batch SQL.

    Same synthetic envelope as the batch twin `offset_gap_check`
    (partition = event_id % 8, offset = event_id DIV 8, offsets ≡ 13
    (mod 97) dropped); the stateful detector must emit exactly those
    holes. State is one long per partition — the scale shape for a
    million-partition topic fleet — and gap detection inside the batch
    is a NumPy pass, no per-row Python.
    """
    from redpanda_to_parquet_writer_spark.streaming.stateful import detect_offset_gaps

    env = (
        _events_stream(spark, sf_dir)
        .select(
            F.pmod("event_id", F.lit(8)).cast("long").alias("kafka_partition"),
            F.expr("event_id DIV 8").alias("kafka_offset"),
        )
        .filter(F.expr("kafka_offset % 97 != 13"))
    )
    return _drain_to_memory(
        detect_offset_gaps(env), "streaming_offset_gaps_sink", "append"
    )


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM join under the oracle gate: clicks joined to the
    purchases that happened within 1 hour BEFORE them, as a real
    watermarked stream-stream inner join (both sides streaming, time
    bound in the join condition so state is evicted past
    watermark + lookback), drained availableNow into a memory sink and
    hash-compared to plain batch SQL.

    Timestamps leave as epoch-micros longs (engine-portable); the join
    emits one row per (click, qualifying purchase).
    """
    from redpanda_to_parquet_writer_spark.streaming.joins import interval_stream_join

    base = _events_stream(spark, sf_dir)
    ts = F.timestamp_micros(event_epoch_us(base))
    base = base.withColumn("evt_ts", ts)
    clicks = base.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "evt_ts"
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "evt_ts"
    )
    joined = interval_stream_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="evt_ts",
        right_ts="evt_ts",
        lookback="1 hour",
        watermark="2 hours",
    )
    out = joined.select(
        "click_id",
        "user_id",
        F.unix_micros(F.col("evt_ts")).alias("click_ts_us"),
        F.col("purchase_id_r").alias("purchase_id"),
        F.unix_micros(F.col("evt_ts_r")).alias("purchase_ts_us"),
    )
    return _drain_to_memory(out, "streaming_interval_join_sink", "append")


def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DEDUP under the oracle gate: a synthetic envelope with
    every key duplicated (offset = event_id DIV 2 — each (partition,
    offset) appears twice) runs through `dropDuplicatesWithinWatermark`
    (bounded per-key state, the at-least-once in-flight dedup), drained
    availableNow into a memory sink.

    Only the KEY COLUMNS are emitted — which duplicate survives is
    task-order dependent, but the surviving key SET is exactly the
    distinct key set, which plain batch DISTINCT reproduces.
    """
    from redpanda_to_parquet_writer_spark.streaming.ingest import dedup_stream

    stream = _events_stream(spark, sf_dir)
    # event_id 2k and 2k+1 map to the SAME (partition, offset) — every
    # key is a genuine duplicate pair
    env = stream.select(
        F.pmod(F.expr("event_id DIV 2"), F.lit(4)).cast("long").alias("kafka_partition"),
        F.expr("event_id DIV 2").alias("kafka_offset"),
        F.timestamp_micros(event_epoch_us(stream)).alias("event_time"),
    )
    deduped = dedup_stream(env, ["kafka_partition", "kafka_offset"], "event_time")
    out = deduped.select("kafka_partition", "kafka_offset")
    return _drain_to_memory(out, "streaming_dedup_keys_sink", "append")


def streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join under the oracle gate: the event stream joins a
    static dimension (nation, keyed by user_id % 25) per micro-batch —
    the standard enrichment pattern where the dim is broadcast into every
    batch and requires NO stream state at all (unlike stream-stream
    joins). Aggregated per nation; money-free integer counts are exact.
    """
    stream = _events_stream(spark, sf_dir)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    enriched = stream.withColumn(
        "n_key", F.pmod("user_id", F.lit(25)).cast("long")
    ).join(nation, F.col("n_key") == F.col("n_nationkey"))
    # no DISTINCT aggregates on streams; the value sum accumulates as
    # decimal (order-independent) like the hourly-stats query
    agg = enriched.groupBy("n_name").agg(
        F.count("*").alias("n_events"),
        F.expr(
            "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)"
        ).alias("total_value"),
    )
    return _drain_to_memory(agg, "streaming_static_enrichment_sink", "complete")


SESSION_GAP = "30 minutes"
_GAP_US = 1800 * 1000000


def streaming_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION WINDOWS under the oracle gate: gap-based per-user sessions
    computed by the streaming engine itself (`session_window` state
    merging across micro-batches, availableNow -> memory sink),
    hash-equal to batch lag/cumsum sessionization SQL.

    Semantics pinned by the oracle: sessions merge while consecutive
    events are STRICTLY closer than the gap (session_window's interval
    is [start, last + gap)), session_end = last event + gap. The value
    sum accumulates as decimal — order-independent across micro-batch
    boundaries and session-state merges, same invariant as the other
    streaming rows.
    """
    stream = _events_stream(spark, sf_dir)
    ts = F.timestamp_micros(event_epoch_us(stream))
    agg = (
        stream.withColumn("evt_ts", ts)
        .withWatermark("evt_ts", "2 hours")
        .groupBy(F.session_window("evt_ts", SESSION_GAP).alias("s"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(
                "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)"
            ).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros("s.start").alias("session_start_us"),
            F.unix_micros("s.end").alias("session_end_us"),
            "n_events",
            "total_value",
        )
    )
    return _drain_to_memory(agg, "streaming_session_stats_sink", "complete")


def streaming_sliding_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING windows under the oracle gate: 2-hour windows advancing
    every hour (each event lands in exactly two windows), computed by
    the streaming engine (availableNow -> memory sink) and hash-equal
    to a batch unnest-the-offsets SQL. Completes the window-type
    coverage: tumbling (hourly stats), session (gap merge), sliding."""
    stream = _events_stream(spark, sf_dir)
    ts = F.timestamp_micros(event_epoch_us(stream))
    agg = (
        stream.withColumn("evt_ts", ts)
        .withWatermark("evt_ts", "3 hours")
        .groupBy(F.window("evt_ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.expr(
                "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)"
            ).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )
    return _drain_to_memory(agg, "streaming_sliding_stats_sink", "complete")


def streaming_msgpack_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENTIRE msgpack ingest pipeline under the oracle gate: every
    event packs into a real MessagePack envelope (pure-stdlib encoder),
    lands in a spool, and streams through the production path — file
    stream -> format routing -> Arrow msgpack decode -> JSON inference
    -> flatten -> event-date partitioning -> checkpointed dated parquet
    via the merge-dedup writer — then the SINK is read back and
    aggregated; the oracle computes the same aggregates from the
    ORIGINAL events table. A wrong byte in the codec, a dropped row in
    the merge, or a misrouted date flips the hash. Fresh private
    dirs per invocation keep the driver's rerun-idempotence check
    honest (each run re-ingests from scratch).
    """
    import pandas as pd

    from redpanda_to_parquet_writer_spark.config import EngineConfig
    from redpanda_to_parquet_writer_spark.functions.dates import event_epoch_ms
    from redpanda_to_parquet_writer_spark.functions.msgpack_codec import packb
    from redpanda_to_parquet_writer_spark.sources.parquet import load_table
    from redpanda_to_parquet_writer_spark.streaming.ingest import (
        ingest_available_now,
    )

    events = load_table(spark, sf_dir, "events")
    pack = F.pandas_udf(
        lambda et, v, u: pd.Series(
            [
                packb({"event_type": a, "value": float(b), "user_id": int(c)})
                for a, b, c in zip(et, v, u)
            ]
        ),
        "binary",
    )
    env = events.select(
        F.lit("mp_topic").alias("kafka_topic"),
        F.pmod("event_id", F.lit(4)).cast("long").alias("kafka_partition"),
        F.col("event_id").alias("kafka_offset"),
        event_epoch_ms(events).alias("kafka_timestamp"),
        F.col("user_id").cast("string").alias("kafka_key"),
        pack("event_type", "value", "user_id").alias("value"),
    )
    work = _retained_workdir("mp_ingest_")
    src = f"{work}/src"
    env.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    cfg = EngineConfig(output_dir=f"{work}/out", checkpoint_dir=f"{work}/ckpt")
    ingest_available_now(
        spark, stream, f"{work}/out", f"{work}/ckpt", cfg, fmt="msgpack"
    )
    sink = spark.read.parquet(f"{work}/out")
    return sink.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.expr(
            "CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)"
        ).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("date").alias("n_dates"),
    )


#: per-invocation streaming work dirs (spool + sink + checkpoint): each
#: run gets a FRESH dir (keeps the driver's rerun-idempotence check
#: honest), retained here so the TemporaryDirectory finalizers remove
#: them at interpreter exit instead of accumulating full blob/sink
#: copies in /tmp across bench warm+time runs, --scaling sweeps and
#: test reruns (ADVICE r7). rmtree-on-return is NOT possible: the
#: returned frame lazily reads the sink path.
_WORK_DIRS: list = []


def _retained_workdir(prefix: str) -> str:
    import tempfile

    tmp = tempfile.TemporaryDirectory(prefix=prefix)
    _WORK_DIRS.append(tmp)
    return tmp.name


def streaming_media_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary MEDIA through the REAL streaming path — the 100-TB ingest
    shape for a multimodal corpus: per-doc PNG blobs land in a spool,
    stream through availableNow -> JVM magic sniff -> Arrow-batched
    full PNG decode (`map_media_batches` runs unchanged on a streaming
    DataFrame) -> checkpointed parquet sink of TYPED FEATURES (the
    blobs never reach the sink), then the sink is read back and gated
    against the same closed-form oracle as the batch PNG query. A
    dropped micro-batch row, a misdecoded scanline, or a feature
    column drift flips the hash. Fresh private dirs per invocation
    keep the driver's rerun-idempotence check honest; they are retained
    TemporaryDirectories, removed at interpreter exit (ADVICE r7, see
    _retained_workdir)."""
    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_png_features,
        encode_png,
        synth_gray_image,
    )
    from redpanda_to_parquet_writer_spark.plans.multimodal_queries import (
        _image_roundtrip,
    )

    work = _retained_workdir("media_ingest_")

    def spool(blobs: DataFrame) -> DataFrame:
        src = f"{work}/src"
        blobs.write.parquet(src)
        return spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)

    decoded = _image_roundtrip(
        spark,
        sf_dir,
        lambda i: encode_png(*synth_gray_image(int(i))),
        decode_png_features,
        spool=spool,
    )
    (
        decoded.writeStream.format("parquet")
        .option("path", f"{work}/out")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    sink = spark.read.parquet(f"{work}/out")
    return sink.select(
        "doc_id", "format", "width", "height", "bit_depth", "channels",
        "p00", "p_last", "pixel_sum",
    )


QUERIES = {
    "streaming_hourly_event_stats": streaming_hourly_event_stats,
    "streaming_media_ingest": streaming_media_ingest,
    "streaming_msgpack_ingest": streaming_msgpack_ingest,
    "streaming_session_stats": streaming_session_stats,
    "streaming_sliding_event_stats": streaming_sliding_event_stats,
    "streaming_offset_gaps": streaming_offset_gaps,
    "streaming_interval_join": streaming_interval_join,
    "streaming_dedup_keys": streaming_dedup_keys,
    "streaming_static_enrichment": streaming_static_enrichment,
}

ORACLES = {
    # plain batch SQL over the same parquet — the streaming pipeline must
    # reproduce it exactly
    "streaming_hourly_event_stats": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               count(*) AS n,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS total_value
        FROM events
        GROUP BY 1
    """,
    # the stateful streaming detector must reproduce the lag-window SQL
    "streaming_offset_gaps": """
        WITH env AS (
          SELECT event_id % 8 AS kafka_partition,
                 event_id // 8 AS kafka_offset
          FROM events
          WHERE (event_id // 8) % 97 != 13
        ),
        d AS (SELECT DISTINCT kafka_partition, kafka_offset FROM env),
        lagged AS (
          SELECT kafka_partition, kafka_offset,
                 lag(kafka_offset) OVER (
                   PARTITION BY kafka_partition ORDER BY kafka_offset
                 ) AS prev
          FROM d
        )
        SELECT kafka_partition,
               prev + 1 AS gap_start,
               kafka_offset - 1 AS gap_end,
               kafka_offset - prev - 1 AS n_missing
        FROM lagged WHERE kafka_offset > prev + 1
    """,
    # the watermarked stream-stream join must reproduce the plain
    # interval-predicate batch join
    "streaming_interval_join": """
        WITH base AS (
          SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
          FROM events
        )
        SELECT c.event_id AS click_id,
               c.user_id,
               c.ts_us AS click_ts_us,
               p.event_id AS purchase_id,
               p.ts_us AS purchase_ts_us
        FROM base c
        JOIN base p
          ON c.event_type = 'click' AND p.event_type = 'purchase'
         AND c.user_id = p.user_id
         AND p.ts_us <= c.ts_us
         AND p.ts_us >= c.ts_us - 3600000000
    """,
    # the per-micro-batch broadcast dim join must reproduce the plain
    # batch join
    "streaming_static_enrichment": """
        SELECT n.n_name,
               count(*) AS n_events,
               CAST(round(sum(CAST(e.value AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS total_value
        FROM events e
        JOIN nation n ON e.user_id % 25 = n.n_nationkey
        GROUP BY n.n_name
    """,
    # the full pack -> spool -> stream -> decode -> flatten -> dated-sink
    # pipeline must reproduce the direct aggregation of the source table
    # the batch PNG query's closed-form oracle, reached through the
    # REAL streaming ingest path instead of a batch mapInPandas
    "streaming_media_ingest": """
        WITH base AS (
          SELECT doc_id,
                 16 + doc_id % 17 AS w,
                 16 + (3 * doc_id) % 23 AS h
          FROM documents
        ),
        grid AS (
          SELECT b.doc_id, b.w, b.h,
                 (b.doc_id + 7 * xs.x + 13 * ys.y) % 256 AS pix
          FROM base b,
               LATERAL (SELECT unnest(range(b.w)) AS x) xs,
               LATERAL (SELECT unnest(range(b.h)) AS y) ys
        )
        SELECT doc_id,
               'png' AS format,
               CAST(w AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(8 AS BIGINT) AS bit_depth,
               CAST(1 AS BIGINT) AS channels,
               CAST(doc_id % 256 AS BIGINT) AS p00,
               CAST((doc_id + 7 * (w - 1) + 13 * (h - 1)) % 256 AS BIGINT) AS p_last,
               CAST(sum(pix) AS BIGINT) AS pixel_sum
        FROM grid
        GROUP BY doc_id, w, h
    """,
    "streaming_msgpack_ingest": """
        SELECT event_type,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS total_value,
               count(DISTINCT user_id) AS n_users,
               count(DISTINCT CAST(ts AS DATE)) AS n_dates
        FROM events GROUP BY event_type
    """,
    # sliding windows: each event contributes to the two 2-hour windows
    # whose hour-aligned starts cover it — batch replay via unnested
    # window offsets
    "streaming_sliding_event_stats": """
        SELECT time_bucket(INTERVAL '1 hour', ts) - k * INTERVAL '1 hour'
                 AS window_start,
               count(*) AS n,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS total_value
        FROM events, LATERAL unnest([0, 1]) t(k)
        GROUP BY 1
    """,
    # the streaming session_window merge must reproduce batch lag/cumsum
    # sessionization (new session when the gap is >= 30 min — the window
    # interval is half-open, so an exactly-gap-later event does NOT merge)
    "streaming_session_stats": f"""
        WITH base AS (
          SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
        ),
        flagged AS (
          SELECT user_id, ts_us, value,
                 CASE WHEN lag(ts_us) OVER w IS NULL
                        OR ts_us - lag(ts_us) OVER w >= {_GAP_US}
                      THEN 1 ELSE 0 END AS is_new
          FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
        ),
        sess AS (
          SELECT user_id, ts_us, value,
                 sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING
                 ) AS sid
          FROM flagged
        )
        SELECT user_id,
               min(ts_us) AS session_start_us,
               max(ts_us) + {_GAP_US} AS session_end_us,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS total_value
        FROM sess GROUP BY user_id, sid
    """,
    # the streaming bounded-state dedup must emit exactly the distinct
    # key set
    "streaming_dedup_keys": """
        SELECT DISTINCT (event_id // 2) % 4 AS kafka_partition,
               event_id // 2 AS kafka_offset
        FROM events
    """,
}
