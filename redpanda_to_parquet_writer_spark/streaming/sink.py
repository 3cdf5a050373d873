"""Date-partitioned Parquet sink + offset recovery.

Reference parity (SURVEY 2.1/2.9):
  - S10 date-partitioned sink: one partition per event-time date
    (collector:636-841, 863-867). We use hive layout
    `topic=<t>/date=YYYY-MM-DD/` so Catalyst prunes partitions natively
    (SURVEY 4: prefer hive layout over bare YYYY/MM/DD dirs).
  - S11 parallel partition writes: free — Spark writes all partitions as
    parallel tasks of one job.
  - S12 atomic write: free — the file-commit protocol stages task output
    and renames on commit.
  - O1 clustered storage: sortWithinPartitions(date, topic, partition,
    offset) orders rows inside each file without a global sort. The sort
    leads with `date` because the planned write sorts each task by the
    partition column: a local sort that does not lead with it is
    replaced by that sort, and the files lose their key order.
  - T1 offset recovery: `existing_max_offsets` re-derives per-partition
    resume offsets by scanning ONLY the key columns of the output
    (projected read, S7 — Catalyst prunes to 2 columns), exactly the
    reference's `get_existing_max_offsets` (collector:468-530). Used as
    the cross-run backstop when no checkpoint exists. The same aggregate
    also counts the rows the table holds, so a run knows its starting
    total without a second scan.
  - Written-row counts come from the write itself: `write_date_partitioned`
    observes `count(1)` on the frame it commits and returns it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.config import EngineConfig
from redpanda_to_parquet_writer_spark.functions.dates import event_date
from redpanda_to_parquet_writer_spark.operators.dedup import anti_join_dedup
from redpanda_to_parquet_writer_spark.sources.parquet import data_file_sizes


def with_event_date(df: DataFrame, ts_col: str = "kafka_timestamp") -> DataFrame:
    """Attach the event-time date partition column (F1/T4).

    Null-timestamp rows are dropped first, as the collector does before
    writing (P5, collector:1299).
    """
    return df.filter(F.col(ts_col).isNotNull()).withColumn("date", event_date(ts_col))


def write_date_partitioned(
    df: DataFrame,
    root: str,
    cfg: EngineConfig | None = None,
    mode: str = "append",
) -> int:
    """Write a prepared (date-columned) frame as hive-partitioned Parquet
    and return the number of rows it committed.

    zstd + large row groups per the reference's compression findings
    (collector:97-99); clustered by (partition, offset) inside each file
    (O1, collector:858-860). The sort leads with `date`, the order the
    planned write needs, so Spark keeps it instead of replacing it.

    Rows are repartitioned on the date key first: without this, every
    task holds every date and the job writes tasks x dates files (e.g.
    32 x 30 = 960 tiny files at sf0.1 — measured; with clustering, 30).

    The count is an `Observation` of `count(1)` on the rows that reach
    the writer, filled in by the write job itself: no second scan.
    """
    cfg = cfg or EngineConfig()
    written = Observation()
    df = df.repartition(F.col("date")).observe(written, F.count(F.lit(1)).alias("rows"))
    keys = [c for c in ("kafka_topic", "kafka_partition", "kafka_offset") if c in df.columns]
    (
        df.sortWithinPartitions("date", *keys)
        .write.partitionBy("date")
        .option("compression", cfg.compression)
        .option("parquet.block.size", str(cfg.parquet_block_bytes))
        .mode(mode)
        .parquet(root)
    )
    return written.get["rows"]


def _sink_exists(spark: SparkSession, root: str) -> bool:
    """True iff the sink root exists AND holds at least one data file
    (Hadoop FS probe).

    Used instead of try/except around the read: a transient or
    corrupt-read failure must PROPAGATE (silently treating it as
    "first write" would disable the exactly-once anti-join backstop and
    append duplicates); only a genuinely missing path means first write.
    An exists-but-EMPTY root (e.g. mkdir'd by an external orchestrator
    before the first batch) is also a first write — reading it would
    fail schema inference, not signal duplicates.
    """
    return next(data_file_sizes(spark, root), None) is not None


class ResumeOffsets(dict):
    """`kafka_partition -> max persisted offset`, plus `rows`: the rows
    the table held when the offsets were read."""

    rows: int = 0


def existing_max_offsets(spark: SparkSession, root: str) -> ResumeOffsets:
    """Per-partition max persisted offset from the sink itself (T1).

    Projected scan of 2 columns + group-by-max (A1) — the reference's
    resume recovery (collector:468-530), kept as the backstop for
    checkpoint loss (SURVEY 7.3 risk 2). The same aggregate counts the
    table's rows (`.rows`), so a run learns its starting total with no
    extra job. A root with no data file gives an empty map and 0 rows
    without running a job.
    """
    offsets = ResumeOffsets()
    if not _sink_exists(spark, root):
        return offsets
    rows = (
        spark.read.parquet(root)
        .select("kafka_partition", "kafka_offset")
        .groupBy("kafka_partition")
        .agg(F.max("kafka_offset").alias("max_offset"), F.count(F.lit(1)).alias("rows"))
        .collect()
    )
    offsets.update((int(r["kafka_partition"]), int(r["max_offset"])) for r in rows)
    offsets.rows = sum(int(r["rows"]) for r in rows)
    return offsets


def _pruned_partition_bytes(spark: SparkSession, root: str, dates: list[str]) -> int:
    """On-disk bytes of the data files under the given `date=` partition
    dirs — a driver-side FS listing, zero Spark jobs. Used to size-gate
    the merge-dedup broadcast.
    """
    return sum(sum(data_file_sizes(spark, f"{root}/date={d}")) for d in dates)


def dedup_frame_for_merge(
    spark: SparkSession,
    new_df: DataFrame,
    root: str,
    keys: tuple[str, ...] = ("kafka_partition", "kafka_offset"),
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Build the anti-joined frame for an idempotent merge-append (J2).

    The merge-phase dedup contract (collector:1003-1010) must hold at ANY
    history size, so the existing side is:

      1. **Date-pruned**: the scan is filtered to the distinct event
         dates present in the incoming batch (the plan shows
         PartitionFilters; non-matching date dirs are never listed or
         read). Sound because the date is derived deterministically from
         `kafka_timestamp` — a re-delivered message lands in the same
         date partition it was first written to, so duplicates can only
         live in the batch's own dates.
      2. **Column-pruned**: only the key columns are read (S7).
      3. **Size-gated broadcast**: the pruned partitions' bytes are
         summed driver-side (no Spark job); broadcast only under
         `cfg.dedup_broadcast_max_bytes`, else a shuffle anti-join.
         Broadcasting a whole topic's multi-year key set would OOM every
         executor at 100 TB; the shuffle fallback is always correct.

    If `new_df` carries no `date` column, pruning is impossible and the
    shuffle path is used unconditionally (never broadcast blind).
    """
    cfg = cfg or EngineConfig()
    existing = spark.read.parquet(root)
    broadcastable = False
    if "date" in new_df.columns and "date" in existing.columns:
        dates = sorted(
            str(r["date"]) for r in new_df.select("date").distinct().collect()
        )
        existing = existing.filter(F.col("date").isin(dates))
        broadcastable = (
            _pruned_partition_bytes(spark, root, dates)
            <= cfg.dedup_broadcast_max_bytes
        )
    return anti_join_dedup(
        new_df, existing.select(*keys), keys, broadcast_existing=broadcastable
    )


def merge_dedup_append(
    spark: SparkSession,
    new_df: DataFrame,
    root: str,
    keys: tuple[str, ...] = ("kafka_partition", "kafka_offset"),
    cfg: EngineConfig | None = None,
) -> int:
    """Idempotent append: anti-join new rows against persisted keys (J2).
    Returns the rows appended (after the anti-join).

    Run inside foreachBatch or as the batch-mode write path when
    SKIP_DEDUPLICATION=false; see `dedup_frame_for_merge` for the
    date-pruned / size-gated anti-join shape.

    Only a missing sink path skips the anti-join (first write); any
    other read failure propagates — swallowing it would silently break
    idempotency.
    """
    if _sink_exists(spark, root):
        deduped = dedup_frame_for_merge(spark, new_df, root, keys, cfg)
    else:
        deduped = new_df  # first write: nothing to dedup against
    return write_date_partitioned(deduped, root, cfg, mode="append")


def export_reference_layout(
    spark: SparkSession, hive_root: str, out_root: str, topic: str
) -> list[str]:
    """Export a hive-partitioned topic table to the reference's exact
    directory layout: `out_root/YYYY/MM/DD/<topic>.parquet`, ONE file per
    (date, topic) (collector:11, 441-443; SURVEY 7.3 risk 5).

    The engine's native layout stays hive-style (partition pruning, many
    files per partition); this exporter exists for byte-level path
    compatibility with downstream consumers of the reference.

    ONE Spark job writes every date in parallel: rows are repartitioned
    on `date` (one task -> one file per date, the reference's own
    one-file constraint), written hive-partitioned to a temp dir via
    Spark's committer, then a driver-side rename walk moves each
    partition's single part file to `YYYY/MM/DD/<topic>.parquet`. The
    prior implementation ran one sequential coalesce(1) job per date —
    at years of history that serializes hours of jobs; this shape is a
    single job regardless of date count.

    Returns the exported file paths.
    """
    import glob
    import os
    import shutil
    import tempfile

    df = spark.read.parquet(hive_root)
    tmp = tempfile.mkdtemp(prefix="refexport_")
    (
        df.repartition(F.col("date"))
        .write.partitionBy("date")
        .mode("overwrite")
        .parquet(tmp)
    )
    exported = []
    for part_dir in sorted(glob.glob(os.path.join(tmp, "date=*"))):
        d = os.path.basename(part_dir).split("=", 1)[1]
        y, m, day = d.split("-")
        dest_dir = os.path.join(out_root, y, m, day)
        os.makedirs(dest_dir, exist_ok=True)
        parts = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        # repartition(date) hashes every row of a date into one task, so
        # exactly one part file exists per partition dir
        dest = os.path.join(dest_dir, f"{topic}.parquet")
        shutil.move(parts[0], dest)
        exported.append(dest)
    shutil.rmtree(tmp, ignore_errors=True)
    return exported


def backfill_date_partitions(
    df: DataFrame,
    root: str,
    files_per_date: int = 1,
) -> list[str]:
    """Reprocess specific dates IN PLACE: dynamic partition overwrite
    replaces exactly the `date=` partitions present in `df` and leaves
    every other date untouched — the "one bad day" recompute every
    production sink eventually needs, without rewriting (or even
    listing) the rest of a 100-TB table.

    `df` must already carry the `date` partition column
    (`with_event_date`). Returns the sorted list of overwritten dates
    (driver-side: distinct over the tiny date set). The conf flips to
    `dynamic` only for this write and is restored after — static mode
    (the default) would wipe ALL partitions on overwrite.
    """
    spark = df.sparkSession
    dates = sorted(
        str(r["date"]) for r in df.select("date").distinct().collect()
    )
    # Hash-partitioning on "date" alone puts each date in ONE partition
    # no matter the partition count; a bucket column spreads each date
    # across exactly files_per_date writer tasks (then drops pre-write).
    if files_per_date > 1:
        # pmod, not %: xxhash64 is signed, and a negative remainder would
        # double the distinct bucket count (up to 2*files_per_date-1 files)
        bucket = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(files_per_date)
        )
        out = (
            df.withColumn("__bucket", bucket)
            .repartition(files_per_date * max(len(dates), 1), "date", "__bucket")
            .drop("__bucket")
        )
    else:
        out = df.repartition(max(len(dates), 1), "date")
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(conf_key, "static")
    spark.conf.set(conf_key, "dynamic")
    try:
        keys = [c for c in ("kafka_partition", "kafka_offset") if c in df.columns]
        # leads with `date`, the order the planned write needs (O1)
        out.sortWithinPartitions("date", *keys).write.mode("overwrite").partitionBy(
            "date"
        ).parquet(root)
    finally:
        spark.conf.set(conf_key, old)
    return dates
