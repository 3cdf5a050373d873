"""Reader API — the parquet_to_polars.py parity surface.

Programmatic batch loading + analyze + dedup modes over the engine's
hive-partitioned table layout (`<base>/<topic>/date=YYYY-MM-DD/`):

  - `get_available_dates` / `get_topics_for_date`  (reader:544-594)
  - `load_topics_batch`                            (reader:491-542)
  - `analyze_table`: summary/profile report        (reader:377-443, V5)
  - `deduplicate_table`: content dedup keep-first, written as a NEW
    snapshot + previous data retained (reader:653-710 + backup S17 —
    Spark writes directories, so snapshot-swap replaces in-place rewrite,
    SURVEY 7.3 risk 6)

Discovery helpers are driver-side directory listings (partition metadata,
not data scans); every data operation is a pruned columnar read.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.operators.dedup import content_dedup_keep_first
from redpanda_to_parquet_writer_spark.operators.profile import (
    infer_security_type,
    null_counts,
    numeric_profile,
)

#: topic -> sec_type map (reader:34-44)
TOPIC_TO_SEC_TYPE = {
    "spx_index": "IND",
    "vix_index": "IND",
    "vix1d_index": "IND",
    "vvix_index": "IND",
    "es_futures": "FUT",
    "spx_options": "OPT",
    "spx_multileg": "BAG",
    "trading_account_values": "ACCOUNT_VALUES",
    "ibkr_account_values": "ACCOUNT_VALUES",
}


def _resolve_date(date: str | None) -> str | None:
    if date == "today":  # reader:961-966
        return datetime.now(timezone.utc).strftime("%Y-%m-%d")
    return date


#: infix of the snapshots `deduplicate_table` writes beside a topic
DEDUP_SNAPSHOT_INFIX = "__dedup_"


def get_available_topics(base_dir: str) -> list[str]:
    """Topics = table directories under the base (driver-side listing).
    Dedup snapshots (`<topic>__dedup_<ts>`) are copies of a topic, not
    topics, so discovery skips them."""
    if not os.path.isdir(base_dir):
        return []
    return sorted(
        d for d in os.listdir(base_dir)
        if os.path.isdir(os.path.join(base_dir, d))
        and not d.startswith(".")
        and DEDUP_SNAPSHOT_INFIX not in d
    )


def get_available_dates(base_dir: str, topic: str | None = None) -> list[str]:
    """Distinct date partitions (reader:544-574) from directory names —
    partition metadata only, no data read."""
    topics = [topic] if topic else get_available_topics(base_dir)
    dates: set[str] = set()
    for t in topics:
        tdir = os.path.join(base_dir, t)
        if not os.path.isdir(tdir):
            continue
        for d in os.listdir(tdir):
            if d.startswith("date="):
                dates.add(d.removeprefix("date="))
    return sorted(dates)


def get_topics_for_date(base_dir: str, date: str) -> list[str]:
    """Topics having data for a date (reader:576-594)."""
    date = _resolve_date(date)
    return sorted(
        t
        for t in get_available_topics(base_dir)
        if os.path.isdir(os.path.join(base_dir, t, f"date={date}"))
    )


def load_topic(
    spark: SparkSession,
    base_dir: str,
    topic: str,
    date: str | None = None,
    ignore_corrupt: bool = False,
) -> DataFrame:
    """Load one topic table, date-pruned when a date is given (P9).

    The date filter hits the partition column, so Catalyst prunes
    directories at planning time — no data files outside the date are
    touched (same effect as the reference's path short-circuit,
    reader:513-516).

    `ignore_corrupt=True` skips unreadable files instead of failing the
    scan — the reference's per-file try/except (reader:505-512) as an
    OPT-IN: silently dropping data is never the default at scale."""
    reader = spark.read
    if ignore_corrupt:
        reader = reader.option("ignoreCorruptFiles", "true")
    df = reader.parquet(os.path.join(base_dir, topic))
    date = _resolve_date(date)
    if date:
        df = df.filter(F.col("date") == F.lit(date))
    return df


@dataclass
class TopicBundle:
    dataframe: DataFrame
    sec_type: str
    path: str


def load_topics_batch(
    spark: SparkSession,
    base_dir: str,
    date: str | None = None,
    topics: list[str] | None = None,
    ignore_corrupt: bool = False,
) -> dict[str, TopicBundle]:
    """The reference's programmatic batch-loading API (reader:491-542)."""
    names = topics or (get_topics_for_date(base_dir, date) if date else get_available_topics(base_dir))
    out: dict[str, TopicBundle] = {}
    for t in names:
        df = load_topic(spark, base_dir, t, date, ignore_corrupt)
        out[t] = TopicBundle(
            dataframe=df,
            sec_type=infer_security_type(df, TOPIC_TO_SEC_TYPE, t),
            path=os.path.join(base_dir, t),
        )
    return out


@dataclass
class TableSummary:
    n_rows: int
    columns: list[tuple[str, str]]
    null_counts: dict[str, int]
    numeric_profile: list[dict]
    preview: list[dict] = field(default_factory=list)


def analyze_table(df: DataFrame, preview_rows: int = 5) -> TableSummary:
    """Summary/profile report (V5): one count job, one combined
    null-count + profile pass, one limited preview."""
    nulls = null_counts(df).collect()[0].asDict()
    profile = [r.asDict() for r in numeric_profile(df).collect()]
    return TableSummary(
        n_rows=df.count(),
        columns=[(f.name, f.dataType.simpleString()) for f in df.schema.fields],
        null_counts=nulls,
        numeric_profile=profile,
        preview=[r.asDict() for r in df.limit(preview_rows).collect()],
    )


def deduplicate_table(
    spark: SparkSession,
    base_dir: str,
    topic: str,
    order_cols: tuple[str, ...] = ("kafka_partition", "kafka_offset"),
) -> dict[str, int]:
    """Content dedup keep-first over a topic table (reader entry point 3).

    Snapshot semantics: writes `<topic>__dedup_<ts>` next to the source
    and leaves the original untouched (the backup, S17). `<ts>` carries
    microseconds, so back-to-back calls never collide on the `error`
    save mode. Returns
    before/after/removed counts like the reference's summary
    (reader:794-819).
    """
    src = os.path.join(base_dir, topic)
    df = spark.read.parquet(src)
    before = df.count()
    deduped = content_dedup_keep_first(
        df, content_cols=[c for c in df.columns if not c.startswith("kafka_") and c != "date"],
        order_cols=order_cols,
    )
    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S%f")
    snapshot = os.path.join(base_dir, f"{topic}{DEDUP_SNAPSHOT_INFIX}{stamp}")
    (
        deduped.write.partitionBy("date").mode("error").parquet(snapshot)
        if "date" in deduped.columns
        else deduped.write.mode("error").parquet(snapshot)
    )
    after = spark.read.parquet(snapshot).count()
    return {"before": before, "after": after, "removed": before - after}


def typed_rows(
    df: DataFrame,
    sec_type: str,
    limit: int | None = None,
    required: tuple[str, ...] = (),
) -> list[dict]:
    """Typed materialization (reader:350-375 parity): collect rows as
    dicts restricted to the declared schema for `sec_type`
    (schemas.SEC_TYPE_SCHEMAS), with declared-but-absent fields None.

    The reference's dataclasses default every field to None, so its
    materialization keeps all rows; by default this does too. Pass
    `required` field names to drop rows null in any of THOSE fields
    (e.g. ("symbol",)) — a blanket any-null skip would discard nearly
    every real market-data row (bid/ask null off-hours, greeks null for
    non-options). Driver-side API sugar — cap with `limit`; bulk paths
    stay DataFrames.
    """
    from redpanda_to_parquet_writer_spark.schemas import SEC_TYPE_SCHEMAS

    declared = SEC_TYPE_SCHEMAS[sec_type]
    names = [f.name for f in declared.fields]
    present = [n for n in names if n in df.columns]
    slim = df.select(*present)
    if limit is not None:
        slim = slim.limit(limit)
    out = []
    for row in slim.collect():
        d = row.asDict()
        if required and any(d.get(n) is None for n in required):
            continue
        out.append({n: d.get(n) for n in names})
    return out


if __name__ == "__main__":  # python -m redpanda_to_parquet_writer_spark.reader
    from redpanda_to_parquet_writer_spark.cli import reader_main

    raise SystemExit(reader_main())
