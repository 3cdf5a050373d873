"""Event-time date derivation.

The reference derives the output partition from the *Kafka message
timestamp* (epoch milliseconds), not processing time
(collector:863-867: ``pl.from_epoch("kafka_timestamp", "ms").dt.strftime("%Y/%m/%d")``).
A late message simply lands in its (old) date partition — append-only, no
watermark needed (SURVEY section 2.9 T4).

All helpers are pure Column expressions — JVM-side, codegen'd, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _epoch_us_sql(df: DataFrame, col: str) -> str:
    """SQL fragment computing exact epoch-microseconds (BIGINT) for an
    event-time column, whatever dtype the fixture stores:

      - ``timestamp_ntz`` (current fixtures: parquet ``timestamp[us]``) —
        timezone-neutral ``timestampdiff`` from the NTZ epoch; bitwise
        equal to DuckDB's ``epoch_us(ts)`` on the same naive timestamp.
      - ``timestamp`` (LTZ) — ``unix_micros``, the unambiguous instant.
      - integer — legacy fixtures stored TIMESTAMP(NANOS) read as
        epoch-nanos LongType via ``spark.sql.legacy.parquet.nanosAsLong``.

    All arithmetic stays in BIGINT (``DIV``) — never double, which loses
    precision above 2^53 (epoch-nanos is ~1.7e18).
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "timestamp_ntz":
        return f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', {col})"
    if dtype == "timestamp":
        return f"unix_micros({col})"
    return f"CAST({col} DIV 1000 AS BIGINT)"


def event_epoch_us(df: DataFrame, col: str = "ts") -> Column:
    """Epoch-microseconds BIGINT, dtype-adaptive (see _epoch_us_sql)."""
    return F.expr(f"CAST({_epoch_us_sql(df, col)} AS BIGINT)")


def event_epoch_ms(df: DataFrame, col: str = "ts") -> Column:
    """Epoch-milliseconds BIGINT, dtype-adaptive."""
    return F.expr(f"CAST(({_epoch_us_sql(df, col)}) DIV 1000 AS BIGINT)")


def event_epoch_sec(df: DataFrame, col: str = "ts") -> Column:
    """Epoch-seconds BIGINT, dtype-adaptive."""
    return F.expr(f"CAST(({_epoch_us_sql(df, col)}) DIV 1000000 AS BIGINT)")


def date_path(epoch_ms: Column | str) -> Column:
    """epoch-ms long -> 'yyyy/MM/dd' string (F1, collector:863-867)."""
    col = F.col(epoch_ms) if isinstance(epoch_ms, str) else epoch_ms
    return F.date_format(F.timestamp_millis(col), "yyyy/MM/dd")


def event_date(epoch_ms: Column | str) -> Column:
    """epoch-ms long -> DateType, the hive-style partition column.

    We partition on a real `date` column (hive layout `date=YYYY-MM-DD/`)
    instead of the reference's bare `YYYY/MM/DD` directories so Catalyst's
    PruneFileSourcePartitions works out of the box (SURVEY section 4).
    """
    col = F.col(epoch_ms) if isinstance(epoch_ms, str) else epoch_ms
    return F.to_date(F.timestamp_millis(col))
