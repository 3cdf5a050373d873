"""Count-validation operators (V1/V2, collector:1398-1502).

The reference's post-run validation:
  - internal: records the writer claims == count(*) re-read from Parquet
  - external: Parquet per-partition counts == Kafka high watermarks,
    with PASS / WARNING / ERROR statuses per partition

Spark-side, the written count comes from the writer itself: each write
observes `count(1)` on the rows it commits, and the collector adds them
to the count its resume scan found before the run. The high-watermark
map comes from the broker admin API (driver-side). Both checks are
single projected-scan aggregations.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.streaming.sink import _sink_exists

PASS = "PASS"
WARNING = "WARNING"  # sink has MORE than source claims (dupes suspected)
ERROR = "ERROR"  # sink has FEWER than source claims (data loss)


@dataclass
class CountReport:
    status: str
    expected: int
    actual: int

    @property
    def ok(self) -> bool:
        return self.status == PASS


def internal_consistency(spark: SparkSession, root: str, written_count: int) -> CountReport:
    """V1: writer-claimed count vs re-read count (collector:1479-1480).

    `written_count` is what the table should hold: the rows it held
    before the run plus the rows the run's writes committed to it. A
    root with no data file (an empty topic) holds 0 rows. Fewer rows
    than expected is ERROR (a lost file or batch), more is WARNING."""
    actual = spark.read.parquet(root).count() if _sink_exists(spark, root) else 0
    if actual == written_count:
        status = PASS
    elif actual > written_count:
        status = WARNING
    else:
        status = ERROR
    return CountReport(status=status, expected=written_count, actual=actual)


def external_completeness(
    spark: SparkSession,
    root: str,
    high_watermarks: dict[int, int],
    partition_col: str = "kafka_partition",
) -> DataFrame:
    """V2: per-partition sink counts vs source high watermarks
    (collector:1433-1472). Returns a report frame
    (partition, expected, actual, missing, status).

    One projected scan + group-by count (A2); the watermark map is tiny
    and broadcast as a literal frame. A root with no data file counts 0
    rows in every partition.
    """
    if _sink_exists(spark, root):
        counts = (
            spark.read.parquet(root)
            .select(partition_col)
            .groupBy(partition_col)
            .agg(F.count("*").alias("actual"))
        )
    else:
        counts = spark.createDataFrame([], f"{partition_col} long, actual long")
    expected = spark.createDataFrame(
        [(int(p), int(h)) for p, h in sorted(high_watermarks.items())],
        f"{partition_col} long, expected long",
    )
    joined = expected.join(F.broadcast(counts), partition_col, "left").withColumn(
        "actual", F.coalesce(F.col("actual"), F.lit(0))
    )
    status = (
        F.when(F.col("actual") == F.col("expected"), F.lit(PASS))
        .when(F.col("actual") > F.col("expected"), F.lit(WARNING))
        .otherwise(F.lit(ERROR))
    )
    return joined.withColumn("missing", F.col("expected") - F.col("actual")).withColumn(
        "status", status
    )
