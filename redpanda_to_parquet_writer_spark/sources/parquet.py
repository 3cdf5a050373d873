"""Parquet table access.

Covers the reference reader's scan surface (SURVEY.md section 2.1):
  - S6 full scan            -> spark.read.parquet(path)
  - S7 projected scan       -> .select(cols): Catalyst prunes columns down
                               to the parquet reader (ReadSchema)
  - S8 schema-only scan     -> .schema (footer-only, no data read)
  - S9 recursive discovery  -> glob paths / recursiveFileLookup
  - P9 date partition prune -> filter on partition column, pruned by
                               Catalyst without touching data files

Reference citations: parquet_to_polars.py:288-302 (load_parquet),
redpanda_to_parquet_collector.py:496-550 (projected offset-recovery reads),
collector:448 (schema-only read).

At 100 TB the same calls hold: a projected + filtered read of a
hive-partitioned table prunes partitions at planning time and row groups
via parquet min/max stats, so "read two columns of one day" never scans
the other 364 days.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession

# The driver-generated synthetic tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_parquet_confs(spark: SparkSession) -> None:
    # Current fixtures store events.ts as parquet timestamp[us] (read as
    # TIMESTAMP_NTZ); legacy fixtures stored TIMESTAMP(NANOS), which this
    # flag reads as LongType epoch-nanos instead of erroring. The flag is
    # a no-op for non-NANOS files, so it is safe to keep for old-fixture
    # compatibility. Event-time arithmetic adapts to either dtype via
    # functions.dates.event_epoch_* helpers.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Full scan of one synthetic table (S6)."""
    _ensure_parquet_confs(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(
    spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES) -> None:
    """Register each table as a temp view for spark.sql() plans."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_schema(spark: SparkSession, path: str):
    """Schema-only read (S8) — parquet footer metadata, no data IO."""
    return spark.read.parquet(path).schema


def read_versioned_union(spark: SparkSession, root: str) -> DataFrame:
    """Union a base table with its schema-version siblings (`<root>_v*`).

    The read-side counterpart of the sink's drift routing (SURVEY 1.4):
    versions are separate partitioned roots, so each is read with its own
    partition discovery and the results union by name with missing
    columns nulled (U1 semantics).
    """
    import glob as _glob

    paths = [root] + sorted(_glob.glob(f"{root}_v*"))
    dfs = [spark.read.parquet(p) for p in paths]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def data_file_sizes(spark: SparkSession, root: str) -> Iterator[int]:
    """Byte sizes of the data files under `root`, recursively, through
    the Hadoop FileSystem API — so `file:` URIs and remote stores list
    like local paths, with zero Spark jobs. Hidden names (`.`-prefixed
    checksums and staging files, `_`-prefixed markers like `_SUCCESS`)
    are not data. A missing root yields nothing."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(root)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return
    it = fs.listFiles(hpath, True)  # recursive, files only
    while it.hasNext():
        f = it.next()
        if not f.getPath().getName().startswith((".", "_")):
            yield f.getLen()


def compact_parquet(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> dict[str, int]:
    """Small-files compaction: rewrite a table with ~target-sized files.

    Streaming sinks accrete one file per micro-batch per partition; at
    100 TB that means millions of tiny files and a scan bound by file
    open/footer costs, not bytes. Compaction = size the file count from
    on-disk bytes (`data_file_sizes`), repartition, snapshot-write
    (never in-place, matching the engine's backup convention, S17).

    Returns {files_before, files_after, bytes}.
    """
    import math

    sizes = list(data_file_sizes(spark, src_root))
    total = sum(sizes)
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src_root)
    writer = df.repartition(n_files).write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(dst_root)
    files_after = sum(1 for _ in data_file_sizes(spark, dst_root))
    return {"files_before": len(sizes), "files_after": files_after, "bytes": total}


def read_reference_layout(
    spark: SparkSession, root: str, topic: str, date: str | None = None
) -> DataFrame:
    """Read the reference's bare `YYYY/MM/DD/<topic>.parquet` layout
    (S9: recursive discovery + name predicate; P9: date pruning by path).

    The bare layout has no hive partition columns, so date pruning is
    path-based, exactly like the reference's directory filter
    (reader:513-516): `date="YYYY-MM-DD"` narrows the glob to one day.
    """
    if date:
        y, m, d = date.split("-")
        return spark.read.parquet(f"{root}/{y}/{m}/{d}/{topic}.parquet")
    return (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", f"{topic}.parquet")
        .parquet(root)
    )
