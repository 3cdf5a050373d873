"""Small-files compaction: fewer files, identical content."""

from __future__ import annotations

from redpanda_to_parquet_writer_spark.functions.dates import event_epoch_sec
from redpanda_to_parquet_writer_spark.sources.parquet import compact_parquet, load_table


def test_compact_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    events = load_table(spark, sf_dir, "events")
    # simulate micro-batch accretion: 40 tiny files
    events.repartition(40).write.parquet(src)

    report = compact_parquet(spark, src, dst, target_file_bytes=10 * 1024 * 1024)
    assert report["files_before"] == 40
    assert report["files_after"] < 40

    a = spark.read.parquet(src)
    b = spark.read.parquet(dst)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_compact_sizes_a_file_uri_root(spark, sf_dir, tmp_path):
    """A `file://` root must size and count like the plain path: the
    report carries the true file counts and bytes, so the rewrite is
    sized by them instead of collapsing into one file."""
    import os

    src = tmp_path / "fragmented"
    load_table(spark, sf_dir, "events").repartition(6).write.parquet(str(src))
    data = [f for f in os.listdir(src) if not f.startswith((".", "_"))]
    total = sum(os.path.getsize(src / f) for f in data)
    assert len(data) == 6

    # a target just under the smallest file: every source file's bytes
    # need their own output file, so the sizing shows in files_after
    target = min(os.path.getsize(src / f) for f in data) - 1
    report = compact_parquet(
        spark, src.as_uri(), (tmp_path / "compacted").as_uri(), target_file_bytes=target
    )
    assert report == {
        "files_before": 6,
        "bytes": total,
        "files_after": -(-total // target),
    }
    assert spark.read.parquet(str(tmp_path / "compacted")).count() == (
        spark.read.parquet(str(src)).count()
    )


def test_export_reference_layout(spark, sf_dir, tmp_path):
    """Hive table -> the reference's exact YYYY/MM/DD/<topic>.parquet
    layout, one file per date, content preserved."""
    import os

    from pyspark.sql import functions as F

    from redpanda_to_parquet_writer_spark.streaming.sink import (
        export_reference_layout,
    )

    events = load_table(spark, sf_dir, "events").limit(500)
    hive = str(tmp_path / "hive")
    env = events.select(
        F.col("event_id").alias("kafka_offset"),
        F.col("user_id"),
        F.date_format(
            F.timestamp_seconds(event_epoch_sec(events)), "yyyy-MM-dd"
        ).alias("date"),
    )
    env.write.partitionBy("date").parquet(hive)

    out = str(tmp_path / "ref_layout")
    files = export_reference_layout(spark, hive, out, "events_topic")
    assert files and all(f.endswith("events_topic.parquet") for f in files)
    # layout: out/YYYY/MM/DD/<topic>.parquet
    rel = os.path.relpath(files[0], out).split(os.sep)
    assert len(rel) == 4 and len(rel[0]) == 4
    total = sum(spark.read.parquet(f).count() for f in files)
    assert total == env.count()


def test_reference_layout_round_trip(spark, sf_dir, tmp_path):
    import os

    from pyspark.sql import functions as F

    from redpanda_to_parquet_writer_spark.sources.parquet import (
        read_reference_layout,
    )
    from redpanda_to_parquet_writer_spark.streaming.sink import (
        export_reference_layout,
    )

    events = load_table(spark, sf_dir, "events").limit(300)
    env = events.select(
        F.col("event_id").alias("kafka_offset"),
        F.date_format(
            F.timestamp_seconds(event_epoch_sec(events)), "yyyy-MM-dd"
        ).alias("date"),
    )
    hive = str(tmp_path / "hive")
    env.write.partitionBy("date").parquet(hive)
    out = str(tmp_path / "ref")
    files = export_reference_layout(spark, hive, out, "t1")

    back = read_reference_layout(spark, out, "t1")
    assert back.count() == env.count()
    # path-based date pruning reads exactly one day
    one = os.path.relpath(files[0], out).split(os.sep)
    day = "-".join(one[:3])
    pruned = read_reference_layout(spark, out, "t1", date=day)
    expected = env.filter(F.col("date") == day).count()
    assert pruned.count() == expected > 0


def test_backfill_overwrites_only_target_dates(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite: recomputing one date replaces that
    partition and leaves the others byte-identical."""
    from pyspark.sql import functions as F

    from redpanda_to_parquet_writer_spark.streaming.sink import (
        backfill_date_partitions,
    )

    root = str(tmp_path / "sink")
    base = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3}", float(i)) for i in range(30)],
        "rec_id long, d string, value double",
    ).select("rec_id", F.col("d").cast("date").alias("date"), "value")
    base.write.partitionBy("date").parquet(root)

    # recompute day 2 with halved values
    fixed = base.filter(F.col("date") == "2024-01-02").withColumn(
        "value", F.col("value") / 2
    )
    dates = backfill_date_partitions(fixed, root)
    assert dates == ["2024-01-02"]

    got = spark.read.parquet(root)
    assert got.count() == 30  # no rows lost from other dates
    d2 = got.filter(F.col("date") == "2024-01-02")
    assert d2.agg(F.max("value")).collect()[0][0] < 15  # halved
    d1 = got.filter(F.col("date") == "2024-01-01").count()
    assert d1 == base.filter(F.col("date") == "2024-01-01").count()


def test_backfill_files_per_date_splits_output(spark, tmp_path):
    """files_per_date > 1 must yield multiple part files per date —
    hash-partitioning on date alone would put each date in ONE
    partition and leave the extras empty (ADVICE r5)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from redpanda_to_parquet_writer_spark.streaming.sink import (
        backfill_date_partitions,
    )

    root = str(tmp_path / "sink")
    base = spark.createDataFrame(
        [(i, "2024-02-01", float(i)) for i in range(400)],
        "rec_id long, d string, value double",
    ).select("rec_id", F.col("d").cast("date").alias("date"), "value")
    base.write.partitionBy("date").parquet(root)

    backfill_date_partitions(base, root, files_per_date=3)
    parts = glob.glob(os.path.join(root, "date=2024-02-01", "part-*.parquet"))
    # pmod bucketing: more than one file, and never MORE than requested
    # (a signed % would produce up to 2*files_per_date-1 buckets)
    assert 2 <= len(parts) <= 3, f"expected 2-3 files per date, got {len(parts)}"
    assert spark.read.parquet(root).count() == 400
