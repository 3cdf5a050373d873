"""Program defects that the benchmark's workloads keep out of their timed
inputs, because a workload must not fail. Each test states the correct
behaviour and is a strict xfail: once the program is fixed it passes,
the xfail turns into a failure, and the workload inputs in
``workloads.py`` should take the case back (README, "Defects found while
sizing").

    python -m pytest lakebench/tests/test_known_defects.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from redpanda_to_parquet_writer_spark import session
    from redpanda_to_parquet_writer_spark.config import EngineConfig

    s = session.get_spark(EngineConfig(master="local[1]", shuffle_partitions=1), app_name="lakebench-defects")
    yield s
    s.stop()


@pytest.mark.xfail(strict=True, reason="defect 4: a corrupt MessagePack payload is committed with raw_value null")
def test_corrupt_msgpack_payload_keeps_its_bytes_in_raw_value(spark):
    from redpanda_to_parquet_writer_spark.streaming.ingest import prepare_envelope_batch

    batch = gen.topic_batch(np.random.default_rng(4), "es_futures", 40, corrupt_share=0.1)
    assert batch.fmt == "msgpack" and batch.n_corrupt == 4
    df = spark.createDataFrame(batch.table().to_pandas())
    out = prepare_envelope_batch(spark, df, fmt="msgpack")
    assert out.count() == len(batch)
    assert out.filter("raw_value IS NOT NULL").count() == batch.n_corrupt
