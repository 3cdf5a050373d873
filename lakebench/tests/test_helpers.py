"""Tests of the benchmark's own helpers (no Spark needed).

    python -m pytest lakebench/tests -q
"""

from __future__ import annotations

import math
import os
import sys
import time

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from spans import QUANTILES, Span, self_times, tail_quantile  # noqa: E402


@pytest.mark.parametrize("n", range(1, 3001))
def test_reported_percentile_has_ten_samples_beyond(n):
    q = tail_quantile(n)
    if q is None:
        assert n - math.ceil(0.5 * n) < 10
        return
    assert n - math.ceil(q * n) >= 10
    higher = [x for x in QUANTILES if x > q]
    assert all(n - math.ceil(x * n) < 10 for x in higher)


def test_percentile_examples():
    assert tail_quantile(19) is None
    assert tail_quantile(20) == 0.5
    assert tail_quantile(40) == 0.75
    assert tail_quantile(99) == 0.75
    assert tail_quantile(100) == 0.9
    assert tail_quantile(1000) == 0.99


def _span(i, parent, start, end):
    return Span(id=i, name=f"s{i}", parent=parent, request=0, start=start, end=end)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1 (another thread)
        _span(3, 2, 2.5, 3.5),  # grandchild: only its parent sees it
        _span(4, 0, 8.0, 12.0),  # runs past its parent's end
        _span(5, None, 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 - 1.0) - (10.0 - 8.0))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(1.0)
    assert st[5] == pytest.approx(1.0)


def test_self_times_partition_a_nested_tree():
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 0.5, 3.0), _span(2, 1, 1.0, 2.0)]
    st = self_times(spans)
    assert sum(st.values()) == pytest.approx(4.0)


def _stage(seed, d):
    rng = np.random.default_rng([seed, 1])
    batch = gen.topic_batch(rng, "spx_options", 300, null_ts_share=0.05, corrupt_share=0.05)
    mp = gen.topic_batch(rng, "es_futures", 200)
    return [gen.stage(batch, d, "a"), gen.stage(mp, d, "b")]


def _bytes(paths):
    return [open(p, "rb").read() for p in paths]


def test_same_seed_gives_byte_identical_staged_inputs(tmp_path):
    a = _bytes(_stage(7, str(tmp_path / "a")))
    b = _bytes(_stage(7, str(tmp_path / "b")))
    c = _bytes(_stage(8, str(tmp_path / "c")))
    assert a == b
    assert a != c
    gen.write_tables(7, 0.001, str(tmp_path / "ta"))
    gen.write_tables(7, 0.001, str(tmp_path / "tb"))
    for name in sorted(os.listdir(tmp_path / "ta")):
        assert (tmp_path / "ta" / name).read_bytes() == (tmp_path / "tb" / name).read_bytes(), name


def _date(ts_ms):
    return time.strftime("%Y-%m-%d", time.gmtime(ts_ms // 1000))


def test_redeliveries_are_exact_copies_in_the_same_date_partition():
    rng = np.random.default_rng([3, 2])
    offsets: dict[int, int] = {}
    prev = gen.topic_batch(rng, "spx_index", 500, day_lo=28, day_hi=30, next_offsets=offsets)
    again = gen.redeliver(rng, prev, 0.2)
    assert 50 < len(again) < 150
    originals = {
        (p, o): (t, k, v)
        for p, o, t, k, v in zip(prev.partition, prev.offset, prev.timestamp, prev.key, prev.value)
    }
    for p, o, t, k, v in zip(again.partition, again.offset, again.timestamp, again.key, again.value):
        t0, k0, v0 = originals[(p, o)]
        assert (t, k, v) == (t0, k0, v0)
        assert _date(t) == _date(t0)
    # the next increment continues every partition's offsets
    nxt = gen.topic_batch(rng, "spx_index", 100, day_lo=28, day_hi=30, next_offsets=offsets)
    assert not nxt.keys() & prev.keys()


def test_msgpack_encoder_round_trips_through_the_package_codec():
    from redpanda_to_parquet_writer_spark.functions import msgpack_codec

    rng = np.random.default_rng(1)
    for topic in gen.TOPIC_FORMATS:
        for payload in gen._payloads(topic, rng, [12345, 67890]):
            assert msgpack_codec.unpackb(gen.msgpack_pack(payload)) == payload
