"""Pure-stdlib MessagePack codec + the end-to-end msgpack ingest path.

The reference's hot decode is msgpack market data (collector:223-256);
with `functions/msgpack_codec.py` the whole chain — format sampler,
Arrow decode UDF, collector drain — runs REAL MessagePack bytes in this
container instead of being import-gated.
"""

from __future__ import annotations

import json

import pytest

from redpanda_to_parquet_writer_spark.functions.msgpack_codec import (
    MsgpackError,
    packb,
    unpackb,
)

# Handcrafted spec vectors (format-spec examples, not library output)
SPEC_VECTORS = [
    (None, b"\xc0"),
    (False, b"\xc2"),
    (True, b"\xc3"),
    (0, b"\x00"),
    (127, b"\x7f"),
    (-1, b"\xff"),
    (-32, b"\xe0"),
    (128, b"\xcc\x80"),
    (256, b"\xcd\x01\x00"),
    (65536, b"\xce\x00\x01\x00\x00"),
    (2**32, b"\xcf\x00\x00\x00\x01\x00\x00\x00\x00"),
    (-33, b"\xd0\xdf"),
    (-129, b"\xd1\xff\x7f"),
    (-32769, b"\xd2\xff\xff\x7f\xff"),
    (1.5, b"\xcb\x3f\xf8\x00\x00\x00\x00\x00\x00"),
    ("", b"\xa0"),
    ("abc", b"\xa3abc"),
    (b"\x01\x02", b"\xc4\x02\x01\x02"),
    ([], b"\x90"),
    ([1, "a"], b"\x92\x01\xa1a"),
    ({}, b"\x80"),
    ({"a": 1}, b"\x81\xa1a\x01"),
]


@pytest.mark.parametrize("obj,encoded", SPEC_VECTORS)
def test_spec_vectors(obj, encoded):
    assert packb(obj) == encoded
    assert unpackb(encoded) == obj


def test_roundtrip_nested_and_wide():
    payload = {
        "event_type": "market_data",
        "data": {
            "symbol": "SYM1",
            "price": 101.25,
            "sizes": [1, 200, 70000, 2**40],
            "flags": [True, False, None],
            "blob": bytes(range(64)),
        },
        "metadata": {"seq": -7, "deep": {"x": [{"y": "z" * 40}]}},
        "wide_str": "w" * 300,  # str16
        "long_list": list(range(20)),  # array16
        "big_map": {f"k{i}": i for i in range(20)},  # map16
    }
    assert unpackb(packb(payload)) == payload


def test_float32_decodes():
    import struct

    assert unpackb(b"\xca" + struct.pack(">f", 2.0)) == 2.0


def test_errors_are_loud():
    with pytest.raises(MsgpackError, match="truncated"):
        unpackb(b"\xa3ab")  # fixstr promises 3 bytes, has 2
    with pytest.raises(MsgpackError, match="trailing"):
        unpackb(b"\x01\x02")  # two objects
    with pytest.raises(MsgpackError, match="ext"):
        unpackb(b"\xd4\x01\x00")  # fixext1
    with pytest.raises(MsgpackError, match="cannot pack"):
        packb({1: object()})
    # array-typed map key: must stay inside the MsgpackError contract,
    # not leak TypeError: unhashable (ADVICE r5)
    with pytest.raises(MsgpackError, match="non-scalar map key"):
        unpackb(b"\x81\x91\x01\x02")  # fixmap{[1]: 2}


def test_detect_format_votes_containers():
    """Msgpack maps vote msgpack; JSON text (even when a 1-byte scalar
    would parse as a fixint) votes json."""
    from redpanda_to_parquet_writer_spark.operators.decode import detect_format

    mp = [packb({"a": i}) for i in range(10)]
    js = [json.dumps({"a": i}).encode() for i in range(10)] + [b"7"]
    assert detect_format(mp) == "msgpack"
    assert detect_format(js) == "json"
    assert detect_format(mp[:9] + [b"garbage!"]) == "json"  # 90% bar


def test_msgpack_udf_decodes_to_json(spark):
    from pyspark.sql import functions as F

    from redpanda_to_parquet_writer_spark.operators.decode import (
        msgpack_to_json_udf,
    )

    rows = [(i, packb({"sym": f"S{i}", "px": 100.0 + i})) for i in range(20)]
    rows.append((99, b"\xc1"))  # never-used type byte -> decode fails -> null
    df = spark.createDataFrame(rows, "i long, value binary")
    got = {
        r["i"]: r["j"]
        for r in df.withColumn("j", msgpack_to_json_udf()(F.col("value"))).collect()
    }
    assert json.loads(got[3]) == {"sym": "S3", "px": 103.0}
    assert got[99] is None


def test_collector_ingests_msgpack_topic(spark, tmp_path):
    """End-to-end: a topic whose payloads are REAL MessagePack drains
    through sample -> detect -> Arrow decode -> flatten -> dated
    parquet, with the sampler verdict reported as msgpack."""
    from redpanda_to_parquet_writer_spark.collector import Collector
    from redpanda_to_parquet_writer_spark.config import EngineConfig

    from tests.test_streaming_ingest import ENVELOPE_COLS

    rows = []
    for i in range(30):
        payload = {
            "event_type": "market_data",
            "data": {"symbol": f"SYM{i % 5}", "price": 100.0 + i, "volume": i * 10},
        }
        rows.append(
            (
                "md_mp",
                i % 4,
                i,
                1704067200000 + i * 3_600_000,
                f"key{i}",
                packb(payload),
            )
        )
    src = str(tmp_path / "src_mp")
    spark.createDataFrame(rows, ENVELOPE_COLS).write.parquet(src)

    cfg = EngineConfig(
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        skip_validation=True,
    )
    sources = {"md_mp": src}

    def factory(topic, resume_offsets):
        return spark.readStream.schema(ENVELOPE_COLS).parquet(sources[topic])

    c = Collector(spark, cfg, factory)
    sample = [r[5] for r in rows[:20]]
    report = c.run_topic("md_mp", sample=sample)
    assert report.fmt == "msgpack"
    assert report.rows_written == 30

    out = spark.read.parquet(f"{cfg.output_dir}/md_mp")
    cols = set(out.columns)
    assert {"symbol", "price", "volume", "event_type"} <= cols
    got = {r["symbol"] for r in out.select("symbol").distinct().collect()}
    assert got == {f"SYM{i}" for i in range(5)}
    assert out.filter("price = 103.0").count() == 1


def test_unpackb_is_total_on_arbitrary_bytes():
    """Fuzz the decoder: ANY byte string either decodes or raises
    MsgpackError — no TypeError/KeyError/RecursionError may escape the
    documented contract (the format sampler feeds it raw Kafka
    payloads)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.binary(max_size=80))
    @settings(max_examples=300, deadline=None)
    def run(buf):
        try:
            unpackb(buf)
        except MsgpackError:
            pass

    run()


def test_roundtrip_arbitrary_json_like_values():
    """packb/unpackb is the identity on arbitrary JSON-like trees
    (the payload shapes the collector actually carries)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    scalars = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**63), max_value=2**64 - 1),
        st.floats(allow_nan=False, width=64),
        st.text(max_size=40),
        st.binary(max_size=40),
    )
    trees = st.recursive(
        scalars,
        lambda kids: st.one_of(
            st.lists(kids, max_size=5),
            st.dictionaries(st.text(max_size=8), kids, max_size=5),
        ),
        max_leaves=25,
    )

    @given(trees)
    @settings(max_examples=150, deadline=None)
    def run(obj):
        assert unpackb(packb(obj)) == obj

    run()


def test_sample_looks_past_an_undecodable_head(spark):
    """The MessagePack schema sample decodes the batch's first 50
    payloads on the driver. When none of them decodes, it looks further
    through the Arrow UDF, so the payloads that do decode keep their
    columns instead of the batch losing its payload schema."""
    from redpanda_to_parquet_writer_spark.streaming.ingest import prepare_envelope_batch

    from tests.test_streaming_ingest import ENVELOPE_COLS

    rows = [
        ("t", 0, i, 1704067200000 + i, None, b"\xc1bad" if i < 50 else packb({"a": i}))
        for i in range(60)
    ]
    env = spark.createDataFrame(rows, ENVELOPE_COLS).coalesce(1)
    out = prepare_envelope_batch(spark, env, fmt="msgpack")
    assert "a" in out.columns
    assert sorted(r["a"] for r in out.filter("a IS NOT NULL").collect()) == list(range(50, 60))


def test_sample_is_the_first_fifty_decodable_payloads(spark):
    """Undecodable payloads scattered through the head do not shrink
    the sample: it is still the batch's first 50 payloads that decode,
    so a field that only later payloads carry (`b`) keeps its column."""
    from redpanda_to_parquet_writer_spark.streaming.ingest import prepare_envelope_batch

    from tests.test_streaming_ingest import ENVELOPE_COLS

    def payload(i):
        if i < 50 and i % 5 == 0:
            return b"\xc1bad"
        return packb({"a": i, "b": i} if i >= 50 else {"a": i})

    rows = [("t", 0, i, 1704067200000 + i, None, payload(i)) for i in range(60)]
    env = spark.createDataFrame(rows, ENVELOPE_COLS).coalesce(1)
    out = prepare_envelope_batch(spark, env, fmt="msgpack")
    assert {"a", "b"} <= set(out.columns)
    assert sorted(r["b"] for r in out.filter("b IS NOT NULL").collect()) == list(range(50, 60))
