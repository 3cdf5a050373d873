"""Property tests (hypothesis) for the invariants the reference defines
as correctness (SURVEY §5): flatten semantics match the documented rules
on arbitrary nested payloads, and dedup is idempotent / exact.
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from redpanda_to_parquet_writer_spark.operators.dedup import (
    anti_join_dedup,
    content_dedup_keep_first,
)
from redpanda_to_parquet_writer_spark.operators.flatten import flatten_struct_columns

# --- flatten model ---------------------------------------------------------

_scalar = st.one_of(
    st.integers(min_value=-(2**31), max_value=2**31),
    st.text(alphabet="abcXYZ09", min_size=0, max_size=8),
)
_leaf = st.one_of(_scalar, st.lists(st.integers(-100, 100), min_size=1, max_size=4))
# distinct key alphabets per nesting level -> no post-flatten collisions
_inner = st.dictionaries(st.sampled_from(["x", "y", "z"]), _leaf, min_size=1, max_size=3)
_mid = st.dictionaries(
    st.sampled_from(["p", "q", "r"]),
    st.one_of(_leaf, _inner),
    min_size=1,
    max_size=3,
)
_payload = st.dictionaries(
    st.sampled_from(["a", "b", "data"]),
    st.one_of(_leaf, _mid),
    min_size=1,
    max_size=3,
)


def model_flatten(obj: dict, prefix: str = "") -> dict:
    """Pure-Python model of the reference flatten rules (collector:259-284):
    `data` hoists un-prefixed at top level; other dicts prefix with
    `parent_`; lists -> compact JSON; empty list -> None."""
    out = {}
    for k, v in obj.items():
        if isinstance(v, dict):
            sub_prefix = "" if (k == "data" and prefix == "") else f"{prefix}{k}_"
            out.update(model_flatten(v, sub_prefix))
        elif isinstance(v, list):
            out[f"{prefix}{k}"] = (
                None if not v else json.dumps(v, separators=(",", ":"))
            )
        else:
            out[f"{prefix}{k}"] = v
    return out


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(payload=_payload)
def test_flatten_matches_model(spark, payload):
    df = spark.read.json(spark.sparkContext.parallelize([json.dumps(payload)]))
    flat = flatten_struct_columns(df, keep=[])
    row = flat.collect()[0].asDict()
    expected = model_flatten(payload)
    assert row == expected


# --- dedup invariants ------------------------------------------------------

_rows = st.lists(
    st.tuples(
        st.integers(0, 3),  # kafka_partition
        st.integers(0, 20),  # kafka_offset
        st.sampled_from(["x", "y", "z"]),  # payload
    ),
    min_size=1,
    max_size=30,
)

_ROWS_SCHEMA = "kafka_partition long, kafka_offset long, payload string"


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_rows)
def test_content_dedup_idempotent_and_exact(spark, rows):
    df = spark.createDataFrame(rows, _ROWS_SCHEMA)
    once = content_dedup_keep_first(
        df, content_cols=["payload"], order_cols=["kafka_partition", "kafka_offset"]
    )
    twice = content_dedup_keep_first(
        once, content_cols=["payload"], order_cols=["kafka_partition", "kafka_offset"]
    )
    n_distinct_content = len({p for *_, p in rows})
    assert once.count() == n_distinct_content
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    # keep-FIRST: the survivor for each payload is the minimum
    # (partition, offset) among rows carrying it
    survivors = {r["payload"]: (r["kafka_partition"], r["kafka_offset"]) for r in once.collect()}
    for payload, key in survivors.items():
        assert key == min((p, o) for p, o, pl in rows if pl == payload)


def test_content_dedup_null_order_keys_sort_first(spark):
    """The r12 min_by aggregate must reproduce the old window's
    NULLS FIRST ascending order: a NULL order key beats every non-null
    one, and within equal leading keys the tail key decides."""
    rows = [
        (None, 5, "hot"),   # null partition: sorts before every other
        (0, None, "hot"),
        (0, 1, "hot"),
        (1, 0, "hot"),
        (0, 2, "cold"),
        (0, 1, "cold"),
    ]
    df = spark.createDataFrame(rows, _ROWS_SCHEMA)
    got = {
        r["payload"]: (r["kafka_partition"], r["kafka_offset"])
        for r in content_dedup_keep_first(
            df, content_cols=["payload"], order_cols=["kafka_partition", "kafka_offset"]
        ).collect()
    }
    assert got == {"hot": (None, 5), "cold": (0, 1)}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_rows, mod=st.integers(2, 5))
def test_anti_join_removes_exactly_existing_keys(spark, rows, mod):
    # unique (partition, offset) keys, like real kafka envelopes
    uniq = {(p, o): (p, o, pl) for p, o, pl in rows}
    df = spark.createDataFrame(sorted(uniq.values()), _ROWS_SCHEMA)
    existing = df.filter(f"kafka_offset % {mod} = 0")
    result = anti_join_dedup(df, existing)
    expected_keys = {(p, o) for (p, o) in uniq if o % mod != 0}
    got_keys = {(r["kafka_partition"], r["kafka_offset"]) for r in result.collect()}
    assert got_keys == expected_keys


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),  # id (dup-able across buckets)
            st.integers(min_value=0, max_value=5),  # bucket
            st.integers(min_value=-100, max_value=100),  # payload
        ),
        min_size=0,
        max_size=40,
    )
)
def test_bucket_pair_candidates_model(spark, rows):
    """bucket_pair_candidates == brute force: exactly the distinct
    (id_a < id_b) pairs that co-occur in at least one bucket, each
    carrying its members' payloads."""
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        bucket_pair_candidates,
    )

    # one row per (id, bucket); payload functionally depends on id
    uniq = {(i, b): (i, b, i * 7 - 3) for i, b, _ in rows}
    expected = set()
    by_bucket: dict = {}
    for i, b, _p in uniq.values():
        by_bucket.setdefault(b, set()).add(i)
    for ids in by_bucket.values():
        for a in ids:
            for c in ids:
                if a < c:
                    expected.add((a, c, a * 7 - 3, c * 7 - 3))
    if not uniq:
        return
    df = spark.createDataFrame(sorted(uniq.values()), "id long, bucket long, pay long")
    got = {
        (r["id_a"], r["id_b"], r["pay_a"], r["pay_b"])
        for r in bucket_pair_candidates(df, ["bucket"], "id", ["pay"]).collect()
    }
    assert got == expected


def test_simhash_banding_recall_guarantee(spark, sf_dir):
    """Pigeonhole guarantee: with 4 bands, every pair at Hamming
    distance <= 3 shares at least one exact band, so the banded pair set
    EQUALS the brute-force pair set (not just approximates it) for every
    threshold below the band count."""
    from itertools import combinations

    from redpanda_to_parquet_writer_spark.operators.text import (
        simhash_fingerprint,
        simhash_neardup_pairs,
    )
    from redpanda_to_parquet_writer_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    hashes = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprint(docs, "text", "doc_id").collect()
    }
    for k in (0, 3):
        brute = {
            (a, b)
            for a, b in combinations(sorted(hashes), 2)
            if bin(hashes[a] ^ hashes[b]).count("1") <= k
        }
        banded = {
            (r["id_a"], r["id_b"])
            for r in simhash_neardup_pairs(
                docs, "text", "doc_id", max_hamming=k
            ).collect()
        }
        assert banded == brute, f"hamming<={k}: banded != brute force"


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_arbitrary_images(w, h, seed, cycle):
    """PNG encode->decode is the identity on arbitrary gray8 bitmaps,
    with and without per-row filter cycling."""
    import random as _random

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = _random.Random(seed)
    px = bytes(rng.randrange(256) for _ in range(w * h))
    assert decode_png(encode_png(w, h, px, filter_cycle=cycle)) == (w, h, 1, px)


@given(
    st.integers(min_value=1, max_value=25),
    st.integers(min_value=1, max_value=25),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_png_rgb_roundtrip_arbitrary_images(w, h, seed, cycle):
    """Truecolor PNG encode->decode is the identity on arbitrary RGB8
    bitmaps (multi-byte-pixel filters use the bpp-back left neighbor),
    and the feature probe reports 3 channels."""
    import random as _random

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_png,
        decode_png_features,
        encode_png,
    )

    rng = _random.Random(seed)
    px = bytes(rng.randrange(256) for _ in range(w * h * 3))
    blob = encode_png(w, h, px, filter_cycle=cycle)
    assert decode_png(blob) == (w, h, 3, px)
    assert decode_png_features(blob) == (w, h, 8, 3, px[0], px[-1], sum(px))


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.sampled_from([0, 2]),
    st.sampled_from(["420", "422", "444"]),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_color_roundtrip_bounded_error(w, h, seed, ri, subsample):
    """Color JPEG (YCbCr 4:2:0) round trip on arbitrary linear RGB
    ramps: dimensions exact, max channel error bounded by the
    quantization + subsampling budget — with and without restart
    markers. Linear ramps are what DCT quantization preserves; the
    bound is the codec contract the gated query also enforces."""
    import random as _random

    import numpy as np

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_jpeg_color,
        encode_jpeg_color,
    )

    rng = _random.Random(seed)
    y, x = np.mgrid[0:h, 0:w]
    chans = []
    for _ in range(3):
        a, bx_, cy_ = rng.randrange(30, 120), rng.randrange(4), rng.randrange(4)
        chans.append(a + bx_ * x + cy_ * y)
    img = np.clip(np.stack(chans, axis=-1), 0, 255).astype(np.uint8)
    raw = img.tobytes()
    w2, h2, out = decode_jpeg_color(
        encode_jpeg_color(w, h, raw, restart_interval=ri, subsample=subsample)
    )
    assert (w2, h2) == (w, h)
    err = int(
        np.abs(
            np.frombuffer(out, dtype=np.uint8).astype(np.int64)
            - np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
        ).max()
    )
    # budget 16: slopes up to 3/pixel/channel + edge padding of tiny
    # images to the 16x16 MCU grid add high-frequency content the
    # gated query's gentler ramps (slope <= 2, bound 10) don't have
    assert err <= 16, f"reconstruction error {err} blew the codec budget"


def test_jpeg_decoders_value_error_on_crafted_segments():
    """Review-found contract holes: short DQT bodies (IndexError), short
    SOF (struct.error), and scans referencing undefined Huffman/quant
    tables (KeyError) must all surface as ValueError — the fuzz's random
    bytes rarely form valid segment headers, so pin the crafted cases."""
    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_jpeg_color,
        decode_jpeg_gray8,
        encode_jpeg_gray8,
    )

    crafted = [
        b"\xff\xd8\xff\xdb\x00\x03\x00",  # DQT promising a table, body short
        b"\xff\xd8\xff\xc0\x00\x04\x00\x00",  # SOF body too short to unpack
    ]
    # a valid gray JPEG with its DHT segment stripped: the scan then
    # references Huffman table ids no DHT defined -> KeyError path
    good = encode_jpeg_gray8(16, 16, bytes(256))
    dht_at = good.find(b"\xff\xc4")
    assert dht_at > 0
    import struct

    dht_len = struct.unpack_from(">H", good, dht_at + 2)[0]
    crafted.append(good[:dht_at] + good[dht_at + 2 + dht_len :])
    for blob in crafted:
        with pytest.raises(ValueError):
            decode_jpeg_gray8(blob)
        with pytest.raises(ValueError):
            decode_jpeg_color(blob)


def test_jpeg_color_rejects_malformed_and_cross_decodes():
    """Contract edges: gray decoder rejects 3-component streams, color
    decoder rejects 1-component streams, and corrupt color blobs stay
    inside ValueError."""
    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_jpeg_color,
        decode_jpeg_gray8,
        encode_jpeg_color,
        encode_jpeg_gray8,
    )

    color = encode_jpeg_color(16, 16, bytes(range(256)) * 3)
    gray = encode_jpeg_gray8(16, 16, bytes(range(256)))
    with pytest.raises(ValueError, match="single-component"):
        decode_jpeg_gray8(color)
    with pytest.raises(ValueError, match="3-component"):
        decode_jpeg_color(gray)
    for bad in (b"", b"\xff\xd8ab", color[:40], color[:-2]):
        with pytest.raises(ValueError):
            decode_jpeg_color(bad)


def test_mjpeg_split_sample_decode():
    """MJPEG stream: EOI-scan split recovers exactly the encoded frames,
    every-Nth sampling keeps the right indices, each sampled frame
    fully decodes within the lossy budget, and malformed streams raise
    ValueError."""
    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        encode_jpeg_gray8,
        sample_mjpeg_gray8,
        split_mjpeg,
    )

    w, h, nf = 19, 21, 8
    srcs = [
        bytes(25 + 3 * f + 2 * x + y for y in range(h) for x in range(w))
        for f in range(nf)
    ]
    frames = [encode_jpeg_gray8(w, h, s) for s in srcs]
    stream = b"".join(frames)
    assert split_mjpeg(stream) == frames
    sampled = sample_mjpeg_gray8(stream, every_n=3)
    assert [s[0] for s in sampled] == [0, 3, 6]
    for idx, fw, fh, px in sampled:
        assert (fw, fh) == (w, h)
        assert max(abs(a - b) for a, b in zip(srcs[idx], px)) <= 8
    # every_n=1 decodes everything
    assert len(sample_mjpeg_gray8(stream, every_n=1)) == nf
    with pytest.raises(ValueError, match="trailing"):
        split_mjpeg(stream + b"xx")
    with pytest.raises(ValueError, match="SOI"):
        split_mjpeg(b"ab\xff\xd9")
    with pytest.raises(ValueError, match="no JPEG frames"):
        split_mjpeg(b"")
    with pytest.raises(ValueError):
        sample_mjpeg_gray8(stream, every_n=0)


def test_tiff_probe_both_byte_orders():
    """TIFF structure probe: an `encode_tiff` stream, a hand-built
    big-endian IFD, and malformed inputs inside the ValueError
    contract."""
    import struct

    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        encode_tiff,
        probe_tiff,
    )

    assert probe_tiff(encode_tiff(640, 480, bytes(640 * 480 * 3), samples=3)) == (
        640, 480, 8, 3, 1, 9,
    )
    be = bytearray(b"MM" + struct.pack(">HI", 42, 8))
    be += struct.pack(">H", 2)
    be += struct.pack(">HHII", 256, 4, 1, 33)
    be += struct.pack(">HHIHH", 257, 3, 1, 44, 0)
    be += struct.pack(">I", 0)
    assert probe_tiff(bytes(be)) == (33, 44, 1, 1, 1, 2)
    for bad in (
        b"",
        b"II*",  # truncated header
        b"XX\x2a\x00aaaa",  # bad byte-order mark
        encode_tiff(1, 1, b"\x00")[:-10],  # truncated IFD
        b"II" + struct.pack("<HI", 42, 9999),  # IFD offset past end
    ):
        with pytest.raises(ValueError):
            probe_tiff(bad)


def test_avi_with_audio_stream_and_rec_groups():
    """Real camera-file layout (review findings): an audio strl follows
    the video strl (its WAVEFORMATEX must NOT clobber the video dims)
    and frame chunks are wrapped in LIST('rec ') groups for interleaved
    playback — probe and demux must see through both."""
    import struct

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        _riff_chunk,
        _riff_list,
        demux_avi_mjpg,
        encode_jpeg_gray8,
        probe_avi,
    )

    w, h, nf = 11, 9, 4
    frames = [
        encode_jpeg_gray8(w, h, bytes((20 + f + i) % 256 for i in range(w * h)))
        for f in range(nf)
    ]
    avih = struct.pack("<14I", 40000, 1000, 0, 0, nf, 0, 2, 1000, w, h, 0, 0, 0, 0)
    vids_strh = b"vids" + b"MJPG" + struct.pack("<10I", *([0] * 10)) + struct.pack(
        "<4H", 0, 0, w, h
    )
    vids_strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", 0, 0, 0, 0, 0)
    auds_strh = b"auds" + b"\x00" * 4 + struct.pack("<10I", *([0] * 10)) + struct.pack(
        "<4H", 0, 0, 0, 0
    )
    # WAVEFORMATEX: wFormatTag=1, ch=2, rate=44100 — would read as
    # width=131073, height=44100 if strf selection ignored stream type
    auds_strf = struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", vids_strh) + _riff_chunk(b"strf", vids_strf))
        + _riff_list(b"strl", _riff_chunk(b"strh", auds_strh) + _riff_chunk(b"strf", auds_strf)),
    )
    movi = _riff_list(
        b"movi",
        b"".join(
            _riff_list(b"rec ", _riff_chunk(b"00dc", f) + _riff_chunk(b"01wb", b"\x00\x01"))
            for f in frames
        ),
    )
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body

    pw, ph, pnf, usec, nchunks, vbytes = probe_avi(avi)
    assert (pw, ph) == (w, h), "audio WAVEFORMATEX clobbered the video dims"
    assert (pnf, nchunks) == (nf, nf)
    assert vbytes == sum(len(f) for f in frames)  # audio '01wb' not counted
    assert demux_avi_mjpg(avi) == frames


def test_color_mjpeg_stream_samples_and_decodes():
    """A COLOR camera stream (back-to-back YCbCr JPEGs, in a raw MJPEG
    stream and inside an AVI) samples and decodes via the decoder
    parameter — the realistic IP-camera shape."""
    import numpy as np

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_jpeg_color,
        encode_avi_mjpg,
        encode_jpeg_color,
        sample_avi_mjpg_gray8,
        sample_mjpeg_gray8,
    )

    w, h, nf = 18, 14, 5
    y, x = np.mgrid[0:h, 0:w]
    srcs = [
        np.stack([30 + 2 * f + 2 * x + y, 60 + x + 2 * y, 90 + x + y], axis=-1)
        .clip(0, 255)
        .astype(np.uint8)
        .tobytes()
        for f in range(nf)
    ]
    frames = [encode_jpeg_color(w, h, s) for s in srcs]
    for sampled in (
        sample_mjpeg_gray8(b"".join(frames), 2, decoder=decode_jpeg_color),
        sample_avi_mjpg_gray8(
            encode_avi_mjpg(w, h, frames), 2, decoder=decode_jpeg_color
        ),
    ):
        assert [s[0] for s in sampled] == [0, 2, 4]
        for idx, fw, fh, px in sampled:
            assert (fw, fh) == (w, h) and len(px) == w * h * 3
            err = max(abs(a - b) for a, b in zip(srcs[idx], px))
            assert err <= 12


def test_avi_mjpg_container_roundtrip():
    """AVI-MJPG: the RIFF writer/prober/demuxer agree (probe reads
    dims/frame-count/rate without decoding; demux recovers the exact
    JPEG payloads; container-to-pixels sampling decodes within the
    lossy budget) and malformed containers stay inside ValueError."""
    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        demux_avi_mjpg,
        encode_avi_mjpg,
        encode_jpeg_gray8,
        probe_avi,
        sample_avi_mjpg_gray8,
    )

    w, h, nf = 19, 17, 7
    srcs = [
        bytes(25 + 3 * f + 2 * x + y for y in range(h) for x in range(w))
        for f in range(nf)
    ]
    frames = [encode_jpeg_gray8(w, h, s) for s in srcs]
    avi = encode_avi_mjpg(w, h, frames, fps=25)
    assert probe_avi(avi) == (w, h, nf, 40000, nf, sum(len(f) for f in frames))
    assert demux_avi_mjpg(avi) == frames
    sampled = sample_avi_mjpg_gray8(avi, 3)
    assert [s[0] for s in sampled] == [0, 3, 6]
    for idx, fw, fh, px in sampled:
        assert (fw, fh) == (w, h)
        assert max(abs(a - b) for a, b in zip(srcs[idx], px)) <= 8
    for bad in (
        b"",
        b"RIFFxxxxAVI ",  # length points past the end
        avi[:50],  # truncated mid-header
        b"RIFF" + avi[4:8] + b"WAVE" + avi[12:],  # wrong form type
    ):
        with pytest.raises(ValueError):
            probe_avi(bad)
    with pytest.raises(ValueError, match="no video chunks"):
        demux_avi_mjpg(b"RIFF\x04\x00\x00\x00AVI ")


@given(st.binary(max_size=200), st.integers(min_value=0, max_value=8))
@settings(max_examples=250, deadline=None)
def test_media_decoders_are_total_on_arbitrary_bytes(buf, which):
    """Fuzz every media decoder: arbitrary bytes either decode or raise
    ValueError — struct.error/IndexError/zlib.error/KeyError must never
    escape the documented contract (on_error='null' tolerance at corpus
    scale depends on it). Valid-prefix corruption is covered separately;
    this is the pure-garbage path."""
    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_gif_gray8,
        decode_jpeg_color,
        decode_jpeg_gray8,
        decode_png,
        decode_png_features,
        decode_wav,
        probe_avi,
        probe_mp4,
        probe_tiff,
    )

    fn = (
        decode_png,
        decode_png_features,
        decode_gif_gray8,
        decode_jpeg_gray8,
        decode_jpeg_color,
        decode_wav,
        probe_avi,
        probe_mp4,
        probe_tiff,
    )[which]
    try:
        fn(buf)
    except ValueError:
        pass


@given(st.binary(max_size=200))
@settings(max_examples=120, deadline=None)
def test_media_decoders_total_on_magic_prefixed_garbage(buf):
    """Same totality contract with the right magic prefix attached, so
    the fuzz actually reaches the parser bodies instead of failing the
    signature check."""
    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        PNG_SIG,
        decode_gif_gray8,
        decode_jpeg_color,
        decode_jpeg_gray8,
        decode_png,
        decode_png_features,
        decode_wav,
        probe_avi,
        probe_jpeg,
        split_mjpeg,
    )

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_tiff,
        decode_webp_lossless,
        probe_tiff,
        probe_webp,
    )

    cases = (
        (decode_png, PNG_SIG + buf),
        (decode_png_features, PNG_SIG + buf),
        (decode_gif_gray8, b"GIF89a" + buf),
        (decode_jpeg_gray8, b"\xff\xd8" + buf),
        (decode_jpeg_color, b"\xff\xd8" + buf),
        (probe_jpeg, b"\xff\xd8" + buf),
        (probe_avi, b"RIFF" + len(buf).to_bytes(4, "little") + b"AVI " + buf),
        (split_mjpeg, b"\xff\xd8" + buf + b"\xff\xd9"),
        (probe_tiff, b"II\x2a\x00" + buf),
        (decode_tiff, b"II\x2a\x00" + buf),
        (decode_tiff, b"MM\x00\x2a" + buf),
        (decode_wav, b"RIFF" + (len(buf) + 4).to_bytes(4, "little") + b"WAVE" + buf),
        (decode_webp_lossless, b"RIFF" + (len(buf) + 4).to_bytes(4, "little") + b"WEBP" + buf),
        (probe_webp, b"RIFF" + (len(buf) + 4).to_bytes(4, "little") + b"WEBP" + buf),
    )
    for fn, data in cases:
        try:
            fn(data)
        except ValueError:
            pass


def test_png_rgb_corrupt_blobs_raise_value_error():
    """Every malformed RGB blob stays inside the ValueError contract
    (the on_error='null' tolerance path depends on it)."""
    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_png,
        encode_png,
        synth_rgb_image,
    )

    import struct
    import zlib

    w, h, px = synth_rgb_image(9)
    good = encode_png(w, h, px)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    # valid chunks/CRCs but the IDAT payload is not a deflate stream:
    # zlib.error must surface as ValueError, not escape the contract
    sig, ihdr = good[:8], good[8:33]
    bad_deflate = sig + ihdr + chunk(b"IDAT", b"garbage!") + chunk(b"IEND", b"")

    for bad in (
        b"",  # empty
        b"not a png",  # bad signature
        good[:30],  # truncated mid-IHDR
        good[:17] + bytes([good[17] ^ 0xFF]) + good[18:],  # flipped IHDR byte -> CRC fail
        good[:-13],  # IEND gone and IDAT CRC truncated
        bad_deflate,
    ):
        with pytest.raises(ValueError):
            decode_png(bad)


def test_png_palette_crafted_contract_holes():
    """VERDICT r6 #7 corpora: the paletted decoder's spec-level error
    paths — missing PLTE, ragged PLTE, palette index past the table,
    tRNS longer than the palette, and the Adam7 interlace flag — must
    each surface as ValueError (the on_error='null' tolerance path
    depends on the contract holding on STRUCTURED corruption, not just
    the fuzz's random bytes)."""
    import struct
    import zlib

    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_png,
        encode_png,
        synth_palette_image,
    )

    w, h, idx, pal, trns = synth_palette_image(7)
    good = encode_png(w, h, idx, palette=pal, trns=trns)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    def rebuild(palette=None, trns_body=None, interlace=0, drop_plte=False):
        ihdr_body = bytearray(good[16:29])
        ihdr_body[12] = interlace
        out = good[:8] + chunk(b"IHDR", bytes(ihdr_body))
        if not drop_plte:
            out += chunk(b"PLTE", pal if palette is None else palette)
        if trns_body is not None:
            out += chunk(b"tRNS", trns_body)
        idat_at = good.find(b"IDAT") - 4
        return out + good[idat_at:]

    with pytest.raises(ValueError, match="missing PLTE"):
        decode_png(rebuild(drop_plte=True))
    with pytest.raises(ValueError, match="ragged PLTE"):
        decode_png(rebuild(palette=pal[:-1]))
    # shrink the palette below the max index used by the grid
    with pytest.raises(ValueError, match="index out of range"):
        decode_png(rebuild(palette=pal[: 3 * 3]))
    with pytest.raises(ValueError, match="tRNS longer"):
        decode_png(rebuild(trns_body=bytes(len(pal) // 3 + 1)))
    # flipping the interlace flag WITHOUT re-laying-out the stream makes
    # the Adam7 pass slicing disagree with the actual payload — the
    # decoder (which now supports real Adam7) must reject, not garble:
    # either a mis-sliced scanline's filter byte is invalid or the pass
    # lengths don't add up
    with pytest.raises(ValueError, match="bad filter type|size mismatch"):
        decode_png(rebuild(interlace=1))
    # interlace methods beyond Adam7 are spec-invalid
    with pytest.raises(ValueError, match="interlace=2"):
        decode_png(rebuild(interlace=2))


@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=25).map(" ".join),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_line_dedup_invariants(spark, texts):
    """n_kept + n_dupes == n_lines per doc, and the corpus-wide kept
    count equals the number of DISTINCT lines."""
    from redpanda_to_parquet_writer_spark.operators.text import line_dedup_stats

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = line_dedup_stats(docs, "text", "doc_id", 5).collect()
    for r in rows:
        assert r["n_kept"] + r["n_dupes"] == r["n_lines"]
    # model: 5-token lines over whitespace tokens (split('') -> [''])
    def lines(t):
        toks = t.strip().split() if t.strip() else [""]
        if t.strip():
            return [" ".join(toks[i : i + 5]) for i in range(0, len(toks), 5)]
        return [""]

    all_lines = [ln for t in texts for ln in lines(t)]
    assert sum(r["n_kept"] for r in rows) == len(set(all_lines))
    assert sum(r["n_lines"] for r in rows) == len(all_lines)


def test_frame_sampler_on_error_degradation():
    """Per-frame on_error contract (VERDICT r6 #8): a corrupt frame in
    an otherwise good stream degrades to a null slot ('null'), drops
    silently ('skip'), or fails the blob ('raise') — and the good
    frames around it always decode."""
    import numpy as np
    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        encode_avi_mjpg,
        encode_jpeg_gray8,
        sample_avi_mjpg_gray8,
        sample_mjpeg_gray8,
    )

    w, h, nf = 12, 10, 4
    y, x = np.mgrid[0:h, 0:w]
    frames = [
        encode_jpeg_gray8(w, h, ((20 + 2 * f + 2 * x + y) % 256).astype(np.uint8).tobytes())
        for f in range(nf)
    ]
    # corrupt frame 2's entropy data but keep its SOI/EOI framing so the
    # splitter/demuxer still see a frame and only the DECODE fails
    bad = bytearray(frames[2])
    bad[len(bad) // 2 : len(bad) // 2 + 4] = b"\xff\xc4\x00\x00"
    frames[2] = bytes(bad)
    stream = b"".join(frames)
    avi = encode_avi_mjpg(w, h, frames)

    for sample, src in (
        (sample_mjpeg_gray8, stream),
        (sample_avi_mjpg_gray8, avi),
    ):
        with pytest.raises(ValueError):
            sample(src, 2, on_error="raise")
        nulled = sample(src, 2, on_error="null")
        assert [s[0] for s in nulled] == [0, 2]
        assert nulled[0][3] is not None and nulled[1][3] is None
        skipped = sample(src, 2, on_error="skip")
        assert [s[0] for s in skipped] == [0]
        with pytest.raises(ValueError, match="on_error"):
            sample(src, 2, on_error="bogus")


@given(
    st.integers(min_value=1, max_value=25),
    st.integers(min_value=1, max_value=25),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.integers(min_value=1, max_value=256),
    st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_png_palette_rgba_roundtrip_arbitrary_images(w, h, seed, ncol, cycle):
    """Paletted PNG decode expands to exactly palette[index] for
    arbitrary palettes/grids (indices filtered as 1-byte pixels), and
    RGBA encode->decode is the identity at the 4-byte stride."""
    import random as _random

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = _random.Random(seed)
    pal = bytes(rng.randrange(256) for _ in range(3 * ncol))
    idx = bytes(rng.randrange(ncol) for _ in range(w * h))
    trns = bytes(rng.randrange(256) for _ in range(rng.randrange(ncol + 1)))
    got = decode_png(
        encode_png(w, h, idx, palette=pal, trns=trns, filter_cycle=cycle)
    )
    expected = b"".join(pal[3 * i : 3 * i + 3] for i in idx)
    assert got == (w, h, 3, expected)

    rgba = bytes(rng.randrange(256) for _ in range(w * h * 4))
    assert decode_png(encode_png(w, h, rgba, filter_cycle=cycle)) == (w, h, 4, rgba)


@given(
    st.integers(min_value=1, max_value=48),
    st.integers(min_value=1, max_value=48),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_progressive_jpeg_equals_sequential(w, h, seed):
    """The progressive (SOF2) stream carries the SAME quantized
    coefficients as the sequential encoding — so on arbitrary noise
    images the progressive decode must be BITWISE equal to the baseline
    decoder's pixels (no tolerance): any EOBn/refinement/point-
    transform bug in either direction breaks equality."""
    import random as _random

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_jpeg_gray8,
        encode_jpeg_gray8,
        encode_jpeg_gray8_progressive,
        probe_jpeg,
    )

    rng = _random.Random(seed)
    px = bytes(rng.randrange(256) for _ in range(w * h))
    blob = encode_jpeg_gray8_progressive(w, h, px)
    assert probe_jpeg(blob)[5] == 1  # structure probe flags SOF2
    got = decode_jpeg_gray8(blob)
    assert got == decode_jpeg_gray8(encode_jpeg_gray8(w, h, px))
    # one decoder for both frame types: repeated decodes agree
    assert decode_jpeg_gray8(blob) == got
    assert decode_jpeg_gray8(encode_jpeg_gray8(w, h, px)) == got


def test_progressive_jpeg_crafted_contract_holes():
    """Structured corruption of a progressive stream stays inside
    ValueError: AC-before-DC scan order and truncated scans."""
    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_jpeg_gray8,
        encode_jpeg_gray8_progressive,
        synth_gray_image,
    )

    w, h, px = synth_gray_image(11)
    prog = encode_jpeg_gray8_progressive(w, h, px)
    # drop everything from the first SOS up to the second one: the
    # stream then opens with an AC scan before any DC scan
    first_sos = prog.find(b"\xff\xda")
    second_sos = prog.find(b"\xff\xda", first_sos + 2)
    with pytest.raises(ValueError, match="AC scan before first DC"):
        decode_jpeg_gray8(prog[:first_sos] + prog[second_sos:])
    with pytest.raises(ValueError):
        decode_jpeg_gray8(prog[: len(prog) // 2])


@given(
    st.integers(min_value=1, max_value=36),
    st.integers(min_value=1, max_value=36),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.sampled_from(["420", "422", "444"]),
)
@settings(max_examples=30, deadline=None)
def test_progressive_color_jpeg_equals_sequential(w, h, seed, sub):
    """Progressive COLOR (SOF2) decode is BITWISE equal to the
    sequential decoder's RGB on arbitrary noise images across all
    three subsampling modes — interleaved-DC ordering, per-component
    spec-grid AC scans, EOBn and refinement all verified with no
    tolerance."""
    import random as _random

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_jpeg_color,
        encode_jpeg_color,
        encode_jpeg_color_progressive,
        probe_jpeg,
    )

    rng = _random.Random(seed)
    px = bytes(rng.randrange(256) for _ in range(w * h * 3))
    blob = encode_jpeg_color_progressive(w, h, px, subsample=sub)
    assert probe_jpeg(blob)[2] == 3 and probe_jpeg(blob)[5] == 1
    got = decode_jpeg_color(blob)
    assert got == decode_jpeg_color(encode_jpeg_color(w, h, px, subsample=sub))
    assert decode_jpeg_color(blob) == got
    assert decode_jpeg_color(encode_jpeg_color(w, h, px, subsample=sub)) == got


def test_progressive_color_jpeg_crafted_contract_holes():
    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_jpeg_color,
        encode_jpeg_color_progressive,
        synth_rgb_image,
    )

    w, h, px = synth_rgb_image(13)
    prog = encode_jpeg_color_progressive(w, h, px)
    # strip the DC scans: the stream opens with an AC scan
    first_sos = prog.find(b"\xff\xda")
    third_sos = prog.find(
        b"\xff\xda", prog.find(b"\xff\xda", first_sos + 2) + 2
    )
    with pytest.raises(ValueError, match="AC scan before first DC"):
        decode_jpeg_color(prog[:first_sos] + prog[third_sos:])
    with pytest.raises(ValueError):
        decode_jpeg_color(prog[: len(prog) * 2 // 3])


@given(
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.sampled_from([1, 5, 32773]),
    st.sampled_from(["II", "MM"]),
    st.sampled_from([1, 2]),
    st.sampled_from([1, 4, 64]),
)
@settings(max_examples=60, deadline=None)
def test_tiff_roundtrip_arbitrary_images(w, h, seed, comp, bo, pred, rps):
    """TIFF encode->decode is the identity on arbitrary gray and RGB
    bitmaps across every (compression, byte order, predictor,
    rows-per-strip) combination — PackBits/LZW are lossless and the
    predictor is exactly invertible."""
    import random as _random

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
        probe_tiff,
    )

    rng = _random.Random(seed)
    for samples in (1, 3):
        px = bytes(rng.randrange(256) for _ in range(w * h * samples))
        blob = encode_tiff(w, h, px, samples, comp, rps, bo, pred)
        assert decode_tiff(blob) == (w, h, samples, px)
        pw, ph, bits, sp, pc, _n = probe_tiff(blob)
        assert (pw, ph, bits, sp, pc) == (w, h, 8, samples, comp)


def test_tiff_crafted_contract_holes():
    """Structured TIFF corruption stays inside ValueError: bad magic,
    strip tables out of bounds, unsupported compression/planar/bit
    depth, truncated LZW, PackBits overruns."""
    import struct

    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        _packbits_decode,
        _tiff_lzw_decode,
        decode_tiff,
        encode_tiff,
        synth_gray_image,
    )

    w, h, px = synth_gray_image(3)
    good = encode_tiff(w, h, px, 1, 5, 8, "II", 2)

    with pytest.raises(ValueError, match="byte-order"):
        decode_tiff(b"XX" + good[2:])
    with pytest.raises(ValueError, match="magic"):
        decode_tiff(good[:2] + struct.pack("<H", 43) + good[4:])
    with pytest.raises(ValueError):
        decode_tiff(good[: len(good) // 2])  # strips cut off
    # unsupported compression id in the IFD
    bad = bytearray(good)
    ifd_n = struct.unpack_from("<H", bad, 8)[0]
    for i in range(ifd_n):
        tag = struct.unpack_from("<H", bad, 10 + 12 * i)[0]
        if tag == 259:
            struct.pack_into("<H", bad, 10 + 12 * i + 8, 6)  # old-JPEG
    with pytest.raises(ValueError, match="unsupported compression"):
        decode_tiff(bytes(bad))
    with pytest.raises(ValueError, match="truncated LZW"):
        _tiff_lzw_decode(b"", 10)
    with pytest.raises(ValueError, match="PackBits"):
        _packbits_decode(b"\x05ab", 6)  # literal promises 6, has 2
    with pytest.raises(ValueError, match="compression must be"):
        encode_tiff(2, 2, bytes(4), 1, 6)


@given(
    st.integers(min_value=1, max_value=32),
    st.integers(min_value=1, max_value=32),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_webp_lossless_roundtrip_arbitrary_images(w, h, seed):
    """VP8L encode->decode is the identity on arbitrary RGBA bitmaps, on
    noise (literal path), tiny palettes (color-indexing with every
    bundling width) and flat fills (LZ77 runs)."""
    import random as _random

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_webp_lossless,
        encode_webp_lossless,
        probe_webp,
    )

    rng = _random.Random(seed)
    images = [bytes(rng.randrange(256) for _ in range(w * h * 4))]
    for n_colors in (1, 2, 4, 16, 40):
        pal = [bytes(rng.randrange(256) for _ in range(4)) for _ in range(n_colors)]
        images.append(b"".join(rng.choice(pal) for _ in range(w * h)))
    images.append(bytes(rng.randrange(256) for _ in range(4)) * (w * h))
    for rgba in images:
        blob = encode_webp_lossless(w, h, rgba)
        assert decode_webp_lossless(blob) == (w, h, rgba)
        assert probe_webp(blob)[:3] == (w, h, "VP8L")


# VP8L streams with features the encoder does not emit. The spatial
# transforms: a 9x7 noise image and a 9x7 gradient, each coded with the
# predictor transform alone, the cross-color transform alone, and both
# after subtract-green, at predictor_size_bits 2 and 3 (tile modes 0, 1
# and 12; non-identity cross-color multipliers). Color caches of 0, 4 and
# 11 bits and images without subtract-green: a 9x7 image of six colors
# and the 9x7 noise image, coded without the color-indexing transform by
# the encoder at rev fd450c7, which still took these settings as options.
# Each entry holds the stream and the sha256 of the RGBA it decodes to.
_VP8L_PINNED_STREAMS = {
    "noise_pred_sb2": (
        "5249464696010000574542505650384c8a0100002f08800110012141a29dffdb"
        "23fa1f6422b609000419a3259a221a82a031a235245a5a1b3aa03dfac02188a0"
        "bd0382a0a125ea80a8a196a0264188666ba80b92f0ffff37b6090004196ae982"
        "680ba2ada1a225688ea6a6a41b0c9a232268ee81c65a8a200937c13968a8b9a1"
        "b1a1c5b5a120846d020041a096dcfaa0a2b52508973e88a0a5d1d6b68696965e"
        "0822688cda7aa0256a121ac2c003ea80a0a0889a2a816d02004168a82d5a6a68"
        "0a09820aaab12568680922da5a2a68706b688c88888696a0b5439a8296e80117"
        "1f080a3aa0510cbf2732a92e9604e1294227f98521e8fc99c237869f0d269d29"
        "1815d55b9df92751394fcb89cc26d40e6f9d5b4590fa916e0f571d9cb4e06ef7"
        "c37448072ea694b7dd7bdb67d09c2e81bce1854471d469e9e09a45f1f3844d99"
        "ff1aa3b90138d899a7ee4847ca6c30a716ac718da329ecf6307db991d49e1389"
        "998ad04d17ceceadfe77e101d1215d6038059efdad066e0bc6c9b8d2a7e19e22"
        "34702a66b8a9acc6e213b544c28ec125f9a5fcb90f16915baf406ff4a506",
        "634e37ebb141af7cfa94cee2913cc5f7af7daf666ed53f3ff1f73a6341e663dd",
    ),
    "noise_cc_sb3": (
        "5249464694010000574542505650384c880100002f088001108b018982f43f14"
        "b14d0020c8d650d0d2d6604393d810d466635bb4343635373636b5341734b539"
        "35d7012d4d457b5304410e6e218110feffffc83601d03050e78e19da2ebda19d"
        "dab91fa443e8018566284d0f689796d2a550e8d0b98542972ed9d20f3a05da6e"
        "7da007a463619b00409068698896b6dada5b6b6809da1da2b620885a8286f686"
        "3e08a29686686869aaa168b0a53104e7b6a6c608da0a42d8260010a4076a6a68"
        "a9206888a0081c1a9ba3688a163b206849a2b129686b0b3a22088a4ea8a5351c"
        "9d5b72086a4b22264872d5221b914c6c9e5860d7d11e0a45789638d06b985dae"
        "03b49011ffbe7a3b8510573f3d0afd88ede9c7bb489a7e6148b3f928a98fc837"
        "6db9566cfd4af718f50ac4a019ee4e9a9d8b9ac254824a616fda7eb43f1badc7"
        "9cedd840f9accdd3eed672cd41e43c13f2b9588349c207c347c5df983e1ada64"
        "66b328e5867a55e322e850f9e252d25968caa719f939c33e066f158c82512faa"
        "f9fdcb1de214e8469399e82ea09c8c91ea31e04afcbceaa27eb80f0c",
        "634e37ebb141af7cfa94cee2913cc5f7af7daf666ed53f3ff1f73a6341e663dd",
    ),
    "noise_both_sg_sb3": (
        "524946469e010000574542505650384c920100002f088001105d1424a2ff9198"
        "8088fe4722b709c086cdd88e1943208180214312c812922564cc9435e484bce0"
        "5590c553201f64f0947ce0c94be680976c0165c9982c89c990ffff5fd8260010"
        "646d68b568ad2468884007e9842ea8031a1ba3311a5c832082a0a08686ea8aa6"
        "86a686a6206869ca295a72619b0040901e085c1cda1ada846a8aa0039aabb5b9"
        "29a213ac4d8ab6241aea808812da9a1b6b696a6a8af6868620649b0068185ae8"
        "dcadd0b15b4b4bdbb14be9520a5d4aa776e9d00e0e2d1d4be9dca1437b40a04b"
        "e992a55774ea05a57ba12d140a9d3a1512a5a7f3d82006836e367ccd7f85cd9e"
        "2a4c6842e071a4862cc7ba8cff0924b9f5dd161dfa4611a7e2599f2d6116709c"
        "0d0770745502e15273ec3de21b45635acf348e0d77b2c312ee7f77e4f7780df1"
        "c3b1f32e46df27d4ec2f50d66edb7ab99ab0228f88b30a815add19256d651552"
        "881942bfe0aa99c934723279d72bd0da8105b919c3bf8734a457df0358ba98a9"
        "f4acebf90daa1f2b5c9fde0b58439e8a9cfd7492616ea01d3689792987b22763"
        "808bc4777303",
        "634e37ebb141af7cfa94cee2913cc5f7af7daf666ed53f3ff1f73a6341e663dd",
    ),
    "gradient_pred_sb3": (
        "524946465c000000574542505650384c500000002f08800100893244f43f4468"
        "d3b08dd65ed0ff7fb52127e4ff87b39a4dd066b04bd72e85d213b267c9ff7799"
        "4dc2462814ba174a21ffdf196f70d8bf57f0eb85820701af028e4c060c6e2402"
        "0a15fe00",
        "fd8de67762bd4c6155eed5f69297576c08017d9d9d185ba1a94501181d7490ba",
    ),
    "gradient_cc_sb2": (
        "5249464606010000574542505650384cf90000002f088001008301199001e97f"
        "b4a9206212004010abd562b0182c060d060d16830683068b41834183c5a0c1a0"
        "c162d060d06031683068b018341834580c1683c56ae5ffff156c13860d230804"
        "02815043212590c95369d67429f48a8e7da53775ec03bda053fb42f70e9dd826"
        "601b466341bba62eda3d74f3eedb3b772c5dba75e890217392a1ff010114d040"
        "022608400e3ab01e80216ec859aa8e8e671c5809c796c74d04915682972ef2a2"
        "d2ac4635f7ba7e61987196c55672a82e8afbea6df6934c10bc0f2d86ab91ecab"
        "befaf47d67f77cd34691624823a75f323b67fbb6a579eff1fad79da514295b2b"
        "aa553e6330ff3edcef7282ed0000",
        "fd8de67762bd4c6155eed5f69297576c08017d9d9d185ba1a94501181d7490ba",
    ),
    "gradient_both_sg_sb2": (
        "5249464666000000574542505650384c5a0000002f088001001d0cc8800c48ff"
        "4342c4401922fa1f22b401d286d50bfaffabb5e90d793e0fe61957b2499b80c7"
        "f4fff73a994dd02674edecffe7756ef726f106873ea9c0aaf12f0c1c406a0076"
        "400d16377b61862a287180f30900",
        "fd8de67762bd4c6155eed5f69297576c08017d9d9d185ba1a94501181d7490ba",
    ),
    "few_colors_cache0": (
        "5249464672000000574542505650384c660000002f08800100059100c932666a"
        "f7021ffc48244032549a85e0715f1008884c32a45f2d30a7571de87f24ef8224"
        "ef22227bdf8962f2bd88b817d9db0579278a5df6be13f78aa2b81779f72e7997"
        "2e48f277c9bb20a2b83739b2f75df22eefde898888ecedf22e39",
        "cd2aea6dbc2b0ece447a92a44337abff9a8347399b909c5e55c1b4ff4aff10fe",
    ),
    "few_colors_cache4": (
        "524946465e000000574542505650384c520000002f0880010095b04dd806cc65"
        "3db3defb427ee899c2187b301b24c8a1b9b534f0785f180812645243f8d502e7"
        "f4aa03fd8f775e3c37e3aadfefbf0773712d9a2b847365c04d26e8327a855767"
        "22b92ab5c800",
        "cd2aea6dbc2b0ece447a92a44337abff9a8347399b909c5e55c1b4ff4aff10fe",
    ),
    "few_colors_cache11": (
        "524946466c000000574542505650384c5f0000002f0880010075b10d9030cc65"
        "3db3ddfb427ec8ffffffffffffcfe0ffffffe7ffd7fafff5beecffffffff0091"
        "00c9506d1603c77941202032a921fd6a4173bc72a0fff1c68f3ecf74fafeee0e"
        "988b6b352007036e32a9cb54f0ea4c09a5560600",
        "cd2aea6dbc2b0ece447a92a44337abff9a8347399b909c5e55c1b4ff4aff10fe",
    ),
    "few_colors_no_sg": (
        "524946465e000000574542505650384c520000002f0880010022b6011286b9ac"
        "67b67b5fc80ff991cdf33dcc433cc2854082041ad08eb6f6c37f4e20122099e3"
        "13d778c2c64d9ef43f5ef9e2c3e2d3f67fee0e5151e50eac2140dd62378b0b4a"
        "b578a3545e00",
        "cd2aea6dbc2b0ece447a92a44337abff9a8347399b909c5e55c1b4ff4aff10fe",
    ),
    "noise_no_sg_cache0": (
        "5249464686010000574542505650384c790100002f08800110609b004090ada1"
        "a0a5adc18626b121a8cdc6b668696c6a6e6c6c6a692e686a736aae035a9a8af6"
        "a608821cdc4202213c846d0200413e706d68a8a1081a9a1a2388a03070ac0704"
        "89205a82865a5a1a3aa2ada5a16a29ec857215ea0f57619b0040906869880e68"
        "8cd6c61a23687788da9aa296a0a1a9a5a1a539885a1aa2a1a5a986a041211a43"
        "70ee81c608da0a42d8260010a4076a6a68a9206888a0081c1a9ba3688a163b20"
        "6849a2b129686b0b3a22088a4ea8a5351c9d5b72086a4b229eb1e49a48364a85"
        "d83cb5c067a05d138b50a971005b98b9ab03f49091ffbe7a9a41d8353fdd2afd"
        "f09ce9478748ac716152b6f928a9cf546eda71ad38fb95ae32ebf5a1064d4977"
        "46c5b95c4998daa0529a376d07d69f79ef31753fb657fb2ce6697761bbe6aa72"
        "1e827c6e6cc1d4c307fb1f15a2337d38b589e0b3880a43eda0b838075462524a"
        "b2080d789a119f33bc63f0d6c12872e645bbbe7fc425ce826fc4ac440f00e5c9"
        "1ca92107aed8cf2b10f5439b6300",
        "634e37ebb141af7cfa94cee2913cc5f7af7daf666ed53f3ff1f73a6341e663dd",
    ),
}


def test_webp_lossless_decodes_pinned_spatial_transform_streams():
    """The predictor and cross-color inverse transforms, and color caches
    and transform lists the encoder no longer chooses, reproduce the
    exact pixels of committed streams, so external VP8L files that use
    them keep decoding although the encoder never writes them."""
    import hashlib

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_webp_lossless,
    )

    for name, (stream, rgba_sha256) in _VP8L_PINNED_STREAMS.items():
        w, h, rgba = decode_webp_lossless(bytes.fromhex(stream))
        assert (w, h) == (9, 7), name
        assert hashlib.sha256(rgba).hexdigest() == rgba_sha256, name


def test_webp_crafted_contract_holes():
    """Structured VP8L corruption stays inside ValueError, and the
    out-of-subset features raise their documented errors."""
    import struct

    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        _LsbBitWriter,
        decode_webp_lossless,
        encode_webp_lossless,
        probe_webp,
    )

    good = encode_webp_lossless(4, 4, bytes(range(64)))
    with pytest.raises(ValueError, match="RIFF"):
        decode_webp_lossless(b"RIFX" + good[4:])
    with pytest.raises(ValueError):
        decode_webp_lossless(good[: len(good) // 2])
    # all four transform types decode now; a declaration truncated
    # before its tile data must still die inside ValueError
    w = _LsbBitWriter()
    w.put(0x2F, 8)
    w.put(3, 14)
    w.put(3, 14)
    w.put(0, 1)
    w.put(0, 3)
    w.put(1, 1)  # a transform follows
    w.put(1, 2)  # CROSS-COLOR, but the stream ends here
    payload = w.flush()
    blob = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(payload)) + b"WEBP"
        + b"VP8L" + struct.pack("<I", len(payload)) + payload
    )
    with pytest.raises(ValueError):
        decode_webp_lossless(blob)
    # the remaining out-of-subset feature: meta-prefix groups
    w = _LsbBitWriter()
    w.put(0x2F, 8)
    w.put(3, 14)
    w.put(3, 14)
    w.put(0, 1)
    w.put(0, 3)
    w.put(0, 1)  # no transforms
    w.put(0, 1)  # no cache
    w.put(1, 1)  # meta-prefix groups!
    payload = w.flush()
    blob = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(payload)) + b"WEBP"
        + b"VP8L" + struct.pack("<I", len(payload)) + payload
    )
    with pytest.raises(ValueError, match="meta-prefix"):
        decode_webp_lossless(blob)
    # lossy VP8 probes but refuses pixel decode
    vp8 = (
        b"RIFF" + struct.pack("<I", 4 + 8 + 10) + b"WEBP"
        + b"VP8 " + struct.pack("<I", 10)
        + b"\x00\x00\x00\x9d\x01\x2a" + struct.pack("<HH", 20, 30)
    )
    assert probe_webp(vp8) == (20, 30, "VP8", 10)
    with pytest.raises(ValueError, match="imaging library"):
        decode_webp_lossless(vp8)
    # past 256 distinct colors the encoder takes subtract-green instead
    # of the color-indexing transform
    enc_px = b"".join(struct.pack(">I", i) for i in range(320))
    assert decode_webp_lossless(encode_webp_lossless(16, 20, enc_px))[2] == enc_px


def test_webp_vp8x_wrapped_lossless_decodes():
    """Metadata-carrying lossless WebP is VP8X followed by VP8L: the
    decoder must keep scanning past the extended-features header to the
    pixel chunk (code-review r7 finding), and every emitted prefix code
    must be Kraft-COMPLETE so standard decoders accept the stream."""
    import struct

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_webp_lossless,
        encode_webp_lossless,
        probe_webp,
    )

    rgba = bytes((i * 5) % 256 for i in range(6 * 4 * 4))
    plain = encode_webp_lossless(6, 4, rgba)
    vp8l_chunk = plain[12:]
    vp8x = b"VP8X" + struct.pack("<I", 10) + bytes(4) + (5).to_bytes(3, "little") + (
        3
    ).to_bytes(3, "little")
    body = b"WEBP" + vp8x + vp8l_chunk
    wrapped = b"RIFF" + struct.pack("<I", len(body)) + body
    assert decode_webp_lossless(wrapped) == (6, 4, rgba)
    # the probe reports the VP8X canvas header (first image chunk wins)
    assert probe_webp(wrapped)[2] == "VP8X"


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.booleans(),
    st.sampled_from([1, 3, 4]),
)
@settings(max_examples=40, deadline=None)
def test_png_adam7_roundtrip_arbitrary_images(w, h, seed, cycle, channels):
    """Adam7-interlaced PNG encode->decode is the identity on arbitrary
    gray8/RGB8/RGBA8 bitmaps — covers empty passes (w or h below a
    pass's first column/row), single-pixel images, and filter cycling
    WITHIN each pass sub-image."""
    import random as _random

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = _random.Random(seed)
    px = bytes(rng.randrange(256) for _ in range(w * h * channels))
    blob = encode_png(w, h, px, filter_cycle=cycle, interlace=True)
    assert decode_png(blob) == (w, h, channels, px)
    # interlaced and plain encodings of the same bitmap decode equal
    assert decode_png(encode_png(w, h, px, filter_cycle=cycle)) == (w, h, channels, px)


def test_png_adam7_truncated_pass_raises():
    """An Adam7 stream cut mid-pass must surface as ValueError (size
    mismatch), not a short/garbled decode."""
    import struct
    import zlib

    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    good = encode_png(16, 16, bytes(range(256)), interlace=True)
    # rebuild with the IDAT payload truncated by one scanline
    idat_at = good.find(b"IDAT") - 4
    (ln,) = struct.unpack(">I", good[idat_at : idat_at + 4])
    raw = zlib.decompress(good[idat_at + 8 : idat_at + 8 + ln])
    short = zlib.compress(raw[:-17], 6)
    chunk = (
        struct.pack(">I", len(short))
        + b"IDAT"
        + short
        + struct.pack(">I", zlib.crc32(b"IDAT" + short) & 0xFFFFFFFF)
    )
    bad = good[:idat_at] + chunk + good[idat_at + 12 + ln :]
    with pytest.raises(ValueError, match="size mismatch"):
        decode_png(bad)


# --- r8 merged tokenizer: single-scan operator vs a pure-Python reference


def _round6(x: float) -> float:
    """Spark's round(double, 6): half-up on the shortest decimal repr."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(list("ab1 .,!\t\né中")),
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_tokenizer_stats_fuzz_matches_python_reference(spark, texts):
    """docs_tokenizer_stats' single-scan operator against both
    tokenizers written in Python (trim strips spaces only, Java's \\s
    is [ \\t\\n\\x0b\\f\\r]) on arbitrary text — unicode, whitespace
    runs, punctuation-only and empty strings included."""
    import re

    from redpanda_to_parquet_writer_spark.operators import text as T

    ws = "[ \t\n\x0b\f\r]+"
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in T.tokenizer_stats(df, "text", "doc_id").collect()}
    for i, t in enumerate(texts):
        toks = re.split(ws, t.strip(" "))
        bpe = re.findall(T.BPE_PATTERN, t)
        expected = {
            "doc_id": i,
            "n_chars": len(t),
            "n_tokens": len(toks),
            "avg_token_len": _round6(len(re.sub(ws, "", t)) / len(toks)),
            "n_bpe_tokens": len(bpe),
            "n_distinct_bpe_tokens": len(set(bpe)),
            "avg_bpe_token_len": (
                _round6(sum(len(b.strip(" ")) for b in bpe) / len(bpe)) if bpe else None
            ),
        }
        assert got[i] == expected, (t, got[i], expected)


def test_salted_dedup_rewrites_survive_degenerate_corpus(spark):
    """The adversarial input every salted rewrite exists for: a corpus
    where EVERY document is identical — one corpus-hot fingerprint /
    line / content hash. A window-form plan would stream every copy
    through one unsplittable task; the salted aggregate shapes must
    complete AND return exact group stats. (The 500k-row wall-clock
    evidence lives in SCALING.md; this pins correctness at 50k.)"""
    from pyspark.sql import functions as F

    from redpanda_to_parquet_writer_spark.operators.dedup import (
        content_dedup_keep_first,
    )
    from redpanda_to_parquet_writer_spark.operators.text import (
        line_dedup_stats,
        normalized_fingerprint,
    )

    n = 50_000
    boiler = "Click here to subscribe! " * 12
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(boiler).alias("text")
    )

    nf = normalized_fingerprint(docs, "text", "doc_id").agg(
        F.min("canonical_id").alias("c"),
        F.max("n_variants").alias("v"),
        F.count("*").alias("n"),
        F.count_distinct("norm_fp").alias("fps"),
    ).collect()[0]
    assert (nf["c"], nf["v"], nf["n"], nf["fps"]) == (0, n, n, 1)

    # 48 tokens per doc -> 5 lines of 10/10/10/10/8 tokens; the 4-word
    # phrase gives lines phases 0,2,0,2 plus the short tail: exactly 3
    # distinct line contents corpus-wide, each kept once
    ld = line_dedup_stats(docs, "text", "doc_id").agg(
        F.sum("n_kept").alias("k"), F.sum("n_dupes").alias("d")
    ).collect()[0]
    assert (ld["k"], ld["d"]) == (3, 5 * n - 3)

    kf = content_dedup_keep_first(
        docs.select(
            F.lit(0).alias("kafka_partition"),
            F.col("doc_id").alias("kafka_offset"),
            F.col("text").alias("payload"),
        ),
        content_cols=["payload"],
        order_cols=["kafka_partition", "kafka_offset"],
    )
    rows = kf.collect()
    assert len(rows) == 1 and rows[0]["kafka_offset"] == 0


DEGENERATE_DIM = 64


def degenerate_embeddings(spark, n_hot: int, n_rest: int):
    """n_hot copies of ONE vector (ids 0..n_hot-1) + n_rest distinct
    deterministic vectors — all expression-built, no driver rows."""
    from pyspark.sql import functions as F

    hot_vec = F.array(*[F.lit(float((d * 7) % 13 + 1)) for d in range(DEGENERATE_DIM)])
    hot = spark.range(n_hot).select(F.col("id").alias("vec_id"), hot_vec.alias("embedding"))
    d = F.sequence(F.lit(0), F.lit(DEGENERATE_DIM - 1))
    # component 0 carries the raw id so every tail vector is DISTINCT
    # (a pure mod-101 pattern cycles after 101 ids); the rest is a
    # deterministic signed pattern so directions vary
    rest_vec = F.transform(
        d,
        lambda i: F.when(i == 0, F.col("id").cast("double")).otherwise(
            ((F.col("id") * 31 + i * 17) % 101 - 50).cast("double")
        ),
    )
    rest = spark.range(n_hot, n_hot + n_rest).select(
        F.col("id").alias("vec_id"), rest_vec.alias("embedding")
    )
    return hot.unionByName(rest)


def test_vector_operators_survive_degenerate_corpus(spark, tmp_path):
    """The VECTOR-side degenerate gate (VERDICT r13 #4, the text-side
    treatment applied to embeddings): 50k IDENTICAL vectors + 500
    near-parallel tail vectors — one hot LSH bucket in EVERY table, one
    hot IVF list, a SemDeDup "cluster" that is the whole
    corpus. Exact expected outputs; 200k wall-clock evidence lives in
    SCALING.md (scripts/probe_degenerate_vectors.py at rev 269ae41)."""
    from pyspark.sql import functions as F

    from redpanda_to_parquet_writer_spark.operators.dedup import (
        content_dedup_keep_first,
    )
    from redpanda_to_parquet_writer_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
        lsh_bucketed_neighbors,
    )
    from redpanda_to_parquet_writer_spark.plans.vector_queries import _lsh_planes

    n_hot, n_rest = 50_000, 500
    emb = degenerate_embeddings(spark, n_hot, n_rest)
    emb.write.mode("overwrite").parquet(str(tmp_path / "emb"))
    emb = spark.read.parquet(str(tmp_path / "emb"))

    # 1. exact vector dedup: the hot group collapses MAP-SIDE (min_by
    # partial combine) to its lowest id; every distinct tail survives
    survivors = content_dedup_keep_first(
        emb, content_cols=["embedding"], order_cols=["vec_id"]
    )
    ids = sorted(r["vec_id"] for r in survivors.select("vec_id").collect())
    assert len(ids) == 1 + n_rest and ids[0] == 0 and ids[1] == n_hot

    # 2. capped LSH on the RAW corpus: the hot vector's bucket holds all
    # n_hot copies in every table -> always over cap -> dropped salted,
    # so NO pair touches a hot id; the tail (near-parallel by
    # construction: component 0 carries the dominating raw id) sits in
    # one at-cap bucket and pairs completely
    pairs = lsh_bucketed_neighbors(
        emb, _lsh_planes(), "vec_id", "embedding", 0.9, max_bucket_size=n_rest
    )
    got = pairs.agg(
        F.count("*").alias("n"), F.min("id_a").alias("lo"), F.min("sim").alias("s")
    ).collect()[0]
    assert got["n"] == n_rest * (n_rest - 1) // 2  # all C(500,2) tail pairs
    assert got["lo"] == n_hot  # no hot id in any pair
    assert got["s"] >= 0.9

    # 3. SemDeDup on a degenerate corpus = exact pre-pass ∘ capped LSH:
    # identical vectors are bitwise equal — collapse them exactly first;
    # the near-parallel tail then collapses to ITS min id via LSH
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    keep = sorted(
        r["vec_id"]
        for r in survivors.join(dropped, "vec_id", "left_anti")
        .select("vec_id")
        .collect()
    )
    assert keep == [0, n_hot]

    # 4. build + serve with ONE hot list: every vector ties to cluster 0
    # (ivf_assign breaks ties to the lowest cluster id), every centroid
    # is the hot vector; top-k of query 0 must be neighbors 1,2,3 at
    # sim 1.0 (ties break to lowest id)
    book = build_ivf_index(emb, str(tmp_path / "idx"), n_updates=0)
    served = ivf_topk_indexed(
        spark,
        str(tmp_path / "idx"),
        emb.filter(F.col("vec_id") == 0),
        book,
        k=3,
        n_probe=2,
    ).collect()
    assert sorted((r["rank"], r["neighbor_id"], r["sim"]) for r in served) == [
        (1, 1, 1.0),
        (2, 2, 1.0),
        (3, 3, 1.0),
    ]
