"""Reader API + validation + multimodal plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redpanda_to_parquet_writer_spark.config import EngineConfig
from redpanda_to_parquet_writer_spark.operators.multimodal import (
    MEDIA_META_SCHEMA,
    DECODED_IMAGE_SCHEMA,
    map_media_batches,
    with_media_metadata,
)
from redpanda_to_parquet_writer_spark.operators.validate import (
    ERROR,
    PASS,
    WARNING,
    external_completeness,
    internal_consistency,
)
from redpanda_to_parquet_writer_spark import reader as R


@pytest.fixture
def table_base(spark, tmp_path):
    """Two topic tables with date partitions, built through the sink."""
    from tests.test_streaming_ingest import _envelope_df, flatten_via_pipeline
    from redpanda_to_parquet_writer_spark.streaming.sink import (
        with_event_date,
        write_date_partitioned,
    )

    base = tmp_path / "tables"
    for topic in ("spx_index", "es_futures"):
        df = with_event_date(flatten_via_pipeline(spark, _envelope_df(spark, n=48)))
        write_date_partitioned(df, str(base / topic), EngineConfig())
    return str(base)


def test_discovery_and_batch_load(spark, table_base):
    assert R.get_available_topics(table_base) == ["es_futures", "spx_index"]
    dates = R.get_available_dates(table_base)
    assert "2024-01-01" in dates and len(dates) >= 2
    assert R.get_topics_for_date(table_base, "2024-01-01") == ["es_futures", "spx_index"]

    bundles = R.load_topics_batch(spark, table_base, date="2024-01-01")
    assert set(bundles) == {"es_futures", "spx_index"}
    assert bundles["spx_index"].sec_type == "IND"
    assert bundles["es_futures"].sec_type == "FUT"
    # date pruning: only 2024-01-01 rows (first 24 hourly offsets)
    assert bundles["spx_index"].dataframe.count() == 24


def test_date_prune_plan(spark, table_base):
    """P9: the date filter must prune partitions, not scan-and-filter."""
    df = R.load_topic(spark, table_base, "spx_index", "2024-01-01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(date" in plan, plan[:2000]


def test_analyze_table(spark, table_base):
    df = R.load_topic(spark, table_base, "spx_index")
    s = R.analyze_table(df)
    assert s.n_rows == 48
    assert ("symbol", "string") in s.columns
    assert s.null_counts["symbol"] == 0
    profiled = {p["column"] for p in s.numeric_profile}
    assert "price" in profiled and "kafka_offset" in profiled
    assert len(s.preview) == 5


def test_deduplicate_table_snapshot(spark, table_base, tmp_path):
    # duplicate content at different offsets -> keep-first removes them
    topic_dir = f"{table_base}/spx_index"
    df = spark.read.parquet(topic_dir)
    dup = df.limit(10).withColumn("kafka_offset", F.col("kafka_offset") + 1000)
    dup.write.partitionBy("date").mode("append").parquet(topic_dir)

    result = R.deduplicate_table(spark, table_base, "spx_index")
    assert result == {"before": 58, "after": 48, "removed": 10}
    # original untouched (backup semantics)
    assert spark.read.parquet(topic_dir).count() == 58


def test_deduplicate_twice_and_snapshots_are_not_topics(spark, table_base):
    """Two back-to-back dedup calls on one topic both succeed (their
    snapshot names never collide), and topic discovery — hence
    `load_topics_batch` — still returns only the real topics."""
    import os

    first = R.deduplicate_table(spark, table_base, "spx_index")
    second = R.deduplicate_table(spark, table_base, "spx_index")
    assert first == second == {"before": 48, "after": 48, "removed": 0}
    snapshots = [d for d in os.listdir(table_base) if d.startswith("spx_index__dedup_")]
    assert len(snapshots) == 2
    assert R.get_available_topics(table_base) == ["es_futures", "spx_index"]
    assert set(R.load_topics_batch(spark, table_base)) == {"es_futures", "spx_index"}


def test_internal_consistency(spark, table_base):
    root = f"{table_base}/spx_index"
    assert internal_consistency(spark, root, 48).status == PASS
    assert internal_consistency(spark, root, 50).status == ERROR
    assert internal_consistency(spark, root, 40).status == WARNING


def test_external_completeness(spark, table_base):
    root = f"{table_base}/spx_index"
    # offsets 0..47 round-robin over 4 partitions -> 12 rows each
    report = external_completeness(spark, root, {0: 12, 1: 12, 2: 13, 3: 11})
    rows = {r["kafka_partition"]: r for r in report.collect()}
    assert rows[0]["status"] == PASS
    assert rows[2]["status"] == ERROR and rows[2]["missing"] == 1
    assert rows[3]["status"] == WARNING


def test_multimodal_metadata_and_codec(spark):
    rows = [
        (1, bytes([0xFF, 0xD8, 0xFF, 0xE0]) + b"jpegdata"),
        (2, bytes([0x89, 0x50, 0x4E, 0x47]) + b"pngdata"),
        (3, b"\x00\x01plainbytes"),
    ]
    df = spark.createDataFrame(rows, "id long, blob binary")
    meta = with_media_metadata(df, "blob").select("id", "media_meta.*")
    got = {r["id"]: r for r in meta.collect()}
    assert got[1]["format"] == "jpeg" and got[2]["format"] == "png"
    assert got[3]["format"] == "unknown"
    assert got[1]["n_bytes"] == 12
    assert len(got[1]["content_hash"]) == 32

    def fake_image_codec(data: bytes) -> tuple[int, int, int]:
        # deterministic stand-in codec: fake dims from the byte content
        if data is None or len(data) == 0:
            return (0, 0, 0)
        return (1 + data[0] % 64, 1 + data[-1] % 64, 3)

    decoded = map_media_batches(df, "blob", DECODED_IMAGE_SCHEMA, codec=fake_image_codec)
    out = {r["id"]: r for r in decoded.collect()}
    assert set(decoded.columns) == {"id", "width", "height", "channels"}
    assert out[1]["width"] == 1 + 0xFF % 64 and out[1]["channels"] == 3


def test_media_decode_corrupt_tolerance(spark):
    """on_error='null' degrades the corrupt row to NULL features; the
    default still raises (silent loss is opt-in)."""
    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        DECODED_AUDIO_SCHEMA,
        decode_wav,
        synth_square_wav,
    )

    rows = [(1, synth_square_wav(1)), (2, b"not a wav at all"), (3, synth_square_wav(3))]
    df = spark.createDataFrame(rows, "id long, blob binary")
    with pytest.raises(Exception):
        map_media_batches(df, "blob", DECODED_AUDIO_SCHEMA, codec=decode_wav).collect()
    out = {
        r["id"]: r
        for r in map_media_batches(
            df, "blob", DECODED_AUDIO_SCHEMA, codec=decode_wav, on_error="null"
        ).collect()
    }
    assert out[2]["n_frames"] is None and out[2]["peak_abs"] is None
    assert out[1]["n_frames"] == 201 and out[3]["n_frames"] == 203


def test_gray8_resize_through_spark(spark):
    """REAL nearest-neighbor resize on raw gray8 bitmaps (numpy, no
    imaging lib): floor index mapping verified against a hand model."""
    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        resize_gray8_batches,
        synth_gray_image,
    )

    rows = []
    for i in (0, 5, 123, 4999):
        w, h, blob = synth_gray_image(i)
        rows.append((i, w, h, blob))
    df = spark.createDataFrame(rows, "id long, w long, h long, blob binary")
    out = {
        r["id"]: r
        for r in resize_gray8_batches(
            df, "blob", "w", "h", passthrough=["id", "w", "h"]
        ).collect()
    }
    for i, w, h, _ in rows:
        exp = [
            (i + 7 * ((x * w) // 8) + 13 * ((y * h) // 8)) % 256
            for y in range(8)
            for x in range(8)
        ]
        r = out[i]
        assert (r["thumb_w"], r["thumb_h"]) == (8, 8)
        assert list(r["thumb"]) == exp
        assert r["p00"] == exp[0] and r["p_last"] == exp[-1]
        assert r["pixel_sum"] == sum(exp)


def test_gray8_frame_sampling_through_spark(spark):
    """REAL frame sampling on raw gray8 frame streams (numpy strided
    slicing): every-3rd-frame selection verified against a hand model."""
    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        frame_sample_gray8_batches,
        synth_gray_video,
    )

    rows = []
    for i in (0, 7, 123):
        w, h, n, blob = synth_gray_video(i)
        rows.append((i, w, h, n, blob))
    df = spark.createDataFrame(
        [(i, w, h, blob) for i, w, h, _n, blob in rows],
        "id long, w long, h long, blob binary",
    )
    out = {
        r["id"]: r
        for r in frame_sample_gray8_batches(
            df, "blob", "w", "h", every_n=3, passthrough=["id", "w", "h"]
        ).collect()
    }
    for i, w, h, n, _blob in rows:
        kept = list(range(0, n, 3))
        r = out[i]
        assert r["n_frames_in"] == n and r["n_frames_out"] == len(kept)
        assert len(r["sampled"]) == len(kept) * w * h
        frame_sum = lambda k: sum(  # noqa: E731
            (i + 7 * x + 13 * y + 17 * k) % 256 for y in range(h) for x in range(w)
        )
        assert r["first_frame_sum"] == frame_sum(kept[0])
        assert r["last_frame_sum"] == frame_sum(kept[-1])


def test_wav_codec_roundtrip_local():
    """The REAL audio codec: encode arbitrary (non-square-wave) PCM with
    the stdlib writer, decode container + frames back, exact features."""
    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_wav,
        encode_wav_pcm16,
    )

    samples = [0, 100, -200, 300, -32768, 32767, 5]
    blob = encode_wav_pcm16(samples, sample_rate=16000)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
    assert len(blob) == 44 + 2 * len(samples)  # canonical PCM header
    n_ch, rate, n_frames, depth, peak, msq = decode_wav(blob)
    assert (n_ch, rate, n_frames, depth) == (1, 16000, len(samples), 16)
    assert peak == 32768
    assert msq == sum(x * x for x in samples) // len(samples)


def test_wav_codec_through_spark(spark):
    """Encode->sniff->decode through the binary-column pipeline: the
    sniffer sees a real RIFF magic, the decoder real PCM."""
    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        DECODED_AUDIO_SCHEMA,
        decode_wav,
        synth_square_wav,
    )

    rows = [(i, synth_square_wav(i)) for i in (0, 1, 7, 299, 12345)]
    df = spark.createDataFrame(rows, "id long, blob binary")
    meta = with_media_metadata(df, "blob", media_type="audio")
    # RIFF disambiguates on the form type: WAVE payloads sniff as wav
    assert {r["media_meta"]["format"] for r in meta.collect()} == {"wav"}
    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        encode_avi_mjpg,
        encode_jpeg_gray8,
    )

    avi_blob = encode_avi_mjpg(8, 8, [encode_jpeg_gray8(8, 8, bytes(64))])
    sniff_rows = [
        (1, avi_blob, "avi"),
        (2, b"RIFF\x10\x00\x00\x00WEBPVP8 ", "webp"),
        (3, b"RIFF\x10\x00\x00\x00XXXX", "riff"),  # unknown RIFF form
        (4, b"II*\x00rest-of-tiff", "tiff"),
        (5, b"MM\x00*rest-of-tiff", "tiff"),
    ]
    sniff_df = spark.createDataFrame(
        [(i, b) for i, b, _ in sniff_rows], "id long, blob binary"
    )
    got = {
        r["id"]: r["media_meta"]["format"]
        for r in with_media_metadata(sniff_df, "blob", media_type="video").collect()
    }
    assert got == {i: f for i, _, f in sniff_rows}
    out = {
        r["id"]: r
        for r in map_media_batches(
            df, "blob", DECODED_AUDIO_SCHEMA, codec=decode_wav
        ).collect()
    }
    for i in out:
        amp = 1 + (i * 7919) % 32000
        assert out[i]["n_frames"] == 200 + i % 300
        assert out[i]["peak_abs"] == amp
        assert out[i]["mean_square"] == amp * amp
        assert out[i]["sample_rate"] == 8000 and out[i]["bit_depth"] == 16


def test_load_topic_ignore_corrupt(spark, table_base, tmp_path):
    """Opt-in corrupt-file tolerance (reference reader:505-512 parity):
    a garbage file in the table fails the default scan but is skipped
    with ignore_corrupt=True, preserving every healthy row."""
    import os

    healthy = R.load_topic(spark, table_base, "spx_index").count()
    date_dir = next(
        d for d in os.listdir(os.path.join(table_base, "spx_index"))
        if d.startswith("date=")
    )
    bad = os.path.join(table_base, "spx_index", date_dir, "part-corrupt.parquet")
    with open(bad, "wb") as f:
        f.write(b"this is not a parquet file")

    with pytest.raises(Exception):
        R.load_topic(spark, table_base, "spx_index").count()
    assert (
        R.load_topic(spark, table_base, "spx_index", ignore_corrupt=True).count()
        == healthy
    )


def test_png_codec_roundtrip_local():
    """Stdlib PNG encode->decode recovers the exact bitmap across all
    five scanline filter types (the encoder cycles them per row)."""
    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_png,
        decode_png_features,
        encode_png,
        synth_gray_image,
    )

    for seed in (0, 1, 2, 5, 17, 123, 999):
        w, h, px = synth_gray_image(seed)
        blob = encode_png(w, h, px)
        assert blob[:8] == b"\x89PNG\r\n\x1a\n"
        assert decode_png(blob) == (w, h, 1, px)
        assert decode_png_features(blob) == (w, h, 8, 1, px[0], px[-1], sum(px))
    # single-filter path too
    w, h, px = synth_gray_image(7)
    assert decode_png(encode_png(w, h, px, filter_cycle=False))[3] == px


def test_png_decode_rejects_corrupt_blobs():
    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_png,
        encode_png,
        synth_gray_image,
    )

    w, h, px = synth_gray_image(7)
    blob = encode_png(w, h, px)
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png at all")
    bad = bytearray(blob)
    bad[40] ^= 0xFF  # flip a tag byte -> CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        decode_png(blob[:30])


def test_png_decode_corrupt_tolerance_through_spark(spark):
    """One corrupt PNG in a batch degrades one row (on_error='null'),
    not the job — the corpus-scale contract."""
    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        DECODED_PNG_SCHEMA,
        decode_png_features,
        encode_png,
        map_media_batches,
        synth_gray_image,
    )

    rows = []
    for seed in range(4):
        w, h, px = synth_gray_image(seed)
        rows.append((seed, bytearray(encode_png(w, h, px))))
    rows[2] = (2, bytearray(b"\x89PNG\r\n\x1a\nGARBAGE"))
    df = spark.createDataFrame(
        [(i, bytes(b)) for i, b in rows], "doc_id long, blob binary"
    )
    out = map_media_batches(
        df, "blob", DECODED_PNG_SCHEMA, codec=decode_png_features,
        passthrough=["doc_id"], on_error="null",
    )
    got = {r["doc_id"]: r["pixel_sum"] for r in out.collect()}
    assert got[2] is None
    for seed in (0, 1, 3):
        _, _, px = synth_gray_image(seed)
        assert got[seed] == sum(px)


def test_mp4_probe_local_and_corrupt():
    """Box-tree walk returns exact structural facts; malformed trees
    raise ValueError (truncated header, oversized box, missing ftyp)."""
    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        probe_mp4,
        synth_mp4,
    )

    for seed in (0, 3, 42):
        brand, n_top, n_tracks, ts, dur, mdat = probe_mp4(synth_mp4(seed))
        assert (brand, n_top, ts) == ("isom", 3, 1000)
        assert n_tracks == 1 + seed % 3
        assert dur == 1000 + (37 * seed) % 9000
        assert mdat == 64 + seed % 129
    with pytest.raises(ValueError, match="ftyp"):
        probe_mp4(b"garbage!")
    blob = synth_mp4(5)
    with pytest.raises(ValueError, match="truncated|bad box"):
        probe_mp4(blob[:20])
    bad = bytearray(blob)
    bad[0:4] = (999999).to_bytes(4, "big")
    with pytest.raises(ValueError, match="bad box"):
        probe_mp4(bytes(bad))


def test_gif_codec_roundtrip_and_corrupt():
    """Stdlib GIF-LZW encode->decode is the identity (incl. code-width
    growth and the 4096-entry dict reset); malformed blobs raise."""
    import random

    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_gif_gray8,
        encode_gif_gray8,
        synth_gray_image,
    )

    for seed in (0, 7, 123):
        w, h, px = synth_gray_image(seed)
        assert decode_gif_gray8(encode_gif_gray8(w, h, px)) == (w, h, px)
    rng = random.Random(3)
    px = bytes(rng.randrange(256) for _ in range(90 * 77))
    assert decode_gif_gray8(encode_gif_gray8(90, 77, px))[2] == px
    # repetitive image forces the LZW dict past 4096 -> clear/reset path
    big = bytes([9]) * 120_000
    assert decode_gif_gray8(encode_gif_gray8(400, 300, big))[2] == big
    with pytest.raises(ValueError, match="signature"):
        decode_gif_gray8(b"NOTAGIF!")
    blob = encode_gif_gray8(*synth_gray_image(7))
    with pytest.raises(ValueError):
        decode_gif_gray8(blob[:40])


def test_jpeg_probe_local_and_corrupt():
    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        encode_jpeg_skeleton,
        probe_jpeg,
    )

    for w, h in ((16, 16), (24, 39), (33, 17)):
        mcus = ((w + 7) // 8) * ((h + 7) // 8)
        assert probe_jpeg(encode_jpeg_skeleton(w, h)) == (
            w, h, 1, 1, 2, 0, (2 * mcus + 7) // 8,
        )
    with pytest.raises(ValueError, match="SOI"):
        probe_jpeg(b"notjpeg")
    blob = encode_jpeg_skeleton(24, 16)
    with pytest.raises(ValueError, match="EOI"):
        probe_jpeg(blob[:-2])
    with pytest.raises(ValueError):
        probe_jpeg(blob[:15])


def test_jpeg_gray8_roundtrip_bounds():
    """Baseline JPEG codec: deterministic bytes, exact dims, and a
    quantization-bounded reconstruction on smooth content; constant
    blocks reconstruct within 1 level."""
    import numpy as np

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_jpeg_gray8,
        encode_jpeg_gray8,
        probe_jpeg,
    )

    w, h = 29, 18  # non-multiple-of-8 on both axes
    img = bytes(int(40 + 150 * (x + y) / (w + h)) for y in range(h) for x in range(w))
    blob = encode_jpeg_gray8(w, h, img)
    assert blob == encode_jpeg_gray8(w, h, img)  # deterministic
    w2, h2, px = decode_jpeg_gray8(blob)
    assert (w2, h2) == (w, h) and len(px) == w * h
    a = np.frombuffer(img, np.uint8).astype(int)
    b = np.frombuffer(px, np.uint8).astype(int)
    assert np.abs(a - b).max() <= 8

    const = bytes([77]) * (w * h)
    _, _, px3 = decode_jpeg_gray8(encode_jpeg_gray8(w, h, const))
    assert np.abs(np.frombuffer(px3, np.uint8).astype(int) - 77).max() <= 1

    # header interop with the marker-walk probe: dims + 1 component
    probe = probe_jpeg(blob)
    assert probe[0] == w and probe[1] == h and probe[2] == 1


def test_jpeg_gray8_error_paths():
    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_jpeg_gray8,
        encode_jpeg_gray8,
    )

    with pytest.raises(ValueError, match="pixel buffer"):
        encode_jpeg_gray8(4, 4, b"\x00" * 15)
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_gray8(b"not a jpeg")
    blob = encode_jpeg_gray8(8, 8, bytes(range(64)))
    with pytest.raises(ValueError):
        decode_jpeg_gray8(blob[:40])  # truncated mid-segment
    # a sequential scan under a progressive (SOF2) header must be
    # rejected loudly, not mis-decoded
    prog = blob.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="Se=0"):
        decode_jpeg_gray8(prog)


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn support: restart markers byte-align the stream and
    reset the DC predictor every N MCUs; reconstruction must match the
    marker-free encoding of the same image."""
    import numpy as np

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_jpeg_gray8,
        encode_jpeg_gray8,
    )

    w, h = 29, 18
    img = bytes(int(40 + 150 * (x + y) / (w + h)) for y in range(h) for x in range(w))
    base = decode_jpeg_gray8(encode_jpeg_gray8(w, h, img))[2]
    for ri in (1, 2, 5):
        blob = encode_jpeg_gray8(w, h, img, restart_interval=ri)
        assert blob.count(b"\xff\xdd") == 1  # DRI present
        w2, h2, px = decode_jpeg_gray8(blob)
        assert (w2, h2) == (w, h)
        # same quantized coefficients -> identical reconstruction
        assert px == base
    # corrupt: remove one RST -> loud error, not silent garbage
    import pytest

    blob = encode_jpeg_gray8(w, h, img, restart_interval=2)
    broken = blob.replace(b"\xff\xd0", b"", 1)
    with pytest.raises(ValueError):
        decode_jpeg_gray8(broken)


def test_jpeg_restart_extra_entropy_byte_rejected():
    """Extra entropy bytes between an interval's last symbol and its
    RSTn marker are corrupt by spec and must raise — uniformly. Pre-r17
    this depended on whether the final symbol's speculative peek16 had
    prefetched the stray byte (if so it was silently discarded and the
    decode produced garbage); the r17 batched `_fill` guards it
    explicitly in `expect_restart` (nbits >= 8 -> ValueError)."""
    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_jpeg_color,
        decode_jpeg_gray8,
        encode_jpeg_color,
        encode_jpeg_gray8,
        synth_gray_image,
        synth_rgb_image,
    )

    w, h, img = synth_gray_image(7)
    blob = encode_jpeg_gray8(w, h, img, restart_interval=2)
    i = blob.find(b"\xff\xd0")
    assert i > 0
    for ins in (b"\x12", b"\x12\x34", b"\x00" * 3):
        with pytest.raises(ValueError, match="restart"):
            decode_jpeg_gray8(blob[:i] + ins + blob[i:])
    cw, ch, rgb = synth_rgb_image(7)
    cblob = encode_jpeg_color(cw, ch, rgb, restart_interval=3)
    j = cblob.find(b"\xff\xd0")
    assert j > 0
    with pytest.raises(ValueError, match="restart"):
        decode_jpeg_color(cblob[:j] + b"\x12" + cblob[j:])
    # and the guard never fires on the valid stream
    assert decode_jpeg_gray8(blob)[:2] == (w, h)
    assert decode_jpeg_color(cblob)[:2] == (cw, ch)


def test_jpeg_bitreader_prefetch_contracts():
    """The r8 multi-byte prefetch must (a) never consume a raw marker,
    (b) zero-pad peek8 at stream end without raising, and (c) leave
    expect_restart able to read the marker after a peek pulled in the
    pre-marker padding byte."""
    import pytest

    from redpanda_to_parquet_writer_spark.operators.multimodal import _BitReader

    # 0xAB = 10101011, then a restart marker, then 0xFF00 stuffed byte
    r = _BitReader(bytes([0xAB, 0xFF, 0xD0, 0xFF, 0x00, 0xC1]))
    peeked, avail = r.peek8()
    assert (peeked, avail) == (0xAB, 8)
    assert [r.bit() for _ in range(4)] == [1, 0, 1, 0]
    # peek wants 8 bits but only 4 remain before the marker: zero-padded
    peeked, avail = r.peek8()
    assert avail == 4 and peeked == 0b10110000
    r.expect_restart()  # discards the 4 pad bits, consumes FFD0
    # after the restart: the stuffed 0xFF data byte then 0xC1
    assert r.bits(8) == 0xFF
    assert r.bits(8) == 0xC1
    with pytest.raises(ValueError, match="truncated"):
        r.bit()
    # a raw marker mid-entropy still raises on consumption
    r2 = _BitReader(bytes([0xFF, 0xD9]))
    assert r2.peek8() == (0, 0)  # blocked peek never raises
    with pytest.raises(ValueError, match="unexpected marker"):
        r2.bit()


def test_jpeg_progressive_large_image_multichunk_scans():
    """r18 pin: the batched progressive scan I/O (chunked DC-refinement
    bits() reads, whole-scan vectorized point transforms, batched
    refine-scan correction bits) on an image big enough to cross the
    32-block chunk boundary — the bench/query fixtures stay under 16
    blocks, so this is the only coverage of the multi-chunk branch.
    The gate is the codec's own exactness contract: a progressive
    stream carries the sequential encoder's coefficients, so its decode
    must be BITWISE equal to the sequential stream's decode."""
    import random

    from redpanda_to_parquet_writer_spark.operators.multimodal import (
        decode_jpeg_color,
        decode_jpeg_gray8,
        encode_jpeg_color,
        encode_jpeg_color_progressive,
        encode_jpeg_gray8,
        encode_jpeg_gray8_progressive,
    )

    rng = random.Random(1818)
    w, h = 89, 97  # 12x13 = 156 blocks > 32 (several DC-refine chunks)
    px = bytes(rng.randrange(256) for _ in range(w * h))
    prog = encode_jpeg_gray8_progressive(w, h, px)
    seq = encode_jpeg_gray8(w, h, px)
    assert decode_jpeg_gray8(prog) == decode_jpeg_gray8(seq)
    rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
    cprog = encode_jpeg_color_progressive(w, h, rgb)
    cseq = encode_jpeg_color(w, h, rgb)
    assert decode_jpeg_color(cprog) == decode_jpeg_color(cseq)
    # determinism across repeated calls (the r18 table memos must not
    # leak state between encodes/decodes)
    assert encode_jpeg_gray8_progressive(w, h, px) == prog
    assert decode_jpeg_gray8(prog) == decode_jpeg_gray8(prog)
