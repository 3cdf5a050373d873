"""JPEG codec pins: encoder bytes and decoded pixels fixed by sha256, the
Huffman table memo's sharing and eviction contract, and the frame-size
guard of the frame reader.

The digests were computed with the six-decoder codec that preceded the
single frame reader/writer (rev fd358e7); any change to the emitted
bytes or the reconstructed pixels of these streams fails here."""

from __future__ import annotations

import hashlib

import pytest

from redpanda_to_parquet_writer_spark.operators import multimodal as M

#: (seed, variant) -> (sha256 of the encoded stream, sha256 of its decode)
PINNED = {
    (3, "gray"): (
        "39553e2c6151510e22d10a03adbede55e10c67e4b7c4617cbb89ceba2f7f5305",
        "a95e96f5a0341261fe966ca8e29f22d81e112e2204290f7095d93ca08042215d",
    ),
    (3, "gray_ri2"): (
        "a9e16bf888090ed07f3a78eb6c4710117dcc549674a97158160fd4609734888c",
        "a95e96f5a0341261fe966ca8e29f22d81e112e2204290f7095d93ca08042215d",
    ),
    (3, "gray_progressive"): (
        "0095a3f8d195d261d66759c71330ed7bd27c8253c2b1194068a4cb7bb862d9a9",
        "a95e96f5a0341261fe966ca8e29f22d81e112e2204290f7095d93ca08042215d",
    ),
    (3, "color_420"): (
        "574bb038fbe72cedb9f8a2c469a7998063035d679c9b8e251a0f425a191cee51",
        "97811071287a1c1b9f8066605e4ade5ceaec10d31a91a24fa604dda8d6081e3d",
    ),
    (3, "color_420_progressive"): (
        "006cdf42972ac718785a7096b2a5d2976fea72dd3d48e77a7ab62d72255c8bc0",
        "97811071287a1c1b9f8066605e4ade5ceaec10d31a91a24fa604dda8d6081e3d",
    ),
    (3, "color_422"): (
        "74825c8d1c4935911d49fdb2aaccabe575efc62c3596d876e9f6ae5aaad6fea7",
        "2124f0566d9156fe404c9cc64b90739580716e759abbe6ac0dfe2fd32816a061",
    ),
    (3, "color_422_progressive"): (
        "945acf14e3198ea61da8da53fa933dae61cdb6d6e3535450e0c6a06e9c221f6f",
        "2124f0566d9156fe404c9cc64b90739580716e759abbe6ac0dfe2fd32816a061",
    ),
    (3, "color_444"): (
        "16f7991c0eb174b81dd850772488d16c35682214998d9a76fb6ed3376b9a5f26",
        "3876b9bbf878e313c0379e2682a3b1fa466c6c9d37f329bbdec6f5f6e9daf79b",
    ),
    (3, "color_444_progressive"): (
        "84aaa7d7665542911264c4ed19c78c63a50d684792ff25443b2d89422f81f22e",
        "3876b9bbf878e313c0379e2682a3b1fa466c6c9d37f329bbdec6f5f6e9daf79b",
    ),
    (17, "gray"): (
        "ae2022efac07e4e9638685129e2e90d2c4d84f011feeda894dc756f317542fb6",
        "78e62ec1627be4134fbb49720e8ae1595340fc803b880ae86d04b3cfbff80b2f",
    ),
    (17, "gray_ri2"): (
        "7c5e5c1dcf91f544a2df89f58a6da1899ae5d3ae594b2412ed675484ffa3ba18",
        "78e62ec1627be4134fbb49720e8ae1595340fc803b880ae86d04b3cfbff80b2f",
    ),
    (17, "gray_progressive"): (
        "3ac94efd60407b17b851f26a57f679ef1fc746dfeea42087864fbef817349ebe",
        "78e62ec1627be4134fbb49720e8ae1595340fc803b880ae86d04b3cfbff80b2f",
    ),
    (17, "color_420"): (
        "3a771a065a49ab760fea1cb21cb55af4d6aaecf767072f9dbe944fe5f685c08d",
        "6959a79f43ed9ec9d554356f9838009abec03bbc028ad86cbe1112b9d6d8ced1",
    ),
    (17, "color_420_progressive"): (
        "bfa98fbc7ef9ed20634867fb5d47f26ef33c85659cf86e386f4739c0369c6b91",
        "6959a79f43ed9ec9d554356f9838009abec03bbc028ad86cbe1112b9d6d8ced1",
    ),
    (17, "color_422"): (
        "9645bb7c6ef4f413d48a8fe732662e653d78c74c145dc6b858c8f2701551ba92",
        "4c1e8b9e7ed8b28e7b5ab7eb05a59843af441a7317ec75d0da456c1c38bb2980",
    ),
    (17, "color_422_progressive"): (
        "7d574f6cad95b6e0ae72dec94400f3510dd992cc286e2d34161dfcb65f55105d",
        "4c1e8b9e7ed8b28e7b5ab7eb05a59843af441a7317ec75d0da456c1c38bb2980",
    ),
    (17, "color_444"): (
        "ec8356b9d687a402287acedc9e7beede28372a0f8f90476c7476a3843220db90",
        "2fa366203f8ce21bb3aedeccec157bcd3d9b200b4ff11721da96d672b4f726f4",
    ),
    (17, "color_444_progressive"): (
        "04463b811ac1ef71a9662818ff5cee0c276b18f64588fce929c35721071bc209",
        "2fa366203f8ce21bb3aedeccec157bcd3d9b200b4ff11721da96d672b4f726f4",
    ),
    (40, "gray"): (
        "3e25a023ef2c3989a23c437fda6160eac10e810be11d8f11e3cddefa58563fcd",
        "c6bc074394f6a26129522d50f72079e15d953f7c4e228703bc4f0caf596a3bb1",
    ),
    (40, "gray_ri2"): (
        "843b9d78a42a67c1b5d988584ce23d3b2d0a2ae3192d764c6da98b319f0e5445",
        "c6bc074394f6a26129522d50f72079e15d953f7c4e228703bc4f0caf596a3bb1",
    ),
    (40, "gray_progressive"): (
        "31e6addc7b99a8062c006d4b6c4532f84cccf75a1ca9d0c206f2e99d7a297be8",
        "c6bc074394f6a26129522d50f72079e15d953f7c4e228703bc4f0caf596a3bb1",
    ),
    (40, "color_420"): (
        "19d67fbb98944d4eab8688519a3882e52b93a44e19bd29ab3cc6c8947b4b6ae0",
        "1b1a36c8e65552815a9f570bdf9c6a98960e83f5668e861f9651554cc981e6e7",
    ),
    (40, "color_420_progressive"): (
        "29967f3fa9f3ee3855758dc57e9e8180b2e9a209bd0749bb4d1a661992da22d8",
        "1b1a36c8e65552815a9f570bdf9c6a98960e83f5668e861f9651554cc981e6e7",
    ),
    (40, "color_422"): (
        "fca679b09406480eaa7845ee606f59b69a4cd6746f29d1fb021e89dbd6634d5c",
        "8800e78d6d6e8761284afbbf606cf770987795c0c466aca4153a61be8af35ccf",
    ),
    (40, "color_422_progressive"): (
        "fab435e5551b3fd27de43290026068cbe724fffe6a28d39a13f793c678cc0c91",
        "8800e78d6d6e8761284afbbf606cf770987795c0c466aca4153a61be8af35ccf",
    ),
    (40, "color_444"): (
        "c3894b1c9aefe4806a00ec4b98004f6db605aa513f790280170643c4165d3dbf",
        "9b07d73cc5d1187ebd11e4e78f2045d71782498c58cfd84de7757e8fecd397a9",
    ),
    (40, "color_444_progressive"): (
        "96200a100b871db6869545ce88a702299b32bb427a28f4c28485361448dec0ab",
        "9b07d73cc5d1187ebd11e4e78f2045d71782498c58cfd84de7757e8fecd397a9",
    ),
}


def _encode(seed: int, variant: str) -> bytes:
    if variant.startswith("gray"):
        w, h, px = M.synth_gray_image(seed)
        if variant == "gray_progressive":
            return M.encode_jpeg_gray8_progressive(w, h, px)
        return M.encode_jpeg_gray8(w, h, px, restart_interval=2 if variant == "gray_ri2" else 0)
    w, h, rgb = M.synth_rgb_image(seed)
    sub = variant.split("_")[1]
    if variant.endswith("_progressive"):
        return M.encode_jpeg_color_progressive(w, h, rgb, subsample=sub)
    return M.encode_jpeg_color(w, h, rgb, subsample=sub)


def test_jpeg_encoder_bytes_and_decodes_are_pinned():
    for (seed, variant), (enc_digest, dec_digest) in PINNED.items():
        blob = _encode(seed, variant)
        decode = M.decode_jpeg_gray8 if variant.startswith("gray") else M.decode_jpeg_color
        assert hashlib.sha256(blob).hexdigest() == enc_digest, (seed, variant)
        assert hashlib.sha256(decode(blob)[2]).hexdigest() == dec_digest, (seed, variant)


def test_huffman_memo_is_read_only_and_evicts_one_entry_at_a_time():
    M._huff_tables.cache_clear()  # a pure memo: counts start from empty
    annex_k = (bytes(M._AC_BITS), bytes(M._AC_VALUES))
    codes, lut = M._huff_tables(*annex_k)
    with pytest.raises(TypeError):
        codes[0x00] = (1, 0)
    with pytest.raises(TypeError):
        lut.table[(1, 0)] = 0
    with pytest.raises(TypeError):
        lut.lut[0] = 0
    with pytest.raises(AttributeError):
        lut.lut = ()
    # 65 distinct novel specs, with the hot Annex K table used between
    # them as a decode loop would: it must never be evicted
    misses = M._huff_tables.cache_info().misses
    for n in range(65):
        M._huff_tables(bytes([1] + [0] * 15), bytes([n]))
        assert M._huff_tables(*annex_k)[0] is codes
    assert M._huff_tables.cache_info().misses == misses + 65


def test_frame_larger_than_its_stream_is_rejected_before_allocating():
    """Every block costs at least one entropy bit, so a header claiming
    more blocks than 8x the stream's bytes is malformed: it must raise
    at once instead of allocating the claimed coefficient grid."""
    w, h, px = M.synth_gray_image(5)
    w2, h2, rgb = M.synth_rgb_image(5)
    streams = [
        (M.decode_jpeg_gray8, M.encode_jpeg_gray8(w, h, px)),
        (M.decode_jpeg_gray8, M.encode_jpeg_gray8_progressive(w, h, px)),
        (M.decode_jpeg_color, M.encode_jpeg_color(w2, h2, rgb)),
        (M.decode_jpeg_color, M.encode_jpeg_color_progressive(w2, h2, rgb)),
    ]
    for decode, blob in streams:
        sof = max(blob.find(b"\xff\xc0"), blob.find(b"\xff\xc2"))
        huge = blob[: sof + 5] + b"\xff\xff\xff\xff" + blob[sof + 9 :]
        with pytest.raises(ValueError, match="exceed"):
            decode(huge)
