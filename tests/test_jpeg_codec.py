"""Image codec pins: JPEG, PNG and GIF encoder bytes and decoded pixels
fixed by sha256, the canonical prefix-code builder that JPEG and VP8L
share, the Huffman table memo's sharing and eviction contract, the
frame-size guard of the JPEG frame reader, the size caps that stop PNG
and GIF decoders from expanding a blob past its header, and the VP8L
canvas limit.

The JPEG digests were computed with the six-decoder codec that preceded
the single frame reader/writer (rev fd358e7), the PNG and GIF ones with
the per-color-type PNG entry points that preceded `encode_png` /
`decode_png` (rev cc4c36c); any change to the emitted bytes or the
reconstructed pixels of these streams fails here."""

from __future__ import annotations

import hashlib
import struct
import time
import tracemalloc
import zlib

import numpy as np
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
    # PNG variants: png_<pixels>[_nocycle][_adam7] (filter_cycle off, interlace on)
    (3, "png_gray"): (
        "dc65453aaf7f881acb287878f80bad9abd6647beb95bcc2e031931cb112ec8fa",
        "22999f513706265b5a8f24b1125b54941492da7d029603e78721e536e2e06220",
    ),
    (3, "png_gray_adam7"): (
        "158b363ba6ce6dbbae82269f87febd0d8b5d554fba41e689790e36891d6dbe29",
        "22999f513706265b5a8f24b1125b54941492da7d029603e78721e536e2e06220",
    ),
    (3, "png_gray_nocycle"): (
        "25fee6b60c8bbf71b02827fd5f86e408d265f3a9ba3c13fba8daaa1af3269e3a",
        "22999f513706265b5a8f24b1125b54941492da7d029603e78721e536e2e06220",
    ),
    (3, "png_gray_nocycle_adam7"): (
        "9d86949dba833266114535e23e23325e560a1c10f5ac17c9521da617f80b2df1",
        "22999f513706265b5a8f24b1125b54941492da7d029603e78721e536e2e06220",
    ),
    (3, "png_rgb"): (
        "e9b964bf191a9d8236bf294ffb2f2d8880ccaed02d3a32d1f4c39b9b327082c1",
        "5414584245b127e104faefc68927b82275eb1c52325cc873081843798abc2161",
    ),
    (3, "png_rgb_adam7"): (
        "dc725a803580a5924d24df3b832f849b65113be03da4a47f999f231df729317b",
        "5414584245b127e104faefc68927b82275eb1c52325cc873081843798abc2161",
    ),
    (3, "png_rgb_nocycle"): (
        "fc8e258d022cd7a788dbfa3b05f1e00d305798a5294c5ab8aa70deb7621d4f27",
        "5414584245b127e104faefc68927b82275eb1c52325cc873081843798abc2161",
    ),
    (3, "png_rgb_nocycle_adam7"): (
        "a6de80bd3d3dc4bf756f8a8d6ea1bf5e050d05f791c1e6dcef421b8f92a2ac53",
        "5414584245b127e104faefc68927b82275eb1c52325cc873081843798abc2161",
    ),
    (3, "png_rgba"): (
        "9fbee9b1c877495bbf8f62ff1fb4dd951b3ecd1aaacf27c78e37fcea360581c7",
        "6e5f8f9a6d6c6f55587f78a785df279d09dad3a019c9f00a6f9148b12f9b443f",
    ),
    (3, "png_rgba_adam7"): (
        "c17687837e041489a2603956bcb941e626db0391f32823ec1a736d93cd8ee18a",
        "6e5f8f9a6d6c6f55587f78a785df279d09dad3a019c9f00a6f9148b12f9b443f",
    ),
    (3, "png_rgba_nocycle"): (
        "53b20c7d132351767b474d34d51066ed6944bf8ea9a017244ea63f6a05293739",
        "6e5f8f9a6d6c6f55587f78a785df279d09dad3a019c9f00a6f9148b12f9b443f",
    ),
    (3, "png_rgba_nocycle_adam7"): (
        "dce443c4e78962ab087dba621318137f5c3d068e6bec2421129c49cea2b6c719",
        "6e5f8f9a6d6c6f55587f78a785df279d09dad3a019c9f00a6f9148b12f9b443f",
    ),
    (3, "png_palette"): (
        "74de1067d7b7d6f70f0bdd74c593ffdc9055914d206f218bcafbadda0e9fe5f4",
        "aed2e88a13f73dbeae300c582763f6eb3f924bc4780e38b3d00cb2559376a39e",
    ),
    (3, "png_palette_adam7"): (
        "4efedef2bf5d33792ba5c9a4961eca4fc021b8ac565a6eef52a606d79739dd70",
        "aed2e88a13f73dbeae300c582763f6eb3f924bc4780e38b3d00cb2559376a39e",
    ),
    (3, "png_palette_nocycle"): (
        "ccb10f74f97a5303f60bcba5f004e13df6a7a8bacbe0aba3bc6588e06ebfcc62",
        "aed2e88a13f73dbeae300c582763f6eb3f924bc4780e38b3d00cb2559376a39e",
    ),
    (3, "png_palette_nocycle_adam7"): (
        "10049e9c1820a7e36ecc34465a02d21aa67328793c2991882329eebd0f1b2d48",
        "aed2e88a13f73dbeae300c582763f6eb3f924bc4780e38b3d00cb2559376a39e",
    ),
    (3, "gif_gray"): (
        "5f8cebb5062af881651efc24d218ca00b381f5ee8fc8cbc49bdc15331d1e3d38",
        "22999f513706265b5a8f24b1125b54941492da7d029603e78721e536e2e06220",
    ),
    (17, "png_gray"): (
        "29277e7edbf827cc81270569a8a3108246a099c698466d99fee5e359cced3ce5",
        "0825286725cb4160167046666df4cb70f2fe4990e36ee673340aa7933bc0d390",
    ),
    (17, "png_gray_adam7"): (
        "ccadb3a7b686ec5c1e6e0a2935eb0e9e02fbc316965d065e14421bc2f7175046",
        "0825286725cb4160167046666df4cb70f2fe4990e36ee673340aa7933bc0d390",
    ),
    (17, "png_gray_nocycle"): (
        "97b50cef4cf43a835447b3f829dfa91d87746b2f3d8ff252c620a19005f01bc1",
        "0825286725cb4160167046666df4cb70f2fe4990e36ee673340aa7933bc0d390",
    ),
    (17, "png_gray_nocycle_adam7"): (
        "1b6cf0c69752a78bb7a806a364cc4a88244c325b563b47f86666e815534689d6",
        "0825286725cb4160167046666df4cb70f2fe4990e36ee673340aa7933bc0d390",
    ),
    (17, "png_rgb"): (
        "c4928ba4b19479b49d33832d4c7b9fc93c513e1d8c162cca42d2173458b51165",
        "591e2bf358cf6d73dfacb8865aaa0c71f2cd6490d74361562ded371ae41cd718",
    ),
    (17, "png_rgb_adam7"): (
        "c246e83d57017568dfc91b46134a203847193dfea0e281dddd7ee67ce61b68d3",
        "591e2bf358cf6d73dfacb8865aaa0c71f2cd6490d74361562ded371ae41cd718",
    ),
    (17, "png_rgb_nocycle"): (
        "7b556c6707d2f2010e698727617be50e032a74b34820f06ae31b0fef89aab006",
        "591e2bf358cf6d73dfacb8865aaa0c71f2cd6490d74361562ded371ae41cd718",
    ),
    (17, "png_rgb_nocycle_adam7"): (
        "8275f757bb4b2e5875c554082ba81f83fec2379d67b791566e0b3764b8243885",
        "591e2bf358cf6d73dfacb8865aaa0c71f2cd6490d74361562ded371ae41cd718",
    ),
    (17, "png_rgba"): (
        "69a2c1d08f55ec59d4c787cf44e7818c6d6be5c2156dc82b657e14fd49988201",
        "1e4731b51ed00092012f0f7dcc04a1660985f40742c618be66c4cf927034925d",
    ),
    (17, "png_rgba_adam7"): (
        "6205b1bd731c5ad42aec8ec3f5f1792152e0cabc942d74bb3f3460efbf96578f",
        "1e4731b51ed00092012f0f7dcc04a1660985f40742c618be66c4cf927034925d",
    ),
    (17, "png_rgba_nocycle"): (
        "75739019972e335bdddf062d222f2f592c76eb5ca853e0829bf54708b230784c",
        "1e4731b51ed00092012f0f7dcc04a1660985f40742c618be66c4cf927034925d",
    ),
    (17, "png_rgba_nocycle_adam7"): (
        "6750f58b18dd82ee675dde3c0e97adabd17a0e9fdd8c95ab8ce19df084e14288",
        "1e4731b51ed00092012f0f7dcc04a1660985f40742c618be66c4cf927034925d",
    ),
    (17, "png_palette"): (
        "cad4bd1ddb9ab1e658638e9416171ef398c52486a0ccad8a0d6f348bc1f42792",
        "97ae340d171eefb2b9d9469342d0488877d94069bc24841f1cf59fb8dd98bfbb",
    ),
    (17, "png_palette_adam7"): (
        "825cf21ae7c612b0bd4dde7689785a5b1ac5f1952be7add2adc8930b1f389b13",
        "97ae340d171eefb2b9d9469342d0488877d94069bc24841f1cf59fb8dd98bfbb",
    ),
    (17, "png_palette_nocycle"): (
        "0d265cd2226a6324c49354feb9d629e1600f7434bbcd98f255774a9c672c8a2c",
        "97ae340d171eefb2b9d9469342d0488877d94069bc24841f1cf59fb8dd98bfbb",
    ),
    (17, "png_palette_nocycle_adam7"): (
        "96b8198db3a3eaa589750fa879c9da676bfa6998341eb04257582a5a719da09d",
        "97ae340d171eefb2b9d9469342d0488877d94069bc24841f1cf59fb8dd98bfbb",
    ),
    (17, "gif_gray"): (
        "18eb800474b4690bd38672f0cb745a848559604060d0dee9dfee9fe3569ecdc5",
        "0825286725cb4160167046666df4cb70f2fe4990e36ee673340aa7933bc0d390",
    ),
}


def _rgba(seed: int) -> tuple[int, int, bytes]:
    """RGBA8 bitmap: synth_rgb_image's channels plus synth_gray_image as alpha."""
    w, h, rgb = M.synth_rgb_image(seed)
    alpha = np.frombuffer(M.synth_gray_image(seed)[2], np.uint8).reshape(-1, 1)
    rgb = np.frombuffer(rgb, np.uint8).reshape(-1, 3)
    return w, h, np.concatenate([rgb, alpha], axis=1).tobytes()


def _encode(seed: int, variant: str) -> bytes:
    if variant == "gif_gray":
        return M.encode_gif_gray8(*M.synth_gray_image(seed))
    if variant.startswith("png_"):
        opts = {"filter_cycle": "_nocycle" not in variant, "interlace": "_adam7" in variant}
        kind = variant.split("_")[1]
        if kind == "palette":
            w, h, idx, pal, trns = M.synth_palette_image(seed)
            return M.encode_png(w, h, idx, palette=pal, trns=trns, **opts)
        synth = {"gray": M.synth_gray_image, "rgb": M.synth_rgb_image, "rgba": _rgba}[kind]
        return M.encode_png(*synth(seed), **opts)
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


def _decoded_pixels(variant: str, blob: bytes) -> bytes:
    if variant.startswith("png_"):
        return M.decode_png(blob)[3]
    if variant == "gif_gray":
        return M.decode_gif_gray8(blob)[2]
    decode = M.decode_jpeg_gray8 if variant.startswith("gray") else M.decode_jpeg_color
    return decode(blob)[2]


def test_encoder_bytes_and_decodes_are_pinned():
    for (seed, variant), (enc_digest, dec_digest) in PINNED.items():
        blob = _encode(seed, variant)
        pixels = _decoded_pixels(variant, blob)
        assert hashlib.sha256(blob).hexdigest() == enc_digest, (seed, variant)
        assert hashlib.sha256(pixels).hexdigest() == dec_digest, (seed, variant)


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


def test_canonical_codes_follow_rfc1951_and_t81_table_k3():
    # RFC 1951 section 3.2.2: lengths (3,3,3,3,3,2,4,4) for symbols A..H
    codes = M._canonical_codes(range(8), [3, 3, 3, 3, 3, 2, 4, 4])
    bits = [format(code, f"0{ln}b") for ln, code in (codes[s] for s in range(8))]
    assert bits == ["010", "011", "100", "101", "110", "00", "1110", "1111"]
    # T.81 Table K.3: the luminance DC differences, categories 0..11
    dc = M._huff_tables(bytes(M._DC_BITS), bytes(M._DC_VALUES))[0]
    assert [format(code, f"0{ln}b") for ln, code in dc[:12]] == [
        "00", "010", "011", "100", "101", "110", "1110", "11110",
        "111110", "1111110", "11111110", "111111110",
    ]
    assert dc[12:] == (None,) * 244


def test_over_subscribed_dht_is_rejected():
    """128 seven-bit codes fill the whole code space, so one more code of
    any length is over-subscribed: the table is rejected even when no
    scan uses it."""
    bits = bytes([0] * 6 + [128, 0, 1] + [0] * 7)
    values = bytes(range(129))
    with pytest.raises(ValueError, match="over-subscribed"):
        M._huff_tables(bits, values)
    blob = M.encode_jpeg_gray8(16, 16, bytes(range(256)))
    dht = b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + 129) + b"\x01" + bits + values
    assert M.decode_jpeg_gray8(blob)[:2] == (16, 16)
    with pytest.raises(ValueError, match="over-subscribed"):
        M.decode_jpeg_gray8(blob[:2] + dht + blob[2:])


def test_vp8l_canvas_past_the_pixel_limit_is_rejected_at_once():
    """A 28-byte WebP declaring a 16384x16384 canvas whose five prefix
    codes each have one symbol, so every literal pixel reads zero bits:
    the header alone is rejected, before any pixel is decoded."""
    w = M._LsbBitWriter()
    for value, n in ((0x2F, 8), (16383, 14), (16383, 14), (0, 1), (0, 3)):
        w.put(value, n)  # signature, width-1, height-1, alpha hint, version
    w.put(0, 3)  # no transform, no color cache, no meta-prefix groups
    for _code in range(5):
        w.put(0b0001, 4)  # simple code, one 1-bit symbol: 0
    payload = w.flush()
    blob = (
        b"RIFF" + struct.pack("<I", 12 + len(payload)) + b"WEBP"
        + b"VP8L" + struct.pack("<I", len(payload)) + payload
    )
    assert len(blob) == 28
    assert M.probe_webp(blob) == (16384, 16384, "VP8L", 8)
    start = time.perf_counter()
    with pytest.raises(ValueError, match="exceeds"):
        M.decode_webp_lossless(blob)
    assert time.perf_counter() - start < 1.0


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


def _png_bomb() -> bytes:
    """A 16x16 gray PNG whose IDAT inflates to 64 MiB (about 65 KB)."""
    deflate = zlib.compressobj(9)
    zeros = bytes(1 << 20)
    idat = b"".join(deflate.compress(zeros) for _ in range(64)) + deflate.flush()

    def chunk(tag: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 0, 0, 0, 0)
    return M.PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def _gif_bomb() -> bytes:
    """A 1x1 GIF whose LZW codes expand to about 15 MB (about 11 KB): each
    table-filling run emits codes 258..4095, each one the previous entry
    plus its first byte, then a clear code."""
    out, acc, n_bits = bytearray(), 0, 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, n_bits
        acc |= code << n_bits
        n_bits += width
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8

    emit(256, 9)
    for _run in range(2):
        width = 9
        emit(0, width)
        for code in range(258, 4096):
            emit(code, width)
            if code + 1 == 1 << width and width < 12:
                width += 1
        emit(256, width)
    emit(257, 9)
    if n_bits:
        out.append(acc & 0xFF)
    gif = bytearray(b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0xF7, 0, 0))
    gif += bytes(b for i in range(256) for b in (i, i, i))
    gif += b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0) + b"\x08"
    for i in range(0, len(out), 255):
        gif += bytes([len(out[i : i + 255])]) + out[i : i + 255]
    return bytes(gif + b"\x00\x3b")


def test_oversized_streams_are_rejected_before_they_expand():
    """A blob whose payload expands far past the size its header claims
    is rejected while the decode is still small: the PNG inflate stops
    one byte past the IHDR size, and GIF-LZW stops once it passes w*h."""
    for decode, blob in ((M.decode_png, _png_bomb()), (M.decode_gif_gray8, _gif_bomb())):
        tracemalloc.start()
        try:
            with pytest.raises(ValueError, match="mismatch"):
                decode(blob)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 8 << 20, (decode.__name__, len(blob), peak)
