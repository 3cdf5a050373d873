"""Multimodal (binary) column operators.

Training-data pipelines carry image/audio/video as opaque `binary`
columns with typed metadata. This module provides the real Spark
plumbing — schemas, partition-preserving `mapInPandas` stages with bounded
Arrow batch sizes, deterministic metadata extraction — plus REAL
library-free codecs/probes for every major container, all oracle-gated
in plans/multimodal_queries.py:

  - WAV: full codec (stdlib `wave`, container + 16-bit PCM)
  - PNG: one encoder and one decoder (`zlib`+`struct`: chunk walk, CRC
    check, inflate, all five scanline filters, Adam7) for gray8,
    truecolor RGB8, paletted and RGBA8
  - GIF: gray8 codec (variable-width GIF-LZW, grayscale palette)
  - mp4: box-tree structure probe (brand, mvhd, tracks, mdat)
  - JPEG: marker-stream probe (SOF dims/components, table counts, scan
    accounting) and a full codec on one frame-and-scan model (numpy
    8x8 DCT, Annex K tables, canonical Huffman): one frame writer
    behind the gray/color x baseline/progressive encoders
    (`encode_jpeg_gray8[_progressive]`, `encode_jpeg_color[_progressive]`:
    JFIF YCbCr, 4:2:0/4:2:2/4:4:4 chroma, restart intervals, spectral
    selection + successive approximation) and one frame reader behind
    the two decoders, `decode_jpeg_gray8` (1 component) and
    `decode_jpeg_color` (3 components), each taking SOF0 and SOF2
  - TIFF, WebP lossless (VP8L) and AVI/MJPEG: codecs, probes and
    frame samplers on top of the above

Each codec decision has one implementation. JPEG and VP8L build their
prefix codes with one canonical-code builder (`_canonical_codes`) and
decode them through one read-only table type (`_PrefixTable`, its bit
order fixed when it is built); their bit readers, writers and symbol
loops stay per format, because JPEG reads MSB-first with 0xFF00 stuffing
and markers and VP8L LSB-first with neither. WebP and AVI walk RIFF
chunks with `_walk_riff`, TIFF's probe and decoder share one IFD walk
(`_tiff_ifd0`), and every Arrow stage is a row function over
`_map_rows`.

Compressed video frames (H.264 etc.) genuinely need a codec library
and are out of scope; `map_media_batches` takes any injected codec.
The pipeline shape (what runs where, batch sizes, schema contracts) is
real and tested for every media type.

Scale notes: media blobs make rows huge — the mapInPandas stages are
narrow (no shuffle), and `maxRecordsPerBatch` should be lowered so an
Arrow batch of blobs fits executor memory; byte-level metadata extraction
is pure column expressions and never leaves the JVM.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from types import MappingProxyType

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: metadata schema attached to every media column
MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_type", StringType()),  # image/audio/video
        StructField("format", StringType()),  # sniffed container format
        StructField("n_bytes", LongType()),
        StructField("content_hash", StringType()),
    ]
)

def _malformed_raises_value_error(fn: Callable) -> Callable:
    """Decorator enforcing the codec contract: ANY malformed-input
    failure surfaces as ValueError. The parsers index and struct-unpack
    at offsets derived from untrusted bytes; a truncated blob can
    surface as struct.error or IndexError deep inside — callers pairing
    with `except ValueError` (per the docstrings) must not crash on
    those."""
    import functools
    import struct as _struct
    import wave as _wave
    import zlib as _zlib

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except (
            _struct.error,
            IndexError,
            KeyError,  # table lookups keyed by untrusted bytes (e.g. a
            # JPEG scan referencing a Huffman/quant table id that no DHT/
            # DQT defined)
            _zlib.error,
            _wave.Error,  # stdlib wave's container errors
            EOFError,  # wave/chunk input exhaustion
        ) as exc:
            raise ValueError(f"malformed input: {exc}") from exc

    return wrapped


# magic-byte prefixes for driver-free format sniffing (pure JVM exprs)
_MAGIC = {
    "jpeg": "ffd8ff",
    "png": "89504e47",
    "gif": "47494638",
    "riff": "52494646",  # wav/avi (disambiguated on the form type)
    "mp4": "66747970",  # at offset 4; checked separately
}


def sniff_format(binary_col: F.Column) -> F.Column:
    """Container-format sniff from magic bytes — hex prefix comparison,
    entirely JVM-side (no UDF). RIFF containers disambiguate on the
    form-type fourcc at offset 8: 'WAVE' -> wav, 'AVI ' -> avi,
    'WEBP' -> webp; any other RIFF form stays the generic 'riff'.
    TIFF matches either byte order ('II*\\0' / 'MM\\0*')."""
    prefix = F.lower(F.hex(F.substring(binary_col, 1, 4)))
    form = F.lower(F.hex(F.substring(binary_col, 9, 4)))
    mp4_marker = F.lower(F.hex(F.substring(binary_col, 5, 4)))
    riff = prefix.startswith(_MAGIC["riff"])
    return (
        F.when(prefix.startswith(_MAGIC["jpeg"]), F.lit("jpeg"))
        .when(prefix.startswith(_MAGIC["png"]), F.lit("png"))
        .when(prefix.startswith(_MAGIC["gif"]), F.lit("gif"))
        .when(riff & (form == "57415645"), F.lit("wav"))  # 'WAVE'
        .when(riff & (form == "41564920"), F.lit("avi"))  # 'AVI '
        .when(riff & (form == "57454250"), F.lit("webp"))  # 'WEBP'
        .when(riff, F.lit("riff"))
        .when(prefix.isin("49492a00", "4d4d002a"), F.lit("tiff"))
        .when(mp4_marker == _MAGIC["mp4"], F.lit("mp4"))
        .otherwise(F.lit("unknown"))
    )


def with_media_metadata(
    df: DataFrame, binary_col: str, media_type: str = "image", out: str = "media_meta"
) -> DataFrame:
    """Attach the typed metadata struct to a binary column.

    Pure column expressions (length, md5, magic sniff) — codegen'd, no
    Python, safe at any scale."""
    b = F.col(binary_col)
    return df.withColumn(
        out,
        F.struct(
            F.lit(media_type).alias("media_type"),
            sniff_format(b).alias("format"),
            F.length(b).cast("long").alias("n_bytes"),
            F.md5(b).alias("content_hash"),
        ),
    )


DECODED_IMAGE_SCHEMA = StructType(
    [
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
    ]
)


def _map_rows(
    df: DataFrame,
    in_cols: list[str],
    out_schema: StructType,
    row: Callable,
    passthrough: list[str] | None,
) -> DataFrame:
    """The Arrow-batched row stage behind every media transform:
    `row(*values of in_cols) -> tuple` fills one row of `out_schema`;
    passthrough columns (default: every column not in `in_cols`) are
    carried unchanged. One `mapInPandas` over pandas DataFrames whose
    binary columns hold Python bytes; partition-preserving, no
    shuffle."""
    passthrough = passthrough or [c for c in df.columns if c not in in_cols]
    result_schema = StructType(
        [f for f in df.schema.fields if f.name in passthrough] + list(out_schema.fields)
    )
    out_names = [f.name for f in out_schema.fields]

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            rows = [row(*values) for values in zip(*(pdf[c] for c in in_cols))]
            out = pdf[passthrough].copy()
            for i, name in enumerate(out_names):
                out[name] = [r[i] for r in rows]
            yield out

    return df.mapInPandas(run, result_schema)


def map_media_batches(
    df: DataFrame,
    binary_col: str,
    out_schema: StructType,
    codec: Callable,
    passthrough: list[str] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """Arrow-batched media transform: the mapInPandas plumbing.

    `codec(bytes) -> tuple` fills one row of `out_schema` (any decoder
    or probe of this module, or an injected library codec). Batch
    shape: pandas DataFrames with the binary column as Python bytes;
    passthrough columns are carried unchanged. Partition-preserving —
    no shuffle.

    `on_error`: "raise" fails the job on the first undecodable blob (the
    default — silent data loss must be opted into); "null" emits NULLs
    for that row's decoded fields so one corrupt blob in a 100 TB corpus
    degrades one row, not the job (the media analogue of the reader's
    opt-in corrupt-file tolerance).
    """
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    nulls = (None,) * len(out_schema.fields)

    def decode_one(b):
        if on_error == "raise":
            return codec(b)
        try:
            return codec(b)
        except Exception:  # noqa: BLE001 — opt-in per-row degradation
            return nulls

    return _map_rows(df, [binary_col], out_schema, decode_one, passthrough)


def _tiff_ifd0(data: bytes) -> tuple[str, int, list[tuple[int, int, int, int]]]:
    """Parse the byte-order header and walk IFD0: returns the struct
    byte-order prefix, the entry count, and (tag, type, count, value
    offset) for each SHORT (3) or LONG (4) entry in IFD order. Values
    wider than 4 bytes live at the offset the entry holds, so that is the
    value offset; callers bound-check the values they read."""
    import struct as _s

    if len(data) < 8:
        raise ValueError("truncated TIFF header")
    if data[:2] == b"II":
        end = "<"
    elif data[:2] == b"MM":
        end = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    magic, ifd_off = _s.unpack_from(f"{end}HI", data, 2)
    if magic != 42:
        raise ValueError("not a TIFF (bad magic)")
    if ifd_off + 2 > len(data):
        raise ValueError("IFD offset past end of data")
    (n,) = _s.unpack_from(f"{end}H", data, ifd_off)
    if ifd_off + 2 + 12 * n > len(data):
        raise ValueError("truncated IFD")
    entries = []
    for i in range(n):
        tag, typ, cnt = _s.unpack_from(f"{end}HHI", data, ifd_off + 2 + 12 * i)
        if typ not in (3, 4):
            continue  # rational/ascii metadata tags: irrelevant here
        at = ifd_off + 2 + 12 * i + 8
        if (2 if typ == 3 else 4) * cnt > 4:
            (at,) = _s.unpack_from(f"{end}I", data, at)
        entries.append((tag, typ, cnt, at))
    return end, n, entries


@_malformed_raises_value_error
def probe_tiff(data: bytes) -> tuple[int, int, int, int, int, int]:
    """REAL TIFF structure probe (stdlib struct): parse the byte-order
    header and walk IFD0's entries, returning (width, height,
    bits_per_sample, samples_per_pixel, compression, n_ifd_entries) —
    the corpus-filtering first pass for TIFF blobs (full decode for
    the baseline 8-bit subset lives in `decode_tiff`). Handles both
    byte orders and both inline and OFFSET-valued SHORT/LONG tags
    (reporting the first element of array tags like a 3-sample
    BitsPerSample). Raises ValueError on malformed input."""
    import struct as _s

    end, n, entries = _tiff_ifd0(data)
    tags = {}
    for tag, typ, cnt, at in entries:
        if cnt < 1:
            continue
        if at + (2 if typ == 3 else 4) > len(data):
            raise ValueError(f"tag {tag} value past end of data")
        (tags[tag],) = _s.unpack_from(f"{end}{'H' if typ == 3 else 'I'}", data, at)
    width = tags.get(256)
    height = tags.get(257)
    if width is None or height is None:
        raise ValueError("missing ImageWidth/ImageLength tags")
    return (
        int(width),
        int(height),
        int(tags.get(258, 1)),  # BitsPerSample default 1 per spec
        int(tags.get(277, 1)),  # SamplesPerPixel default 1
        int(tags.get(259, 1)),  # Compression default none
        int(n),
    )


# --- REAL WebP-lossless (VP8L) codec subset ---------------------------------
# The last image format in the honest-stub list with a feasible
# library-free path: VP8L is prefix coding + pixel transforms, no DSP.
# Implemented subset (everything round-trip verified, uniform
# ValueError contract): full canonical prefix-code machinery (simple
# AND code-length-coded forms, repeat codes 16/17/18), color cache,
# LZ77 backward references with linear distance codes, subtract-green
# transform, color-indexing (palette) transform including sub-byte
# pixel bundling, RIFF container wrap, VP8/VP8L/VP8X structure probe.
# The decoder implements all FOUR pixel transforms (subtract-green,
# color-indexing with bundling, 14-mode predictor, cross-color); the
# encoder emits only the first two. Out of
# scope and raising documented ValueErrors: meta-prefix (entropy
# image) groups and the 2D short-distance code neighborhood — the
# subset a library-free reimplementation can keep honest without a
# reference codec to validate against (lossy VP8 needs real DSP and
# stays probed-only).


from functools import lru_cache

#: Largest VP8L canvas the decoder accepts. A prefix code with one used
#: symbol reads zero bits, so a stream of a few dozen bytes can declare
#: the format's full 16384 x 16384 canvas of literal pixels: unlike
#: zlib, LZW and PackBits, VP8L has no output-to-input ratio to bound
#: the decode by, so the header's pixel count is capped before any pixel
#: is decoded.
_VP8L_MAX_PIXELS = 1 << 24


@lru_cache(maxsize=4096)
def _rev_bits(code: int, length: int) -> int:
    """Bit-reverse `code` within `length` bits (MSB-first prefix code ->
    LSB-first VP8L stream order). Cached: a code table has at most a few
    hundred distinct (code, length) pairs, reused per symbol occurrence."""
    rev = 0
    for _ in range(length):
        rev = (rev << 1) | (code & 1)
        code >>= 1
    return rev


class _LsbBitWriter:
    """VP8L bit order: values pack LSB-first into each byte."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        self.acc |= (value & ((1 << length) - 1)) << self.nbits
        nbits = self.nbits + length
        if nbits >= 8:
            k = nbits >> 3
            self.out += (self.acc & ((1 << (8 * k)) - 1)).to_bytes(k, "little")
            self.acc >>= 8 * k
            nbits -= 8 * k
        self.nbits = nbits

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc, self.nbits = 0, 0
        return bytes(self.out)


class _LsbBitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> bool:
        """Prefetch up to 8 bytes in one int.from_bytes (r17: the
        one-byte-per-iteration fills were the decode profile's hottest
        frames; VP8L has no byte stuffing or markers, so batch filling
        is unconditionally safe). Consumed bit order is identical."""
        chunk = self.data[self.pos : self.pos + 8]
        if not chunk:
            return False
        self.pos += len(chunk)
        self.acc |= int.from_bytes(chunk, "little") << self.nbits
        self.nbits += 8 * len(chunk)
        return True

    def bits(self, n: int) -> int:
        while self.nbits < n:
            if not self._fill():
                raise ValueError("truncated VP8L bitstream")
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v

    def read_symbol(self, t: "_PrefixTable") -> int:
        """One prefix-coded symbol (codes are packed MSB-of-code first):
        one LUT lookup on the next 8 bits resolves a code the stream
        holds in full; this is the decode profile's hottest frame. The
        fill never raises at end of stream, the bit-walk does."""
        if self.nbits < 8:
            self._fill()
        entry = t.lut[self.acc & 0xFF]
        if entry >= 0 and entry & 15 <= self.nbits:
            self.acc >>= entry & 15
            self.nbits -= entry & 15
            return entry >> 4
        # >8-bit code, or too few bits left for the LUT to be trusted:
        # bit-walk (which raises the truncation error when the stream
        # genuinely ends mid-code)
        length, code = 0, 0
        while length < 16:
            code = (code << 1) | self.bits(1)
            length += 1
            sym = t.table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid VP8L prefix code")


def _canonical_codes(
    symbols: Iterable[int], lengths: list[int]
) -> dict[int, tuple[int, int]]:
    """symbol -> (length, code) of a canonical prefix code, the one rule
    of T.81 Annex C.2 and RFC 1951 section 3.2.2: shorter lengths take
    smaller codes, and the codes of one length go to `symbols` in the
    order given (JPEG passes its DHT's HUFFVAL order, VP8L symbol order).
    A zero length assigns no code; a symbol listed twice keeps its last
    code. Raises on an over-subscribed code (Kraft sum above 1)."""
    max_len = max(lengths, default=0)
    if sum(1 << (max_len - ln) for ln in lengths if ln) > (1 << max_len):
        raise ValueError("over-subscribed prefix code")
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    out = {}
    for sym, ln in zip(symbols, lengths):
        if ln:
            out[sym] = (ln, next_code[ln])
            next_code[ln] += 1
    return out


def _complete_lengths(symbols: list[int], size: int) -> list[int]:
    """Code lengths of a COMPLETE code (Kraft sum exactly 1) over the n >= 2
    ascending `symbols` of a `size`-symbol alphabet: with
    L = ceil(log2 n), the first 2^L - n symbols take L-1 bits and the rest
    L. libwebp's table builder rejects incomplete multi-symbol codes, so
    completeness is what makes the emitted file consumable outside this
    module."""
    L = (len(symbols) - 1).bit_length()
    n_short = (1 << L) - len(symbols)
    lengths = [0] * size
    for j, s in enumerate(symbols):
        lengths[s] = L - 1 if j < n_short else L
    return lengths


class _PrefixTable:
    """Read-only decode table of one canonical prefix code, for JPEG and
    VP8L alike. `lut` maps the next 8 stream bits to a packed
    `(sym << 4) | length` for every code of length <= 8, -1 where no such
    code matches, so one lookup resolves the common case (one int per
    entry is the cheapest unpack in the decoders' hottest frames);
    `table` maps (length, code) -> symbol for the bit-walk that longer
    codes and stream tails fall back to. The bit order is fixed when the
    table is built: JPEG reads codes MSB-first, VP8L packs them LSB-first
    (`lsb_first`). Valid because no code is a prefix of another. A
    zero-length code (VP8L's single-symbol code) fills the whole LUT and
    reads no bits. Read-only: every decode of the same JPEG DHT spec
    shares one instance."""

    __slots__ = ("table", "lut")

    def __init__(self, codes: dict[int, tuple[int, int]], lsb_first: bool):
        lut = [-1] * 256
        for sym, (ln, code) in codes.items():
            if ln <= 8:
                fill = [(sym << 4) | ln] * (1 << (8 - ln))
                if lsb_first:  # the code in the low bits, anything above it
                    lut[_rev_bits(code, ln) :: 1 << ln] = fill
                else:  # the code in the high bits, anything below it
                    lut[code << (8 - ln) : (code + 1) << (8 - ln)] = fill
        table = {lc: sym for sym, lc in codes.items()}
        object.__setattr__(self, "table", MappingProxyType(table))
        object.__setattr__(self, "lut", tuple(lut))

    def __setattr__(self, name, value):
        raise AttributeError("shared prefix tables are read-only")


def _vp8l_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (length, code) of one VP8L prefix code. A code with
    exactly ONE used symbol reads zero bits per occurrence: libwebp's
    table builder special-cases single-symbol codes this way for BOTH the
    simple and the normal (code-length-coded) serializations, and the
    writer mirrors it."""
    nz = [s for s, ln in enumerate(lengths) if ln]
    if len(nz) == 1:
        return {nz[0]: (0, 0)}
    return _canonical_codes(range(len(lengths)), lengths)


#: code-length-code symbol transmission order (VP8L spec)
_VP8L_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


def _write_prefix_code(
    w: _LsbBitWriter, lengths: list[int]
) -> dict[int, tuple[int, int]]:
    """Emit one prefix code declaration and return the symbol ->
    (bit length, code) map the TOKEN writer must use — the simple
    1-symbol form costs ZERO bits per occurrence, the simple 2-symbol
    form one bit, the normal (code-length-coded) form its canonical
    codes."""
    # a channel never coded (e.g. distances in a literal-only image)
    # declares a 1-symbol simple code for symbol 0
    nz = [s for s, ln in enumerate(lengths) if ln] or [0]
    if len(nz) <= 2 and max(nz) < 256:
        w.put(1, 1)  # simple
        w.put(len(nz) - 1, 1)
        first = nz[0]
        if first <= 1:
            w.put(0, 1)  # 1-bit first symbol
            w.put(first, 1)
        else:
            w.put(1, 1)
            w.put(first, 8)
        if len(nz) == 2:
            w.put(nz[1], 8)
        return {s: (len(nz) - 1, i) for i, s in enumerate(nz)}
    w.put(0, 1)  # normal form
    # tokenize the symbol lengths with the spec's zero-run repeat codes
    # (17: 3-10 zeros, 18: 11-138 zeros) — the decoder-side support for
    # these already exists, and without them a 500+-symbol alphabet
    # pays ~3 bits per trailing zero
    cl_tokens: list[tuple[int, int, int]] = []  # (cl symbol, extra bits, extra)
    i = 0
    while i < len(lengths):
        if lengths[i]:
            cl_tokens.append((lengths[i], 0, 0))
            i += 1
            continue
        run = 1
        while i + run < len(lengths) and not lengths[i + run]:
            run += 1
        i += run
        while run >= 11:
            r = min(run, 138)
            cl_tokens.append((18, 7, r - 11))
            run -= r
        if run >= 3:
            cl_tokens.append((17, 3, run - 3))
        else:
            cl_tokens.extend((0, 0, 0) for _ in range(run))
    used = sorted({t[0] for t in cl_tokens})
    if len(used) == 1:
        cl_lengths = [0] * 19
        cl_lengths[used[0]] = 1  # single-symbol CL code: 0 bits on read
    else:
        cl_lengths = _complete_lengths(used, 19)
    order_pos = {s: i for i, s in enumerate(_VP8L_CL_ORDER)}
    last = max(order_pos[s] for s in used)
    w.put(last + 1 - 4 if last + 1 >= 4 else 0, 4)  # num_code_lengths - 4
    n_transmit = max(last + 1, 4)
    for i in range(n_transmit):
        s = _VP8L_CL_ORDER[i]
        w.put(cl_lengths[s], 3)
    cl_code = _vp8l_codes(cl_lengths)
    w.put(0, 1)  # no explicit max-symbol field
    for sym, ebits, extra in cl_tokens:
        cln, code = cl_code[sym]
        w.put(_rev_bits(code, cln), cln)  # prefix codes go MSB-of-code first
        if ebits:
            w.put(extra, ebits)
    return _vp8l_codes(lengths)


def _read_prefix_code(br: _LsbBitReader, alphabet_size: int) -> _PrefixTable:
    lengths = [0] * alphabet_size
    if br.bits(1):  # simple
        num = br.bits(1) + 1
        if br.bits(1):
            s1 = br.bits(8)
        else:
            s1 = br.bits(1)
        if s1 >= alphabet_size:
            raise ValueError("simple-code symbol out of range")
        lengths[s1] = 1
        if num == 2:
            s2 = br.bits(8)
            if s2 >= alphabet_size:
                raise ValueError("simple-code symbol out of range")
            lengths[s2] = 1
        return _PrefixTable(_vp8l_codes(lengths), lsb_first=True)
    num_cl = br.bits(4) + 4
    if num_cl > 19:
        raise ValueError("invalid code-length count")
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_VP8L_CL_ORDER[i]] = br.bits(3)
    cl_code = _PrefixTable(_vp8l_codes(cl_lengths), lsb_first=True)
    if br.bits(1):  # explicit max-symbol
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet_size
    sym = 0
    prev_len = 8
    while sym < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        s = br.read_symbol(cl_code)
        if s < 16:
            lengths[sym] = s
            sym += 1
            if s:
                prev_len = s
        elif s == 16:
            rep = 3 + br.bits(2)
            for _ in range(rep):
                if sym >= alphabet_size:
                    raise ValueError("repeat overruns alphabet")
                lengths[sym] = prev_len
                sym += 1
        elif s == 17:
            sym += 3 + br.bits(3)
        elif s == 18:
            sym += 11 + br.bits(7)
        else:
            raise ValueError("bad code-length symbol")
    if sym > alphabet_size:
        raise ValueError("code lengths overrun alphabet")
    return _PrefixTable(_vp8l_codes(lengths), lsb_first=True)


def _huffman_lengths(freqs: dict[int, int], size: int) -> list[int]:
    """Canonical-code bit lengths from symbol frequencies (heap
    Huffman); falls back to a flat complete code if any code would
    exceed VP8L's 15 bits (rare, and always valid)."""
    import heapq

    lengths = [0] * size
    nz = [s for s in freqs if freqs[s]]
    if not nz:
        return lengths
    if len(nz) == 1:
        lengths[nz[0]] = 1
        return lengths
    heap = [(freqs[s], s, (s,)) for s in nz]
    heapq.heapify(heap)
    while len(heap) > 1:
        f1, _t1, g1 = heapq.heappop(heap)
        f2, _t2, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            lengths[s] += 1
        heapq.heappush(heap, (f1 + f2, min(_t1, _t2), g1 + g2))
    if max(lengths) > 15:
        lengths = _complete_lengths(sorted(nz), size)
    return lengths


def _lz77_value_to_code(v: int) -> tuple[int, int, int]:
    """length/distance value -> (prefix code, n extra bits, extra)."""
    if v <= 4:
        return v - 1, 0, 0
    x = v - 1
    hb = x.bit_length() - 1
    second = (x >> (hb - 1)) & 1
    code = 2 * hb + second
    extra = hb - 1
    offset = (2 + second) << extra
    return code, extra, x - offset


def _lz77_code_to_value(code: int, br: _LsbBitReader) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.bits(extra) + 1


def _vp8l_cache_hash(argb: int, cache_bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)


def _vp8l_write_pixels(
    w: _LsbBitWriter, pixels: list[int], width: int, level0: bool
) -> None:
    """Entropy-code one ARGB pixel stream with Huffman codes per channel
    built from the token histogram. The main (`level0`) image also gets
    greedy LZ77 against the two cheap distances (1 = horizontal run,
    `width` = vertical copy, both emitted as linear plane codes
    dist+120) and an 8-bit color cache; the palette sub-image is coded
    as plain literals.

    Tokenizer shape (r17 session 3, guide §4.2): the greedy match
    lengths for both distances are precomputed as numpy run-length
    arrays (run[j] = consecutive positions from j with
    pixels[j] == pixels[j - dist], via one vectorized suffix-min), so
    the walk reads two O(1) lookups per position instead of re-scanning
    the match byte-by-byte; cache hashes precompute the same way, and a
    dist-1 ref's pixels are all equal by definition, so its cache
    update is ONE slot write instead of a per-pixel loop. Greedy
    decisions (strict >, dist 1 checked first, 4096 cap) are unchanged,
    so the emitted bytes are identical — gated by a 4,320-case
    byte-identity snapshot across cache_bits/subtract-green/predictor
    and the property fuzz suite."""
    cache_bits = 8 if level0 else 0
    use_lz77 = level0
    cache = [0] * (1 << cache_bits) if cache_bits else None
    tokens = []
    n = len(pixels)
    run1 = runw = None
    hashes = None
    if n and (use_lz77 or cache_bits):
        import numpy as np

        arr = np.asarray(pixels, dtype=np.uint64)
        if cache_bits:
            hashes = (
                ((np.uint64(0x1E35A7BD) * arr) & np.uint64(0xFFFFFFFF))
                >> np.uint64(32 - cache_bits)
            ).tolist()
        if use_lz77:
            idx = np.arange(n, dtype=np.int64)

            def _runs(dist: int) -> list[int]:
                # run[j] = max r such that pixels[j+i] == pixels[j+i-dist]
                # for all 0 <= i < r (0 when j < dist), capped at 4096
                match = np.zeros(n, dtype=bool)
                if 0 < dist < n:
                    match[dist:] = arr[dist:] == arr[:-dist]
                nxt_false = np.minimum.accumulate(
                    np.where(match, n, idx)[::-1]
                )[::-1]
                return np.minimum(nxt_false - idx, 4096).tolist()

            run1 = _runs(1)
            runw = run1 if width == 1 else _runs(width)
    pos = 0
    while pos < n:
        if use_lz77:
            l1 = run1[pos]
            lw = runw[pos]
            if l1 >= lw:
                best_len, best_dist = l1, 1
            else:
                best_len, best_dist = lw, width
            if best_len >= 3:
                tokens.append(("ref", best_len, best_dist))
                if cache is not None:
                    if best_dist == 1:
                        # a horizontal run repeats one pixel value
                        px = pixels[pos]
                        cache[hashes[pos]] = px
                    else:
                        for i in range(pos, pos + best_len):
                            cache[hashes[i]] = pixels[i]
                pos += best_len
                continue
        px = pixels[pos]
        if cache is not None:
            h = hashes[pos]
            if cache[h] == px:
                tokens.append(("cache", h))
            else:
                tokens.append(("lit", px))
                cache[h] = px
        else:
            tokens.append(("lit", px))
        pos += 1

    if cache_bits:
        w.put(1, 1)
        w.put(cache_bits, 4)
    else:
        w.put(0, 1)
    if level0:
        w.put(0, 1)  # no meta-prefix (entropy image) groups
    green_size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    gf: dict[int, int] = {}
    rf: dict[int, int] = {}
    bf: dict[int, int] = {}
    af: dict[int, int] = {}
    df: dict[int, int] = {}
    for t in tokens:
        if t[0] == "lit":
            px = t[1]
            gf[(px >> 8) & 0xFF] = gf.get((px >> 8) & 0xFF, 0) + 1
            rf[(px >> 16) & 0xFF] = rf.get((px >> 16) & 0xFF, 0) + 1
            bf[px & 0xFF] = bf.get(px & 0xFF, 0) + 1
            af[px >> 24] = af.get(px >> 24, 0) + 1
        elif t[0] == "ref":
            lc, _e, _x = _lz77_value_to_code(t[1])
            gf[256 + lc] = gf.get(256 + lc, 0) + 1
            dc, _e2, _x2 = _lz77_value_to_code(t[2] + 120)
            df[dc] = df.get(dc, 0) + 1
        else:
            gf[280 + t[1]] = gf.get(280 + t[1], 0) + 1
    # r17 hot-loop shape (identical emitted bits): codes bit-reverse
    # ONCE per table instead of per token (a per-token reversal was the
    # encode profile's top call), and each token's consecutive LSB-first puts
    # merge into one — v1 then v2 IS put(v1 | v2 << l1, l1 + l2).
    grev, rrev, brev, arev, drev = (
        {
            s: (ln, _rev_bits(c, ln))
            for s, (ln, c) in _write_prefix_code(w, _huffman_lengths(f, size)).items()
        }
        for f, size in ((gf, green_size), (rf, 256), (bf, 256), (af, 256), (df, 40))
    )
    put = w.put
    for t in tokens:
        if t[0] == "lit":
            px = t[1]
            gl, gc = grev[(px >> 8) & 0xFF]
            rl, rc = rrev[(px >> 16) & 0xFF]
            bl, bc = brev[px & 0xFF]
            al, ac = arev[px >> 24]
            put(
                gc | (rc << gl) | (bc << (gl + rl)) | (ac << (gl + rl + bl)),
                gl + rl + bl + al,
            )
        elif t[0] == "ref":
            lc, e, x = _lz77_value_to_code(t[1])
            ln, code = grev[256 + lc]
            put(code | (x << ln), ln + e) if e else put(code, ln)
            dc, e2, x2 = _lz77_value_to_code(t[2] + 120)
            ln, code = drev[dc]
            put(code | (x2 << ln), ln + e2) if e2 else put(code, ln)
        else:
            ln, code = grev[280 + t[1]]
            put(code, ln)


def _vp8l_read_pixels(
    br: _LsbBitReader, width: int, height: int, level0: bool = False
) -> list[int]:
    """Decode one entropy-coded ARGB image (the shared routine for the
    main image, the palette, and other transform data): color cache,
    the five prefix codes, literals / LZ77 backrefs / cache hits.
    Raises on meta-prefix groups and 2D short-distance codes (outside
    the implemented subset)."""
    cache_bits = br.bits(4) if br.bits(1) else 0
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError("invalid color-cache size")
    if level0 and br.bits(1):
        raise ValueError("meta-prefix (entropy image) groups unsupported")
    green_size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    green, red, blue, alpha, dist = (
        _read_prefix_code(br, size) for size in (green_size, 256, 256, 256, 40)
    )
    cache = [0] * (1 << cache_bits) if cache_bits else None
    n = width * height
    out: list[int] = []
    read = br.read_symbol

    def emit(px: int) -> None:
        out.append(px)
        if cache is not None:
            cache[_vp8l_cache_hash(px, cache_bits)] = px

    while len(out) < n:
        sym = read(green)
        if sym < 256:
            g = sym
            r = read(red)
            b = read(blue)
            a = read(alpha)
            emit((a << 24) | (r << 16) | (g << 8) | b)
        elif sym < 280:
            length = _lz77_code_to_value(sym - 256, br)
            plane = _lz77_code_to_value(read(dist), br)
            if plane <= 120:
                raise ValueError("2D short-distance codes unsupported")
            d = plane - 120
            if d > len(out):
                raise ValueError("backward reference before image start")
            if len(out) + length > n:
                raise ValueError("backward reference overruns image")
            for _ in range(length):
                emit(out[-d])
        else:
            idx = sym - 280
            if cache is None or idx >= len(cache):
                raise ValueError("color-cache index without cache")
            emit(cache[idx])
    return out


def _palette_width_bits(n_colors: int) -> int:
    if n_colors <= 2:
        return 3
    if n_colors <= 4:
        return 2
    if n_colors <= 16:
        return 1
    return 0


#: VP8L predictor modes (T.81 analogue of PNG filters, 2D tile-based).
#: Pixel-edge rules: (0,0) predicts opaque black, the top row predicts
#: L, the first column predicts T, and TR clamps to T on the right
#:  edge. Av2 is the per-channel floor average.
def _vp8l_av2(a: int, b: int) -> int:
    return (
        ((((a >> 24) + (b >> 24)) >> 1) << 24)
        | (((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16)
        | (((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8)
        | ((((a & 0xFF) + (b & 0xFF)) >> 1))
    )


def _vp8l_clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        out |= max(0, min(255, v)) << sh
    return out


def _vp8l_select(t: int, l: int, tl: int) -> int:
    pa_minus_pb = 0
    for sh in (24, 16, 8, 0):
        tc, lc, tlc = (t >> sh) & 0xFF, (l >> sh) & 0xFF, (tl >> sh) & 0xFF
        pa_minus_pb += abs(lc - tlc) - abs(tc - tlc)
    return t if pa_minus_pb <= 0 else l


def _vp8l_predict(mode: int, l: int, t: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _vp8l_av2(_vp8l_av2(l, tr), t)
    if mode == 6:
        return _vp8l_av2(l, tl)
    if mode == 7:
        return _vp8l_av2(l, t)
    if mode == 8:
        return _vp8l_av2(tl, t)
    if mode == 9:
        return _vp8l_av2(t, tr)
    if mode == 10:
        return _vp8l_av2(_vp8l_av2(l, tl), _vp8l_av2(t, tr))
    if mode == 11:
        return _vp8l_select(t, l, tl)
    if mode == 12:
        return _vp8l_clamp_add_sub_full(l, t, tl)
    if mode == 13:  # ClampAddSubtractHalf
        out = 0
        ave = _vp8l_av2(l, t)
        for sh in (24, 16, 8, 0):
            a = (ave >> sh) & 0xFF
            b = (tl >> sh) & 0xFF
            d = a - b
            v = a + (d // 2 if d >= 0 else -((-d) // 2))  # trunc toward zero
            out |= max(0, min(255, v)) << sh
        return out
    raise ValueError(f"bad predictor mode {mode}")


def _vp8l_neighbors(
    pixels: list[int], x: int, y: int, width: int
) -> tuple[int, int, int, int]:
    i = y * width + x
    l = pixels[i - 1] if x else 0
    t = pixels[i - width] if y else 0
    tl = pixels[i - width - 1] if x and y else 0
    tr = pixels[i - width + 1] if y and x < width - 1 else t
    return l, t, tl, tr


def _vp8l_add_px(r: int, p: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        out |= (((r >> sh) + (p >> sh)) & 0xFF) << sh
    return out


def _vp8l_predictor_inverse(
    residuals: list[int],
    modes: list[int],
    width: int,
    height: int,
    size_bits: int,
    tiles_x: int,
) -> list[int]:
    pixels = [0] * (width * height)
    for y in range(height):
        for x in range(width):
            l, t, tl, tr = _vp8l_neighbors(pixels, x, y, width)
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = l
            elif x == 0:
                pred = t
            else:
                mode = (
                    modes[(y >> size_bits) * tiles_x + (x >> size_bits)] >> 8
                ) & 0xFF
                if mode > 13:
                    raise ValueError(f"bad predictor mode {mode}")
                pred = _vp8l_predict(mode, l, t, tl, tr)
            pixels[y * width + x] = _vp8l_add_px(residuals[y * width + x], pred)
    return pixels


def _ct_delta(t: int, c: int) -> int:
    """Cross-color transform delta: signed-int8 product, arithmetic
    shift right 5 (Python's >> on negatives floors, matching the C
    arithmetic shift libwebp relies on)."""
    t8 = t - 256 if t >= 128 else t
    c8 = c - 256 if c >= 128 else c
    return (t8 * c8) >> 5


def _cross_color_inverse(
    pixels: list[int],
    mults: list[int],
    width: int,
    height: int,
    size_bits: int,
    tiles_x: int,
) -> list[int]:
    """Invert the cross-color transform: per tile, red moves by
    delta(green_to_red, green) and blue by delta(green_to_blue, green)
    + delta(red_to_blue, FINAL red). Multiplier tile pixels
    carry green_to_red in blue, green_to_blue in green, red_to_blue in
    red (the libwebp ColorCodeToMultipliers layout)."""
    out = [0] * len(pixels)
    for y in range(height):
        for x in range(width):
            p = pixels[y * width + x]
            m = mults[(y >> size_bits) * tiles_x + (x >> size_bits)]
            g2r, g2b, r2b = m & 0xFF, (m >> 8) & 0xFF, (m >> 16) & 0xFF
            a = p >> 24
            r = (p >> 16) & 0xFF
            g = (p >> 8) & 0xFF
            b = p & 0xFF
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
            out[y * width + x] = (a << 24) | (r << 16) | (g << 8) | b
    return out


def encode_webp_lossless(width: int, height: int, rgba: bytes) -> bytes:
    """REAL WebP-lossless (VP8L) encoder for RGBA8: the color-indexing
    transform when the image has <= 256 distinct colors (with sub-byte
    pixel bundling for tiny palettes), else subtract-green; greedy LZ77
    + an 8-bit color cache + per-channel Kraft-complete canonical prefix
    codes; wrapped in a valid RIFF/WEBP container. Lossless —
    `decode_webp_lossless` round-trips the exact bytes. The spatial
    transforms (predictor, cross-color) are decode-only:
    `decode_webp_lossless` inverts them in external streams, the encoder
    never emits them."""
    if len(rgba) != width * height * 4:
        raise ValueError("pixel buffer does not match dims")
    if not (1 <= width <= 1 << 14 and 1 <= height <= 1 << 14):
        raise ValueError("dims out of VP8L range")
    pixels = [
        (rgba[i + 3] << 24) | (rgba[i] << 16) | (rgba[i + 1] << 8) | rgba[i + 2]
        for i in range(0, len(rgba), 4)
    ]
    palette = sorted(set(pixels))

    w = _LsbBitWriter()
    w.put(0x2F, 8)  # VP8L signature
    w.put(width - 1, 14)
    w.put(height - 1, 14)
    w.put(1 if any(p >> 24 != 0xFF for p in pixels) else 0, 1)  # alpha hint
    w.put(0, 3)  # version
    if len(palette) <= 256:
        w.put(1, 1)
        w.put(3, 2)  # COLOR_INDEXING
        w.put(len(palette) - 1, 8)
        # palette entries delta-coded componentwise, stored as an
        # entropy-coded (n x 1) image
        deltas = []
        prev = 0
        for p in palette:
            d = 0
            for sh in (24, 16, 8, 0):
                d |= (((p >> sh) - (prev >> sh)) & 0xFF) << sh
            deltas.append(d)
            prev = p
        _vp8l_write_pixels(w, deltas, len(palette), level0=False)
        idx_of = {p: i for i, p in enumerate(palette)}
        wb = _palette_width_bits(len(palette))
        if wb:
            per = 1 << wb
            bpp = 8 >> wb
            pw = (width + per - 1) >> wb
            packed = []
            for y in range(height):
                for xb in range(pw):
                    g = 0
                    for k in range(per):
                        x = (xb << wb) + k
                        if x < width:
                            g |= idx_of[pixels[y * width + x]] << (bpp * k)
                    packed.append(g << 8)  # index bits live in green
            body, bw = packed, pw
        else:
            body, bw = [idx_of[p] << 8 for p in pixels], width
    else:
        w.put(1, 1)
        w.put(2, 2)  # SUBTRACT_GREEN
        body = [
            (p & 0xFF000000)
            | ((((p >> 16) - (p >> 8)) & 0xFF) << 16)
            | (p & 0xFF00)
            | (((p & 0xFF) - ((p >> 8) & 0xFF)) & 0xFF)
            for p in pixels
        ]
        bw = width
    w.put(0, 1)  # no more transforms
    _vp8l_write_pixels(w, body, bw, level0=True)
    return _riff_chunk(b"RIFF", b"WEBP" + _riff_chunk(b"VP8L", w.flush()))


@_malformed_raises_value_error
def decode_webp_lossless(data: bytes) -> tuple[int, int, bytes]:
    """REAL WebP-lossless (VP8L) decoder for the implemented subset:
    RIFF walk to the VP8L chunk (scanning past VP8X), header, transform
    list (ALL FOUR pixel transforms implemented: subtract-green,
    color-indexing incl. pixel bundling, the PREDICTOR transform with
    all 14 spatial modes, and cross-color), color cache, LZ77
    with linear distance codes, canonical prefix codes in both simple
    and code-length-coded forms. Returns (width, height, RGBA bytes); a
    canvas over `_VP8L_MAX_PIXELS` pixels raises ValueError before any
    pixel is decoded."""
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (bad RIFF header)")
    payload, saw_lossy = None, False
    for tag, bs, ln in _walk_riff(data, 12, len(data)):
        if tag == b"VP8L":
            payload = data[bs : bs + ln]
            break
        # VP8X is just the extended-features header: metadata-carrying
        # LOSSLESS files are VP8X followed by VP8L, so keep scanning
        saw_lossy = saw_lossy or tag == b"VP8 "
    if payload is None:
        raise ValueError(
            "lossy WebP (VP8) needs an imaging library"
            if saw_lossy
            else "no VP8L chunk"
        )
    br = _LsbBitReader(payload)
    if br.bits(8) != 0x2F:
        raise ValueError("bad VP8L signature")
    width = br.bits(14) + 1
    height = br.bits(14) + 1
    br.bits(1)  # alpha hint
    if br.bits(3) != 0:
        raise ValueError("unknown VP8L version")
    if width * height > _VP8L_MAX_PIXELS:
        raise ValueError(f"VP8L canvas {width}x{height} exceeds {_VP8L_MAX_PIXELS} pixels")
    transforms = []
    palette = None
    eff_width = width
    while br.bits(1):
        ttype = br.bits(2)
        if ttype in (0, 1):  # PREDICTOR or CROSS_COLOR: one pixel per tile
            size_bits = br.bits(3) + 2
            tiles_x = (width + (1 << size_bits) - 1) >> size_bits
            tiles_y = (height + (1 << size_bits) - 1) >> size_bits
            tiles = _vp8l_read_pixels(br, tiles_x, tiles_y)
            inverse = _vp8l_predictor_inverse if ttype == 0 else _cross_color_inverse
            transforms.append(("tiles", inverse, tiles, size_bits, tiles_x))
        elif ttype == 2:  # SUBTRACT_GREEN
            transforms.append(("subtract_green",))
        elif ttype == 3:  # COLOR_INDEXING
            n_colors = br.bits(8) + 1
            deltas = _vp8l_read_pixels(br, n_colors, 1)
            palette = []
            prev = 0
            for d in deltas:
                prev = _vp8l_add_px(d, prev)
                palette.append(prev)
            wb = _palette_width_bits(n_colors)
            eff_width = (width + (1 << wb) - 1) >> wb if wb else width
            transforms.append(("palette", palette, wb))
        else:
            raise ValueError(f"unknown transform type {ttype}")
    pixels = _vp8l_read_pixels(br, eff_width, height, level0=True)
    if palette is not None and any(t[0] == "tiles" for t in transforms):
        raise ValueError("spatial transforms combined with color-indexing unsupported")
    for t in reversed(transforms):
        if t[0] == "tiles":
            _tag, inverse, tiles, size_bits, tiles_x = t
            pixels = inverse(pixels, tiles, width, height, size_bits, tiles_x)
        elif t[0] == "subtract_green":
            pixels = [
                (p & 0xFF000000)
                | ((((p >> 16) + (p >> 8)) & 0xFF) << 16)
                | (p & 0xFF00)
                | (((p & 0xFF) + ((p >> 8) & 0xFF)) & 0xFF)
                for p in pixels
            ]
        else:
            _tag, pal, wb = t
            unpacked = []
            if wb:
                per = 1 << wb
                bpp = 8 >> wb
                pw = (width + per - 1) >> wb
                for y in range(height):
                    for x in range(width):
                        g = (pixels[y * pw + (x >> wb)] >> 8) & 0xFF
                        idx = (g >> (bpp * (x & (per - 1)))) & ((1 << bpp) - 1)
                        if idx >= len(pal):
                            raise ValueError("palette index out of range")
                        unpacked.append(pal[idx])
            else:
                for p in pixels:
                    idx = (p >> 8) & 0xFF
                    if idx >= len(pal):
                        raise ValueError("palette index out of range")
                    unpacked.append(pal[idx])
            pixels = unpacked
    if len(pixels) != width * height:
        raise ValueError("decoded pixel count mismatch")
    out = bytearray()
    for p in pixels:
        out += bytes(((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF, p >> 24))
    return (width, height, bytes(out))


@_malformed_raises_value_error
def probe_webp(data: bytes) -> tuple[int, int, str, int]:
    """REAL WebP structure probe: RIFF walk, then per-form header parse
    — VP8L (lossless: signature + 14-bit dims), VP8 (lossy keyframe:
    sync code 0x9d012a + 14-bit dims), VP8X (extended: 24-bit canvas
    dims). Returns (width, height, form, payload_bytes); no pixel
    decode (lossy VP8 stays probe-only)."""
    import struct as _s

    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (bad RIFF header)")
    for tag, bs, ln in _walk_riff(data, 12, len(data)):
        body = data[bs : bs + ln]
        if tag == b"VP8L":
            if len(body) < 5 or body[0] != 0x2F:
                raise ValueError("bad VP8L header")
            bits = int.from_bytes(body[1:5], "little")
            return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1, "VP8L", ln
        if tag == b"VP8 ":
            if len(body) < 10 or body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("bad VP8 keyframe header")
            w16, h16 = _s.unpack_from("<HH", body, 6)
            return (w16 & 0x3FFF), (h16 & 0x3FFF), "VP8", ln
        if tag == b"VP8X":
            if len(body) < 10:
                raise ValueError("bad VP8X header")
            wm1 = int.from_bytes(body[4:7], "little")
            hm1 = int.from_bytes(body[7:10], "little")
            return wm1 + 1, hm1 + 1, "VP8X", ln
    raise ValueError("no image chunk in WebP")


# --- REAL TIFF codec (stdlib struct/numpy) ----------------------------------
# Baseline TIFF 6.0 for 8-bit gray and RGB: strip-based pixel data with
# Compression 1 (none), 32773 (PackBits RLE) and 5 (TIFF-LZW, MSB-first
# with the spec's early-change width switch), optional horizontal
# differencing predictor (tag 317 = 2, the common LZW pairing), both
# byte orders. Converts the TIFF entry from structure-probe-only to a
# full container-to-pixels path; lossless, so round trips are exact.


def _packbits_encode(row: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, row[i]])
            i += run
            continue
        lit = i
        while (
            i < n
            and i - lit < 128
            and not (i + 2 < n and row[i] == row[i + 1] == row[i + 2])
        ):
            i += 1
        out += bytes([i - lit - 1]) + row[lit:i]
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i = 0
    while len(out) < expected:
        if i >= len(data):
            raise ValueError("truncated PackBits strip")
        n = data[i]
        i += 1
        if n < 128:
            if i + n + 1 > len(data):
                raise ValueError("PackBits literal overruns strip")
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise ValueError("PackBits run missing byte")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op per spec
    if len(out) != expected:
        raise ValueError("PackBits output size mismatch")
    return bytes(out)


_TIFF_LZW_CLEAR, _TIFF_LZW_EOI = 256, 257


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF-LZW (spec section 13): MSB-first variable-width codes,
    EARLY width change (the documented off-by-one every implementation
    ships), Clear at 4094 entries."""
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1

    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    put(_TIFF_LZW_CLEAR, width)
    cur = b""
    for byte in data:
        nxt = cur + bytes([byte])
        if nxt in table:
            cur = nxt
            continue
        put(table[cur], width)
        table[nxt] = next_code
        next_code += 1
        if next_code == (1 << width) - 1:  # early change
            width += 1
        if next_code >= 4094:
            put(_TIFF_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        cur = bytes([byte])
    if cur:
        put(table[cur], width)
    put(_TIFF_LZW_EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    pos = acc = nbits = 0

    def get(width: int) -> int:
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW strip")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        v = (acc >> nbits) & ((1 << width) - 1)
        return v

    out = bytearray()
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None
    while len(out) < expected:
        code = get(width)
        if code == _TIFF_LZW_EOI:
            break
        if code == _TIFF_LZW_CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width, prev = 9, None
            continue
        if prev is None:
            if code > 255:
                raise ValueError("LZW stream must start with a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        # early change, shifted one MORE: the decoder's table is one
        # entry behind the encoder's (the KwKwK entry is added on the
        # NEXT code), so it must widen when the encoder's count —
        # len(table) + 1 — hits 2^width - 1
        if len(table) == (1 << width) - 2:
            width += 1
        out += entry
        prev = entry
    if len(out) != expected:
        raise ValueError("LZW output size mismatch")
    return bytes(out)


def _predict_rows(raw: bytes, w: int, samples: int, decode: bool):
    """Horizontal differencing predictor (tag 317 = 2) over chunky
    rows: per-channel byte deltas mod 256, vectorized."""
    import numpy as np

    rows = np.frombuffer(raw, dtype=np.uint8).reshape(-1, w, samples)
    if decode:
        return np.cumsum(rows.astype(np.int64), axis=1).astype(np.uint8).tobytes()
    d = rows.astype(np.int16)
    d[:, 1:, :] -= rows[:, :-1, :].astype(np.int16)
    return (d & 0xFF).astype(np.uint8).tobytes()


def encode_tiff(
    w: int,
    h: int,
    pixels: bytes,
    samples: int = 1,
    compression: int = 1,
    rows_per_strip: int = 8,
    byte_order: str = "II",
    predictor: int = 1,
) -> bytes:
    """Encode raw 8-bit gray (samples=1) or interleaved RGB (samples=3)
    as a valid strip-based TIFF. `compression`: 1 none, 5 TIFF-LZW,
    32773 PackBits; `predictor=2` applies horizontal differencing
    before compression (the standard LZW pairing); `byte_order` II or
    MM. Deterministic bytes for deterministic inputs."""
    import struct as _s

    if byte_order not in ("II", "MM"):
        raise ValueError("byte_order must be II or MM")
    if compression not in (1, 5, 32773):
        raise ValueError("compression must be 1, 5 (LZW) or 32773 (PackBits)")
    if predictor not in (1, 2):
        raise ValueError("predictor must be 1 or 2")
    if len(pixels) != w * h * samples:
        raise ValueError("pixel buffer does not match dims")
    end = "<" if byte_order == "II" else ">"
    row_bytes = w * samples
    strips = []
    for y0 in range(0, h, rows_per_strip):
        raw = pixels[y0 * row_bytes : min(y0 + rows_per_strip, h) * row_bytes]
        if predictor == 2:
            raw = _predict_rows(raw, w, samples, decode=False)
        if compression == 32773:
            strips.append(
                b"".join(
                    _packbits_encode(raw[i : i + row_bytes])
                    for i in range(0, len(raw), row_bytes)
                )
            )
        elif compression == 5:
            strips.append(_tiff_lzw_encode(raw))
        else:
            strips.append(bytes(raw))
    n_strips = len(strips)
    photometric = 1 if samples == 1 else 2
    entries = [  # (tag, type, count, value-or-list)
        (256, 4, 1, w),
        (257, 4, 1, h),
        (258, 3, samples, [8] * samples),
        (259, 3, 1, compression),
        (262, 3, 1, photometric),
        (273, 4, n_strips, None),  # StripOffsets, patched below
        (277, 3, 1, samples),
        (278, 4, 1, rows_per_strip),
        (279, 4, n_strips, [len(s) for s in strips]),
    ]
    if predictor == 2:
        entries.append((317, 3, 1, 2))
    entries.sort()
    # layout: header (8) + IFD + next-IFD ptr, then value area, then strips
    ifd_off = 8
    ifd_size = 2 + 12 * len(entries) + 4
    value_area = bytearray()
    value_off = ifd_off + ifd_size

    def value_bytes(typ: int, vals: list[int]) -> bytes:
        fmt = "H" if typ == 3 else "I"
        return b"".join(_s.pack(f"{end}{fmt}", v) for v in vals)

    strip_data_off = None  # computed after value area sizing (two passes)
    for _pass in range(2):
        value_area = bytearray()
        body = bytearray()
        for tag, typ, cnt, val in entries:
            if tag == 273:
                offs, acc = [], strip_data_off or 0
                for s in strips:
                    offs.append(acc)
                    acc += len(s)
                vals = offs
            elif isinstance(val, list):
                vals = val
            else:
                vals = [val]
            vb = value_bytes(typ, vals)
            if len(vb) <= 4:
                body += _s.pack(f"{end}HHI", tag, typ, cnt) + vb.ljust(4, b"\x00")
            else:
                body += _s.pack(f"{end}HHII", tag, typ, cnt, value_off + len(value_area))
                value_area += vb
        strip_data_off = value_off + len(value_area)
    out = bytearray(byte_order.encode() + _s.pack(f"{end}HI", 42, ifd_off))
    out += _s.pack(f"{end}H", len(entries)) + body + _s.pack(f"{end}I", 0)
    out += value_area
    for s in strips:
        out += s
    return bytes(out)


@_malformed_raises_value_error
def decode_tiff(data: bytes) -> tuple[int, int, int, bytes]:
    """REAL TIFF decode (8-bit gray/RGB, chunky): byte-order-aware IFD0
    walk with inline AND offset-valued tags, strip reassembly via
    StripOffsets/StripByteCounts, Compression 1/5/32773, horizontal
    predictor. Returns (width, height, samples, row-major interleaved
    pixel bytes); raises ValueError on anything malformed or beyond
    the supported baseline subset."""
    import struct as _s

    end, _n, entries = _tiff_ifd0(data)
    tags: dict[int, list[int]] = {}
    for tag, typ, cnt, at in entries:
        if at + (2 if typ == 3 else 4) * cnt > len(data):
            raise ValueError(f"tag {tag} values past end of data")
        fmt = "H" if typ == 3 else "I"
        tags[tag] = list(_s.unpack_from(f"{end}{cnt}{fmt}", data, at))

    def one(tag: int, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"missing required tag {tag}")
            return default
        return v[0]

    w, h = one(256), one(257)
    samples = one(277, 1)
    comp = one(259, 1)
    predictor = one(317, 1)
    if samples not in (1, 3):
        raise ValueError(f"unsupported SamplesPerPixel {samples}")
    if any(b != 8 for b in tags.get(258, [8])):
        raise ValueError("only 8 bits per sample supported")
    if comp not in (1, 5, 32773):
        raise ValueError(f"unsupported compression {comp}")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported predictor {predictor}")
    if one(284, 1) != 1:
        raise ValueError("planar configuration 2 unsupported")
    rps = one(278, h)
    offs = tags.get(273)
    counts = tags.get(279)
    if not offs or not counts or len(offs) != len(counts):
        raise ValueError("missing/ragged strip tables")
    row_bytes = w * samples
    out = bytearray()
    for si, (off, cnt) in enumerate(zip(offs, counts)):
        if off + cnt > len(data):
            raise ValueError("strip past end of data")
        rows = min(rps, h - si * rps)
        if rows <= 0:
            raise ValueError("more strips than image rows")
        expected = rows * row_bytes
        strip = data[off : off + cnt]
        if comp == 32773:
            raw = _packbits_decode(strip, expected)
        elif comp == 5:
            raw = _tiff_lzw_decode(strip, expected)
        else:
            if cnt != expected:
                raise ValueError("uncompressed strip size mismatch")
            raw = strip
        if predictor == 2:
            raw = _predict_rows(raw, w, samples, decode=True)
        out += raw
    if len(out) != w * h * samples:
        raise ValueError("reassembled pixel size mismatch")
    return (int(w), int(h), int(samples), bytes(out))


def split_mjpeg(data: bytes) -> list[bytes]:
    """Split a raw MJPEG stream (back-to-back baseline JPEG frames —
    the classic IP-camera/AVI-MJPC payload) into its frames by scanning
    for EOI markers. Sound for baseline streams whose entropy data is
    0xFF-stuffed (the spec) and whose table segments avoid a literal
    0xFFD9 (true of Annex K tables); each frame must then open with
    SOI. Raises ValueError on trailing garbage or non-JPEG frames."""
    frames = []
    start = 0
    i = 0
    n = len(data)
    while i < n - 1:
        if data[i] == 0xFF and data[i + 1] == 0xD9:
            frame = data[start : i + 2]
            if frame[:2] != b"\xff\xd8":
                raise ValueError(f"frame {len(frames)} does not start with SOI")
            frames.append(frame)
            i += 2
            start = i
        else:
            i += 1
    if start != n:
        raise ValueError("trailing bytes after last EOI")
    if not frames:
        raise ValueError("no JPEG frames in stream")
    return frames


def _sample_decode_frames(
    frames: list[bytes], every_n: int, decoder, on_error: str
) -> list[tuple[int, int | None, int | None, bytes | None]]:
    """Shared temporal-subsample + decode tail for the MJPEG/AVI
    samplers. `on_error` is the PER-FRAME degradation contract (the
    frame-level analogue of `map_media_batches(on_error=...)`):
    'raise' fails the whole blob on the first bad frame, 'null' keeps
    the kept-frame slot with (idx, None, None, None) so downstream
    counts stay aligned, 'skip' drops it silently."""
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    if on_error not in ("raise", "null", "skip"):
        raise ValueError(f"on_error must be raise|null|skip, got {on_error!r}")
    out = []
    for idx, frame in enumerate(frames):
        if idx % every_n:
            continue
        try:
            w, h, px = decoder(frame)
        except ValueError:
            if on_error == "raise":
                raise
            if on_error == "null":
                out.append((idx, None, None, None))
            continue
        out.append((idx, w, h, px))
    return out


def sample_mjpeg_gray8(
    data: bytes, every_n: int, decoder=None, on_error: str = "raise"
) -> list[tuple[int, int, int, bytes]]:
    """REAL library-free video sampling: split an MJPEG stream, keep
    every `every_n`-th frame, and fully decode each kept frame
    (`decoder` defaults to `decode_jpeg_gray8`, which reads baseline
    and progressive frames alike; pass `decode_jpeg_color` for color
    camera streams). Returns
    [(frame_idx, width, height, pixels), ...] — the temporal-subsample
    + decode stage a video curation pipeline runs before feature
    extraction. See `_sample_decode_frames` for the per-frame
    `on_error` degradation contract."""
    return _sample_decode_frames(
        split_mjpeg(data), every_n, decoder or decode_jpeg_gray8, on_error
    )


# --- AVI (RIFF) MJPG container: writer, prober, demuxer ---------------------
# The standard camera/capture container for MJPEG payloads. RIFF is a
# plain tagged-chunk format (little-endian, even-padded), so a writer,
# a structure prober, and a frame demuxer are all stdlib `struct`
# work — composed with the real JPEG codec this gives a full
# container-to-pixels video path; inter-frame codecs (H.264+) need a
# codec library and are out of scope.


def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    import struct as _s

    pad = b"\x00" if len(body) % 2 else b""
    return tag + _s.pack("<I", len(body)) + body + pad


def _riff_list(kind: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", kind + body)


def encode_avi_mjpg(
    width: int, height: int, frames: list[bytes], fps: int = 30
) -> bytes:
    """Write a minimal valid AVI-MJPG file: RIFF('AVI ') with an hdrl
    list (avih main header + one 'vids'/'MJPG' stream with a
    BITMAPINFOHEADER) and a movi list of '00dc' chunks, one JPEG frame
    each. Deterministic bytes for deterministic inputs."""
    import struct as _s

    if not frames:
        raise ValueError("need at least one frame")
    max_bytes = max(len(f) for f in frames)
    usec = 1_000_000 // fps
    avih = _s.pack(
        "<14I",
        # usec/frame, bytes/sec, padding, flags=0 (no idx1 chunk is
        # written, so AVIF_HASINDEX must NOT be promised)
        usec, max_bytes * fps, 0, 0,
        len(frames), 0, 1, max_bytes,  # total frames, initial, streams, bufsize
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + _s.pack("<10I", 0, 0, 0, 1, fps, 0, len(frames), max_bytes, 0xFFFFFFFF, 0)
        + _s.pack("<4H", 0, 0, width, height)
    )
    strf = _s.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", width * height * 3, 0, 0, 0, 0,
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(b"movi", b"".join(_riff_chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + _s.pack("<I", len(body)) + body


def _walk_riff(data: bytes, start: int, end: int):
    """Yield (tag, body_start, body_len) over a RIFF chunk run."""
    import struct as _s

    i = start
    while i + 8 <= end:
        tag = data[i : i + 4]
        (ln,) = _s.unpack_from("<I", data, i + 4)
        if i + 8 + ln > end:
            raise ValueError(f"truncated RIFF chunk {tag!r}")
        yield tag, i + 8, ln
        i += 8 + ln + (ln % 2)  # even padding


def _walk_movi(data: bytes, start: int, end: int):
    """Yield (tag, body_start, body_len) for the video chunks of a movi
    run, RECURSING into LIST('rec ') groups — interleaved-playback AVIs
    (most capture software) wrap their frame chunks in rec lists."""
    for tag, bs, ln in _walk_riff(data, start, end):
        if tag == b"LIST" and data[bs : bs + 4] == b"rec ":
            yield from _walk_movi(data, bs + 4, bs + ln)
        elif tag[2:4] in (b"dc", b"db"):
            yield tag, bs, ln


@_malformed_raises_value_error
def probe_avi(data: bytes) -> tuple[int, int, int, int, int, int]:
    """REAL AVI structure probe (stdlib struct): walks the RIFF tree
    and returns (width, height, n_frames, usec_per_frame,
    n_video_chunks, video_bytes) — the corpus-filtering first pass
    before paying demux+decode cost. Dimensions come from the FIRST
    'vids' stream's strf (an audio strl's WAVEFORMATEX must not clobber
    them); frame chunks are counted through 'rec ' groups. Raises
    ValueError on anything malformed or non-AVI."""
    import struct as _s

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI (bad RIFF header)")
    (riff_len,) = _s.unpack_from("<I", data, 4)
    if 8 + riff_len > len(data):
        raise ValueError("truncated RIFF body")
    width = height = n_frames = usec = None
    n_chunks = 0
    vbytes = 0
    for tag, bs, ln in _walk_riff(data, 12, 8 + riff_len):
        if tag == b"LIST":
            kind = data[bs : bs + 4]
            if kind == b"hdrl":
                for t2, b2, l2 in _walk_riff(data, bs + 4, bs + ln):
                    if t2 == b"avih":
                        usec, _bps, _pad, _flags, n_frames = _s.unpack_from(
                            "<5I", data, b2
                        )
                    elif t2 == b"LIST" and data[b2 : b2 + 4] == b"strl":
                        # dims only from a VIDEO stream's format chunk:
                        # strh declares the type, strf follows it
                        is_vids = False
                        for t3, b3, l3 in _walk_riff(data, b2 + 4, b2 + l2):
                            if t3 == b"strh":
                                is_vids = data[b3 : b3 + 4] == b"vids"
                            elif t3 == b"strf" and is_vids and width is None:
                                _sz, width, height = _s.unpack_from("<Iii", data, b3)
            elif kind == b"movi":
                for t2, b2, l2 in _walk_movi(data, bs + 4, bs + ln):
                    n_chunks += 1
                    vbytes += l2
    if width is None or n_frames is None:
        raise ValueError("missing avih/vids-strf headers")
    return (int(width), int(height), int(n_frames), int(usec), n_chunks, vbytes)


@_malformed_raises_value_error
def demux_avi_mjpg(data: bytes) -> list[bytes]:
    """Extract the compressed video frames ('00dc'/'00db' chunk
    payloads, including inside 'rec ' groups) from an AVI in stream
    order — for MJPG streams each payload is a complete baseline JPEG,
    decodable by `decode_jpeg_gray8`/`decode_jpeg_color`."""
    import struct as _s

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI (bad RIFF header)")
    (riff_len,) = _s.unpack_from("<I", data, 4)
    frames = []
    for tag, bs, ln in _walk_riff(data, 12, min(8 + riff_len, len(data))):
        if tag == b"LIST" and data[bs : bs + 4] == b"movi":
            for t2, b2, l2 in _walk_movi(data, bs + 4, bs + ln):
                frames.append(data[b2 : b2 + l2])
    if not frames:
        raise ValueError("no video chunks in AVI")
    return frames


def sample_avi_mjpg_gray8(
    data: bytes, every_n: int, decoder=None, on_error: str = "raise"
) -> list[tuple[int, int, int, bytes]]:
    """Container-to-pixels video sampling, fully library-free: demux
    the AVI, keep every `every_n`-th frame, decode each kept frame
    (`decoder` defaults to `decode_jpeg_gray8`, baseline or progressive
    frames; pass `decode_jpeg_color` for color MJPG cameras). Same
    return shape and per-frame `on_error`
    degradation contract as `sample_mjpeg_gray8`."""
    return _sample_decode_frames(
        demux_avi_mjpg(data), every_n, decoder or decode_jpeg_gray8, on_error
    )


SAMPLED_VIDEO_SCHEMA = StructType(
    [
        StructField("n_frames_in", LongType()),
        StructField("n_frames_out", LongType()),
        StructField("sampled", BinaryType()),
        StructField("first_frame_sum", LongType()),
        StructField("last_frame_sum", LongType()),
    ]
)


def frame_sample_gray8_batches(
    df: DataFrame,
    binary_col: str,
    w_col: str,
    h_col: str,
    every_n: int = 3,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """REAL video frame sampling — keep every `every_n`-th frame of a raw
    gray8 frame stream (row-major w*h bytes per frame, frames
    concatenated) via numpy strided slicing, no video library. Compressed
    containers need a library decoder first; this is the
    post-decode sampling stage, Arrow-batched, shuffle-free. Emits exact
    integer features (per-frame pixel sums) so a deterministic generator
    is closed-form verifiable.
    """
    import numpy as np

    def sample(data, w, h):
        frames = np.frombuffer(data, dtype=np.uint8).reshape(-1, int(w) * int(h))
        sampled = frames[::every_n]
        sums = sampled.astype(np.int64).sum(axis=1)
        return (
            int(frames.shape[0]),
            int(sampled.shape[0]),
            sampled.tobytes(),
            int(sums[0]) if len(sums) else None,
            int(sums[-1]) if len(sums) else None,
        )

    return _map_rows(
        df, [binary_col, w_col, h_col], SAMPLED_VIDEO_SCHEMA, sample, passthrough
    )


# --- image: REAL GIF codec (stdlib-only LZW, grayscale palette) ------------
#
# GIF's LZW is lossless, so a full encode->decode round trip is exact —
# like PNG this needs no imaging library: header + logical screen
# descriptor + 256-entry grayscale palette + image descriptor + GIF-LZW
# (variable-width codes, LSB-first bit packing, clear/EOI, 4096-entry
# dict) in 255-byte sub-blocks. With PNG/GIF decoded and JPEG/mp4
# structure-probed (below), only lossy-codec PIXEL decode remains
# library-gated.


def _gif_lzw_encode(indices: bytes, min_code_size: int = 8) -> bytes:
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(1 << min_code_size)}
    next_code = eoi + 1
    width = min_code_size + 1
    out = bytearray()
    acc = n_bits = 0

    def emit(code: int) -> None:
        nonlocal acc, n_bits
        acc |= code << n_bits
        n_bits += width
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8

    emit(clear)
    prefix = b""
    for b in indices:
        cand = prefix + bytes([b])
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix])
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        elif next_code > 4095:
            emit(clear)
            table = {bytes([i]): i for i in range(1 << min_code_size)}
            next_code = eoi + 1
            width = min_code_size + 1
        prefix = bytes([b])
    if prefix:
        emit(table[prefix])
    emit(eoi)
    if n_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, min_code_size: int, expected: int) -> bytes:
    """Decode a GIF-LZW stream of `expected` indices; a stream that
    decodes past that size raises as soon as it does, so a small blob
    cannot expand to megabytes before its size is checked."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(1 << min_code_size)] + [b"", b""]
    out = bytearray()
    acc = n_bits = pos = 0
    prev: bytes | None = None
    while True:
        while n_bits < width:
            if pos >= len(data):
                raise ValueError("LZW stream ended without EOI")
            acc |= data[pos] << n_bits
            pos += 1
            n_bits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        n_bits -= width
        if code == clear:
            table = table[: (1 << min_code_size) + 2]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table):
            entry = table[code]
            if prev is not None:
                table.append(prev + entry[:1])
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"bad LZW code {code}")
        out += entry
        if len(out) > expected:
            raise ValueError("decoded pixel count mismatch")
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry


def encode_gif_gray8(w: int, h: int, pixels: bytes) -> bytes:
    """Encode a raw gray8 bitmap as a valid GIF89a (stdlib only):
    256-entry grayscale palette, real variable-width LZW."""
    import struct

    if len(pixels) != w * h:
        raise ValueError(f"expected {w * h} pixels, got {len(pixels)}")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # global table, 256 colors
    for i in range(256):
        out += bytes((i, i, i))  # grayscale palette: index == intensity
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)  # image descriptor
    out.append(8)  # LZW min code size
    lzw = _gif_lzw_encode(pixels)
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


@_malformed_raises_value_error
def decode_gif_gray8(data: bytes) -> tuple[int, int, bytes]:
    """REAL GIF decode for non-interlaced single-frame grayscale GIFs —
    stdlib only: header/LSD parse, palette read, sub-block reassembly,
    full variable-width LZW decompression. Returns (width, height,
    row-major gray8 bytes — palette's red channel applied, so the round
    trip with `encode_gif_gray8` is the identity). Raises ValueError on
    malformed input; pair with `map_media_batches(on_error="null")` for
    per-row corrupt-blob tolerance."""
    import struct

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(data) < 13:
        raise ValueError("truncated logical screen descriptor")
    w, h, packed, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    palette = None
    if packed & 0x80:
        n_colors = 2 << (packed & 0x07)
        palette = data[pos : pos + 3 * n_colors]
        if len(palette) != 3 * n_colors:
            raise ValueError("truncated global color table")
        pos += 3 * n_colors
    while pos < len(data):
        marker = data[pos]
        if marker == 0x21:  # extension: label + sub-blocks, skip
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif marker == 0x2C:  # image descriptor
            ix, iy, iw, ih, ipacked = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
            pos += 10
            if ipacked & 0x40:
                raise ValueError("interlaced GIF not supported")
            if ipacked & 0x80:  # local color table overrides
                n_colors = 2 << (ipacked & 0x07)
                palette = data[pos : pos + 3 * n_colors]
                pos += 3 * n_colors
            if palette is None:
                raise ValueError("no color table")
            min_code = data[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(data) and data[pos] != 0:
                n = data[pos]
                lzw += data[pos + 1 : pos + 1 + n]
                pos += 1 + n
            if pos >= len(data):
                raise ValueError("truncated image data")
            indices = _gif_lzw_decode(bytes(lzw), min_code, iw * ih)
            if len(indices) != iw * ih:
                raise ValueError("decoded pixel count mismatch")
            if max(indices, default=0) * 3 + 3 > len(palette):
                raise ValueError("pixel index outside color table")
            return (int(iw), int(ih), bytes(palette[3 * i] for i in indices))
        elif marker == 0x3B:
            break
        else:
            raise ValueError(f"unknown block marker {marker:#x}")
    raise ValueError("no image descriptor found")


def decode_gif_features(data: bytes) -> tuple[int, int, int, int, int, int, int]:
    """GIF decode to the same exact integer feature tuple as
    `decode_png_features` (width, height, bit_depth, channels, p00,
    p_last, pixel_sum)."""
    w, h, px = decode_gif_gray8(data)
    return (w, h, 8, 1, px[0], px[-1], sum(px))


# --- image: REAL JPEG header/marker prober (stdlib only) -------------------
#
# Full baseline JPEG decode exists further down (gray8 AND color codecs),
# but the marker stream is plain structure: SOI, length-prefixed
# segments, entropy-coded scan with 0xFF00 stuffing, EOI. Probing
# dimensions/components/table counts without decoding is the standard
# first pass over image corpora (filter by size/type before paying
# decode cost).


def encode_jpeg_skeleton(w: int, h: int) -> bytes:
    """Minimal VALID baseline JPEG: solid-gray image, one component,
    one quant table, trivial huffman tables where DC-category-0 and EOB
    each take a single '0' bit — so every 8x8 MCU encodes in exactly 2
    bits and the scan length is closed-form: ceil(2*ceil(w/8)*ceil(h/8)
    / 8) bytes, with no 0xFF stuffing ever needed. The structural twin
    for probe testing, like `encode_mp4_skeleton`."""
    import struct

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", 2 + len(payload)) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    out += seg(0xDB, bytes([0]) + bytes([16] * 64))  # DQT table 0
    # SOF0: precision 8, h, w, 1 component (id 1, sampling 1x1, qtable 0)
    out += seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes((1, 0x11, 0)))
    # DHT: one code of length 1 (bit '0') for symbol 0x00 — DC cat 0 / AC EOB
    tiny = bytes([1] + [0] * 15 + [0x00])
    out += seg(0xC4, bytes([0x00]) + tiny)  # DC table 0
    out += seg(0xC4, bytes([0x10]) + tiny)  # AC table 0
    out += seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))  # SOS: 1 component
    mcus = ((w + 7) // 8) * ((h + 7) // 8)
    n_bits = 2 * mcus  # per MCU: DC '0' + EOB '0'
    n_bytes = (n_bits + 7) // 8
    scan = bytearray(n_bytes)
    pad = n_bytes * 8 - n_bits
    if pad:
        scan[-1] = (1 << pad) - 1  # 1-padding per the spec
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


@_malformed_raises_value_error
def probe_jpeg(data: bytes) -> tuple[int, int, int, int, int, int, int]:
    """REAL JPEG structure probe — walks the marker stream with no
    decoding: SOF dimensions and component count, DQT/DHT table counts,
    baseline-vs-progressive flag, entropy-coded scan bytes (skipping
    0xFF00 stuffing and restart markers).

    Returns (width, height, n_components, n_quant_tables,
    n_huffman_tables, progressive, scan_bytes). Raises ValueError on
    malformed streams (no SOI, bad segment length, missing EOI).
    """
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    w = h = ncomp = ndqt = ndht = scan_bytes = 0
    progressive = 0
    saw_eoi = False
    pos = 2
    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            saw_eoi = True
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone
            continue
        if pos + 2 > len(data):
            raise ValueError("truncated segment header")
        ln = int.from_bytes(data[pos : pos + 2], "big")
        if ln < 2 or pos + ln > len(data):
            raise ValueError(f"bad segment length {ln}")
        body = data[pos + 2 : pos + ln]
        if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2
            progressive = int(marker == 0xC2)
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            ncomp = body[5]
        elif marker == 0xDB:
            ndqt += 1
        elif marker == 0xC4:
            ndht += 1
        pos += ln
        if marker == 0xDA:  # entropy-coded scan follows
            start = pos
            while pos + 1 < len(data) and not (
                data[pos] == 0xFF
                and data[pos + 1] != 0x00
                and not 0xD0 <= data[pos + 1] <= 0xD7
            ):
                pos += 1
            scan_bytes += pos - start
    if not saw_eoi:
        raise ValueError("no EOI marker")
    return (int(w), int(h), int(ncomp), ndqt, ndht, progressive, scan_bytes)


PROBED_JPEG_SCHEMA = StructType(
    [
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_components", LongType()),
        StructField("n_quant_tables", LongType()),
        StructField("n_huffman_tables", LongType()),
        StructField("progressive", LongType()),
        StructField("scan_bytes", LongType()),
    ]
)


# --- video: REAL mp4 container STRUCTURE parser (stdlib struct) ------------
#
# ISO BMFF (mp4) is a box tree: [size:u32][type:4cc][payload], size==1 ->
# 64-bit largesize follows, size==0 -> box extends to EOF; container
# boxes (moov/trak/mdia/minf/stbl) nest children. Walking the tree and
# reading mvhd gives brand, track count, timescale and duration with no
# codec work at all — the standard "probe" pass a media pipeline runs
# over every blob before deciding what to decode. Sample DECODE still
# requires a codec library and is out of scope.

_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def encode_mp4_skeleton(
    n_tracks: int, timescale: int, duration: int, mdat_payload: bytes
) -> bytes:
    """Minimal valid ISO-BMFF skeleton: ftyp + moov(mvhd + n empty trak)
    + mdat. Enough structure for any box-walking probe; carries no
    playable samples (this is the structural twin, like the raw-gray8
    frame stream is the pixel twin)."""
    import struct

    def box(tag: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + tag + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    # mvhd version 0: version/flags, creation, modification, timescale,
    # duration, then rate/volume/reserved/matrix/predefined/next_track
    mvhd = box(
        b"mvhd",
        struct.pack(">I", 0)
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, duration)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)  # volume
        + b"\x00" * 10
        + struct.pack(">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", n_tracks + 1),
    )
    tkhd_payload = struct.pack(">I", 0) + b"\x00" * 80
    traks = b"".join(box(b"trak", box(b"tkhd", tkhd_payload)) for _ in range(n_tracks))
    moov = box(b"moov", mvhd + traks)
    mdat = box(b"mdat", mdat_payload)
    return ftyp + moov + mdat


@_malformed_raises_value_error
def probe_mp4(data: bytes) -> tuple[str, int, int, int, int, int]:
    """REAL mp4 structure probe — walks the box tree with stdlib
    `struct` only: validates sizes, recurses into containers, reads the
    ftyp major brand and mvhd timescale/duration, counts tracks and the
    mdat payload bytes.

    Returns (major_brand, n_top_boxes, n_tracks, timescale, duration,
    mdat_bytes). Raises ValueError on malformed structure (truncated
    box, undersized header) — pair with `map_media_batches(
    on_error="null")` for per-row tolerance.
    """
    import struct

    brand, n_top, n_tracks, timescale, duration, mdat_bytes = "", 0, 0, 0, 0, 0

    def walk(lo: int, hi: int, depth: int) -> None:
        nonlocal brand, n_top, n_tracks, timescale, duration, mdat_bytes
        pos = lo
        while pos < hi:
            if pos + 8 > hi:
                raise ValueError("truncated box header")
            (size,), tag = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
            body = pos + 8
            if size == 0:
                end = hi
            elif size == 1:
                if body + 8 > hi:
                    raise ValueError("truncated largesize")
                (size,) = struct.unpack(">Q", data[body : body + 8])
                body += 8
                if size < 16:  # 8 header + 8 largesize minimum
                    raise ValueError(f"bad largesize {size} for {tag!r}")
                end = pos + size
            else:
                end = pos + size
            if size != 0 and (size < 8 or end > hi or end < body):
                raise ValueError(f"bad box size {size} for {tag!r}")
            if depth == 0:
                n_top += 1
            if tag == b"ftyp":
                brand = data[body : body + 4].decode("ascii", "replace")
            elif tag == b"trak":
                n_tracks += 1
            elif tag == b"mdat":
                mdat_bytes += end - body
            elif tag == b"mvhd":
                version = data[body]
                if version == 0:
                    timescale, duration = struct.unpack(
                        ">II", data[body + 12 : body + 20]
                    )
                else:  # version 1: 64-bit times
                    timescale, = struct.unpack(">I", data[body + 20 : body + 24])
                    duration, = struct.unpack(">Q", data[body + 24 : body + 32])
            if tag in _MP4_CONTAINERS:
                walk(body, end, depth + 1)
            pos = end

    if len(data) < 8 or data[4:8] != b"ftyp":
        raise ValueError("not an mp4 (no leading ftyp)")
    walk(0, len(data), 0)
    return (brand, n_top, n_tracks, int(timescale), int(duration), mdat_bytes)


PROBED_MP4_SCHEMA = StructType(
    [
        StructField("major_brand", StringType()),
        StructField("n_top_boxes", LongType()),
        StructField("n_tracks", LongType()),
        StructField("timescale", LongType()),
        StructField("duration", LongType()),
        StructField("mdat_bytes", LongType()),
    ]
)


#: deterministic mp4-skeleton parameters (shared with the analytic
#: oracle): n_tracks = 1 + seed % 3, duration = 1000 + (37*seed) % 9000,
#: mdat = 64 + seed % 129 bytes
MP4_TRACKS = (1, 3)
MP4_DUR = (1000, 37, 9000)
MP4_MDAT = (64, 129)
MP4_TIMESCALE = 1000


def synth_mp4(seed: int) -> bytes:
    """Deterministic mp4 skeleton from an integer seed."""
    n_tracks = MP4_TRACKS[0] + seed % MP4_TRACKS[1]
    duration = MP4_DUR[0] + (MP4_DUR[1] * seed) % MP4_DUR[2]
    mdat = bytes((seed + i) % 256 for i in range(MP4_MDAT[0] + seed % MP4_MDAT[1]))
    return encode_mp4_skeleton(n_tracks, MP4_TIMESCALE, duration, mdat)


#: deterministic gray8 video parameters (shared with the analytic oracle):
#: w = 8 + seed % 9, h = 8 + (3*seed) % 11, F = 10 + seed % 13,
#: pixel(x, y, f) = (seed + 7*x + 13*y + 17*f) % 256
GRAY8V_W = (8, 9)
GRAY8V_H = (8, 3, 11)
GRAY8V_F = (10, 13)


def synth_gray_video(seed: int) -> tuple[int, int, int, bytes]:
    """Deterministic raw gray8 frame stream from an integer seed; returns
    (width, height, n_frames, concatenated frame bytes)."""
    import numpy as np

    w = GRAY8V_W[0] + seed % GRAY8V_W[1]
    h = GRAY8V_H[0] + (GRAY8V_H[1] * seed) % GRAY8V_H[2]
    n = GRAY8V_F[0] + seed % GRAY8V_F[1]
    f, y, x = np.mgrid[0:n, 0:h, 0:w]
    vid = (seed + 7 * x + 13 * y + 17 * f) % 256
    return (w, h, n, vid.astype("uint8").tobytes())


# --- audio: REAL codec (stdlib `wave`, no external library) ----------------

DECODED_AUDIO_SCHEMA = StructType(
    [
        StructField("n_channels", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_frames", LongType()),
        StructField("bit_depth", LongType()),
        StructField("peak_abs", LongType()),
        StructField("mean_square", LongType()),
    ]
)


def encode_wav_pcm16(samples: list[int], sample_rate: int = 8000) -> bytes:
    """Encode mono 16-bit PCM samples as a WAV blob (stdlib `wave`):
    canonical 44-byte RIFF/fmt/data header + 2 bytes per frame."""
    import array
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(array.array("h", samples).tobytes())
    return buf.getvalue()


@_malformed_raises_value_error
def decode_wav(data: bytes) -> tuple[int, int, int, int, int, int]:
    """REAL audio decode — parses the WAV container and the PCM frames
    with the stdlib `wave` module (unlike the image/video codecs, no
    external library is needed, so this path is not stubbed).

    Returns (n_channels, sample_rate, n_frames, bit_depth, peak_abs,
    mean_square); the amplitude features are exact integers
    (max |sample| and floor-mean of sample^2), so a deterministic
    generator's output is oracle-predictable bit-for-bit.
    """
    import array
    import io
    import wave

    try:
        with wave.open(io.BytesIO(data), "rb") as w:
            n_channels = w.getnchannels()
            sample_rate = w.getframerate()
            n_frames = w.getnframes()
            bit_depth = w.getsampwidth() * 8
            frames = w.readframes(n_frames)
    except RuntimeError as exc:
        # stdlib wave raises a BARE RuntimeError on some malformed chunk
        # sizes (cpython wave.py); keep it inside the ValueError contract
        # here rather than catching RuntimeError globally in the decorator
        raise ValueError(f"malformed wav: {exc or 'chunk parse error'}") from exc
    if bit_depth != 16:
        raise ValueError(f"only 16-bit PCM supported, got {bit_depth}-bit")
    pcm = array.array("h")
    pcm.frombytes(frames)
    peak = max((abs(x) for x in pcm), default=0)
    msq = sum(x * x for x in pcm) // len(pcm) if len(pcm) else 0
    return (n_channels, sample_rate, n_frames, bit_depth, peak, msq)


# --- image: REAL resize (numpy nearest-neighbor on raw gray8) --------------

RESIZED_IMAGE_SCHEMA = StructType(
    [
        StructField("thumb", BinaryType()),
        StructField("thumb_w", LongType()),
        StructField("thumb_h", LongType()),
        StructField("p00", LongType()),  # corner pixels: exact features
        StructField("p_last", LongType()),
        StructField("pixel_sum", LongType()),
    ]
)


def resize_gray8_batches(
    df: DataFrame,
    binary_col: str,
    w_col: str,
    h_col: str,
    out_w: int = 8,
    out_h: int = 8,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """REAL image resize — nearest-neighbor downscale of raw 8-bit
    grayscale bitmaps (row-major w*h bytes) with numpy, no imaging
    library: source index = (dst * src_extent) // dst_extent, the
    standard floor-mapping, so every output pixel (and the integer
    features derived from them) is exactly reproducible by closed-form
    arithmetic — which is how the oracle verifies this stage.

    Container formats decode to a raw bitmap first (the library-free
    PNG/GIF/JPEG codecs in this module, or an injected library codec
    for other formats); this is the post-decode resize stage,
    Arrow-batched and shuffle-free like the other media stages.
    """
    import numpy as np

    def thumbnail(data, w, h):
        img = np.frombuffer(data, dtype=np.uint8).reshape(int(h), int(w))
        ys = (np.arange(out_h) * int(h)) // out_h
        xs = (np.arange(out_w) * int(w)) // out_w
        thumb = img[np.ix_(ys, xs)]
        return (
            thumb.tobytes(),
            out_w,
            out_h,
            int(thumb.flat[0]),
            int(thumb.flat[-1]),
            int(thumb.astype(np.int64).sum()),
        )

    return _map_rows(
        df, [binary_col, w_col, h_col], RESIZED_IMAGE_SCHEMA, thumbnail, passthrough
    )


# --- image: REAL PNG codec (stdlib zlib + struct, no external library) -----
#
# PNG is one format whose color type is a field of IHDR, so it has one
# encoder (`encode_png`, color type derived from its inputs) and one
# decoder (`decode_png`: gray8, truecolor, paletted and truecolor+alpha,
# plain or Adam7): chunk walk with CRC verification, one size-capped
# zlib inflate, then per-scanline unfiltering (the five standard
# filters: None/Sub/Up/Average/Paeth, with the bpp-back left neighbor
# for multi-byte pixels). JPEG has its own real codec further down.

PNG_SIG = b"\x89PNG\r\n\x1a\n"


#: Adam7 interlace pass geometry: (x0, y0, dx, dy) per pass, in stream
#: order (PNG spec 8.2). Pass p covers pixels (x0 + j*dx, y0 + i*dy);
#: empty passes (zero rows or columns at this image size) contribute no
#: scanlines to the stream.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _filter_scanlines(img, bpp: int, filter_cycle: bool) -> bytearray:
    """Filter one (sub-)image's rows into PNG scanline bytes.

    `img` is an int16 ndarray of shape (h, w*bpp). `filter_cycle=True`
    applies filter type y % 5 to row y so a single image exercises every
    filter. Every encode filter references ORIGINAL pixel values, so all
    five vectorize as whole-image numpy shifts — no per-pixel Python.
    Multi-byte pixels filter against the byte `bpp` positions back (per
    the PNG spec), the same shift with a wider stride.
    """
    import numpy as np

    h = img.shape[0]
    left = np.zeros_like(img)
    left[:, bpp:] = img[:, :-bpp]
    up = np.zeros_like(img)
    up[1:, :] = img[:-1, :]
    upleft = np.zeros_like(img)
    upleft[1:, bpp:] = img[:-1, :-bpp]
    # Paeth predictor, elementwise
    p = left + up - upleft
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
    paeth = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
    filtered = np.stack(
        [
            img,                     # 0 None
            img - left,              # 1 Sub
            img - up,                # 2 Up
            img - (left + up) // 2,  # 3 Average
            img - paeth,             # 4 Paeth
        ]
    ).astype(np.uint8)
    fts = (np.arange(h) % 5) if filter_cycle else np.zeros(h, dtype=np.int64)
    raw = bytearray()
    for y in range(h):
        ft = int(fts[y])
        raw.append(ft)
        raw += filtered[ft, y].tobytes()
    return raw


def encode_png(
    w: int,
    h: int,
    pixels: bytes,
    palette: bytes | None = None,
    trns: bytes | None = None,
    filter_cycle: bool = True,
    interlace: bool = False,
) -> bytes:
    """Encode a raw bitmap as a valid 8-bit PNG (stdlib + numpy). The
    color type follows from the inputs: with a `palette` (interleaved
    RGB, len % 3 == 0, <= 256 entries; optional per-entry alpha in
    `trns`) `pixels` are 1-byte indices and the image is color type 3;
    otherwise 1, 3 or 4 bytes per pixel give gray (0), truecolor (2) or
    truecolor+alpha (6). Palette rows filter their INDEX bytes, as the
    spec says.

    `filter_cycle=True` applies filter type y % 5 to row y, so a single
    encoded image exercises every scanline filter the decoder must
    unfilter — the round trip covers the whole filter surface.

    Filtering work lives in `_filter_scanlines`; with `interlace=True`
    the image is split into the seven Adam7 pass sub-images (stream
    order, empty passes skipped) and each pass is filtered as its own
    image — per spec, a pass's first row has no "up" neighbor even when
    the pixels above it exist in the full image.
    """
    import struct
    import zlib

    import numpy as np

    extra = []
    if palette is not None:
        if len(palette) % 3 or not 3 <= len(palette) <= 256 * 3:
            raise ValueError(f"ragged palette (length {len(palette)})")
        if max(pixels, default=0) >= len(palette) // 3:
            raise ValueError("palette index out of range")
        if trns is not None and len(trns) > len(palette) // 3:
            raise ValueError("tRNS longer than palette")
        extra = [(b"PLTE", palette)] + ([(b"tRNS", trns)] if trns is not None else [])
        bpp, color_type = 1, 3
    elif trns is not None:
        raise ValueError("tRNS needs a palette")
    else:
        bpp = len(pixels) // (w * h) if w * h else 1
        if bpp not in _PNG_COLOR_TYPES:
            raise ValueError(f"{len(pixels)} pixel bytes is not 1, 3 or 4 per pixel")
        color_type = _PNG_COLOR_TYPES[bpp]
    if len(pixels) != w * h * bpp:
        raise ValueError(f"expected {w * h * bpp} pixel bytes, got {len(pixels)}")
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, bpp)
    raw = bytearray()
    if interlace:
        for x0, y0, dx, dy in _ADAM7:
            sub = arr[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            hp, wp = sub.shape[0], sub.shape[1]
            raw += _filter_scanlines(
                sub.reshape(hp, wp * bpp).astype(np.int16), bpp, filter_cycle
            )
    else:
        raw += _filter_scanlines(
            arr.reshape(h, w * bpp).astype(np.int16), bpp, filter_cycle
        )

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, int(interlace))
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + b"".join(chunk(t, b) for t, b in extra)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


#: bytes per pixel of a non-paletted bitmap -> PNG color type
_PNG_COLOR_TYPES = {1: 0, 3: 2, 4: 6}

#: PNG color type -> bytes per pixel IN THE FILTERED SCANLINES
#: (palette rows carry 1-byte indices; expansion to RGB happens after
#: unfiltering). Supported: gray8, truecolor, paletted, truecolor+alpha.
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 6: 4}


def _unfilter_scanlines(raw: bytes, h: int, rw: int, bpp: int):
    """Unfilter `h` PNG scanlines of `rw` reconstructed bytes each into
    a (h, rw) uint8 ndarray. None/Sub/Up vectorize (copy / per-channel
    mod-256 cumsum / add-prev); Average and Paeth reference
    RECONSTRUCTED left neighbors, so those rows run a per-pixel loop —
    2 of 5 row types on cycled input."""
    import numpy as np

    rows = np.frombuffer(bytes(raw), dtype=np.uint8).reshape(h, rw + 1)
    fts = rows[:, 0]
    lines = rows[:, 1:].astype(np.int16)
    out = np.zeros((h, rw), dtype=np.int16)
    prev = np.zeros(rw, dtype=np.int16)
    for y in range(h):
        ft = int(fts[y])
        line = lines[y]
        if ft == 0:
            rec = line
        elif ft == 1:  # Sub: per-channel prefix sum mod 256
            rec = (
                np.cumsum(line.reshape(rw // bpp, bpp), axis=0, dtype=np.int64)
                & 0xFF
            ).reshape(rw)
        elif ft == 2:  # Up
            rec = (line + prev) & 0xFF
        elif ft in (3, 4):  # Average / Paeth: sequential left-dependency
            # r17: plain-list loop with the Paeth predictor inlined —
            # numpy SCALAR indexing in this per-byte recurrence was
            # 55-82% of the whole PNG decode (cProfile); identical
            # arithmetic on the identical ints, ~5x faster. For the
            # first bpp bytes a == c == 0, so Average reduces to b//2
            # and Paeth's predictor reduces to b (pb == 0 wins unless
            # b == 0, where a == b == 0 — same value).
            ln = line.tolist()
            pv = prev.tolist()
            rc: list[int] = []
            ap = rc.append
            if ft == 3:
                for x in range(bpp):
                    ap((ln[x] + (pv[x] >> 1)) & 0xFF)
                for x in range(bpp, rw):
                    ap((ln[x] + ((rc[x - bpp] + pv[x]) >> 1)) & 0xFF)
            else:
                for x in range(bpp):
                    ap((ln[x] + pv[x]) & 0xFF)
                for x in range(bpp, rw):
                    a = rc[x - bpp]
                    b = pv[x]
                    c = pv[x - bpp]
                    p = a + b - c
                    pa = p - a
                    if pa < 0:
                        pa = -pa
                    pb = p - b
                    if pb < 0:
                        pb = -pb
                    pc = p - c
                    if pc < 0:
                        pc = -pc
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = b
                    else:
                        pred = c
                    ap((ln[x] + pred) & 0xFF)
            rec = rc
        else:
            raise ValueError(f"bad filter type {ft}")
        out[y] = rec
        prev = out[y]
    return out.astype(np.uint8)


@_malformed_raises_value_error
def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """REAL PNG decode for 8-bit gray (color type 0), truecolor RGB
    (2), paletted (3, PLTE lookup + optional tRNS validation) and
    truecolor+alpha (6), both non-interlaced and Adam7-interlaced —
    stdlib `zlib` + `struct`: signature check, chunk walk with CRC
    verification, inflate, per-scanline unfiltering of all five filter
    types (multi-byte pixels unfilter against the byte `bpp` positions
    back, per spec). Adam7 streams unfilter each of the seven passes as
    an independent sub-image and scatter it to its pixel grid. Paletted
    indices expand to interleaved RGB AFTER unfiltering.

    The inflate stops one byte past the size IHDR implies, so a stream
    that decompresses to more than its header claims is rejected
    without being inflated in full.

    Returns (width, height, channels, row-major interleaved pixel
    bytes); channels is 1, 3 (truecolor or expanded palette) or 4.
    Raises ValueError on anything malformed (bad signature, CRC
    mismatch, truncated stream, unsupported color type or interlace
    method, missing/ragged PLTE, palette index or tRNS out of range) —
    pair with `map_media_batches(on_error="null")` for per-row
    corrupt-blob tolerance at corpus scale.
    """
    import struct
    import sys
    import zlib

    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, idat, w, h, bpp = 8, bytearray(), None, None, 1
    color_type, plte, trns, interlaced = None, None, None, 0
    while pos + 12 <= len(data):
        ln, tag = struct.unpack(">I4s", data[pos : pos + 8])
        body = data[pos + 8 : pos + 8 + ln]
        crc_bytes = data[pos + 8 + ln : pos + 12 + ln]
        if len(body) != ln or len(crc_bytes) != 4:
            raise ValueError("truncated chunk")
        (crc,) = struct.unpack(">I", crc_bytes)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlaced = struct.unpack(
                ">IIBBBBB", body
            )
            # interlace 0 (none) and 1 (Adam7) both decode; anything
            # else is spec-invalid
            if bit_depth != 8 or color_type not in _PNG_CHANNELS or interlaced > 1:
                raise ValueError(
                    f"unsupported PNG (bit_depth={bit_depth}, "
                    f"color_type={color_type}, interlace={interlaced})"
                )
            bpp = _PNG_CHANNELS[color_type]
        elif tag == b"PLTE":
            if ln % 3 or not 3 <= ln <= 256 * 3:
                raise ValueError(f"ragged PLTE (length {ln})")
            plte = body
        elif tag == b"tRNS":
            trns = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("missing IHDR")
    if color_type == 3:
        if plte is None:
            raise ValueError("paletted PNG missing PLTE")
        if trns is not None and len(trns) > len(plte) // 3:
            raise ValueError("tRNS longer than palette")
    # Adam7: the stream concatenates each non-empty pass's own filtered
    # scanlines; without interlacing the one pass is the whole image
    if interlaced:
        passes = [
            (x0, y0, dx, dy, (w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy)
            for x0, y0, dx, dy in _ADAM7
        ]
        passes = [p for p in passes if p[4] > 0 and p[5] > 0]
    else:
        passes = [(0, 0, 1, 1, w, h)]
    size = sum(hp * (wp * bpp + 1) for *_g, wp, hp in passes)
    inflate = zlib.decompressobj()
    raw = inflate.decompress(bytes(idat), min(size + 1, sys.maxsize))
    if len(raw) != size:
        raise ValueError("decompressed size mismatch")
    if not inflate.eof:
        raise ValueError("truncated IDAT stream")
    import numpy as np

    full = np.zeros((h, w, bpp), dtype=np.uint8)
    off = 0
    for x0, y0, dx, dy, wp, hp in passes:
        need = hp * (wp * bpp + 1)
        rec = _unfilter_scanlines(raw[off : off + need], hp, wp * bpp, bpp)
        full[y0::dy, x0::dx] = rec.reshape(hp, wp, bpp)
        off += need
    px = full.reshape(h, w * bpp)
    if color_type == 3:
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if int(px.max(initial=0)) >= len(pal):
            raise ValueError("palette index out of range")
        return (int(w), int(h), 3, pal[px.reshape(-1)].tobytes())
    return (int(w), int(h), bpp, px.tobytes())


DECODED_PNG_SCHEMA = StructType(
    [
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bit_depth", LongType()),
        StructField("channels", LongType()),
        StructField("p00", LongType()),
        StructField("p_last", LongType()),
        StructField("pixel_sum", LongType()),
    ]
)


@_malformed_raises_value_error
def decode_png_features(data: bytes) -> tuple[int, int, int, int, int, int, int]:
    """PNG feature probe for any supported color type (for
    `map_media_batches`): dimensions, the ACTUAL post-expansion channel
    count, first/last byte and the exact sum over all interleaved
    channel bytes — closed-form verifiable when the source bitmap is
    deterministic, and the per-blob stats row a media-curation pass
    keys on."""
    w, h, c, px = decode_png(data)
    return (w, h, 8, c, px[0], px[-1], sum(px))


#: deterministic gray8 test-image parameters (shared with the analytic
#: oracle): w = 16 + seed % 17, h = 16 + (3*seed) % 23,
#: pixel(x, y) = (seed + 7*x + 13*y) % 256
GRAY8_W = (16, 17)
GRAY8_H = (16, 3, 23)
GRAY8_PIX = (7, 13)


def synth_gray_image(seed: int) -> tuple[int, int, bytes]:
    """Deterministic raw gray8 bitmap from an integer seed; returns
    (width, height, row-major pixel bytes)."""
    import numpy as np

    w = GRAY8_W[0] + seed % GRAY8_W[1]
    h = GRAY8_H[0] + (GRAY8_H[1] * seed) % GRAY8_H[2]
    y, x = np.mgrid[0:h, 0:w]
    img = (seed + GRAY8_PIX[0] * x + GRAY8_PIX[1] * y) % 256
    return (w, h, img.astype("uint8").tobytes())


#: per-channel offset for the deterministic RGB bitmap (shared with the
#: analytic oracle): channel ch of pixel(x, y) =
#: (seed + 7*x + 13*y + 29*ch) % 256, dimensions as synth_gray_image
RGB8_CH = 29


def synth_rgb_image(seed: int) -> tuple[int, int, bytes]:
    """Deterministic raw interleaved RGB8 bitmap from an integer seed;
    returns (width, height, row-major R,G,B,R,G,B,... bytes)."""
    import numpy as np

    w = GRAY8_W[0] + seed % GRAY8_W[1]
    h = GRAY8_H[0] + (GRAY8_H[1] * seed) % GRAY8_H[2]
    y, x, ch = np.mgrid[0:h, 0:w, 0:3]
    img = (seed + GRAY8_PIX[0] * x + GRAY8_PIX[1] * y + RGB8_CH * ch) % 256
    return (w, h, img.astype("uint8").tobytes())


#: deterministic paletted-image parameters (shared with the analytic
#: oracle): n_colors = 16, index(x, y) = (seed + 7*x + 13*y) % 16,
#: palette entry i channel ch = (seed + (3 + 2*ch) * i) % 256,
#: tRNS alpha entry i (8 entries) = (seed + 11*i) % 256
PAL8_COLORS = 16
PAL8_CH = (3, 5, 7)
PAL8_TRNS = (8, 11)


def synth_palette_image(seed: int) -> tuple[int, int, bytes, bytes, bytes]:
    """Deterministic paletted bitmap from an integer seed; returns
    (width, height, index bytes, interleaved-RGB palette, tRNS bytes).
    Dimensions follow synth_gray_image."""
    import numpy as np

    w = GRAY8_W[0] + seed % GRAY8_W[1]
    h = GRAY8_H[0] + (GRAY8_H[1] * seed) % GRAY8_H[2]
    y, x = np.mgrid[0:h, 0:w]
    idx = (seed + GRAY8_PIX[0] * x + GRAY8_PIX[1] * y) % PAL8_COLORS
    i, ch = np.mgrid[0:PAL8_COLORS, 0:3]
    pal = (seed + (PAL8_CH[0] + 2 * ch) * i) % 256
    trns = bytes((seed + PAL8_TRNS[1] * i) % 256 for i in range(PAL8_TRNS[0]))
    return (
        w,
        h,
        idx.astype("uint8").tobytes(),
        pal.astype("uint8").tobytes(),
        trns,
    )


#: deterministic square-wave generator parameters (shared by the
#: synthesizer below and the analytic oracle in plans/multimodal_queries)
WAV_SAMPLE_RATE = 8000
WAV_FRAMES = (200, 300)  # n_frames = 200 + id % 300
WAV_AMP = (7919, 32000)  # amp = 1 + (id * 7919) % 32000


def synth_square_wav(seed: int) -> bytes:
    """Deterministic mono square wave from an integer seed: every sample
    is +/-amp, so peak_abs == amp and mean_square == amp^2 EXACTLY —
    the encode->decode round trip is verifiable by analytic SQL."""
    n = WAV_FRAMES[0] + seed % WAV_FRAMES[1]
    amp = 1 + (seed * WAV_AMP[0]) % WAV_AMP[1]
    samples = [amp if i % 2 == 0 else -amp for i in range(n)]
    return encode_wav_pcm16(samples, WAV_SAMPLE_RATE)


# --- JPEG codec (ITU T.81, pure numpy/stdlib) --------------------------------
# One frame-and-scan model for every JPEG this module writes or reads: a
# frame of 1 (gray) or 3 (YCbCr) components with sampling factors up to
# 2x2, carried either by one sequential scan (SOF0, optional DRI/RSTn
# restart intervals) or by a progressive scan script (SOF2: spectral
# selection, successive approximation, EOBn runs — Annex G). A
# grayscale frame is simply a 1-component frame, and a 1-component scan
# is non-interleaved: it covers the component's own block grid (A.2.2).
# `_write_jpeg` emits any such frame from its components, tables and
# scan script; `_read_jpeg` decodes any of them with one marker walk.
# The 2-D DCT is an 8x8 matrix product, quantization and Huffman tables
# are Annex K's, entropy coding is canonical bit-level Huffman with
# 0xFF00 stuffing. Lossy by design: the round-trip contract is exact
# dims + quantization-bounded error. A progressive stream carries the
# sequential stream's quantized coefficients (only the transmission
# order differs), so both decode to bitwise-equal pixels. Headers
# interoperate with `probe_jpeg`.

_JPEG_QTABLE = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

_JPEG_QTABLE_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALUES = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALUES = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_DC_BITS_CHROMA = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_VALUES_CHROMA = list(range(12))
_AC_BITS_CHROMA = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_VALUES_CHROMA = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

#: AC Huffman table for the progressive scans: the sequential Annex K
#: table has no codes for the EOBn symbols (0x10..0xE0), so progressive
#: encoders ship their own. This one covers the ENTIRE symbol alphabet
#: canonically — 128 symbols at 8 bits + 128 at 9 bits (Kraft sum 0.75,
#: valid DHT) — trading compression for a table that can express every
#: run/size, ZRL and EOBn combination.
_AC_BITS_PROG = [0, 0, 0, 0, 0, 0, 0, 128, 128, 0, 0, 0, 0, 0, 0, 0]
_AC_VALUES_PROG = list(range(256))

#: chroma subsampling modes -> (horizontal, vertical) luma sampling factors
_JPEG_SUBSAMPLE = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}


@lru_cache(maxsize=64)
def _huff_tables(bits: bytes, values: bytes) -> tuple[tuple, _PrefixTable]:
    """Canonical Huffman tables of one DHT spec (T.81 C.2): the
    encoder's symbol -> (code_length, code) table (a 256-entry tuple,
    None for symbols without a code) and the decoder's MSB-first
    `_PrefixTable`. Memoized on the spec bytes: every call with the
    Annex K tables (and every MJPEG/AVI frame's identical DHT bytes)
    shares one build, and LRU eviction drops one cold spec at a time,
    never the hot ones. The tables are read-only because all callers
    share them. An over-subscribed DHT raises ValueError."""
    lengths = [ln for ln in range(1, 17) for _ in range(bits[ln - 1])]
    codes = _canonical_codes([values[k] for k in range(len(lengths))], lengths)
    return (
        tuple(codes.get(sym) for sym in range(256)),
        _PrefixTable(codes, lsb_first=False),
    )


@lru_cache(maxsize=1)
def _dct_matrix():
    import math

    import numpy as np

    d = np.zeros((8, 8))
    for k in range(8):
        c = math.sqrt(1 / 8) if k == 0 else math.sqrt(2 / 8)
        for n in range(8):
            d[k, n] = c * math.cos((2 * n + 1) * k * math.pi / 16)
    d.setflags(write=False)  # shared across calls — callers only read it
    return d


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
        # drop emitted bits — an unmasked accumulator grows into an
        # ever-larger bignum and makes encoding O(n^2) in output size
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1s per spec

    def raw(self, b: bytes) -> None:
        """Append marker bytes verbatim (markers are never stuffed)."""
        self.align()
        self.out += b

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


def _dct_quant_plane(plane, q, d):
    """Vectorized forward-DCT + quantize + zigzag for EVERY 8x8 block of
    a plane (dims multiples of 8) in one einsum — the per-block Python
    loop only does entropy coding. Returns int64 (n_block_rows,
    n_block_cols, 64) in zigzag order."""
    import numpy as np

    h, w = plane.shape
    blocks = (
        np.asarray(plane, dtype=np.float64)
        .reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        - 128.0
    )
    coefs = np.einsum("ij,abjk,lk->abil", d, blocks, d)
    quant = np.rint(coefs / q).astype(np.int64).reshape(h // 8, w // 8, 64)
    return quant[:, :, _ZIGZAG]


def _idct_blocks(zzarr, q, d):
    """Vectorized dequantize + inverse-DCT for a stack of zigzag
    coefficient blocks: (n, 64) int -> (n, 8, 8) float in 0..255
    space."""
    import numpy as np

    n = len(zzarr)
    nat = np.zeros((n, 64), dtype=np.float64)
    nat[:, _ZIGZAG] = np.asarray(zzarr, dtype=np.float64)
    mats = nat.reshape(n, 8, 8) * q
    return np.einsum("ji,njk,kl->nil", d, mats, d) + 128.0


def _scan_order(comps, width, height, scan):
    """The blocks of one scan (T.81 A.2) in transmission order, as
    (component index, block index in that component's MCU-padded raster
    grid), and the number of blocks per MCU. `comps` holds (id, h, v,
    ...) per frame component and `scan` the indices of the scan's
    components. An interleaved scan walks the frame's MCUs, each holding
    h x v blocks of every scan component in scan order; a 1-component
    scan walks that component's own block grid, computed from its sample
    dims (A.2.2) — a subgrid of the padded one — one block per MCU."""

    def ceil(a, b):
        return -(-a // b)

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = ceil(width, 8 * hmax)
    layout = [(ci, comps[ci][1], comps[ci][2]) for ci in scan]
    if len(layout) == 1:
        ((ci, h, v),) = layout
        order = [
            (ci, y * mcus_x * h + x)
            for y in range(ceil(ceil(height * v, vmax), 8))
            for x in range(ceil(ceil(width * h, hmax), 8))
        ]
        return order, 1
    order = [
        (ci, (my * v + dy) * mcus_x * h + mx * h + dx)
        for my in range(ceil(height, 8 * vmax))
        for mx in range(mcus_x)
        for ci, h, v in layout
        for dy in range(v)
        for dx in range(h)
    ]
    return order, sum(h * v for _, h, v in layout)


def _entropy_encode_block(w, zz, dc_codes, ac_codes, prev_dc: int) -> int:
    """Huffman entropy coding of ONE quantized zigzag block of a
    sequential scan; returns the new DC predictor.

    Hot-loop shape: the category is computed inline via bit_length, and
    each (huffman code, magnitude) pair is emitted as ONE concatenated
    `put` — (code << s) | mag over ln + s bits IS the two back-to-back
    puts, bit for bit."""
    dc = zz[0]
    diff = dc - prev_dc
    s = diff.bit_length() if diff >= 0 else (-diff).bit_length()
    ln, code = dc_codes[s]
    if s:
        w.put((code << s) | ((diff if diff > 0 else diff + (1 << s) - 1) & ((1 << s) - 1)), ln + s)
    else:
        w.put(code, ln)
    run = 0
    last_nz = 0
    for i in range(63, 0, -1):
        if zz[i]:
            last_nz = i
            break
    for i in range(1, last_nz + 1):
        v = zz[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac_codes[0xF0]  # ZRL
            w.put(code, ln)
            run -= 16
        s = v.bit_length() if v > 0 else (-v).bit_length()
        ln, code = ac_codes[(run << 4) | s]
        w.put((code << s) | ((v if v > 0 else v + (1 << s) - 1) & ((1 << s) - 1)), ln + s)
        run = 0
    if last_nz < 63:
        ln, code = ac_codes[0x00]  # EOB
        w.put(code, ln)
    return dc


def _put_pend(w, pend: list[int]) -> None:
    """Emit buffered correction bits as ONE put (first bit most
    significant — identical to the bit-at-a-time sequence)."""
    if pend:
        v = 0
        for b in pend:
            v = (v << 1) | b
        w.put(v, len(pend))
        pend.clear()


def _flush_eobrun(w, ac_codes, eobrun: int, pend: list[int]) -> int:
    """Emit a pending end-of-band run (EOBn symbol + length extension
    bits) followed by any buffered correction bits; returns 0."""
    if eobrun:
        rr = eobrun.bit_length() - 1
        ln, code = ac_codes[rr << 4]
        w.put(code, ln)
        if rr:
            w.put(eobrun - (1 << rr), rr)
        _put_pend(w, pend)
    return 0


def _encode_ac_first(w, blocks, ss: int, se: int, al: int, ac_codes) -> None:
    """AC first scan for band [ss..se] at point transform al (G.1.2.2):
    sequential-style run/size coding of the point-transformed
    coefficients, with EOB generalized to EOBn runs across blocks. The
    whole scan's point transform (divide by 2^al rounding toward zero)
    runs as ONE vectorized int64 pass."""
    import numpy as np

    band = np.asarray(blocks)[:, ss : se + 1]
    t_rows = np.where(band >= 0, band >> al, -((-band) >> al)).tolist()
    eobrun = 0
    for t in t_rows:
        nz = [i for i, v in enumerate(t) if v]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                eobrun = _flush_eobrun(w, ac_codes, eobrun, [])
            continue
        eobrun = _flush_eobrun(w, ac_codes, eobrun, [])
        run = 0
        for i in range(nz[-1] + 1):
            v = t[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                ln, code = ac_codes[0xF0]
                w.put(code, ln)
                run -= 16
            s = v.bit_length() if v > 0 else (-v).bit_length()
            ln, code = ac_codes[(run << 4) | s]
            w.put(code, ln)
            w.put(v if v > 0 else v + (1 << s) - 1, s)
            run = 0
        if nz[-1] < se - ss:
            eobrun = 1
    _flush_eobrun(w, ac_codes, eobrun, [])


def _encode_ac_refine(w, blocks, ss: int, se: int, al: int, ac_codes) -> None:
    """AC refinement scan (G.1.2.3): newly-significant coefficients are
    coded as run/1 + sign, correction bits for already-nonzero
    coefficients are buffered and appended after the next emitted
    symbol (including across EOBn runs)."""
    import numpy as np

    band = np.asarray(blocks)[:, ss : se + 1]
    absv_rows = (np.abs(band) >> al).tolist()
    pos_rows = (band > 0).tolist()  # sign source for newly-significant bits
    eobrun = 0
    pend: list[int] = []
    for bi, absv in enumerate(absv_rows):
        newly = [i for i, a in enumerate(absv) if a == 1]
        if not newly:
            # only correction bits (if any) — the block joins the EOB run
            pend.extend(a & 1 for a in absv if a > 1)
            eobrun += 1
            if eobrun == 0x7FFF:
                eobrun = _flush_eobrun(w, ac_codes, eobrun, pend)
            continue
        eobrun = _flush_eobrun(w, ac_codes, eobrun, pend)
        run = 0
        last_new = newly[-1]
        for i, a in enumerate(absv):
            if i > last_new:
                break
            if a == 0:
                run += 1
                continue
            # ZRL must fire at ANY nonzero position once the
            # zero-history run exceeds 15 — including already-nonzero
            # correction positions — or the decoder's ZRL advance
            # consumes a different set of buffered correction bits
            # than the encoder attached (jpeglib's `r > 15 && k <= EOB`;
            # the i <= last_new bound makes the EOB guard implicit,
            # and runs in the tail fold into the EOB below)
            while run > 15:
                ln, code = ac_codes[0xF0]
                w.put(code, ln)
                run -= 16
                _put_pend(w, pend)
            if a > 1:
                pend.append(a & 1)
                continue
            ln, code = ac_codes[(run << 4) | 1]
            w.put(code, ln)
            w.put(1 if pos_rows[bi][i] else 0, 1)
            _put_pend(w, pend)
            run = 0
        # any tail beyond the last newly-significant coefficient —
        # zero-history runs AND already-nonzero correction bits alike —
        # must close with an EOB, or the decoder would read the next
        # block's symbol while still inside this band
        if last_new < se - ss:
            pend.extend(a & 1 for a in absv[last_new + 1 :] if a > 1)
            eobrun = 1
    _flush_eobrun(w, ac_codes, eobrun, pend)


def _write_jpeg(width, height, comps, qtables, htables, scans, restart_interval=0):
    """The one JPEG frame writer. `comps` holds per frame component
    (id, h, v, quant table id, DC table id, AC table id, zigzag block
    grid over the MCU-padded plane); `qtables` the quant tables in
    natural order, written as DQT ids 0, 1, ...; `htables` the Huffman
    specs (Tc << 4 | Th, BITS, HUFFVAL) in DHT order; `scans` the scan
    script, one (component indices, Ss, Se, Ah, Al) per scan. A script
    of one full-band (0, 63, 0, 0) scan is a baseline SOF0 frame (with
    DRI and RSTn markers every `restart_interval` MCUs when > 0); any
    other script is a progressive SOF2 frame. Table selectors a scan
    does not use are written as 0 (B.2.3)."""
    import struct as _s

    def seg(marker: int, payload: bytes) -> bytes:
        return _s.pack(">HH", marker, len(payload) + 2) + payload

    progressive = any(s[1:] != (0, 63, 0, 0) for s in scans)
    codes = {tcth: _huff_tables(bytes(b), bytes(v))[0] for tcth, b, v in htables}
    out = bytearray(b"\xff\xd8")
    out += seg(
        0xFFDB,
        b"".join(
            bytes([tq]) + bytes(q[_ZIGZAG[k]] for k in range(64))
            for tq, q in enumerate(qtables)
        ),
    )
    out += seg(
        0xFFC2 if progressive else 0xFFC0,
        _s.pack(">BHHB", 8, height, width, len(comps))
        + bytes(x for c in comps for x in (c[0], (c[1] << 4) | c[2], c[3])),
    )
    out += seg(
        0xFFC4, b"".join(bytes([tcth]) + bytes(b) + bytes(v) for tcth, b, v in htables)
    )
    if restart_interval:
        out += seg(0xFFDD, _s.pack(">H", restart_interval))
    flat = [c[6].reshape(-1, 64) for c in comps]
    dcs = [f[:, 0].tolist() for f in flat]
    orders = {}  # scan components -> block order; scripts repeat them
    for scan, ss, se, ah, al in scans:
        header = [len(scan)]
        for ci in scan:
            td, ta = comps[ci][4:6]
            header += [comps[ci][0], ((td << 4) if ss == 0 else 0) | (ta if se else 0)]
        out += seg(0xFFDA, bytes(header + [ss, se, (ah << 4) | al]))
        w = _BitWriter()
        if scan not in orders:
            orders[scan] = _scan_order(comps, width, height, scan)
        order, per_mcu = orders[scan]
        if ss == 0 and se == 63:  # sequential: every band of every block
            blocks = [f.tolist() for f in flat]
            dc_codes = [codes[c[4]] for c in comps]
            ac_codes = [codes[0x10 | c[5]] for c in comps]
            prev = [0] * len(comps)
            interval = restart_interval * per_mcu  # blocks between RSTn
            for k, (ci, bi) in enumerate(order):
                if interval and k and k % interval == 0:
                    w.raw(bytes([0xFF, 0xD0 + (k // interval - 1) % 8]))
                    prev = [0] * len(comps)
                prev[ci] = _entropy_encode_block(
                    w, blocks[ci][bi], dc_codes[ci], ac_codes[ci], prev[ci]
                )
        elif ss == 0 and ah:  # progressive DC refinement: bit Al of each DC
            for ci, bi in order:
                w.put((dcs[ci][bi] >> al) & 1, 1)
        elif ss == 0:  # progressive DC first: Al-shifted differences
            dc_codes = [codes[c[4]] for c in comps]
            prev = [0] * len(comps)
            for ci, bi in order:
                v = dcs[ci][bi] >> al  # arithmetic shift per G.1.2.1
                diff = v - prev[ci]
                prev[ci] = v
                s = diff.bit_length() if diff >= 0 else (-diff).bit_length()
                ln, code = dc_codes[ci][s]
                w.put(code, ln)
                if s:
                    w.put(diff if diff > 0 else diff + (1 << s) - 1, s)
        else:  # progressive AC band of one component
            ci = scan[0]
            blocks = flat[ci][[bi for _, bi in order]]
            encode = _encode_ac_refine if ah else _encode_ac_first
            encode(w, blocks, ss, se, al, codes[0x10 | comps[ci][5]])
        out += w.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _quant_planes(width, height, pixels, subsample=None):
    """Plane preparation shared by every encoder: one gray plane, or
    (`subsample` given) JFIF RGB->YCbCr with chroma mean-subsampled per
    mode; MCU-aligned edge padding; vectorized DCT+quantize per plane.
    Returns (hs, vs, [zigzag block grid per component]) — every
    encoding of an image transmits these same coefficients, which is
    what makes progressive and sequential streams decode to
    bitwise-equal pixels."""
    import numpy as np

    if subsample is None:
        hs, vs, channels = 1, 1, 1
    elif subsample in _JPEG_SUBSAMPLE:
        (hs, vs), channels = _JPEG_SUBSAMPLE[subsample], 3
    else:
        raise ValueError(f"subsample must be one of {sorted(_JPEG_SUBSAMPLE)}")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer does not match dims")
    img = (
        np.frombuffer(bytes(pixels), dtype=np.uint8)
        .reshape(height, width, channels)
        .astype(np.float64)
    )
    mw, mh = 8 * hs, 8 * vs  # MCU pixel dims
    ph = (height + mh - 1) // mh * mh
    pw = (width + mw - 1) // mw * mw
    pad = ((0, ph - height), (0, pw - width))
    d = _dct_matrix()
    ql = np.array(_JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    if channels == 1:
        return hs, vs, [_dct_quant_plane(np.pad(img[..., 0], pad, mode="edge"), ql, d)]
    R, G, B = img[..., 0], img[..., 1], img[..., 2]
    # JFIF color transform; planes kept in 0..255 space (the shared
    # block codec level-shifts by 128 itself)
    Y = 0.299 * R + 0.587 * G + 0.114 * B
    Cb = 128.0 - 0.168736 * R - 0.331264 * G + 0.5 * B
    Cr = 128.0 + 0.5 * R - 0.418688 * G - 0.081312 * B

    def _sub(plane):
        # mean over each (vs x hs) luma patch -> one chroma sample
        p = np.pad(plane, pad, mode="edge")
        return p.reshape(ph // vs, vs, pw // hs, hs).mean(axis=(1, 3))

    Cbs, Crs = _sub(Cb), _sub(Cr)
    qc = np.array(_JPEG_QTABLE_CHROMA, dtype=np.float64).reshape(8, 8)
    # Cb and Cr share dims and quant table, so one vstacked
    # _dct_quant_plane call covers both (the DCT einsum is per-8x8-block
    # independent and the chroma height is a multiple of 8, so every
    # block's float ops are unchanged)
    zzCbCr = _dct_quant_plane(np.concatenate([Cbs, Crs], axis=0), qc, d)
    nrows = Cbs.shape[0] // 8
    zzY = _dct_quant_plane(np.pad(Y, pad, mode="edge"), ql, d)
    return hs, vs, [zzY, zzCbCr[:nrows], zzCbCr[nrows:]]


_GRAY_HUFF = [(0x00, _DC_BITS, _DC_VALUES), (0x10, _AC_BITS, _AC_VALUES)]
_COLOR_HUFF = _GRAY_HUFF + [
    (0x01, _DC_BITS_CHROMA, _DC_VALUES_CHROMA),
    (0x11, _AC_BITS_CHROMA, _AC_VALUES_CHROMA),
]


def encode_jpeg_gray8(
    width: int, height: int, pixels: bytes, restart_interval: int = 0
) -> bytes:
    """Baseline sequential JPEG, one grayscale component, no
    subsampling, Annex K tables. Deterministic: same pixels -> same
    bytes. `restart_interval` > 0 emits a DRI segment and RSTn markers
    every N MCUs (byte-aligned, DC predictor reset) — the error-
    resilience feature most camera JPEGs carry."""
    _, _, (zz,) = _quant_planes(width, height, pixels)
    return _write_jpeg(
        width, height, [(1, 1, 1, 0, 0, 0, zz)], [_JPEG_QTABLE], _GRAY_HUFF,
        [((0,), 0, 63, 0, 0)], restart_interval,
    )


def encode_jpeg_gray8_progressive(width: int, height: int, pixels: bytes) -> bytes:
    """Progressive (SOF2) gray JPEG: the baseline encoder's coefficients
    transmitted as six scans exercising the full progressive feature
    set — DC first (Al=1), AC first for bands 1-5 and 6-63 (Al=1, EOBn
    runs), DC refinement, and AC refinement for both bands (correction
    bits). Decodes to pixels BITWISE-IDENTICAL to the baseline encoding
    of the same image (property-tested)."""
    _, _, (zz,) = _quant_planes(width, height, pixels)
    return _write_jpeg(
        width, height, [(1, 1, 1, 0, 0, 0, zz)], [_JPEG_QTABLE],
        [(0x00, _DC_BITS, _DC_VALUES), (0x10, _AC_BITS_PROG, _AC_VALUES_PROG)],
        [((0,), ss, se, ah, al)
         for ah, al in ((0, 1), (1, 0)) for ss, se in ((0, 0), (1, 5), (6, 63))],
    )


def encode_jpeg_color(
    width: int,
    height: int,
    rgb: bytes,
    restart_interval: int = 0,
    subsample: str = "420",
) -> bytes:
    """Baseline sequential COLOR JPEG: JFIF YCbCr transform, chroma
    subsampling per `subsample` ("420" default — 2x2 mean; "422" —
    horizontal 2:1; "444" — full-resolution chroma; anything else
    raises ValueError), interleaved MCUs with the luma block(s) then Cb
    then Cr, Annex K luma+chroma tables. Deterministic: same pixels ->
    same bytes. `restart_interval` > 0 emits DRI/RSTn every N MCUs with
    all three DC predictors reset."""
    hs, vs, (zzY, zzCb, zzCr) = _quant_planes(width, height, rgb, subsample)
    comps = [(1, hs, vs, 0, 0, 0, zzY), (2, 1, 1, 1, 1, 1, zzCb), (3, 1, 1, 1, 1, 1, zzCr)]
    return _write_jpeg(
        width, height, comps, [_JPEG_QTABLE, _JPEG_QTABLE_CHROMA], _COLOR_HUFF,
        [((0, 1, 2), 0, 63, 0, 0)], restart_interval,
    )


def encode_jpeg_color_progressive(
    width: int, height: int, rgb: bytes, subsample: str = "420"
) -> bytes:
    """Progressive (SOF2) COLOR JPEG: the sequential color encoder's
    exact coefficient planes transmitted as 8 scans — interleaved DC
    first (Al=1) + DC refinement over all three components in MCU
    order, then per-component AC first/refinement pairs for band 1-63
    with EOBn runs over each component's own block grid. Pixels decode
    bitwise-equal to the sequential stream's (property-tested)."""
    hs, vs, (zzY, zzCb, zzCr) = _quant_planes(width, height, rgb, subsample)
    comps = [(1, hs, vs, 0, 0, 0, zzY), (2, 1, 1, 1, 1, 0, zzCb), (3, 1, 1, 1, 1, 0, zzCr)]
    return _write_jpeg(
        width, height, comps, [_JPEG_QTABLE, _JPEG_QTABLE_CHROMA],
        [
            (0x00, _DC_BITS, _DC_VALUES),
            (0x01, _DC_BITS_CHROMA, _DC_VALUES_CHROMA),
            (0x10, _AC_BITS_PROG, _AC_VALUES_PROG),
        ],
        [((0, 1, 2), 0, 0, 0, 1), ((0, 1, 2), 0, 0, 1, 0)]
        + [((ci,), 1, 63, ah, al) for ci in range(3) for ah, al in ((0, 1), (1, 0))],
    )


def _read_symbol(r, t: _PrefixTable) -> int:
    # inlined peek8 + packed-LUT hit: this is the decode profile's
    # hottest call pair; consumed bits are identical to a peek8 followed
    # by consuming the code's length (peek8 never consumes)
    nb = r.nbits
    while nb < 8 and r._fill():
        nb = r.nbits
    if nb >= 8:
        entry = t.lut[(r.acc >> (nb - 8)) & 0xFF]
        if entry >= 0:  # code length <= 8 <= avail always holds here
            r.nbits = nb - (entry & 15)
            return entry >> 4
    else:
        entry = t.lut[((r.acc & ((1 << nb) - 1)) << (8 - nb)) & 0xFF]
        if entry >= 0 and (entry & 15) <= nb:
            r.nbits = nb - (entry & 15)
            return entry >> 4
    # >8-bit code, or too few bits for the LUT to be trusted: bit-walk
    # (which raises the truncation/marker error when the stream ends)
    table = t.table
    length, code = 0, 0
    while length < 16:
        code = (code << 1) | r.bit()
        length += 1
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid Huffman code")



class _BitReader:
    """MSB-first JPEG entropy reader with multi-byte prefetch.

    Invariant: the low `nbits` bits of `acc` are the unconsumed bits.
    `_fill` prefetches ONE entropy byte at a time (unstuffing FF00) and
    NEVER consumes a raw marker, so anything prefetched is entropy/pad
    data by construction — which is what makes `peek16`/`expect_restart`
    safe: at a restart point every unconsumed prefetched bit is the
    spec's 1-padding and is discarded exactly as the spec asks."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> bool:
        """Prefetch entropy bytes; False when blocked (end of data or a
        raw marker next) WITHOUT consuming, so the error site can tell
        the two apart and restart markers stay readable.

        r17: a clean (stuffing/marker-free) run prefetches up to 8
        bytes in ONE int.from_bytes — `_fill` was the decode profile's
        hottest frame at one byte per call. r18 widens the window to 16
        bytes (same rule: never crosses an 0xFF). The marker invariants
        (and `expect_restart`'s discard logic) are unchanged regardless
        of window size: on a valid stream the decoder consumes every
        symbol bit of the interval and the fill cannot cross the
        restart marker's 0xFF, so the unconsumed prefetched bits at a
        restart are exactly the <8 pre-marker padding bits; consumed
        bit order is identical."""
        pos, data = self.pos, self.data
        if pos >= len(data):
            return False
        b = data[pos]
        if b == 0xFF:
            if pos + 1 >= len(data) or data[pos + 1] != 0x00:
                return False
            self.pos = pos + 2  # unstuff
            self.acc = ((self.acc & ((1 << self.nbits) - 1)) << 8) | b
            self.nbits += 8
            return True
        end = data.find(0xFF, pos, pos + 16)
        if end < 0:
            end = min(pos + 16, len(data))
        chunk = data[pos:end]
        self.pos = end
        k = len(chunk)
        self.acc = ((self.acc & ((1 << self.nbits) - 1)) << (8 * k)) | int.from_bytes(
            chunk, "big"
        )
        self.nbits += 8 * k
        return True

    def _blocked(self) -> ValueError:
        if self.pos >= len(self.data):
            return ValueError("truncated entropy data")
        return ValueError("unexpected marker in entropy data")

    def bit(self) -> int:
        if self.nbits == 0 and not self._fill():
            raise self._blocked()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        while self.nbits < n:
            if not self._fill():
                raise self._blocked()
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def peek8(self) -> tuple[int, int]:
        """Next (up to) 8 bits MSB-first, zero-padded on the right, plus
        how many are real — the `_PrefixTable` LUT key that `_read_symbol`
        computes inline. Never consumes, never raises (the bit-walk
        fallback owns the errors)."""
        while self.nbits < 8 and self._fill():
            pass
        n = self.nbits
        if n >= 8:
            return (self.acc >> (n - 8)) & 0xFF, 8
        return ((self.acc & ((1 << n) - 1)) << (8 - n)) & 0xFF, n

    def expect_restart(self) -> None:
        """Byte-align and consume the next RSTn marker (raw, unstuffed).
        Discards every unconsumed prefetched bit: `_fill` cannot cross a
        marker, so those bits are exactly the pre-marker 1-padding.

        A full unconsumed prefetched BYTE means extra entropy bytes sat
        between the interval's last symbol and the marker — corrupt by
        spec, so reject explicitly. On VALID streams this never fires:
        `_fill` cannot cross the 0xFF of the marker, so the only
        unconsumed bits at a restart are the <8 pre-marker padding bits.
        (Pre-r17 the rejection was accidental and position-dependent:
        the position check below caught extra bytes UNLESS the final
        symbol's speculative `peek16` had already prefetched one, in
        which case the corrupt byte was silently discarded and decode
        produced garbage. This guard makes the rejection uniform —
        strictly fewer corrupt streams are accepted, valid streams are
        byte-for-byte unchanged; pinned in
        test_reader_api.py::test_jpeg_restart_extra_entropy_byte_rejected.)"""
        if self.nbits >= 8:
            raise ValueError("expected restart marker in entropy data")
        self.nbits = 0
        if (
            self.pos + 2 > len(self.data)
            or self.data[self.pos] != 0xFF
            or not (0xD0 <= self.data[self.pos + 1] <= 0xD7)
        ):
            raise ValueError("expected restart marker in entropy data")
        self.pos += 2


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1



def _decode_ac_first_scan(r, blocks, ss, se, al, act) -> None:
    eobrun = 0
    for blk in blocks:
        if eobrun:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            sym = _read_symbol(r, act)
            run, size = sym >> 4, sym & 0x0F
            if size == 0:
                if run == 15:
                    k += 16
                    continue
                eobrun = (1 << run) + (r.bits(run) if run else 0) - 1
                break
            k += run
            if k > se:
                raise ValueError("AC run overflows band")
            blk[k] = _extend(r.bits(size), size) << al
            k += 1


def _decode_ac_refine_scan(r, blocks, ss, se, al, act) -> None:
    p1 = 1 << al
    eobrun = 0
    for blk in blocks:
        k = ss
        if eobrun == 0:
            while k <= se:
                sym = _read_symbol(r, act)
                run, size = sym >> 4, sym & 0x0F
                val = 0
                if size == 0:
                    if run != 15:
                        eobrun = (1 << run) + (r.bits(run) if run else 0)
                        break
                    # ZRL: pass 16 zero-history coefficients
                else:
                    if size != 1:
                        raise ValueError("refinement size must be 1")
                    val = p1 if r.bit() else -p1
                # advance over `run` zero-history positions, correcting
                # nonzero-history coefficients along the way. Which
                # positions take a correction bit depends only on the
                # blk state, never on the bits themselves, so the walk
                # runs first and the bits are read as ONE bits() call
                # (same bits, same order as the bit-at-a-time read).
                corr = []
                while k <= se:
                    if blk[k]:
                        corr.append(k)
                    else:
                        if run == 0:
                            break
                        run -= 1
                    k += 1
                if corr:
                    v = r.bits(len(corr))
                    m = 1 << (len(corr) - 1)
                    for kk in corr:
                        if v & m and not (abs(blk[kk]) & p1):
                            blk[kk] += p1 if blk[kk] > 0 else -p1
                        m >>= 1
                if val:
                    if k > se:
                        raise ValueError("refinement run overflows band")
                    blk[k] = val
                k += 1
        if eobrun:
            # inside an EOB run: only correction bits for the block's
            # remaining nonzero-history coefficients. The positions are
            # known before any bit is read, so read them as ONE bits()
            # call (same bits, same order; a truncation raises the same
            # error before any coefficient mutates — and the whole
            # decode discards its state on error anyway).
            pos = [kk for kk in range(k, se + 1) if blk[kk]]
            if pos:
                v = r.bits(len(pos))
                m = 1 << (len(pos) - 1)
                for kk in pos:
                    if v & m and not (abs(blk[kk]) & p1):
                        blk[kk] += p1 if blk[kk] > 0 else -p1
                    m >>= 1
            eobrun -= 1



def _entropy_decode_block(r, zz, dct, act, prev_dc: int) -> int:
    """Huffman entropy-decode ONE sequential block into its zeroed
    zigzag coefficient list `zz`; returns the new DC predictor.
    Dequantize + IDCT happen vectorized afterwards (`_idct_blocks`)."""
    s = _read_symbol(r, dct)
    diff = _extend(r.bits(s), s) if s else 0
    prev_dc += diff
    zz[0] = prev_dc
    k = 1
    while k < 64:
        sym = _read_symbol(r, act)
        if sym == 0x00:  # EOB
            break
        run, size = sym >> 4, sym & 0x0F
        if sym == 0xF0:  # ZRL
            k += 16
            continue
        k += run
        if k > 63:
            raise ValueError("AC run overflows block")
        zz[k] = _extend(r.bits(size), size)
        k += 1
    return prev_dc


def _read_jpeg(data: bytes, ncomp: int):
    """The one JPEG frame reader: a single marker walk over SOI, DQT,
    SOF0/SOF2, DHT, DRI, SOS and EOI that decodes the `ncomp`-component
    frame (1 or 3, sampling factors up to 2x2) into per-component
    sample planes at full resolution, cropped to (width, height).

    The first frame marker fixes the frame type. SOF0: the first scan
    is the interleaved sequential scan over every component (restart
    intervals supported) and its entropy data runs to the last EOI.
    SOF2: DC scans (first, then refinements) interleave every
    component; AC scans (first, then refinements) are 1-component and
    cover the component's own block grid; restart intervals are
    rejected. A 1-component frame's sampling factors do not change its
    geometry and its scans need not name its component id. Scan
    coefficients accumulate in each component's MCU-padded raster
    grid; one vectorized dequantize + IDCT per component follows.
    Everything malformed raises ValueError (via the public decoders'
    `_malformed_raises_value_error`)."""
    import struct as _s

    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qtab: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], _PrefixTable] = {}
    progressive = None  # fixed by the first frame marker
    comps = coef = None
    restart = 0
    nonzero_dri = False  # progressive frames reject any restart interval
    dc_done = False  # sequential scan, or first progressive DC scan, decoded
    i = 2
    while i < len(data):
        if i + 2 > len(data):
            raise ValueError("truncated JPEG (marker cut off)")
        if data[i] != 0xFF:
            raise ValueError(f"expected marker at {i}")
        m = data[i + 1]
        if m == 0xD9:
            break
        if i + 4 > len(data):
            raise ValueError("truncated JPEG (segment length cut off)")
        length = _s.unpack_from(">H", data, i + 2)[0]
        if i + 2 + length > len(data):
            raise ValueError("truncated JPEG (segment body cut off)")
        body = data[i + 4 : i + 2 + length]
        if m == 0xDB:
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                zz = list(body[j + 1 : j + 65])
                tab = [0] * 64
                for k in range(64):
                    tab[_ZIGZAG[k]] = zz[k]
                qtab[tq] = tab
                j += 65
        elif 0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):  # a SOF marker
            if progressive is None:
                progressive = m == 0xC2
            if m == (0xC2 if progressive else 0xC0):
                height, width = _s.unpack_from(">HH", body, 1)
                if body[5] != ncomp:
                    kind = "single-component (gray)" if ncomp == 1 else "3-component (YCbCr)"
                    raise ValueError(f"expected a {kind} frame")
                specs = [body[6 + 3 * c : 9 + 3 * c] for c in range(ncomp)]
                comps = [(cid, hv >> 4, hv & 0x0F, tq) for cid, hv, tq in specs]
                if ncomp == 1:
                    comps = [(comps[0][0], 1, 1, comps[0][3])]
                if any(not (1 <= h <= 2 and 1 <= v <= 2) for _, h, v, _ in comps):
                    raise ValueError("sampling factors beyond 2x2 unsupported")
                cid_to_ci = {c[0]: k for k, c in enumerate(comps)}
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcus = -(-width // (8 * hmax)) * -(-height // (8 * vmax))
                sizes = [mcus * h * v for _, h, v, _ in comps]
                # every block costs at least one entropy bit in some scan,
                # so a frame larger than that is rejected before allocating
                if sum(sizes) > 8 * len(data):
                    raise ValueError("frame dimensions exceed the stream's data")
                coef = [[[0] * 64 for _ in range(n)] for n in sizes]
                # every scan of the frame walks one of these block orders
                every_order, per_mcu = _scan_order(comps, width, height, range(ncomp))
                own_orders = [None] * ncomp  # 1-component scans, made on first use
            elif m <= 0xC3:
                raise ValueError(
                    "only baseline (SOF0) or progressive (SOF2) frames, not mixed"
                )
        elif m == 0xC4:
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0x0F
                bits = bytes(body[j + 1 : j + 17])
                n = sum(bits)
                huff[(tc, th)] = _huff_tables(bits, bytes(body[j + 17 : j + 17 + n]))[1]
                j += 17 + n
        elif m == 0xDD:
            restart = _s.unpack_from(">H", body, 0)[0]
            nonzero_dri = nonzero_dri or restart > 0
        elif m == 0xDA:
            if comps is None:
                raise ValueError("scan before frame header")
            if not progressive:
                # the sequential scan: each frame component finds its
                # tables by id (a 1-component scan by position)
                if ncomp == 1:
                    sels = [body[2]]
                else:
                    spec = {body[1 + 2 * c]: body[2 + 2 * c] for c in range(body[0])}
                    sels = [spec[c[0]] for c in comps]
                end = data.rfind(b"\xff\xd9")
                if end < 0:
                    raise ValueError("missing EOI")
                r = _BitReader(data[i + 2 + length : end])
                dct = [huff[(0, s >> 4)] for s in sels]
                act = [huff[(1, s & 0x0F)] for s in sels]
                prev = [0] * ncomp
                interval = restart * per_mcu  # blocks between RSTn
                for k, (ci, bi) in enumerate(every_order):
                    if interval and k and k % interval == 0:
                        r.expect_restart()
                        prev = [0] * ncomp
                    prev[ci] = _entropy_decode_block(r, coef[ci][bi], dct[ci], act[ci], prev[ci])
                dc_done = True
                break
            ns = body[0]
            ss, se, ahl = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = ahl >> 4, ahl & 0x0F
            # entropy data: up to the next real marker (stuffed 0x00 and
            # RSTn bytes belong to the scan)
            j = i + 2 + length
            while j + 1 < len(data) and not (
                data[j] == 0xFF
                and data[j + 1] != 0x00
                and not 0xD0 <= data[j + 1] <= 0xD7
            ):
                j += 1
            r = _BitReader(data[i + 2 + length : j])
            if ss == 0:
                if se != 0 or ns != ncomp:
                    raise ValueError("a progressive DC scan has Se=0 and every component")
                order = every_order
                if ah == 0:
                    dc_tabs = {}
                    for c in range(ns):
                        ci = cid_to_ci[body[1 + 2 * c]] if ncomp > 1 else 0
                        dc_tabs[ci] = huff.get((0, body[2 + 2 * c] >> 4))
                        if dc_tabs[ci] is None:
                            raise ValueError("missing DC Huffman table")
                    prev = [0] * ncomp
                    for ci, bi in order:
                        s = _read_symbol(r, dc_tabs[ci])
                        prev[ci] += _extend(r.bits(s), s) if s else 0
                        coef[ci][bi][0] = prev[ci] << al
                    dc_done = True
                else:
                    # DC refinement reads exactly one raw bit per block
                    # regardless of content — batch the reads in chunks
                    # (same bits, same MSB-first order)
                    p1 = 1 << al
                    for i0 in range(0, len(order), 32):
                        chunk = order[i0 : i0 + 32]
                        v = r.bits(len(chunk))
                        bit = 1 << (len(chunk) - 1)
                        for ci, bi in chunk:
                            if v & bit:
                                coef[ci][bi][0] |= p1
                            bit >>= 1
            else:
                if ns != 1:
                    raise ValueError("progressive AC scans must be single-component")
                if not dc_done:
                    raise ValueError("AC scan before first DC scan")
                ci = cid_to_ci[body[1]] if ncomp > 1 else 0
                act = huff.get((1, body[2] & 0x0F))
                if act is None:
                    raise ValueError("missing AC Huffman table")
                if se > 63 or ss > se:
                    raise ValueError("bad spectral band")
                if own_orders[ci] is None:
                    own_orders[ci] = _scan_order(comps, width, height, [ci])[0]
                blocks = [coef[ci][bi] for _, bi in own_orders[ci]]
                if ah == 0:
                    _decode_ac_first_scan(r, blocks, ss, se, al, act)
                else:
                    if al != ah - 1:
                        raise ValueError("refinement must lower Al by 1")
                    _decode_ac_refine_scan(r, blocks, ss, se, al, act)
            i = j
            continue
        i += 2 + length
    if comps is None or not dc_done:
        raise ValueError("missing frame header or DC scan")
    if progressive and nonzero_dri:
        raise ValueError("restart markers unsupported in progressive")
    d = _dct_matrix()
    idct = [None] * ncomp
    # Cb/Cr share a quant table and block count in the streams we emit:
    # IDCT them as one stacked call (per-block float ops identical; the
    # einsum is per-block independent)
    if ncomp == 3 and comps[1][3] == comps[2][3] and len(coef[1]) == len(coef[2]):
        q = np.array(qtab[comps[1][3]], dtype=np.float64).reshape(8, 8)
        both = _idct_blocks(coef[1] + coef[2], q, d)
        idct[1], idct[2] = both[: len(coef[1])], both[len(coef[1]) :]
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    planes = []
    for ci, (_cid, h, v, tq) in enumerate(comps):
        if idct[ci] is None:
            q = np.array(qtab[tq], dtype=np.float64).reshape(8, 8)
            idct[ci] = _idct_blocks(coef[ci], q, d)
        rows, cols = mcus_y * v, mcus_x * h
        plane = (
            idct[ci].reshape(rows, cols, 8, 8).transpose(0, 2, 1, 3).reshape(rows * 8, cols * 8)
        )
        if (h, v) != (hmax, vmax):  # upsample by sample replication
            plane = np.repeat(np.repeat(plane, vmax // v, axis=0), hmax // h, axis=1)
        planes.append(plane[:height, :width])
    return width, height, planes


@_malformed_raises_value_error
def decode_jpeg_gray8(data: bytes) -> tuple[int, int, bytes]:
    """Decode a 1-component JPEG — baseline (SOF0, with or without
    restart markers) or progressive (SOF2) — back to (width, height,
    gray8 pixels). Raises ValueError on anything malformed, including
    a 3-component stream."""
    import numpy as np

    width, height, (plane,) = _read_jpeg(data, 1)
    return width, height, np.clip(np.rint(plane), 0, 255).astype(np.uint8).tobytes()


@_malformed_raises_value_error
def decode_jpeg_color(data: bytes) -> tuple[int, int, bytes]:
    """Decode a 3-component YCbCr JPEG — baseline (SOF0, with or
    without restart markers) or progressive (SOF2), per-component
    sampling factors up to 2x2 (4:2:0, 4:2:2, 4:4:4) — back to (width,
    height, interleaved RGB bytes). Raises ValueError on anything
    malformed, including a 1-component stream."""
    import numpy as np

    width, height, (Y, Cb, Cr) = _read_jpeg(data, 3)
    Cb, Cr = Cb - 128.0, Cr - 128.0
    R = Y + 1.402 * Cr
    G = Y - 0.344136 * Cb - 0.714136 * Cr
    B = Y + 1.772 * Cb
    rgb = np.clip(np.rint(np.stack([R, G, B], axis=-1)), 0, 255).astype(np.uint8)
    return width, height, rgb.tobytes()
