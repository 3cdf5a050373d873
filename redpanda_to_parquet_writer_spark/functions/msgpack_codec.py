"""Pure-stdlib MessagePack codec (`struct` only, no C extension).

The reference's hot decode path is msgpack market data
(redpanda_to_parquet_collector.py:223-256); this container has no
msgpack library, which used to leave that path import-gated and
untestable. Like the PNG/GIF codecs in `operators/multimodal.py`, the
format is simple enough to implement from the public spec — so the
decode path, the collector's format sampler, and an oracle-gated
round-trip query can all exercise REAL MessagePack bytes.

Covers the full core spec: nil/bool, positive/negative fixint,
(u)int8-64, float32/64, fixstr/str8-32, bin8-32, fixarray/array16-32,
fixmap/map16-32. Ext types (0xc7-0xc9, 0xd4-0xd8) are rejected loudly —
the reference's payloads are plain maps/arrays/scalars, and silently
guessing at application-defined ext semantics would be worse than an
error.

`packb` emits the canonical smallest encoding, so
`unpackb(packb(x)) == x` and the encoder doubles as the test-vector
generator for ingest tests.
"""

from __future__ import annotations

import struct
from typing import Any


class MsgpackError(ValueError):
    """Malformed or unsupported MessagePack data."""


# r17 hot-loop shape (identical bytes/objects): the decode chain built a
# fresh dict literal per scalar and re-parsed a format string per struct
# call — both hoisted to module level, with `struct.Struct` unpackers
# precompiled once. Driver-side profile of the tiny-event roundtrip
# (`scripts/profile_codecs_r17.py msgpack_roundtrip`, in git at rev
# cc4c36c) put the per-call dict allocations and struct format parsing
# inside `_unpack`/`_pack_int`.
_P_BB = struct.Struct(">BB").pack
_P_BH = struct.Struct(">BH").pack
_P_BI = struct.Struct(">BI").pack
_P_BQ = struct.Struct(">BQ").pack
_P_Bb = struct.Struct(">Bb").pack
_P_Bh = struct.Struct(">Bh").pack
_P_Bi = struct.Struct(">Bi").pack
_P_Bq = struct.Struct(">Bq").pack
_P_D = struct.Struct(">d").pack
_U_F32 = struct.Struct(">f").unpack_from
_U_F64 = struct.Struct(">d").unpack_from
_BIN_W = {0xC4: 1, 0xC5: 2, 0xC6: 4}
_STR_W = {0xD9: 1, 0xDA: 2, 0xDB: 4}
_ARR_W = {0xDC: 2, 0xDD: 4}
_MAP_W = {0xDE: 2, 0xDF: 4}
_UINT_U = {
    0xCC: (struct.Struct(">B").unpack_from, 1),
    0xCD: (struct.Struct(">H").unpack_from, 2),
    0xCE: (struct.Struct(">I").unpack_from, 4),
    0xCF: (struct.Struct(">Q").unpack_from, 8),
}
_SINT_U = {
    0xD0: (struct.Struct(">b").unpack_from, 1),
    0xD1: (struct.Struct(">h").unpack_from, 2),
    0xD2: (struct.Struct(">i").unpack_from, 4),
    0xD3: (struct.Struct(">q").unpack_from, 8),
}
_LEN_U = {
    1: struct.Struct(">B").unpack_from,
    2: struct.Struct(">H").unpack_from,
    4: struct.Struct(">I").unpack_from,
}


def packb(obj: Any) -> bytes:
    out = bytearray()
    _pack(obj, out)
    return bytes(out)


def _pack(obj: Any, out: bytearray) -> None:
    if obj is None:
        out.append(0xC0)
    elif obj is True:
        out.append(0xC3)
    elif obj is False:
        out.append(0xC2)
    elif isinstance(obj, int):
        _pack_int(obj, out)
    elif isinstance(obj, float):
        out.append(0xCB)
        out += _P_D(obj)
    elif isinstance(obj, str):
        b = obj.encode("utf-8")
        n = len(b)
        if n <= 31:
            out.append(0xA0 | n)
        elif n <= 0xFF:
            out += _P_BB(0xD9, n)
        elif n <= 0xFFFF:
            out += _P_BH(0xDA, n)
        else:
            out += _P_BI(0xDB, n)
        out += b
    elif isinstance(obj, (bytes, bytearray)):
        n = len(obj)
        if n <= 0xFF:
            out += _P_BB(0xC4, n)
        elif n <= 0xFFFF:
            out += _P_BH(0xC5, n)
        else:
            out += _P_BI(0xC6, n)
        out += obj
    elif isinstance(obj, (list, tuple)):
        n = len(obj)
        if n <= 15:
            out.append(0x90 | n)
        elif n <= 0xFFFF:
            out += _P_BH(0xDC, n)
        else:
            out += _P_BI(0xDD, n)
        for v in obj:
            _pack(v, out)
    elif isinstance(obj, dict):
        n = len(obj)
        if n <= 15:
            out.append(0x80 | n)
        elif n <= 0xFFFF:
            out += _P_BH(0xDE, n)
        else:
            out += _P_BI(0xDF, n)
        for k, v in obj.items():
            _pack(k, out)
            _pack(v, out)
    else:
        raise MsgpackError(f"cannot pack type {type(obj).__name__}")


def _pack_int(v: int, out: bytearray) -> None:
    if 0 <= v <= 0x7F:
        out.append(v)
    elif -32 <= v < 0:
        out.append(v & 0xFF)
    elif 0 <= v <= 0xFF:
        out.append(0xCC)
        out.append(v)
    elif 0 <= v <= 0xFFFF:
        out += _P_BH(0xCD, v)
    elif 0 <= v <= 0xFFFFFFFF:
        out += _P_BI(0xCE, v)
    elif 0 <= v <= 0xFFFFFFFFFFFFFFFF:
        out += _P_BQ(0xCF, v)
    elif -0x80 <= v < 0:
        out += _P_Bb(0xD0, v)
    elif -0x8000 <= v < 0:
        out += _P_Bh(0xD1, v)
    elif -0x80000000 <= v < 0:
        out += _P_Bi(0xD2, v)
    elif -0x8000000000000000 <= v < 0:
        out += _P_Bq(0xD3, v)
    else:
        raise MsgpackError("integer out of 64-bit range")


def unpackb(data: bytes | bytearray | memoryview) -> Any:
    b = bytes(data)
    obj, pos = _unpack(b, 0)
    if pos != len(b):
        raise MsgpackError(f"trailing bytes after object (at {pos}/{len(b)})")
    return obj


def _need(b: bytes, i: int, n: int) -> None:
    if i + n > len(b):
        raise MsgpackError("truncated MessagePack data")


def _unpack(b: bytes, i: int) -> tuple[Any, int]:
    _need(b, i, 1)
    t = b[i]
    i += 1
    if t <= 0x7F:
        return t, i
    if t >= 0xE0:
        return t - 0x100, i
    if 0x80 <= t <= 0x8F:
        return _unpack_map(b, i, t & 0x0F)
    if 0x90 <= t <= 0x9F:
        return _unpack_arr(b, i, t & 0x0F)
    if 0xA0 <= t <= 0xBF:
        return _take_str(b, i, t & 0x1F)
    if t == 0xC0:
        return None, i
    if t == 0xC2:
        return False, i
    if t == 0xC3:
        return True, i
    if t in (0xC4, 0xC5, 0xC6):
        n, i = _take_len(b, i, _BIN_W[t])
        _need(b, i, n)
        return b[i : i + n], i + n
    if t == 0xCA:
        _need(b, i, 4)
        return _U_F32(b, i)[0], i + 4
    if t == 0xCB:
        _need(b, i, 8)
        return _U_F64(b, i)[0], i + 8
    if t in (0xCC, 0xCD, 0xCE, 0xCF):
        u, n = _UINT_U[t]
        _need(b, i, n)
        return u(b, i)[0], i + n
    if t in (0xD0, 0xD1, 0xD2, 0xD3):
        u, n = _SINT_U[t]
        _need(b, i, n)
        return u(b, i)[0], i + n
    if t in (0xD9, 0xDA, 0xDB):
        n, i = _take_len(b, i, _STR_W[t])
        return _take_str(b, i, n)
    if t in (0xDC, 0xDD):
        n, i = _take_len(b, i, _ARR_W[t])
        return _unpack_arr(b, i, n)
    if t in (0xDE, 0xDF):
        n, i = _take_len(b, i, _MAP_W[t])
        return _unpack_map(b, i, n)
    raise MsgpackError(f"unsupported type byte 0x{t:02x} (ext types rejected)")


def _take_len(b: bytes, i: int, width: int) -> tuple[int, int]:
    _need(b, i, width)
    return _LEN_U[width](b, i)[0], i + width


def _take_str(b: bytes, i: int, n: int) -> tuple[str, int]:
    _need(b, i, n)
    try:
        return b[i : i + n].decode("utf-8"), i + n
    except UnicodeDecodeError as e:
        raise MsgpackError(f"invalid utf-8 in str: {e}") from None


def _unpack_arr(b: bytes, i: int, n: int) -> tuple[list, int]:
    out = []
    for _ in range(n):
        v, i = _unpack(b, i)
        out.append(v)
    return out, i


def _unpack_map(b: bytes, i: int, n: int) -> tuple[dict, int]:
    out = {}
    for _ in range(n):
        k, i = _unpack(b, i)
        # container-typed keys (arrays/maps) are unhashable — reject them
        # inside the documented MsgpackError contract instead of leaking
        # TypeError out of decode on adversarial streams
        if isinstance(k, (list, dict)):
            raise MsgpackError(f"non-scalar map key of type {type(k).__name__}")
        v, i = _unpack(b, i)
        out[k] = v
    return out, i
