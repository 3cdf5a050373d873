"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from one integer
seed, before any timing starts:

- Kafka-shaped topic records (the file-stream stand-in for the broker):
  envelope columns plus a JSON or MessagePack payload, staged as Parquet
  files that ``spark.readStream.parquet`` drains like a topic.
- The synthetic star-schema and corpus tables the registry queries read
  (same table names, columns and value domains as the project's test
  fixtures, at a chosen scale factor).

The same seed gives byte-identical staged files (pyarrow writes with
fixed options, no timestamps in the metadata).
"""

from __future__ import annotations

import functools
import json
import os
import struct
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Envelope DDL of the staged topic files — the collector's file-stream
#: source schema (kafka_timestamp is epoch milliseconds).
ENVELOPE_DDL = (
    "kafka_topic string, kafka_partition long, kafka_offset long, "
    "kafka_timestamp long, kafka_key string, value binary"
)
ENVELOPE_SCHEMA = pa.schema(
    [
        ("kafka_topic", pa.string()),
        ("kafka_partition", pa.int64()),
        ("kafka_offset", pa.int64()),
        ("kafka_timestamp", pa.int64()),
        ("kafka_key", pa.string()),
        ("value", pa.binary()),
    ]
)

DAY_MS = 86_400_000
#: 2024-01-01T00:00:00Z — first event date of every generated topic
EPOCH0_MS = 1_704_067_200_000

#: topic -> payload format (the export_bulk topic set)
TOPIC_FORMATS = {"spx_index": "json", "spx_options": "json", "es_futures": "msgpack"}
#: Kafka partitions of every generated topic
N_PARTITIONS = 8


# ---------------------------------------------------------------------------
# MessagePack encoder (independent of the program's codec, so a symmetric
# encode/decode bug cannot cancel out)


_DOUBLE = struct.Struct(">d")


def msgpack_pack(obj) -> bytes:
    out = bytearray()
    _pack(obj, out)
    return bytes(out)


@functools.lru_cache(maxsize=4096)
def _packed_str(s: str) -> bytes:
    b = s.encode("utf-8")
    if len(b) < 32:
        return bytes([0xA0 | len(b)]) + b
    return (b"\xd9" + bytes([len(b)]) if len(b) < 256 else b"\xda" + struct.pack(">H", len(b))) + b


def _pack(obj, out: bytearray) -> None:
    t = type(obj)
    if t is dict:
        out += bytes([0x80 | len(obj)]) if len(obj) < 16 else b"\xde" + struct.pack(">H", len(obj))
        for k, v in obj.items():
            _pack(k, out)
            _pack(v, out)
    elif t is str:
        out += _packed_str(obj)
    elif t is float:
        out += b"\xcb" + _DOUBLE.pack(obj)
    elif t is int:
        if 0 <= obj < 128:
            out.append(obj)
        elif 0 <= obj < 2**32:
            out += b"\xce" + struct.pack(">I", obj)
        else:
            out += b"\xd3" + struct.pack(">q", obj)
    elif t is bool:
        out.append(0xC3 if obj else 0xC2)
    elif obj is None:
        out.append(0xC0)
    elif t is list or t is tuple:
        out += bytes([0x90 | len(obj)]) if len(obj) < 16 else b"\xdc" + struct.pack(">H", len(obj))
        for x in obj:
            _pack(x, out)
    else:
        raise TypeError(f"cannot pack {type(obj).__name__}")


# ---------------------------------------------------------------------------
# topic payloads


def _payloads(topic: str, rng: np.random.Generator, seqs: list[int]) -> list[dict]:
    """One payload per sequence number. Each random field is drawn for the
    whole batch at once."""
    n = len(seqs)
    px = np.round(4700.0 + rng.normal(0, 40, n), 2).tolist()
    if topic in ("spx_index", "es_futures"):
        head = {"symbol": "SPX"} if topic == "spx_index" else {"symbol": "ES", "contract": "ESH4"}
        volume = rng.integers(0, 5000 if topic == "spx_index" else 3000, n).tolist()
        return [
            {
                "event_type": "market_data",
                "source": "ibkr",
                "data": {**head, "price": p, "bid": round(p - 0.25, 2), "ask": round(p + 0.25, 2), "volume": v},
                "metadata": {"exchange": "CBOE", "seq": seq},
            }
            for p, v, seq in zip(px, volume, seqs)
        ]
    if topic != "spx_options":
        raise KeyError(topic)
    strike = (4500.0 + 5 * rng.integers(0, 80, n)).tolist()
    mid = np.round(np.abs(np.array(px) - strike) * 0.1 + rng.uniform(1, 30, n), 2).tolist()
    right = np.where(rng.random(n) < 0.5, "C", "P").tolist()
    month = rng.integers(1, 7, n).tolist()
    volume = rng.integers(0, 2000, n).tolist()
    oi = rng.integers(0, 50000, n).tolist()
    iv = np.round(rng.uniform(0.08, 0.6, n), 4).tolist()
    greeks = {
        "delta": np.round(rng.uniform(-1, 1, n), 4).tolist(),
        "gamma": np.round(rng.uniform(0, 0.01, n), 6).tolist(),
        "theta": np.round(rng.uniform(-5, 0, n), 4).tolist(),
        "vega": np.round(rng.uniform(0, 8, n), 4).tolist(),
        "rho": np.round(rng.uniform(-2, 2, n), 4).tolist(),
    }
    n_exchanges = rng.integers(1, 5, n).tolist()
    exchanges = ["CBOE", "PHLX", "ISE", "AMEX"]
    return [
        {
            "event_type": "option_quote",
            "source": "ibkr",
            "data": {
                "symbol": "SPX",
                "strike": strike[i],
                "right": right[i],
                "expiry": f"2024-0{month[i]}-16",
                "bid": round(mid[i] - 0.05, 2),
                "ask": round(mid[i] + 0.05, 2),
                "last": mid[i],
                "volume": volume[i],
                "open_interest": oi[i],
                "implied_vol": iv[i],
                "underlying_price": px[i],
                "greeks": {k: v[i] for k, v in greeks.items()},
                "exchanges": exchanges[: n_exchanges[i]],
            },
            "metadata": {"exchange": "CBOE", "seq": seq, "feed": "opra"},
        }
        for i, seq in enumerate(seqs)
    ]


def _corrupt(fmt: str, rng: np.random.Generator) -> bytes:
    if fmt == "json":
        # truncated document: not valid JSON, so it lands in raw_value
        return b'{"event_type": "market_data", "data": {"symbol": "SP'
    # a MessagePack map header promising more entries than follow
    return bytes([0x83, 0xA3]) + b"abc" + bytes([int(rng.integers(0x01, 0x7F))])


def encode(fmt: str, payload: dict) -> bytes:
    if fmt == "json":
        return json.dumps(payload, separators=(",", ":")).encode("utf-8")
    return msgpack_pack(payload)


@dataclass
class TopicBatch:
    """One generated slice of a topic, in envelope columns."""

    topic: str
    fmt: str
    partition: list[int] = field(default_factory=list)
    offset: list[int] = field(default_factory=list)
    timestamp: list[int | None] = field(default_factory=list)
    key: list[str] = field(default_factory=list)
    value: list[bytes] = field(default_factory=list)
    #: how many rows carry a null timestamp / a corrupt payload
    n_null_ts: int = 0
    n_corrupt: int = 0

    def __len__(self) -> int:
        return len(self.offset)

    def table(self) -> pa.Table:
        return pa.table(
            {
                "kafka_topic": [self.topic] * len(self),
                "kafka_partition": self.partition,
                "kafka_offset": self.offset,
                "kafka_timestamp": self.timestamp,
                "kafka_key": self.key,
                "value": self.value,
            },
            schema=ENVELOPE_SCHEMA,
        )

    def keys(self) -> set[tuple[int, int]]:
        return set(zip(self.partition, self.offset))


def topic_batch(
    rng: np.random.Generator,
    topic: str,
    n: int,
    *,
    day_lo: int = 0,
    day_hi: int = 30,
    next_offsets: dict[int, int] | None = None,
    null_ts_share: float = 0.0,
    corrupt_share: float = 0.0,
) -> TopicBatch:
    """`n` records spread over `N_PARTITIONS` partitions and the event
    days [day_lo, day_hi). Offsets continue per partition from
    `next_offsets` (updated in place); timestamps rise with offset within
    a partition, as a broker assigns them. Exactly `round(share * n)`
    rows, at seeded positions, carry a null timestamp or a corrupt
    payload.
    """
    fmt = TOPIC_FORMATS[topic]
    next_offsets = next_offsets if next_offsets is not None else {}
    ts = np.sort(rng.integers(EPOCH0_MS + day_lo * DAY_MS, EPOCH0_MS + day_hi * DAY_MS, n))
    parts = rng.integers(0, N_PARTITIONS, n).tolist()
    picked = rng.permutation(n)
    n_null_ts, n_corrupt = round(null_ts_share * n), round(corrupt_share * n)
    null_ts = np.zeros(n, bool)
    null_ts[picked[:n_null_ts]] = True
    # a corrupt payload always carries a timestamp, so it is committed
    corrupt = np.zeros(n, bool)
    corrupt[picked[n_null_ts : n_null_ts + n_corrupt]] = True
    offsets = []
    for p in parts:
        offsets.append(next_offsets.get(p, 0))
        next_offsets[p] = offsets[-1] + 1
    payloads = _payloads(topic, rng, [p * 10**9 + off for p, off in zip(parts, offsets)])
    return TopicBatch(
        topic=topic,
        fmt=fmt,
        partition=parts,
        offset=offsets,
        timestamp=[None if z else t for z, t in zip(null_ts.tolist(), ts.tolist())],
        key=[f"{topic}-{p}-{off}" for p, off in zip(parts, offsets)],
        value=[
            _corrupt(fmt, rng) if bad else encode(fmt, d) for bad, d in zip(corrupt.tolist(), payloads)
        ],
        n_null_ts=n_null_ts,
        n_corrupt=n_corrupt,
    )


def redeliver(rng: np.random.Generator, prev: TopicBatch, share: float) -> TopicBatch:
    """Exact copies (same partition, offset, timestamp, key and bytes) of
    a seeded share of `prev` — an at-least-once broker redelivering."""
    pick = np.flatnonzero(rng.random(len(prev)) < share)
    out = TopicBatch(topic=prev.topic, fmt=prev.fmt)
    for i in pick:
        out.partition.append(prev.partition[i])
        out.offset.append(prev.offset[i])
        out.timestamp.append(prev.timestamp[i])
        out.key.append(prev.key[i])
        out.value.append(prev.value[i])
    return out


def write_parquet(table: pa.Table, path: str) -> None:
    """Deterministic Parquet write: the same table gives the same bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="zstd", use_dictionary=True, store_schema=False)
    # stage atomically: a file-stream source lists the directory and must
    # never see a half-written file
    os.replace(tmp, path)


def stage(batch: TopicBatch, src_dir: str, name: str) -> str:
    path = os.path.join(src_dir, f"{name}.parquet")
    write_parquet(batch.table(), path)
    return path


# ---------------------------------------------------------------------------
# registry tables (the fixture schema, at scale factor `sf`)

_WORDS = (
    "the a data stream table query spark batch window join merge key value "
    "row column part order line customer scan filter group agg sort hash "
    "small big fast slow index vector"
).split()
_ADJ = "red blue small big hot cold old new".split()
_NOUN = "bolt gear widget ring rod plate anvil nut".split()


def _day_ts(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return (days * 86_400_000_000).astype("datetime64[us]")


def make_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables. Row counts scale like TPC-H: lineitem is
    6M x sf, orders 1.5M x sf, and so on."""
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_li = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 200)
    n_doc = max(int(50_000 * sf), 50)
    n_vec = max(int(50_000 * sf), 50)
    r2 = lambda a: np.round(a, 2)  # noqa: E731

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": r2(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": seg[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": r2(rng.uniform(-999.99, 9999.99, n_supp)),
        }
    )
    ptype = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    retail = r2(900.0 + (np.arange(n_part) % 1000) / 10.0)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": ptype[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": r2(rng.uniform(1000.0, 500_000.0, n_ord)),
            "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
        }
    )
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": r2(qty * retail[partkey] * rng.uniform(1.0, 2.3, n_li)),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _day_ts(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + 1_704_067_200_000_000
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": ev_us.astype("datetime64[us]"),
            "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 10), n_ev), pa.int64()),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": r2(rng.uniform(0.01, 490.02, n_ev)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[w] for w in rng.integers(0, len(_WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": np.array(["en", "en", "en", "de", "es", "fr"])[rng.integers(0, 6, n_doc)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write the registry tables as `<out_dir>/<name>.parquet`; returns
    row counts."""
    tables = make_tables(np.random.default_rng([seed, 7]), sf)
    for name, table in tables.items():
        write_parquet(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}

