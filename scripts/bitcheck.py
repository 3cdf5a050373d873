"""Bitwise Spark-vs-DuckDB comparison for named queries.

Stricter than verify_oracle.py's 9-significant-digit normalization: float
columns compare via `float.hex()` (exact bit pattern), which is what the
driver's value hash effectively requires. Spark's `round(double, d)`
(BigDecimal over the shortest decimal repr) and DuckDB's round (binary
value) can differ in the last ulps on rounding-boundary values —
invisible at 9 digits, fatal to the hash. Any new or changed query
should pass THIS check, not just the 9-digit sweep; see
plans/relational2.py's module docstring for the exact-arithmetic
patterns that guarantee it.

Also type-aware: the driver hashes Arrow-typed values, so a DuckDB
HUGEINT (`decimal128(38,0)`) vs Spark BIGINT (`int64`) fails the gate
even when every value is bitwise-identical (the round-2/3 regression
class). This script compares the Arrow schema of both sides — Spark via
metadata-only conversion of the plan schema, DuckDB via a LIMIT-0
execution — and flags any dtype divergence as TYPE-MISMATCH.

Usage: python scripts/bitcheck.py <query> [<query> ...] [--sf <dir>]
       python scripts/bitcheck.py --all
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def exact(v) -> str:
    if isinstance(v, float):
        return v.hex()
    return repr(v)


def _norm_type(t) -> str:
    # Normalize to the driver's empirical type-sensitivity (from three
    # rounds of CORRECTNESS evidence):
    #   - integer WIDTHS are equivalent (int32 `size()`/`row_number()` vs
    #     DuckDB int64 `len()` was green in every round)
    #   - tz-annotated vs naive timestamps of one unit are equivalent
    #     (hourly_event_stats green in r1/r2)
    #   - decimal128 vs int64 is NOT (the HUGEINT hash-fail class) —
    #     decimals stay distinct
    import re

    s = re.sub(r", tz=[^\]]+", "", str(t))
    return re.sub(r"^u?int(8|16|32|64)$", "int", s)


def spark_arrow_types(sdf) -> dict[str, str]:
    """Arrow type per column from the plan schema (no execution)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(sdf.schema)
    return {f.name: _norm_type(f.type) for f in schema}


def duck_arrow_types(con, sql: str) -> dict[str, str]:
    """Arrow type per column via a LIMIT-0 run of the oracle."""
    tbl = con.execute(f"SELECT * FROM ({sql}) LIMIT 0").arrow()
    return {f.name: _norm_type(f.type) for f in tbl.schema}


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    from redpanda_to_parquet_writer_spark.config import EngineConfig
    from redpanda_to_parquet_writer_spark.plans import ORACLES, QUERIES
    from redpanda_to_parquet_writer_spark.session import get_spark

    args = sys.argv[1:]
    sf = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        del args[i : i + 2]
    names = sorted(QUERIES) if "--all" in args else args
    spark = get_spark(
        EngineConfig(shuffle_partitions=8, master="local[8]"), "bitcheck"
    )
    con = duckdb.connect()
    for t in TABLES.split():
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
        )
    rc = 0
    for name in names:
        try:
            sdf = QUERIES[name](spark, sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            res = con.execute(ORACLES[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            so = sorted(range(len(scols)), key=lambda i: scols[i])
            do = sorted(range(len(dcols)), key=lambda i: dcols[i])
            s = sorted(tuple(exact(r[i]) for i in so) for r in srows)
            d = sorted(tuple(exact(r[i]) for i in do) for r in drows)
            stypes = spark_arrow_types(sdf)
            dtypes = duck_arrow_types(con, ORACLES[name])
            type_diff = {
                c: (stypes.get(c), dtypes.get(c))
                for c in set(stypes) | set(dtypes)
                if stypes.get(c) != dtypes.get(c)
            }
            values_ok = sorted(scols) == sorted(dcols) and s == d
            ok = values_ok and not type_diff
            label = (
                "BITWISE-OK"
                if ok
                else ("TYPE-MISMATCH" if values_ok else "MISMATCH")
            )
            print(name, label, len(s), len(d))
            if not ok:
                rc = 1
                if sorted(scols) != sorted(dcols):
                    print("  cols spark :", sorted(scols))
                    print("  cols oracle:", sorted(dcols))
                for c, (st, dt) in sorted(type_diff.items()):
                    print(f"  dtype {c}: spark={st} oracle={dt}")
                for a, b in zip(s, d):
                    if a != b:
                        print("  spark :", a)
                        print("  oracle:", b)
                        break
        except Exception as e:  # pragma: no cover - diagnostic tool
            rc = 1
            print(name, "ERR", str(e)[:300])
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
