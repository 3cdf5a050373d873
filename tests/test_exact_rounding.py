"""Property tests for the exact-ratio rule (`functions/ratio.py`).

Every averaged or ratio column of the registry computes round(num/den, 6)
as

    sign(num) * ((2 * |num|*1e6 + den) DIV (2 * den)) / 1e6

through `exact_ratio`, because round() of a double ratio splits Spark
from DuckDB at exact .5 boundaries (two sf1 failures). The Spark side
below drives `exact_ratio` itself; the DuckDB side runs the oracles'
form of the same rule. Both are pinned against Python Decimal
ROUND_HALF_UP (= half away from zero) over randomized inputs plus every
boundary shape that has bitten: exact ties, negative ties, values one
micro-ulp either side of a tie, zero sums, n=1.

Overflow bound: the micro-unit numerator is carried in DECIMAL(38,0)
(Spark) / HUGEINT (DuckDB), so the only int64 term is the QUOTIENT, the
rounded ratio in micro-units: the bound is a ratio under ~9.2e12,
independent of the sum and the row count. The cases below deliberately
cross the 2^63 numerator wall a BIGINT numerator would hit.

Two-tier contract, because the output column is a DOUBLE:
  1. |mean|·1e6 < 2^53 (mean under ~9.0e9): the emitted double is the
     exact Decimal ROUND_HALF_UP value — CAST(q AS DOUBLE) is lossless
     and the /1e6 is a single correctly-rounded IEEE division.
  2. 2^53 ≤ |mean|·1e6 < 2^63: the int→double cast itself rounds, so
     the result can sit 1 ulp off the true nearest double — but both
     engines run the identical IEEE op sequence (round-to-nearest cast,
     then one division), so they stay BIT-IDENTICAL to each other and
     to the reference semantics float(q)/1e6. Cross-engine hashes (the
     driver's gate) are safe through the full int64 quotient range.
"""

from __future__ import annotations

import random
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from redpanda_to_parquet_writer_spark.functions.ratio import exact_ratio

# the oracles' form of the rule: DuckDB's integer division and its
# 128-bit integer carrier
_DUCK_AVG = (
    # the quotient narrows to BIGINT before the double cast: DuckDB's
    # NEGATIVE hugeint->double conversion is not correctly rounded
    # (~1% of >2^53 values land 1 ulp off; measured r11), while
    # bigint->double is exact-rounding on both engines — and the
    # quotient is int64-bounded by contract anyway
    "CAST(CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)"
    " * ((2 * CAST(abs(s) * 1000000 AS HUGEINT) + n)"
    "    // (2 * n)) AS BIGINT) AS DOUBLE) / 1000000.0"
)


def _quotient_micro(s: Decimal, n: int) -> int:
    """The exact half-away-from-zero rounded mean in micro-units."""
    micro = int((abs(s) * 1_000_000).to_integral_value())
    q = (2 * micro + n) // (2 * n)
    return -q if s < 0 else q


def _expected(s: Decimal, n: int) -> float:
    """Reference semantics of the emitted double: IEEE double of the
    exact integer quotient, divided by 1e6 in one IEEE operation —
    identical to what both engines compute, at any magnitude."""
    return float(_quotient_micro(s, n)) / 1_000_000.0


def _cases() -> list[tuple[str, int]]:
    rng = random.Random(20260815)
    cases = []
    # every boundary shape that has bitten or could
    for s, n in [
        ("-125.523827", 22),      # the sf1 unigram tie (-5.7056285)
        ("72443.50", 1600),       # the sf1 hourly tie (45.2771875)
        ("0.01", 32),             # the constructed test tie (0.0003125)
        ("-0.01", 32),            # negative tie -> away from zero
        ("0.000001", 2),          # 5e-7: ties to 0.000001, not 0
        ("-0.000001", 2),
        ("0.00", 7),              # zero sum
        ("123.456789", 1),        # n=1 passthrough (6dp already < 1e-6 grid? 6dp exact)
        # --- r11: the old BIGINT numerator wall and beyond ---
        # |s|*1e6 = int64 max: the exact value the r10 cast died on
        ("9223372036854.775807", 1000),
        ("-9223372036854.775807", 1000),
        # 2*|s|*1e6 = 2^63: the earlier wall from the doubling
        ("4611686018427.387904", 977),
        # a full decade past the wall, 2dp like the event sums
        ("99999999999999.25", 12345),
        ("-99999999999999.25", 12345),
        # three decades past; quotient still < 9.2e12 via large n
        ("9999999999999999.50", 5000),
        ("-9999999999999999.50", 5000),
    ]:
        cases.append((s, n))
    for _ in range(400):
        micro = rng.randint(-10**13, 10**13)
        n = rng.randint(1, 10**6)
        cases.append((str(Decimal(micro) / 1_000_000), n))
        # force near-tie structure: make s_micro ≡ n/2-ish mod n
        n2 = rng.randint(2, 10**4) * 2
        k = rng.randint(0, 10**7)
        tie_micro = k * n2 + n2 // 2  # exact .5 tie
        sign = rng.choice((1, -1))
        for delta in (-1, 0, 1):
            cases.append((str(Decimal(sign * (tie_micro + delta)) / 1_000_000), n2))
    # r11: randomized sums in the overflow decade (micro-units in
    # (2^63, ~1e21]) with n sized so the rounded mean stays inside the
    # documented int64 quotient bound (|mean| <= ~9.2e12)
    for _ in range(120):
        micro = rng.randint(2**63, 10**21) * rng.choice((1, -1))
        n_min = abs(micro) // (9 * 10**18) + 1
        n = rng.randint(n_min, n_min * 1000)
        cases.append((str(Decimal(micro) / 1_000_000), n))
        # engineered exact ties straddling the old wall
        n2 = rng.randint(2, 10**4) * 2
        k = rng.randint(2**62, 2**63) // n2 * 4  # k*n2 ~ 2^64
        for delta in (-1, 0, 1):
            cases.append((str(Decimal(k * n2 + n2 // 2 + delta) / 1_000_000), n2))
    return cases


@pytest.mark.parametrize("engine", ["spark", "duckdb"])
def test_exact_avg_formula_matches_decimal_half_up(engine, spark):
    cases = _cases()
    if engine == "spark":
        df = spark.createDataFrame(
            [(i, Decimal(s), n) for i, (s, n) in enumerate(cases)],
            "i long, s decimal(38,6), n long",
        )
        got = {
            r["i"]: r["avg"]
            for r in df.select("i", exact_ratio("s", "n").alias("avg")).collect()
        }
    else:
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t (i BIGINT, s DECIMAL(38,6), n BIGINT)"
        )
        con.executemany(
            "INSERT INTO t VALUES (?, ?, ?)",
            [(i, s, n) for i, (s, n) in enumerate(cases)],
        )
        got = dict(
            con.execute(f"SELECT i, {_DUCK_AVG} FROM t").fetchall()
        )
    bad = []
    for i, (s, n) in enumerate(cases):
        sd = Decimal(s)
        want = _expected(sd, n)
        if float(got[i]).hex() != want.hex():
            bad.append((s, n, got[i], want))
        # tier 1: inside the 2^53 quotient envelope the emitted double
        # must ALSO be the exact Decimal ROUND_HALF_UP value
        if abs(_quotient_micro(sd, n)) < 2**53:
            exact = float(
                (sd / n).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
            )
            if float(got[i]).hex() != exact.hex():
                bad.append((s, n, got[i], exact))
    assert not bad, f"{len(bad)} mismatches, first: {bad[:3]}"


def _half_up(num: Decimal, den: int) -> float:
    return float((num / den).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def test_exact_ratio_count_ratios(spark):
    """The recall, fraction and share sites pass BIGINT counts (and
    `100 * count` for percentages): non-negative, exact, NULL on a zero
    denominator instead of an ANSI divide-by-zero failure. A compound
    SQL operand (pct_rank's `n - 1`) binds as one value."""
    rng = random.Random(20261019)
    rows = [(0, 0, 0), (1, 1, 3), (2, 2, 3), (3, 1, 8), (4, 7, 7), (5, 5, 0)]
    for i in range(6, 300):
        den = rng.randint(1, 10**9)
        rows.append((i, rng.randint(0, den), den))
    df = spark.createDataFrame(rows, "i long, c long, d long")
    got = {
        r["i"]: (r["frac"], r["pct"], r["plus1"])
        for r in df.select(
            "i",
            exact_ratio("c", "d").alias("frac"),
            exact_ratio("100 * c", "d").alias("pct"),
            exact_ratio("c", "d + 1").alias("plus1"),
        ).collect()
    }
    assert dict(df.select(exact_ratio("c", "d").alias("x")).dtypes)["x"] == "double"
    for i, c, d in rows:
        assert got[i][2].hex() == _half_up(Decimal(c), d + 1).hex(), (c, d)
        if d == 0:
            assert got[i][:2] == (None, None), (c, d)
            continue
        assert got[i][0].hex() == _half_up(Decimal(c), d).hex(), (c, d)
        assert got[i][1].hex() == _half_up(Decimal(100 * c), d).hex(), (c, d)


def test_negative_means_round_half_away_from_zero(spark, tmp_path):
    """`json_extract_props.avg_k` and `events_value_winsorized_stats`
    average sums that can be negative. Integer division truncates toward
    zero in both engines, so the unsigned form (2s+n) DIV 2n rounds a
    negative mean toward zero (-7/3 came out -2.333332, -7/128 as
    -0.054687). Engine and oracle must both round half away from zero."""
    import datetime

    from redpanda_to_parquet_writer_spark.plans import ORACLES, QUERIES
    from redpanda_to_parquet_writer_spark.plans.relational5 import (
        WINSOR_HI_PCT,
        WINSOR_LO_PCT,
    )

    rng = random.Random(7)
    groups = {
        "a": [(-0.01, -3), (0.0, 0), (0.0, 0)],
        "b": [(-1.25, -2), (-2.5, -1), (0.75, -4)],
        "c": [(round(rng.uniform(-50, 10), 2), rng.randint(-99, 20)) for _ in range(40)],
        # an exact negative tie: -7/128 = -0.0546875
        "d": [(-0.01, -1)] * 7 + [(0.0, 0)] * 121,
    }
    rows = []
    for etype, vals in groups.items():
        for v, k in vals:
            eid = len(rows)
            ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=eid)
            rows.append((eid, ts, eid % 5, etype, v, f'{{"k": {k}}}'))
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")

    want_k, want_w = {}, {}
    for etype, vals in groups.items():
        ks = [k for _, k in vals]
        want_k[etype] = _half_up(Decimal(sum(ks)), len(ks))
        ranked = sorted(
            (v, eid) for eid, _, _, t, v, _ in rows if t == etype
        )
        n = len(ranked)
        lo = ranked[((n - 1) * WINSOR_LO_PCT) // 100][0]
        hi = ranked[((n - 1) * WINSOR_HI_PCT) // 100][0]
        su = sum(round(min(max(v, lo), hi) * 1_000_000) for v, _ in ranked)
        want_w[etype] = _half_up(Decimal(su) / 1_000_000, n)

    spark_k = {
        r["event_type"]: r["avg_k"]
        for r in QUERIES["json_extract_props"](spark, sf).collect()
    }
    spark_w = {
        r["event_type"]: r["winsorized_mean"]
        for r in QUERIES["events_value_winsorized_stats"](spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'")
    duck_k = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT event_type, avg_k FROM ({ORACLES['json_extract_props']})"
        ).fetchall()
    }
    duck_w = {
        r[0]: r[1]
        for r in con.execute(
            "SELECT event_type, winsorized_mean FROM"
            f" ({ORACLES['events_value_winsorized_stats']})"
        ).fetchall()
    }
    assert want_k["b"] == -2.333333 and want_k["d"] == -0.054688
    assert want_w["a"] == -0.003333
    for got in (spark_k, duck_k):
        assert {t: v.hex() for t, v in got.items()} == {
            t: v.hex() for t, v in want_k.items()
        }
    for got in (spark_w, duck_w):
        assert {t: v.hex() for t, v in got.items()} == {
            t: v.hex() for t, v in want_w.items()
        }
