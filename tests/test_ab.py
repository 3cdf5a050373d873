"""A/B tool verdicts and gates (scripts/ab.py), on synthetic pairs.

Pins the pair rule a speed claim must meet (at least 9/10 wins and a
median gap wider than the parent's interquartile range), the regression
and unresolved verdicts against a bound, the row-digest gate and the
check that each side imported its own checkout. Needs no Spark.
"""

import importlib.util
import os
import sys

_SCRIPTS = os.path.join(os.path.dirname(__file__), "..", "scripts")

spec = importlib.util.spec_from_file_location("ab", os.path.join(_SCRIPTS, "ab.py"))
ab = importlib.util.module_from_spec(spec)
sys.path.insert(0, _SCRIPTS)  # ab.py imports its sibling scripts
try:
    spec.loader.exec_module(ab)
finally:
    sys.path.remove(_SCRIPTS)

PARENT = [1.00, 1.02, 0.98, 1.01, 0.99, 1.03, 0.97, 1.00, 1.02, 0.98]


def test_gain_needs_nine_of_ten_wins_and_a_gap_wider_than_the_iqr():
    change = [x - 0.2 for x in PARENT]
    c = ab.compare(PARENT, change, "lower", 0.25)
    assert (c["verdict"], c["wins_a"], c["wins_b"]) == ("gain", 0, 10)

    # 8/10 wins: the same median gap is no gain
    eight = change[:8] + [x + 0.4 for x in change[8:]]
    c = ab.compare(PARENT, eight, "lower", 0.25)
    assert (c["wins_b"], c["verdict"]) == (8, "flat")

    # every pair won, but by less than the parent's interquartile range
    q1, _, q3 = ab.quartiles(PARENT)
    close = [x - (q3 - q1) / 2 for x in PARENT]
    c = ab.compare(PARENT, close, "lower", 0.25)
    assert (c["wins_b"], c["verdict"]) == (10, "flat")


def test_higher_is_better_flips_the_direction():
    up = [x + 0.2 for x in PARENT]
    assert ab.compare(PARENT, up, "higher", 0.25)["verdict"] == "gain"
    assert ab.compare(PARENT, up, "lower", 0.1)["verdict"] == "regression"


def test_regression_unresolved_and_flat():
    assert ab.compare(PARENT, [x * 1.3 for x in PARENT], "lower", 0.25)["verdict"] == "regression"
    # a worse median within the bound is no regression
    assert ab.compare(PARENT, [x * 1.2 for x in PARENT], "lower", 0.25)["verdict"] == "flat"
    wide = [0.5, 1.5, 0.6, 1.4, 0.7, 1.3, 0.8, 1.2, 1.0, 1.0]
    assert ab.compare(PARENT, wide, "lower", 0.25)["verdict"] == "unresolved"
    assert ab.compare(wide, PARENT, "lower", 0.25)["verdict"] == "unresolved"
    assert ab.compare(PARENT, list(PARENT), "lower", 0.25) == {
        "a": ab.quartiles(PARENT),
        "b": ab.quartiles(PARENT),
        "wins_a": 0,
        "wins_b": 0,
        "verdict": "flat",
    }


def test_single_pair_has_no_spread():
    assert ab.quartiles([2.0]) == (2.0, 2.0, 2.0)
    assert ab.compare([2.0], [2.0], "lower", 0.25)["verdict"] == "flat"


def test_row_gate_fails_on_unequal_rows():
    rows = [(1, "a", 0.3), (2, "b", 1.5)]
    digest = ab.row_digest(["id", "k", "x"], rows)
    # row and column order do not matter
    assert ab.row_digest(["x", "k", "id"], [(1.5, "b", 2), (0.3, "a", 1)]) == digest
    assert ab.check_rows("q", [digest, digest], [digest]) is None

    other_bits = ab.row_digest(["id", "k", "x"], [(1, "a", 0.1 + 0.2), (2, "b", 1.5)])
    missing_row = ab.row_digest(["id", "k", "x"], rows[:1])
    for bad in (other_bits, missing_row):
        assert bad != digest
        assert "rows differ" in ab.check_rows("q", [digest], [bad])
    assert ab.check_rows("q", [digest, missing_row], [digest]) is not None


def test_import_path_check_fails_outside_the_checkout(tmp_path):
    checkout = tmp_path / "A"
    pkg = checkout / "redpanda_to_parquet_writer_spark" / "__init__.py"
    assert ab.check_import_path(str(pkg), str(checkout)) is None
    for outside in (tmp_path / "B" / "redpanda_to_parquet_writer_spark" / "__init__.py",
                    tmp_path / "A2" / "redpanda_to_parquet_writer_spark" / "__init__.py"):
        assert "outside the checkout" in ab.check_import_path(str(outside), str(checkout))
