#!/usr/bin/env python
"""Interleaved A/B of two git revisions, each side run from its own checkout.

    python scripts/ab.py REV_A REV_B --queries q1,q2,... [--pairs N]
    python scripts/ab.py REV_A REV_B --workload NAME [--pairs N]

REV_A is the parent and REV_B the change; to measure uncommitted work,
pass `$(git stash create)` as REV_B. Each rev is extracted with
`git archive` into its own temp directory, removed at exit. Every side
runs as a subprocess whose cwd and PYTHONPATH are its own checkout, and
reports the file from which its driver and a Spark Python worker
imported the package; a file outside the side's checkout fails the run.

Pair i (1..N) runs both sides, A first on odd pairs and B first on even
ones.

--queries times each registry query with bench.py's protocol (one warm
run, then the minimum of 4 runs into the `noop` sink) at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS], gates on equal sorted
rows (floats compared by bit pattern) and reports whether the executed
plans are equal once their ids are renumbered.

--workload runs `lakebench/run.py --workload NAME --seed i --seconds
<run_seconds> --trace 0` on both sides of pair i and reports every
end-to-end metric of BENCHMARK.json and the failed operations. Both revs
must hold the same lakebench/ and BENCHMARK.json.

For each metric the report gives each side's median and quartiles, the
pairs each side won (ties count for neither) and a verdict, with the
bound read from REV_A's BENCHMARK.json (query times take op_cpu_mean_s's
bound):
  gain        B wins at least 9/10 of the pairs and the medians differ
              by more than A's interquartile range
  regression  B's median is worse than A's by more than the bound
  unresolved  either side's interquartile range exceeds the bound
  flat        otherwise
The bound and the spread are shares of the median. The exit status is
non-zero when a side fails, rows differ or a worker imported code from
outside its checkout; the verdicts never change it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

from bitcheck import exact
from dump_plans import normalize_ids, plan_str

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMED_RUNS = 4
TIME_BOUND_METRIC = "op_cpu_mean_s"


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), with the quartiles of lakebench/steadiness.py."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def compare(a: list[float], b: list[float], better: str, bound: float) -> dict:
    """Summarize paired runs of side A (parent) and side B (change) of one
    metric; `better` is "lower" or "higher"."""
    sign = 1 if better == "lower" else -1
    qa, qb = quartiles(a), quartiles(b)
    wins_a = sum(sign * (y - x) > 0 for x, y in zip(a, b))
    wins_b = sum(sign * (x - y) > 0 for x, y in zip(a, b))
    gain = sign * (qa[1] - qb[1])  # > 0 when B's median is better
    iqr_a, iqr_b = qa[2] - qa[0], qb[2] - qb[0]
    if wins_b * 10 >= 9 * len(a) and gain > iqr_a:
        verdict = "gain"
    elif -gain / qa[1] > bound:
        verdict = "regression"
    elif max(iqr_a / qa[1], iqr_b / qb[1]) > bound:
        verdict = "unresolved"
    else:
        verdict = "flat"
    return {"a": qa, "b": qb, "wins_a": wins_a, "wins_b": wins_b, "verdict": verdict}


def row_digest(columns: list[str], rows: list[tuple]) -> str:
    """Digest of a result independent of row and column order, with
    floats taken by bit pattern."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(exact(r[i]) for i in order)) for r in rows)
    return hashlib.sha256("\n".join([repr(sorted(columns)), *lines]).encode()).hexdigest()


def check_rows(name: str, digests_a: list[str], digests_b: list[str]) -> str | None:
    if len(set(digests_a) | set(digests_b)) != 1:
        return f"{name}: rows differ (A {sorted(set(digests_a))}, B {sorted(set(digests_b))})"
    return None


def check_import_path(path: str, checkout: str) -> str | None:
    real, root = os.path.realpath(path), os.path.realpath(checkout)
    if os.path.commonpath([real, root]) != root:
        return f"package imported from {path}, outside the checkout {checkout}"
    return None


def side(names: list[str]) -> None:
    """Body of one side's process: time `names` (none: only report the
    import paths) and print one JSON line."""
    import redpanda_to_parquet_writer_spark as pkg
    from redpanda_to_parquet_writer_spark.config import EngineConfig
    from redpanda_to_parquet_writer_spark.plans import QUERIES
    from redpanda_to_parquet_writer_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    cfg = EngineConfig(master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark = get_spark(cfg, app_name="ab")
    worker = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: __import__("redpanda_to_parquet_writer_spark").__file__)
        .first()
    )
    out = {"driver": pkg.__file__, "worker": worker, "queries": {}}
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = normalize_ids(plan_str(df))
        df.write.mode("overwrite").format("noop").save()  # warm
        runs = []
        for _ in range(TIMED_RUNS):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - t0)
        out["queries"][name] = {
            "s": min(runs),
            "rows": row_digest(df.columns, [tuple(r) for r in df.collect()]),
            "plan": plan,
        }
    spark.stop()
    print(json.dumps(out))


def _run(cmd: list[str], checkout: str) -> dict:
    """Run `cmd` in `checkout`; return its exit status as "rc" and the
    JSON object its last stdout line holds."""
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([checkout, HERE])}
    proc = subprocess.run(cmd, cwd=checkout, env=env, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return {"rc": proc.returncode, **json.loads(lines[-1])}
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stderr[-4000:])
        return {"rc": proc.returncode or 1}


def _side_cmd(names: list[str]) -> list[str]:
    return [sys.executable, "-c", "import sys, ab; ab.side(sys.argv[1:])", *names]


def _checkout(rev: str, dest: str) -> str:
    with subprocess.Popen(["git", "-C", ROOT, "archive", rev], stdout=subprocess.PIPE) as git:
        with tarfile.open(fileobj=git.stdout, mode="r|") as tar:
            tar.extractall(dest, filter="data")
    if git.returncode:
        raise SystemExit(f"git archive {rev} failed")
    return dest


def _import_errors(label: str, res: dict, checkout: str) -> list[str]:
    print(f"{label} imports: driver {res['driver']}, worker {res['worker']}")
    errs = [check_import_path(res[k], checkout) for k in ("driver", "worker")]
    return [f"{label} {e}" for e in errs if e]


def _fmt(q: tuple[float, float, float]) -> str:
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def _report(name: str, a: list[float], b: list[float], better: str, bound: float) -> None:
    c = compare(a, b, better, bound)
    print(
        f"{name}: A {_fmt(c['a'])}  B {_fmt(c['b'])}  "
        f"wins A {c['wins_a']} B {c['wins_b']} of {len(a)}  "
        f"{c['verdict']} (bound {bound}, {better} is better)"
    )
    print(f"  A runs {[round(x, 4) for x in a]}\n  B runs {[round(x, 4) for x in b]}")


def _report_queries(names: list[str], results: dict, bound: float) -> list[str]:
    errors = []
    for name in names:
        a = [r["queries"][name] for r in results["A"]]
        b = [r["queries"][name] for r in results["B"]]
        err = check_rows(name, [x["rows"] for x in a], [x["rows"] for x in b])
        errors += [err] if err else []
        plans = "equal" if len({x["plan"] for x in a + b}) == 1 else "DIFFER"
        print(f"{name}: rows {'DIFFER' if err else 'equal'}, normalized plans {plans}")
        _report(f"{name} seconds", [x["s"] for x in a], [x["s"] for x in b], "lower", bound)
    return errors


def _report_workload(workload: str, metrics: dict, results: dict) -> None:
    for s in ("A", "B"):
        failed = sum(r["failed"] for r in results[s])
        attempted = sum(r["attempted"] for r in results[s])
        print(f"side {s}: {failed} of {attempted} operations failed")
    for name, m in metrics.items():
        a = [r["metrics"][name]["value"] for r in results["A"]]
        b = [r["metrics"][name]["value"] for r in results["B"]]
        _report(f"{workload} {name}", a, b, m["better"], m["bound"])


def main() -> int:
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    p.add_argument("rev_a")
    p.add_argument("rev_b")
    mode = p.add_mutually_exclusive_group(required=True)
    mode.add_argument("--queries", help="comma-separated registry query names")
    mode.add_argument("--workload", help="a workload of BENCHMARK.json")
    p.add_argument("--pairs", type=int, default=10)
    args = p.parse_args()
    if args.pairs < 1:
        p.error("--pairs must be at least 1")
    bench_paths = ["--", "lakebench", "BENCHMARK.json"]
    diff = ["git", "-C", ROOT, "diff", "--quiet", args.rev_a, args.rev_b, *bench_paths]
    if args.workload and subprocess.run(diff).returncode:
        p.error("the revs differ in lakebench/ or BENCHMARK.json: both must run one benchmark")
    names = args.queries.split(",") if args.queries else []

    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        revs = {"A": args.rev_a, "B": args.rev_b}
        dirs = {s: _checkout(rev, os.path.join(tmp, s)) for s, rev in revs.items()}
        with open(os.path.join(dirs["A"], "BENCHMARK.json")) as f:
            bench = json.load(f)
        metrics = {m["name"]: m for m in bench["end_to_end"]}
        lakebench = [*bench["command"], "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        results: dict[str, list[dict]] = {"A": [], "B": []}
        errors = []
        for i in range(1, args.pairs + 1):
            for s in ("A", "B") if i % 2 else ("B", "A"):
                t0 = time.monotonic()
                if names:
                    cmd = _side_cmd(names)
                else:
                    cmd = [*lakebench, "--workload", args.workload, "--seed", str(i)]
                res = _run(cmd, dirs[s])
                took = time.monotonic() - t0
                print(f"pair {i} side {s}: exit {res['rc']} in {took:.1f}s", flush=True)
                if res["rc"]:
                    errors.append(f"pair {i} side {s} exited {res['rc']}")
                else:
                    results[s].append(res)
        # lakebench reports no import path, so each checkout is probed once
        probes = {s: [_run(_side_cmd([]), dirs[s])] for s in dirs} if args.workload else results
        for s in dirs:
            for res in probes[s]:
                if res["rc"]:
                    errors.append(f"side {s} probe exited {res['rc']}")
                else:
                    errors += _import_errors(s, res, dirs[s])
        if not errors:
            print(f"A = {args.rev_a}, B = {args.rev_b}, {args.pairs} pairs")
            if names:
                errors = _report_queries(names, results, metrics[TIME_BOUND_METRIC]["bound"])
            else:
                _report_workload(args.workload, metrics, results)
    for e in errors:
        print(f"FAIL {e}")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
