#!/usr/bin/env python3
"""Run the benchmark over several seeds and report how steady each
end-to-end metric is.

    python3 lakebench/steadiness.py --seeds 1-10 [--workloads export_bulk]

Reads the command, run length, workloads and bounds from BENCHMARK.json
(run from the repository root). For each workload and metric it prints
the median of the per-seed values and the spread: the distance between
the first and third quartiles (``statistics.quantiles(values, n=4)``) as
a share of the median. A spread at or above a third of the metric's bound
is flagged, except for setup_s, whose bound only limits the median.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default=None, help="comma-separated subset")
    args = p.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    rows = []
    ok = True
    for w in names:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        walls = []
        for seed in seeds(args.seeds):
            cmd = [*bench["command"], "--workload", w, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, capture_output=True, text=True)
            walls.append(time.monotonic() - t0)
            line = json.loads(proc.stdout.strip().splitlines()[-1])
            if proc.returncode != 0 or not line["correct"]:
                print(f"{w} seed {seed}: exit {proc.returncode}, correct={line['correct']}", file=sys.stderr)
                ok = False
            for m in bounds:
                values[m].append(line["metrics"][m]["value"])
            print(f"{w} seed={seed} wall={walls[-1]:.1f}s " + " ".join(
                f"{m}={values[m][-1]:.4g}" for m in bounds), flush=True)
        for m, bound in bounds.items():
            s = spread(values[m])
            flag = m != "setup_s" and s >= bound / 3
            ok &= not flag
            rows.append((w, m, statistics.median(values[m]), s, bound, flag, values[m]))
        rows.append((w, "run_wall_s", statistics.median(walls), spread(walls), None, False, walls))
    lines = [
        "| workload | metric | median | spread (IQR/median) | bound | values |",
        "|---|---|---|---|---|---|",
    ]
    for w, m, med, s, bound, flag, vals in rows:
        b = "" if bound is None else f"{bound}"
        mark = " **over bound/3**" if flag else ""
        lines.append(
            f"| {w} | {m} | {med:.4g} | {s:.4f}{mark} | {b} | {', '.join(f'{v:.4g}' for v in vals)} |"
        )
    print("\n".join(lines))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
