#!/usr/bin/env python3
"""Benchmark entry point.

    python3 lakebench/run.py --workload export_bulk --seed 1 --seconds 12 --trace 0

Run from the repository root. Prints a report, then as its last line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Exits non-zero when any output check failed. Everything
it writes stays under ``.lakebench_work/`` (removed at exit) and
``.lakebench_out/`` (span logs and results) in the current directory.
See lakebench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _isolate(work: str, trace: bool) -> None:
    """Point every temp and scratch location of Python, Spark and the JVM
    into the work directory before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every stage's status so spans can count their tasks
        confs["spark.ui.retainedStages"] = "100000"
        confs["spark.ui.retainedJobs"] = "100000"
    args = " ".join(f"--conf {k}={v!r}" if " " in v else f"--conf {k}={v}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    base = os.getcwd()
    work = os.path.join(base, ".lakebench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out = os.path.join(base, ".lakebench_out")
    os.makedirs(out, exist_ok=True)
    _isolate(work, bool(args.trace))
    sys.path[:0] = [ROOT, HERE]
    try:
        import harness  # imports the package: fails fast outside a checkout

        if args.workload not in harness.WORKLOADS:
            p.error(f"unknown workload {args.workload!r}; one of {sorted(harness.WORKLOADS)}")
        result = harness.execute(args.workload, args.seed, args.seconds, bool(args.trace), work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit) in result["report"].items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    for err in result["errors"][:50]:
        print(f"CHECK FAILED {err}")
    line = result["line"]
    tag = "trace" if args.trace else "e2e"
    with open(os.path.join(out, f"{args.workload}-{args.seed}-{tag}.json"), "w") as f:
        json.dump({"time": time.time(), **line, "ops": result["ops"]}, f)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
