"""Generate PLANS.md: physical-plan evidence for every registered query.

For each query: exchange count, join strategies, aggregate styles,
TakeOrderedAndProject usage, whether scan filters pushed down — the
at-a-glance audit of "does this plan scale". Full formatted plans are
included for a handful of flagship shapes.

Usage: python scripts/dump_plans.py [sf_dir]   (writes PLANS.md at repo root)
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FLAGSHIPS = [
    "pricing_summary",
    "revenue_by_region",
    "docs_minhash_lsh_pairs",
    "ann_ivf_topk",
    "events_sessionization",
]


def plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _strip_reused_subtrees(plan: str) -> str:
    """Drop plan text that does NOT run per-read at runtime: the child
    plan under an InMemoryRelation (it computes once, at cache
    materialization — every later consumer is an InMemoryTableScan) and
    the duplicate probe plan under a SubqueryAdaptiveBroadcast (dynamic
    partition pruning reuses the join's own broadcast). Counting those
    subtrees would report phantom scans/windows for any query that
    persists an intermediate."""
    out_lines = []
    skip_depth = None
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-*")
        depth = len(line) - len(stripped)
        if skip_depth is not None:
            if depth > skip_depth or not stripped:
                continue
            skip_depth = None
        if stripped.startswith(("InMemoryRelation", "SubqueryAdaptiveBroadcast")):
            out_lines.append(line)  # keep the marker node itself
            skip_depth = depth
            continue
        out_lines.append(line)
    return "\n".join(out_lines)


def normalize_ids(plan: str) -> str:
    """Renumber expression ids (`#N`), exchange plan ids and lambda
    variable suffixes by first appearance within the plan. Spark draws
    all three from session-wide counters, so the raw text of a plan
    depends on everything the session planned before it; renumbered,
    two checkouts' plans compare byte for byte."""
    for pattern, fmt in (
        (r"#(\d+)", "#{}"),
        (r"plan_id=(\d+)", "plan_id={}"),
        (r"(?<=lambda )(\w+?)_(\d+)", None),
    ):
        seen: dict[str, int] = {}

        def renumber(m, fmt=fmt, seen=seen):
            key = m.group(0)
            seen.setdefault(key, len(seen))
            if fmt is None:
                return f"{m.group(1)}_{seen[key]}"
            return fmt.format(seen[key])

        plan = re.sub(pattern, renumber, plan)
    return plan


def summarize(plan: str) -> dict[str, object]:
    plan = _strip_reused_subtrees(plan)
    joins = sorted(
        set(re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)", plan))
    )
    join_types = sorted(set(re.findall(r"\b(LeftAnti|LeftSemi|LeftOuter|FullOuter)\b", plan)))
    return {
        "exchanges": plan.count("Exchange hashpartitioning"),
        "single_part": plan.count("Exchange SinglePartition"),
        "joins": "+".join(j.replace("Join", "") for j in joins) or "—",
        "join_types": "+".join(join_types) or "",
        "windows": plan.count("Window"),
        "take_ordered": "✓" if "TakeOrderedAndProject" in plan else "",
        "pushed": "✓" if re.search(r"PushedFilters: \[[^\]]", plan) else "",
        "scans": plan.count("FileScan parquet"),
    }


def main() -> None:
    sys.path.insert(0, ROOT)
    from redpanda_to_parquet_writer_spark.config import EngineConfig
    from redpanda_to_parquet_writer_spark.plans import QUERIES
    from redpanda_to_parquet_writer_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(
        EngineConfig(shuffle_partitions=8, master="local[8]"), "dump-plans"
    )
    rows = []
    full = {}
    for name in sorted(QUERIES):
        try:
            df = QUERIES[name](spark, sf_dir)
            p = plan_str(df)
        except Exception as e:  # pragma: no cover - diagnostic tool
            rows.append((name, {"error": str(e)[:80]}))
            continue
        rows.append((name, summarize(p)))
        if name in FLAGSHIPS:
            full[name] = normalize_ids(p)

    out = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Generated by `scripts/dump_plans.py` at `{sf_dir}` "
        "(plan SHAPE is sf-independent; AQE may further collapse exchanges "
        "at runtime).",
        "",
        "Reading guide: `exch` = hash-partitioned shuffles (each is a "
        "stage boundary at scale); `1part` = single-partition exchanges "
        "(a scale smell unless the data is provably tiny — e.g. a "
        "`limit`ed head); `joins` = physical join strategies; `TOaP` = "
        "top-k plans as TakeOrderedAndProject (no global sort); `push` = "
        "filters reach the parquet scan; `scans` = parquet scan count "
        "(a doubled scan means a missing reuse). Full plans renumber "
        "expression and plan ids by first appearance, so they compare "
        "across checkouts.",
        "",
        "| query | exch | 1part | joins | semi/anti | win | TOaP | push | scans |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, s in rows:
        if "error" in s:
            out.append(f"| {name} | ERROR: {s['error']} | | | | | | | |")
            continue
        out.append(
            f"| {name} | {s['exchanges']} | {s['single_part'] or ''} | "
            f"{s['joins']} | {s['join_types']} | {s['windows'] or ''} | "
            f"{s['take_ordered']} | {s['pushed']} | {s['scans']} |"
        )
    out.append("")
    out.append("## Flagship plans (full)")
    for name, p in full.items():
        out.append(f"\n### {name}\n\n```\n{p.strip()}\n```")
    out.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
