"""Named query plans + DuckDB oracle SQL.

Each plan module exposes `QUERIES: dict[str, (spark, sf_dir) -> DataFrame]`
and `ORACLES: dict[str, str]` (ANSI SQL DuckDB can run on the same parquet
tables). Column names/aliases match exactly between the two — the driver
sorts columns by name and hash-compares values.

Floating-point convention: any column produced by arithmetic/aggregation
is `round()`ed to a fixed scale on BOTH sides, so double summation-order
differences between engines can't flip the hash. Averages and ratios of
exact (integral or decimal) aggregates go through
`functions.ratio.exact_ratio` instead: exact integer half-away-from-zero
rounding at 6 dp, which the oracle reproduces bit for bit where round()
of a double would split the engines at .5 ties. Columns that merely copy
stored values stay exact.

Driver-window rotation (VERDICT r7 #1/#8)
-----------------------------------------
The driver's correctness gate runs the FIRST 50 registry queries per
round, in iteration order. Rather than hand-maintaining a priority list
(the r5-r7 approach, which the r7 verdict flagged as structural debt),
the registry now orders itself STALEST-FIRST from the committed evidence:
`_staleness_order` reads every `CORRECTNESS_r*.json` at the repo root and
sorts queries by (round of last fully-green driver row, position within
that round's window). Consequences, by construction:

  - a query that has NEVER had a green driver row (new this round, or
    red last time it ran) sorts to the very front and stays there until
    it goes green;
  - green queries rotate in cohorts of 50: the cohort verified in round
    N re-enters the window together once every younger cohort has had
    its turn, so with R registry queries and a 50-row window, max
    a row re-verifies at worst every ceil(R/50)-th round — the
    mathematical floor for this window size (R=150 -> every 3rd round,
    i.e. a green row is never more than 2 rounds stale — the r7 #8
    "Done" criterion);
  - the schedule needs no edits when queries are added: they are born
    never-covered and lead the next window automatically.

Registry growth is FROZEN except for verdict-mandated additions (r7 #8):
round 8 adds exactly the two queries the r7 verdict required
(`ann_ivfadc_compact_topk`, `ann_kmeans_recall_audit`) and nothing else.

r8 consolidation (the OTHER half of r7 #8 — "consolidate near-duplicate
gated rows"): eight rows that shared a codec path or were one SURVEY
capability split in two are merged into six, bringing the registry to
150 and the driver cycle back to 3 rounds. Each merged query unions (or
chains) one branch per former row, so no codec path lost its oracle
branch:

  multimodal_png_roundtrip           <- png_decode + png_rgb_decode +
                                        png_palette_decode + png_interlaced_decode
  multimodal_jpeg_baseline_roundtrip <- jpeg_roundtrip + jpeg_color_roundtrip
  multimodal_jpeg_progressive_roundtrip <- jpeg_progressive_decode +
                                           jpeg_progressive_color
  multimodal_avi_decode              <- avi_mjpg_decode + avi_color_decode
  multimodal_container_probe         <- jpeg_probe + mp4_probe
  docs_tokenizer_stats               <- docs_token_stats + docs_bpe_token_stats

The multimodal branches are built by one builder per image family
(`plans/multimodal_queries.py`): `_image_roundtrip` (the four PNG
branches, the GIF row and the blob stage of `streaming_media_ingest`,
each with its own blob maker), `_jpeg_baseline_branch`,
`_jpeg_progressive_branch` and `_avi_branch`, each driven by a
gray8/ycbcr420 variant table. Every branch keeps its own
`_doc_ids_spread` call and the union stays `unionByName`, so the
executed plans and job counts are those of the former per-variant
builders.
"""

from __future__ import annotations

import glob
import json
import os
import re

from redpanda_to_parquet_writer_spark.plans import (
    curation_pipeline,
    multimodal_queries,
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    streaming_queries,
    text_queries,
    vector_queries,
)

_MERGED_QUERIES = {
    **relational.QUERIES,
    **relational2.QUERIES,
    **relational3.QUERIES,
    **relational4.QUERIES,
    **relational5.QUERIES,
    **streaming_queries.QUERIES,
    **text_queries.QUERIES,
    **vector_queries.QUERIES,
    **multimodal_queries.QUERIES,
    **curation_pipeline.QUERIES,
}

def _green(row: dict) -> bool:
    """A driver row counts as coverage only if it fully passed: row count,
    schema AND value hash. A red/partial row leaves the query at the
    front of the next window."""
    return (
        row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
        and not row.get("err")
    )


def _last_green() -> dict[str, tuple[int, int]]:
    """name -> (round, index-within-that-round's-window) of the most
    recent fully-green driver row, from the committed CORRECTNESS
    artifacts at the repo root."""
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    last: dict[str, tuple[int, int]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r0*(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue  # unreadable artifact: skip, never break the registry
        if not isinstance(rows, dict):
            continue
        for idx, (name, row) in enumerate(rows.items()):
            if isinstance(row, dict) and _green(row):
                prev = last.get(name)
                if prev is None or rnd > prev[0]:
                    last[name] = (rnd, idx)
    return last


def _staleness_order(names) -> list[str]:
    """Never-covered names first, alphabetically; then covered ones by
    (round, window position) of their last green row."""
    last = _last_green()
    return sorted(names, key=lambda n: (*last.get(n, (0, 0)), n))


def _ordered(merged: dict) -> dict:
    return {n: merged[n] for n in _staleness_order(merged)}


QUERIES = _ordered(_MERGED_QUERIES)

ORACLES = _ordered(
    {
        **relational.ORACLES,
        **relational2.ORACLES,
        **relational3.ORACLES,
        **relational4.ORACLES,
        **relational5.ORACLES,
        **streaming_queries.ORACLES,
        **text_queries.ORACLES,
        **vector_queries.ORACLES,
        **multimodal_queries.ORACLES,
        **curation_pipeline.ORACLES,
    }
)

__all__ = ["QUERIES", "ORACLES"]
