"""Seeded smoke of the differential rewrite fuzzer (VERDICT r13 #5).

The multi-family fuzzer (`scripts/fuzz_r12_rewrites.py` — every entry
in its FUZZERS registry, parametrized here so new families are picked
up automatically) soaks by hand (10+ rounds, committed as artifacts);
that protection was script-only — a regression in a rewrite OR in the
fuzzer's own reference programs would surface only when someone re-ran
the soak. This smoke runs every family for 2 FIXED-SEED rounds inside
the suite (2 comparisons per family on the session-warm SparkSession),
so `pytest tests/` now exercises all the differential gates:
window-form vs aggregate/join rewrites, the one-pass vs two-pass
normalization regex on punctuation/digit/whitespace-run text, the
null-doc_id key contract, the salted LSH bucket cap, and the
sampled-vs-unbounded Lloyd trainer. The full randomized soak stays
script-side.
"""

from __future__ import annotations

import os
import random
import sys
import zlib

import pytest

SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
)
sys.path.insert(0, SCRIPTS)

import fuzz_r12_rewrites as fuzz  # noqa: E402

# same seed derivation as the script's main() (crc32, not hash(), so the
# seed replays identically across processes); base differs from the
# committed soaks, so the smoke adds coverage instead of repeating them
BASE_SEED = 141414
ROUNDS = 2


@pytest.mark.parametrize("family", sorted(fuzz.FUZZERS))
def test_fuzz_family_smoke(spark, family):
    fn = fuzz.FUZZERS[family]
    for rnd in range(ROUNDS):
        seed = BASE_SEED + rnd * 1000 + zlib.crc32(family.encode()) % 1000
        # replay hint (ADVICE r14 #3): the script derives round r's seed
        # as base + r*1000 + crc, so replaying round `rnd` needs rnd+1
        # rounds from the base seed (running 1 round would replay round
        # 0's seed, not the failing one)
        assert fn(random.Random(seed), spark), (
            f"{family} round={rnd} seed={seed} diverged from its reference "
            f"(replay: python scripts/fuzz_r12_rewrites.py {rnd + 1} {BASE_SEED})"
        )
