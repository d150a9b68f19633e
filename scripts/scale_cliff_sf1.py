#!/usr/bin/env python
"""Scale-cliff hunt at sf1: run registry queries once at sf0.1 and once at
10x-replicated sf0.1 (~6 M lineitem rows ≈ sf1) and record the runtime ratio
per query.

The bar: a scan/shuffle-bound operator should grow ~linearly — 10x data →
~10x time. Anything far above that hides a super-linear stage (a cliff) that
sf0.1 was too small to expose; anything far below is fixed-cost-dominated at
this scale (fine). Writes BENCH_SF1_r{N}.json at the repo root, MERGING into
any existing rows (a subset re-run updates only its own queries — the
round-6 clobber trap is closed):

    {"replication": 10, "queries": {name: {"sf01_s", "sf1_s", "ratio"}},
     "outliers": [names with ratio > RATIO_BAR, or errored]}

Replication modes:
  default  — key-shifted replicas; document TEXT is identical across
             replicas, so dedup-family pair outputs grow ~quadratically in
             the replica count (pair growth, not plan cost).
  organic  — SCALE_ORGANIC=1: each replica additionally goes through
             scale_smoke.organic_mutation, so replicas are NOT
             near-duplicates of each other and pair output stays ~linear —
             this isolates plan cost from pair growth for dedup/mm ops.
             Organic results record under the "organic" key.

Run from repo root:
    python scripts/scale_cliff_sf1.py [query,query,...]   # default: ALL
    SCALE_ORGANIC=1 python scripts/scale_cliff_sf1.py mm_phash_dedup,...
"""
import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "scripts"))

from scale_smoke import (  # noqa: E402
    compare_scales,
    ensure_scaled,
    merge_results,
    organic_mutation,
)

from librarian_spark.operators.registry import load_all  # noqa: E402
from librarian_spark.session import get_spark  # noqa: E402

REPL = 10
RATIO_BAR = 15.0
ROUND = os.environ.get("SCALE_ROUND", "r7")
ORGANIC = os.environ.get("SCALE_ORGANIC") == "1"


def main() -> None:
    spark = get_spark("scale-cliff")
    queries = sys.argv[1].split(",") if len(sys.argv) > 1 else sorted(load_all())
    if ORGANIC:
        scaled = ensure_scaled(
            spark, f"/tmp/librarian_scale_organic_x{REPL}", REPL, organic_mutation
        )
    else:
        scaled = ensure_scaled(spark, f"/tmp/librarian_scale_x{REPL}", REPL)
    out = compare_scales(spark, queries, scaled, ("sf01_s", "sf1_s", "ratio"))
    key = "organic" if ORGANIC else "queries"
    merge_results(
        REPO / f"BENCH_SF1_{ROUND}.json",
        key,
        out,
        {"replication": REPL, "ratio_bar": RATIO_BAR, "queries": {}},
    )
    print(json.dumps({key: out}, separators=(",", ":")))


if __name__ == "__main__":
    main()
