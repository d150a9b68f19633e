#!/usr/bin/env python
"""100x scale cliff: run the 5 most shuffle-heavy operators at sf0.1 and at
100x-replicated-ORGANIC sf0.1 (~60 M lineitem rows / 500 k docs ~= sf10) and
record the runtime ratio per query — the brief's bar is "plans you'd want at
100x scale"; the 10x evidence (scale_cliff_sf1.py) extrapolates, this
measures. Writes BENCH_SF10.json at the repo root (merge-by-query).

Organic at 100x needs 100 DISTINCT text mutations; scale_smoke's
organic_mutation composes two rotations over disjoint letter sets
(10 x 10 = 100 combinations). Its embedding roll collides at r and r + dim —
harmless: none of the 5 ops read embeddings.

Run from repo root (quiet box — ratios are the product):
    python scripts/scale_cliff_sf10.py [query,query,...]
"""
import json
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

from librarian_spark.session import get_spark  # noqa: E402

REPL = 100
# sub-quadratic bar at 100x: quadratic would be ~10000x; the scan/shuffle
# bar of ~linear (~100x) gets slack for shuffle fan-in and spill
RATIO_BAR = 300.0

QUERIES = [
    "dedup_simhash",
    "dedup_minhash_lsh",
    "graph_triangle_count",
    "q110_band_range_join",
    "dedup_winnow_overlap",
]


def main() -> None:
    spark = get_spark("scale-cliff-100x")
    queries = sys.argv[1].split(",") if len(sys.argv) > 1 else QUERIES
    scaled = ensure_scaled(
        spark, f"/tmp/librarian_scale_organic_x{REPL}", REPL, organic_mutation
    )
    out = compare_scales(spark, queries, scaled, ("sf01_s", "sf10_s", "ratio"))
    merge_results(
        REPO / "BENCH_SF10.json",
        "queries",
        out,
        {"replication": REPL, "ratio_bar": RATIO_BAR, "mode": "organic",
         "queries": {}},
    )
    print(json.dumps({"queries": out}, separators=(",", ":")))


if __name__ == "__main__":
    main()
