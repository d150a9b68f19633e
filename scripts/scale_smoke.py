#!/usr/bin/env python
"""Scaling smoke: measure wall-clock growth of representative operators when
the input grows 5x (key-shifted replication of the sf0.1 tables into /tmp).

Not a correctness gate and not a replacement for bench.py — this answers the
scale-review question directly: does each plan's runtime grow ~linearly with
input size (shuffle- and scan-bound operators should), or does something
super-linear hide at small scale? Run from repo root:

    python scripts/scale_smoke.py [factor]

SMOKE_QUERIES=a,b limits the run to those queries of the smoke list.
Prints one JSON line {query: {base_s, scaled_s, factor}} and a summary.

This module also holds what scale_cliff_sf1.py and scale_cliff_sf10.py
share: the replica build (``ensure_scaled``, ``build_scaled``,
``organic_mutation``), the base-vs-scaled timing on the shared measurement
loop (``compare_scales``) and the merge-by-query JSON writer
(``merge_results``).
"""
import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from librarian_spark import measure  # noqa: E402
from librarian_spark.operators.registry import load_all  # noqa: E402
from librarian_spark.session import get_spark  # noqa: E402
from librarian_spark.sources.batch import load_table  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"

# (table, key columns to shift so replicas don't collide)
SHIFT = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "nation": [],
    "region": [],
}

QUERIES = [
    "q06_tpch_q1",          # scan + hash aggregate
    "q14_star_join",        # multi-join star
    "q30_sessionization",   # key window
    "q31_topk_per_group",   # rank window
    "dedup_minhash_lsh",    # fingerprints + band join (replicas ARE dups)
    "dedup_substring",      # span-hash agg + join (replicas share ALL spans)
    "sim_cosine_topk",      # broadcast block matmul
    "sim_pq_topk",          # ADC code scan + shortlist re-rank
    "text_bm25_topk",       # map-only score + TakeOrdered
    "q51_gap_fill",         # agg + spine explode + key window
    "q40_tpch_q3",          # multi-join + agg + top-k
    "cdc_apply",            # max_by aggregate
    "q58_interval_overlap", # sweep-line window
    "q60_recursive_hierarchy",  # pointer-doubling iterative joins
    "q63_skyline",          # bucketed two-phase Pareto frontier
    "graph_triangle_count", # degree-oriented wedge joins
    "q53_ohlc_resample",    # shared window+agg exchange
    "q56_corr_regress",     # exact-moment single aggregate
    "dedup_bloom",          # broadcast bit-set probe + shortlist verify
    "text_heavy_hitters",   # constant-size sketch build/merge/probe
    "text_importance_weights",  # bucket-count aggs + broadcast weights
    "dedup_edit_distance",  # shingle-index shortlist + bounded DP verify
    "mm_phash_dedup",       # batched block hash + slice join + hamming
    "graph_pagerank",       # 5 broadcast+agg fixed-point iterations
    "q64_forward_fill",     # single key window, O(1) frame state
    "text_bpe_train_merges",  # rounds x (pair-count agg + map-only merge)
    "sim_ivf_incremental_add",  # probe cost over the grown index
    "graph_connected_components",  # K fan-out + min-agg rounds
    "q65_bitmap_distinct",  # map-side-combining bitmap words
    "mm_shard_manifest",    # two-level prefix sum + shard agg
    "text_keyword_tfidf",   # tf agg + broadcast df + per-doc window
    "sim_matryoshka_rerank",  # prefix matmul prune + exact rerank
    "q66_event_pattern",    # ordered collect + per-user regex
    "q67_histogram",        # map-side bucket partial agg
    "pipeline_manifest_prune",  # footer manifest cut + pruned scan
    "pipeline_stream_exact_dedup",  # watermarked streaming dedup drain
    "sim_ivf_pq_topk",      # probe-masked ADC over residual codes
    "cdc_merge_upsert",     # one full-outer key join + CASE
    "graph_bfs_levels",     # min-plus frontier rounds
    "text_bpe_apply",       # derive merges + map-only encode
    "text_weighted_sample", # map-only priorities + per-stratum top-k
    "q70_equi_depth_histogram",  # distinct-value prefix + rank arithmetic
    "sim_binary_hamming_topk",   # fold-pack + xor/popcount scan
    "text_collocations_pmi",     # pair counts + broadcast marginals
    "q72_asof_join",        # union + single key-window merge-asof
    "q73_exact_percentiles",  # exact per-group quantile aggregate
    "text_pii_scrub",       # map-only regex count/replace
    "graph_link_prediction",  # wedge join + anti-join + degree joins
    "pipeline_row_level_delete",  # zone-map prune + partial rewrite
    "pipeline_wap",         # stage + audit scans + atomic publish
    "mm_content_fingerprint",  # map-only sha2/md5
    "dedup_index_add",      # build + append + compact + probe
    "cdc_pgoutput_decode",  # record + executor-parallel wire decode
    "sim_mips_topk",        # un-normalized block matmul + local top-k
    "q74_key_skew_report",  # map-combining key counts + tiny top-k
    "q75_salted_join",      # salted shuffle-hash join + re-combine agg
    "mm_scene_segments",    # payload-local numpy frame-energy pass
    "cdc_mongo_changestream",  # record + executor-parallel event decode
    "pipeline_stateful_totals",  # applyInPandasWithState cross-batch drain
    "q76_time_weighted_average",  # shared key window + aggregate
    "q77_sliding_distinct_exact",  # interval merge + day-spine sweep
    "q78_retention_cohorts",  # co-keyed distinct + min + join + count
    "q79_rfm_segmentation",   # one aggregate + customer-level NTILEs
    "q80_market_basket",      # basket wedge join + min-support prune
    "pipeline_bloom_index",   # distributed bloom build + file-skip probe
    "q86_fk_integrity",       # per-edge full-outer key join + 1-row reduce
    "q87_roc_auc",            # distinct-score agg + two-level prefix sum
    "q88_benford",            # map-combining digit agg + 9-row tail
    "q89_weighted_median",    # per-group RANGE-frame cumulative weights
    "q90_cohort_ltv",         # customer window + cohort-age agg
    "graph_label_propagation",  # rounds x (edge-label join + mode window)
    "graph_kcore",            # double-peel rounds w/ early exit
    "text_readability",       # map-only regexp_count trio
    "mm_silence_segments",    # payload-local reduceat + vectorized runs
    "pipeline_late_data_metrics",  # 4-batch watermark drain + reconcile
    "sim_mmr_diversify",      # shortlist matmul + bounded greedy rerank
    "q91_share_of_total",     # facts-first reduce + tiny ratio windows
    "q92_mix_entropy",        # two map-combining aggs + log reduce
    "q93_abc_classification",  # facts-first reduce + per-region cum window
    "q94_time_to_convert",    # two keyed aggs + converter-only join
    "q95_new_vs_returning",   # distinct (user, day) + first-seen window
    "dedup_semantic_clusters",  # broadcast assign + per-cell pair matmul
    "q83_sequence_gaps",      # per-block LEAD + range-partitioned stitch
    "text_byte_entropy",      # map-only bincount + p*ln p per doc
    "q102_log_quantile_sketch",  # map-combining log-bucket sketch + 3-row agg
    "q103_json_schema_infer",  # map-only key explode + (key,type) agg
    "pipeline_orc_snapshot",  # ORC scan -> batched parquet commit
    "pipeline_stream_outer_join",  # 3-batch symmetric hash join drain
    "q104_hopping_window",    # x4 window fan-out absorbed map-side
    "sim_filtered_topk",      # masked block matmul + local top-k
    "text_prep_pipeline",     # 4-stage gate+dedup+decon+pack composition
]


def build_scaled(spark, out_dir: str, repl: int, mutate=None) -> None:
    """Write a ``repl``× key-shifted replica union of every SHIFT table.

    ``mutate(df, replica, table) -> df`` optionally transforms each replica
    beyond the key shift (``organic_mutation``) — the ONE replication
    implementation every scale script uses, so the shift/span/union logic
    can never diverge between them."""
    for t, keys in SHIFT.items():
        src = load_table(spark, BASE_SF, t)
        if not keys:
            src.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
            continue
        parts = []
        # shift well past the table's own id range so replicas never collide
        span = 10 ** 12
        for r in range(repl):
            d = src
            for k in keys:
                d = d.withColumn(k, F.col(k) + F.lit(r * span))
            if mutate is not None:
                d = mutate(d, r, t)
            parts.append(d)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")


def ensure_scaled(spark, out_dir: str, repl: int, mutate=None) -> str:
    # completeness check on the LAST table build_scaled writes (SHIFT dict
    # order ends at region) — testing an earlier table would reuse a build
    # interrupted midway as if complete
    if not os.path.exists(f"{out_dir}/region.parquet/_SUCCESS"):
        print(f"building {out_dir} ...", file=sys.stderr)
        build_scaled(spark, out_dir, repl, mutate)
    return out_dir


_LETTERS_A, _LETTERS_B = "etaonisrhl", "dcumwfgypb"


def organic_mutation(d, r: int, table: str):
    """Make replica ``r`` organic: not a near-duplicate of the others, so
    dedup and similarity pair output grows ~linearly with the replica count
    instead of quadratically — plan cost is split from pair growth.

    Document text: two rotations over disjoint letter sets, set A by r % 10
    and set B by r // 10 — 100 distinct replicas (one 10-letter rotation
    would wrap at replica 10, making replicas 0/10/20/... identical).
    Embeddings: a coordinate ROLL by r, so cos(v, roll(v, r)) ~= 0 for random
    vectors. A sign flip leaves cos ~= 1 - 2/dim ~= 0.87 (measured:
    dedup_embedding 21.9x at 10x data, replicas still cleared its near-dup
    threshold) and scaling is invisible to cosine. The roll is r mod dim, so
    replicas r and r + dim collide."""
    if table == "documents" and r > 0:
        ra, rb = r % 10, r // 10
        rot = _LETTERS_A[ra:] + _LETTERS_A[:ra] + _LETTERS_B[rb:] + _LETTERS_B[:rb]
        d = d.withColumn("text", F.translate("text", _LETTERS_A + _LETTERS_B, rot))
    if table == "embeddings" and r > 0:
        k = f"pmod({r}, size(embedding))"
        d = d.withColumn(
            "embedding",
            F.expr(
                f"concat(slice(embedding, {k} + 1, "
                f"size(embedding) - {k}), slice(embedding, 1, {k}))"
            ),
        )
    return d


def compare_scales(spark, names, scaled_dir: str, keys, runs: int = 1) -> dict:
    """Best-of-``runs`` per query at BASE_SF, then at ``scaled_dir``, on the
    shared measurement loop: ``{name: dict(zip(keys, (base_s, scaled_s,
    ratio)))}``, or ``{name: {"error": ...}}`` when either run raised."""
    specs = load_all()
    measure.warm_up(spark, BASE_SF)
    out = {}
    for name in names:
        secs = []
        for sf_dir in (BASE_SF, scaled_dir):
            best, errors = measure.best_of(spark, specs, [name], sf_dir, runs)
            if errors:
                out[name] = {"error": errors[name]}
                print(f"{name}: ERROR {errors[name]}", file=sys.stderr)
                break
            secs.append(best[name].seconds)
        else:
            b, s = secs
            out[name] = dict(zip(keys, (round(b, 2), round(s, 2), round(s / b, 2))))
            print(f"{name}: {b:.2f}s -> {s:.2f}s ({s / b:.2f}x)", file=sys.stderr)
    return out


def merge_results(path: Path, key: str, out: dict, defaults: dict) -> None:
    """Merge ``out`` into the ``key`` rows of the JSON at ``path`` (a subset
    re-run must never clobber the full-run rows) and recompute its outlier
    lists: ``outliers`` over ``queries``, and ``organic_outliers`` over
    ``organic`` when present. A query is an outlier above
    ``defaults["ratio_bar"]`` or when it errored — an errored query is the
    worst outlier there is (the disk-full / OOM class these runs exist to
    catch) and must never read as a clean gate for lack of a ratio."""
    doc = defaults
    if path.exists():
        try:
            doc = json.loads(path.read_text())
        except ValueError:
            pass
    doc[key] = {**doc.get(key, {}), **out}
    bar = defaults["ratio_bar"]

    def outliers(rows: dict) -> list[str]:
        return [n for n, r in rows.items() if r.get("ratio", 0) > bar or "error" in r]

    doc["outliers"] = outliers(doc.get("queries", {}))
    if doc.get("organic"):
        doc["organic_outliers"] = outliers(doc["organic"])
    path.write_text(json.dumps(doc, indent=1))


def main() -> None:
    repl = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    queries = QUERIES
    if os.environ.get("SMOKE_QUERIES"):
        want = set(os.environ["SMOKE_QUERIES"].split(","))
        unknown = want - set(QUERIES)
        if unknown:
            # a typo'd name must fail loudly, not run zero queries and exit green
            raise SystemExit(f"SMOKE_QUERIES not in the smoke list: {sorted(unknown)}")
        queries = [q for q in QUERIES if q in want]
    spark = get_spark("scale-smoke")
    scaled = ensure_scaled(spark, f"/tmp/librarian_scale_x{repl}", repl)
    out = compare_scales(spark, queries, scaled, ("base_s", "scaled_s", "factor"), runs=2)
    line = {"replication": repl, "queries": out}
    print(json.dumps(line, separators=(",", ":")))


if __name__ == "__main__":
    main()
