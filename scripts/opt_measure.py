#!/usr/bin/env python
"""Optimization-round measurement: per-query best time, job profile and plan.

For each query in OPT_QUERIES (comma list):
  - times construction + noop-sink execution best-of-N (OPT_RUNS, default 3)
    with librarian_spark/measure.py, the loop bench.py uses;
  - prints the best run's jobs: start offset, duration, stages and tasks of
    every job the run submitted, micro-batch jobs of streaming drains
    included (gaps between jobs are driver-side time: planning, python,
    filesystem work);
  - captures .explain("formatted") to plans/$OPT_PLANS_DIR/<name>_<tag>.txt
    (tag = argv[1], default before; OPT_PLANS_DIR defaults to r12);
  - ends with one JSON line {name: {"best_s", "jobs"}, ...}.

OPT_EXTRA_CONF="k=v;k=v" sets session confs for the whole run.

Usage: OPT_QUERIES=q79_rfm_segmentation,... python scripts/opt_measure.py before
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from librarian_spark import measure  # noqa: E402
from librarian_spark.operators.registry import load_all, tune_session  # noqa: E402
from librarian_spark.plans.introspect import formatted_plan  # noqa: E402
from librarian_spark.session import SESSION_CONFS, get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("OPT_RUNS", "3"))
    names = [
        n.strip()
        for n in os.environ.get("OPT_QUERIES", "").split(",")
        if n.strip()
    ]
    specs = load_all()
    unknown = [n for n in names if n not in specs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(1)

    extra = {}
    for kv in os.environ.get("OPT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    spark = get_spark(app_name="librarian-spark-opt-measure", extra_conf=extra)
    # runtime-settable confs must also be (re)applied when the JVM session
    # already exists, and survive tune_session re-application per query
    SESSION_CONFS.update(extra)
    tune_session(spark)
    plans_dir = REPO / "plans" / os.environ.get("OPT_PLANS_DIR", "r12")
    plans_dir.mkdir(parents=True, exist_ok=True)

    measure.warm_up(spark, sf_dir)
    best, errors = measure.best_of(spark, specs, names, sf_dir, n_runs)
    summary = {}
    for name in names:
        if name in errors:
            print(f"{name}: ERROR {errors[name]}")
            continue
        run = best[name]
        summary[name] = {"best_s": round(run.seconds, 3), "jobs": len(run.jobs)}
        print(f"{name}: best {run.seconds:.3f}s, {len(run.jobs)} jobs")
        for j in run.jobs:
            print(
                f"  +{j.start_s:7.3f}s dur={j.duration_s:6.3f}s "
                f"stages={j.stages} tasks={j.tasks:4d}"
            )
        # the plan is captured after timing: its analysis work must not
        # pollute the first timed run
        df = specs[name].spark_fn(spark, sf_dir)
        (plans_dir / f"{name}_{tag}.txt").write_text(formatted_plan(df))
    print(json.dumps(summary))
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
