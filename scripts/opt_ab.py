#!/usr/bin/env python
"""Interleaved conf A/B inside ONE session: session-level effects (JIT
warm-up, host load drift) hit both arms equally, so the per-query delta is
trustworthy even when absolute isolated numbers drift between sessions.

Usage:
  OPT_QUERIES=a,b,c OPT_RUNS=3 \
  OPT_CONF_B="spark.sql.x=y;spark.sql.z=w" python scripts/opt_ab.py

Every run is librarian_spark/measure.py's timed_run (reset, then spark_fn
plus a noop write, timed), after its warm-up.
Arm A = current session defaults (get_spark + tune_session).
Arm B = A plus OPT_CONF_B overrides (runtime-settable confs only).
OPT_SCRATCH_B=<dir> additionally points arm B's scratch root (streaming
checkpoints/state/staged inputs) at <dir> — for the RAM-vs-disk scratch
adjudication, which is a filesystem choice, not a Spark conf.
OPT_PY_B="librarian_spark.operators.relational._SALT=16" flips
python module globals per arm (arm B gets the listed values, arm A the
originals; ';'-separate several) — for code-level adjudications (plan
hints, checkpoint modes) that have no conf surface. Values are
ast.literal_eval'd. Every arm restores arm A's globals, scratch root and
caller-session confs when it ends. A query that raises is recorded under
its arm's ``<arm>_failed`` (round and error) and the A/B goes on with the
other arm; the script prints its JSON and exits 1 when any run failed.

Arm ORDER alternates per round (round 0: A,B; round 1: B,A; ...): the arm
that runs SECOND for a query benefits ~20-25% from the first arm's
identical-plan warm-up (page-cached parquet footers, hot JIT for exactly
that codegen) — measured by an A/A control with both arms identical:
fixed A-then-B order reported B/A = 0.777 where truth is 1.0. With
alternation the same A/A control reads ~1.0. Use an EVEN OPT_RUNS so both
arms get equal first-position runs.
"""

from __future__ import annotations

import ast
import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from librarian_spark import measure  # noqa: E402
from librarian_spark.operators import registry as _reg  # noqa: E402
from librarian_spark.operators.registry import load_all  # noqa: E402
from librarian_spark.session import get_spark  # noqa: E402


def parse_py_b(spec: str) -> list[tuple[str, str, object]]:
    """``"pkg.mod.ATTR=value;..."`` → ``[(module, attr, value), ...]``."""
    out = []
    for kv in spec.split(";"):
        if "=" not in kv:
            continue
        dotted, val = kv.split("=", 1)
        mod_name, _, attr = dotted.strip().rpartition(".")
        if not mod_name or not attr:
            raise ValueError(
                f"OPT_PY_B entry {kv.strip()!r}: expected module.ATTR=value"
            )
        out.append((mod_name, attr, ast.literal_eval(val.strip())))
    return out


def summarize(
    samples: dict[str, dict[str, list[float]]],
    failures: dict[str, dict[str, list[str]]],
) -> dict[str, dict]:
    """Best-of-runs per query and arm; a query whose arm never finished
    reports ``None`` there and stays out of ``B/A`` and ``_total``."""
    out: dict[str, dict] = {}
    for n, s in samples.items():
        a, b = (min(s[arm]) if s[arm] else None for arm in ("A", "B"))
        out[n] = {
            "A": a if a is None else round(a, 3),
            "B": b if b is None else round(b, 3),
            "B/A": round(b / a, 3) if a and b else None,
            "A_runs": [round(x, 2) for x in s["A"]],
            "B_runs": [round(x, 2) for x in s["B"]],
        }
        for arm in ("A", "B"):
            if failures[n][arm]:
                out[n][f"{arm}_failed"] = failures[n][arm]
    both = [v for v in out.values() if v["B/A"] is not None]
    ta = sum(v["A"] for v in both)
    tb = sum(v["B"] for v in both)
    out["_total"] = {
        "A": round(ta, 3),
        "B": round(tb, 3),
        "B/A": round(tb / ta, 3) if ta else None,
    }
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("OPT_RUNS", "3"))
    names = [n for n in os.environ.get("OPT_QUERIES", "").split(",") if n.strip()]
    conf_b: dict[str, str] = {}
    for kv in os.environ.get("OPT_CONF_B", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            conf_b[k.strip()] = v.strip()
    specs = load_all()
    spark = get_spark(app_name="librarian-spark-opt-ab")
    # defaults for arm A, captured from the session AFTER tune_session so the
    # reset between arms restores exactly what arm A ran with
    _reg.tune_session(spark)
    base_vals = {k: spark.conf.get(k, None) for k in conf_b}
    scratch_b = os.environ.get("OPT_SCRATCH_B") or None
    from librarian_spark import scratch as _scratch

    scratch_a = _scratch.scratch_root()  # resolve arm A's root before any flip

    import importlib

    py_b: list[tuple[object, str, object, object]] = []  # (mod, attr, a_val, b_val)
    for mod_name, attr, b_val in parse_py_b(os.environ.get("OPT_PY_B", "")):
        mod = importlib.import_module(mod_name)
        py_b.append((mod, attr, getattr(mod, attr), b_val))

    def set_arm(arm: str) -> None:
        vals = conf_b if arm == "B" else base_vals
        for k, v in vals.items():
            try:
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            except Exception:  # noqa: BLE001
                pass
        if scratch_b:
            _scratch._ROOT = scratch_b if arm == "B" else scratch_a
        for mod, attr, a_val, b_val in py_b:
            setattr(mod, attr, b_val if arm == "B" else a_val)
        # tune_session must not undo the arm's confs mid-query
        if arm == "B":
            _reg._CALLER_SESSION_CONF.update(conf_b)
        else:
            for k in conf_b:
                _reg._CALLER_SESSION_CONF.pop(k, None)

    measure.warm_up(spark, sf_dir)
    samples: dict[str, dict[str, list[float]]] = {
        n: {"A": [], "B": []} for n in names
    }
    failures: dict[str, dict[str, list[str]]] = {
        n: {"A": [], "B": []} for n in names
    }
    for rnd in range(n_runs):
        for name in names:
            for arm in (("A", "B") if rnd % 2 == 0 else ("B", "A")):
                set_arm(arm)
                try:
                    samples[name][arm].append(
                        measure.timed_run(spark, specs[name], sf_dir).seconds
                    )
                except Exception as e:  # noqa: BLE001 — record; the other arm still runs
                    failures[name][arm].append(f"round {rnd}: {type(e).__name__}: {e}"[:500])
                finally:
                    set_arm("A")
    out = summarize(samples, failures)
    out["_meta"] = {
        "runs_per_arm": n_runs,
        "arm_order": "alternating per round (round 0: A,B; round 1: B,A; ...)",
        "conf_b": conf_b,
        "scratch_b": scratch_b,
        "py_b": {f"{m.__name__}.{a}": bv for m, a, _av, bv in py_b},
        "n_queries": len(names),
    }
    print(json.dumps(out, indent=1))
    if any(f["A"] or f["B"] for f in failures.values()):
        sys.exit(1)


if __name__ == "__main__":
    main()
