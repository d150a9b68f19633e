"""The one measurement protocol of ``bench.py`` and ``scripts/``: warm-up,
per-run reset, one timed run with the jobs it ran, and interleaved best-of-N.

- ``warm_up``: a ``region`` count (JVM, parquet footer caches, codegen) and
  one ``mapInPandas`` noop write, so python-worker fork and import cost is
  not billed to the first pandas-path query.
- ``reset``: ``clearCache`` and ``StateStore.stop`` before every run. The
  cleared cache makes each run self-contained (no cross-query cache coupling,
  no order dependence); caches an operator builds for itself within the run
  still apply, as part of its real plan. Earlier streaming queries leave
  state-store providers whose maintenance threads tax every later query
  (measured: ``pipeline_scd2`` 7.5 s mid-bench vs 3.6 s on its own).
- ``timed_run``: ``spec.spark_fn`` plus a noop write, timed together —
  operators that collect a broadcast block, checkpoint or drain a stream do
  real work while the DataFrame is built. The run's jobs are read from the
  live status store, as ``perfbench/tracing.group_stats`` reads stage data:
  every job submitted between the run's start and end counts, whatever its
  job group. Micro-batch jobs run under their streaming query's ``runId``
  group, not the caller's, so a group filter would miss them.
- ``best_of``: interleaved rounds (a full pass over the queries per round,
  best run per query), so a host-load spike degrades one round of a few
  queries instead of every attempt of one query.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

__all__ = ["Job", "Run", "warm_up", "reset", "timed_run", "best_of"]


@dataclass(frozen=True)
class Job:
    start_s: float  # submission, seconds after the run started
    duration_s: float
    stages: int  # stages that ran; skipped (reused shuffle) stages excluded
    tasks: int


@dataclass(frozen=True)
class Run:
    seconds: float
    jobs: list[Job]


def warm_up(spark, sf_dir: str) -> None:
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()


def reset(spark) -> None:
    spark.catalog.clearCache()
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()  # noqa: E501
    except Exception:  # noqa: BLE001 — JVM internals; timing aid only
        pass


def _wait_for_listeners(bus) -> None:
    """Let the status store catch up with the listener bus."""
    try:
        bus.waitUntilEmpty()
    except Py4JJavaError:  # timed out: a slow listener only delays the read
        pass


def _last_job_id(store) -> int:
    jobs = store.jobsList(None)  # newest first
    return jobs.head().jobId() if jobs.nonEmpty() else -1


def _jobs(store, first_id: int, start_ms: int, end_ms: float) -> list[Job]:
    out = []
    for jid in range(first_id, _last_job_id(store) + 1):
        try:
            job = store.job(jid)
        except Py4JJavaError:  # evicted past spark.ui.retainedJobs
            continue
        sub = job.submissionTime()
        if sub.isEmpty():
            continue
        t0 = sub.get().getTime()
        if not start_ms <= t0 <= end_ms:
            continue
        done = job.completionTime()
        t1 = done.get().getTime() if done.isDefined() else end_ms
        stages = tasks = 0
        sids = job.stageIds()
        for k in range(sids.size()):
            try:
                st = store.lastStageAttempt(sids.apply(k))
            except Py4JJavaError:  # evicted stage
                continue
            if st.status().toString() == "SKIPPED":
                continue
            stages += 1
            tasks += st.numCompleteTasks()
        out.append(Job((t0 - start_ms) / 1000, (t1 - t0) / 1000, stages, tasks))
    return out


def timed_run(spark, spec, sf_dir: str) -> Run:
    """Reset, then time ``spec.spark_fn(spark, sf_dir)`` plus a noop write."""
    reset(spark)
    sc = spark.sparkContext._jsc.sc()
    bus, store = sc.listenerBus(), sc.statusStore()
    _wait_for_listeners(bus)
    first_id = _last_job_id(store) + 1
    start_ms = int(time.time() * 1000)  # the JVM clock's whole ms
    t0 = time.perf_counter()
    spec.spark_fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    seconds = time.perf_counter() - t0
    end_ms = time.time() * 1000
    _wait_for_listeners(bus)
    return Run(seconds, _jobs(store, first_id, start_ms, end_ms))


def best_of(
    spark, specs, names: list[str], sf_dir: str, runs: int
) -> tuple[dict[str, Run], dict[str, str]]:
    """Fastest run per query over ``runs`` interleaved rounds, and errors.

    A query that raises is recorded in the errors and not run again: one bad
    query must never zero the whole pass. It gets no timing even after an
    earlier round's success — a best of fewer rounds is not comparable with
    the others."""
    best: dict[str, Run] = {}
    errors: dict[str, str] = {}
    for _ in range(runs):
        for name in names:
            if name in errors:
                continue
            try:
                run = timed_run(spark, specs[name], sf_dir)
            except Exception as exc:  # noqa: BLE001 — recorded, pass goes on
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                best.pop(name, None)
                continue
            if name not in best or run.seconds < best[name].seconds:
                best[name] = run
    return best, errors
