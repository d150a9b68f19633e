"""Tracing from outside the program: spans around its public calls, Spark's
stage metrics per job group, and the streaming progress of every batch.

- ``Tracer.wrap`` replaces a module or class attribute with a wrapper that
  records a span (name, start, end, parent) while the tracer is active and
  costs one flag test when it is not. Spans stay in memory; the run writes
  them out when it ends.
- ``group_stats`` sums the live status store's stage data for the jobs of one
  job group. Micro-batch jobs run under their streaming query's ``runId``
  group, so streaming work is collected by that group, not the caller's.
- ``ProgressLog`` is a streaming listener that keeps every batch's
  ``StreamingQueryProgress`` and lets a caller wait until a query has
  committed a number of input rows.
"""

from __future__ import annotations

import functools
import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

__all__ = ["Tracer", "group_stats", "ProgressLog"]


class Tracer:
    def __init__(self):
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of ``owner.attr``."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            return tracer.call(name, fn, *args, **kwargs)

        setattr(owner, attr, traced)

    def call(self, name: str, fn, *args, **kwargs):
        span = {"name": name, "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter()}
        self._stack.append(len(self.spans))
        self.spans.append(span)
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()


def group_stats(spark, group: str, seen: set[int] | None = None) -> dict:
    """jobs/tasks/shuffle bytes/executor CPU of the job group's jobs, from
    the status store (works with the UI disabled). Job ids in ``seen`` are
    skipped and the counted ones added to it, so a long-lived group can be
    read per operation."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "executor_cpu_ms": 0.0}
    for jid in tracker.getJobIdsForGroup(group):
        if seen is not None:
            if jid in seen:
                continue
            seen.add(jid)
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped or evicted stage
                continue
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
    return out


class ProgressLog(StreamingQueryListener):
    """Every batch's progress by query id, and committed input rows."""

    def __init__(self):
        self._cond = threading.Condition()
        self.progress: dict[str, list[dict]] = {}
        self.rows: dict[str, int] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._cond:
            self.progress.setdefault(p["id"], []).append(p)
            self.rows[p["id"]] = self.rows.get(p["id"], 0) + p["numInputRows"]
            self._cond.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self._cond.notify_all()

    def wait_rows(self, targets: dict[str, int], timeout: float,
                  alive=lambda: True) -> None:
        """Block until each query id has committed at least its target rows;
        raise if ``alive()`` turns false or ``timeout`` seconds pass."""
        deadline = time.monotonic() + timeout
        with self._cond:
            while any(self.rows.get(q, 0) < n for q, n in targets.items()):
                left = deadline - time.monotonic()
                if left <= 0 or not alive():
                    raise RuntimeError(
                        f"committed rows {self.rows} short of {targets}")
                self._cond.wait(min(left, 1.0))
