#!/usr/bin/env python3
"""Benchmark command: one workload, one seed, one timed phase.

    python3 perfbench/run.py --workload {snapshot,cdc,registry} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. The run generates its inputs from the seed,
builds a SparkSession on ``local[min(4, cpus)]`` with a fixed heap, stages and
warms the workload (untimed apart from ``setup_s``), runs whole ops until
``--seconds`` have passed, checks the outputs, and prints as its last stdout
line ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates traced
and untraced ops, reports the per-layer metrics of every workload (the other
two are swept briefly after the timed phase) and the tracing overhead, and
writes the spans and streaming progress to ``perfbench/traces/``.

Every run works in its own directory under ``perfbench/.work/`` (scratch,
Spark local dirs, checkpoints, outputs) and removes it on exit, also when the
run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CPUS = min(4, len(os.sched_getaffinity(0)))
# The driver JVM's heap is fixed (-Xms = -Xmx): with an adaptive heap, peak
# RSS of identical runs moved by a third with G1's resizing. Heap pages are
# not touched up front, so peak_rss_mb follows the pages the program uses.
HEAP = "2g"


def calib_ms() -> float:
    """Median of five runs of a fixed single-thread loop: a host-speed marker
    recorded at the start and end of every run."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x = (x * 1103515245 + i) & 0x7FFFFFFF
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of the host's vCPUs so far, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(max(0, b.getCollectionTime()) for b in beans))


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python workers
    it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


class Run:
    """One benchmark run: isolation, session, timed phase, checks, metrics."""

    def __init__(self, args):
        self.args = args
        self.root = os.path.join(
            HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.workloads: list = []
        self.info: dict = {"workload": args.workload, "seed": args.seed}

    def isolate(self) -> None:
        """Per-run scratch, Spark local dirs and temp dirs; pinned CPUs and
        heap. Set before the program is imported: it reads them at import."""
        dirs = {k: os.path.join(self.root, k) for k in ("scratch", "local", "tmp")}
        for d in dirs.values():
            os.makedirs(d)
        os.environ.update({
            "SPARK_GRAFT_SCRATCH_DIR": dirs["scratch"],
            "SPARK_LOCAL_DIRS": dirs["local"],
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "TMPDIR": dirs["tmp"],
        })
        self.tmp = dirs["tmp"]

    def session(self):
        from librarian_spark.session import get_spark

        return get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData -Xms{HEAP}"),
        })

    def timed_phase(self, wl, tracer, seconds: float | None, ops: int | None):
        """Whole ops until ``seconds`` pass (or ``ops`` ops). A traced run
        traces every other op and makes at least one of each. Returns
        ([(traced, op seconds)] of the ops that succeeded, rows, attempted,
        failed, phase seconds)."""
        trace = bool(self.args.trace)
        done: list[tuple[bool, float]] = []
        rows = failed = 0
        t_start = t_end = time.perf_counter()
        i = 0
        while wl.has_next():
            traced = trace and (ops is not None or i % 2 == 1)
            if traced:
                wl.before(i)
            tracer.active = traced
            t0 = time.perf_counter()
            try:
                rows += wl.op(i, traced)
                ok = True
            except Exception as exc:  # noqa: BLE001 — counted as a failed op
                print(f"op {i} failed: {type(exc).__name__}: {exc}"[:2000],
                      file=sys.stderr)
                ok = False
            finally:
                tracer.active = False
            t_end = time.perf_counter()
            i += 1
            if ok:
                done.append((traced, t_end - t0))
                if traced:
                    wl.sample(i - 1)
            else:
                failed += 1
                if wl.fatal_failures:
                    break
            if ops is not None:
                if i >= ops:
                    break
            elif t_end - t_start >= seconds and (not trace or i >= 2):
                break
        return done, rows, i, failed, t_end - t_start
    def main(self) -> dict:
        from tracing import ProgressLog, Tracer
        from workloads import WORKLOADS

        args = self.args
        self.info["host.calib_start_ms"] = calib_ms()
        self.isolate()
        import librarian_spark  # noqa: F401 — fail fast outside a checkout

        # inputs for twice as many ops as the program makes now (about one
        # op a second and a half): a faster program that uses them up ends
        # its phase early, with its rates still measured over the phase
        max_ops = max(12, 2 * args.seconds)
        wl = WORKLOADS[args.workload](self.root, args.seed, max_ops)
        self.workloads.append(wl)
        tracer, progress = Tracer(), ProgressLog()
        tracer.active = bool(args.trace)

        t_setup = time.perf_counter()
        self.spark = spark = self.session()
        session_ms = (time.perf_counter() - t_setup) * 1000
        spark.streams.addListener(progress)
        wl.start(spark, tracer, progress)
        wl.warm(wl.warm_ops)
        tracer.active = False
        setup_s = time.perf_counter() - t_setup

        gc0, (steal0, all0) = gc_ms(spark), cpu_ticks()
        done, rows, attempted, failed, phase_s = self.timed_phase(
            wl, tracer, args.seconds, None)
        gc_phase = gc_ms(spark) - gc0
        steal1, all1 = cpu_ticks()
        # share of the vCPUs' time the hypervisor gave to other guests during
        # the timed phase: a host-drift marker beside the calibration loop
        self.info["host.steal_pct"] = 100 * (steal1 - steal0) / max(1, all1 - all0)
        problems = wl.check()
        op_s = {flag: [t for traced, t in done if traced == flag]
                for flag in (False, True)}

        layers: dict[str, float] = {}
        if args.trace:
            layers.update(wl.layers())
            untraced, traced = op_s[False], op_s[True]
            layers["trace.overhead_pct"] = (
                (statistics.median(traced) / statistics.median(untraced) - 1) * 100
                if traced and untraced else 0.0)
            for name, cls in WORKLOADS.items():
                if name == args.workload:
                    continue
                other = cls(self.root, args.seed, cls.sweep_ops)
                self.workloads.append(other)
                tracer.active = True
                other.start(spark, tracer, progress)
                other.warm(1)
                _, _, n, n_failed, _ = self.timed_phase(
                    other, tracer, None, other.sweep_ops)
                attempted, failed = attempted + n, failed + n_failed
                problems += other.check()
                layers.update(other.layers())

        sc = spark.sparkContext
        self.info.update({
            "master": sc.master,
            "cpus_effective": sc.defaultParallelism,
            "heap": HEAP,
            "scratch_root": os.environ["SPARK_GRAFT_SCRATCH_DIR"],
            "attempted": attempted,
            "failed": failed,
            "op_ms": [t * 1000 for _, t in done],
            "phase_s": phase_s,
            "setup_s": setup_s,
            "jvm.gc_ms": gc_phase,
            "problems": problems[:20],
        })
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        self.info["host.calib_end_ms"] = calib_ms()

        if args.trace:
            layers.update({
                "session.start_ms": session_ms,
                "jvm.gc_ms": gc_phase,
                "host.calib_start_ms": self.info["host.calib_start_ms"],
                "host.calib_end_ms": self.info["host.calib_end_ms"],
            })
            out_dir = os.path.join(HERE, "traces")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
            with open(path, "w", encoding="utf-8") as fh:
                json.dump({"info": self.info, "layers": layers,
                           "spans": tracer.spans, "progress": progress.progress},
                          fh)
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
        else:
            all_ops = op_s[False]
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "rows_per_s": {"value": rows / phase_s if phase_s else 0.0,
                               "unit": "rows/s"},
                "op_p50_ms": {"value": statistics.median(all_ops) * 1000
                              if all_ops else 0.0, "unit": "ms"},
                "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
            }
        return {"correct": not problems, "attempted": attempted,
                "failed": failed, "metrics": metrics}

    def close(self) -> None:
        try:
            for wl in self.workloads:
                try:
                    wl.close()
                except Exception as exc:  # noqa: BLE001 — keep shutting down
                    print(f"close {wl.name}: {exc}", file=sys.stderr)
            if self.spark is not None:
                stop_spark(self.spark)
        finally:
            shutil.rmtree(self.root, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.root))
            except OSError:
                pass  # another run's dir is still there


def _unit(name: str) -> str:
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("rows_per_s"):
        return "rows/s"
    if "bytes_per_row" in name:
        return "B/row"
    if "bytes_per_event" in name:
        return "B/event"
    if "bytes" in name:
        return "B"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("snapshot", "cdc", "registry"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, REPO)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    try:
        result = run.main()
    finally:
        run.close()
    print(json.dumps(run.info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
