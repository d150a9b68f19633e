"""The benchmark's three workloads, each with a single kind of operation.

- ``Snapshot``: one op is one full ``Snapshotter.run`` of a librarian YAML
  config over a generated ``property_sales`` table (projection + ORDER BY,
  ``batch_size_num_records`` files, ``_catalog.json``).
- ``Cdc``: one op lands one generated Debezium JSONL segment; the op ends when
  ``Replicator`` (``cdc_jsonl`` → parquet archive) and ``materialize`` (the
  same segments through ``parse_envelope`` → keyed table) have both committed
  its rows, as their progress events report. The first, untimed segment
  prefills the key space at the level live state settles at.
- ``Registry``: one op is one pass over ``QUERIES``, each run through
  ``QuerySpec.spark_fn`` and a noop write, on generated tables.

A workload is driven as: ``start`` (staging), ``warm`` (untimed ops), ``op``
(the timed op), ``before`` and ``sample`` (around a traced op, outside its
timing), ``check`` (after the timed phase) and ``layers`` (per-layer metrics
of the traced ops). ``op`` does only cheap bookkeeping, so traced and
untraced ops run the same program calls.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq

import checks
import gen
from tracing import group_stats

__all__ = ["Snapshot", "Cdc", "Registry", "WORKLOADS"]


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
               if f.endswith(".parquet"))


class Workload:
    name = ""
    warm_ops = 1
    sweep_ops = 2  # traced ops when this workload is swept in another's trace run
    #: an op failure leaves later ops unable to run (a dead stream)
    fatal_failures = False

    def __init__(self, root: str, seed: int, max_ops: int):
        """Generate the inputs for ``seed`` under ``root``, with room for
        ``max_ops`` timed ops where inputs are used up."""
        self.root = os.path.join(root, self.name)
        os.makedirs(self.root)

    def start(self, spark, tracer, progress) -> None:
        self.spark, self.tracer, self.progress = spark, tracer, progress

    def warm(self, n: int) -> None:
        for i in range(n):
            self.op(-1 - i, False)

    def has_next(self) -> bool:
        return True

    def op(self, i: int, traced: bool) -> int:
        """Run op ``i``; return the rows it counts toward ``rows_per_s``."""
        raise NotImplementedError

    def before(self, i: int) -> None:
        """Mark where traced op ``i``'s layer data starts (outside its
        timing)."""

    def sample(self, i: int) -> None:
        """Read the layer data of traced op ``i`` (outside its timing)."""

    def check(self) -> list[str]:
        raise NotImplementedError

    def layers(self) -> dict[str, float]:
        raise NotImplementedError

    def close(self) -> None:
        pass


_SNAPSHOT_CONFIG = """\
archiver:
  name: perfbench-property-sales
  source:
    format: parquet
    path: {src}
    query: >-
      SELECT serial_number, list_year, date_recorded, town, address,
      assessed_value, sale_amount, sales_ratio, property_type,
      residential_type FROM source ORDER BY serial_number
  repository:
    type: local
    local:
      path: {out}
  preserver:
    type: parquet
    batch_size_num_records: {batch}
    parquet:
      schema:
        - {{name: serial_number, type: INT32}}
        - {{name: list_year, type: INT32}}
        - {{name: date_recorded, type: INT32, converted_type: DATE}}
        - {{name: town, type: BYTE_ARRAY, converted_type: UTF8}}
        - {{name: address, type: BYTE_ARRAY, converted_type: UTF8}}
        - {{name: assessed_value, type: INT64, converted_type: DECIMAL, precision: 12, scale: 2}}
        - {{name: sale_amount, type: INT64, converted_type: DECIMAL, precision: 12, scale: 2}}
        - {{name: sales_ratio, type: INT64, converted_type: DECIMAL, precision: 10, scale: 2}}
        - {{name: property_type, type: BYTE_ARRAY, converted_type: UTF8}}
        - {{name: residential_type, type: BYTE_ARRAY, converted_type: UTF8}}
"""


class Snapshot(Workload):
    name = "snapshot"
    rows = 400_000
    # in a run that timed every op after the first, the first three timed ops
    # took 2.4, 1.8 and 1.7 s, the next ten 1.26–1.63 s and later ones
    # 1.04–1.40 s; with two warm-up ops, the first three timed ops still ran
    # 1.5–2.0 s and the op median of five seeds spread 0.12, so four
    warm_ops = 4

    def __init__(self, root: str, seed: int, max_ops: int):
        super().__init__(root, seed, max_ops)
        src = os.path.join(self.root, "source")
        self.out = os.path.join(self.root, "out")
        self.sums = gen.property_sales(seed, self.rows, src)
        self.batch = self.rows // 10
        self.yaml = _SNAPSHOT_CONFIG.format(src=src, out=self.out, batch=self.batch)
        self.samples: list[dict] = []
        self._span0: dict[int, int] = {}

    def start(self, spark, tracer, progress) -> None:
        super().start(spark, tracer, progress)
        from librarian_spark import config, snapshot

        self.config, self.snapshot = config, snapshot
        tracer.wrap(config, "load_config_str", "load_config_str")
        for method in ("run", "read_source", "write"):
            tracer.wrap(snapshot.Snapshotter, method, f"Snapshotter.{method}")
        tracer.wrap(snapshot, "write_catalog", "write_catalog")

    def op(self, i: int, traced: bool) -> int:
        self.spark.sparkContext.setJobGroup(f"snapshot-{i}", "perfbench op")
        self._span0[i] = len(self.tracer.spans)
        cfg = self.config.load_config_str(self.yaml)
        record = self.snapshot.Snapshotter(self.spark, cfg.archiver).run()
        if not record.success:
            raise RuntimeError(f"snapshot catalog parity failed: {record}")
        return record.num_records_processed

    def sample(self, i: int) -> None:
        spans = self.tracer.spans[self._span0[i]:]

        def one(name: str) -> dict:
            return next(s for s in spans if s["name"] == name)

        def ms(span: dict) -> float:
            return (span["end"] - span["start"]) * 1000

        read, write = one("Snapshotter.read_source"), one("Snapshotter.write")
        files = [f for f in os.listdir(self.out) if f.endswith(".parquet")]
        s = {
            "config.load_ms": ms(one("load_config_str")),
            "snapshot.read_source_ms": ms(read),
            "snapshot.prescan_ms": (write["start"] - read["end"]) * 1000,
            "snapshot.write_ms": ms(write),
            "catalog.write_ms": ms(one("write_catalog")),
            "snapshot.files_per_op": len(files),
            "snapshot.bytes_per_row": _dir_bytes(self.out) / self.rows,
        }
        for k, v in group_stats(self.spark, f"snapshot-{i}").items():
            s[f"snapshot.{k}_per_op"] = v
        self.samples.append(s)

    def check(self) -> list[str]:
        return checks.check_snapshot(self.out, self.sums, self.batch)

    def layers(self) -> dict[str, float]:
        return {k: _median([s[k] for s in self.samples]) for k in self.samples[0]}


_DURATIONS = ("latestOffset", "queryPlanning", "addBatch", "walCommit",
              "commitOffsets", "triggerExecution")


class Cdc(Workload):
    name = "cdc"
    keys = 25_000
    per_segment = 10_000
    # the prefill and 2 segments: in a run that timed every segment after the
    # prefill, the first 4 took 1.2–2.1 s and the next 48 stayed at 0.95–1.3 s;
    # the 15 or so segments of a 25 s phase outweigh the two slow ones left
    warm_ops = 3
    sweep_ops = 3
    fatal_failures = True

    def __init__(self, root: str, seed: int, max_ops: int):
        super().__init__(root, seed, max_ops)
        d = {k: os.path.join(self.root, k) for k in
             ("pending", "land", "archive", "state", "ckpt_rep", "ckpt_mat")}
        for k in ("pending", "land"):
            os.makedirs(d[k])
        self.dirs = d
        self.stream = gen.ChangeStream(seed, self.keys, self.per_segment)
        # (file name, events); the first segment is the untimed prefill
        self.segments: list[tuple[str, int]] = []
        for n in range(self.warm_ops + max_ops):
            name = f"seg-{n:06d}.jsonl"
            before = len(self.stream.events)
            text = self.stream.segment() if n else self.stream.prefill()
            with open(os.path.join(d["pending"], name), "w", encoding="utf-8") as fh:
                fh.write(text)
            self.segments.append((name, len(self.stream.events) - before))
        self.landed = self.landed_events = 0
        self.queries: dict[str, object] = {}
        self._marks: dict[int, dict[str, int]] = {}
        self.samples: dict[str, list[dict]] = {"replicate": [], "materialize": []}
        self.stats = {"replicate": [], "materialize": []}
        self._seen = {"replicate": set(), "materialize": set()}

    def start(self, spark, tracer, progress) -> None:
        super().start(spark, tracer, progress)
        from librarian_spark.streaming import envelope, materialize, replicate

        self.envelope = envelope
        tracer.wrap(replicate.Replicator, "start", "Replicator.start")
        tracer.wrap(replicate.Replicator, "stop", "Replicator.stop")
        tracer.wrap(materialize, "materialize", "materialize")
        tracer.wrap(envelope, "parse_envelope", "parse_envelope")
        d = self.dirs
        self.replicator = replicate.Replicator(spark, replicate.ReplicateConfig(
            replicator_id="perfbench", checkpoint_dir=d["ckpt_rep"],
            source_format="cdc_jsonl", source_path=d["land"],
            target_format="parquet", target_path=d["archive"],
            trigger_processing_time="0 seconds"))
        self.queries["replicate"] = self.replicator.start()
        text = (spark.readStream.format("text")
                .option("maxFilesPerTrigger", 1).load(d["land"]))
        self.mat_cfg = materialize.MaterializeConfig(
            state_dir=d["state"], checkpoint_dir=d["ckpt_mat"], key_cols=["id"],
            row_ddl=gen.CDC_ROW_DDL, trigger={"processingTime": "0 seconds"})
        self.queries["materialize"] = materialize.materialize(
            spark, envelope.parse_envelope(text, "value"), self.mat_cfg)
        self.ids = {k: str(q.id) for k, q in self.queries.items()}
        self.run_ids = {k: str(q.runId) for k, q in self.queries.items()}

    def has_next(self) -> bool:
        return self.landed < len(self.segments)

    def _alive(self) -> bool:
        return all(q.isActive for q in self.queries.values())

    def before(self, i: int) -> None:
        self._marks[i] = {k: len(self.progress.progress.get(q, []))
                          for k, q in self.ids.items()}
        # the runId groups also hold the jobs of warm-up and untraced ops
        tracker = self.spark.sparkContext.statusTracker()
        for k, run_id in self.run_ids.items():
            self._seen[k].update(tracker.getJobIdsForGroup(run_id))

    def op(self, i: int, traced: bool) -> int:
        name, events = self.segments[self.landed]
        os.replace(os.path.join(self.dirs["pending"], name),
                   os.path.join(self.dirs["land"], name))
        self.landed += 1
        self.landed_events += events
        self.progress.wait_rows({q: self.landed_events for q in self.ids.values()},
                                timeout=60, alive=self._alive)
        return events

    def sample(self, i: int) -> None:
        for k, qid in self.ids.items():
            batches = self.progress.progress[qid][self._marks[i][k]:]
            self.samples[k] += [b for b in batches if b["numInputRows"] > 0]
            self.stats[k].append(group_stats(self.spark, self.run_ids[k], self._seen[k]))

    def close(self) -> None:
        if "replicate" in self.queries:
            self.replicator.stop()
        q = self.queries.get("materialize")
        if q is not None and q.isActive:
            q.stop()

    def _events(self) -> list[tuple]:
        return self.stream.events[: self.landed_events]

    def _state_dir(self) -> str:
        with open(os.path.join(self.dirs["state"], "_LATEST")) as fh:
            return os.path.join(self.dirs["state"], f"v={fh.read().strip()}")

    def check(self) -> list[str]:
        self.close()
        events = self._events()
        problems = checks.check_archive(self.dirs["archive"], events)
        t = pq.read_table(self._state_dir(), columns=["id", "name", "qty", "price"])
        rows = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        return problems + checks.check_state(rows, gen.replay(events))

    def _batch_ms(self, df_fn, reps: int = 3) -> float:
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df_fn().write.mode("overwrite").format("noop").save()
            times.append((time.perf_counter() - t0) * 1000)
        return _median(times)

    def layers(self) -> dict[str, float]:
        spark, d = self.spark, self.dirs
        out: dict[str, float] = {}
        for k in ("replicate", "materialize"):
            for key in _DURATIONS:
                out[f"{k}.{key}_ms"] = _median(
                    [b["durationMs"].get(key, 0) for b in self.samples[k]])
        n_batches = {k: max(1, len(v)) for k, v in self.samples.items()}
        rep, mat = self.stats["replicate"], self.stats["materialize"]
        out["replicate.tasks_per_batch"] = sum(s["tasks"] for s in rep) / n_batches["replicate"]
        out["materialize.jobs_per_batch"] = sum(s["jobs"] for s in mat) / n_batches["materialize"]
        out["materialize.shuffle_bytes_per_batch"] = (
            sum(s["shuffle_bytes"] for s in mat) / n_batches["materialize"])
        out["replicate.sink_bytes_per_event"] = (
            _dir_bytes(d["archive"]) / self.landed_events)
        state = self._state_dir()
        out["materialize.state_rows"] = sum(
            pq.read_metadata(os.path.join(state, f)).num_rows
            for f in os.listdir(state) if f.endswith(".parquet"))
        out["materialize.state_bytes"] = _dir_bytes(state)
        # one segment through the cdc_jsonl DataSource as a batch read
        one = os.path.join(self.root, "one_segment")
        os.makedirs(one)
        name, events = self.segments[self.landed - 1]
        os.link(os.path.join(d["land"], name), os.path.join(one, name))
        out["cdc_jsonl.decode_ms_per_segment"] = self._batch_ms(
            lambda: spark.read.format("cdc_jsonl").option("path", one).load())
        # parse_envelope over every landed segment as a batch frame
        ms = self._batch_ms(lambda: self.envelope.parse_envelope(
            spark.read.text(d["land"]), "value"))
        out["envelope.parse_rows_per_s"] = self.landed_events / (ms / 1000)
        return out


#: the registry queries a pass runs, with the table each one reads; see the
#: README for why these
QUERIES = {
    "dedup_ngram_jaccard": "documents",
    "q113_sample_quantile_rollup": "orders",
    "graph_pagerank": "lineitem",
    "text_bpe_apply": "documents",
}


class Registry(Workload):
    name = "registry"
    # one pass, which also collects the results for the oracle check. Later
    # passes keep falling (5.9, 5.3, 4.8 … 3.6 s over 14 passes, with no
    # level within the run-time budget), so a run times passes 2–3
    warm_ops = 1
    sweep_ops = 1

    def __init__(self, root: str, seed: int, max_ops: int):
        super().__init__(root, seed, max_ops)
        self.sf = os.path.join(self.root, "sf")
        table_rows = gen.registry_tables(seed, self.sf)
        # source rows a pass reads: fixed by the table sizes, unlike the
        # result sizes, which vary with the seed's data
        self.rows_per_pass = sum(table_rows[t] for t in QUERIES.values())
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}
        self._marks: dict[tuple[int, str], dict] = {}
        self.samples: dict[str, list[dict]] = {q: [] for q in QUERIES}

    def start(self, spark, tracer, progress) -> None:
        super().start(spark, tracer, progress)
        from librarian_spark.operators.registry import load_all

        self.specs = load_all()
        self._state_store = (spark._jvm.org.apache.spark.sql.execution
                             .streaming.state.StateStore)

    def warm(self, n: int) -> None:
        # the first pass collects every result for the oracle check
        for q in QUERIES:
            df = self.specs[q].spark_fn(self.spark, self.sf)
            self.results[q] = (df.columns, [tuple(r) for r in df.collect()])
        for i in range(n - 1):
            self.op(-1 - i, False)

    def op(self, i: int, traced: bool) -> int:
        spark = self.spark
        for q in QUERIES:
            spark.catalog.clearCache()
            # unload state-store providers of earlier streaming drains: their
            # maintenance threads otherwise tax every later query
            self._state_store.stop()
            spark.sparkContext.setJobGroup(f"registry-{q}-{i}", "perfbench op")
            fn = self.specs[q].spark_fn
            t0 = time.perf_counter()
            df = self.tracer.call(f"{q}.spark_fn", fn, spark, self.sf) if traced \
                else fn(spark, self.sf)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            self._marks[(i, q)] = {"build_ms": (t1 - t0) * 1000,
                                   "exec_ms": (time.perf_counter() - t1) * 1000}
        return self.rows_per_pass

    def sample(self, i: int) -> None:
        for q in QUERIES:
            s = dict(self._marks[(i, q)])
            s.update(group_stats(self.spark, f"registry-{q}-{i}"))
            self.samples[q].append(s)

    def check(self) -> list[str]:
        from tests.oracle import compare, run_oracle

        problems = []
        for q in QUERIES:
            cols, rows = self.results[q]
            ora_cols, ora_rows = run_oracle(self.specs[q].oracle, self.sf)
            problems += [f"{q}: {p}" for p in compare(cols, rows, ora_cols, ora_rows)]
        return problems

    def layers(self) -> dict[str, float]:
        return {f"registry.{q}.{k}": _median([s[k] for s in samples])
                for q, samples in self.samples.items() for k in samples[0]}


WORKLOADS = {w.name: w for w in (Snapshot, Cdc, Registry)}
