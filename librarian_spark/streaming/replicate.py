"""Streaming replicate pipeline ("archiver replicate").

Reference semantics (`/root/reference/pkg/replicator/replicator.go:154-285`): pull
CDC events from a source, write each to the target, checkpoint after write, flush
on a timer, resume from checkpoint on restart. The whole loop maps onto ONE
Structured Streaming query:

    readStream (kafka/file) → parse/normalize envelope → transform
    → writeStream (kafka/parquet/memory) + checkpointLocation + trigger

Parity mapping:

- per-event checkpoint + atomic temp-file rename (`checkpoint.go:103-117`) →
  Spark's offset/commit WAL under ``checkpointLocation`` (same at-least-once to
  Kafka — write then commit, `replicator.go:267-275` — exactly-once to files);
- ``FlushTimeout`` ticker (`replicator.go:206-212`) → ``trigger(processingTime)``;
- ``EmptyPollInterval`` backoff (`replicator.go:256-259`) → micro-batch scheduler;
- pause/resume/stop/restart FSM (`fsm.go:50-94`) → for the custom sources
  (cdc_jsonl/pgoutput) pause is a REAL suspended state: the source freezes
  ``latestOffset`` behind a marker file, the live query idles with state and
  checkpoint warm, resume is one trigger away. Spark-owned sources
  (kafka/files) expose no offset-freeze hook, so pause degrades to
  stop-with-checkpoint + restart there;
- stats structs + HTTP API (`server.go:57-165`) → :mod:`.server`, which
  serves each replicator query's ``lastProgress`` (the :mod:`.stats`
  listener is a second, separate stats surface).

At scale: one replicate query per topic-set; Kafka source parallelism follows
topic partitions; a ``repartition`` before heavyweight transforms decouples
compute from partition count; state-backed ops use RocksDB (see windows.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from librarian_spark.streaming.envelope import (
    CDC_ROW_COLUMNS,
    cdc_rows_as_events,
    kafka_key,
    parse_envelope,
)
from librarian_spark.streaming.fsm import ReplicatorFSM

__all__ = ["ReplicateConfig", "Replicator", "kafka_payload"]

# custom segment-directory DataSources: format name → module under
# librarian_spark.sources (all share the offset + true-pause protocol)
_CUSTOM_SOURCES = {
    "cdc_jsonl": "cdc_datasource",
    "pgoutput": "pgoutput",
    "mongo_changestream": "mongo_changestream",
}

# Debezium connector label per source format (payload.source.connector —
# consumers dispatch on it, so a Mongo event labeled "postgresql" misroutes)
_CONNECTOR_LABEL = {
    "mongo_changestream": "mongodb",
    "pgoutput": "postgresql",
    "cdc_jsonl": "postgresql",
}


def kafka_payload(df: DataFrame, source_format: str = "") -> DataFrame:
    """(key, value) string frame for the Kafka sink. Typed CDC rows (a
    custom source's output) get the Debezium envelope constructed here —
    the reference replicator's event → message step
    (`pkg/replicator/replicator.go:243-275`) — labeled with the source's
    connector; frames already carrying ``value`` (kafka/files passthrough)
    keep it. Module-level so the branch condition is unit-testable on
    batch frames without a broker."""
    if "value" not in df.columns and set(CDC_ROW_COLUMNS) <= set(df.columns):
        df = cdc_rows_as_events(
            df, connector=_CONNECTOR_LABEL.get(source_format, "postgresql")
        )
    if "key" not in df.columns:
        df = df.withColumn(
            "key", kafka_key(F.col("db"), F.col("schema_name"), F.col("table"))
        )
    return df.selectExpr("CAST(key AS STRING)", "CAST(value AS STRING)")


@dataclass
class ReplicateConfig:
    """Mirrors the reference CLI surface (`internal/cmd/archiver/replicate.go:24-31`):
    source url, target url, replicator id, checkpoint dir, flush interval."""

    replicator_id: str
    checkpoint_dir: str
    # source: kafka | files
    source_format: str = "kafka"
    source_options: dict[str, str] = field(default_factory=dict)
    source_path: str = ""  # for file sources
    source_schema: str | None = None  # DDL string for file sources
    # target: kafka | parquet | memory
    target_format: str = "kafka"
    target_options: dict[str, str] = field(default_factory=dict)
    target_path: str = ""
    # fan-out: partition the file sink by these envelope columns (e.g.
    # ["table"] routes a one-topic-many-tables stream to per-table dirs)
    target_partition_by: tuple[str, ...] | str = ()
    trigger_processing_time: str = "5 seconds"  # ≈ FlushTimeout
    parse_debezium: bool = True


class Replicator:
    """Builds and controls one streaming replicate query."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: ReplicateConfig,
        transform: Callable[[DataFrame], DataFrame] | None = None,
    ):
        self.spark = spark
        self.cfg = cfg
        self.transform = transform
        self.query: StreamingQuery | None = None
        self.fsm = ReplicatorFSM()
        self.last_error: str | None = None

    # -- source ------------------------------------------------------------
    def read_source(self) -> DataFrame:
        cfg = self.cfg
        if cfg.source_format == "kafka":
            reader = self.spark.readStream.format("kafka")
            for k, v in cfg.source_options.items():
                reader = reader.option(k, v)
            df = reader.load()  # key, value, topic, partition, offset, timestamp
        elif cfg.source_format == "files":
            # each line of the files is one envelope JSON document (exactly what
            # the Kafka message value carries) — read as text, line = value
            reader = self.spark.readStream
            for k, v in cfg.source_options.items():
                reader = reader.option(k, v)
            if cfg.source_schema:
                reader = reader.schema(cfg.source_schema)
            df = reader.format("text").load(cfg.source_path)
            df = df.select(F.col("value").cast("string").alias("value"))
        elif cfg.source_format in _CUSTOM_SOURCES:
            # direct-CDC custom Python DataSources (no Kafka hop): envelope
            # JSONL segments, raw pgoutput WAL bytes, or recorded Mongo
            # change-stream documents — all decode executor-side into the
            # same typed CDC_ROW_SCHEMA rows, so no envelope parse is needed
            # and the whole downstream runs unchanged
            from importlib import import_module

            mod = import_module(
                f"librarian_spark.sources.{_CUSTOM_SOURCES[cfg.source_format]}"
            )
            mod.register(self.spark)
            reader = (
                self.spark.readStream.format(cfg.source_format)
                .option("path", cfg.source_path)
                .option("pause_marker", self.pause_marker)
            )
            for k, v in cfg.source_options.items():
                reader = reader.option(k, v)
            return reader.load()
        else:
            raise ValueError(f"unknown source format: {cfg.source_format!r}")
        if cfg.parse_debezium:
            df = parse_envelope(df, "value")
        return df

    # -- sink --------------------------------------------------------------
    def start(self) -> StreamingQuery:
        """Start (or restart) the query: created/stopped/error → connecting
        → streaming, with a start-time failure landing in error — the
        reference FSM's connection path (`fsm.go:55-67`). When called from
        :meth:`reconnect` the FSM is already in ``reconnecting`` and moves
        straight to streaming on success."""
        if self.fsm.current in ("created", "stopped", "error"):
            self.fsm.transition("connecting")
        try:
            q = self._start_query()
        except Exception as e:
            self.last_error = str(e)
            if self.fsm.current in ("connecting", "reconnecting"):
                self.fsm.transition("error")
            raise
        if self.fsm.current in ("connecting", "reconnecting"):
            self.fsm.transition("streaming")
        return q

    def _start_query(self) -> StreamingQuery:
        cfg = self.cfg
        # a pause marker cannot survive into a NEW query: a fresh stream
        # reader has no held offset, so its first poll would drain the whole
        # paused-era backlog while `state` still reported "paused" — starting
        # is an explicit run signal, so pause state is query-scoped and a
        # pause across process restart degrades to resume-on-start
        if self._pausable_live:
            import os

            try:
                os.remove(self.pause_marker)
            except FileNotFoundError:
                pass
        df = self.read_source()
        if self.transform is not None:
            df = self.transform(df)

        if cfg.target_format == "kafka":
            out = kafka_payload(df, cfg.source_format)
            writer = out.writeStream.format("kafka")
            # reference producer tuning (acks=1, snappy, linger 5ms, batch 16384 —
            # `internal/integrations/kafka/repository.go:45-60`) passes through as
            # kafka.* options supplied by the caller in target_options.
            for k, v in cfg.target_options.items():
                writer = writer.option(k, v)
        elif cfg.target_format == "parquet":
            writer = df.writeStream.format("parquet").option("path", cfg.target_path)
            pby = cfg.target_partition_by
            if pby:
                writer = writer.partitionBy(
                    *([pby] if isinstance(pby, str) else list(pby))
                )
            for k, v in cfg.target_options.items():
                writer = writer.option(k, v)
        elif cfg.target_format == "memory":
            writer = df.writeStream.format("memory").queryName(cfg.replicator_id)
        else:
            raise ValueError(f"unknown target format: {cfg.target_format!r}")

        if cfg.target_format != "memory":
            writer = writer.option("checkpointLocation", self.cfg.checkpoint_dir)
        # memory sink: append mode cannot RECOVER from a checkpoint, so a
        # restart() with a populated checkpoint dir would throw — memory
        # targets (a debug/test surface) run checkpoint-free and a restart
        # replays from the source instead of resuming
        self.query = writer.trigger(
            processingTime=cfg.trigger_processing_time
        ).start()
        return self.query

    # -- lifecycle (FSM parity: created→streaming⇄paused→stopped) -----------
    @property
    def pause_marker(self) -> str:
        """Marker file the custom stream readers poll for the TRUE-pause
        protocol; lives inside the checkpoint dir (same durability scope)."""
        import os

        return os.path.join(self.cfg.checkpoint_dir, "_paused")

    @property
    def _pausable_live(self) -> bool:
        return self.cfg.source_format in _CUSTOM_SOURCES

    @property
    def state(self) -> str:
        """created | connecting | streaming | paused | reconnecting | error
        | stopped — the full reference FSM (`fsm.go:14-26`). Commanded
        transitions go through the validated table; runtime observations
        reconcile INTO it here: a query found dead with an exception is an
        uncommanded streaming → error transition (the exception surfaces
        only after termination on Spark), a query found dead without one
        stopped gracefully."""
        import os

        if self.query is None:
            return self.fsm.current  # created / stopped-before-start
        if not self.query.isActive:
            if self.fsm.current == "reconnecting":
                return "reconnecting"  # backoff in progress
            exc = self.query.exception()
            if exc is not None:
                self.last_error = str(exc)
                self.fsm.force("error")
                return "error"
            self.fsm.force("stopped")
            return "stopped"
        if self._pausable_live and os.path.exists(self.pause_marker):
            return "paused"
        return "streaming"

    def pause(self) -> None:
        """Suspend WITHOUT checkpoint teardown (the reference FSM's real
        ``paused`` state, `fsm.go:50-129`): for the custom sources the
        query object stays active and simply observes no new data until
        resume — state stores and executors stay warm, so resume latency is
        one trigger, not a cold restart. Sources Spark owns end-to-end
        (kafka/files) have no offset-freeze hook: there pause degrades to
        stop-with-checkpoint, the previously documented semantics."""
        if self._pausable_live:
            import os

            os.makedirs(self.cfg.checkpoint_dir, exist_ok=True)
            with open(self.pause_marker, "w") as fh:
                fh.write("")
            if self.fsm.can("paused"):
                self.fsm.transition("paused")
        else:
            self.stop()

    def resume(self) -> StreamingQuery | None:
        """Inverse of :meth:`pause`: drop the marker (live query picks up on
        its next trigger) or, after a degraded pause-as-stop, restart from
        the checkpoint."""
        import os

        try:
            os.remove(self.pause_marker)
        except FileNotFoundError:
            pass
        if self.query is not None and self.query.isActive:
            if self.fsm.current == "paused":
                self.fsm.transition("streaming")
            return self.query
        return self.restart()

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()
        if self.fsm.current != "stopped" and self.fsm.can("stopped"):
            self.fsm.transition("stopped")

    def restart(self) -> StreamingQuery:
        """Stop and resume from the checkpoint — offsets continue where the last
        commit left off (source resume ≡ `pkg/postgres/source.go:597-621`)."""
        self.stop()
        return self.start()

    def reconnect(
        self,
        max_attempts: int = 3,
        backoff_s: float = 0.2,
        verify_drain: bool = False,
    ) -> StreamingQuery:
        """Restart-with-backoff after a stream failure — the reference's
        reconnecting path (`fsm.go:69-80`; source reconnect loops live in
        each client, e.g. `pkg/postgres/source.go:101-179` keepalive
        handling). The dead query's exception is reconciled into ``error``
        first, then error → reconnecting → streaming; exhausted attempts
        land back in error with ``last_error`` set. Offsets resume from the
        checkpoint, so the failed (uncommitted) batch replays and nothing
        is lost. With ``verify_drain`` each attempt also drains the
        available backlog before declaring streaming — a start that
        succeeds but dies on its first batch counts as a failed attempt
        (only safe on bounded sources; a busy Kafka topic never drains)."""
        import time

        st = self.state  # reconciles a dead-with-exception query into error
        if st not in ("error",):
            if st in ("streaming", "paused"):
                return self.query  # type: ignore[return-value] — alive
            raise RuntimeError(f"reconnect from state {st!r} (need error)")
        self.fsm.transition("reconnecting")
        delay = backoff_s
        last: Exception | None = None
        for attempt in range(max_attempts):
            if attempt:  # back off BEFORE each retry, never after the last
                time.sleep(delay)
                delay *= 2
            try:
                q = self.start()  # reconnecting → streaming on success
                if verify_drain:
                    q.processAllAvailable()
                    if not q.isActive:
                        raise RuntimeError(
                            str(q.exception() or "query died during drain")
                        )
                return q
            except Exception as e:  # noqa: BLE001 — every failure class
                # (source gone, corrupt segment, sink error) retries alike
                last = e
                self.last_error = str(e)
                self.fsm.force("reconnecting")
        self.fsm.transition("error")
        raise RuntimeError(
            f"reconnect failed after {max_attempts} attempts: {last}"
        ) from last

    def process_available(self) -> None:
        """Drain everything currently available (test/batch-drain helper)."""
        if self.query is not None:
            self.query.processAllAvailable()
