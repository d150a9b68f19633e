"""Streaming window / stateful operators (SURVEY §2C S11–S14).

The reference has NO event-time semantics — events pass through one at a time in
arrival order (`/root/reference/pkg/replicator/replicator.go:254-271`). These are
the declared extensions a 100 TB streaming deployment needs, all built on
Structured Streaming primitives:

- S11 watermarks: bounded state under late data (`withWatermark`)
- S12 tumbling/sliding/session event-time windows
- S13 stateful dedup (`dropDuplicatesWithinWatermark`) and custom per-key state
  (`applyInPandasWithState`)
- S14 late-data policy: rows older than watermark are dropped by the engine;
  window results finalize (append mode) once the watermark passes window end.

State-at-scale note: with multi-TB state, apply
``librarian_spark.session.ROCKSDB_STATE_CONFS`` before starting the query and
size ``spark.sql.shuffle.partitions`` to spread state; all operators here key
their state by (window/user) so state partitioning follows the shuffle key.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from librarian_spark.functions.numeric import dsum

__all__ = [
    "tumbling_counts",
    "sliding_counts",
    "session_windows",
    "dedup_within_watermark",
    "running_totals_stateful",
    "stream_static_enrich",
    "stream_stream_join",
]


def tumbling_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """S12: tumbling event-time window aggregation with an S11 watermark.

    Append-mode safe: a window's row is emitted exactly once, after the
    watermark passes its end; state for closed windows is dropped (bounded by
    |window| / |slide| × |keys|, independent of stream length).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("wstart"),
            F.col("w.end").alias("wend"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """S12: sliding (hopping) window — each event lands in window/slide buckets."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), "user_id", "n")
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """S12: session windows — dynamic-length windows that close after ``gap`` of
    per-user inactivity (the streaming twin of batch q30_sessionization)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("session_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "10 minutes"
) -> DataFrame:
    """S13: stateful exact dedup with bounded state — duplicates arriving within
    the watermark horizon are dropped; state for keys older than the watermark is
    evicted. This is how at-least-once CDC delivery (the reference can re-deliver
    after crash, `replicator.go:267-275`) becomes effectively-once downstream:
    dedup on a position/event id."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


_STATE_SCHEMA = "total_value double, n long"
_OUTPUT_SCHEMA = "user_id long, total_value double, n long"


def running_totals_stateful(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """S13: custom per-key state via applyInPandasWithState — a running
    (value-sum, count) per user across micro-batches, the minimal shape of any
    bespoke stateful operator (counters, CDC materialization, fraud windows).

    State is one (double, long) per user — scales to billions of keys under the
    RocksDB state store. The update function is self-contained (no repo-module
    references; executor workers don't have the package on their path).
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total, n = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            total += float(pdf["value"].sum())
            n += int(len(pdf))
        state.update((total, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_value": [total], "n": [n]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich each streaming event with a dimension table.

    The static side is re-read per micro-batch (so slowly-changing dims pick up
    updates) and BROADCAST — the stream side never shuffles, which is the only
    sane plan when the stream is 100 TB/day and the dim is megabytes. No
    watermark needed: stream-static inner/left joins are stateless.
    """
    return events.join(F.broadcast(dim), "user_id", "left")


def stream_stream_join(
    clicks: DataFrame,
    errors: DataFrame,
    watermark: str = "10 minutes",
    within_minutes: int = 5,
) -> DataFrame:
    """Stream-stream time-bounded join: pair each click with errors by the same
    user within ``within_minutes`` AFTER the click.

    Both sides carry a watermark and the join condition bounds event time in
    both directions, so the engine can size state exactly: each side buffers
    only rows inside watermark + interval, and evicts as the watermark
    advances. Without the time bound the state grows without limit — the
    classic unbounded-state bug; with it, state is O(rate × horizon)
    regardless of stream length (S11 applied to joins).
    """
    c = clicks.withWatermark("ts", watermark).alias("c")
    e = errors.withWatermark("ts", watermark).alias("e")
    cond = (
        (F.col("c.user_id") == F.col("e.user_id"))
        & (F.col("e.ts") >= F.col("c.ts"))
        & (F.col("e.ts") <= F.col("c.ts") + F.expr(f"INTERVAL {within_minutes} MINUTES"))
    )
    return c.join(e, cond, "inner").select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("c.ts").alias("click_ts"),
        F.col("e.event_id").alias("error_id"),
        F.col("e.ts").alias("error_ts"),
    )
