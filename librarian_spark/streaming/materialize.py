"""Streaming CDC materialization — apply a change stream to a keyed table.

The reference moves change events (produce to Kafka and stop,
`/root/reference/pkg/replicator/replicator.go:215-284`); the missing consumer
half of "replace Kafka Connect" is applying those events to a queryable table.
This module is that half: a ``foreachBatch`` sink that merges each micro-batch
of Debezium-envelope events into a versioned parquet state directory.

Semantics per micro-batch:

1. within the batch, reduce to the LAST change per key (``max_by`` over the
   (ts_ms, lsn) change order — same partial-aggregate shape as the batch
   ``cdc_apply`` operator),
2. merge against the previous state BY EVENT ORDER, not batch order: state
   rows carry their winning event's (ts_ms, lsn) watermark, and a max_by over
   prev ∪ batch picks each key's winner — a stale re-delivery arriving in a
   later batch (the at-least-once producer's crash behavior) loses to the
   stored row instead of silently regressing it; surviving winners with
   final op != 'd' are the new state,
3. write the merged state to ``state_dir/v=<batch_id>`` and atomically advance
   the ``_LATEST`` pointer.

Exactly-once on top of at-least-once delivery (the foreachBatch
idempotent-sink contract): the ``_LATEST`` pointer advances only after a
complete version write, so a replayed batch either re-runs against the same
predecessor (crash mid-write — the partial ``v=<id>`` is overwritten) or is
skipped as already-applied (crash after pointer-advance — re-merging would
read ``v=<id>`` while overwriting it). Both paths are pinned by replay tests.
Deletes take their key from the ``before`` image (``after`` is null on
op='d', `pkg/postgres/source.go:327-377`).

Scale: steps 1–2 are one shuffle each on the primary key; the state rewrite is
the simple-and-correct formulation for a filesystem. On a 100 TB table swap
step 3 for a transactional table format's MERGE (Delta/Iceberg) or partition
the state dir and rewrite only partitions containing batch keys — steps 1–2
and the idempotency contract stay identical.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

__all__ = ["MaterializeConfig", "materialize", "read_state"]

_LATEST = "_LATEST"


@dataclass
class MaterializeConfig:
    state_dir: str
    checkpoint_dir: str
    key_cols: list[str]
    row_ddl: str  # DDL of the row payload, e.g. "o_orderkey long, o_totalprice double"
    delete_op: str = "d"
    order_cols: tuple[str, str] = ("ts_ms", "lsn")
    trigger: dict = field(default_factory=dict)
    # versions RETAINED behind the _LATEST pointer (replay/debug window);
    # older v=* dirs are pruned after each commit — without this, state_dir
    # grows O(batches × state size)
    keep_versions: int = 2


def _latest_version(state_dir: str) -> int | None:
    p = os.path.join(state_dir, _LATEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


@functools.lru_cache(maxsize=64)
def _schema(ddl: str) -> StructType:
    """``ddl`` parsed once per process: the per-batch paths read it several
    times, and each ``createDataFrame([], ddl)`` built for its schema alone
    cost 13-34 ms."""
    return StructType.fromDDL(ddl)


def _already_applied(state_dir: str, batch_id: int) -> bool:
    """The replay guard of every versioned-state sink: the pointer only
    advances after a COMPLETE v=<id> write, so pointer == batch_id means this
    exact batch is fully applied — re-merging would read v=<id> while
    overwriting it (a read-under-overwrite crash); skipping is the
    foreachBatch idempotent-sink contract. A pointer AHEAD of the batch id is
    not a replay — it means the stream's checkpoint and this state dir belong
    to different runs (reset/relocated checkpoint), and silently skipping
    would discard every batch until ids catch up: fail loudly instead."""
    latest = _latest_version(state_dir)
    if latest is None or latest < batch_id:
        return False
    if latest == batch_id:
        return True
    raise ValueError(
        f"state dir {state_dir!r} is at version {latest} but the "
        f"stream replayed batch {batch_id}: checkpoint and state dir "
        "are from different runs — point the query at a fresh "
        "state_dir or restore the matching checkpoint"
    )


def _advance_pointer(state_dir: str, version: int) -> None:
    tmp = os.path.join(state_dir, _LATEST + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(state_dir, _LATEST))  # atomic, like the
    # reference's checkpoint temp-file+rename (checkpoint.go:103-117)


def _prune_versions(state_dir: str, latest: int, keep: int) -> None:
    """Drop v=* dirs older than the ``keep`` most recent behind ``latest``."""
    import shutil

    versions = sorted(
        int(d[2:])
        for d in os.listdir(state_dir)
        if d.startswith("v=") and d[2:].isdigit()
    )
    for v in versions:
        if v < latest and v not in versions[-(keep + 1) :]:
            shutil.rmtree(os.path.join(state_dir, f"v={v}"), ignore_errors=True)


def _commit_version(
    state_dir: str, batch_id: int, merged: DataFrame, keep: int
) -> None:
    """Write ``merged`` as ``v=<batch_id>``, then advance the pointer and
    prune old versions — the pointer moves only after a complete write."""
    merged.write.mode("overwrite").parquet(os.path.join(state_dir, f"v={batch_id}"))
    _advance_pointer(state_dir, batch_id)
    _prune_versions(state_dir, batch_id, keep)


def _read_latest(
    spark: SparkSession, state_dir: str, declared: StructType
) -> DataFrame:
    """The latest committed version (empty with ``declared`` if none), with
    every declared column present.

    Additive schema evolution: a restart with a WIDENED DDL (the change
    stream grew a column — the standard Debezium source-DDL scenario) must
    still read state written under the old layout. Missing columns backfill
    as typed NULLs — exactly what those rows' source events carried — and
    the next commit rewrites state in the new layout. Columns no longer
    declared are dropped by the caller's select."""
    v = _latest_version(state_dir)
    if v is None:
        return spark.createDataFrame([], declared)
    df = spark.read.parquet(os.path.join(state_dir, f"v={v}"))
    for f_ in declared.fields:
        if f_.name not in df.columns:
            df = df.withColumn(f_.name, F.lit(None).cast(f_.dataType))
    return df


def _start_versioned_sink(
    envelope_stream: DataFrame, cfg, apply_batch
) -> StreamingQuery:
    """Start the ``foreachBatch`` query of a versioned-state sink: ``cfg``
    carries ``state_dir``, ``checkpoint_dir`` and ``trigger``, and
    ``apply_batch(spark, cfg, batch_df, batch_id)`` merges one batch."""
    os.makedirs(cfg.state_dir, exist_ok=True)
    # each batch plans on its OWN session — the one the query cloned at
    # start, so the batch keeps the width the query started with
    writer = (
        envelope_stream.writeStream.foreachBatch(
            lambda bdf, bid: apply_batch(bdf.sparkSession, cfg, bdf, bid)
        )
        .option("checkpointLocation", cfg.checkpoint_dir)
        .outputMode("update")
    )
    if cfg.trigger:
        writer = writer.trigger(**cfg.trigger)
    return writer.start()


def read_state(spark: SparkSession, cfg: MaterializeConfig) -> DataFrame:
    """Current materialized table (empty with the declared schema if none).
    Internal order-tracking columns are stripped; use ``_read_state_raw`` in
    the merge path."""
    df = _read_state_raw(spark, cfg)
    return df.drop("_ts_ms_", "_ordc_")


def _read_state_raw(spark: SparkSession, cfg: MaterializeConfig) -> DataFrame:
    """State WITH the per-row order watermark columns the merge needs.
    Rows written by a pre-watermark layout get LONG_MIN (any event beats
    them — the old last-batch-wins behavior, but only for those rows)."""
    declared = _schema(cfg.row_ddl)
    df = _read_latest(spark, cfg.state_dir, declared)
    lo = -(1 << 63)
    for c in ("_ts_ms_", "_ordc_"):
        if c not in df.columns:
            df = df.withColumn(c, F.lit(lo).cast("long"))
    # dropped columns (a NARROWED row_ddl) disappear here too — state always
    # reads in exactly the declared layout
    return df.select(*declared.names, "_ts_ms_", "_ordc_")


def _apply_batch(
    spark: SparkSession, cfg: MaterializeConfig, batch_df: DataFrame, batch_id: int
) -> None:
    if _already_applied(cfg.state_dir, batch_id):
        return
    ts, ordc = cfg.order_cols
    after = F.from_json("after_json", cfg.row_ddl).alias("after_row")
    before = F.from_json("before_json", cfg.row_ddl).alias("before_row")
    typed = batch_df.select("op", ts, ordc, after, before)
    # key comes from after (c/u/r) or before (d)
    keys = [
        F.coalesce(F.col(f"after_row.{k}"), F.col(f"before_row.{k}")).alias(k)
        for k in cfg.key_cols
    ]
    keyed = typed.select("op", ts, ordc, F.col("after_row"), *keys)
    last = keyed.groupBy(*cfg.key_cols).agg(
        F.max_by(F.struct("op", "after_row"), F.struct(ts, ordc)).alias("fin"),
        F.max(F.struct(F.col(ts).alias("t"), F.col(ordc).alias("o"))).alias("_ord"),
    )
    # Cross-batch ordering: the source is at-least-once (the reference
    # re-produces tail events after a crash — replicator.go:267-275), so a
    # LATER batch can carry an OLDER event for a key already in state.
    # State rows therefore keep their winning event's (ts, ordc) watermark,
    # and the merge is a max_by over prev ∪ batch BY EVENT ORDER — batch
    # arrival order never overrides event order (a stale re-delivery loses
    # to the stored row instead of silently regressing it). Deletes win by
    # the same ordering; a removed key keeps no tombstone, so an even older
    # re-delivery after the delete's batch would reinsert — production
    # retention of delete tombstones is the transactional-format upgrade.
    payload_cols = _schema(cfg.row_ddl).names
    batch_cand = last.select(
        *cfg.key_cols,
        F.col("fin.op").alias("_op_"),
        F.col("fin.after_row").alias("_row_"),
        F.col("_ord.t").alias("_ts_ms_"),
        F.col("_ord.o").alias("_ordc_"),
    )
    prev_cand = _read_state_raw(spark, cfg).select(
        *cfg.key_cols,
        F.lit("u").alias("_op_"),  # live row ≡ an upsert at its stored order
        F.struct(*[F.col(c) for c in payload_cols]).alias("_row_"),
        "_ts_ms_",
        "_ordc_",
    )
    winners = (
        prev_cand.unionByName(batch_cand)
        .groupBy(*cfg.key_cols)
        .agg(
            F.max_by(
                F.struct("_op_", "_row_", "_ts_ms_", "_ordc_"),
                F.struct("_ts_ms_", "_ordc_"),
            ).alias("w")
        )
    )
    merged = winners.filter(F.col("w._op_") != cfg.delete_op).select(
        F.col("w._row_.*"),
        F.col("w._ts_ms_").alias("_ts_ms_"),
        F.col("w._ordc_").alias("_ordc_"),
    )
    _commit_version(cfg.state_dir, batch_id, merged, cfg.keep_versions)


def materialize(
    spark: SparkSession, envelope_stream: DataFrame, cfg: MaterializeConfig
) -> StreamingQuery:
    """Start the materialization query over a PARSED envelope stream (the
    output of :func:`librarian_spark.streaming.envelope.parse_envelope`)."""
    return _start_versioned_sink(envelope_stream, cfg, _apply_batch)
