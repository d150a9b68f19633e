"""Streaming SCD type-2 materialization — versioned history from a CDC stream.

`materialize.py` keeps the LATEST row per key (log compaction); this module
keeps EVERY version as an effective-dated history row — the streaming
counterpart of the batch ``cdc_scd2`` operator, and the standard consumer
shape for dimension tables fed by a replication stream (the reference
produces the stream, `/root/reference/pkg/replicator/replicator.go:215-284`;
applying it is the missing consumer half).

Per micro-batch of parsed Debezium-envelope changes:

1. order the batch per key by ``(ts_ms, lsn)`` — one window pass yields, for
   every change, its position in the key's chain and the NEXT change's
   timestamp (which closes its interval),
2. non-delete changes become new version rows
   ``(payload, version, valid_from_ms, valid_to_ms, is_current)``; a delete
   closes the previous interval without opening one (the key has no current
   row until a later re-insert),
3. the previously-current state row of every touched key is closed at the
   key's FIRST batch timestamp; version numbers continue from the key's
   max version across the whole state (history survives deletes),
4. the merged state is written to ``state_dir/v=<batch_id>`` and the
   ``_LATEST`` pointer advances atomically — the same exactly-once-replay
   contract (and helper code) as :mod:`librarian_spark.streaming.materialize`.

Scale: one key-partitioned window over the (small) batch plus one key join
against state; state rewrite is the filesystem formulation — on a 100 TB
dimension swap step 4 for a transactional-format MERGE keyed on
``(key, is_current)``; steps 1-3 and the idempotency contract are unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window as W

from librarian_spark.streaming.materialize import (
    _already_applied,
    _commit_version,
    _read_latest,
    _schema,
    _start_versioned_sink,
)

__all__ = ["SCD2Config", "scd2_materialize", "read_history"]


@dataclass
class SCD2Config:
    state_dir: str
    checkpoint_dir: str
    key_cols: list[str]
    row_ddl: str  # payload DDL, e.g. "user_id long, value double"
    delete_op: str = "d"
    order_cols: tuple[str, str] = ("ts_ms", "lsn")
    trigger: dict = field(default_factory=dict)
    keep_versions: int = 2

    def history_ddl(self) -> str:
        return (
            f"{self.row_ddl}, version long, valid_from_ms long, "
            "valid_to_ms long, is_current boolean"
        )


def read_history(spark: SparkSession, cfg: SCD2Config) -> DataFrame:
    """Full SCD2 history table (empty with the declared schema if none).

    Schema evolution: history written under an older, narrower ``row_ddl``
    backfills the missing payload columns as typed NULLs (what those
    versions' source events carried), and columns no longer declared are
    dropped — so a restart after the change stream grew (or shed) a column
    keeps merging, and the next commit rewrites state in the new layout."""
    return _read_latest(spark, cfg.state_dir, _schema(cfg.history_ddl()))


def _apply_batch(
    spark: SparkSession, cfg: SCD2Config, batch_df: DataFrame, batch_id: int
) -> None:
    if _already_applied(cfg.state_dir, batch_id):
        return
    ts, ordc = cfg.order_cols
    after = F.from_json("after_json", cfg.row_ddl).alias("after_row")
    before = F.from_json("before_json", cfg.row_ddl).alias("before_row")
    typed = batch_df.select("op", ts, ordc, after, before)
    keys = [
        F.coalesce(F.col(f"after_row.{k}"), F.col(f"before_row.{k}")).alias(k)
        for k in cfg.key_cols
    ]
    # at-least-once delivery can duplicate an event inside one batch; without
    # this, the duplicate would become a phantom zero-length version and
    # permanently inflate the version counter
    keyed = typed.select("op", ts, ordc, F.col("after_row"), *keys).dropDuplicates(
        [*cfg.key_cols, ts, ordc]
    )

    w = W.partitionBy(*cfg.key_cols).orderBy(ts, ordc)
    chained = keyed.select(
        "op",
        ts,
        "after_row",
        *cfg.key_cols,
        F.lead(ts).over(w).alias("_next_ts"),
        # version rank among the key's non-delete changes in this batch
        F.sum(F.when(F.col("op") != cfg.delete_op, 1).otherwise(0))
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .alias("_vrank"),
    ).localCheckpoint(eager=False)  # one window pass serves new-rows and
    # closes (lazy: the merge write materializes it — no extra per-batch job)

    prev = read_history(spark, cfg)
    prev_cur = prev.filter(F.col("is_current"))
    prev_hist = prev.filter(~F.col("is_current"))

    # versions continue from the key's max across the WHOLE state: history
    # survives deletes, so the max may live on a non-current row
    vmax = prev.groupBy(*cfg.key_cols).agg(F.max("version").alias("_vmax"))

    touched = chained.groupBy(*cfg.key_cols).agg(F.min(ts).alias("_first_ts"))
    # Contract: the stream is per-key event-time monotone (true for an
    # LSN-ordered replication slot, the reference's source). A batch event
    # EARLIER than the key's history high-watermark — the max of every
    # valid_from AND valid_to, so closed/deleted keys are guarded too, not
    # just keys with an open row — would write a negative or overlapping
    # interval: a silently corrupted history. Reject it loudly; genuinely
    # late data needs an explicit repair/backfill path, not a quiet merge.
    hwm = prev.groupBy(*cfg.key_cols).agg(
        F.max(
            F.greatest(
                F.col("valid_from_ms"),
                F.coalesce(F.col("valid_to_ms"), F.col("valid_from_ms")),
            )
        ).alias("_hwm")
    )
    n_late = (
        touched.join(hwm, cfg.key_cols)
        .filter(F.col("_first_ts") < F.col("_hwm"))
        .count()
    )
    if n_late:
        raise ValueError(
            f"batch {batch_id} contains {n_late} key(s) with events earlier "
            "than the key's history high-watermark (out-of-order change "
            "log); refusing to write negative/overlapping intervals — "
            "repair or re-order the source, or rebuild the state dir from "
            "the full log"
        )
    closed_prev = (
        prev_cur.join(touched, cfg.key_cols)
        .withColumn("valid_to_ms", F.col("_first_ts"))
        .withColumn("is_current", F.lit(False))
        .drop("_first_ts")
    )
    untouched_cur = prev_cur.join(touched.select(*cfg.key_cols), cfg.key_cols, "left_anti")

    new_rows = (
        chained.filter(F.col("op") != cfg.delete_op)
        .join(vmax, cfg.key_cols, "left")
        .select(
            F.col("after_row.*"),
            (F.coalesce(F.col("_vmax"), F.lit(0)) + F.col("_vrank")).alias("version"),
            F.col(ts).alias("valid_from_ms"),
            F.col("_next_ts").alias("valid_to_ms"),
            F.col("_next_ts").isNull().alias("is_current"),
        )
    )

    merged = (
        prev_hist.unionByName(closed_prev)
        .unionByName(untouched_cur)
        .unionByName(new_rows)
    )
    _commit_version(cfg.state_dir, batch_id, merged, cfg.keep_versions)


def scd2_materialize(
    spark: SparkSession, envelope_stream: DataFrame, cfg: SCD2Config
) -> StreamingQuery:
    """Start SCD2 materialization over a PARSED envelope stream (the output
    of :func:`librarian_spark.streaming.envelope.parse_envelope`)."""
    return _start_versioned_sink(envelope_stream, cfg, _apply_batch)
