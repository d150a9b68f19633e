"""SparkSession factory for the engine.

The reference (turbolytics/librarian) is a single-threaded Go process
(`internal/archiver/archiver.go:90-107`); our execution substrate is Spark, so the
session is where scale policy lives: AQE for runtime re-planning (join strategy
switches, skew-join splitting, partition coalescing), UTC session timezone so results
are comparable against a DuckDB oracle, and Arrow for any Python-side exchange.

Every session conf is written once, here: ``SESSION_CONFS`` (the correctness and
engine profile) and ``ROCKSDB_STATE_CONFS``. ``get_spark`` builds with the profile and
``operators.registry.tune_session`` applies it to a caller's session; every
operator in this package is expressed declaratively so Catalyst picks physical
strategy per-cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = [
    "get_spark",
    "CORRECTNESS_CONFS",
    "SESSION_CONFS",
    "ROCKSDB_STATE_CONFS",
]

# local parallelism: the master's core count and the shuffle width
_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Correctness-critical confs: a session without them returns wrong results,
# not slow ones (the class of hidden-conf bug scripts/driver_sim.py exists
# to catch). load_table also sets them defensively.
#   - timeZone UTC: DuckDB-oracle timestamps are UTC-naive; any other TZ
#     drifts every timestamp-typed result.
#   - nanosAsLong: parquet INT64 TIMESTAMP(NANOS) is otherwise an illegal
#     type for the vectorized reader.
#   - inferTimestampNTZ off: µs-without-UTC-flag timestamps otherwise
#     surface as TIMESTAMP_NTZ, which cannot cast to numeric.
#   - arrow: every mapInPandas/toPandas boundary assumes Arrow batching.
CORRECTNESS_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# The engine's runtime session profile, written once: get_spark builds with
# it, operators.registry.tune_session applies it to the caller's session
# before every registered query (`__spark_entry__` callers may pass a BARE
# SparkSession with none of get_spark's settings). Every entry is
# runtime-settable.
SESSION_CONFS: dict[str, str] = {
    **CORRECTNESS_CONFS,
    # one shuffle task per local core; a bare session's 200 is ~170 empty
    # post-shuffle tasks of pure scheduling per query at oracle scale
    # (sf0.01, ~60k rows)
    "spark.sql.shuffle.partitions": _CPUS,
    # AQE on (+ coalesce + skew join): the static plan is always wrong
    # somewhere at scale — AQE re-plans joins from post-shuffle statistics
    # and splits skewed partitions. Spark's defaults already read true;
    # pinned because a caller's session may have turned them off.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst stays at the Spark DEFAULT (true) here: this
    # engine's post-shuffle stages are dominated by per-ROW compute
    # (hash/DP/HOF expression work over small payloads), and coalescing
    # them to the advisory byte size serializes that work. Measured over
    # the FULL 292-query registry (interleaved same-session A/B,
    # best-of-3 per arm): byte-based coalescing is 1.19x slower in
    # total — 208 queries >10% worse, 9 better.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # allow shuffled-hash join when the planner's size gate passes
    # (guide §3.1/§9): SHJ skips both sides' sorts; the planner only
    # picks it when the build side is provably small per partition, and
    # AQE additionally converts SMJ->SHJ at runtime when every
    # post-shuffle partition is under the 64 MB local-map threshold —
    # a per-partition bound, so it stays safe at any input scale, and SMJ
    # remains the fallback whenever the gate fails. Measured (interleaved
    # same-session A/B, 11 SMJ-heavy queries): 0.871x total, every query
    # faster (0.74-0.92x).
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64MB",
}

# RocksDB-backed streaming state, for keyed state that outgrows executor
# heap (the default HDFS-backed provider keeps every key in JVM memory;
# RocksDB spills to local disk and snapshots to the checkpoint). Changelog
# checkpointing uploads per-batch deltas instead of full snapshots: O(delta)
# instead of O(state) checkpoint traffic on a multi-TB dedup/session store.
# A per-query session conf — set it before starting the query.
ROCKSDB_STATE_CONFS: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def get_spark(
    app_name: str = "librarian-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession: ``SESSION_CONFS``, the
    static settings a running session cannot change (UI off, driver heap)
    and ``extra_conf`` on top. ``master`` defaults to
    ``local[$SPARK_GRAFT_CPUS]``."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{_CPUS}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in {**SESSION_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

