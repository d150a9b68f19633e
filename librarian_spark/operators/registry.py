"""Query/operator registry.

Every implemented operator registers here with (a) a Spark implementation
``(spark, sf_dir) -> DataFrame`` and (b) an equivalent ANSI-SQL oracle string for
DuckDB, or ``None`` for genuinely non-SQL-expressible operators (the driver then
records a weaker rows-only check).

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over this registry.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from librarian_spark.session import SESSION_CONFS

__all__ = ["QuerySpec", "REGISTRY", "register", "query", "tune_session"]


def tune_session(spark: SparkSession) -> None:
    """Apply ``session.SESSION_CONFS`` to an externally built session —
    ``__spark_entry__`` callers may run a registered query on a bare
    SparkSession."""
    for k, v in SESSION_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — a locked/readonly conf never aborts a query
            pass


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    # the implementation WITHOUT the tune_session wrapper — for callers (plan
    # tests) that need full control of session conf while building the plan
    raw_fn: Callable[[SparkSession, str], DataFrame] | None = None


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, fn, oracle: str | None, doc: str = "") -> None:
    if name in REGISTRY:
        raise ValueError(f"duplicate query name: {name}")

    @functools.wraps(fn)
    def tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
        tune_session(spark)
        return fn(spark, sf_dir)

    REGISTRY[name] = QuerySpec(name, tuned, oracle, doc, raw_fn=fn)


def query(name: str, oracle: str | None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame query implementation."""

    def deco(fn):
        register(name, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module so registrations run; return the registry."""
    from librarian_spark.operators import (  # noqa: F401
        cdc,
        dedup,
        multimodal,
        pipeline,
        relational,
        similarity,
        text,
    )

    return REGISTRY
