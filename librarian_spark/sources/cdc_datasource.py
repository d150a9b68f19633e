"""Custom Spark 4 Python DataSource: direct CDC ingestion without the Kafka hop.

The reference's streaming source contract is pull-based with an opaque resumable
position: ``Source.Next(ctx) (Event, error)`` + ``Checkpoint{Position []byte}``
(`/root/reference/pkg/replicator/replicator.go:46-60`,
`pkg/replicator/checkpoint.go:14-18`). Its transport is a Postgres replication
slot or a Mongo change stream; both reduce to "an append-only, position-ordered
stream of Debezium-envelope documents".

This module implements that contract as a **PySpark DataSource** (Spark 4 Python
DataSource API): the stream is a directory of JSONL segment files — each line
one Debezium envelope, exactly the bytes the reference produces to Kafka
(`internal/integrations/kafka/repository.go:142-183`) — treated as immutable
once written, like WAL segments or the reference's own batched parquet files
(`internal/parquet/preserver.go:79-83`). Offsets are ``{"nfiles": K}`` ("first
K segment files consumed"), mirroring the reference's monotonic LSN/resume-token
position (`pkg/postgres/source.go:597-605`); Spark's checkpoint WAL persists
them, replacing ``FilesystemCheckpointer`` (`pkg/replicator/checkpoint.go:57-126`).

Scale design: one InputPartition per unconsumed segment file, so a micro-batch
fans out across executors file-parallel; per-row work is json.loads only (no
Python UDF per field), and a segment reaches Spark as one Arrow record batch;
a 1000-executor cluster ingests as many segments concurrently as the batch
contains. The same class serves batch reads (full
directory replay) for backfill.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, DataSourceStreamReader
from pyspark.sql.pandas.types import to_arrow_schema

from librarian_spark.sources import segments as _seg

__all__ = ["CdcJsonlDataSource", "CDC_ROW_SCHEMA", "register"]

FORMAT_NAME = "cdc_jsonl"

# Flattened event row — the typed mirror of `replicator.Event`
# (`pkg/replicator/event.go:30-56`): op/ts_ms/source-coordinates, the
# before/after images as verbatim-equivalent JSON text (schemaless, like the
# reference's map[string]interface{}), and the opaque resumable position.
CDC_ROW_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("db", T.StringType()),
        T.StructField("schema_name", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("before", T.StringType()),
        T.StructField("after", T.StringType()),
        T.StructField("position", T.StringType()),
    ]
)
_ARROW_SCHEMA = to_arrow_schema(CDC_ROW_SCHEMA)


def _segment_batch(path: str, fname: str):
    """Parse one segment file into ONE ``CDC_ROW_SCHEMA`` Arrow record batch
    (none for a segment without events): columns are built as lists and
    converted once, instead of a tuple per event converted field by field."""
    cols = tuple([] for _ in CDC_ROW_SCHEMA)
    op, ts_ms, db, schema, table, lsn, before, after, position = cols
    with open(os.path.join(path, fname), encoding="utf-8") as fh:
        for lineno, line in enumerate(fh):
            line = line.strip()
            if not line:
                continue
            p = json.loads(line).get("payload", {})
            src = p.get("source") or {}
            op.append(p.get("op"))
            ts_ms.append(p.get("ts_ms"))
            db.append(src.get("db"))
            schema.append(src.get("schema"))
            table.append(src.get("table"))
            lsn.append(src.get("lsn"))
            before.append(_seg.dump_image(p.get("before")))
            after.append(_seg.dump_image(p.get("after")))
            position.append(f"{fname}:{lineno}")
    if position:
        yield pa.RecordBatch.from_arrays(list(cols), schema=_ARROW_SCHEMA)


class _CdcReaderMixin:
    exts = (".jsonl", ".json", ".ndjson")

    def rows_of(self, path: str, fname: str):
        yield from _segment_batch(path, fname)


class _CdcBatchReader(_CdcReaderMixin, _seg.SegmentBatchReader):
    """Full-directory replay (backfill / snapshot-rebuild path)."""


class _CdcStreamReader(_CdcReaderMixin, _seg.SegmentStreamReader):
    """Micro-batch reader over envelope JSONL segments — offset semantics
    and the true-pause protocol live in :mod:`.segments`."""


class CdcJsonlDataSource(DataSource):
    """``spark.read/readStream.format("cdc_jsonl").option("path", dir)``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        return CDC_ROW_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _CdcBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _CdcStreamReader(self.options)


def register(spark) -> None:
    """Idempotently register the format with a session.

    The module registers itself for cloudpickle BY-VALUE serialization first:
    Spark's Python workers deserialize the DataSource class in fresh
    interpreters that may not have this repo on ``sys.path`` (any driver
    process launched from another cwd) — by-value pickling removes the import
    dependency entirely.
    """
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(_seg)
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(CdcJsonlDataSource)
