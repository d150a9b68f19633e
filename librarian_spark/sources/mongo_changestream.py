"""Mongo change-stream decode — the reference's second live CDC source.

The reference consumes a MongoDB change stream and converts each event
document into its Debezium-style Event
(`/root/reference/pkg/mongo/source.go:49-234`): ``operationType``
insert→``c``, update/replace→``u``, delete→``d`` (anything else → ``r``),
``fullDocument``/``fullDocumentBeforeChange`` as after/before images,
collection standing in for both schema and table (Mongo has no schemas),
and the base64 resume token as the opaque resumable position.

The sandbox has no MongoDB, but the change-stream EVENT SHAPE is public
and fixed (the MongoDB change-events specification): this module decodes
recorded change-stream documents — one **relaxed Extended JSON** document
per line in ``.cstream`` segment files, exactly what a recorder draining
``collection.watch()`` writes at segment rotation — into the same typed
``CDC_ROW_SCHEMA`` rows as the ``cdc_jsonl`` and ``pgoutput`` sources, so
the whole downstream (envelopes, replicate drain, SCD2, materialize) runs
unchanged on raw change-stream input.

Two deliberate improvements over the reference, same rationale as
pgoutput: events are stamped with the event's own ``clusterTime`` (the
oplog timestamp — deterministic and replayable) where the reference
stamps wall-clock ``time.Now()``; and the resume-token position is the
token's ``_data`` string verbatim rather than a re-encoding.

Extended JSON handling: the decoder unwraps the numeric/date wrapper
types a recorder actually emits (``$numberLong``/``$numberInt``/
``$numberDouble``/``$date``/``$oid``/``$timestamp``) into plain JSON
values, recursively — mirroring how the reference's ``bson.M`` values
marshal to JSON. Unknown ``$``-wrappers pass through untouched (loud in
parity rather than silently coerced).
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, DataSourceStreamReader

from librarian_spark.sources import segments as _seg
from librarian_spark.sources.cdc_datasource import CDC_ROW_SCHEMA

__all__ = [
    "OP_MAP",
    "unwrap_extended_json",
    "decode_change_event",
    "decode_segment",
    "MongoChangeStreamDataSource",
    "register",
]

FORMAT_NAME = "mongo_changestream"

# operationType → Debezium op (`pkg/mongo/source.go:189-201`)
OP_MAP = {"insert": "c", "update": "u", "replace": "u", "delete": "d"}


def unwrap_extended_json(v):
    """Relaxed-Extended-JSON wrapper types → plain JSON values."""
    if isinstance(v, dict):
        if len(v) == 1:
            ((k, inner),) = v.items()
            if k in ("$numberLong", "$numberInt"):
                return int(inner)
            if k == "$numberDouble":
                return float(inner)
            if k == "$oid":
                return inner
            if k == "$date":
                return unwrap_extended_json(inner)
            if k == "$timestamp":
                # oplog timestamp {t: seconds, i: ordinal} → epoch millis,
                # folding the ordinal into the sub-second field so two
                # events in the same oplog second keep their order (dropping
                # i would tie them on ts_ms and force downstream
                # max_by(struct(ts_ms, ...)) onto lexicographic comparison
                # of opaque resume-token strings). i is clamped at 999 —
                # >999 ops in one second would still tie, which matches the
                # millisecond grain the column promises.
                return int(inner["t"]) * 1000 + min(int(inner["i"]), 999)
        return {k: unwrap_extended_json(x) for k, x in v.items()}
    if isinstance(v, list):
        return [unwrap_extended_json(x) for x in v]
    return v


def decode_change_event(doc: dict, seq: int):
    """One change-stream document → one CDC_ROW_SCHEMA tuple.

    Non-CRUD event types (invalidate, drop, …) are EMITTED as op ``r`` rows
    with whatever fields they carry — the reference's default branch does
    exactly this (`source.go:199-200` maps unknown types to OpRead and
    returns the event), so filtering is the downstream consumer's choice,
    not the decoder's."""
    op = OP_MAP.get(doc.get("operationType"), "r")
    ns = doc.get("ns") or {}
    db = ns.get("db")
    coll = ns.get("coll")
    after = doc.get("fullDocument")
    before = doc.get("fullDocumentBeforeChange")
    if op == "d" and before is None:
        # delete events carry only the documentKey unless pre-images are
        # enabled — surface the key as the before image, like consumers do
        before = doc.get("documentKey")
    ts_field = doc.get("clusterTime")
    ts_ms = unwrap_extended_json(ts_field) if ts_field is not None else None
    token = (doc.get("_id") or {}).get("_data")
    return (
        op,
        ts_ms,
        db,
        coll,  # Mongo has no schemas: collection plays schema AND table,
        coll,  # matching the reference (`source.go:225-227`)
        None,  # no LSN concept — the resume token is the position
        _seg.dump_image(unwrap_extended_json(before)),
        _seg.dump_image(unwrap_extended_json(after)),
        token if token is not None else f"?:{seq}",
    )


def decode_segment(path: str, fname: str):
    full = os.path.join(path, fname)
    with open(full, encoding="utf-8") as fh:
        for lineno, line in enumerate(fh):
            line = line.strip()
            if not line:
                continue
            yield decode_change_event(json.loads(line), lineno)


class _MongoReaderMixin:
    exts = (".cstream",)

    def rows_of(self, path: str, fname: str):
        yield from decode_segment(path, fname)


class _MongoBatchReader(_MongoReaderMixin, _seg.SegmentBatchReader):
    """Full-stream replay (backfill path)."""


class _MongoStreamReader(_MongoReaderMixin, _seg.SegmentStreamReader):
    """Micro-batch reader — offset/pause semantics shared via segments.py."""


class MongoChangeStreamDataSource(DataSource):
    """``spark.read/readStream.format("mongo_changestream").option("path", dir)``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        return CDC_ROW_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _MongoBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _MongoStreamReader(self.options)


def register(spark) -> None:
    """Idempotently register the format (by-value pickling — executors must
    not need this repo importable)."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(_seg)
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(MongoChangeStreamDataSource)
