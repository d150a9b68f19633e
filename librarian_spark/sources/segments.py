"""Shared scaffolding for segment-directory DataSources.

Both CDC sources (``cdc_jsonl`` — envelope JSONL segments — and
``pgoutput`` — raw logical-replication WAL frames) share one transport
contract: an append-only directory of immutable segment files whose
lexicographic name order IS the stream order, consumed as "first K files"
offsets with one executor-parallel input partition per segment. This module
holds that contract ONCE — the per-format readers supply only the file
extension set and the per-segment row decoder — so offset semantics and the
true-pause protocol can never diverge between formats.

TRUE PAUSE (the reference FSM's suspended state,
`/root/reference/pkg/replicator/fsm.go:50-129`): when the ``pause_marker``
option names a file that exists, ``latestOffset`` re-returns its last
answer instead of the directory count — the query stays active with its
checkpoint and state warm, observing no new data until the marker is
removed. The freeze needs one prior poll to know the held position, so
pausing applies to a LIVE query; the Replicator clears stale markers on
start so a fresh query can never move offsets backward or report paused
while draining backlog.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

__all__ = [
    "dump_image",
    "segment_files",
    "SegmentPartition",
    "SegmentBatchReader",
    "SegmentStreamReader",
]


# one encoder for every image: json.dumps with non-default arguments builds
# a new JSONEncoder per call
_encode_image = json.JSONEncoder(separators=(",", ":"), sort_keys=True).encode


def dump_image(v) -> str | None:
    """A before/after row image as JSON text the way Go marshals a
    ``map[string]interface{}`` (sorted keys, no whitespace —
    `internal/integrations/kafka/repository.go:143`); no image stays
    ``None``."""
    return None if v is None else _encode_image(v)


def segment_files(path: str, exts: tuple[str, ...]) -> list[str]:
    """Sorted segment list — name order is stream order (producers name
    segments monotonically, like WAL segment names)."""
    if not os.path.isdir(path):
        return []
    return sorted(f for f in os.listdir(path) if f.endswith(exts))


@dataclass
class SegmentPartition(InputPartition):
    fname: str


class _SegmentSourceBase:
    """Option parsing shared by the batch and stream readers."""

    exts: tuple[str, ...] = ()

    def __init__(self, options):
        self.path = options["path"]
        self.pause_marker = options.get("pause_marker") or ""
        self._init(options)

    def _init(self, options) -> None:
        """Per-format extra options (override as needed)."""

    def rows_of(self, path: str, fname: str):
        """Decode one segment file into schema-shaped tuples or Arrow record
        batches (override)."""
        raise NotImplementedError

    def _files(self) -> list[str]:
        return segment_files(self.path, self.exts)


class SegmentBatchReader(_SegmentSourceBase, DataSourceReader):
    """Full-directory replay (backfill / snapshot-rebuild path)."""

    def partitions(self):
        return [SegmentPartition(f) for f in self._files()]

    def read(self, partition: SegmentPartition):
        yield from self.rows_of(self.path, partition.fname)


class SegmentStreamReader(_SegmentSourceBase, DataSourceStreamReader):
    """Micro-batch reader: offset = number of fully-consumed segment files.

    ``latestOffset`` snapshots the directory (or holds, while paused);
    ``partitions(start, end)`` is one partition per new segment;
    ``commit`` is a no-op because segments are retained (replay from any
    offset — the property the reference gets from Postgres slot retention).
    """

    _last: int | None = None

    def initialOffset(self) -> dict:
        return {"nfiles": 0}

    def latestOffset(self) -> dict:
        if (
            self.pause_marker
            and self._last is not None
            and os.path.exists(self.pause_marker)
        ):
            return {"nfiles": self._last}
        self._last = len(self._files())
        return {"nfiles": self._last}

    def partitions(self, start: dict, end: dict):
        files = self._files()
        return [
            SegmentPartition(f) for f in files[start["nfiles"] : end["nfiles"]]
        ]

    def read(self, partition: SegmentPartition):
        yield from self.rows_of(self.path, partition.fname)

    def commit(self, end: dict) -> None:
        pass  # segments retained; Spark's WAL owns the committed offset

    def stop(self) -> None:
        pass
