"""Correctness checks for the benchmark's outputs.

Each checker compares what the program wrote against a computation made apart
from it: pyarrow reads and generation-time sums (snapshot) and a Python replay of
the generated change stream (cdc). The registry workload's results are
compared with their DuckDB oracle SQL by the repository's own oracle harness,
``tests/oracle.py``. None of them compares against a stored copy of earlier
output. Each returns a list of problems; an empty list means the output is
correct.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

__all__ = ["check_snapshot", "check_archive", "check_state"]


def _data_files(out_dir: str) -> list[str]:
    """Committed parquet files of a Spark output dir, in part order."""
    return sorted(f for f in os.listdir(out_dir)
                  if f.endswith(".parquet") and not f.startswith(("_", ".")))


def check_snapshot(out_dir: str, sums: dict, batch_size: int) -> list[str]:
    """The snapshot's files and ``_catalog.json`` against the generated input."""
    problems: list[str] = []
    files = _data_files(out_dir)
    with open(os.path.join(out_dir, "_catalog.json"), encoding="utf-8") as fh:
        cat = json.load(fh)
    n = sums["rows"]
    if not (cat["num_source_records"] == cat["num_records_processed"] == n):
        problems.append(f"catalog counts {cat['num_source_records']}/"
                        f"{cat['num_records_processed']}, generated {n}")
    if not cat["success"]:
        problems.append("catalog success is false")
    got = {k: 0 for k in sums if k != "rows"}
    rows = 0
    last = None
    for f in files:
        t = pq.read_table(os.path.join(out_dir, f))
        rows += t.num_rows
        if t.num_rows > batch_size:
            problems.append(f"{f}: {t.num_rows} rows > batch size {batch_size}")
        if t.num_rows == 0:
            continue
        nulls = [c for c in ("serial_number", "list_year", "date_recorded",
                             "assessed_value", "sale_amount", "sales_ratio")
                 if t.column(c).null_count]
        if nulls:
            problems.append(f"{f}: nulls in {nulls}")
        serial = t.column("serial_number").to_numpy()
        if (last is not None and serial[0] <= last) or bool(
            np.any(np.diff(serial) <= 0)
        ):
            problems.append(f"{f}: serial_number does not ascend in part order")
        last = serial[-1]
        got["serial_number"] += int(serial.sum(dtype=np.int64))
        got["list_year"] += int(t.column("list_year").to_numpy().sum(dtype=np.int64))
        # date32 as int32 is days since 1970-01-01, as generated
        got["date_recorded"] += int(t.column("date_recorded").cast(pa.int32())
                                    .to_numpy().sum(dtype=np.int64))
        for col in ("assessed_value", "sale_amount", "sales_ratio"):
            # an exact Decimal sum, in cents
            got[f"{col}_cents"] += int(pc.sum(t.column(col)).as_py() * 100)
    if rows != n:
        problems.append(f"{rows} rows in files, generated {n}")
    for k, v in got.items():
        if v != sums[k]:
            problems.append(f"sum({k}) = {v}, generated {sums[k]}")
    return problems


def check_archive(archive_dir: str, events: list[tuple]) -> list[str]:
    """Exactly one archived row per generated event, with the generated
    op/lsn/before/after text."""
    rows: list[tuple] = []
    for f in _data_files(archive_dir):
        t = pq.read_table(os.path.join(archive_dir, f),
                          columns=["op", "lsn", "before", "after"])
        rows.extend(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    problems = []
    if len(rows) != len(events):
        problems.append(f"{len(rows)} archived rows, {len(events)} events generated")
    rows.sort(key=lambda r: r[1])
    for got, want in zip(rows, sorted(events, key=lambda e: e[1])):
        if tuple(got) != tuple(want):
            problems.append(f"archived {got!r}, generated {want!r}")
            break
    return problems


def check_state(state_rows: list[tuple], replay: dict[int, tuple]) -> list[str]:
    """The materialized table against the replay of the generated events."""
    got = {r[0]: tuple(r) for r in state_rows}
    problems = []
    if len(got) != len(state_rows):
        problems.append(f"{len(state_rows) - len(got)} duplicate keys in state")
    if len(got) != len(replay):
        problems.append(f"{len(got)} live keys, replay has {len(replay)}")
    for k, want in replay.items():
        if got.get(k) != want:
            problems.append(f"key {k}: state {got.get(k)!r}, replay {want!r}")
            break
    return problems
