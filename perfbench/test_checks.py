"""The benchmark's checkers must pass correct outputs and fail corrupted ones.

Run: ``python -m pytest perfbench -q`` (no Spark session: the correct outputs
here are built with pyarrow and DuckDB from the generated inputs).
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [_HERE, os.path.dirname(_HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
from tests.oracle import compare, run_oracle  # noqa: E402

_COLS = ["serial_number", "list_year", "date_recorded", "assessed_value",
         "sale_amount", "sales_ratio"]


def _snapshot_output(tmp_path, n=1000, batch=100):
    """A correct snapshot output written by pyarrow: sorted, batched files
    and a catalog with matching counts."""
    src, out = tmp_path / "src", tmp_path / "out"
    sums = gen.property_sales(5, n, str(src), files=3)
    t = pq.read_table(str(src)).select(_COLS)
    t = t.take(pc.sort_indices(t, [("serial_number", "ascending")]))
    out.mkdir()
    for i in range(0, n, batch):
        pq.write_table(t.slice(i, batch), str(out / f"part-{i // batch:05d}.parquet"))
    (out / "_catalog.json").write_text(json.dumps(
        {"num_source_records": n, "num_records_processed": n, "success": True}))
    return str(out), sums, batch


def test_snapshot_checker_passes_correct_output(tmp_path):
    out, sums, batch = _snapshot_output(tmp_path)
    assert checks.check_snapshot(out, sums, batch) == []


def test_snapshot_checker_fails_a_dropped_row(tmp_path):
    out, sums, batch = _snapshot_output(tmp_path)
    part = os.path.join(out, "part-00003.parquet")
    pq.write_table(pq.read_table(part).slice(1), part)
    problems = checks.check_snapshot(out, sums, batch)
    assert any("rows in files" in p for p in problems)
    assert any("sum(serial_number)" in p for p in problems)


def test_snapshot_checker_fails_out_of_order_files(tmp_path):
    out, sums, batch = _snapshot_output(tmp_path)
    a, b = (os.path.join(out, f"part-0000{i}.parquet") for i in (1, 2))
    os.rename(a, a + ".x")
    os.rename(b, a)
    os.rename(a + ".x", b)
    assert any("ascend" in p for p in checks.check_snapshot(out, sums, batch))


def _change_stream():
    stream = gen.ChangeStream(seed=9, keys=300, per_segment=500)
    for _ in range(3):
        stream.segment()
    return stream


def test_archive_checker(tmp_path):
    stream = _change_stream()
    rows = list(zip(*stream.events))
    table = pa.table({"op": rows[0], "lsn": rows[1], "before": rows[2],
                      "after": rows[3]})
    pq.write_table(table, str(tmp_path / "part-0.parquet"))
    assert checks.check_archive(str(tmp_path), stream.events) == []
    pq.write_table(table.slice(1), str(tmp_path / "part-0.parquet"))
    assert checks.check_archive(str(tmp_path), stream.events) != []


def test_state_checker_fails_a_changed_value():
    stream = _change_stream()
    replay = gen.replay(stream.events)
    assert 0 < len(replay) < 300
    state = list(replay.values())
    assert checks.check_state(state, replay) == []
    k, name, qty, price = state[7]
    state[7] = (k, name, qty + 1, price)
    assert checks.check_state(state, replay) != []
    assert checks.check_state(state[:-1], replay) != []


def test_replay_follows_the_generated_text():
    stream = _change_stream()
    assert gen.replay(stream.events) == {
        k: tuple(json.loads(v)[c] for c in ("id", "name", "qty", "price"))
        for k, v in stream.live.items()}


def test_oracle_comparison_fails_a_perturbed_row(tmp_path):
    """The registry check's comparison, ``tests.oracle.compare``, on an oracle
    result over generated tables."""
    gen.registry_tables(4, str(tmp_path), docs=50, events=100, orders=200)
    sql = ("SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total "
           "FROM orders GROUP BY 1")
    cols, rows = run_oracle(sql, str(tmp_path))
    assert len(rows) == 3
    # a result in another column and row order still matches
    swapped = [(r[2], r[0], r[1]) for r in reversed(rows)]
    assert compare(["total", "o_orderstatus", "n"], swapped, cols, rows) == []
    bad = list(rows)
    bad[1] = (bad[1][0], bad[1][1] + 1, bad[1][2])
    assert compare(cols, bad, cols, rows) != []
    assert compare(cols, rows[:-1], cols, rows) != []
