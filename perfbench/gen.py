"""Seeded input generators for the three benchmark workloads.

Every input is made here from the run's seed, by this file's own code, so the
inputs are byte-identical on every commit of the program under test. Nothing
here imports the program.

- ``property_sales``: a ``property_sales``-shaped source table (FIXTURES.md A3)
  written as parquet files, plus the column sums a checker compares against.
- ``ChangeStream``: Debezium-envelope JSONL segments over a fixed key space,
  with the generated (op, lsn, before, after) text; ``replay`` applies that
  text in Python to give the live table.
- ``registry_tables``: the testdata tables the registry workload's queries
  read (documents, embeddings, events, orders, lineitem), in the testdata
  schemas.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

__all__ = ["property_sales", "ChangeStream", "replay", "registry_tables",
           "CDC_ROW_DDL"]

_TOWNS = [
    "Ansonia", "Ashford", "Avon", "Berlin", "Bethany", "Bethel", "Bloomfield",
    "Bolton", "Bozrah", "Branford", "Bristol", "Canaan", "Canton", "Cheshire",
    "Chester", "Clinton", "Colchester", "Cornwall", "Danbury", "Darien",
]
_STREETS = ["MAIN ST", "OAK AVE", "ELM ST", "HIGH ST", "PARK RD", "MILL LN",
            "CHURCH ST", "WATER ST", "MAPLE DR", "RIVER RD"]
_PROPERTY = ["Residential", "Commercial", "Vacant Land", "Apartments",
             "Industrial", "Condo"]
_RESIDENTIAL = ["Single Family", "Two Family", "Three Family", "Four Family",
                "Condo"]
_NON_USE = ["14 - Foreclosure", "25 - Other", "07 - Change in Property",
            "08 - Part Interest"]
_REMARKS = ["NO REMARKS", "ESTATE SALE", "BANK SALE", "SHORT SALE",
            "NEW CONSTRUCTION", "FAMILY SALE"]


def _dec(cents: np.ndarray, precision: int) -> pa.Array:
    """int64 cents → decimal(precision, 2), built through its decimal text."""
    dollars = pa.array(cents // 100).cast(pa.string())
    rem = pc.utf8_lpad(pa.array(cents % 100).cast(pa.string()), 2, "0")
    return pc.binary_join_element_wise(dollars, rem, ".").cast(
        pa.decimal128(precision, 2)
    )


def _pick(rng: np.random.Generator, vocab: list[str], n: int) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(vocab), n, dtype=np.int32)), pa.array(vocab)
    ).cast(pa.string())


def property_sales(seed: int, n: int, out_dir: str, files: int = 8) -> dict:
    """Write ``n`` property_sales rows as ``files`` parquet files in shuffled
    serial_number order; return the generation-time counts and sums."""
    rng = np.random.default_rng([seed, 1])
    serial = rng.permutation(np.arange(1, n + 1, dtype=np.int64))
    list_year = rng.integers(2001, 2023, n, dtype=np.int64)
    date_days = rng.integers(11323, 19358, n, dtype=np.int64)  # 2001..2022
    assessed = rng.integers(1_000_00, 2_500_000_00, n, dtype=np.int64)
    sale = rng.integers(1_000_00, 5_000_000_00, n, dtype=np.int64)
    ratio = rng.integers(0, 10_000, n, dtype=np.int64)
    numbers = pa.array(rng.integers(1, 9999, n)).cast(pa.string())
    address = pc.binary_join_element_wise(numbers, _pick(rng, _STREETS, n), " ")
    non_use = _pick(rng, _NON_USE, n)
    non_use = pc.if_else(pa.array(rng.random(n) < 0.8), pa.nulls(n, pa.string()),
                         non_use)
    table = pa.table({
        "serial_number": pa.array(serial.astype(np.int32)),
        "list_year": pa.array(list_year.astype(np.int32)),
        "date_recorded": pa.array(date_days.astype(np.int32)).cast(pa.date32()),
        "town": _pick(rng, _TOWNS, n),
        "address": address,
        "assessed_value": _dec(assessed, 12),
        "sale_amount": _dec(sale, 12),
        "sales_ratio": _dec(ratio, 10),
        "property_type": _pick(rng, _PROPERTY, n),
        "residential_type": _pick(rng, _RESIDENTIAL, n),
        "non_use_code": non_use,
        "assessor_remarks": _pick(rng, _REMARKS, n),
        "opm_remarks": _pick(rng, _REMARKS, n),
        "location": pc.binary_join_element_wise(
            pa.array(rng.integers(-73, -71, n)).cast(pa.string()),
            pa.array(rng.integers(41, 43, n)).cast(pa.string()), " "),
    })
    os.makedirs(out_dir, exist_ok=True)
    step = -(-n // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))
    return {
        "rows": n,
        "serial_number": int(serial.sum()),
        "list_year": int(list_year.sum()),
        "date_recorded": int(date_days.sum()),
        "assessed_value_cents": int(assessed.sum()),
        "sale_amount_cents": int(sale.sum()),
        "sales_ratio_cents": int(ratio.sum()),
    }


#: payload columns of the change stream's rows, as a Spark DDL string
CDC_ROW_DDL = "id long, name string, qty int, price double"

_ENVELOPE = (
    '{"payload":{"before":%s,"after":%s,"source":{"version":"1.0.0",'
    '"connector":"postgresql","name":"bench","ts_ms":%d,"snapshot":"false",'
    '"db":"bench","schema":"public","table":"items","lsn":%d,"xmin":null},'
    '"op":"%s","ts_ms":%d,"transaction":null}}'
)
_TS0 = 1_700_000_000_000


#: share of touches of a live key that delete it
_DELETE = 0.15


class ChangeStream:
    """Seeded c/u/d change events over ``keys`` keys, ``per_segment`` events a
    segment. A touched key that is not live is created; a live key is updated
    (85 %) or deleted (15 %), so each key is live with probability
    1 / 1.15 (about 87 %) once the stream has run long enough. ``prefill``
    starts the stream at that level. ``lsn`` counts up from 1 and ``ts_ms``
    follows it, so (ts_ms, lsn) is the generation order."""

    def __init__(self, seed: int, keys: int, per_segment: int):
        self.rng = np.random.default_rng([seed, 2])
        self.keys = keys
        self.per_segment = per_segment
        self.live: dict[int, str] = {}  # key → compact after-image JSON
        self.lsn = 0
        self.events: list[tuple[str, int, str | None, str | None]] = []

    def prefill(self) -> str:
        """A first segment that creates each key with the probability live
        state levels off at, in random order. Without it the live count
        climbs toward that level with a time constant of keys / 1.15 events,
        so the O(state) work per segment would grow through a run."""
        keys = self.rng.permutation(self.keys)
        keys = keys[self.rng.random(self.keys) < 1 / (1 + _DELETE)]
        return self._segment(keys, np.zeros(len(keys), dtype=bool))

    def segment(self) -> str:
        """The next segment's JSONL text; its events are appended to
        ``self.events`` as (op, lsn, before, after) text."""
        n = self.per_segment
        keys = self.rng.integers(0, self.keys, n)
        return self._segment(keys, self.rng.random(n) < _DELETE)

    def _segment(self, keys: np.ndarray, deletes: np.ndarray) -> str:
        n = len(keys)
        qty = self.rng.integers(0, 1000, n)
        cents = self.rng.integers(1, 100_000, n)
        names = self.rng.integers(0, 50_000, n)
        lines = []
        for i in range(n):
            k = int(keys[i])
            self.lsn += 1
            before = self.live.get(k)
            if before is not None and deletes[i]:
                op, after = "d", None
            else:
                # the compact sorted-key JSON that json.dumps would write
                op = "c" if before is None else "u"
                after = (f'{{"id":{k},"name":"item-{names[i]}",'
                         f'"price":{int(cents[i]) / 100!r},"qty":{qty[i]}}}')
            if after is None:
                del self.live[k]
            else:
                self.live[k] = after
            ts = _TS0 + self.lsn
            lines.append(_ENVELOPE % (before or "null", after or "null", ts,
                                      self.lsn, op, ts))
            self.events.append((op, self.lsn, before, after))
        return "\n".join(lines) + "\n"


def replay(events: list[tuple]) -> dict[int, tuple]:
    """Live table after applying ``events`` in lsn order, parsed from their
    text: key → (id, name, qty, price)."""
    out: dict[int, tuple] = {}
    for op, _lsn, before, after in sorted(events, key=lambda e: e[1]):
        if op == "d":
            del out[json.loads(before)["id"]]
        else:
            r = json.loads(after)
            out[r["id"]] = (r["id"], r["name"], r["qty"], r["price"])
    return out


_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
          "fast", "filter", "group", "hash", "join", "key", "line", "merge",
          "order", "part", "query", "row", "scan", "slow", "small", "sort",
          "spark", "stream", "table", "the", "value", "vector", "window"]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
_STATUS = ["P", "O", "F"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, 31))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, 31, int(rng.integers(9, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[j] for j in rng.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    t0 = 1_704_067_200_000_000  # 2024-01-01, µs
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
        "event_type": pa.array([_EVENT_TYPES[j] for j in rng.integers(0, 5, n)]),
        "value": pa.array(rng.integers(1, 49_003, n) / 100),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n)]),
    })


def _days_us(rng: np.random.Generator, n: int) -> pa.Array:
    day0, days = 9131, 2404  # 1995-01-01 .. 2001-08-01
    d = rng.integers(day0, day0 + days, n, dtype=np.int64)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def _orders(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n, dtype=np.int64)),
        "o_orderstatus": pa.array([_STATUS[j] for j in rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(rng.integers(101_370, 49_997_860, n) / 100),
        "o_orderdate": _days_us(rng, n),
        "o_orderpriority": pa.array([_PRIORITY[j] for j in rng.integers(0, 5, n)]),
    })


def _lineitem(rng: np.random.Generator, n: int, orders: int) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, max(1, orders // 7), n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(1, orders // 150), n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90_000, 10_500_000, n) / 100),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100),
        "l_returnflag": pa.array([("R", "A", "N")[j] for j in rng.integers(0, 3, n)]),
        "l_linestatus": pa.array([("O", "F")[j] for j in rng.integers(0, 2, n)]),
        "l_shipdate": _days_us(rng, n),
    })


def registry_tables(seed: int, out_dir: str, docs: int = 500,
                    events: int = 2_000, orders: int = 1_500) -> dict[str, int]:
    """Write the registry workload's tables as ``<name>.parquet`` files (one
    row group each, like the testdata); return rows per table."""
    rng = np.random.default_rng([seed, 3])
    tables = {
        "documents": _documents(rng, docs),
        "embeddings": _embeddings(rng, docs),
        "events": _events(rng, events),
        "orders": _orders(rng, orders),
        "lineitem": _lineitem(rng, 4 * orders, orders),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
