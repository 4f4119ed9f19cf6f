"""Seeded, offline input generators for the benchmark.

Everything the program under test reads is made here from the run's
seed: the TPC-H-like fixture tables the gates scan, the Delta table and
op schedule of ``table_mixed``, and the document corpus of
``ingest_dedup``. Nothing is downloaded and nothing outside the run
directory is read or written. Each consumer draws from its own named
stream (:func:`rng`), so adding draws to one never shifts another.

The fixture schemas and value domains follow the repository's fixture
tables (FIXTURES.md): the gates filter on literals such as
``r_name = 'ASIA'``, ``c_mktsegment = 'BUILDING'`` and ``NATION_3``,
so those domains are kept exactly.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear",
             "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream name)."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "big")
    return np.random.Generator(np.random.PCG64([int(seed), tag]))


def _money(r: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(r.uniform(lo, hi, n), 2)


def _texts(r: np.random.Generator, n: int, lo: int = 10,
           hi: int = 100) -> list[str]:
    lens = r.integers(lo, hi, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    return out


# --------------------------------------------------------------------------
# fixture tables (the gates' inputs)
# --------------------------------------------------------------------------

#: row counts per table for the ``gates`` workload (the repository's
#: sf0.01 sizes; README.md says why not sf0.1)
GATE_SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "users": 150, "documents": 500,
    "embeddings": 500,
}


def fixture_tables(seed: int, sizes: dict[str, int] = GATE_SIZES
                   ) -> dict[str, pa.Table]:
    """The ten fixture tables as Arrow tables, a pure function of seed."""
    r = rng(seed, "fixtures")
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = sizes["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n)],
    })
    n = sizes["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n),
    })
    n = sizes["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n), r.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n)],
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
    })
    n_o = sizes["orders"]
    odate = _EPOCH_1995 + r.integers(0, 2404, n_o) * np.timedelta64(1, "D")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, sizes["customer"], n_o),
                              pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_o)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_o),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_o)],
    })
    n = sizes["lineitem"]
    okey = r.integers(0, n_o, n)
    ship = odate[okey] + r.integers(1, 122, n) * np.timedelta64(1, "D")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, sizes["part"], n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, sizes["supplier"], n),
                              pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    n = sizes["events"]
    ts = np.sort(_EPOCH_2024 + r.integers(0, 30 * _DAY_US, n)
                 * np.timedelta64(1, "us"))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, sizes["users"], n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": np.round(np.minimum(r.exponential(60.0, n), 499.0) + 0.01,
                          2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })
    t["documents"] = documents(r, 0, sizes["documents"])
    n = sizes["embeddings"]
    centers = r.standard_normal((10, 64))
    label = r.integers(0, 10, n)
    vec = centers[label] + 0.8 * r.standard_normal((n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(
        np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return t


def documents(r: np.random.Generator, first_id: int, n: int,
              texts: list[str] | None = None) -> pa.Table:
    """A ``documents``-schema table with ids ``first_id..first_id+n-1``."""
    texts = _texts(r, n) if texts is None else texts
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i}" for i in r.integers(0, 20, n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def write_fixtures(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


# --------------------------------------------------------------------------
# gates: seed-permuted pass order
# --------------------------------------------------------------------------

def gate_order(seed: int, names: list[str], n_pass: int) -> list[str]:
    """Order of the ``n_pass``-th pass over ``names``."""
    r = rng(seed, f"gate-order-{n_pass}")
    return [names[i] for i in r.permutation(len(names))]


# --------------------------------------------------------------------------
# table_mixed: the table and its op schedule
# --------------------------------------------------------------------------

TABLE_ORDERS = 40_000   # orders of 1-7 lines each, ~160k rows
TABLE_FILES = 40        # range-clustered on l_orderkey at creation
CYCLE = ["query", "append", "pipeline", "update", "time_travel", "delete",
         "cdc_poll", "merge", "compact"]
READ_KINDS = frozenset({"query", "pipeline", "time_travel", "cdc_poll"})


def lineitem_rows(r: np.random.Generator, first_order: int,
                  n_orders: int) -> pa.Table:
    """Lineitem rows for orders ``first_order..+n_orders-1``, 1-7 lines
    per order, so (l_orderkey, l_linenumber) is a unique key."""
    lines = r.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(first_order, first_order + n_orders), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n = len(okey)
    ship = _EPOCH_1995 + r.integers(0, 2500, n) * np.timedelta64(1, "D")
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, 20000, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, 1000, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


@dataclass
class TableOp:
    """One ``table_mixed`` op: its kind, position and inputs."""
    index: int
    kind: str
    lo: int = 0                   # l_orderkey range [lo, hi)
    hi: int = 0
    back: int = 0                 # time travel: versions behind head
    rows: pa.Table | None = None  # append rows / merge source
    cycle_start: bool = False

    @property
    def is_read(self) -> bool:
        return self.kind in READ_KINDS


class TablePlan:
    """The initial table plus a lazily drawn, seed-determined op stream.

    The live order-key set is simulated as ops are drawn, so every range
    a query, update or delete gets starts at a key that is live at that
    point and matches rows.
    """

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.initial = lineitem_rows(rng(seed, "table-init"), 0,
                                     TABLE_ORDERS)
        self._live = np.ones(TABLE_ORDERS, dtype=bool)
        self._next_order = TABLE_ORDERS

    def _grow(self, n: int) -> int:
        first = self._next_order
        self._next_order += n
        if self._next_order > len(self._live):
            self._live = np.concatenate([
                self._live,
                np.zeros(self._next_order - len(self._live), dtype=bool)])
        self._live[first:self._next_order] = True
        return first

    def _range(self, r: np.random.Generator, width: int) -> tuple[int, int]:
        live = np.flatnonzero(self._live)
        lo = int(live[int(r.integers(0, len(live)))])
        return lo, lo + width

    def ops(self) -> Iterator[TableOp]:
        r = rng(self.seed, "table-ops")
        i = 0
        while True:
            for pos, kind in enumerate(CYCLE):
                op = TableOp(i, kind, cycle_start=pos == 0)
                if kind in ("query", "pipeline", "time_travel"):
                    op.lo, op.hi = self._range(r, int(r.integers(50, 400)))
                    op.back = int(r.integers(1, 6))
                elif kind == "update":
                    op.lo, op.hi = self._range(r, int(r.integers(10, 40)))
                elif kind == "delete":
                    op.lo, op.hi = self._range(r, int(r.integers(5, 20)))
                    self._live[op.lo:op.hi] = False
                elif kind == "append":
                    n = int(r.integers(200, 400))
                    op.rows = lineitem_rows(r, self._grow(n), n)
                elif kind == "merge":
                    op.rows = self._merge_source(r)
                yield op
                i += 1

    def _merge_source(self, r: np.random.Generator) -> pa.Table:
        """Upsert source: fresh lines for 20 orders starting at a live key
        (lines that exist match and update, the rest insert), plus the
        lines of new orders (inserts)."""
        lo, _ = self._range(r, 0)
        lo = min(lo, self._next_order - 20)
        old = lineitem_rows(r, lo, 20)
        self._live[lo:lo + 20] = True
        n_new = int(r.integers(20, 60))
        new = lineitem_rows(r, self._grow(n_new), n_new)
        return pa.concat_tables([old, new])


# --------------------------------------------------------------------------
# ingest_dedup: history, micro-batches with planted near-duplicates
# --------------------------------------------------------------------------

INGEST_HISTORY = 20_000    # docs in the index seeded at setup
INGEST_BATCH = 500         # docs per trigger
INGEST_DUP_FRAC = 0.3      # share of a batch planted as near-duplicates
INGEST_DUP_MIN_WORDS = 40  # near-dups are edits of docs at least this long


@dataclass
class IngestBatch:
    index: int
    table: pa.Table
    planted: dict[int, int]   # near-dup doc_id -> doc it was edited from


class IngestPlan:
    """History corpus plus a lazily drawn stream of micro-batches. A
    planted near-duplicate is a one-token edit of an earlier document
    (history or an earlier batch) of at least INGEST_DUP_MIN_WORDS
    words; the rest of a batch is fresh random text."""

    def __init__(self, seed: int, history: int = INGEST_HISTORY) -> None:
        self.seed = seed
        self.history = documents(rng(seed, "ingest-history"), 0, history)
        self._pool = [
            (i, t) for i, t in enumerate(
                self.history.column("text").to_pylist())
            if t.count(" ") + 1 >= INGEST_DUP_MIN_WORDS]
        self._next_id = history

    def batches(self) -> Iterator[IngestBatch]:
        r = rng(self.seed, "ingest-batches")
        b = 0
        while True:
            n_dup = int(INGEST_BATCH * INGEST_DUP_FRAC)
            fresh = _texts(r, INGEST_BATCH - n_dup)
            first_dup = self._next_id + len(fresh)
            planted: dict[int, int] = {}
            edited: list[str] = []
            for k, j in enumerate(r.integers(0, len(self._pool), n_dup)):
                orig_id, orig = self._pool[int(j)]
                words = orig.split(" ")
                pos = int(r.integers(0, len(words)))
                shift = 1 + int(r.integers(0, len(VOCAB) - 1))
                words[pos] = VOCAB[(VOCAB.index(words[pos]) + shift)
                                   % len(VOCAB)]
                edited.append(" ".join(words))
                planted[first_dup + k] = orig_id
            table = documents(r, self._next_id, INGEST_BATCH, fresh + edited)
            self._pool.extend(
                (self._next_id + k, t) for k, t in enumerate(fresh)
                if t.count(" ") + 1 >= INGEST_DUP_MIN_WORDS)
            self._next_id += INGEST_BATCH
            yield IngestBatch(b, table, planted)
            b += 1


def table_digest(table: pa.Table) -> str:
    """Stable content hash of an Arrow table (determinism checks)."""
    h = hashlib.sha256()
    for col in table.columns:
        h.update(repr(col.to_pylist()).encode())
    return h.hexdigest()
