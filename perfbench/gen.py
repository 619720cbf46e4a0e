"""Seeded input generators for the workload benchmark.

Everything here is NumPy + PyArrow: no Spark job runs while inputs are made,
and the same seed always yields byte-identical inputs.

- ``Warehouse`` is a TPC-H-shaped source system (customer, orders,
  lineitem) with a CDC envelope (``OPERATION`` code,
  ``LOAD_DATE`` event time). ``snapshot()`` writes the initial full load;
  ``next_batch()`` writes one incremental CDC batch and returns its
  ``Batch`` ledger entry. Each batch touches about ``CHURN`` of the live
  customer and order keys with a fixed mix of inserts, updates (at least
  one attribute changes) and deletes, at most one operation per key per
  batch. Inserted orders bring new lineitems; deleted orders delete theirs.
- ``Ledger`` turns the batch history into the row count every raw-vault
  table must have (a ``vault`` correctness check).
- ``make_corpus()`` writes a documents table with a planted share of exact
  copies and one-word near-duplicate edits (the corpus_dedup input).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# CDC operation codes of the engine's dialect (conventions.Operation)
SNAPSHOT, DELETE, CREATE, UPDATE = 0, 1, 2, 4

T0 = datetime(2024, 1, 1)
BATCH_EVERY = timedelta(hours=1)
#: the vault's batch load time trails the batch's event time
LOAD_LAG = timedelta(minutes=30)

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
STATUSES = np.array(["F", "O", "P"])

CUSTOMERS = 1000
ORDERS = 10 * CUSTOMERS
PARTS = 1000
SUPPLIERS = 100
MAX_LINES_PER_ORDER = 4
#: share of live customer / order keys one CDC batch touches
CHURN = 0.02
#: op mix of a batch (inserts, updates; deletes take the rest)
INSERT_SHARE = 0.3
UPDATE_SHARE = 0.5
#: share of order updates that move the order to another customer
FK_CHANGE_SHARE = 0.3


@dataclass
class Batch:
    """Ledger entry of one CDC batch."""

    event_time: datetime
    load_time: datetime
    paths: dict[str, str]
    #: per source table: number of rows per CDC operation
    ops: dict[str, dict[int, int]]
    #: orders→customer link effect: new (order, customer) pairs, and the
    #: effectivity rows the batch must add (see Ledger)
    new_pairs: int
    link_eff_rows: int
    #: lineitem (order, part, supplier) triples created / deleted
    new_triples: int
    deleted_triples: int
    cdc_rows: int
    cdc_bytes: int


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


#: timestamps are written UTC-adjusted so Spark reads them as TIMESTAMP
UTC_US = pa.timestamp("us", tz="UTC")


def _ts(n: int, t: datetime) -> pa.Array:
    return pa.array([t] * n, type=UTC_US)


class Warehouse:
    """TPC-H-shaped source system emitting a snapshot and CDC batches."""

    def __init__(self, out_dir: str, seed: int) -> None:
        self.out_dir = out_dir
        self.rng = np.random.default_rng(seed)
        os.makedirs(out_dir, exist_ok=True)
        r = self.rng
        n_c, n_o = CUSTOMERS, ORDERS
        # customer state (arrays indexed by key; `alive` marks live keys)
        self.c_nation = r.integers(0, 25, n_c).astype(np.int32)
        self.c_acctbal = np.round(r.uniform(-999.99, 9999.99, n_c), 2)
        self.c_segment = r.integers(0, len(SEGMENTS), n_c)
        self.c_alive = np.ones(n_c, dtype=bool)
        # order state
        self.o_cust = r.integers(0, n_c, n_o)
        self.o_status = r.integers(0, len(STATUSES), n_o)
        self.o_price = np.round(r.uniform(1000.0, 400000.0, n_o), 2)
        self.o_date = r.integers(0, 2400, n_o)
        self.o_priority = r.integers(0, len(PRIORITIES), n_o)
        self.o_alive = np.ones(n_o, dtype=bool)
        # lineitems: per order a set of distinct parts, each with a supplier
        self.lines: dict[int, list[tuple[int, int]]] = {
            o: self._new_lines() for o in range(n_o)
        }
        self.pairs: set[tuple[int, int]] = {(o, int(c)) for o, c in enumerate(self.o_cust)}
        self.batches: list[Batch] = []

    def _new_lines(self) -> list[tuple[int, int]]:
        r = self.rng
        k = int(r.integers(1, MAX_LINES_PER_ORDER + 1))
        parts = r.choice(PARTS, size=k, replace=False)
        return [(int(p), int(r.integers(0, SUPPLIERS))) for p in parts]

    # ---- tables -----------------------------------------------------------
    def _customer(self, keys: np.ndarray, op: np.ndarray, t: datetime) -> pa.Table:
        return pa.table({
            "OPERATION": pa.array(op, type=pa.int32()),
            "LOAD_DATE": _ts(len(keys), t),
            "c_custkey": pa.array(keys, type=pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": pa.array(self.c_nation[keys], type=pa.int32()),
            "c_acctbal": pa.array(self.c_acctbal[keys], type=pa.float64()),
            "c_mktsegment": pa.array(SEGMENTS[self.c_segment[keys]]),
        })

    def _orders(self, keys: np.ndarray, op: np.ndarray, t: datetime) -> pa.Table:
        dates = np.datetime64("1992-01-01") + self.o_date[keys].astype("timedelta64[D]")
        return pa.table({
            "OPERATION": pa.array(op, type=pa.int32()),
            "LOAD_DATE": _ts(len(keys), t),
            "o_orderkey": pa.array(keys, type=pa.int64()),
            "o_custkey": pa.array(self.o_cust[keys], type=pa.int64()),
            "o_orderstatus": pa.array(STATUSES[self.o_status[keys]]),
            "o_totalprice": pa.array(self.o_price[keys], type=pa.float64()),
            "o_orderdate": pa.array(dates.astype("datetime64[us]")).cast(UTC_US),
            "o_orderpriority": pa.array(PRIORITIES[self.o_priority[keys]]),
        })

    def _lineitem(self, rows: list[tuple[int, int, int, int, int]], t: datetime) -> pa.Table:
        """rows: (op, order, line number, part, supplier)."""
        op, o, ln, p, sp = (np.array(c, dtype=np.int64) for c in zip(*rows)) if rows else [
            np.zeros(0, dtype=np.int64)] * 5
        qty = (o * 7 + p) % 50 + 1
        return pa.table({
            "OPERATION": pa.array(op, type=pa.int32()),
            "LOAD_DATE": _ts(len(o), t),
            "l_orderkey": pa.array(o, type=pa.int64()),
            "l_partkey": pa.array(p, type=pa.int64()),
            "l_suppkey": pa.array(sp, type=pa.int64()),
            "l_linenumber": pa.array(ln, type=pa.int32()),
            "l_quantity": pa.array(qty.astype(np.float64)),
        })

    def snapshot(self) -> dict[str, str]:
        """Full initial load (operation SNAPSHOT at ``T0``) of customer,
        orders and lineitem; returns table → parquet path. Parts and
        suppliers exist only as lineitem foreign keys."""
        d = os.path.join(self.out_dir, "snapshot")
        os.makedirs(d, exist_ok=True)
        c_keys = np.arange(CUSTOMERS)
        o_keys = np.arange(len(self.o_cust))
        tables = {
            "customer": self._customer(c_keys, np.full(len(c_keys), SNAPSHOT), T0),
            "orders": self._orders(o_keys, np.full(len(o_keys), SNAPSHOT), T0),
            "lineitem": self._lineitem(
                [(SNAPSHOT, o, i + 1, p, sp)
                 for o in range(len(o_keys)) for i, (p, sp) in enumerate(self.lines[o])],
                T0,
            ),
        }
        paths = {}
        self.snapshot_lines = tables["lineitem"].num_rows
        self.snapshot_bytes = 0
        for name, table in tables.items():
            paths[name] = os.path.join(d, f"{name}.parquet")
            self.snapshot_bytes += _write(table, paths[name])
        self.snapshot_paths = paths
        return paths

    def _pick(self, alive: np.ndarray, n: int) -> np.ndarray:
        return np.sort(self.rng.choice(np.flatnonzero(alive), size=n, replace=False))

    def next_batch(self) -> Batch:
        """Write the next CDC batch (customer, orders, lineitem) and return
        its ledger entry."""
        r = self.rng
        b = len(self.batches)
        t = T0 + (b + 1) * BATCH_EVERY
        d = os.path.join(self.out_dir, f"batch_{b:03d}")
        os.makedirs(d, exist_ok=True)

        def split(n_live: int) -> tuple[int, int, int]:
            n = max(3, int(round(n_live * CHURN)))
            ins = int(round(n * INSERT_SHARE))
            upd = int(round(n * UPDATE_SHARE))
            return ins, upd, n - ins - upd

        # ---- customers: updates and deletes hit distinct live keys --------
        c_ins, c_upd, c_del = split(int(self.c_alive.sum()))
        touched = self._pick(self.c_alive, c_upd + c_del)
        perm = r.permutation(len(touched))
        c_upd_keys = np.sort(touched[perm[:c_upd]])
        c_del_keys = np.sort(touched[perm[c_upd:]])
        # every update changes the balance (never to the same value)
        self.c_acctbal[c_upd_keys] = np.round(self.c_acctbal[c_upd_keys] + r.uniform(1.0, 500.0, c_upd), 2)
        flip = r.random(c_upd) < 0.3
        self.c_segment[c_upd_keys[flip]] = (self.c_segment[c_upd_keys[flip]] + 1) % len(SEGMENTS)
        self.c_alive[c_del_keys] = False
        first_new = len(self.c_alive)
        c_new_keys = np.arange(first_new, first_new + c_ins)
        self.c_nation = np.concatenate([self.c_nation, r.integers(0, 25, c_ins).astype(np.int32)])
        self.c_acctbal = np.concatenate([self.c_acctbal, np.round(r.uniform(-999.99, 9999.99, c_ins), 2)])
        self.c_segment = np.concatenate([self.c_segment, r.integers(0, len(SEGMENTS), c_ins)])
        self.c_alive = np.concatenate([self.c_alive, np.ones(c_ins, dtype=bool)])
        c_keys = np.concatenate([c_new_keys, c_upd_keys, c_del_keys])
        c_ops = np.array([CREATE] * c_ins + [UPDATE] * c_upd + [DELETE] * c_del)
        live_customers = np.flatnonzero(self.c_alive)

        # ---- orders -------------------------------------------------------
        o_ins, o_upd, o_del = split(int(self.o_alive.sum()))
        touched = self._pick(self.o_alive, o_upd + o_del)
        perm = r.permutation(len(touched))
        o_upd_keys = np.sort(touched[perm[:o_upd]])
        o_del_keys = np.sort(touched[perm[o_upd:]])
        self.o_price[o_upd_keys] = np.round(self.o_price[o_upd_keys] + r.uniform(1.0, 1000.0, o_upd), 2)
        self.o_status[o_upd_keys] = (self.o_status[o_upd_keys] + 1) % len(STATUSES)
        new_pairs = 0
        link_eff_rows = 0
        move = r.random(o_upd) < FK_CHANGE_SHARE
        for o in o_upd_keys[move]:
            old = int(self.o_cust[o])
            new = int(r.choice(live_customers))
            while new == old:
                new = int(r.choice(live_customers))
            self.o_cust[o] = new
            if (int(o), new) not in self.pairs:
                self.pairs.add((int(o), new))
                new_pairs += 1
            # the old pair closes, the new pair opens
            link_eff_rows += 2
        self.o_alive[o_del_keys] = False
        link_eff_rows += o_del
        first_new = len(self.o_alive)
        o_new_keys = np.arange(first_new, first_new + o_ins)
        new_cust = r.choice(live_customers, size=o_ins)
        self.o_cust = np.concatenate([self.o_cust, new_cust])
        self.o_status = np.concatenate([self.o_status, r.integers(0, len(STATUSES), o_ins)])
        self.o_price = np.concatenate([self.o_price, np.round(r.uniform(1000.0, 400000.0, o_ins), 2)])
        self.o_date = np.concatenate([self.o_date, r.integers(0, 2400, o_ins)])
        self.o_priority = np.concatenate([self.o_priority, r.integers(0, len(PRIORITIES), o_ins)])
        self.o_alive = np.concatenate([self.o_alive, np.ones(o_ins, dtype=bool)])
        for o, c in zip(o_new_keys, new_cust):
            self.pairs.add((int(o), int(c)))
        new_pairs += o_ins
        link_eff_rows += o_ins
        o_keys = np.concatenate([o_new_keys, o_upd_keys, o_del_keys])
        o_ops = np.array([CREATE] * o_ins + [UPDATE] * o_upd + [DELETE] * o_del)

        # ---- lineitems of inserted and deleted orders ---------------------
        l_rows: list[tuple[int, int, int, int, int]] = []
        for o in o_new_keys:
            self.lines[int(o)] = self._new_lines()
            l_rows += [(CREATE, int(o), i + 1, p, sp) for i, (p, sp) in enumerate(self.lines[int(o)])]
        new_triples = len(l_rows)
        for o in o_del_keys:
            l_rows += [(DELETE, int(o), i + 1, p, sp) for i, (p, sp) in enumerate(self.lines.pop(int(o)))]

        tables = {
            "customer": self._customer(c_keys, c_ops, t),
            "orders": self._orders(o_keys, o_ops, t),
            "lineitem": self._lineitem(l_rows, t),
        }
        paths = {}
        nbytes = 0
        for name, table in tables.items():
            paths[name] = os.path.join(d, f"{name}.parquet")
            nbytes += _write(table, paths[name])
        batch = Batch(
            event_time=t, load_time=t + LOAD_LAG, paths=paths,
            ops={
                "customer": {CREATE: c_ins, UPDATE: c_upd, DELETE: c_del},
                "orders": {CREATE: o_ins, UPDATE: o_upd, DELETE: o_del},
                "lineitem": {CREATE: new_triples, DELETE: len(l_rows) - new_triples},
            },
            new_pairs=new_pairs, link_eff_rows=link_eff_rows,
            new_triples=new_triples, deleted_triples=len(l_rows) - new_triples,
            cdc_rows=sum(t.num_rows for t in tables.values()), cdc_bytes=nbytes,
        )
        self.batches.append(batch)
        return batch


@dataclass
class Ledger:
    """Expected raw-vault row counts after the snapshot and ``batches``.

    Hubs gain a row per inserted key; attribute satellites a row per
    snapshot, insert and update; effectivity satellites a row per snapshot,
    insert and delete. The orders→customer link gains a row per new
    (order, customer) pair; its effectivity satellite a row per opened or
    closed pair (the generator counts these). The lineitem multilink gains
    a row per new triple, its effectivity satellite a row per created or
    deleted triple. A PIT table has one row per satellite version.
    """

    snapshot_lines: int
    batches: list[Batch] = field(default_factory=list)

    def expected(self) -> dict[str, int]:
        n_c, n_o = CUSTOMERS, ORDERS

        def total(table: str, *ops: int) -> int:
            return sum(b.ops[table].get(op, 0) for b in self.batches for op in ops)

        c_sat = n_c + total("customer", CREATE, UPDATE)
        o_sat = n_o + total("orders", CREATE, UPDATE)
        return {
            "HUB__CUSTOMER": n_c + total("customer", CREATE),
            "SAT__CUSTOMER": c_sat,
            "SAT__EFFECTIVITY_CUSTOMER": n_c + total("customer", CREATE, DELETE),
            "PIT__CUSTOMER": c_sat,
            "HUB__ORDERS": n_o + total("orders", CREATE),
            "SAT__ORDERS": o_sat,
            "SAT__EFFECTIVITY_ORDERS": n_o + total("orders", CREATE, DELETE),
            "PIT__ORDERS": o_sat,
            "LNK__ORDERS_CUSTOMER": n_o + sum(b.new_pairs for b in self.batches),
            "SAT__EFFECTIVITY_ORDERS_CUSTOMER": n_o + sum(b.link_eff_rows for b in self.batches),
            "LNK__LINEITEM": self.snapshot_lines + sum(b.new_triples for b in self.batches),
            "SAT__EFFECTIVITY_LINEITEM": self.snapshot_lines
            + sum(b.new_triples + b.deleted_triples for b in self.batches),
        }


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

VOCAB = (
    "the a an of and or to in is it data spark vault hub link satellite batch "
    "stream table row column key hash join filter group sort window merge scan "
    "query order customer part value line load change record source time point "
    "history version delete insert update effect cluster graph token text corpus "
    "train model shard index vector signal quality score dedup near exact copy"
).split()


@dataclass
class Corpus:
    path: str
    n_docs: int
    n_bytes: int
    #: doc ids planted as exact copies of an earlier doc (must not survive)
    exact_copies: range


CORPUS_DOCS = 2000
EXACT_SHARE = 0.1
NEAR_SHARE = 0.1
CORPUS_FILES = 4


def make_corpus(out_dir: str, seed: int) -> Corpus:
    """Documents table ``(doc_id, text, lang, source, n_chars)``.

    ``CORPUS_DOCS`` distinct documents of 8..120 vocabulary words; then a
    planted ``EXACT_SHARE`` of verbatim copies and ``NEAR_SHARE`` of one-word
    edits of randomly chosen base documents, each with a fresh, larger doc
    id. The whole table is shuffled by doc id order of appearance so copies are
    not adjacent to their originals; it is written as ``CORPUS_FILES``
    parquet files, as a crawl lands, so scans split across cores."""
    r = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    lengths = r.integers(8, 121, CORPUS_DOCS)
    texts = [" ".join(vocab[r.integers(0, len(vocab), n)]) for n in lengths]
    n_exact = int(CORPUS_DOCS * EXACT_SHARE)
    n_near = int(CORPUS_DOCS * NEAR_SHARE)
    copy_src = r.integers(0, CORPUS_DOCS, n_exact)
    near_src = r.integers(0, CORPUS_DOCS, n_near)
    for src in copy_src:
        texts.append(texts[src])
    for src in near_src:
        words = texts[src].split()
        words[int(r.integers(0, len(words)))] = str(vocab[r.integers(0, len(vocab))]) + "x"
        texts.append(" ".join(words))
    n = len(texts)
    langs = np.array(["en", "de", "fr", "zh"])[r.integers(0, 4, n)]
    sources = np.array([f"src{k}" for k in range(4)])[r.integers(0, 4, n)]
    order = r.permutation(n)
    table = pa.table({
        "doc_id": pa.array(order, type=pa.int64()),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array(langs[order]),
        "source": pa.array(sources[order]),
        "n_chars": pa.array([len(texts[i]) for i in order], type=pa.int64()),
    })
    path = os.path.join(out_dir, "documents")
    os.makedirs(path, exist_ok=True)
    step = -(-n // CORPUS_FILES)
    nbytes = sum(
        _write(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))
        for i in range(CORPUS_FILES)
    )
    return Corpus(path, n, nbytes, exact_copies=range(CORPUS_DOCS, CORPUS_DOCS + n_exact))
