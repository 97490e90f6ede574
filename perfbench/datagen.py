"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, size)``: the same seed writes
byte-identical parquet. Shapes follow the repository's fixture schemas
(TPC-H-ish star, the ``events`` stream table, ``documents``,
``embeddings``) so the engine's queries and operators run unchanged on
them; the workloads hand the engine only these files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(1970, 1, 1)
US = 1_000_000
DAY_US = 86_400 * US

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "fr", "zh", "de", "es"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EMB_DIM = 64


def _us(dt: datetime) -> int:
    return (dt - EPOCH) // timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(us, dtype="int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ------------------------------------------------------------------ tables
def customers(rng, n: int) -> pa.Table:
    keys = np.arange(n, dtype="int64")
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n)],
    })


def orders(rng, n: int, n_customers: int) -> pa.Table:
    lo, hi = _us(datetime(1995, 1, 1)) // DAY_US, _us(datetime(2001, 8, 1)) // DAY_US
    return pa.table({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, n_customers, n).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(rng.integers(lo, hi + 1, n) * DAY_US),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
    })


def lineitems(rng, orders_t: pa.Table, n_parts: int, n_suppliers: int) -> pa.Table:
    okeys = orders_t.column("o_orderkey").to_numpy()
    odays = orders_t.column("o_orderdate").cast(pa.int64()).to_numpy() // DAY_US
    per = rng.integers(1, 8, len(okeys))
    n = int(per.sum())
    starts = np.repeat(np.cumsum(per) - per, per)
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": np.repeat(okeys, per),
        "l_partkey": rng.integers(0, n_parts, n).astype("int64"),
        "l_suppkey": rng.integers(0, n_suppliers, n).astype("int64"),
        "l_linenumber": (np.arange(n) - starts + 1).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts((np.repeat(odays, per) + rng.integers(1, 122, n)) * DAY_US),
    })


def events(rng, n: int, n_users: int, first_id: int = 0, start: datetime = datetime(2024, 1, 1),
           span_days: float = 30.0) -> pa.Table:
    t0 = _us(start)
    ts = np.sort(t0 + rng.integers(0, int(span_days * DAY_US), n))
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n).astype("int64"),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(rng, n: int, first_id: int = 0) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; 5% are a copy of
    an earlier document plus a trailing ``dup`` token (near
    duplicates) and 2% are exact copies, so dedup stages find work."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    lens = rng.integers(10, 101, n)
    kind = rng.random(n)
    for i in range(n):
        if i > 10 and kind[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and kind[i] < 0.07:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lens[i])]))
    return pa.table({
        "doc_id": np.arange(first_id, first_id + n, dtype="int64"),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def embeddings(rng, n: int, n_labels: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (n_labels, EMB_DIM))
    labels = rng.integers(0, n_labels, n)
    v = centers[labels] + rng.normal(0.0, 1.5, (n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })


def write_query_tables(root: str, seed: int, sf: float) -> pa.Table:
    """Write the tables the query mix reads, at ``sf`` (1.0 ≈ 1.5M
    orders); returns ``orders``, the table the point reads check."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    o = orders(rng, max(1500, int(1_500_000 * sf)), n_cust)
    _write(customers(rng, n_cust), f"{root}/customer.parquet")
    _write(o, f"{root}/orders.parquet")
    _write(lineitems(rng, o, max(200, int(200_000 * sf)), max(10, int(10_000 * sf))),
           f"{root}/lineitem.parquet")
    _write(events(rng, max(1000, int(1_000_000 * sf)), max(150, int(15_000 * sf))),
           f"{root}/events.parquet")
    _write(documents(rng, max(500, int(50_000 * sf))), f"{root}/documents.parquet")
    _write(embeddings(rng, max(500, int(20_000 * sf))), f"{root}/embeddings.parquet")
    return o


# ------------------------------------------------------------- CDC feeds
@dataclass
class CdcTable:
    """One capture source: a directory of parquet files with an NMS
    column ``updated_at`` and a primary key. ``latest`` maps each key to
    its newest ``updated_at`` (epoch µs) over every landed row, the
    expectation the point lookups are checked against; ``keys`` lists
    the keys in first-landed order, for seeded lookups."""

    name: str
    pkey: str
    path: str
    landed_rows: int = 0
    files: int = 0
    latest: dict = field(default_factory=dict)
    keys: list = field(default_factory=list)

    def land(self, table: pa.Table) -> None:
        upd = table.column("updated_at").cast(pa.int64()).to_numpy()
        keys = table.column(self.pkey).to_numpy()
        order = np.argsort(upd, kind="stable")
        for k, u in zip(keys[order].tolist(), upd[order].tolist()):
            if k not in self.latest:
                self.keys.append(k)
            self.latest[k] = u
        _write(table, os.path.join(self.path, f"part-{self.files:05d}.parquet"))
        self.files += 1
        self.landed_rows += table.num_rows


class CdcFeed:
    """The CDC workloads' source generator (the reference's capture
    loop; ``sf`` 1.0 ≈ 1M events / 1.5M orders) over ``tables``:
    ``events`` keyed on ``user_id`` (few keys, deep version chains) and
    ``orders`` keyed on ``o_orderkey`` (many keys, mostly one version).
    ``backlog()`` lands the history the first capture consumes;
    ``tick(i)`` lands one file of changed rows per table whose
    ``updated_at`` falls in ``(now(i-1) - buffer, now(i) - buffer]``, so
    with the injected clock every tick is the controller's DEFAULT case
    and captures exactly the rows landed for it."""

    T0 = datetime(2024, 2, 1)
    TICK = timedelta(seconds=300)

    def __init__(self, root: str, seed: int, *, sf: float, tick_rows: int, buffer_secs: int,
                 tables: tuple[str, ...] = ("events", "orders")):
        self.rng = np.random.default_rng([seed, 2])
        self.sf = sf
        self.tick_rows = tick_rows
        self.buffer = timedelta(seconds=buffer_secs)
        self.n_users = max(15, int(15_000 * sf))
        self.n_orders = max(1500, int(1_500_000 * sf))
        self.n_cust = max(150, int(150_000 * sf))
        self.next_event = 0
        self.next_order = 0
        pkeys = {"events": "user_id", "orders": "o_orderkey"}
        self.tables = [CdcTable(t, pkeys[t], os.path.join(root, t)) for t in tables]

    def now(self, i: int) -> datetime:
        return self.T0 + i * self.TICK

    def _stamps(self, lo_us: int, span_us: int, n: int) -> np.ndarray:
        """``n`` distinct increasing µs stamps in ``(lo, lo + span]``; the
        last sits exactly on the window's inclusive upper bound, so a
        capture that drops the boundary row fails the row-count check."""
        picks = 1 + self.rng.choice(span_us - 1, n - 1, replace=False)
        return lo_us + np.sort(np.append(picks, span_us))

    def _events(self, n: int, upd: np.ndarray) -> pa.Table:
        start = EPOCH + timedelta(microseconds=int(upd[0])) - timedelta(hours=1)
        t = events(self.rng, n, self.n_users, self.next_event, start=start, span_days=1 / 24)
        self.next_event += n
        return t.append_column("updated_at", _ts(upd))

    def _orders(self, keys: np.ndarray, upd: np.ndarray) -> pa.Table:
        t = orders(self.rng, len(keys), self.n_cust)
        t = t.set_column(0, "o_orderkey", pa.array(keys, type=pa.int64()))
        return t.append_column("updated_at", _ts(upd))

    def backlog(self) -> None:
        """History spanning ten days before ``now(0) - 1h``: one backlog
        window (< the controller's 336 h step) captures all of it."""
        hi = _us(self.T0 - timedelta(hours=1))
        span = 10 * DAY_US
        for t in self.tables:
            if t.name == "events":
                n = max(1000, int(1_000_000 * self.sf))
                t.land(self._events(n, self._stamps(hi - span, span, n)))
            else:
                keys = np.arange(self.n_orders, dtype="int64")
                self.rng.shuffle(keys)
                self.next_order = self.n_orders
                t.land(self._orders(keys, self._stamps(hi - span, span, len(keys))))

    def tick(self, i: int) -> dict[str, int]:
        """Land tick ``i``'s changed rows; returns rows landed per table."""
        lo = _us(self.now(i - 1) - self.buffer)
        span = self.TICK // timedelta(microseconds=1)
        n = self.tick_rows
        for t in self.tables:
            if t.name == "events":
                t.land(self._events(n, self._stamps(lo, span, n)))
                continue
            # orders: ~90% updates to existing keys, the rest new orders
            n_new = n // 10
            upd_keys = self.rng.choice(self.next_order, n - n_new, replace=False)
            keys = np.concatenate([upd_keys, np.arange(self.next_order, self.next_order + n_new)])
            self.next_order += n_new
            self.rng.shuffle(keys)
            t.land(self._orders(keys.astype("int64"), self._stamps(lo, span, n)))
        return {t.name: n for t in self.tables}
