"""Seeded inputs for the benchmark: the TPC-H-shaped tables the engine
syncs, the corpus tables the curation queries read, and a stream of
distinct, valid CDC batches over them.

Everything here is plain numpy/pyarrow; nothing touches Spark, so the
same seed gives byte-identical parquet files and batches.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["blue", "hot", "large", "old", "red", "small"],
              ["bolt", "gizmo", "plate", "ring", "rod", "widget"])
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)
_DAY_US = 86_400 * 1_000_000


def _ts_us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _ts_str(us: int) -> str:
    return (_EPOCH + dt.timedelta(microseconds=int(us))).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.datetime, end: dt.datetime, n: int) -> pa.Array:
    lo, hi = _ts_us(start) // _DAY_US, _ts_us(end) // _DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def generate_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten input tables as ``<out_dir>/<name>.parquet`` at
    scale factor ``sf`` (sf 1 = 1.5M orders). Row counts depend on
    ``sf`` only; values depend on ``seed``. Returns name → row count."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_vec = max(200, int(20_000 * sf))
    n_user = max(20, int(15_000 * sf))

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
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pkeys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pkeys, pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_WORDS[0], n_part),
                            rng.choice(PART_WORDS[1], n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pkeys % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(STATUSES, n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    # 0..7 lines per order (a few orders have none, like real carts)
    per_order = rng.choice(8, n_ord, p=[0.02] + [0.14] * 7)
    n_li = int(per_order.sum())
    l_order = np.repeat(np.arange(n_ord), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_line = np.arange(n_li) - starts + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_part = rng.integers(0, n_part, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (l_part % 1000) * 0.1), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_li),
    })
    gaps = rng.exponential(30 * _DAY_US / n_evt, n_evt).astype(np.int64) + 1
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(_ts_us(dt.datetime(2024, 1, 1)) + np.cumsum(gaps),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    # ~5% near-duplicates (an earlier doc's text plus a marker token)
    # so the dedup queries have pairs to find
    texts: list[str] = []
    for i, n_words in enumerate(rng.integers(10, 100, n_doc)):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, n_words)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    # ten labelled clusters of unit vectors, so ANN recall is meaningful
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


# share of a batch's events per change kind; the counts are events, so
# an order INSERT/DELETE counts its lineitem events too. The three kinds
# the CDC batch of ``queries.incremental_orders_docs``
# (``queries._incremental_events``) has keep its proportions over half
# a batch: its key moduli (orders 101 / 97, customers 50) give orders
# UPDATE : DELETE : customer rename = 44.3 : 46.6 : 9.0 at sf 0.1. The
# other half is split evenly over the three kinds it lacks; that split
# is chosen, not measured.
CDC_MIX = {
    "orders_update": 0.222,
    "orders_delete": 0.233,
    "customer_rename": 0.045,
    "lineitem_qty_update": 1 / 6,
    "orders_insert": 1 / 6,
    "noop_update": 1 / 6,
}


class CdcStream:
    """Distinct, valid CDC batches over the tables in ``sf_dir``.

    The stream tracks the source state it mutates (live orders, their
    lineitems, customer rows), so every UPDATE/DELETE targets a live
    row, every INSERT a fresh key, and no key is touched twice in one
    batch. Old images carry the full row, as a Debezium before-image
    does, which lets the engine suppress the no-op UPDATEs (changes
    to columns no document reads: ``l_tax``, ``l_shipdate``,
    ``c_acctbal``)."""

    def __init__(self, sf_dir: str, seed: int):
        self.rng = np.random.default_rng([seed, 0xCDC])
        read = lambda name: pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))
        self.orders = {r["o_orderkey"]: r for r in self._rows(read("orders"))}
        self.customers = {r["c_custkey"]: r for r in self._rows(read("customer"))}
        self.lines: dict[int, dict[int, dict]] = {}
        for r in self._rows(read("lineitem")):
            self.lines.setdefault(r["l_orderkey"], {})[r["l_linenumber"]] = r
        self.n_part = read("part").num_rows
        self.n_supp = read("supplier").num_rows
        self.next_key = max(self.orders) + 1
        self.txid = 0
        self.batches = 0
        # renamed customer name → its live order keys, per batch
        self.renamed: list[tuple[str, list[int]]] = []

    @staticmethod
    def _rows(table: pa.Table) -> list[dict]:
        out = table.to_pylist()
        for r in out:
            for k, v in r.items():
                if isinstance(v, dt.datetime):
                    r[k] = _ts_str(_ts_us(v))
        return out

    def _ev(self, op: str, table: str, old=None, new=None) -> dict:
        self.txid += 1
        ev = {"op": op, "table": table, "txid": self.txid}
        if old is not None:
            ev["old"] = dict(old)
        if new is not None:
            ev["new"] = dict(new)
        return ev

    def _pick(self, pool: list, n: int, taken: set) -> list:
        out = []
        for i in self.rng.permutation(len(pool)):
            if len(out) == n:
                break
            if pool[i] not in taken:
                out.append(pool[i])
                taken.add(pool[i])
        return out

    def next_batch(self, n_events: int) -> list[dict]:
        """One batch of about ``n_events`` events in the CDC_MIX shares."""
        b = self.batches
        self.batches += 1
        want = {k: int(round(v * n_events)) for k, v in CDC_MIX.items()}
        live = sorted(self.orders)
        touched: set = set()
        events: list[dict] = []
        rng = self.rng

        # deletes first, so later picks never touch a deleted order
        n_del = 0
        for ok in self._pick(live, max(1, want["orders_delete"] // 5), touched):
            for ln, row in sorted(self.lines.pop(ok, {}).items()):
                events.append(self._ev("DELETE", "lineitem", old=row))
            events.append(self._ev("DELETE", "orders", old=self.orders.pop(ok)))
            n_del += 1
        for ok in self._pick(live, want["orders_update"], touched):
            old = self.orders[ok]
            new = dict(old)
            new["o_orderpriority"] = PRIORITIES[int(rng.integers(0, 5))]
            new["o_orderstatus"] = STATUSES[int(rng.integers(0, 3))]
            new["o_totalprice"] = float(np.round(rng.uniform(1000, 500_000), 2))
            self.orders[ok] = new
            events.append(self._ev("UPDATE", "orders", old=old, new=new))
        # at most one line change per order and batch (orders updated
        # or deleted above are out too)
        line_touched = set(touched)
        with_lines = [k for k in live if self.lines.get(k)]
        for ok in self._pick(with_lines, want["lineitem_qty_update"], line_touched):
            ln = sorted(self.lines[ok])[int(rng.integers(0, len(self.lines[ok])))]
            old = self.lines[ok][ln]
            new = dict(old, l_quantity=float(old["l_quantity"] % 50 + 1))
            self.lines[ok][ln] = new
            events.append(self._ev("UPDATE", "lineitem", old=old, new=new))
        # customer renames fan out to every order of the customer; the
        # new name is one search token, unique to this batch
        owners: dict[int, list[int]] = {}
        for ok in live:
            if ok in self.orders:
                owners.setdefault(self.orders[ok]["o_custkey"], []).append(ok)
        cands = sorted(owners)
        self.renamed = []
        for ck in self._pick(cands, max(1, want["customer_rename"]), set()):
            old = self.customers[ck]
            name = f"Customer#{ck:09d}b{b}"
            new = dict(old, c_name=name)
            self.customers[ck] = new
            self.renamed.append((name, sorted(owners[ck])))
            events.append(self._ev("UPDATE", "customer", old=old, new=new))
        n_ins = 0
        while n_ins < want["orders_insert"]:
            ok = self.next_key
            self.next_key += 1
            row = {
                "o_orderkey": ok,
                "o_custkey": int(rng.integers(0, len(self.customers))),
                "o_orderstatus": "O",
                "o_totalprice": float(np.round(rng.uniform(1000, 500_000), 2)),
                "o_orderdate": "2002-01-01 00:00:00",
                "o_orderpriority": PRIORITIES[int(rng.integers(0, 5))],
            }
            self.orders[ok] = row
            line_touched.add(ok)
            events.append(self._ev("INSERT", "orders", new=row))
            self.lines[ok] = {}
            for ln in range(1, int(rng.integers(1, 5)) + 1):
                part = int(rng.integers(0, self.n_part))
                qty = float(rng.integers(1, 51))
                li = {
                    "l_orderkey": ok,
                    "l_partkey": part,
                    "l_suppkey": int(rng.integers(0, self.n_supp)),
                    "l_linenumber": ln,
                    "l_quantity": qty,
                    "l_extendedprice": float(np.round(qty * (900 + (part % 1000) * 0.1), 2)),
                    "l_discount": 0.05,
                    "l_tax": 0.02,
                    "l_returnflag": "N",
                    "l_linestatus": "O",
                    "l_shipdate": "2002-01-05 00:00:00",
                }
                self.lines[ok][ln] = li
                events.append(self._ev("INSERT", "lineitem", new=li))
            n_ins += 1 + len(self.lines[ok])
        # no-op UPDATEs: unwatched columns only, so the engine drops them
        n_noop = want["noop_update"]
        with_lines = [k for k in sorted(self.lines) if self.lines[k]]
        for ok in self._pick(with_lines, n_noop - n_noop // 3, line_touched):
            ln = sorted(self.lines[ok])[0]
            old = self.lines[ok][ln]
            new = dict(old, l_tax=float((round(old["l_tax"] * 100) + 1) % 9) / 100)
            self.lines[ok][ln] = new
            events.append(self._ev("UPDATE", "lineitem", old=old, new=new))
        renamed = {int(n.split("#")[1].split("b")[0]) for n, _ in self.renamed}
        for ck in self._pick(sorted(self.customers), n_noop // 3, set(renamed)):
            old = self.customers[ck]
            new = dict(old, c_acctbal=float(np.round(old["c_acctbal"] + 1.0, 2)))
            self.customers[ck] = new
            events.append(self._ev("UPDATE", "customer", old=old, new=new))
        return events


def digest(batch: list[dict]) -> str:
    """Stable content hash of one batch (same seed → same digest)."""
    blob = json.dumps(batch, sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()[:16]
