"""Seeded input generator: TPC-H-shaped source tables and changelog batches.

Everything here is numpy + pyarrow, no Spark, so generation finishes
before the engine's session starts and shows in no metric.

Tables follow the TPC-H sf0.1 cardinalities and value domains that the
workloads touch: 15,000 customers and 150,000 orders, with
one customer in three placing no orders (TPC-H's ``o_custkey % 3 != 0``
rule, so the correlated ``count(*)`` sees zero-count groups).

A changelog batch carries the payload columns plus ``__op`` (``+I``,
``+U`` or ``-D``) and ``__seq`` (order within the batch). A ``-D`` row
carries the last-known payload, the before image a CDC source sends.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 15_000
N_ORDERS = 150_000

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
DATE0 = np.datetime64("1992-01-01", "D")
N_DAYS = 2406  # TPC-H order dates span 1992-01-01 .. 1998-08-02

OP_COL, SEQ_COL = "__op", "__seq"

ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.date32()),
    ("o_orderpriority", pa.string()),
])
CUSTOMER_SCHEMA = pa.schema([
    ("c_custkey", pa.int64()),
    ("c_name", pa.string()),
    ("c_nationkey", pa.int32()),
    ("c_acctbal", pa.float64()),
    ("c_mktsegment", pa.string()),
])
CHANGE_FIELDS = [(OP_COL, pa.string()), (SEQ_COL, pa.int64())]


def _ordering_custkeys(rng: np.random.Generator, n: int) -> np.ndarray:
    """Customer keys that place orders: TPC-H skips every third one."""
    k = rng.integers(1, N_CUSTOMERS + 1, n)
    return np.where(k % 3 == 0, k - 1, k)


def _prices(rng: np.random.Generator, n: int) -> np.ndarray:
    # cents, so sums over exact two-decimal values stay well-conditioned
    return rng.integers(85_000, 55_000_000, n) / 100.0


class Orders:
    """The live orders table as columns keyed by ``o_orderkey``; batches
    mutate it in place so later batches see earlier ones applied."""

    def __init__(self, rng: np.random.Generator):
        n = N_ORDERS
        self.rng = rng
        self.cols = {
            "o_orderkey": np.arange(1, n + 1, dtype=np.int64),
            "o_custkey": _ordering_custkeys(rng, n).astype(np.int64),
            "o_orderstatus": STATUSES[rng.integers(0, 3, n)],
            "o_totalprice": _prices(rng, n),
            "o_orderdate": DATE0 + rng.integers(0, N_DAYS, n).astype("timedelta64[D]"),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
        }
        self.next_key = n + 1

    def table(self) -> pa.Table:
        return pa.table(self.cols, schema=ORDERS_SCHEMA)

    def _rows(self, pos: np.ndarray) -> dict:
        return {k: v[pos] for k, v in self.cols.items()}

    def _fresh(self, keys: np.ndarray) -> dict:
        n = len(keys)
        rng = self.rng
        return {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": _ordering_custkeys(rng, n).astype(np.int64),
            "o_orderstatus": np.full(n, "O"),
            "o_totalprice": _prices(rng, n),
            "o_orderdate": DATE0 + rng.integers(N_DAYS - 30, N_DAYS, n).astype("timedelta64[D]"),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
        }

    def batch(self, upd_pos: np.ndarray, del_pos: np.ndarray, n_ins: int) -> pa.Table:
        """Apply +U to the rows at ``upd_pos`` (new customer and price),
        -D to the rows at ``del_pos`` and +I ``n_ins`` new keys; return
        the changelog, rows in a seeded shuffled ``__seq`` order."""
        rng = self.rng
        upd = self._rows(upd_pos)
        upd["o_custkey"] = _ordering_custkeys(rng, len(upd_pos)).astype(np.int64)
        upd["o_totalprice"] = _prices(rng, len(upd_pos))
        for k in ("o_custkey", "o_totalprice"):
            self.cols[k][upd_pos] = upd[k]
        dele = self._rows(del_pos)
        keys = np.arange(self.next_key, self.next_key + n_ins, dtype=np.int64)
        self.next_key += n_ins
        ins = self._fresh(keys)
        keep = np.ones(len(self.cols["o_orderkey"]), dtype=bool)
        keep[del_pos] = False
        self.cols = {
            k: np.concatenate([v[keep], ins[k]]) for k, v in self.cols.items()
        }
        parts = [(upd, "+U"), (dele, "-D"), (ins, "+I")]
        return _changelog(rng, parts, ORDERS_SCHEMA)


def _changelog(rng, parts, schema: pa.Schema) -> pa.Table:
    cols = {f.name: np.concatenate([p[f.name] for p, _ in parts]) for f in schema}
    ops = np.concatenate([np.full(len(p[schema.names[0]]), op) for p, op in parts])
    n = len(ops)
    order = rng.permutation(n)
    data = {k: v[order] for k, v in cols.items()}
    data[OP_COL] = ops[order]
    data[SEQ_COL] = np.arange(n, dtype=np.int64)
    return pa.table(data, schema=pa.schema(list(schema) + CHANGE_FIELDS))


def customers(rng: np.random.Generator) -> dict:
    n = N_CUSTOMERS
    keys = np.arange(1, n + 1, dtype=np.int64)
    return {
        "c_custkey": keys,
        "c_name": np.char.add("Customer#", np.char.zfill(keys.astype(str), 9)),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": rng.integers(-99_999, 999_999, n) / 100.0,
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n)],
    }


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def generate(seed: int, n_batches: int, out_dir: str) -> dict:
    """Write the source tables and ``n_batches`` changelog batches under
    ``out_dir``; return the file layout.

    Each batch is 150 orders rows at hash-spread keys: 100 ``+U``
    (customer and price move), 25 ``-D``, 25 ``+I``.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    orders = Orders(rng)
    cust = customers(rng)
    layout = {
        "sources": {
            "orders": _write(orders.table(), os.path.join(out_dir, "orders.parquet")),
            "customer": _write(pa.table(cust, schema=CUSTOMER_SCHEMA),
                               os.path.join(out_dir, "customer.parquet")),
        },
        "batches": [],
    }
    for i in range(n_batches):
        live = len(orders.cols["o_orderkey"])
        pos = rng.choice(live, 125, replace=False)
        tbl = orders.batch(pos[:100], pos[100:], 25)
        path = _write(tbl, os.path.join(out_dir, f"batch_{i:04d}.parquet"))
        layout["batches"].append({"table": "orders", "path": path, "rows": tbl.num_rows})
    return layout
