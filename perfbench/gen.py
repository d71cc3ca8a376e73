"""Seeded benchmark inputs: the tables the warehouse reads.

The rows come from a FIXED base generator, so every seed holds the same
multiset of rows and every query result is seed-independent. ``seed`` only
permutes the row order inside each file, which changes scan and partition
layout but not answers. The shape follows the repository's sf0.01 test data
(TPC-H-ish ``part``/``orders``/``lineitem``, one parquet file per table):
2000 parts, 15000 orders, about 60000 line items, 10000 events.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240601
N_PART = 2000
N_ORDER = 15000
N_CUST = 1500
N_EVENT = 10000
TABLES = ("part", "orders", "lineitem", "events")

_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "shiny", "matte", "tiny"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring", "valve", "nut"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_N_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
_EVENT_TYPES = ["click", "view", "purchase", "error"]


def base_tables() -> dict[str, pa.Table]:
    """The seed-independent rows of every table."""
    rng = np.random.default_rng(BASE_SEED)
    pk = np.arange(N_PART, dtype=np.int64)
    names = [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(rng.integers(0, 10, N_PART), rng.integers(0, 10, N_PART))]
    price = np.round(900.0 + rng.integers(0, 1000, N_PART) / 10.0, 1)
    part = pa.table({
        "p_partkey": pk,
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": [_TYPES[t] for t in rng.integers(0, len(_TYPES), N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": price,
    })

    ok = np.arange(N_ORDER, dtype=np.int64)
    odate = _EPOCH_1995 + rng.integers(0, _N_DAYS, N_ORDER) * _DAY_US
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_CUST, N_ORDER).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, N_ORDER)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDER), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[p] for p in rng.integers(0, 5, N_ORDER)],
    })

    lines = rng.integers(1, 8, N_ORDER)
    l_ok = np.repeat(ok, lines)
    l_no = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(l_ok)
    l_pk = rng.integers(0, N_PART, n).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = odate[l_ok] + rng.integers(1, 121, n) * _DAY_US
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": l_pk,
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": l_no,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_pk], 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    ets = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, N_EVENT))
    events = pa.table({
        "event_id": np.arange(N_EVENT, dtype=np.int64),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": rng.integers(0, 100, N_EVENT).astype(np.int64),
        "event_type": [_EVENT_TYPES[e] for e in rng.integers(0, len(_EVENT_TYPES), N_EVENT)],
        "value": np.round(rng.uniform(0.0, 20.0, N_EVENT), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENT)],
    })
    return {"part": part, "orders": orders, "lineitem": lineitem, "events": events}


def write_inputs(out_dir: str, seed: int) -> dict[str, int]:
    """Write a ``seed``-permuted copy of every table as ``<name>.parquet``.

    Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    counts = {}
    for name, t in base_tables().items():
        perm = rng.permutation(t.num_rows)
        pq.write_table(t.take(pa.array(perm)), os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
