"""Seeded TPC-H-ish tables for the engine workload.

Writes the eight tables the engine_mix queries read (region, nation,
customer, supplier, part, orders, lineitem, events), one parquet file each,
with the column names, physical types and value domains of the test data
TESTDATA.md describes, at row counts proportional to the scale factor
(sf 0.01: 60k lineitem rows). The same seed and scale give the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _write(out_dir: str, name: str, columns: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under `out_dir`; returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_orders, n_lines, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    order_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": pa.array(_EPOCH_1995 + order_days * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    line_orders = rng.integers(0, n_orders, n_lines, dtype=np.int64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(line_orders),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_lines),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_lines),
        "l_linestatus": _pick(rng, ["F", "O"], n_lines),
        "l_shipdate": pa.array(
            _EPOCH_1995 + (order_days[line_orders] + rng.integers(1, 122, n_lines)) * _DAY_US
        ),
    })
    gaps = rng.exponential(30 * _DAY_US / max(n_events, 1), n_events).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 15), n_events, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": pa.array(np.round(rng.exponential(50.0, n_events) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_orders, "lineitem": n_lines, "events": n_events,
    }
