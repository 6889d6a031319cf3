"""Seeded generator for the benchmark's input tables.

Writes the eight tables the catalog queries read (``region nation customer
supplier part orders lineitem events``) as parquet files with the schemas and
value domains of the repository's TPC-H-ish test data: uniform keys, the same
string vocabularies, order dates 1995-2001 and one month of events in January
2024. Row counts scale with ``sf`` like the test data (sf=0.001 gives 6,000
lineitems and 1,000 events). The same seed and scale give byte-identical
tables, so a run can be repeated exactly.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_US_PER_DAY = 86_400_000_000


def _days(start: str, end: str) -> tuple[int, int]:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return int(lo.astype(np.int64)), int(hi.astype(np.int64))


def _dates_us(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = _days(start, end)
    return rng.integers(lo, hi + 1, n).astype(np.int64) * _US_PER_DAY


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Return the eight tables for ``seed`` at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = round(150_000 * sf), max(round(10_000 * sf), 5), round(200_000 * sf)
    n_ord, n_line, n_ev = round(1_500_000 * sf), round(6_000_000 * sf), round(1_000_000 * sf)
    n_users = max(round(15_000 * sf), 5)
    ts = pa.timestamp("us")
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = _pick(rng, _ADJECTIVES, n_part) + " " + _pick(rng, _NOUNS, n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names,
        "p_brand": np.asarray([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], dtype=object),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_dates_us(rng, n_ord, "1995-01-01", "2001-08-01"), ts),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(_dates_us(rng, n_line, "1995-01-02", "2001-11-04"), ts),
    })
    lo, hi = _days("2024-01-01", "2024-01-31")
    # distinct, ascending event times: event_id order is arrival order
    ev_ts = np.sort(rng.choice((hi - lo) * _US_PER_DAY, n_ev, replace=False)) + lo * _US_PER_DAY
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts.astype(np.int64), ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": np.asarray([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], dtype=object),
    })
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write every table under ``out_dir`` (``<table>.parquet``) and return it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in build_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
