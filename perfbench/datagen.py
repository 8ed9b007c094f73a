"""Seeded input tables for the benchmark.

Writes the star-schema tables (region, nation, customer, supplier, part,
orders, lineitem) and the ``events`` table as one SNAPPY parquet file each,
``{out_dir}/{table}.parquet``, in the layout and value domains the
library's registry queries expect: names such as ``NATION_3`` and
``EUROPE``, part names such as ``hot bolt``, order dates 1995-01-01 to
2001-08-01, naive (not UTC-adjusted) microsecond timestamps.

Every value is drawn from one ``numpy`` generator seeded with ``seed``, so
the same (seed, scale) writes byte-identical tables, and row counts depend
only on ``scale``, never on the seed. At scale 0.1 the tables hold 600k
lineitem rows and 100k events.

The distributions follow the project's seed-42 test fixtures (checked at
scale 0.1, see NOTES.md): uniform event types, users, keys and flags,
event values exponential with mean 50, about four lines per order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "signup", "purchase", "error")

_DAY_US = 86_400 * 1_000_000


def _days(iso: str) -> int:
    return int(np.datetime64(iso, "D").astype(np.int64))


def _timestamps(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _day_range(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    days = rng.integers(_days(first), _days(last) + 1, n)
    return _timestamps(days * _DAY_US)


def star_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = 4 * n_ord
    i32 = pa.int32()
    region = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.asarray(ADJECTIVES, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(NOUNS, dtype=object)[rng.integers(0, 8, n_part)]
    part = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _day_range(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _day_range(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def events_table(rng: np.random.Generator, n_events: int, n_users: int) -> pa.Table:
    """``n_events`` events over 30 days of January 2024, ``event_id`` in
    timestamp order."""
    start = _days("2024-01-01") * _DAY_US
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, n_events))
    return pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _timestamps(ts),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
            ),
        }
    )


def write_tables(out_dir: str, seed: int, scale: float, star: bool = True) -> dict:
    """Write ``events`` (and the star tables if ``star``) under ``out_dir``;
    returns {table: row count}."""
    rng = np.random.default_rng(seed)
    tables = star_tables(rng, scale) if star else {}
    tables["events"] = events_table(
        rng, int(1_000_000 * scale), max(1, int(15_000 * scale))
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy"
        )
    return {name: table.num_rows for name, table in tables.items()}
