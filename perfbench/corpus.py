"""Seeded input generator for the benchmark.

Writes the tables the workloads read, one parquet file each, in the layout
``spark_state_provider_spark.tables`` loads (``<dir>/<name>.parquet``) and
with the schemas of the repository's test data (``TESTDATA.md``). The same seed and sizes always give
the same files, and the program under test only ever sees the files.

All numerics are 2-decimal values, as in the testdata, so the DuckDB oracles'
exact DECIMAL sums hold on generated data too.
"""

from __future__ import annotations

import datetime
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
NAME_ADJ = ("red", "new", "hot", "cold", "small", "big", "old", "blue")
NAME_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut")

_EVENTS_EPOCH = datetime.datetime(2024, 1, 1)
_ORDER_FIRST = datetime.datetime(1995, 1, 1)
_ORDER_DAYS = (datetime.datetime(2001, 8, 1) - _ORDER_FIRST).days
_US_PER_DAY = 86_400 * 1_000_000


@dataclass(frozen=True)
class EventsSpec:
    rows: int
    users: int
    skew: float  # Zipf exponent of user activity
    days: int


@dataclass(frozen=True)
class EventsInfo:
    """What the generator knows about the events it wrote."""

    rows: int
    # distinct users per slice of the time-ordered n-slice replay, keyed by
    # n: the input keys of each micro-batch the streaming queries run
    slice_keys: dict[int, list[int]]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, columns: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def write_events(
    out_dir: str, rng: np.random.Generator, spec: EventsSpec, slicings=(2, 4)
) -> EventsInfo:
    """Write ``events.parquet``: user activity skewed by a Zipf-like law
    over a random permutation of user ids, timestamps spread over
    ``spec.days`` days, event ids in time order."""
    weights = 1.0 / np.arange(1, spec.users + 1) ** spec.skew
    ids = rng.permutation(spec.users)
    users = ids[rng.choice(spec.users, spec.rows, p=weights / weights.sum())]
    offsets = np.sort(rng.integers(0, spec.days * _US_PER_DAY, spec.rows))
    ts = np.datetime64(_EVENTS_EPOCH, "us") + offsets.astype("timedelta64[us]")
    kinds = rng.integers(0, len(EVENT_TYPES), spec.rows)
    _write(
        out_dir,
        "events",
        {
            "event_id": pa.array(np.arange(spec.rows, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[kinds]),
            "value": pa.array(np.round(rng.gamma(2.0, 40.0, spec.rows), 2)),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, spec.rows)]
            ),
        },
    )
    # the replay cuts the (ts, event_id) order into ceil(n / k)-row ranges
    slice_keys = {}
    for k in slicings:
        per = -(-spec.rows // k)
        slice_keys[k] = [
            int(np.unique(users[i * per : (i + 1) * per]).size) for i in range(k)
        ]
    return EventsInfo(rows=spec.rows, slice_keys=slice_keys)


def write_tpch(out_dir: str, rng: np.random.Generator, sf: float) -> int:
    """Write the TPC-H-ish star schema at scale ``sf``; returns its rows."""
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 25)
    n_part, n_orders = int(200_000 * sf), int(1_500_000 * sf)

    _write(
        out_dir,
        "region",
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        },
    )
    _write(
        out_dir,
        "nation",
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
    )
    _write(
        out_dir,
        "customer",
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(
                np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n_cust)]
            ),
        },
    )
    _write(
        out_dir,
        "supplier",
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        },
    )
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    _write(
        out_dir,
        "part",
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                [
                    f"{NAME_ADJ[a]} {NAME_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(
                np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)]
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(retail),
        },
    )
    order_day = rng.integers(0, _ORDER_DAYS + 1, n_orders)
    order_date = np.datetime64(_ORDER_FIRST, "D") + order_day.astype("timedelta64[D]")
    _write(
        out_dir,
        "orders",
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
            "o_orderstatus": pa.array(
                np.array(("F", "O", "P"))[rng.integers(0, 3, n_orders)]
            ),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders)),
            "o_orderdate": pa.array(order_date.astype("datetime64[us]")),
            "o_orderpriority": pa.array(
                np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), n_orders)]
            ),
        },
    )
    lines = rng.integers(1, 8, n_orders)
    n_lines = int(lines.sum())
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    l_number = np.arange(n_lines) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    l_part = rng.integers(0, n_part, n_lines)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    ship = order_date[l_order] + rng.integers(1, 96, n_lines).astype("timedelta64[D]")
    _write(
        out_dir,
        "lineitem",
        {
            "l_orderkey": pa.array(l_order),
            "l_partkey": pa.array(l_part),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines)),
            "l_linenumber": pa.array(l_number.astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * retail[l_part], 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
            "l_returnflag": pa.array(
                np.array(("A", "N", "R"))[rng.integers(0, 3, n_lines)]
            ),
            "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(0, 2, n_lines)]),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        },
    )
    return 30 + n_cust + n_supp + n_part + n_orders + n_lines
