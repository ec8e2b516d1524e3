"""Seeded generator for the five tables the ``batch`` mix reads: supplier,
nation, orders, lineitem and events.

Each table has the columns and parquet types of the sf0.1 fixture of the
same name (TESTDATA.md), so the declared queries run on it unchanged, and
its row count is the fixture's times ``scale``. The value ranges and
distributions are set by hand (uniform keys and categories, exponential
event gaps and values); they are not fitted to the fixtures. Only the
values come from the seed.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Row counts of the sf0.1 fixtures; customer and part are not generated,
# their counts only bound the foreign keys.
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}
TABLES = ("supplier", "nation", "orders", "lineitem", "events")

_US = 1_000_000
_DAY_US = 86_400 * _US


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * _US


def _ts(values_us: np.ndarray) -> pa.Array:
    # naive timestamps (isAdjustedToUTC=false), as in the fixtures
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, start: tuple, span_days: int) -> pa.Array:
    return _ts(_epoch_us(*start) + rng.integers(0, span_days + 1, n) * _DAY_US)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n)], type=pa.string())


def _events(rng: np.random.Generator, n: int, start_us: int, mean_gap_s: float) -> pa.Table:
    """Events in event-time order: exponential gaps, uniform users and types."""
    ts = start_us + np.cumsum(rng.exponential(mean_gap_s * _US, n)).astype("int64")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, 1_500, n, dtype="int64")),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], type=pa.string()),
        }
    )


def build_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The tables in ``TABLES`` for ``seed``; ``scale`` multiplies the sf0.1
    row counts."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(c * scale))) for t, c in SF01_ROWS.items()}
    i32 = lambda a: pa.array(np.asarray(a, dtype="int32"))  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": i32(rng.integers(0, 25, ns)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no, dtype="int64")),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _days(rng, no, (1995, 1, 1), 2403),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    flags = rng.integers(0, 6, nl)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl, dtype="int64")),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl, dtype="int64")),
            "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype="int64")),
            "l_linenumber": i32(rng.integers(1, 8, nl)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(np.asarray(["A", "N", "R"], dtype=object)[flags // 2], type=pa.string()),
            "l_linestatus": pa.array(np.asarray(["F", "O"], dtype=object)[flags % 2], type=pa.string()),
            "l_shipdate": _days(rng, nl, (1995, 1, 2), 2498),
        }
    )
    ne = n["events"]
    t["events"] = _events(rng, ne, _epoch_us(2024, 1, 1), 30 * 86_400 / ne)
    return t


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write each table as ``<out_dir>/<name>.parquet`` (one row group,
    like the fixtures); returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, table.num_rows))
        rows[name] = table.num_rows
    return rows
