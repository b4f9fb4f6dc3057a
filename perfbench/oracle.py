"""Correctness gate: each workload query against its registered DuckDB oracle.

The comparison follows the contract of ``__spark_entry__.py``: same
column-name set, same row count, and the same multiset of values with
floats compared exactly. Only the tables present in the generated directory get a view.
"""

from __future__ import annotations

import datetime
import math
import os
from decimal import Decimal

import duckdb


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    return a == b


def _sorted_rows(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=cols.__getitem__)
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda row: tuple((x is None, str(x)) for x in row))
    return [cols[i] for i in order], out


def mismatch(spark, sf_dir: str, spec) -> str | None:
    """Run ``spec`` (a registry entry) and its oracle on ``sf_dir``; return
    None when they agree, else a one-line reason."""
    df = spec.fn(spark, sf_dir)
    s_cols, s_rows = _sorted_rows(list(df.columns), df.collect())
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(sf_dir, f)
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        cur = con.execute(spec.oracle)
        d_cols, d_rows = _sorted_rows([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    if s_cols != d_cols:
        return f"columns differ: spark={s_cols} duckdb={d_cols}"
    if len(s_rows) != len(d_rows):
        return f"row count differs: spark={len(s_rows)} duckdb={len(d_rows)}"
    if not s_rows:
        return "empty result: the workload input exercises nothing"
    for sr, dr in zip(s_rows, d_rows):
        if not all(_equal(a, b) for a, b in zip(sr, dr)):
            return f"values differ: spark={sr} duckdb={dr}"
    return None
