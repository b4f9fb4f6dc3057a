"""Driver-replica verification: exercise the __spark_entry__ contract the way
the round driver does — a plain SparkSession (none of our tuned defaults),
entry() smoke at sf0.001, then every queries() entry vs its oracle_sql() on
DuckDB at sf0.01 (row count + sorted-column names + order-insensitive values).

Usage: python scripts/driver_replica.py [sf_dir]
"""

from __future__ import annotations

import datetime
import math
import os
import sys
import time
from decimal import Decimal

import duckdb
from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb
    return a == b


def plain_session(app_name: str = "driver-replica") -> SparkSession:
    """Deliberately plain session — the driver won't use our tuned builder.

    Besides the UI switch it sets only the Python workers' path (the
    checkout), so a handler that pickles a package function runs from any
    working directory. Env overrides turn this into the adversarial-geometry
    determinism sweep (e.g. SSPS_REPLICA_MASTER=local[3]
    SSPS_REPLICA_SHUFFLE=7 SSPS_REPLICA_AQE=false): results must be
    identical under ANY parallelism/partitioning, or an operator is
    order-dependent.
    """
    builder = (
        SparkSession.builder.master(
            os.environ.get("SSPS_REPLICA_MASTER", "local[8]")
        )
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", ROOT)
    )
    if os.environ.get("SSPS_REPLICA_SHUFFLE"):
        builder = builder.config(
            "spark.sql.shuffle.partitions", os.environ["SSPS_REPLICA_SHUFFLE"]
        )
    if os.environ.get("SSPS_REPLICA_AQE"):
        builder = builder.config(
            "spark.sql.adaptive.enabled", os.environ["SSPS_REPLICA_AQE"]
        )
    return builder.getOrCreate()


def main() -> int:
    spark = plain_session()
    import __spark_entry__ as e

    t0 = time.time()
    df = e.entry(spark)
    rows = df.collect()
    print(f"entry: {len(rows)} rows, schema={df.schema.simpleString()[:120]} "
          f"({time.time()-t0:.1f}s)")
    assert len(rows) > 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    only = os.environ.get("SSPS_REPLICA_ONLY")  # comma-list of canonical names
    if only:
        import re

        strip = re.compile(r"^(y_|z\d+_)")
        wanted = set(only.split(","))
        qs = {n: f for n, f in qs.items() if strip.sub("", n) in wanted}
        oracles = {n: o for n, o in oracles.items() if strip.sub("", n) in wanted}
    print(f"{len(qs)} queries, {len(oracles)} with oracles; sf_dir={SF_DIR}")
    failures = []
    for name, fn in sorted(qs.items()):
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            cols = sorted(sdf.columns)
            srows = sorted(
                [tuple(norm(r[c]) for c in cols) for r in sdf.collect()],
                key=lambda t: tuple((x is None, str(x)) for x in t),
            )
            status = f"{len(srows):>7} rows"
            if name in oracles:
                cur = con.execute(oracles[name])
                dcols_raw = [d[0] for d in cur.description]
                order = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
                dcols = [dcols_raw[i] for i in order]
                drows = sorted(
                    [tuple(norm(r[i]) for i in order) for r in cur.fetchall()],
                    key=lambda t: tuple((x is None, str(x)) for x in t),
                )
                if cols != dcols:
                    raise AssertionError(f"cols {cols} != {dcols}")
                if len(srows) != len(drows):
                    raise AssertionError(f"rows {len(srows)} != {len(drows)}")
                bad = [
                    (s, d)
                    for s, d in zip(srows, drows)
                    if not all(eq(a, b) for a, b in zip(s, d))
                ]
                if bad:
                    raise AssertionError(f"{len(bad)} value mismatches, first: {bad[0]}")
                status += " ORACLE-MATCH"
            else:
                status += " (rows-only)"
            print(f"  {name:<28} {status}  {time.time()-t0:.1f}s")
        except Exception as ex:
            failures.append((name, ex))
            print(f"  {name:<28} FAIL: {str(ex)[:200]}")
    spark.stop()
    print(f"\n{len(qs) - len(failures)}/{len(qs)} ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
