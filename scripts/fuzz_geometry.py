"""Drive a fuzz family under the ADVERSARIAL session geometry
(local[3], shuffle=7, AQE off) — the second axis of the fuzz × geometry
matrix. The pytest fixtures prove each family on the tuned session; this
script re-proves it where partition counts, sort boundaries, and
tie-break exposure are maximally different.

Usage: python scripts/fuzz_geometry.py [multibyte|text] [seeds...]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from spark_state_provider_spark import operators
from spark_state_provider_spark.operators import registry

operators.load_all()


def adversarial_session() -> SparkSession:
    return (
        SparkSession.builder.master("local[3]")
        .appName("fuzz-geometry")
        .config("spark.sql.shuffle.partitions", "7")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def main() -> int:
    import pathlib

    from tests import test_round6b_fuzz as fz
    from tests.oracle import compare_query

    family = sys.argv[1] if len(sys.argv) > 1 else "multibyte"
    seeds = [int(a) for a in sys.argv[2:]] or [7, 42, 1337]
    builders = {"multibyte": fz._fuzz_multibyte_docs, "text": fz._fuzz_docs}
    if family not in builders:
        print(f"family must be one of {sorted(builders)}", file=sys.stderr)
        return 2
    build = builders[family]
    names = registry.family(family)
    spark = adversarial_session()
    spark.sparkContext.setLogLevel("ERROR")
    n_ok = n_fail = 0
    for seed in seeds:
        tmp = pathlib.Path(tempfile.mkdtemp(prefix=f"fuzzgeo_{family}_{seed}_"))
        sf = fz._fixture_dir(tmp, build(seed))
        for name in names:
            try:
                compare_query(spark, sf, name)
                n_ok += 1
            except Exception as e:
                n_fail += 1
                print(f"FAIL seed={seed} {name}: {str(e)[:200]}", flush=True)
        print(f"# seed {seed}: done ({n_ok} ok so far)", flush=True)
    print(f"{n_ok}/{n_ok + n_fail} ORACLE-MATCH under local[3]/shuffle=7/AQE-off")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
