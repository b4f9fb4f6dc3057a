"""Time the bench.py memo builds exactly the way bench.py does (one
build-and-count per label, in bench order, fresh session), between the
pinned controls.

Usage: python scripts/time_memos.py
Env:   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    spark = bench.open_session("time-memos")
    print(f"controls@start: {bench.sample_controls(spark)}", flush=True)
    memo = bench.build_memos(spark)
    print(f"memo total: {sum(memo.values()):.3f}s", flush=True)
    print(f"controls@end: {bench.sample_controls(spark)}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
