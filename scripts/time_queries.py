"""Min-of-3 noop-sink timing for a list of queries between the bench
controls — the bench protocol isolated for A/B experiments.

Usage: python scripts/time_queries.py q24s_stream_user_stats q181_session_timeout_state
Env:   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py; any Spark conf
       can be injected via SSPS_EXTRA_CONF="k=v,k2=v2".
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    extra = {}
    for kv in filter(None, os.environ.get("SSPS_EXTRA_CONF", "").split(",")):
        k, _, v = kv.partition("=")
        extra[k] = v
    spark = bench.open_session("time-queries", extra_conf=extra)
    print(f"controls@start: {bench.sample_controls(spark)}", flush=True)
    out = {}
    for name in sys.argv[1:]:
        runs = bench.noop_times(spark, name)
        out[name] = min(runs)
        print(f"{name}: min {min(runs):.3f}s  runs {runs}", flush=True)
    print("TOTAL_MIN", round(sum(out.values()), 3))
    print(f"controls@end: {bench.sample_controls(spark)}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
