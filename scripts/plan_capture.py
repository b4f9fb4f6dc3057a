"""Capture .explain("formatted") output for headline queries into
plans/$SSPS_PLAN_ROUND/ (default r10).

Usage:
    python scripts/plan_capture.py before q110_bfs_distances q63c_tpch_q9 ...
    python scripts/plan_capture.py after q110_bfs_distances ...
    python scripts/plan_capture.py before memo:runs memo:truth ...

Writes plans/<round>/<name>_<tag>.txt. Memo builders are addressed as
``memo:<label>`` (the bench.py labels) and capture the UNPERSISTED build
plan — the shape the once-per-snapshot materialization actually executes.
Streaming queries (whose result frame is a drained sink read, not the
streaming plan) are captured too — the batch plan of the returned frame is
still what the bench's noop sink executes for the final read, and the
per-batch streaming plan is what tests pin — but the primary use is batch
queries.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_state_provider_spark import operators
from spark_state_provider_spark.operators import registry
from spark_state_provider_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SSPS_PLAN_ROUND", "r10"),
)


def _memo_frame(spark, label: str, sf_dir: str | None = None):
    """The UNPERSISTED build plan of a bench.py memo builder."""
    from spark_state_provider_spark.operators import dedup as _dedup
    from spark_state_provider_spark.operators import text as _text

    sf = sf_dir or SF_DIR
    if label == "q174:round":
        # One k-core pruning round AS EXECUTED (round-9 verdict #4: the
        # committed q174 plans captured only the post-localCheckpoint
        # Scan ExistingRDD — zero evidence). Reconstructs round 1 exactly
        # as q174_kcore_pruning's loop does: persisted bidirectional edge
        # set filtered by the size-adaptive broadcast survivor set on both
        # endpoints, then the degree aggregate.
        from pyspark.sql import functions as F

        from spark_state_provider_spark.operators.graph import (
            _LPA_BROADCAST_MAX,
            _lpa_graph,
        )

        edges_aug, nodes = _lpa_graph(spark, sf)
        edges = edges_aug.where(F.col("src") != F.col("dst"))
        n_active = nodes.count()

        def _side(col_alias):
            act = nodes.select(F.col("id").alias(col_alias))
            return (
                F.broadcast(act) if n_active <= _LPA_BROADCAST_MAX else act
            )

        return (
            edges.join(_side("src"), "src")
            .join(_side("dst"), "dst")
            .groupBy("src")
            .agg(F.count("*").alias("d"))
        )
    builders = {
        "memo:trigrams": lambda: _dedup._trigrams(spark, sf),
        "memo:pairs": lambda: _dedup.q28b_minhash_lsh(spark, sf).select(
            "id_a", "id_b"
        ),
        "memo:clusters": lambda: _dedup._clusters_persisted(spark, sf),
        "memo:truth": lambda: _dedup._truth_pairs_build(spark, sf),
        "memo:chartri": lambda: _text._chartri_counts_build(spark, sf),
        "memo:runs": lambda: _dedup._substring_runs(spark, sf),
        "memo:rebuilt1": lambda: _dedup.q231_span_removal_rewrite(
            spark, sf
        ),
        "memo:runs2": lambda: _dedup._runs_for_docs(
            _dedup._rebuilt1_persisted(spark, sf).select("doc_id", "text")
        ),
    }
    return builders[label]()


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    assert tag in ("before", "after"), tag
    os.makedirs(OUT_DIR, exist_ok=True)
    operators.load_all()
    spark = get_spark(app_name="plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        if name.startswith("memo:") or name == "q174:round":
            df = _memo_frame(spark, name)
            name = name.replace(":", "_")
        else:
            fn = registry.get(name).fn
            df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path} ({len(buf.getvalue())} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
