"""transformWithStateInPandas tests: ValueState fold, native TTL wiring,
and timer-fired eviction (the progress-independent expiry the reference
claims over GroupState — its README.md:46-52)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_state_provider_spark.streaming.processor import HAS_TWS_DEPS

pytestmark = pytest.mark.skipif(
    not HAS_TWS_DEPS,
    reason="transformWithStateInPandas needs protobuf (not in this container)",
)

from spark_state_provider_spark import operators
from spark_state_provider_spark.streaming.harness import run_to_memory
from spark_state_provider_spark.streaming.processor import user_statistics_transform
from spark_state_provider_spark.streaming.sources import stream_events
from spark_state_provider_spark.tables import load_table

from tests.oracle import compare_query

operators.load_all()


def test_transform_with_state_matches_batch(spark, sf_dir):
    compare_query(spark, sf_dir, "q24t_transform_with_state")


def test_transform_native_ttl_matches_batch(spark, sf_dir):
    compare_query(spark, sf_dir, "q25t_transform_native_ttl")


def test_timer_eviction_fires_between_batches(spark, sf_dir):
    """Register an already-due processing-time timer in batch 1; Spark must
    fire handleExpiredTimer before batch 2, clearing state — so users with
    events in both batches restart their fold, and tombstone rows appear."""
    ev = stream_events(spark, sf_dir, 2)
    out = user_statistics_transform(ev, evict_after_ms=0)
    rows = run_to_memory(out, "mem_tws_evict", "update").collect()

    tombstones = [r for r in rows if r["total_visits"] == -1]
    assert tombstones, "expected timer-eviction tombstones"

    # after eviction between batches, a user's final fold covers only the
    # batches since the last eviction → strictly fewer visits than the
    # batch-global count for users spanning both slices
    finals = {}
    for r in rows:
        if r["total_visits"] >= 0:
            finals[r["user_id"]] = max(
                finals.get(r["user_id"], -1), r["total_visits"]
            )
    batch = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert any(finals[u] < batch[u] for u in finals), (finals, batch)
