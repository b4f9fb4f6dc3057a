"""Replay-slice layout: every slice builder writes one ``slice=KKK`` dir per
micro-batch, the slices partition the source table, and the time-ordered
events replay never lets a later batch start before an earlier one ends."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from spark_state_provider_spark.streaming.sources import (
    split_docs_dir,
    split_embeddings_dir,
    split_events_dir,
    split_events_hash_dir,
)
from spark_state_provider_spark.tables import load_table

BUILDERS = (
    (split_events_dir, "events"),
    (split_docs_dir, "documents"),
    (split_events_hash_dir, "events"),
    (split_embeddings_dir, "embeddings"),
)


@pytest.mark.parametrize(
    "build, table", BUILDERS, ids=[b.__name__ for b, _ in BUILDERS]
)
def test_slices_partition_the_table(spark, sf_dir, build, table):
    path = build(spark, sf_dir, 2)
    slices = sorted(e for e in os.listdir(path) if e != "_SSPS_DONE")
    assert slices == ["slice=000", "slice=001"]
    rows = sum(
        spark.read.parquet(os.path.join(path, s)).count() for s in slices
    )
    assert rows == load_table(spark, sf_dir, table).count()


def test_event_slices_are_time_ordered(spark, sf_dir):
    path = split_events_dir(spark, sf_dir, 2)
    first, second = (
        spark.read.parquet(os.path.join(path, s)).agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi")
        ).first()
        for s in ("slice=000", "slice=001")
    )
    assert first["hi"] <= second["lo"]
