"""The one run path for run-to-completion streaming queries.

:func:`drain` runs a ``DataStreamWriter`` whose sink is already set up
under ``Trigger.AvailableNow`` (every pending micro-batch, then stop — the
deterministic verification mode). It owns the checkpoint, the timeout and
the failure contract: a failed stream re-raises its own exception, an
unfinished one raises ``TimeoutError``; a truncated result never comes
back silently. Two sinks are built on it:

* :func:`run_to_memory` — the memory sink, the reference's own test sink
  (RedistateTest.scala:33-38);
* :func:`run_upsert_table` — a merge-on-read keyed sink for update-mode
  stateful operators: each micro-batch writes its rows, tagged with the
  batch id, to its own subdirectory, and the latest row per key is
  resolved once, at read time. Per-batch cost follows the batch, not the
  keys already written.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window

from spark_state_provider_spark.scratch import scratch_dir

# How long any AvailableNow run may take before it counts as hung.
DRAIN_SECS = 180


def drain(writer: DataStreamWriter, checkpoint: str | None = None) -> None:
    """Run ``writer`` with ``Trigger.AvailableNow`` until it has processed
    every pending micro-batch, then stop it.

    With ``checkpoint=None`` the run gets a scratch checkpoint that is
    removed afterwards (it lives under the pid-scoped scratch parent, so a
    process killed mid-stream leaks nothing past the dead-pid sweep). A
    caller that passes a path owns it: it can read state from it after the
    run or restart from it.

    Raises the stream's own exception if the query failed, and
    ``TimeoutError`` if it did not finish within :data:`DRAIN_SECS`.
    """
    ckpt = checkpoint
    if ckpt is None:
        ckpt = tempfile.mkdtemp(prefix="ckpt_", dir=scratch_dir("memck", wipe=False))
    try:
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(DRAIN_SECS)
        finally:
            q.stop()
    finally:
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)
    if not finished:
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not drain within "
            f"{DRAIN_SECS}s"
        )


def batch_subdir(root: str, batch_id: int) -> str:
    """Per-micro-batch output directory (no '=' — not a partition column).

    foreachBatch can RE-RUN a batch after a task failure; appending from
    the function would then double-count. Writing each batch to its own
    deterministic subdirectory with mode("overwrite") makes the sink
    idempotent per batch_id — the exactly-once recipe the Structured
    Streaming docs prescribe for foreachBatch sinks."""
    return os.path.join(root, f"b{batch_id:05d}")


def run_to_memory(sdf: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drain ``sdf`` into the memory sink ``name``; return that table."""
    spark = sdf.sparkSession
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass
    drain(sdf.writeStream.format("memory").queryName(name).outputMode(output_mode))
    return spark.table(name)


def run_upsert_table(sdf: DataFrame, key_cols: list[str]) -> DataFrame:
    """Drain an update-mode stream and return, per key, the rows of the
    LAST micro-batch that emitted that key (lazy DataFrame).

    Merge-on-read: each micro-batch writes its rows plus ``batch_id`` to
    :func:`batch_subdir` under one root; the returned frame reads every
    batch and keeps each key's newest ``batch_id``. Update-mode stateful
    operators emit one row per CHANGED key per batch, so that is the
    latest row per key.
    """
    spark = sdf.sparkSession
    # the root nests under the pid-scoped scratch dir: the result reads it
    # lazily (cannot delete here), but the parent is removed at process
    # exit and stale copies from dead pids are swept
    root = tempfile.mkdtemp(prefix="run_", dir=scratch_dir("upsert", wipe=False))

    def append(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(batch_subdir(root, batch_id))

    drain(sdf.writeStream.foreachBatch(append).outputMode("update"))
    if not os.listdir(root):  # zero micro-batches: empty result, same schema
        return spark.createDataFrame([], schema=sdf.schema)
    schema = StructType([*sdf.schema.fields, StructField("batch_id", LongType())])
    newest = F.max("batch_id").over(Window.partitionBy(*key_cols))
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(root)
        .withColumn("_newest", newest)
        .where(F.col("batch_id") == F.col("_newest"))
        .drop("batch_id", "_newest")
    )
