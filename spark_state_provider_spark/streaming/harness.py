"""The one run path for run-to-completion streaming queries.

:func:`drain` runs a ``DataStreamWriter`` whose sink is already set up
under ``Trigger.AvailableNow`` (every pending micro-batch, then stop — the
deterministic verification mode). It owns the run's settings (the state
partitions and the RocksDB state store, set only while the query starts),
the checkpoint, the timeout and the failure contract: a failed stream
re-raises its own exception, an unfinished one raises ``TimeoutError``; a
truncated result never comes back silently. Two sinks are built on it:

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
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window

from spark_state_provider_spark.scratch import scratch_dir
from spark_state_provider_spark.session import (
    ROCKSDB_PROVIDER,
    STATE_STORE_PROVIDER_CONF,
)

# How long any AvailableNow run may take before it counts as hung.
DRAIN_SECS = 180

# spark.conf is session-global: two runs starting at once would restore
# each other's values. A query copies its session conf when it starts (and
# records the state partitions in its offset log), so the lock covers the
# start only, not the run.
_START_LOCK = threading.Lock()


def state_partitions(master: str, cores: int, pin: int | None = None) -> int:
    """State-store partitions for a streaming run on ``master`` with
    ``cores`` default parallelism.

    At most one per core, so a small micro-batch runs as ONE task wave:
    every task has a fixed cost (a state-store load and commit per
    partition, and for Python state a worker round trip), and one wave
    measured 25-30% faster on JVM-only streams too. A local master
    is capped at real CPUs; max(8, cores // 2) stays the ceiling (local[32]:
    16 partitions beat 32, store commits dominate). ``pin`` sizes
    store-heavy topologies (stream-stream joins keep four stores per
    partition, JVM-side; measured best at 4). The env
    SSPS_STREAM_STATE_PARTS wins over both (deployment sizing, SCALE.md).
    """
    env = os.environ.get("SSPS_STREAM_STATE_PARTS")
    if env:
        return int(env)
    if pin is not None:
        return pin
    cpus = (os.cpu_count() if master.startswith("local") else None) or cores
    return min(cores, cpus, max(8, cores // 2))


def drain(
    writer: DataStreamWriter,
    checkpoint: str | None = None,
    state_parts: int | None = None,
) -> StreamingQuery:
    """Run ``writer`` with ``Trigger.AvailableNow`` until it has processed
    every pending micro-batch, then stop it.

    The query starts with :func:`state_partitions` shuffle partitions
    (``state_parts`` is the call-site pin) and the RocksDB state store; the
    caller's values of both confs are back in place once it has started.

    With ``checkpoint=None`` the run gets a scratch checkpoint that is
    removed afterwards (it lives under the pid-scoped scratch parent, so a
    process killed mid-stream leaks nothing past the dead-pid sweep). A
    caller that passes a path owns it: it can read state from it after the
    run or restart from it.

    Returns the stopped query (its progress stays readable). Raises the
    stream's own exception if the query failed, and ``TimeoutError`` if it
    did not finish within :data:`DRAIN_SECS`.
    """
    spark = writer._spark
    sc = spark.sparkContext
    run_conf = {
        "spark.sql.shuffle.partitions": str(
            state_partitions(sc.master, sc.defaultParallelism, state_parts)
        ),
        STATE_STORE_PROVIDER_CONF: ROCKSDB_PROVIDER,
    }
    ckpt = checkpoint
    if ckpt is None:
        ckpt = tempfile.mkdtemp(prefix="ckpt_", dir=scratch_dir("memck", wipe=False))
    try:
        writer = writer.option("checkpointLocation", ckpt).trigger(availableNow=True)
        with _START_LOCK:
            caller = {k: spark.conf.get(k, None) for k in run_conf}
            for k, v in run_conf.items():
                spark.conf.set(k, v)
            try:
                q = writer.start()
            finally:
                for k, v in caller.items():
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)
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
    return q


def batch_subdir(root: str, batch_id: int) -> str:
    """Per-micro-batch output directory (no '=' — not a partition column).

    foreachBatch can RE-RUN a batch after a task failure; appending from
    the function would then double-count. Writing each batch to its own
    deterministic subdirectory with mode("overwrite") makes the sink
    idempotent per batch_id — the exactly-once recipe the Structured
    Streaming docs prescribe for foreachBatch sinks."""
    return os.path.join(root, f"b{batch_id:05d}")


def run_to_memory(
    sdf: DataFrame, name: str, output_mode: str, state_parts: int | None = None
) -> DataFrame:
    """Drain ``sdf`` into the memory sink ``name``; return that table."""
    spark = sdf.sparkSession
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass
    drain(
        sdf.writeStream.format("memory").queryName(name).outputMode(output_mode),
        state_parts=state_parts,
    )
    return spark.table(name)


def run_upsert_table(
    sdf: DataFrame, key_cols: list[str], state_parts: int | None = None
) -> DataFrame:
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

    drain(
        sdf.writeStream.foreachBatch(append).outputMode("update"),
        state_parts=state_parts,
    )
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
