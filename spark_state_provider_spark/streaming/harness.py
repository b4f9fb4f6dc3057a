"""The one run path for run-to-completion streaming queries.

:func:`drain` runs a ``DataStreamWriter`` whose sink is already set up
under ``Trigger.AvailableNow`` (every pending micro-batch, then stop — the
deterministic verification mode). It owns the run's settings (the state
partitions and the RocksDB state store, set only while the query starts),
the checkpoint, the timeout and the failure contract: a failed stream
re-raises its own exception, an unfinished one raises ``TimeoutError``; a
truncated result never comes back silently. Three result readers are
built on it:

* :func:`run_to_memory` — the memory sink, the reference's own test sink
  (RedistateTest.scala:33-38);
* :func:`run_to_state` — no sink copy at all for folds whose answer is
  their state: the stream drains into ``noop`` and the result is read
  from the committed state store (the reference's ``latestIterator``);
* :func:`run_to_parquet` — the idempotent ``foreachBatch`` sink: each
  micro-batch's output overwrites its own parquet directory, and the
  result reads every batch's output back.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from spark_state_provider_spark.scratch import scratch_dir
from spark_state_provider_spark.session import (
    ROCKSDB_PROVIDER,
    STATE_STORE_PROVIDER_CONF,
)
from spark_state_provider_spark.streaming.state_reader import read_state

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


def _batch_subdir(root: str, batch_id: int) -> str:
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
    spark.catalog.dropTempView(name)
    drain(
        sdf.writeStream.format("memory").queryName(name).outputMode(output_mode),
        state_parts=state_parts,
    )
    return spark.table(name)


def run_to_state(
    sdf: DataFrame,
    project: Callable[[DataFrame], DataFrame],
    state_parts: int | None = None,
) -> DataFrame:
    """Drain an update-mode stateful stream into the ``noop`` sink and
    return ``project`` applied to its committed state (lazy DataFrame).

    ``project`` maps the :func:`read_state` rows (``key`` and ``value``
    structs) to the answer's columns. The result is the LIVE state: a key
    whose state the handler removed is absent, whatever it emitted before.
    When no micro-batch committed (an empty source) the result is empty,
    with ``sdf``'s schema.
    """
    spark = sdf.sparkSession
    # the checkpoint nests under the pid-scoped scratch dir: the result
    # reads it lazily (cannot delete here), but the parent is removed at
    # process exit and stale copies from dead pids are swept
    ckpt = tempfile.mkdtemp(prefix="ckpt_", dir=scratch_dir("state", wipe=False))
    drain(
        sdf.writeStream.format("noop").outputMode("update"), ckpt, state_parts
    )
    if not os.listdir(os.path.join(ckpt, "commits")):
        return spark.createDataFrame([], sdf.schema)
    return project(read_state(spark, ckpt))


def run_to_parquet(
    sdf: DataFrame,
    name: str,
    schema: str,
    step: Callable[[DataFrame, Callable[[DataFrame], None]], None],
) -> DataFrame:
    """Drain ``sdf`` through ``foreachBatch`` as the query ``name`` and
    return every batch's output, read back with ``schema`` (lazy).

    ``step(batch_df, emit)`` does one micro-batch's work and calls
    ``emit(df)`` once with that batch's output, which is written with
    ``mode("overwrite")`` to the batch's own directory, so a re-run batch
    replaces its output instead of adding to it. Work after ``emit`` (a
    seen-set the next batch reads, an unpersist) runs after the write.
    With no micro-batch (an empty source) the result is empty, with
    ``schema``'s columns.
    """
    # a fresh dir per call under the pid-scoped scratch parent (as
    # run_to_state's checkpoint): the lazy result keeps reading it, and
    # the parent is removed at process exit
    out = tempfile.mkdtemp(prefix="out_", dir=scratch_dir("parquet", wipe=False))

    def each(batch_df: DataFrame, batch_id: int) -> None:
        step(
            batch_df,
            lambda df: df.write.mode("overwrite").parquet(
                _batch_subdir(out, batch_id)
            ),
        )

    drain(sdf.writeStream.queryName(name).foreachBatch(each))
    return (
        sdf.sparkSession.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(out)
    )
