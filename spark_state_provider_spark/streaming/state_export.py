"""State-export sink — honest parity for the reference's external KV
backends.

The reference's Redis/Aerospike providers make streaming state OBSERVABLE
from outside the running query (any client can GET a key —
RedisStateStoreProvider.scala:52-185, AerospikeStateStoreProvider.scala:
29-177). The Python rebuild pins Spark's native RocksDB store (a JVM SPI
cannot be implemented from Python — session.py rationale), which keeps the
durability/versioning semantics but loses that external observability.

This module closes the gap explicitly instead of silently: an export step
copies committed state into an external, engine-agnostic keyed layout
(parquet KV directory, hash-partitioned by key) that any system — including
a Redis/Aerospike loader — can ingest. Two forms:

* ``export_state_snapshot`` — one distributed copy of the latest (or a
  chosen) committed version, straight from the ``statestore`` reader.
* ``attach_state_export`` — a ``foreachBatch`` hook exporting after every
  micro-batch, the always-fresh variant a Redis-backed dashboard would use.

No row ever crosses the driver; the export is a partition-parallel write.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from spark_state_provider_spark.streaming.state_reader import read_state

DEFAULT_EXPORT_BUCKETS = 32


def export_state_snapshot(
    spark: SparkSession,
    checkpoint_location: str,
    out_dir: str,
    operator_id: int = 0,
    batch_id: int | None = None,
) -> str:
    """Export one committed state version as an external parquet KV copy.

    Layout: ``out_dir/state`` holding (partition_id, key struct, value
    struct) rows, repartitioned by key hash so an external loader can
    stream each file independently. Returns the export path.
    """
    df = read_state(spark, checkpoint_location, operator_id, batch_id=batch_id)
    path = os.path.join(out_dir, "state")
    df.repartition(DEFAULT_EXPORT_BUCKETS, "key").write.mode(
        "overwrite"
    ).parquet(path)
    return path


def read_exported_state(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read an exported KV copy back (what an external consumer sees)."""
    return spark.read.parquet(os.path.join(out_dir, "state"))


def attach_state_export(
    writer,
    checkpoint_location: str,
    out_dir: str,
    operator_id: int = 0,
    batch_handler=None,
):
    """Wrap a ``DataStreamWriter`` so every micro-batch is followed by a
    fresh state export — the continuously-updated external KV view the
    reference's Redis backend provides implicitly.

    ``batch_handler(batch_df, batch_id)`` is the caller's own output sink;
    it MUST run an action over the whole batch (Spark validates that
    foreachBatch processed every partition — STATE_STORE_COMMIT_VALIDATION).
    Pass None to only observe state; the hook then drains the batch through
    a noop write. The export inside the hook sees the newest
    ALREADY-COMMITTED version (batch N's own commit lands after the hook),
    i.e. the external view lags one micro-batch while the query runs; call
    :func:`export_state_snapshot` once after the run to publish the final
    version.

    Usage (the export reads the checkpoint, so the caller owns it)::

        drain(
            attach_state_export(
                df.writeStream.outputMode("update"), ckpt, export_dir
            ),
            ckpt,
        )
        export_state_snapshot(spark, ckpt, export_dir)
    """

    def export_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_handler is not None:
            batch_handler(batch_df, batch_id)
        else:
            batch_df.write.format("noop").mode("overwrite").save()
        try:
            export_state_snapshot(
                batch_df.sparkSession, checkpoint_location, out_dir, operator_id
            )
        except Exception:
            # batch 0: nothing committed yet — nothing to export
            if batch_id > 0:
                raise

    return writer.foreachBatch(export_batch)
