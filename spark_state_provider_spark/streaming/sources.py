"""Streaming sources over the driver testdata.

The reference's end-to-end test feeds a ``MemoryStream[PageVisit]`` in two
micro-batches (RedistateTest.scala:24,42-59). PySpark has no public
MemoryStream, so the deterministic analog is a *file* source: the events
table split into N time-ordered parquet files, streamed with
``maxFilesPerTrigger=1`` + ``Trigger.AvailableNow`` → N reproducible
micro-batches. At production scale the same code reads a Kafka topic or a
cloud-storage drop directory — only the ``readStream`` options change.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_state_provider_spark.tables import load_table
from spark_state_provider_spark.scratch import corpus_tag, scratch_base

# Slice builders are called lazily by every streaming query; when a test
# sweep overlaps independent queries from a thread pool (guide §2.6) two
# first-callers for the same corpus would otherwise rmtree/rewrite the
# SAME slice dir concurrently. Double-checked done-marker under one lock.
import threading

_BUILD_LOCK = threading.Lock()

EVENT_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def _slice_dir(tag: str, slices: Callable[[], list[DataFrame]]) -> str:
    """Write ``slices()`` once per process as ``slice=KKK`` parquet dirs
    (one file each) under the scratch dir ``tag``; return that dir.

    ``slices`` is called only when the dir is built, so a caller that finds
    it done runs no Spark job.
    """
    # pid-scoped: another process rmtree-ing the slice dir mid-stream would
    # yank files out from under an active FileStreamSource
    base = os.path.join(scratch_base(), f"{tag}_{os.getpid()}")
    done_marker = os.path.join(base, "_SSPS_DONE")
    if os.path.exists(done_marker):
        return base
    with _BUILD_LOCK:
        if os.path.exists(done_marker):  # built while we waited
            return base
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        for k, frame in enumerate(slices()):
            frame.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(base, f"slice={k:03d}")
            )
        open(done_marker, "w").close()
    return base


def _ordered_slices(df: DataFrame, n: int, *order: str) -> list[DataFrame]:
    """``n`` contiguous slices of ``df`` in ``order``, ``ceil(rows / n)``
    rows each (the last ones may be short or empty)."""
    df = df.orderBy(*order)
    per = (df.count() + n - 1) // n
    rank = F.row_number().over(Window.orderBy(*order)) - 1
    ranked = df.withColumn("_slice", F.floor(rank / per).cast("int"))
    return [ranked.where(F.col("_slice") == k).drop("_slice") for k in range(n)]


def _replay(spark: SparkSession, schema: str, path: str) -> DataFrame:
    """Stream a slice dir one file (= one micro-batch) per trigger."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


def split_events_dir(
    spark: SparkSession, sf_dir: str, n_batches: int = 2
) -> str:
    """Materialize events as ``n_batches`` time-ordered parquet files.

    File k holds the k-th time-contiguous slice, so streaming them in name
    order replays the stream in event-time order — a deterministic
    micro-batch schedule (the MemoryStream analog).

    The slice content is a pure function of (sf_dir, n_batches), so the
    materialized dir is SHARED across every caller in the process
    (round 7: each streaming query used to re-sort + re-write identical
    slices under a per-query tag, ~25 redundant writes per bench run;
    round 8 dropped the then-dead ``tag`` parameter so the sharing
    contract is visible in the API). Readers never mutate the dir and
    checkpoints are per-query, so sharing is safe.
    """
    return _slice_dir(
        f"ssps_stream_ev_{corpus_tag(sf_dir)}_{n_batches}",
        lambda: _ordered_slices(
            load_table(spark, sf_dir, "events"), n_batches, "ts", "event_id"
        ),
    )


def stream_events(
    spark: SparkSession, sf_dir: str, n_batches: int = 2
) -> DataFrame:
    """Streaming DataFrame replaying the events table in n micro-batches."""
    return _replay(
        spark, EVENT_SCHEMA, split_events_dir(spark, sf_dir, n_batches)
    )


DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def split_docs_dir(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 2,
    mod: int | None = None,
) -> str:
    """Materialize (a slice of) the documents table as ``n_batches``
    doc_id-ordered parquet files — the crawl-drop-directory analog for
    streaming document pipelines (q92). ``mod`` keeps only
    ``doc_id % mod == 0`` rows (the 'incoming batch' convention shared
    with q78's batch form)."""

    def slices() -> list[DataFrame]:
        docs = load_table(spark, sf_dir, "documents")
        if mod is not None:
            docs = docs.where(F.col("doc_id") % mod == 0)
        return _ordered_slices(docs, n_batches, "doc_id")

    return _slice_dir(
        f"ssps_stream_docs_{corpus_tag(sf_dir)}_{n_batches}_{mod}", slices
    )


def stream_docs(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 2,
    mod: int | None = None,
) -> DataFrame:
    """Streaming DataFrame replaying (a slice of) documents in n batches."""
    return _replay(
        spark, DOC_SCHEMA, split_docs_dir(spark, sf_dir, n_batches, mod)
    )


def split_events_hash_dir(
    spark: SparkSession, sf_dir: str, n_batches: int = 2
) -> str:
    """Materialize events as ``n_batches`` HASH-sliced parquet files
    (slice k = event_id % n_batches == k) — an OUT-OF-ORDER replay: every
    slice spans the full time range, so later micro-batches deliver rows
    behind the watermark. The late-data counterpart of
    ``split_events_dir``'s time-ordered schedule; equally deterministic
    (slice membership is a pure function of event_id)."""
    return _slice_dir(
        f"ssps_stream_ooo_{corpus_tag(sf_dir)}_{n_batches}",
        lambda: [
            load_table(spark, sf_dir, "events").where(
                F.col("event_id") % n_batches == k
            )
            for k in range(n_batches)
        ],
    )


def stream_events_out_of_order(
    spark: SparkSession, sf_dir: str, n_batches: int = 2
) -> DataFrame:
    """Streaming events where each micro-batch spans the whole time range
    (hash slices) — the deterministic late-arrival schedule."""
    return _replay(
        spark, EVENT_SCHEMA, split_events_hash_dir(spark, sf_dir, n_batches)
    )


EMB_SCHEMA = "vec_id bigint, embedding array<float>, label int"


def split_embeddings_dir(
    spark: SparkSession, sf_dir: str, n_batches: int = 2
) -> str:
    """Materialize the embeddings table as ``n_batches`` vec_id-sliced
    parquet files — the arrival schedule for streaming vector-index
    maintenance (assignment is per-row, so slice membership only fixes
    WHICH batch indexes a vector, never where it lands)."""
    return _slice_dir(
        f"ssps_stream_emb_{corpus_tag(sf_dir)}_{n_batches}",
        lambda: [
            load_table(spark, sf_dir, "embeddings").where(
                F.col("vec_id") % n_batches == k
            )
            for k in range(n_batches)
        ],
    )


def stream_embeddings(
    spark: SparkSession, sf_dir: str, n_batches: int = 2
) -> DataFrame:
    """Streaming DataFrame replaying embeddings in n micro-batches."""
    return _replay(
        spark, EMB_SCHEMA, split_embeddings_dir(spark, sf_dir, n_batches)
    )
