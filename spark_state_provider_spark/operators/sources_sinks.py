"""Source/sink format coverage beyond parquet (SURVEY.md §2-C Q1/Q2).

The reference delegates all I/O to Spark ("file-format implementations: it
depends on whatever Spark provides" — SURVEY.md §2-C); the rebuild's surface
is the native DataFrameReader/Writer matrix. Round-trips are exercised on
the small dimension tables (schema-explicit reads — never inference in a
production path — and deterministic contents for the oracle).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_state_provider_spark.operators.registry import register
from spark_state_provider_spark.scratch import corpus_tag
from spark_state_provider_spark.streaming.harness import drain
from spark_state_provider_spark.tables import load_table


def _out(sf_dir: str, name: str) -> str:
    # pid-scoped: concurrent processes must not race on overwrite-vs-read;
    # exit-time cleanup + dead-pid sweep via the shared scratch module
    from spark_state_provider_spark.scratch import scratch_dir

    return scratch_dir(
        f"{name}_{corpus_tag(sf_dir)}", wipe=False
    )


@register(
    "q02b_csv_roundtrip",
    oracle="SELECT r_regionkey, r_name FROM region",
    families=(),
)
def q02b_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + schema-explicit CSV source round-trip."""
    out = _out(sf_dir, "csv")
    load_table(spark, sf_dir, "region").write.mode("overwrite").option(
        "header", True
    ).csv(out)
    return spark.read.schema("r_regionkey int, r_name string").option(
        "header", True
    ).csv(out)


@register(
    "q02c_json_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    families=(),
)
def q02c_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema-explicit JSON source round-trip."""
    out = _out(sf_dir, "json")
    load_table(spark, sf_dir, "nation").write.mode("overwrite").json(out)
    return (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .json(out)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@register(
    "q02d_partitioned_sink",
    oracle="""
    SELECT o_orderpriority, count(*) AS n
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
    families=(),
)
def q02d_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink (partition pruning on read-back).

    The 100 TB layout decision: partitionBy on a low-cardinality column so
    downstream per-priority reads prune files instead of scanning.
    """
    out = _out(sf_dir, "part_parquet")
    o = load_table(spark, sf_dir, "orders").where("o_orderstatus = 'O'")
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    # explicit schema: a zero-row partitioned write emits no data files,
    # so schema inference on read-back would fail (empty-corpus contract)
    back = spark.read.schema(o.schema).parquet(out)
    return back.groupBy("o_orderpriority").count().withColumnRenamed("count", "n")


@register(
    "q02e_orc_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    families=(),
)
def q02e_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip (the third columnar format after
    parquet/CSV/JSON; same pushdown/pruning surface as parquet)."""
    out = _out(sf_dir, "orc")
    load_table(spark, sf_dir, "supplier").write.mode("overwrite").orc(out)
    return spark.read.orc(out).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


_SYNTH_N = 10_000
_SYNTH_PARTS = 8


@register(
    "q37_python_datasource",
    oracle=f"""
    SELECT CAST(i % 10 AS INTEGER) AS bucket,
           count(*) AS n,
           CAST(SUM(CAST((i * 2654435761) % 1000 AS BIGINT)) AS DOUBLE) / 100
               AS sum_score
    FROM generate_series(0, {_SYNTH_N - 1}) t(i)
    GROUP BY 1
    """,
    families=(),
)
def q37_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (PySpark 4 extensibility SPI): partitioned
    deterministic generator registered by name, read in parallel, then
    aggregated. sum_score sums exact int64 hundredths before one double
    division, so the oracle matches bit-for-bit."""
    from spark_state_provider_spark.sources.python_source import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    df = (
        spark.read.format("ssps_synthetic")
        .option("n", _SYNTH_N)
        .option("parts", _SYNTH_PARTS)
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count("*").alias("n"),
        (
            F.sum(F.round(F.col("score") * 100).cast("long")).cast("double") / 100
        ).alias("sum_score"),
    )


N_RANGE_FILES = 8


@register(
    "q48_range_layout",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    """,
    families=(),
)
def q48_range_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered parquet layout: repartitionByRange(l_shipdate) +
    sortWithinPartitions, then a time-predicate read-back.

    The 100 TB file-skipping lever for high-cardinality sort keys (where
    hive partitionBy would explode into millions of dirs): range
    repartitioning gives each output file a DISJOINT l_shipdate min/max
    span, so a date-range read prunes whole files from the parquet footer
    before any row decoding. tests/test_scale_patterns.py inspects the
    written footers and asserts the spans really are disjoint.
    """
    out = _out(sf_dir, "range_parquet")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"
    )
    (
        li.repartitionByRange(N_RANGE_FILES, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out).where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )


# ---------------------------------------------------------------------------
# Q56 — Z-ORDER layout: multi-dimensional file clustering. q48 clusters on
# ONE key; real workloads filter on several. Interleaving the bits of two
# keys into one z-value and range-clustering on it gives files that are
# rectangles in (partkey, suppkey) space — a 2-D rectangle predicate then
# prunes whole files from parquet footers on EITHER or BOTH keys.
# The interleave is plain integer shift/mask arithmetic, identical in both
# engines, so the operator (including the z-value) is oracle-checked.
# ---------------------------------------------------------------------------

_Z_BITS = 24  # 24 bits/key → 48-bit z-value; keys < 2^24 (16.7M — TPC-H
# partkeys up to sf≈80) interleave without truncation. Beyond that, raise
# _Z_BITS (≤26 keeps the z-value inside int64 comfortably) — truncated
# high bits would silently fold distant key ranges into the same z-range
# and destroy footer pruning.
_Z_FILES = 8
# rectangle predicate: chosen non-empty at every sf (keys start at 0)
_Z_P_LO, _Z_P_HI = 16, 63
_Z_S_LO, _Z_S_HI = 0, 7


def _z_sql(c1: str, c2: str) -> str:
    """Bit-interleave SQL (c1 odd bits, c2 even), same text both dialects."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({c1} >> {i}) & 1) * {1 << (2 * i + 1)})")
        terms.append(f"((({c2} >> {i}) & 1) * {1 << (2 * i)})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "q56_zorder_layout",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           {_z_sql("l_partkey", "l_suppkey")} AS zval
    FROM lineitem
    WHERE l_partkey BETWEEN {_Z_P_LO} AND {_Z_P_HI}
      AND l_suppkey BETWEEN {_Z_S_LO} AND {_Z_S_HI}
    """,
    families=(),
)
def q56_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered parquet layout + a 2-D rectangle read-back.

    Write path: z-value = bit-interleave(l_partkey, l_suppkey) (narrow
    map), repartitionByRange(zval) + sortWithinPartitions — each output
    file covers a disjoint z-range, i.e. a bounded rectangle stack in key
    space. Read path: a (partkey × suppkey) rectangle predicate; with the
    curve property, matching rows concentrate in few files (asserted on
    real footers in tests/test_scale_patterns.py). At 100 TB this is the
    difference between scanning every file for a two-column filter and
    opening the handful whose z-span intersects the query rectangle.
    """
    out = _out(sf_dir, "zorder_parquet")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    z = li.withColumn("zval", F.expr(_z_sql("l_partkey", "l_suppkey")))
    (
        z.repartitionByRange(_Z_FILES, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out).where(
        F.col("l_partkey").between(_Z_P_LO, _Z_P_HI)
        & F.col("l_suppkey").between(_Z_S_LO, _Z_S_HI)
    )


# ---------------------------------------------------------------------------
# q65 — schema evolution on read: two parquet drops with different schemas
# (a column added later) merged into one logical table. The data-lake
# reality check: historical files never get rewritten when the schema
# grows, so the reader must widen with NULLs for pre-evolution rows.
# ---------------------------------------------------------------------------


@register(
    "q65_schema_evolution",
    oracle="""
    WITH unioned AS (
        SELECT event_id, user_id, NULL AS channel
        FROM events WHERE event_id % 2 = 0
        UNION ALL
        SELECT event_id, user_id, event_type AS channel
        FROM events WHERE event_id % 2 = 1
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CASE WHEN channel IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_legacy,
           CAST(count(DISTINCT channel) AS BIGINT) AS n_channels
    FROM unioned
    GROUP BY user_id
    """,
    families=("tpch", "bench"),
)
def q65_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an old-schema drop (even event_ids, no `channel` column) and a
    new-schema drop (odd event_ids, with `channel`), read them back as ONE
    table via mergeSchema, and aggregate across the evolution boundary.

    Scale notes: schema merging is a FOOTER-level operation (Spark reads
    each file's schema from metadata, not data); pre-evolution rows
    surface NULL for the new column with no rewrite of historical files —
    the only scalable answer when the 100 TB history predates the column.
    """
    out = _out(sf_dir, "evolving_parquet")
    ev = load_table(spark, sf_dir, "events")
    old = ev.where(F.col("event_id") % 2 == 0).select("event_id", "user_id")
    new = ev.where(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", F.col("event_type").alias("channel")
    )
    old.write.mode("overwrite").parquet(os.path.join(out, "drop=0"))
    new.write.mode("overwrite").parquet(os.path.join(out, "drop=1"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "drop=0"), os.path.join(out, "drop=1")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("channel").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_legacy"),
        F.count_distinct("channel").alias("n_channels"),
    )


# ---------------------------------------------------------------------------
# q66 — STREAMING custom Python data source: the same deterministic
# generator exposed through PySpark 4's SimpleDataSourceStreamReader,
# drained micro-batch by micro-batch (dict offsets checkpointed by Spark,
# deterministic readBetweenOffsets replay = exactly-once under recovery).
# Complete-mode aggregate ⇒ final sink equals the batch computation ⇒ the
# q37 oracle applies verbatim.
# ---------------------------------------------------------------------------


@register(
    "q66_python_stream_source",
    oracle=f"""
    SELECT CAST(i % 10 AS INTEGER) AS bucket,
           count(*) AS n,
           CAST(SUM(CAST((i * 2654435761) % 1000 AS BIGINT)) AS DOUBLE) / 100
               AS sum_score
    FROM generate_series(0, {_SYNTH_N - 1}) t(i)
    GROUP BY 1
    """,
    families=("tpch",),
)
def q66_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read from the custom Python source ({_SYNTH_N} rows in
    {_SYNTH_N // 2500}+ micro-batches), aggregated across batches.

    The source side of the reference's plug-a-backend-into-an-SPI pattern,
    on the streaming path: offsets are checkpointed dicts, every slice is
    regenerable, so failure recovery replays identical rows.
    """
    from spark_state_provider_spark.sources.python_source import (
        register_synthetic_stream_source,
    )

    import tempfile as _tf
    import time as _time

    spark.catalog.dropTempView("mem_q66") if spark.catalog.tableExists(
        "mem_q66"
    ) else None
    register_synthetic_stream_source(spark)
    stream = (
        spark.readStream.format("ssps_synthetic_stream")
        .option("n", _SYNTH_N)
        .option("batch", 2500)
        .load()
    )
    agg = stream.groupBy("bucket").agg(
        F.count("*").alias("n"),
        (
            F.sum(F.round(F.col("score") * 100).cast("long")).cast("double") / 100
        ).alias("sum_score"),
    )
    # availableNow drains only ONE prefetched slice of a simple stream
    # reader, so drive with a continuous trigger and stop once the sink
    # holds the whole range (complete mode ⇒ final state == batch result).
    from spark_state_provider_spark.scratch import scratch_dir

    ckpt = _tf.mkdtemp(prefix="q66_", dir=scratch_dir("memck", wipe=False))
    q = (
        agg.writeStream.format("memory")
        .queryName("mem_q66")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = _time.time() + 180
        while _time.time() < deadline:
            if not q.isActive:
                # surface the real stream failure, never mask it as timeout
                exc = q.exception()
                raise RuntimeError(f"q66 stream terminated early: {exc}")
            rows = spark.sql("SELECT sum(n) AS t FROM mem_q66").collect()
            if rows and rows[0]["t"] == _SYNTH_N:
                break
            _time.sleep(0.5)
        else:
            raise TimeoutError("q66 stream did not drain the full range")
    finally:
        q.stop()
        # ephemeral per-invocation checkpoint — remove, don't leak across runs
        import shutil as _sh

        _sh.rmtree(ckpt, ignore_errors=True)
    return spark.table("mem_q66")


# ---------------------------------------------------------------------------
# q89 — small-file compaction: the maintenance pass every long-lived
# 100 TB table needs. Streaming ingestion / per-batch writes fragment a
# table into thousands of tiny files (here: 64 round-robin shards of the
# documents table); the compactor rewrites them into a few large
# range-clustered files. Row-for-row content equality is certified with an
# order-insensitive xor fingerprint (same construction as
# q59_table_fingerprint), and the file counts before/after come from the
# parquet scan's `_metadata.file_path` — the real physical layout, not an
# assumption.
# ---------------------------------------------------------------------------

_COMPACT_SHARDS = 64  # fragmented input files (one per repartition slot)
_COMPACT_TARGET = 4  # compacted output files


@register(
    "q89_small_file_compaction",
    oracle=f"""
    -- Spark writes a file only for NON-EMPTY partitions: a corpus
    -- smaller than the shard count produces one file per row (round
    -- robin), and an empty corpus produces zero files — the layout
    -- prediction is least(rows, shards) on both sides
    SELECT CAST(least(count(*), {_COMPACT_SHARDS}) AS BIGINT) AS files_before,
           CAST(least(count(*), {_COMPACT_TARGET}) AS BIGINT) AS files_after,
           count(*) AS n_rows,
           bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text),
                    1, 12))::BIGINT) AS content_fp
    FROM documents
    """,
    families=("bench",),
)
def q89_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment → compact → certify: rewrite {_COMPACT_SHARDS} small parquet
    files as {_COMPACT_TARGET} range-clustered ones and prove bit-exact
    content preservation plus the physical file counts.

    Scale design: compaction is a single `repartitionByRange` on the
    cluster key — one shuffle sized by the data, no driver involvement; at
    100 TB you run it per partition-directory (compact yesterday's files
    only), so cost tracks the daily increment, not the table. The range
    partitioner samples the key distribution, so output files are
    size-balanced even under doc-size skew. The fingerprint check is one
    combinable agg per side (the q59 pattern) — certifying the rewrite
    costs two scans, no sort, no join. `_metadata.file_path` counts the
    files actually scanned, making the before/after layout part of the
    verified contract rather than a comment.
    """
    frag_dir = _out(sf_dir, "frag_parquet")
    compact_dir = _out(sf_dir, "compact_parquet")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # coalesce(1): the oracle's files_before = least(rows, shards) holds
    # only when round-robin starts from a SINGLE input partition (each
    # input partition round-robins from an independent offset, so a
    # multi-file corpus with 1 < rows < shards could land two rows in one
    # shard). Pinning the input makes the layout contract fixture-proof;
    # at scale the fragmenter is the simulated INGEST, not the compactor
    # under test, so the single task is fine (round-7 ADVICE).
    docs.coalesce(1).repartition(_COMPACT_SHARDS).write.mode(
        "overwrite"
    ).parquet(frag_dir)

    frag = spark.read.parquet(frag_dir)
    frag.repartitionByRange(_COMPACT_TARGET, "doc_id").write.mode(
        "overwrite"
    ).parquet(compact_dir)

    def layout(path: str):
        d = spark.read.parquet(path)
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), "text")),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        return d.select(
            F.col("_metadata.file_path").alias("fp_path"), h.alias("h")
        ).agg(
            F.count_distinct("fp_path").alias("n_files"),
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(h)").alias("content_fp"),
        )

    before = layout(frag_dir).select(
        F.col("n_files").alias("files_before"),
        F.col("n_rows").alias("rows_before"),
        F.col("content_fp").alias("fp_before"),
    )
    after = layout(compact_dir)
    # one-row × one-row broadcast combine; equality of the two fingerprints
    # is part of the returned (oracle-checked) row via the shared columns
    return before.crossJoin(F.broadcast(after)).select(
        "files_before",
        F.col("n_files").alias("files_after"),
        "n_rows",
        "content_fp",
    )


# ---------------------------------------------------------------------------
# q139 — Python DataSource WRITE path (the SPI's sink half; q37/q66 cover
# the batch/stream read halves). A per-source rollup is written through the
# custom ssps_linefile sink (per-partition files + WriterCommitMessage +
# driver-side manifest commit = the exactly-once protocol), then the
# verified row reads the MANIFESTED files back and re-aggregates.
# ---------------------------------------------------------------------------


@register(
    "q139_python_datasource_write",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM documents GROUP BY source
    """,
    families=("bench",),
)
def q139_python_datasource_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the per-source rollup through the custom Python sink, then
    read back ONLY what the manifest committed and return it.

    The read-back is the verification: rows surviving the round-trip are
    exactly the committed ones (an aborted/duplicate task attempt's file
    is on disk but unmanifested, hence invisible — asserted directly in
    tests/test_connectors.py). Scale note: per-partition file + driver
    manifest is O(#partitions) driver work and zero shuffle; this is the
    same commit topology as Spark's own FileFormatWriter, expressed
    through the public Python SPI.
    """
    import json
    import shutil

    from spark_state_provider_spark.sources.python_source import (
        register_linefile_sink,
    )

    register_linefile_sink(spark)
    out = _out(sf_dir, "linefile_sink")
    shutil.rmtree(out, ignore_errors=True)

    rollup = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
    )
    rollup.write.format("ssps_linefile").option("path", out).mode(
        "append"
    ).save()

    with open(os.path.join(out, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    committed = [os.path.join(out, name) for name in manifest["files"]]
    # guard zero-size committed files: an empty corpus commits empty
    # files, and read.csv would infer 0 columns → toDF arity error
    nonempty = [p for p in committed if os.path.getsize(p) > 0]
    back = (
        spark.read.csv(nonempty, sep="\t", header=False)
        .toDF("source", "n_docs", "n_chars")
        .select(
            "source",
            F.col("n_docs").cast("long"),
            F.col("n_chars").cast("long"),
        )
        if nonempty
        else spark.createDataFrame(
            [], "source string, n_docs long, n_chars long"
        )
    )
    return back


# ---------------------------------------------------------------------------
# q141 — Observation metrics: pipeline health counters that PIGGYBACK on an
# action instead of paying a second scan. `df.observe(...)` attaches named
# aggregates to the plan; they materialize as a side effect of the one
# noop-sink pass. This is how a 100 TB ingest job reports row counts /
# null rates / value ranges without doubling its I/O.
# ---------------------------------------------------------------------------


@register(
    "q141_observation_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN value IS NULL THEN 1 END) AS BIGINT)
               AS n_null_value,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_value_cents,
           CAST(min(user_id) AS BIGINT) AS min_user,
           CAST(max(user_id) AS BIGINT) AS max_user
    FROM events
    """,
    families=("bench",),
)
def q141_observation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-health metrics (row count, null count, floor-cent value sum,
    user-id range) collected via ``DataFrame.observe`` during a single
    noop-sink pass over events — the metrics row is the RESULT, and no
    second scan ever runs (the events plan executes exactly once).

    Scale note: observe-metrics must be combinable aggregates (Spark
    rejects DISTINCT inside observe — verified; cardinality metrics go
    through hll_sketch_agg, q10d's sketch, in the same observe call);
    each is evaluated inside the already-running stages and the driver
    cost is one row.
    """
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events").select("value", "user_id")
    obs = Observation("ssps_ingest_health")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("n_null_value"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
            "sum_value_cents"
        ),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_null_value"],
                m["sum_value_cents"],
                m["min_user"],
                m["max_user"],
            )
        ],
        "n_rows long, n_null_value long, sum_value_cents long, "
        "min_user long, max_user long",
    )


# ---------------------------------------------------------------------------
# q143 — corrupt-record handling on ingest: PERMISSIVE JSON parsing with
# _corrupt_record capture. Real crawled/vendored feeds always contain
# broken lines; the ingest contract is "keep the good rows, QUARANTINE the
# bad ones with evidence" — never fail the job (FAILFAST) and never drop
# silently (DROPMALFORMED).
# ---------------------------------------------------------------------------

_CORRUPT_LINES = [
    "{not json at all",
    '{"n_nationkey": "NaN-ish", "n_name": 17}',
    "",  # blank line
]


@register(
    "q143_corrupt_record_handling",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_good,
           CAST({len([l for l in _CORRUPT_LINES if l.strip()])} AS BIGINT)
               AS n_corrupt,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation
    """,
    families=("bench",),
)
def q143_corrupt_record_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest a JSONL feed of the nation table with {len(_CORRUPT_LINES)}
    planted broken lines (malformed JSON, type-mismatched fields, a blank
    line) in PERMISSIVE mode: good rows parse, broken rows surface in
    ``_corrupt_record``, and the result certifies the partition — good
    count, quarantined count, and a checksum over the good rows.

    Type-mismatch note (semantics pinned here): PERMISSIVE nulls the
    BAD FIELD and keeps the raw line in _corrupt_record, so the
    type-mismatched row counts as corrupt, not good. Blank lines are
    skipped by the JSON reader entirely (neither good nor corrupt).
    Scale shape: parsing is a narrow codegen'd scan; the certification
    is one combinable aggregate. The quarantined raw lines would be
    written to a badRecordsPath-style sink for replay — here they fold
    into the count the verdict row checks.
    """
    import shutil

    d = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = _out(sf_dir, "corrupt_json")
    shutil.rmtree(out, ignore_errors=True)
    d.write.mode("overwrite").json(out)
    # plant the broken lines as an extra shard (deterministic content)
    with open(os.path.join(out, "part-zz-corrupt.json"), "w") as f:
        f.write("\n".join(_CORRUPT_LINES) + "\n")

    parsed = (
        spark.read.schema(
            "n_nationkey int, n_name string, n_regionkey int, "
            "_corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    return parsed.agg(
        F.count(
            F.when(F.col("_corrupt_record").isNull(), 1)
        ).alias("n_good"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.sum(
            F.when(
                F.col("_corrupt_record").isNull(), F.col("n_nationkey")
            )
        ).alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# q146 — native XML parsing (Spark 4 built-in, no external package): the
# third semi-structured ingest surface after JSON (q143/q19) and VARIANT
# (q145). Feeds are round-tripped: rows serialized to XML strings, parsed
# back with from_xml against an explicit schema, re-aggregated.
# ---------------------------------------------------------------------------


@register(
    "q146_xml_ingest",
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS region,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey
    """,
    families=("bench",),
)
def q146_xml_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize nation to XML records, parse with ``from_xml`` (explicit
    schema — inference is never a production path), and roll up per
    region.

    Both directions are narrow codegen'd projections; to_xml/from_xml
    are the Spark 4 NATIVE XML path (previously the external spark-xml
    package). At 100 TB the same plan ingests vendor XML feeds with the
    schema pinned in code and malformed records handled exactly like
    q143's PERMISSIVE JSON path.
    """
    n = load_table(spark, sf_dir, "nation")
    xml = n.select(
        F.concat(
            F.lit("<nation><k>"), F.col("n_nationkey").cast("string"),
            F.lit("</k><name>"), F.col("n_name"),
            F.lit("</name><r>"), F.col("n_regionkey").cast("string"),
            F.lit("</r></nation>"),
        ).alias("x")
    )
    parsed = xml.select(
        F.from_xml("x", "k BIGINT, name STRING, r BIGINT").alias("p")
    ).select(
        F.col("p.k").alias("k"),
        F.col("p.name").alias("name"),
        F.col("p.r").alias("region"),
    )
    return parsed.groupBy("region").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("key_sum"),
        F.min("name").alias("first_name"),
    )


# ---------------------------------------------------------------------------
# q149 — q143's STREAMING twin: continuous PERMISSIVE ingest with per-
# micro-batch quarantine accounting. The crawl pipeline shape: files land,
# each micro-batch parses what arrived, good/corrupt partials append to a
# metrics sink, and the running certification is a mergeable SUM over the
# partials — identical to the batch answer because file-granular batches
# partition the feed.
# ---------------------------------------------------------------------------


@register(
    "q149_stream_corrupt_quarantine",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_good,
           CAST({len([l for l in _CORRUPT_LINES if l.strip()])} AS BIGINT)
               AS n_corrupt,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation
    """,
    families=("bench",),
)
def q149_stream_corrupt_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming PERMISSIVE JSON ingest over the q143 feed (clean nation
    shards + planted corrupt shard), one file per micro-batch; each batch
    appends its (n_good, n_corrupt, key_sum) partial and the result is
    the summed certification row — equal to q143's batch computation.

    Scale shape: the quarantine counters are map-side-combinable partials
    per micro-batch; the metrics table grows by ONE row per batch
    regardless of data volume, and the certification never rescans
    ingested files.
    """
    import shutil

    d = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    feed = _out(sf_dir, "corrupt_json_stream")
    shutil.rmtree(feed, ignore_errors=True)
    d.write.mode("overwrite").json(feed)
    with open(os.path.join(feed, "part-zz-corrupt.json"), "w") as f:
        f.write("\n".join(_CORRUPT_LINES) + "\n")

    from spark_state_provider_spark.scratch import scratch_dir

    run = scratch_dir("q149_run")  # wiped per invocation
    metrics_dir = os.path.join(run, "metrics")

    stream = (
        spark.readStream.schema(
            "n_nationkey int, n_name string, n_regionkey int, "
            "_corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("maxFilesPerTrigger", 1)
        .json(feed)
    )

    def account(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.agg(
            F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias(
                "n_good"
            ),
            F.count("_corrupt_record").alias("n_corrupt"),
            F.sum(
                F.when(
                    F.col("_corrupt_record").isNull(),
                    F.col("n_nationkey"),
                )
            ).alias("key_sum"),
        )
        partial.write.mode("append").parquet(metrics_dir)

    drain(stream.writeStream.queryName("q149").foreachBatch(account))

    partials = spark.read.parquet(metrics_dir)
    return partials.agg(
        F.sum("n_good").alias("n_good"),
        F.sum("n_corrupt").alias("n_corrupt"),
        F.sum("key_sum").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# q162 — partition-spec EVOLUTION: a table whose old data is laid out
# day-partitioned and whose new data is (day, event_type)-partitioned —
# the lakehouse migration every long-lived 100 TB table goes through when
# a filter column becomes hot enough to deserve its own directory level.
# Readers must span both layouts seamlessly AND keep partition pruning on
# each: the day filter prunes directories in both generations, the
# event_type filter prunes directories only in the new one (and falls
# back to row-group stats in the old) — no rewrite of historical data.
# ---------------------------------------------------------------------------


@register(
    "q162_partition_evolution",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    WHERE event_type IN ('view', 'click')
    GROUP BY 1, 2
    """,
    families=("bench",),
)
def q162_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate across a two-generation partition layout: events before
    the median day live under ``day=``, events after under
    ``day=/event_type=``; the query unions both scans with the same
    predicate and Spark prunes whatever each layout can prove.

    The evolution costs no rewrite: old directories stay as written, the
    new spec applies from the cutover day forward. Partition values
    round-trip through directory names as strings, so the day is re-cast
    on read; counts/sums are integer-exact.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]

    base = _out(sf_dir, "partition_evolution")
    gen1 = os.path.join(base, "gen1")
    gen2 = os.path.join(base, "gen2")
    if not (os.path.exists(os.path.join(base, "_SSPS_DONE"))):
        old = ev.where(F.col("ts") <= F.lit(cut))
        new = ev.where(F.col("ts") > F.lit(cut))
        old.write.mode("overwrite").partitionBy("day").parquet(gen1)
        new.write.mode("overwrite").partitionBy("day", "event_type").parquet(gen2)
        with open(os.path.join(base, "_SSPS_DONE"), "w") as f:
            f.write("ok")

    types = ("view", "click")
    # explicit schema: zero-row partitioned writes emit no data files, so
    # inference would fail on an empty corpus (empty-corpus contract)
    g1 = (
        spark.read.schema(ev.schema).parquet(gen1)
        .where(F.col("event_type").isin(*types))
        .select("day", "event_type", "value")
    )
    g2 = (
        spark.read.schema(ev.schema).parquet(gen2)
        .where(F.col("event_type").isin(*types))
        .select("day", "event_type", "value")
    )
    return (
        g1.unionByName(g2)
        .groupBy(F.col("day").cast("date").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q168 — hidden file-metadata columns (_metadata.file_path / file_size):
# row-level PROVENANCE on any file-backed table, free at read time. The
# lineage question every 100 TB ingest audit asks — "which physical file
# did this row come from, and does the directory key match the row?" —
# answered without storing a lineage column. The layout is written
# one-file-per-day (repartition on the partition key before partitionBy),
# so file counts are deterministic and the oracle can predict the whole
# audit table.
# ---------------------------------------------------------------------------


@register(
    "q168_file_metadata_lineage",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_files,
           TRUE AS path_matches_rows
    FROM events GROUP BY 1
    """,
    families=("bench",),
)
def q168_file_metadata_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day ingest audit joined from the _metadata hidden struct: rows
    per file, files per partition directory, and a verdict that every
    row's event date equals the date its file path claims.

    The metadata struct is populated by the scan itself (no extra I/O);
    the audit is one aggregate over (path-derived day, row day). At scale
    this is how misplaced-file detection runs without any companion
    manifest."""
    import os

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    base = _out(sf_dir, "meta_lineage")
    out = os.path.join(base, "bydays")
    if not os.path.exists(os.path.join(base, "_SSPS_DONE")):
        ev.repartition(F.col("day")).write.mode("overwrite").partitionBy(
            "day"
        ).parquet(out)
        with open(os.path.join(base, "_SSPS_DONE"), "w") as f:
            f.write("ok")

    # explicit schema (zero-row partitioned write emits no data files);
    # the _metadata hidden struct stays available under a user schema
    back = spark.read.schema(ev.schema).parquet(out).select(
        F.to_date("ts").alias("row_day"),
        F.regexp_extract(F.col("_metadata.file_path"), r"day=([0-9-]+)", 1)
        .cast("date")
        .alias("path_day"),
        F.col("_metadata.file_path").alias("fp"),
    )
    return back.groupBy(F.col("path_day").alias("day")).agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("fp").alias("n_files"),
        (F.sum(F.when(F.col("row_day") == F.col("path_day"), 0).otherwise(1)) == 0)
        .alias("path_matches_rows"),
    )


# ---------------------------------------------------------------------------
# q205 — schema-drift union (unionByName + allowMissingColumns): two
# corpus snapshots whose schemas diverged (a column added, another
# dropped) combined BY NAME with null-fill — the API that makes
# multi-generation corpus reads survivable without rewriting old data
# (the read-side half of q65's mergeSchema; this is the compute-side
# combinator). The audit aggregate counts the null-filled cells per
# snapshot so drift is measured, not silently absorbed.
# ---------------------------------------------------------------------------


@register(
    "q205_union_schema_drift",
    oracle="""
    WITH gen1 AS (
        SELECT doc_id, source, n_chars,
               CAST(NULL AS VARCHAR) AS lang,
               'gen1' AS generation
        FROM documents WHERE doc_id % 2 = 0
    ),
    gen2 AS (
        SELECT doc_id, source, lang,
               CAST(NULL AS BIGINT) AS n_chars,
               'gen2' AS generation
        FROM documents WHERE doc_id % 2 = 1
    ),
    unioned AS (
        SELECT * FROM gen1 UNION ALL BY NAME SELECT * FROM gen2
    )
    SELECT generation, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_lang,
           CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_n_chars
    FROM unioned GROUP BY generation, source
    """,
    families=("bench",),
)
def q205_union_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-fill audit of a BY-NAME union across two schema generations
    (gen1 lacks `lang`, gen2 lacks `n_chars`).

    Scale shape: unionByName is a zero-shuffle plan combinator — each
    snapshot scans with its own pruned schema and the missing columns
    materialize as null literals; the audit is one combinable aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    gen1 = d.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", "source", "n_chars", F.lit("gen1").alias("generation")
    )
    gen2 = d.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", "lang", F.lit("gen2").alias("generation")
    )
    u = gen1.unionByName(gen2, allowMissingColumns=True)
    return u.groupBy("generation", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col("lang").isNull().cast("long"))
        .cast("bigint")
        .alias("null_lang"),
        F.sum(F.col("n_chars").isNull().cast("long"))
        .cast("bigint")
        .alias("null_n_chars"),
    )
