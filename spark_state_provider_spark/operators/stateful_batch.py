"""Batch twins of the stateful/streaming operators (SURVEY.md §2-C Q20-Q25).

Each streaming operator in ``streaming_queries.py`` has a deterministic batch
equivalent here so the DuckDB oracle can check the *semantics*; the streaming
variants exercise the actual state-store path (native RocksDB provider).

Reference anchors:
* dedup           — StateStore ``put`` upsert semantics (RocksDbStateStoreProvider.scala:138-148)
* windowed agg    — state store as agg backing store (reference README.md:3)
* session window  — TTL-as-session-gap analog (SURVEY.md §2-B)
* stateful fold   — ``updateUserStatistics`` (redis/package.scala:33-45)
* TTL liveness    — state-timeout semantics (RocksDbStateStoreProvider.scala:57-80)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_state_provider_spark.operators.registry import register
from spark_state_provider_spark.tables import load_table

SESSION_GAP_MINUTES = 30
TTL_DAYS = 3


# ---------------------------------------------------------------------------
# Q20 — exact deduplication, batch. Deterministic representative per key
# (lowest event_id) rather than dropDuplicates' arbitrary pick.
# ---------------------------------------------------------------------------


@register(
    "q20_dedup_exact",
    oracle="""
    SELECT user_id, event_type, event_id, ts
    FROM (
        SELECT user_id, event_type, event_id, ts,
               row_number() OVER (
                   PARTITION BY user_id, event_type ORDER BY event_id
               ) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
    families=("events",),
)
def q20_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the first event per (user_id, event_type) — deterministic dedup.

    ``dropDuplicates(subset)`` keeps an arbitrary row; at scale (and for the
    oracle) the engine's dedup keeps a deterministic representative via a
    ranked window — same single shuffle, stable output.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


@register(
    "q20b_distinct",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    families=("events",),
)
def q20b_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure key-set distinct (hash-aggregate dedup)."""
    e = load_table(spark, sf_dir, "events")
    return e.select("user_id", "event_type").distinct()


# ---------------------------------------------------------------------------
# Q21 — tumbling window aggregation (batch twin of the streaming version).
# Spark's window() aligns buckets to the epoch; DuckDB's time_bucket with a
# sub-day width aligns to 2000-01-01, which lies on the same 15-minute grid.
# ---------------------------------------------------------------------------


@register(
    "q21_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    families=("events", "bench"),
)
def q21_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute tumbling-window counts per event type."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "q21b_sliding_window",
    oracle="""
    WITH offsets AS (SELECT unnest([0, 15, 30, 45]) AS off_min)
    SELECT time_bucket(INTERVAL '1 hour', ts - to_minutes(off_min)) + to_minutes(off_min)
               AS window_start,
           count(*) AS n_events
    FROM events, offsets
    WHERE ts >= time_bucket(INTERVAL '1 hour', ts - to_minutes(off_min)) + to_minutes(off_min)
    GROUP BY 1
    """,
    families=("events",),
)
def q21b_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes (each event in 4 windows)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


# ---------------------------------------------------------------------------
# Q22 — session windows (batch). New session when the gap since the previous
# event is >= SESSION_GAP (matches Spark session_window's half-open
# [start, last_ts + gap) semantics).
# ---------------------------------------------------------------------------


@register(
    "q22_session_window",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '{SESSION_GAP_MINUTES} minutes'
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS sess_id
        FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS last_event_ts,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY user_id, sess_id
    """,
    families=("events", "bench"),
)
def q22_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session aggregation with a 30-minute inactivity gap."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes").alias("sw"),
            "user_id",
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("last_event_ts"),
            F.count("*").alias("n_events"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").alias("sum_value"),
        )
        .select("user_id", "session_start", "last_event_ts", "n_events", "sum_value")
    )


# ---------------------------------------------------------------------------
# Q24 — batch twin of the mapGroupsWithState user-statistics fold
# (redis/package.scala:33-45): per-user visit accumulation. Scalar outputs
# keep the oracle hash stable (the streaming twin materializes the full
# visits array, as the reference does).
# ---------------------------------------------------------------------------


# the streaming twins whose final state is this fold share it
USER_STATS_ORACLE = """
SELECT user_id,
       count(*) AS total_visits,
       min(event_id) AS first_event_id,
       max(event_id) AS last_event_id,
       count(DISTINCT event_type) AS n_event_types,
       min(ts) AS first_ts,
       max(ts) AS last_ts
FROM events
GROUP BY user_id
"""


@register(
    "q24_user_statistics",
    oracle=USER_STATS_ORACLE,
    families=("events", "bench"),
)
def q24_user_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch equivalent of the reference's UserStatistics accumulation."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count("*").alias("total_visits"),
        F.min("event_id").alias("first_event_id"),
        F.max("event_id").alias("last_event_id"),
        F.countDistinct("event_type").alias("n_event_types"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# Q25 — batch twin of the state-TTL operator: a key is live at the dataset's
# high-watermark T iff last_access + ttl > T (non-strict lazy expiry view).
# ---------------------------------------------------------------------------


@register(
    "q25_ttl_liveness",
    oracle=f"""
    WITH hw AS (SELECT max(ts) AS t FROM events)
    SELECT user_id,
           max(ts) AS last_access,
           (max(ts) + INTERVAL '{TTL_DAYS} days' > (SELECT t FROM hw)) AS is_live
    FROM events
    GROUP BY user_id
    """,
    families=("events",),
)
def q25_ttl_liveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which state keys survive a TTL sweep at the stream's high watermark."""
    e = load_table(spark, sf_dir, "events")
    hw = e.agg(F.max("ts").alias("t"))
    per_key = e.groupBy("user_id").agg(F.max("ts").alias("last_access"))
    return per_key.join(F.broadcast(hw)).select(
        "user_id",
        "last_access",
        (
            F.col("last_access") + F.expr(f"INTERVAL {TTL_DAYS} DAYS") > F.col("t")
        ).alias("is_live"),
    )


# ---------------------------------------------------------------------------
# Q44 — change-feed compaction: the batch analog of the state store's
# versioned upsert semantics. Each event is a change to its user_id's state
# entry (put — RocksDbStateStoreProvider.scala:138-148); an 'error' event is
# a tombstone (remove — RocksDbStateStoreProvider.scala:153-161). The
# compacted table is the state a reader of the latest committed version
# observes: last surviving put per key, deletes drop the key entirely.
# One shuffle on the key; at 100 TB this is standard CDC log compaction and
# AQE splits any hot key.
# ---------------------------------------------------------------------------


@register(
    "q44_merge_upsert",
    oracle="""
    SELECT user_id,
           event_id AS last_event_id,
           ts       AS last_ts,
           event_type AS last_op,
           value    AS last_value
    FROM (
        SELECT *,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    )
    WHERE rn = 1 AND event_type <> 'error'
    """,
    families=("events",),
)
def q44_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins merge of the event change feed into a keyed state table.

    Deterministic order (ts, event_id) picks the winning change per key;
    keys whose final change is a tombstone ('error') are absent from the
    result — exactly the visibility rule of the reference's put/remove on
    the latest committed version.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_op"),
            F.col("value").alias("last_value"),
        )
    )


@register(
    "q44b_state_as_of",
    oracle="""
    WITH cutoff AS (SELECT max(ts) - INTERVAL '1 day' AS c FROM events)
    SELECT user_id,
           event_id AS last_event_id,
           ts       AS last_ts,
           value    AS last_value
    FROM (
        SELECT *,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
        WHERE ts <= (SELECT c FROM cutoff)
    )
    WHERE rn = 1 AND event_type <> 'error'
    """,
    families=("events",),
)
def q44b_state_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned read: reconstruct keyed state as of a past point in time.

    The batch analog of ``getStore(version)`` opening an older committed
    version (RocksDbStateStoreProvider.scala:371-388): replay the change
    feed only up to the cutoff (high watermark − 1 day) and compact.
    The time predicate is pushed into the scan before the single shuffle.
    """
    e = load_table(spark, sf_dir, "events")
    cutoff = e.agg((F.max("ts") - F.expr("INTERVAL 1 DAY")).alias("c"))
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.join(F.broadcast(cutoff))
        .where(F.col("ts") <= F.col("c"))
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )


# ---------------------------------------------------------------------------
# q67 — incremental aggregate maintenance: yesterday's aggregate + today's
# delta merged WITHOUT touching history — the only viable refresh strategy
# when history is 100 TB. Every aggregate is mergeable (counts add, decimal
# sums add exactly, maxes combine); the decimal sums stay DECIMAL through
# the merge and cast to DOUBLE once at the end, so the merged result is
# bit-identical to the full recompute the oracle performs.
# ---------------------------------------------------------------------------

_INCR_CUTOFF = "2024-01-25 00:00:00"


@register(
    "q67_incremental_agg",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           max(ts) AS max_ts
    FROM events
    GROUP BY user_id
    """,
    families=("events", "bench"),
)
def q67_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge a historical per-user aggregate with a fresh delta aggregate
    and match the full recompute exactly.

    Scale shape: the base aggregate is computed once and materialized (here
    recomputed from the pre-cutoff slice to stay self-contained); each
    refresh aggregates ONLY the delta slice and merges k-row summaries —
    one scan of new data, zero scans of history. Merge rules: counts add,
    DECIMAL sums add (exact, order-free), maxes take greatest; the single
    double cast happens after the merge.
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_INCR_CUTOFF).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
            F.max("ts").alias("m"),
        )

    base = partial(ev.where(F.col("ts") < cutoff))
    delta = partial(ev.where(F.col("ts") >= cutoff))
    return (
        base.unionAll(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n").alias("n_events"),
            F.expr("CAST(SUM(s) AS DOUBLE)").alias("sum_value"),
            F.max("m").alias("max_ts"),
        )
    )


# ---------------------------------------------------------------------------
# q161 — DYNAMIC-gap session windows: the inactivity timeout is an
# expression of the event, not a constant (engagement events hold a
# session open longer than heartbeats — the standard product-analytics
# refinement). Spark's native session_window accepts a gap COLUMN; the
# merge semantics follow q22's fixed-gap rule (an event arriving exactly
# at the previous window's exclusive end starts a NEW session), which the
# oracle reproduces with a running max of per-event window ends — the
# general interval-merge form (a constant gap degenerates to lag(ts)+gap).
# ---------------------------------------------------------------------------

_DYN_GAP_SHORT_MIN = 10  # 'click' micro-interactions
_DYN_GAP_LONG_MIN = 45  # content events keep the session alive longer


@register(
    "q161_dynamic_gap_sessions",
    oracle=f"""
    WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'click' THEN {_DYN_GAP_SHORT_MIN}
                    ELSE {_DYN_GAP_LONG_MIN} END AS gap_min
        FROM events
    ),
    marked AS (
        SELECT user_id, ts,
               CASE WHEN max(ts + to_minutes(gap_min)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                    OR ts >= max(ts + to_minutes(gap_min)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    )
                    THEN 1 ELSE 0 END AS new_sess
        FROM g
    ),
    numbered AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS last_event_ts,
           CAST(count(*) AS BIGINT) AS n_events
    FROM numbered
    GROUP BY user_id, sess_id
    """,
    families=("events", "bench"),
)
def q161_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions where clicks time out after
    {_DYN_GAP_SHORT_MIN} minutes but content events extend the session
    {_DYN_GAP_LONG_MIN} minutes.

    Native ``session_window`` with a gap expression: the merge runs
    inside Spark's session-window aggregation (one shuffle on user_id,
    per-key interval merge — the same state machinery the streaming form
    uses), never a driver loop. The oracle is the general interval-merge
    rewrite (running max of window ends).
    """
    e = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "click", F.lit(f"{_DYN_GAP_SHORT_MIN} minutes")
    ).otherwise(F.lit(f"{_DYN_GAP_LONG_MIN} minutes"))
    return (
        e.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("last_event_ts"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_start", "last_event_ts", "n_events")
    )
