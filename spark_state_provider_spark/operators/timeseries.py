"""Time-series operators: regular-grid resampling with gap filling.

The missing piece between raw event streams and windowed analytics: put
each key's events onto a regular time grid (spine), marking empty buckets
explicitly and carrying the last observation forward. This is the batch
twin of what a stateful streaming job does with per-key timers ("emit the
last known value every interval") — the reference's TTL'd state keeps
exactly this kind of per-key last-observation (SURVEY.md §2-B); here it is
re-expressed as sequence() + left join + an IGNORE NULLS running window.

Scale design: the spine is generated per key from that key's own bounds
(``sequence(min_hr, max_hr, 1h)`` exploded) — no global cross join against
a calendar dimension, so spine size is Σ per-key spans, and every step
(bounds agg, spine explode, left join, fill window) shuffles on user_id
once and stays co-partitioned for the rest of the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_state_provider_spark.operators.registry import register
from spark_state_provider_spark.tables import load_table

_RESAMPLE_USERS = 50  # bound output size: users < this id


@register(
    "q55_resample_ffill",
    oracle=f"""
    WITH ev AS (SELECT * FROM events WHERE user_id < {_RESAMPLE_USERS}),
    hourly AS (
        SELECT user_id,
               time_bucket(INTERVAL '1 hour', ts) AS hr,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        FROM ev GROUP BY 1, 2
    ),
    bounds AS (
        SELECT user_id,
               time_bucket(INTERVAL '1 hour', min(ts)) AS mn,
               time_bucket(INTERVAL '1 hour', max(ts)) AS mx
        FROM ev GROUP BY 1
    ),
    spine AS (
        SELECT user_id, unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS hr
        FROM bounds
    )
    SELECT s.user_id, s.hr,
           COALESCE(h.n, 0) AS n_events,
           last_value(h.sv IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM spine s
    LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hr = h.hr
    """,
    families=("events", "bench"),
)
def q55_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user resample with explicit empty buckets and
    forward-filled last hourly value (users < {_RESAMPLE_USERS}).

    The first spine bucket of every user is their min-ts hour, which always
    holds an event, so the forward fill never starts from NULL.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id") < _RESAMPLE_USERS
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(
        F.count("*").alias("n"),
        F.expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").alias("sv"),
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence("mn", "mx", F.expr("interval 1 hour"))
        ).alias("hr"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "hr"], "left")
        .select(
            "user_id",
            "hr",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n_events"),
            F.last("sv", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


# ---------------------------------------------------------------------------
# q57 — ordered funnel analysis: for each user, the earliest time they
# completed view → click → purchase IN ORDER. The canonical event-sequence
# analytics op (and the batch twin of a mapGroupsWithState session machine —
# the per-user fold the reference's tests drive, RedistateTest.scala:29-31,
# with an ordering constraint added). Three conditional-min passes, each
# co-partitioned on user_id.
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")


@register(
    "q57_funnel",
    oracle=f"""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
           CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                     WHEN s2.t2 IS NOT NULL THEN 2
                     ELSE 1 END AS BIGINT) AS stage
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s2.user_id = s3.user_id
    """,
    families=("events", "nulljoin", "bench"),
)
def q57_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered funnel {" → ".join(_FUNNEL_STEPS)}: first completion
    time of each stage respecting order, and the furthest stage reached.

    Scale shape: each stage is one filtered conditional-min aggregation on
    user_id; all three aggregations and the two joins share the user_id
    partitioning, so after the first shuffle the whole funnel is
    co-partitioned (no re-exchange). Funnels of depth k cost k passes over
    the (filtered) event types only — never a self-join on raw events.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.where(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == _FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == _FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t1",
            "t2",
            "t3",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .cast("long")
            .alias("stage"),
        )
    )


# ---------------------------------------------------------------------------
# q58 — event-time RANGE window frames: per-user trailing-hour moving count
# and sum computed per EVENT (not per bucket) — the sliding metric that
# rowsBetween frames (q13) can't express when events are irregularly
# spaced. Order key is whole seconds (unix_timestamp truncation == DuckDB
# floor(epoch)), so frame membership is integer-exact in both engines.
# ---------------------------------------------------------------------------

_RANGE_SECS = 3600


@register(
    "q58_range_frame",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS secs,
           CAST(count(*) OVER w AS BIGINT) AS trail_n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS trail_sum
    FROM events
    WINDOW w AS (
        PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        RANGE BETWEEN {_RANGE_SECS - 1} PRECEDING AND CURRENT ROW
    )
    """,
    families=("events", "bench"),
)
def q58_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing {_RANGE_SECS}s moving count/sum per user at every event.

    Scale shape: one shuffle on user_id, then a per-partition ordered scan
    with a sliding frame — state is the frame contents (bounded by the
    time span), never the partition. This is the batch twin of a
    watermarked sliding streaming aggregate, computed per event.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("secs"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("secs")
        .rangeBetween(-(_RANGE_SECS - 1), 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "secs",
        F.count("*").over(w).alias("trail_n"),
        F.sum("v").over(w).cast("double").alias("trail_sum"),
    )


# ---------------------------------------------------------------------------
# q60 — time-series similarity search (EDBT'19-style, PAPERS.md): each
# user's behavior is a 24-dim hour-of-day activity histogram; query users'
# vectors are compared to everyone by cosine, top-k returned. The
# cross-family op: time-series featurization (integer-exact conditional
# aggs) feeding the similarity machinery (fixed-order dot folds).
# ---------------------------------------------------------------------------

_SIM_QUERY_USERS = 5
_SIM_TOP_K = 5
_HOURS = 24


@register(
    "q60_user_similarity",
    oracle=f"""
    WITH v AS (
        SELECT user_id,
               [{", ".join(
                   f"CAST(sum(CASE WHEN hour(ts) = {h} THEN 1 ELSE 0 END) AS DOUBLE)"
                   for h in range(_HOURS)
               )}] AS hv
        FROM events GROUP BY user_id
    ),
    q AS (
        SELECT user_id AS query_id, hv AS qv FROM v
        WHERE user_id < {_SIM_QUERY_USERS}
    ),
    s AS (
        SELECT q.query_id, v.user_id AS neighbor_id,
               list_dot_product(q.qv, v.hv)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(v.hv, v.hv))) AS sim
        FROM q, v
        WHERE v.user_id <> q.query_id
    )
    SELECT query_id, neighbor_id, sim, rn FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id
        ) AS rn FROM s
    ) WHERE rn <= {_SIM_TOP_K}
    """,
    families=("events", "nulljoin", "bench"),
)
def q60_user_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_SIM_TOP_K} behaviorally-similar users per query user, by
    cosine over {_HOURS}-dim hour-of-day activity histograms.

    Scale shape: featurization is ONE map-side-combined groupBy producing
    {_HOURS} integer sums (no pivot shuffle, no sparse explode); the
    query-user vectors broadcast; similarity is a narrow fold pass + a
    per-query top-k window — the q29 brute-force plan applied to derived
    feature vectors. Every activity count is an exact integer, so the dot
    products are engine-identical.
    """
    from spark_state_provider_spark.functions.vector import cosine_prenormed, norm

    ev = load_table(spark, sf_dir, "events")
    v = ev.groupBy("user_id").agg(
        *[
            F.sum(
                F.when(F.hour("ts") == h, 1).otherwise(0)
            ).cast("double").alias(f"h{h}")
            for h in range(_HOURS)
        ]
    )
    v = v.select(
        "user_id", F.array(*[F.col(f"h{h}") for h in range(_HOURS)]).alias("hv")
    ).withColumn("nrm", norm(F.col("hv")))
    q = v.where(F.col("user_id") < _SIM_QUERY_USERS).select(
        F.col("user_id").alias("query_id"),
        F.col("hv").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    sims = v.join(F.broadcast(q), F.col("user_id") != F.col("query_id")).select(
        "query_id",
        F.col("user_id").alias("neighbor_id"),
        cosine_prenormed(
            F.col("qv"), F.col("hv"), F.col("qnrm"), F.col("nrm")
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return sims.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _SIM_TOP_K
    )


# ---------------------------------------------------------------------------
# q61 — event-sequence transition mining: per-user ordered event streams →
# (prev_type, type) bigram transition counts with probabilities. The
# first-order Markov statistics that power next-event prediction features
# and anomalous-sequence detection; also the sequence-modeling data-prep
# twin (token-bigram counting over event streams instead of text).
# ---------------------------------------------------------------------------


@register(
    "q61_event_transitions",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    c AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM o WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
    FROM c
    """,
    families=("events", "nulljoin", "bench"),
)
def q61_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix: bigram counts and per-source
    transition probabilities over per-user time-ordered streams.

    Scale shape: one shuffle on user_id for the lag window (event_id
    tie-break makes ordering total), then a map-side-combined bigram
    count whose output is |types|² rows; the probability normalization is
    a window over that tiny aggregate. Never materializes adjacent-pair
    rows beyond the lag's streaming frame.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    c = (
        o.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wp).cast("double")).alias("p"),
    )


# ---------------------------------------------------------------------------
# q62 — cohort retention: users grouped by signup week, weekly-active
# fraction per cohort age. The canonical product-analytics matrix, and a
# two-level aggregation exercise: per-user firsts → per-(cohort, week)
# distinct actives → per-cohort normalization.
# ---------------------------------------------------------------------------


@register(
    "q62_cohort_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
        FROM events WHERE event_type = 'signup'
        GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
        FROM events
    ),
    sizes AS (
        SELECT cohort_week, count(*) AS cohort_size
        FROM first_seen GROUP BY cohort_week
    ),
    m AS (
        SELECT f.cohort_week,
               CAST(datediff('day', f.cohort_week, a.week) / 7 AS BIGINT)
                   AS week_idx,
               count(DISTINCT a.user_id) AS n_active
        FROM active a JOIN first_seen f ON a.user_id = f.user_id
        WHERE a.week >= f.cohort_week
        GROUP BY 1, 2
    )
    SELECT m.cohort_week, m.week_idx, m.n_active, s.cohort_size,
           CAST(m.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
               AS retention
    FROM m JOIN sizes s ON m.cohort_week = s.cohort_week
    """,
    families=("events", "nulljoin", "bench"),
)
def q62_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: for each signup-week cohort, the
    count and fraction of its users active in each later week.

    Scale shape: two user_id-partitioned aggregations (first-signup, and
    the distinct (user, week) dedup) share one shuffle footprint; the
    activity join is user_id-co-partitioned; the final matrix is
    |weeks|² rows — tiny — so its normalization join broadcasts. No step
    ever shuffles raw events more than once.
    """
    ev = load_table(spark, sf_dir, "events")
    first_seen = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    m = (
        active.join(first_seen, "user_id")
        .where(F.col("week") >= F.col("cohort_week"))
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("long").alias("week_idx"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return m.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_idx",
        "n_active",
        "cohort_size",
        (
            F.col("n_active").cast("double") / F.col("cohort_size").cast("double")
        ).alias("retention"),
    )


# ---------------------------------------------------------------------------
# q88 — multi-resolution rollup hierarchy (hour → day → month), the
# continuous-aggregate / hypertable-rollup shape: coarser grains are
# derived FROM the finer grain's partial aggregates, never from a re-scan
# of the raw events. The oracle computes every grain directly from the raw
# table, so equality proves the merge-from-partials property (count and
# decimal-cent sums are mergeable; the same bits come out either way).
# ---------------------------------------------------------------------------

_ROLLUP_GRAINS = ("hour", "day", "month")


def _rollup_oracle() -> str:
    parts = []
    for g in _ROLLUP_GRAINS:
        parts.append(
            f"SELECT '{g}' AS resolution, event_type, "
            f"date_trunc('{g}', ts) AS bucket, "
            f"count(*) AS n_events, "
            f"CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 "
            f"AS sum_value "
            f"FROM events GROUP BY event_type, date_trunc('{g}', ts)"
        )
    return " UNION ALL ".join(parts)


@register("q88_rollup_hierarchy", oracle=_rollup_oracle(), families=("events", "bench"))
def q88_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour/day/month rollup pyramid built bottom-up from hourly partials.

    Scale design: raw events are scanned and shuffled ONCE (the hourly
    aggregate — verified by the plan test: one FileScan in the whole
    plan); each hourly partial then fans out to its (hour, day, month)
    grain rows and a second, hourly-sized aggregation merges them per
    grain. A naive union of per-grain aggregates would re-scan the fact
    table once per grain (Spark's ReuseExchange does not canonicalize the
    three branches together), which at 100 TB is 3 scans instead of 1 —
    the explode-then-merge shape buys grain count × cheaper refresh, and
    is exactly how a materialized rollup pyramid is maintained: persist
    the hourly layer, re-derive every coarser grain from it. Sums
    accumulate as exact integer cents so the merged path is bit-identical
    to the oracle's direct per-grain computation at any parallelism.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hour"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    hourly = ev.groupBy("event_type", "hour").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("vc").cast("decimal(38,0)")).alias("sv"),
    )
    fanned = hourly.select(
        "event_type",
        "n_events",
        "sv",
        F.explode(F.array(*[F.lit(g) for g in _ROLLUP_GRAINS])).alias(
            "resolution"
        ),
        "hour",
    ).withColumn(
        "bucket",
        F.when(F.col("resolution") == "hour", F.col("hour"))
        .when(F.col("resolution") == "day", F.date_trunc("day", "hour"))
        .otherwise(F.date_trunc("month", "hour")),
    )
    return (
        fanned.groupBy("resolution", "event_type", "bucket")
        .agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))
        .select(
            "resolution",
            "event_type",
            "bucket",
            "n_events",
            (F.col("sv").cast("double") / 100).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# q94 — rolling z-score anomaly detection: the monitoring op every event
# pipeline runs over its metric streams. Per user, each event's value is
# compared to the trailing-window mean/std; the |z| > 3 test is evaluated
# ENTIRELY in integers (cents), so Spark and DuckDB flag bit-identical
# rows — no float sqrt/div in the predicate:
#   |x − S/n| > 3·σ   ⇔   (n·x − S)² > 9·(n·Q − S²)
# with S = Σv, Q = Σv² over the frame (population σ). Bounds: n ≤ 24,
# |cents| ≤ ~1e7 ⇒ every term < 2^63 at testdata magnitudes; the DECIMAL
# cast keeps the squares exact anyway.
# ---------------------------------------------------------------------------

_ANOM_WINDOW = 24  # trailing events per user, current row included
_ANOM_MIN_N = 12  # no verdict before this many observations

# shared by q94 (batch) and q97 (its stateful-streaming twin,
# streaming_queries.py): time-ordered deterministic replay makes the
# streamed flag set equal the batch computation, so both use this oracle.
_ANOM_ORACLE = f"""
    WITH c AS (
        SELECT event_id, user_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(floor(epoch(ts)) AS BIGINT) AS secs
        FROM events
    ), w AS (
        SELECT event_id, user_id, cents,
               CAST(count(*) OVER fr AS BIGINT) AS n,
               CAST(sum(cents) OVER fr AS BIGINT) AS s,
               CAST(sum(cents * cents) OVER fr AS BIGINT) AS q
        FROM c
        WINDOW fr AS (
            PARTITION BY user_id ORDER BY secs, event_id
            ROWS BETWEEN {_ANOM_WINDOW - 1} PRECEDING AND CURRENT ROW
        )
    )
    SELECT event_id, user_id, cents, n
    FROM w
    WHERE n >= {_ANOM_MIN_N}
      AND CAST((n * cents - s) AS DECIMAL(38,0))
          * CAST((n * cents - s) AS DECIMAL(38,0))
          > 9 * CAST((n * q - s * s) AS DECIMAL(38,0))
    """


@register("q94_rolling_anomaly", oracle=_ANOM_ORACLE, families=("events", "bench"))
def q94_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value is > 3 trailing-window std-devs from the
    trailing-{_ANOM_WINDOW}-event mean for that user (integer-exact test).

    Scale shape: one shuffle on user_id, then a per-partition ordered scan
    with a bounded ROWS frame — O(window) state per partition regardless
    of history length. This is the batch form of a streaming anomaly
    monitor (the same test over `applyInPandasWithState` state); batch
    form chosen here so the verdict is replayable and oracle-exact.
    """
    c = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.unix_timestamp("ts").alias("secs"),
    )
    fr = (
        Window.partitionBy("user_id")
        .orderBy("secs", "event_id")
        .rowsBetween(-(_ANOM_WINDOW - 1), 0)
    )
    w = c.select(
        "event_id",
        "user_id",
        "cents",
        F.count("*").over(fr).alias("n"),
        F.sum("cents").over(fr).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(fr).alias("q"),
    )
    lhs = (F.col("n") * F.col("cents") - F.col("s")).cast("decimal(38,0)")
    rhs = (F.col("n") * F.col("q") - F.col("s") * F.col("s")).cast(
        "decimal(38,0)"
    )
    return w.where(
        (F.col("n") >= _ANOM_MIN_N) & (lhs * lhs > 9 * rhs)
    ).select("event_id", "user_id", "cents", "n")


# ---------------------------------------------------------------------------
# q107 — per-key trend detection (OLS slope): q94 flags point outliers;
# this flags DRIFT — "is this user's metric trending up or down, and how
# fast?". The least-squares slope
#   β = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
# is computed from five combinable sums, so the whole operator is ONE
# map-side-combined aggregate per key — no window, no sort, no second
# pass. x is event time in whole HOURS since the user's first event
# (slope is shift-invariant; the hour grain keeps every product int64-
# and double-exact: n·Σx² ≤ ~2e11 « 2^53), y in cents; the single IEEE
# division at the end is deterministic, so the slope column is
# hash-checkable.
# ---------------------------------------------------------------------------


@register(
    "q107_trend_slope",
    oracle="""
    WITH c AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS y,
               CAST(floor(epoch(ts)) AS BIGINT) AS secs
        FROM events
    ),
    x AS (
        SELECT user_id, y,
               (secs - min(secs) OVER (PARTITION BY user_id)) // 3600 AS xh
        FROM c
    ),
    s AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xh) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(xh * y) AS BIGINT) AS sxy,
               CAST(sum(xh * xh) AS BIGINT) AS sxx
        FROM x GROUP BY user_id
    )
    SELECT user_id, n,
           CAST(CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) AS DOUBLE)
               AS slope_cents_per_hr,
           n * sxy - sx * sy > 0 AS rising
    FROM s
    WHERE n * sxx - sx * sx <> 0
    """,
    families=("events", "bench"),
)
def q107_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares value trend per user (cents/hour since first event),
    with the direction flag decided in pure integers.

    The min-shift is the only window (per-key running min folded into the
    aggregate via a self-free window — it partial-aggregates as a MIN);
    everything else is one combinable groupBy. Keys with zero time
    variance are excluded (slope undefined).
    """
    c = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("y"),
        F.unix_timestamp("ts").alias("secs"),
    )
    x = c.select(
        "user_id",
        "y",
        F.expr("(secs - min(secs) OVER (PARTITION BY user_id)) div 3600")
        .alias("xh"),
    )
    s = x.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("xh").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("xh") * F.col("y")).alias("sxy"),
        F.sum(F.col("xh") * F.col("xh")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.where(den != 0).select(
        "user_id",
        "n",
        (num.cast("double") / den.cast("double")).alias(
            "slope_cents_per_hr"
        ),
        (num > 0).alias("rising"),
    )


# ---------------------------------------------------------------------------
# q144 — temporal sketch rollup: hourly HLL user sketches re-aggregated to
# daily cardinality WITHOUT rescanning events. q10d proves sketch union
# across a categorical dimension; this is the time-pyramid form (q88's
# rollup hierarchy, but for distinct counts, where plain sums don't work
# and sketches are the only rescan-free option at 100 TB).
# ---------------------------------------------------------------------------


@register(
    "q144_sketch_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events
    GROUP BY 1
    """,
    families=("events", "bench"),
)
def q144_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct users from UNIONED hourly sketches, certified
    against the exact count per day (the q10d verdict pattern: sketch
    binaries are engine-specific, so each row carries the exact count and
    a boolean asserting the merged estimate lands within 5%).

    The scale story: the hourly sketch table is the ONLY thing retained
    (KBs per hour); day/week/month cardinalities are sketch unions — a
    tiny aggregate over sketch rows — while exact distinct would rescan
    the fact per grain. Both aggregations here are map-side combinable;
    the exact branch exists only as the verification harness.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"),
        F.date_trunc("day", "ts").alias("day"),
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    daily_est = hourly.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    daily_exact = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return daily_exact.join(daily_est, "day").select(
        "day",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("approx_within_5pct"),
    )


# ---------------------------------------------------------------------------
# q156 — OHLC bar downsample (open/high/low/close), the canonical
# time-series compaction: per (event_type, 15-min bucket), the FIRST and
# LAST value by event time plus min/max/count. first/last are ordered
# aggregates — the trap is that Spark's first()/last() are
# shuffle-order-dependent; the correct distributed form is
# min_by/max_by over a UNIQUE ordering key, which stays a two-phase
# partial/final aggregate (map-side combinable: min_by partials merge
# associatively) rather than forcing a per-group window over raw rows.
# Tie-break: (ts, event_id) — unique, so both engines pick the identical
# row at any parallelism.
# ---------------------------------------------------------------------------


@register(
    "q156_ohlc_downsample",
    oracle="""
    WITH r AS (
        SELECT event_type,
               time_bucket(INTERVAL '15 minutes', ts) AS bucket,
               value,
               row_number() OVER (
                   PARTITION BY event_type,
                                time_bucket(INTERVAL '15 minutes', ts)
                   ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (
                   PARTITION BY event_type,
                                time_bucket(INTERVAL '15 minutes', ts)
                   ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT) AS n,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close
    FROM r GROUP BY event_type, bucket
    """,
    families=("events", "bench"),
)
def q156_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute OHLC bars per event_type.

    One aggregate, no window: min_by/max_by carry (ordering key, value)
    partials that merge map-side, so the plan is the same two-phase
    partial/final aggregate as a plain sum — the shape that survives
    100 TB where a per-bucket row_number window would not. The oracle
    computes the same first/last with explicit row_number ordering.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.window("ts", "15 minutes").start.alias("bucket"),
        "value",
        F.struct("ts", "event_id").alias("ord"),
    )
    return e.groupBy("event_type", "bucket").agg(
        F.count("*").alias("n"),
        F.min_by("value", "ord").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ord").alias("close"),
    )


# ---------------------------------------------------------------------------
# q197 — exponentially-weighted moving average per user (α = 1/2): the
# standard smoothing/trend signal every metrics pipeline keeps. EWMA is an
# inherently ORDER-DEPENDENT fold (sᵢ = sᵢ₋₁/2 + xᵢ/2), which windowed
# SUMs cannot express and engine-internal summation trees would skew — so
# both engines run the SAME sequential fold over the SAME (ts, event_id)
# order: Spark's `aggregate` higher-order function vs DuckDB's
# `list_reduce` over an ORDER BY'd list agg. α = 1/2 keeps every step an
# exact IEEE halving (exponent shift), so the fold is bit-identical.
# ---------------------------------------------------------------------------


@register(
    "q197_ewma",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           list_reduce(
               list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
               (acc, x) -> acc * 0.5 + x * 0.5
           ) AS ewma
    FROM events
    GROUP BY user_id
    """,
    families=("events", "bench"),
)
def q197_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final α=1/2 EWMA of `value` per user over the (ts, event_id) total
    order of that user's events.

    Scale shape: one shuffle on user_id; the collect+fold is per-key and
    JVM-side (higher-order `aggregate`, no Python). Per-key history is
    bounded by user activity — at 100 TB the same fold runs windowed
    (last-K or time-horizon slice) or incrementally in a stateful stream
    (the q24 fold pattern), because EWMA's recurrence needs only the
    previous smoothed value; this exact batch form is the oracle for
    those.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("ts"),
                    F.col("event_id"),
                    F.col("value").cast("double").alias("value"),
                )
            )
        ).alias("seq"),
    )
    fold = F.aggregate(
        F.col("seq"),
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x["value"]).otherwise(
            acc * F.lit(0.5) + x["value"] * F.lit(0.5)
        ),
    )
    return per_user.select("user_id", "n_events", fold.alias("ewma"))


# ---------------------------------------------------------------------------
# q207 — time-weighted average (TWAP): each reading holds until the next
# one, so its weight is its holding duration — the correct average for
# irregularly-sampled series (a plain mean over-weights bursts; every
# metering/pricing pipeline uses this form). All weights are exact
# integer microseconds (lead over the per-user order), values are exact
# cents; one final division.
# ---------------------------------------------------------------------------


@register(
    "q207_twap",
    oracle="""
    WITH w AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               lead(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                 - epoch_us(ts) AS dur_us
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(dur_us) AS BIGINT) AS span_us,
           CAST(sum(cents * dur_us) AS DOUBLE)
               / (100.0 * sum(dur_us)) AS twap
    FROM w WHERE dur_us IS NOT NULL
    GROUP BY user_id
    """,
    families=("events", "bench"),
)
def q207_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of `value` (holding-duration
    weights; the last reading of each user carries no duration).

    Scale shape: one user-partitioned window for the lead, one
    map-side-combined aggregate — identical cost to any per-key
    windowed pass. cents×µs products stay far inside int64 (≤2^53 the
    doubles could even carry, and we never leave integers until the
    final division).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    rows = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.lead(us).over(w) - us).alias("dur_us"),
    ).where(F.col("dur_us").isNotNull())
    return rows.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("dur_us").cast("bigint").alias("span_us"),
        (
            F.sum(F.col("cents") * F.col("dur_us")).cast("double")
            / (F.lit(100.0) * F.sum("dur_us"))
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# q212 — CUSUM drift detection per user: the classic upper-CUSUM
# S_i = max(0, S_{i-1} + (x_i − K)) flags sustained upward drifts that
# threshold-per-point monitors miss. Computed WITHOUT the sequential
# fold via the closed form S_i = P_i − min_{0≤j≤i} P_j over the prefix
# sums P of (x − K) — two ordinary per-user windows, exact integer
# cents end to end (a float fold would also have been order-fragile).
# ---------------------------------------------------------------------------

_CUSUM_K_CENTS = 6000  # drift target: 60.00 (above the ~49.6 global mean)


@register(
    "q212_cusum_drift",
    oracle=f"""
    WITH c AS (
        SELECT user_id, ts, event_id,
               CAST(round(value * 100) AS BIGINT) - {_CUSUM_K_CENTS} AS d
        FROM events
    ),
    pp AS (
        SELECT user_id, ts, event_id,
               sum(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS pref
        FROM c
    ),
    p AS (
        SELECT user_id, pref,
               least(0, min(pref) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)) AS low
        FROM pp
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(pref - low) AS BIGINT) AS max_cusum_cents,
           max(pref - low) >= 100000 AS drift_alarm
    FROM p GROUP BY user_id
    """,
    families=("events", "bench"),
)
def q212_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user maximum upper-CUSUM of `value` against a
    {_CUSUM_K_CENTS}-cent target, with a 1000.00-threshold alarm flag.

    Scale shape: both windows partition by user (parallel across keys,
    shared sort), the closed form needs no iterative fold, and the
    final aggregate map-side-combines. The same prefix identity is what
    a streaming twin would keep as two running scalars per key.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = (
        F.round(F.col("value") * 100).cast("long") - _CUSUM_K_CENTS
    )
    pp = ev.select(
        "user_id", "ts", "event_id", F.sum(d).over(w).alias("pref")
    )
    p = pp.select(
        "user_id",
        "pref",
        F.least(
            F.lit(0).cast("long"), F.min("pref").over(w)
        ).alias("low"),
    )
    return p.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max(F.col("pref") - F.col("low"))
        .cast("bigint")
        .alias("max_cusum_cents"),
        (F.max(F.col("pref") - F.col("low")) >= 100000).alias(
            "drift_alarm"
        ),
    )
