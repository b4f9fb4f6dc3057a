"""As-of join — generic tagged-union construction.

For each left row, find the most recent right row with the same key and
``right_ts <= left_ts``. ONE shuffle (union both sides, window per key,
running ``last(..., ignorenulls)``), linear at any scale — never a per-key
cross product. Ties at equal timestamps resolve to "right row matches"
(right sorts before left), i.e. ``<=`` semantics like DuckDB's ASOF JOIN.

The caller must ensure at most one right row per (key, ts) — deduplicate
first (as q08b does with max(o_orderkey)) or the pick is nondeterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_value: str,
    left_id: str,
) -> DataFrame:
    """Returns (left_id, key, asof_<right_value>) for every left row.

    NULL keys never match — SQL ASOF JOIN equality semantics. The window
    construction would otherwise PARTITION all NULL keys together (Spark
    groups NULLs in partitionBy) and let a NULL-key left row adopt the
    last NULL-key right row; divergence found by the round-7 NULL-key
    join fuzz family. NULL-key left rows bypass the window with a NULL
    value (left-join behavior); NULL-key right rows are dropped.
    """
    # NULL placeholders take their types from the actual input schemas —
    # a hardcoded cast would mis-coerce (or fail unionByName) for any
    # caller whose value/id columns are not LongType (round-7 ADVICE).
    rv_type = right.schema[right_value].dataType
    lid_type = left.schema[left_id].dataType
    null_left = left.where(F.col(key).isNull()).select(
        F.col(left_id),
        F.col(key).alias(key),
        F.lit(None).cast(rv_type).alias(f"asof_{right_value}"),
    )
    left = left.where(F.col(key).isNotNull())
    right = right.where(F.col(key).isNotNull())
    l_ = left.select(
        F.col(key).alias("k"),
        F.col(left_ts).alias("t"),
        F.lit(1).alias("is_left"),
        F.col(left_id),
        F.lit(None).cast(rv_type).alias(right_value),
    )
    r_ = right.select(
        F.col(key).alias("k"),
        F.col(right_ts).alias("t"),
        F.lit(0).alias("is_left"),
        F.lit(None).cast(lid_type).alias(left_id),
        F.col(right_value),
    )
    # right rows sort before left at equal timestamps (is_left asc) => "<="
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        l_.unionByName(r_)
        .withColumn(
            f"asof_{right_value}", F.last(right_value, ignorenulls=True).over(w)
        )
        .where(F.col("is_left") == 1)
        .select(left_id, F.col("k").alias(key), f"asof_{right_value}")
        .unionByName(null_left)
    )


# ---------------------------------------------------------------------------
# q204 — NEAREST as-of join with tolerance (pandas merge_asof
# direction='nearest'): each click pairs with the same user's closest
# purchase in TIME — either side — within a tolerance window; backward
# wins exact ties. Built from the same tagged-union trick run BOTH ways
# (running last ≤ t, running first ≥ t over one shared per-user sort), so
# the plan is one shuffle + one window pass — never a per-key cross
# product, at any scale.
# ---------------------------------------------------------------------------

_NEAREST_TOL_US = 6 * 3600 * 1_000_000


def _register_q204() -> None:
    from pyspark.sql import SparkSession

    from spark_state_provider_spark.operators.registry import register
    from spark_state_provider_spark.tables import load_table

    @register(
        "q204_asof_nearest",
        oracle=f"""
        WITH u AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_c
            FROM events WHERE event_type IN ('click', 'purchase')
        ),
        nav AS (
            SELECT user_id, ts, event_id, is_c,
                   max(CASE WHEN is_c = 0 THEN epoch_us(ts) END) OVER (
                       PARTITION BY user_id ORDER BY ts, is_c, event_id
                       ROWS UNBOUNDED PRECEDING) AS prev_p,
                   min(CASE WHEN is_c = 0 THEN epoch_us(ts) END) OVER (
                       PARTITION BY user_id ORDER BY ts, is_c, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS next_p
            FROM u
        )
        SELECT event_id AS click_id, user_id,
               CASE
                 WHEN prev_p IS NOT NULL
                      AND epoch_us(ts) - prev_p <= {_NEAREST_TOL_US}
                      AND (next_p IS NULL
                           OR epoch_us(ts) - prev_p <= next_p - epoch_us(ts))
                   THEN epoch_us(ts) - prev_p
                 WHEN next_p IS NOT NULL
                      AND next_p - epoch_us(ts) <= {_NEAREST_TOL_US}
                   THEN next_p - epoch_us(ts)
               END AS gap_us,
               CASE
                 WHEN prev_p IS NOT NULL
                      AND epoch_us(ts) - prev_p <= {_NEAREST_TOL_US}
                      AND (next_p IS NULL
                           OR epoch_us(ts) - prev_p <= next_p - epoch_us(ts))
                   THEN 'backward'
                 WHEN next_p IS NOT NULL
                      AND next_p - epoch_us(ts) <= {_NEAREST_TOL_US}
                   THEN 'forward'
               END AS matched_dir
        FROM nav WHERE is_c = 1
        """,
        families=("events", "bench"),
    )
    def q204_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Nearest-purchase gap (µs-exact) per click within ±{_NEAREST_TOL_US}us
        (backward wins ties), per user.

        Scale shape: clicks and purchases union into ONE per-user ordered
        frame; running max-of-preceding-purchase-ts and
        min-of-following-purchase-ts give both candidates in a single
        window pass (Spark shares the sort). Ties at equal ts resolve
        backward because purchases sort before clicks (is_c asc) — the
        same '<=' trick as the directional as-of.
        """
        ev = load_table(spark, sf_dir, "events").where(
            F.col("event_type").isin("click", "purchase")
        )
        u = ev.select(
            "user_id",
            "ts",
            "event_id",
            (F.col("event_type") == "click").cast("int").alias("is_c"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("secs"),
        )
        wb = (
            Window.partitionBy("user_id")
            .orderBy("ts", "is_c", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wf = (
            Window.partitionBy("user_id")
            .orderBy("ts", "is_c", "event_id")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        p_secs = F.when(F.col("is_c") == 0, F.col("secs"))
        nav = u.select(
            "user_id",
            "ts",
            "event_id",
            "is_c",
            "secs",
            F.max(p_secs).over(wb).alias("prev_p"),
            F.min(p_secs).over(wf).alias("next_p"),
        )
        back_gap = F.col("secs") - F.col("prev_p")
        fwd_gap = F.col("next_p") - F.col("secs")
        back_ok = F.col("prev_p").isNotNull() & (
            back_gap <= _NEAREST_TOL_US
        )
        back_wins = back_ok & (
            F.col("next_p").isNull() | (back_gap <= fwd_gap)
        )
        fwd_ok = F.col("next_p").isNotNull() & (fwd_gap <= _NEAREST_TOL_US)
        return nav.where(F.col("is_c") == 1).select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.when(back_wins, back_gap)
            .when(fwd_ok, fwd_gap)
            .cast("long")
            .alias("gap_us"),
            F.when(back_wins, F.lit("backward"))
            .when(fwd_ok, F.lit("forward"))
            .alias("matched_dir"),
        )


_register_q204()
