"""Batch relational operator inventory (SURVEY.md §2-C, Q1-Q19 + Q27).

Every query here is declared with the DataFrame API so Catalyst owns the
physical strategy (pushdown, pruning, join selection, AQE). Each query is
paired with a DuckDB oracle; computed columns are aliased identically on
both sides (the driver sorts columns by name before hashing).

Float policy: every numeric column in the testdata is an exact 2-decimal
value, so aggregates over doubles are computed in DECIMAL (exact, summation-
order-independent) and cast back to DOUBLE — both engines then produce
bit-identical results with no rounding races. The shared aggregate SQL
snippets below are used verbatim by both the Spark side (``F.expr``) and the
DuckDB oracle. Per-row double arithmetic (products, round, sqrt on identical
operands) is deterministic and shared as-is.

Reference anchors are cited per query (files under /root/reference).
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_state_provider_spark.operators.registry import register
from spark_state_provider_spark.scratch import corpus_tag
from spark_state_provider_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def dsum(col: str, scale: int = 2) -> str:
    """Exact decimal sum of a 2dp double column, surfaced as DOUBLE."""
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def davg(col: str) -> str:
    """Exact-sum average: identical double division on both engines."""
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)"


# Revenue / charge expressions shared verbatim by Spark (F.expr) and DuckDB.
SQL_SUM_DISC_PRICE = (
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)"
)
SQL_SUM_CHARGE = (
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(4,2)))"
    " * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)"
)


# ---------------------------------------------------------------------------
# Q1 — scan/source: parquet scan with projection + filter pushdown.
# Reference anchor: driver testdata (TESTDATA.md); streaming analog is the
# MemoryStream source in RedistateTest.scala:24.
# ---------------------------------------------------------------------------


@register(
    "q01_pruned_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_quantity < 10
    """,
    families=("tpch", "bench"),
)
def q01_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate reach the parquet scan (PushedFilters/ReadSchema)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_quantity") < 10)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


# ---------------------------------------------------------------------------
# Q2 — sink: batch file sink round-trip (streaming sinks live in
# streaming_queries.py). Reference anchor: memory sink, RedistateTest.scala:33-38.
# ---------------------------------------------------------------------------


@register(
    "q02_sink_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
    families=(),
)
def q02_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a filtered projection to parquet, read it back (sink + source)."""
    # pid-scoped path: concurrent processes (pytest + driver) must not race
    # on overwrite-vs-read of the same sink dir
    from spark_state_provider_spark.scratch import scratch_base

    out = os.path.join(
        scratch_base(),
        f"ssps_sink_{corpus_tag(sf_dir)}_{os.getpid()}",
    )
    orders = _t(spark, sf_dir, "orders")
    (
        orders.where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out)


# ---------------------------------------------------------------------------
# Q3 — projection: select / rename / compute.
# Reference anchor: the state handler's field projection (redis/package.scala:40-42).
# ---------------------------------------------------------------------------


@register(
    "q03_projection",
    oracle="""
    SELECT c_custkey AS custkey,
           upper(c_name) AS name_upper,
           c_acctbal AS acctbal,
           c_acctbal * 1.1 AS acctbal_bumped
    FROM customer
    """,
    families=(),
)
def q03_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column select / rename / computed column."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("custkey"),
        F.upper("c_name").alias("name_upper"),
        F.col("c_acctbal").alias("acctbal"),
        (F.col("c_acctbal") * 1.1).alias("acctbal_bumped"),
    )


# ---------------------------------------------------------------------------
# Q4 — filter. Reference anchor: strict-expire iterator filter
# (RocksDbStateStoreProvider.scala:259).
# ---------------------------------------------------------------------------


@register(
    "q04_filter",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_totalprice BETWEEN 50000 AND 100000
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_orderstatus <> 'F'
    """,
    families=("tpch", "bench"),
)
def q04_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive / range / IN predicates, all pushed to the scan."""
    o = _t(spark, sf_dir, "orders")
    return o.where(
        F.col("o_totalprice").between(50000, 100000)
        & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & (F.col("o_orderstatus") != "F")
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")


# ---------------------------------------------------------------------------
# Q5 — broadcast equi-join over the dimension chain.
# ---------------------------------------------------------------------------


@register(
    "q05_broadcast_join",
    oracle="""
    SELECT r.r_name AS region_name,
           n.n_name AS nation_name,
           count(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    families=("tpch", "nulljoin", "bench"),
)
def q05_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ broadcast(nation) ⋈ broadcast(region): no shuffle for dims."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count("*").alias("n_customers"),
            F.expr("CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)").alias(
                "total_acctbal"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Q6 — large shuffle (sort-merge/AQE-chosen) equi-join chain, TPC-H Q3 shape.
# ---------------------------------------------------------------------------


@register(
    "q06_shuffle_join",
    oracle=f"""
    SELECT o.o_orderkey AS orderkey,
           {SQL_SUM_DISC_PRICE} AS revenue,
           o.o_orderdate AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    """,
    families=("tpch", "nulljoin", "bench"),
)
def q06_shuffle_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join on shuffled keys; dims filtered before the join."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderkey").alias("orderkey"), F.col("o_orderdate").alias("orderdate"))
        .agg(F.expr(SQL_SUM_DISC_PRICE).alias("revenue"))
        .select("orderkey", "revenue", "orderdate")
    )


@register(
    "q06b_outer_join",
    oracle="""
    SELECT c.c_custkey AS custkey,
           count(o.o_orderkey) AS n_orders,
           CAST(coalesce(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)
               AS total_spent
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 250000
    GROUP BY c.c_custkey
    """,
    families=("nulljoin",),
)
def q06b_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with an ON-clause filter (nulls preserved, count of
    nullable column skips nulls)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_totalprice > 250000),
            "left",
        )
        .groupBy(F.col("c_custkey").alias("custkey"))
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.expr(
                "CAST(coalesce(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0)"
                " AS DOUBLE)"
            ).alias("total_spent"),
        )
    )


# ---------------------------------------------------------------------------
# Q7 — semi / anti joins (existence predicates).
# ---------------------------------------------------------------------------


@register(
    "q07_semi_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
    """,
    families=("nulljoin",),
)
def q07_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having at least one big order (left semi join)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 150000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "q07b_anti_join",
    oracle="""
    -- NOT EXISTS, not NOT IN: left_anti's semantics. A NULL o_custkey in
    -- the subquery poisons NOT IN to UNKNOWN-everywhere (empty result),
    -- while the anti join (and NOT EXISTS) simply never matches it —
    -- divergence found by the round-7 NULL-key join fuzz family.
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000
    )
    """,
    families=("nulljoin",),
)
def q07b_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who never placed a >250k order (left anti join —
    NOT-EXISTS semantics: a NULL FK on either side never matches)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 250000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Q8 — theta/range join: orders banded by a broadcast price-band dim.
# The band table is tiny and broadcast, so the non-equi condition never
# becomes a cartesian shuffle at scale.
# ---------------------------------------------------------------------------

_N_BANDS = 12
_BAND_WIDTH = 50_000


@register(
    "q08_range_join",
    oracle=f"""
    SELECT b.band_id,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS band_total
    FROM orders o
    JOIN (
        SELECT i AS band_id,
               i * {_BAND_WIDTH} AS lo,
               (i + 1) * {_BAND_WIDTH} AS hi
        FROM generate_series(0, {_N_BANDS - 1}) AS t(i)
    ) b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band_id
    """,
    families=("nulljoin",),
)
def q08_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join against a broadcast band dimension."""
    o = _t(spark, sf_dir, "orders")
    bands = spark.range(_N_BANDS).select(
        F.col("id").alias("band_id"),
        (F.col("id") * _BAND_WIDTH).alias("lo"),
        ((F.col("id") + 1) * _BAND_WIDTH).alias("hi"),
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").alias(
                "band_total"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Q8b — as-of join: each event matched to the user's most recent order at or
# before the event time. Implemented as ONE shuffle: union both sides tagged,
# then a running `last(..., ignorenulls)` window — scales linearly, never a
# per-key cross product. (DuckDB oracle uses its native ASOF JOIN.)
# ---------------------------------------------------------------------------


@register(
    "q08b_asof_join",
    oracle="""
    WITH o1 AS (
        SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        FROM orders
        GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, o1.o_orderkey AS asof_orderkey
    FROM events e
    ASOF LEFT JOIN o1
      ON e.user_id = o1.o_custkey AND e.ts >= o1.o_orderdate
    """,
    families=("nulljoin", "bench"),
)
def q08b_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via tagged union + running last() — one shuffle, no N²."""
    from spark_state_provider_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("o_custkey"), "ts"
    )
    # Deduplicate orders to one per (custkey, orderdate) so the as-of pick is
    # deterministic on both engines.
    o1 = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    return asof_join(
        ev,
        o1,
        key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_value="o_orderkey",
        left_id="event_id",
    ).select(
        "event_id",
        F.col("o_custkey").alias("user_id"),
        F.col("asof_o_orderkey").alias("asof_orderkey"),
    )


# ---------------------------------------------------------------------------
# Q9 — hash aggregation, TPC-H Q1 shape. Reference anchor: the per-user fold
# `totalVisits + 1` (redis/package.scala:41) is a grouped aggregate.
# ---------------------------------------------------------------------------


@register(
    "q09_hash_agg",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           {dsum('l_quantity')} AS sum_qty,
           {dsum('l_extendedprice')} AS sum_base_price,
           {SQL_SUM_DISC_PRICE} AS sum_disc_price,
           {davg('l_quantity')} AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    families=("tpch", "nulljoin", "bench"),
)
def q09_hash_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped sum/avg/count with map-side partial aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(dsum("l_quantity")).alias("sum_qty"),
            F.expr(dsum("l_extendedprice")).alias("sum_base_price"),
            F.expr(SQL_SUM_DISC_PRICE).alias("sum_disc_price"),
            F.expr(davg("l_quantity")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Q10 — distinct + approximate distinct. Reference anchor: numKeys estimation
# (RocksDbStateStoreProvider.scala:189-191).
# ---------------------------------------------------------------------------


@register(
    "q10_count_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
    families=("bench",),
)
def q10_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column count distinct (expand + two-phase agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@register(
    "q10c_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS p50,
           quantile_cont(l_extendedprice, 0.95) AS p95,
           min(l_extendedprice) AS p_min,
           max(l_extendedprice) AS p_max
    FROM lineitem
    GROUP BY l_returnflag
    """,
    families=(),
)
def q10c_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``: both linear-interpolate over the sorted set).
    The sketch-based scale path is ``approx_percentile`` (like q10b, no
    cross-engine oracle for sketches)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
        F.min("l_extendedprice").alias("p_min"),
        F.max("l_extendedprice").alias("p_max"),
    )


@register(
    "q10b_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           TRUE AS approx_within_3rsd
    FROM lineitem
    GROUP BY l_returnflag
    """,
    families=(),
)
def q10b_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB-scale path.

    Sketch binaries differ per engine, so the hash-checkable verdict pattern
    is used: the query computes BOTH the HLL++ estimate and the exact
    distinct count and emits ``(group, exact, within_bounds)``; the DuckDB
    oracle computes the same exact count with a literal ``TRUE``. The exact
    side exists only as the verification harness — at 100 TB you keep just
    the ``approx_count_distinct`` branch (map-side mergeable sketch, no
    expand shuffle).
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("_approx") - F.col("exact_parts"))
                <= 3 * 0.02 * F.col("exact_parts")
            ).alias("approx_within_3rsd"),
        )
    )


# ---------------------------------------------------------------------------
# Q11 — rollup / cube / grouping sets.
# ---------------------------------------------------------------------------


@register(
    "q11_rollup",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           {dsum('l_quantity')} AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    -- empty-corpus contract: Spark's ROLLUP/CUBE/GROUPING SETS emit
    -- ZERO rows on empty input (no grand-total row); pin that shape
    HAVING count(*) > 0
    """,
    families=("tpch", "bench"),
)
def q11_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via rollup."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.expr(dsum("l_quantity")).alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )


@register(
    "q11b_cube",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           {dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    -- empty-corpus contract: Spark's ROLLUP/CUBE/GROUPING SETS emit
    -- ZERO rows on empty input (no grand-total row); pin that shape
    HAVING count(*) > 0
    """,
    families=(),
)
def q11b_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cross-dimensional subtotals via cube."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.expr(dsum("l_extendedprice")).alias("sum_price")
    )


@register(
    "q11c_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    -- empty-corpus contract: Spark's ROLLUP/CUBE/GROUPING SETS emit
    -- ZERO rows on empty input (no grand-total row); pin that shape
    HAVING count(*) > 0
    """,
    families=(),
)
def q11c_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets (neither rollup nor cube shape)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("ssps_lineitem_v")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {dsum('l_quantity')} AS sum_qty
        FROM ssps_lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q11d_pivot",
    oracle=f"""
    SELECT user_id,
           {", ".join(
               f"count(*) FILTER (WHERE event_type = '{t}') AS n_{t}"
               for t in _EVENT_TYPES
           )}
    FROM events
    GROUP BY user_id
    """,
    families=(),
)
def q11d_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one count column per event type (explicit value list keeps the
    schema static — required for both determinism and a sane plan at scale)."""
    e = load_table(spark, sf_dir, "events")
    out = e.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )


@register(
    "q17b_scalar_subquery",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
               AS avg_yearly
    FROM lineitem l
    WHERE l.l_quantity < (
        SELECT 0.5 * avg(l2.l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
    )
    """,
    families=(),
)
def q17b_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): lineitems below half
    their part's average quantity. Catalyst de-correlates this into an
    aggregate + join — no per-row subquery execution."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("ssps_li_v")
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
                   AS avg_yearly
        FROM ssps_li_v l
        WHERE l.l_quantity < (
            SELECT 0.5 * avg(l2.l_quantity)
            FROM ssps_li_v l2
            WHERE l2.l_partkey = l.l_partkey
        )
        """
    )


@register(
    "q03b_null_handling",
    oracle="""
    SELECT o_orderkey,
           nullif(o_orderstatus, 'O') AS status_or_null,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_defaulted,
           (CASE WHEN o_totalprice > 300000 THEN o_totalprice END) AS big_price,
           (nullif(o_orderstatus, 'O') IS NULL) AS is_open
    FROM orders
    WHERE o_orderkey < 5000
    """,
    families=(),
)
def q03b_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics: nullif/coalesce/conditional-null/IS NULL (the
    testdata itself has no nulls, so they are manufactured here)."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 5000)
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        "o_orderkey",
        status_or_null.alias("status_or_null"),
        F.coalesce(status_or_null, F.lit("OPEN")).alias("status_defaulted"),
        F.when(F.col("o_totalprice") > 300000, F.col("o_totalprice")).alias(
            "big_price"
        ),
        status_or_null.isNull().alias("is_open"),
    )


@register(
    "q18b_variance",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
               count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           (sxx - sx * sx / n) / (n - 1) AS var_qty,
           sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
           n
    FROM s
    """,
    families=(),
)
def q18b_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev from exact decimal moments.

    Spark's ``var_samp`` (streaming Welford) and DuckDB's differ in float
    round-off; computing both engines' results from the same exact decimal
    sums makes them bit-identical — and the two-moment form is also the
    map-side-combinable shape a 100 TB aggregate wants.
    """
    li = _t(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.expr(
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
        ).alias("sx"),
        F.expr(
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))"
            " * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
        ).alias("sxx"),
        F.count("*").alias("n"),
    )
    # NULLIF: sample variance is undefined at n=1 (the oracle's x/0 is
    # NULL; ANSI Spark would raise) — NULL on both engines
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / F.nullif(
        (F.col("n") - 1).cast("double"), F.lit(0.0)
    )
    return s.select(
        "l_returnflag",
        var.alias("var_qty"),
        F.sqrt(var).alias("stddev_qty"),
        "n",
    )


# ---------------------------------------------------------------------------
# Q12 — ranking window functions: top-N per group with deterministic ties.
# ---------------------------------------------------------------------------


@register(
    "q12_window_rank",
    oracle="""
    SELECT custkey, orderkey, totalprice, rn
    FROM (
        SELECT o_custkey AS custkey,
               o_orderkey AS orderkey,
               o_totalprice AS totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
    families=("nulljoin", "bench"),
)
def q12_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (row_number over partitioned window)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
            "rn",
        )
    )


@register(
    "q12b_window_distribution",
    oracle="""
    SELECT o_orderkey AS orderkey,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           ntile(4) OVER w AS quartile,
           first_value(o_orderkey) OVER w AS cheapest_key
    FROM orders
    WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
    families=(),
)
def q12b_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank / cume_dist / ntile /
    first_value with fully deterministic ordering."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
    )


# ---------------------------------------------------------------------------
# Q13 — analytic window frame: lag + moving sum.
# ---------------------------------------------------------------------------


@register(
    "q13_window_frame",
    oracle=f"""
    SELECT o_orderkey AS orderkey,
           o_custkey AS custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS moving_total,
           lag(o_totalprice, 1) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
           ) AS prev_price
    FROM orders
    """,
    families=("bench",),
)
def q13_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving 3-row sum and lag with a deterministic order key."""
    o = _t(spark, sf_dir, "orders")
    order = [F.col("o_orderdate"), F.col("o_orderkey")]
    w_frame = Window.partitionBy("o_custkey").orderBy(*order).rowsBetween(-2, 0)
    w_lag = Window.partitionBy("o_custkey").orderBy(*order)
    return o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w_frame)
        .cast("double")
        .alias("moving_total"),
        F.lag("o_totalprice", 1).over(w_lag).alias("prev_price"),
    )


# ---------------------------------------------------------------------------
# Q14 — global sort / limit (top-k). Spark plans TakeOrderedAndProject —
# per-partition top-k then merge, no global sort at scale.
# ---------------------------------------------------------------------------


@register(
    "q14_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    families=("nulljoin", "bench"),
)
def q14_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 by price with deterministic tiebreak."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Q15 — set operations. Reference anchor: version-set union
# (RocksDbStateStoreProvider.scala:376).
# ---------------------------------------------------------------------------


@register(
    "q15_union",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
    UNION
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
    """,
    families=(),
)
def q15_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    a = o.where(F.col("o_totalprice") > 200000).select(F.col("o_custkey").alias("custkey"))
    b = c.where(F.col("c_acctbal") < 0).select(F.col("c_custkey").alias("custkey"))
    return a.union(b).distinct()


@register(
    "q15b_intersect",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
    families=(),
)
def q15b_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of two key sets."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.where(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


@register(
    "q15c_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    families=(),
)
def q15c_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) between two key sets."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    a = c.select(F.col("c_custkey").alias("custkey"))
    b = o.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.exceptAll(b).distinct()


# ---------------------------------------------------------------------------
# Q16 — string functions. Reference anchor: versioned key prefix building
# `s"$prefix:$version:"` (redis/package.scala:7).
# ---------------------------------------------------------------------------


@register(
    "q16_string_fns",
    oracle="""
    SELECT p_partkey AS partkey,
           concat_ws(':', p_brand, CAST(p_size AS VARCHAR)) AS brand_size_key,
           lower(p_name) AS name_lower,
           split_part(p_type, ' ', 1) AS type_head,
           regexp_extract(p_name, '([a-z]+)$', 1) AS name_tail,
           length(p_name) AS name_len
    FROM part
    WHERE p_size >= 25
    """,
    families=(),
)
def q16_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """concat_ws / lower / split_part / regexp_extract / length."""
    p = _t(spark, sf_dir, "part")
    return p.where(F.col("p_size") >= 25).select(
        F.col("p_partkey").alias("partkey"),
        F.concat_ws(":", F.col("p_brand"), F.col("p_size").cast("string")).alias(
            "brand_size_key"
        ),
        F.lower("p_name").alias("name_lower"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("name_tail"),
        F.length("p_name").alias("name_len"),
    )


@register(
    "q16b_string_fns_extended",
    oracle="""
    SELECT p_partkey AS partkey,
           translate(p_brand, '#', '-') AS brand_dashed,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           reverse(p_name) AS name_reversed,
           left(p_type, 5) AS type_prefix,
           repeat('*', p_size % 5) AS stars,
           replace(p_type, ' ', '_') AS type_snake
    FROM part
    WHERE p_partkey < 100
    """,
    families=(),
)
def q16b_string_fns_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """translate / lpad / reverse / left / repeat / replace."""
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") < 100)
    return p.select(
        F.col("p_partkey").alias("partkey"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.reverse("p_name").alias("name_reversed"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.repeat(F.lit("*"), (F.col("p_size") % 5)).alias("stars"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
    )


# ---------------------------------------------------------------------------
# Q17 — date/time functions. Reference anchor: PageVisit.timestamp
# (redis/package.scala:13).
# ---------------------------------------------------------------------------


@register(
    "q17_datetime",
    oracle="""
    SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month_start,
           event_type,
           count(*) AS n_events,
           min(ts) AS first_ts,
           max(ts) AS last_ts,
           max(date_diff('day', CAST(ts AS DATE), DATE '2024-02-01')) AS max_days_to_feb
    FROM events
    GROUP BY CAST(date_trunc('month', ts) AS TIMESTAMP), event_type
    """,
    families=(),
)
def q17_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc / min / max / datediff over event timestamps."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("month", "ts").alias("month_start"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.max(F.datediff(F.lit("2024-02-01").cast("date"), F.col("ts").cast("date"))).alias(
            "max_days_to_feb"
        ),
    )


@register(
    "q17c_datetime_extended",
    oracle="""
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_sec,
           CAST(date_part('dow', ts) + 1 AS INTEGER) AS dow_sunday1,
           CAST(date_part('hour', ts) AS INTEGER) AS hour_of_day,
           CAST(last_day(CAST(ts AS DATE)) AS DATE) AS month_last_day,
           CAST(CAST(ts AS DATE) + INTERVAL '1 month' AS DATE) AS next_month
    FROM events
    WHERE event_id < 200
    """,
    families=(),
)
def q17c_datetime_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """epoch / day-of-week / hour / last_day / add_months.

    Dialect note: DuckDB's dow is 0=Sunday, Spark's dayofweek is 1=Sunday —
    the oracle aligns with +1.
    """
    e = _t(spark, sf_dir, "events").where(F.col("event_id") < 200)
    return e.select(
        "event_id",
        F.unix_timestamp("ts").alias("epoch_sec"),
        F.dayofweek("ts").alias("dow_sunday1"),
        F.hour("ts").alias("hour_of_day"),
        F.last_day("ts").alias("month_last_day"),
        F.add_months(F.col("ts").cast("date"), 1).alias("next_month"),
    )


# ---------------------------------------------------------------------------
# Q18 — math / arithmetic. Reference anchor: size-estimate math
# (RocksDbStateStoreProvider.scala:270).
# ---------------------------------------------------------------------------


@register(
    "q18_math",
    oracle=f"""
    SELECT l_returnflag,
           {SQL_SUM_CHARGE} AS sum_charge,
           {davg('l_discount')} AS avg_disc,
           sqrt({dsum('l_quantity')}) AS qty_sqrt,
           max(abs(l_extendedprice - l_quantity * 1000)) AS max_abs_dev
    FROM lineitem
    GROUP BY l_returnflag
    """,
    families=("tpch", "bench"),
)
def q18_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic expression pipeline inside whole-stage codegen."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr(SQL_SUM_CHARGE).alias("sum_charge"),
        F.expr(davg("l_discount")).alias("avg_disc"),
        F.expr(f"sqrt({dsum('l_quantity')})").alias("qty_sqrt"),
        F.max(F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000)).alias(
            "max_abs_dev"
        ),
    )


# ---------------------------------------------------------------------------
# Q19 — nested data: JSON extraction + array explode. Reference anchor: the
# `visits: Seq[PageVisit]` nested state value (redis/package.scala:15,41).
# ---------------------------------------------------------------------------


@register(
    "q19_json",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
    families=(),
)
def q19_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json-style extraction of a JSON property column."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("int")).alias("sum_k"),
        F.count("*").alias("n"),
    )


@register(
    "q19b_explode",
    oracle="""
    SELECT user_id,
           unnest(generate_series(1, CAST(month(ts) AS BIGINT))) AS m,
           event_id
    FROM events
    WHERE event_id < 50
    """,
    families=(),
)
def q19b_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction (sequence) + explode into rows."""
    e = _t(spark, sf_dir, "events").where(F.col("event_id") < 50)
    return e.select(
        "user_id",
        F.explode(F.sequence(F.lit(1).cast("long"), F.month("ts").cast("long"))).alias("m"),
        "event_id",
    )


@register(
    "q19c_map_type",
    oracle="""
    SELECT event_type,
           'n' AS stat_key,
           CAST(count(*) AS DOUBLE) AS stat_value
    FROM events GROUP BY event_type
    UNION ALL
    SELECT event_type,
           'sum_k' AS stat_key,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE)
               AS stat_value
    FROM events GROUP BY event_type
    """,
    families=(),
)
def q19c_map_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round-trip: build a map column of per-type stats, then
    explode it back to rows (maps don't hash portably across engines, so
    the oracle checks the exploded entries)."""
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.get_json_object("props", "$.k").cast("int"))
        .cast("double")
        .alias("sum_k"),
    )
    with_map = agg.select(
        "event_type",
        F.create_map(
            F.lit("n"), F.col("n"), F.lit("sum_k"), F.col("sum_k")
        ).alias("stats"),
    )
    return with_map.select(
        "event_type", F.explode("stats").alias("stat_key", "stat_value")
    )


# ---------------------------------------------------------------------------
# Q27 — pandas UDF (Arrow-vectorized). Reference anchor: the user-supplied
# state function updateUserStatistics (redis/package.scala:33-45) is the
# "user code in the query" capability.
# ---------------------------------------------------------------------------


@register(
    "q27_pandas_udf",
    oracle="""
    SELECT l_orderkey AS orderkey,
           l_linenumber AS linenumber,
           CAST((CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))
                 * (100 + CAST(round(l_tax * 100) AS BIGINT))
                 + 5000) // 10000 AS DOUBLE) / 100.0 AS charge
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_linenumber = 1
    """,
    families=("bench",),
)
def q27_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas UDF (NOT a row-at-a-time Python UDF).

    The same expression is pure-SQL expressible — the point of this entry is
    exercising the vectorized Python path the engine uses when built-ins
    genuinely can't express an operator.

    The charge is computed in EXACT integer cents inside the UDF (all
    testdata numerics are 2dp): price·(1−disc)·(1+tax) as an int64
    product in 10⁻⁶ dollars, HALF_UP to cents via (n+5000)//10000. A
    double product + round(x, 2) raced on a half-cent boundary at sf0.1
    (Spark's BigDecimal-of-shortest-repr rounding vs DuckDB's binary
    rounding disagree when the true value sits on .xx5) — the integer
    form is identical in both engines at any scale.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def charge(price: pd.Series, discount: pd.Series, tax: pd.Series) -> pd.Series:
        pc = (price * 100).round().astype("int64")
        dc = (discount * 100).round().astype("int64")
        tc = (tax * 100).round().astype("int64")
        micros = pc * (100 - dc) * (100 + tc)  # exact, 1e-6 dollars
        cents = (micros + 5000) // 10000  # HALF_UP to cents
        return cents / 100.0

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_returnflag") == "R") & (F.col("l_linenumber") == 1))
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            charge("l_extendedprice", "l_discount", "l_tax").alias("charge"),
        )
    )


@register(
    "q27b_python_udtf",
    oracle="""
    SELECT p.p_partkey AS partkey,
           t.word AS word,
           length(t.word) AS wlen
    FROM part p, unnest(list_distinct(string_split(p.p_type, ' '))) AS t(word)
    WHERE p.p_size >= 40
    """,
    families=(),
)
def q27b_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): one row per distinct word of p_type.

    The user-defined *table* function surface (SURVEY §2-C Q27 "UDTF via
    Python UDTF 3.5+") — a lateral join expanding each input row.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, wlen int")
    class SplitTypeWords:
        def eval(self, p_type: str):
            for w in sorted(set(p_type.split(" "))):
                yield w, len(w)

    spark.udtf.register("ssps_split_type_words", SplitTypeWords)
    _t(spark, sf_dir, "part").createOrReplaceTempView("ssps_part_v")
    return spark.sql(
        """
        SELECT p.p_partkey AS partkey, t.word, t.wlen
        FROM ssps_part_v p, LATERAL ssps_split_type_words(p.p_type) t
        WHERE p.p_size >= 40
        """
    )


# ---------------------------------------------------------------------------
# Q33/Q34 — TPC-H-shaped composite queries: multi-way joins + filtered agg +
# top-k. The reference serves exactly these Spark operators from under the
# state-store SPI (capability rows, SURVEY §2-C Q5/Q6/Q9/Q14 composed);
# these entries exercise Catalyst's join reordering, broadcast selection and
# AQE on a realistic plan shape.
# ---------------------------------------------------------------------------


@register(
    "q33_tpch_q3",
    oracle=f"""
    SELECT l_orderkey AS orderkey,
           {SQL_SUM_DISC_PRICE} AS revenue,
           o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-01'
      AND l_shipdate > TIMESTAMP '1997-06-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
    families=("tpch", "nulljoin", "bench"),
)
def q33_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): 3-way join, grouped revenue,
    deterministic top-10. customer is the small side (broadcast under the
    64 MB threshold); orders⋈lineitem shuffles on the order key once."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.expr(SQL_SUM_DISC_PRICE).alias("revenue"))
        .select(F.col("l_orderkey").alias("orderkey"), "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("orderkey"))
        .limit(10)
    )


@register(
    "q34_tpch_q5",
    oracle=f"""
    SELECT n_name AS nation, {SQL_SUM_DISC_PRICE} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    families=("tpch", "nulljoin", "bench"),
)
def q34_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier volume): 6-way join where region,
    nation, supplier and customer are broadcast dims and the only shuffle
    joins are on the fact keys; the c_nationkey = s_nationkey condition
    rides on the lineitem⋈supplier join."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(cust),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.expr(SQL_SUM_DISC_PRICE).alias("revenue"))
        .select(F.col("n_name").alias("nation"), "revenue")
    )


@register(
    "q33b_tpch_q10",
    oracle=f"""
    SELECT c_custkey, c_name, {SQL_SUM_DISC_PRICE} AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    families=("tpch", "nulljoin", "bench"),
)
def q33b_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): fact-fact shuffle join on
    the order key, broadcast customer/nation dims, grouped revenue, global
    top-20 via TakeOrderedAndProject (k-row merge, never a full sort)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.expr(SQL_SUM_DISC_PRICE).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


LARGE_ORDER_QTY = 150


@register(
    "q33c_tpch_q18",
    oracle=f"""
    SELECT c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           {dsum('l_quantity')} AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > {LARGE_ORDER_QTY}
          )
      AND c_custkey = o_custkey
      AND o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    families=("tpch", "bench"),
)
def q33c_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): HAVING-filtered self
    semi-join on lineitem, then fact joins + top-100.

    The qualifying-order set is produced by one map-side-combined groupBy
    and left-semi-joined back into lineitem — both shuffles are on
    l_orderkey, so AQE coalesces them onto the same exchange footprint; at
    100 TB this is two co-partitioned passes over lineitem, never a
    row-expanding join."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .where(F.col("qty") > LARGE_ORDER_QTY)
        .select("l_orderkey")
    )
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.expr(dsum("l_quantity")).alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "q27c_grouped_agg_udaf",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
           / CAST(100 * SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
               AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    families=(),
)
def q27c_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined AGGREGATE function: grouped-agg pandas UDF (Arrow batch
    per group) computing a quantity-weighted mean price — the UDAF leg of
    SURVEY §2-C Q27.

    Numeric policy: the 2-decimal inputs are scaled to exact int64 cents
    inside the UDAF, summed exactly, and divided once — giving the same
    double as the oracle's BIGINT-sum formulation regardless of pandas'
    pairwise vs DuckDB's sequential float summation order.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        pc = (price * 100).round().astype("int64")
        qc = (qty * 100).round().astype("int64")
        return float(int((pc * qc).sum()) / (100 * int(qc.sum())))

    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        wavg("l_extendedprice", "l_quantity").alias("wavg_price")
    )


@register(
    "q10d_hll_sketch",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events
    GROUP BY event_type
    UNION ALL
    SELECT '__all__' AS event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events
    """,
    families=(),
)
def q10d_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL): per-type
    user cardinality plus a global row built by UNIONING the per-type
    sketches — the 100 TB primitive: partial sketches combine map-side and
    merge across partitions/days without re-scanning, unlike exact distinct.

    Sketch binaries are engine-specific, so the hash-checkable verdict
    pattern is used: each row carries the exact distinct count and a boolean
    asserting the sketch estimate lands within 5% of it (the DuckDB oracle
    emits the same exact counts with literal ``TRUE``). The exact side is
    the verification harness only; the sketch branch is the scale path.
    """
    e = _t(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )

    def verdict(est, exact):
        return (F.abs(est - exact) <= 0.05 * exact).alias("approx_within_5pct")

    per_row = per_type.select(
        "event_type",
        "exact_users",
        verdict(F.hll_sketch_estimate("sk"), F.col("exact_users")),
    )
    # global row: union the per-type sketches (mergeability is the point);
    # exact global distinct comes from a one-row broadcast-joined agg
    total = (
        per_type.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_approx")
        )
        .crossJoin(
            F.broadcast(e.agg(F.countDistinct("user_id").alias("exact_users")))
        )
        .select(
            F.lit("__all__").alias("event_type"),
            "exact_users",
            verdict(F.col("_approx"), F.col("exact_users")),
        )
    )
    return per_row.unionByName(total)


@register(
    "q27d_grouped_map_udf",
    oracle="""
    WITH c AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events
    ),
    g AS (
        SELECT event_type,
               CAST(SUM(vc) AS DOUBLE) AS s,
               CAST(SUM(vc * vc) AS DOUBLE) AS ss,
               COUNT(*) AS n
        FROM c GROUP BY event_type
    )
    SELECT c.event_id,
           c.event_type,
           (CAST(c.vc AS DOUBLE) - s / n) / sqrt((ss - s * s / n) / (n - 1))
               AS zscore
    FROM c JOIN g USING (event_type)
    """,
    families=(),
)
def q27d_grouped_map_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-MAP pandas UDF (``applyInPandas``): per-event-type z-score
    normalization, each group handed to Python as one Arrow-backed pandas
    frame — the grouped-map leg of SURVEY §2-C Q27 (scalar → q27, UDTF →
    q27b, grouped-agg → q27c).

    Numeric policy: moments accumulate as exact int64 cents; the double
    formula ``(vc - s/n) / sqrt((ss - s²/n)/(n-1))`` then runs on
    bit-identical operands in both engines (same rationale as q18b's
    moment-based variance).
    """
    import math

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        vc = (pdf["value"] * 100).round().astype("int64")
        n = len(vc)
        s = float(vc.sum())
        ss = float((vc * vc).sum())
        # n=1 (or zero-variance) group: z-score is undefined — NULL on
        # both engines (the oracle's x/0 is NULL; raw Python would raise
        # ZeroDivisionError). Nullable Float64 ships a real null, not NaN.
        var = (ss - s * s / n) / (n - 1) if n > 1 else 0.0
        if var > 0.0:
            z = (vc.astype("float64") - s / n) / math.sqrt(var)
        else:
            z = pd.array([None] * n, dtype="Float64")
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "zscore": pd.array(z, dtype="Float64"),
            }
        )

    e = _t(spark, sf_dir, "events")
    return (
        e.select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(zscore, schema="event_id bigint, event_type string, zscore double")
    )


@register(
    "q19d_array_hof",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           CAST(list_min(CAST(embedding AS DOUBLE[])) AS DOUBLE) AS v_min,
           CAST(list_max(CAST(embedding AS DOUBLE[])) AS DOUBLE) AS v_max,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS l2_norm,
           CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0))
               AS INTEGER) AS n_positive
    FROM embeddings
    """,
    families=(),
)
def q19d_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions (transform/filter/aggregate lambdas in
    codegen — SURVEY §2-C Q19's nested-manipulation family over the
    embeddings table): per-vector stats incl. a sequential-fold L2 norm that
    matches DuckDB's list_dot_product bit-for-bit."""
    from spark_state_provider_spark.functions.vector import as_double_vec, norm

    e = _t(spark, sf_dir, "embeddings")
    v = as_double_vec("embedding")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.array_min(v).alias("v_min"),
        F.array_max(v).alias("v_max"),
        norm(v).alias("l2_norm"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
    )


@register(
    "q11e_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, val
    FROM (
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_tax
        FROM lineitem WHERE l_orderkey < 100
    )
    UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_tax))
    """,
    families=(),
)
def q11e_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide → long) — the inverse of q11d's pivot."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 100)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_tax"],
        "metric",
        "val",
    )


# ---------------------------------------------------------------------------
# Q43 — SCD2 validity intervals: turn an event/change log into
# slowly-changing-dimension rows (valid_from / valid_to / is_current).
# The warehouse-standard consumer of a versioned change feed — the batch
# analog of reading the state changelog (streaming/state_reader.py's
# read_state_changes) and reconstructing per-key history.
# ---------------------------------------------------------------------------


@register(
    "q43_scd2_intervals",
    oracle="""
    SELECT user_id,
           event_id,
           event_type AS attr_value,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               AS is_current
    FROM events
    """,
    families=(),
)
def q43_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 interval construction over the per-user change log.

    One shuffle on user_id, one in-partition sort, lead() closes each
    version's validity window; the final version per key is open-ended
    (is_current). At 100 TB this is a single window pass — the alternative
    self-join formulation is quadratic per key and never worth it.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "q10e_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.49) AS p50_lo,
           quantile_cont(l_extendedprice, 0.51) AS p50_hi,
           quantile_cont(l_extendedprice, 0.94) AS p95_lo,
           quantile_cont(l_extendedprice, 0.96) AS p95_hi,
           TRUE AS p50_in_bounds,
           TRUE AS p95_in_bounds
    FROM lineitem
    GROUP BY l_returnflag
    """,
    families=(),
)
def q10e_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) — the mergeable quantile
    path for 100 TB where an exact percentile's full sort/collect is not
    affordable. Accuracy 10000 bounds rank error at n/10000.

    Hash-checkable verdict pattern (sketch values are engine-specific): the
    query emits exact interpolated percentiles at 0.50±0.01 / 0.95±0.01 as
    scalar doubles (Spark ``percentile`` == DuckDB ``quantile_cont``, proved
    by q10c) plus booleans asserting the sketch estimates land inside those
    brackets — far wider than the guaranteed n/10000 rank error, so a
    contract-conforming sketch always passes. All output columns are
    scalars (the round-1 array-typed output crashed the driver's pandas
    canonicalizer: CORRECTNESS_r01.json q10e err)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)"
            ).alias("_ap"),
            F.expr(
                "percentile(l_extendedprice, array(0.49, 0.51, 0.94, 0.96))"
            ).alias("_ex"),
        )
        .select(
            "l_returnflag",
            F.element_at("_ex", 1).alias("p50_lo"),
            F.element_at("_ex", 2).alias("p50_hi"),
            F.element_at("_ex", 3).alias("p95_lo"),
            F.element_at("_ex", 4).alias("p95_hi"),
            F.element_at("_ap", 1).between(
                F.element_at("_ex", 1), F.element_at("_ex", 2)
            ).alias("p50_in_bounds"),
            F.element_at("_ap", 2).between(
                F.element_at("_ex", 3), F.element_at("_ex", 4)
            ).alias("p95_in_bounds"),
        )
    )


@register(
    "q33d_tpch_q6",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    families=("tpch",),
)
def q33d_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter + global agg — the pushdown showcase.

    Every predicate reaches the parquet scan (shipdate range, discount
    band, quantity bound) and the single DECIMAL-exact sum partial-aggregates
    map-side; at 100 TB this plan reads one column slice of a pruned range
    and shuffles 32 partial rows.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
                " * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)"
            ).alias("revenue")
        )
    )


@register(
    "q33e_tpch_q14",
    oracle="""
    SELECT 100.00 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
    families=("tpch",),
)
def q33e_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: join + conditional aggregate (promo revenue share).

    ``part`` broadcasts (dim under the threshold); the shipdate month filter
    is pushed to the lineitem scan, so the join input is one month of one
    fact table — no shuffle at any scale, DECIMAL-exact both sums.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    disc = (
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (1 - CAST(l_discount AS DECIMAL(4,2)))"
    )
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.expr(
                f"100.00 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {disc}"
                f" ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)"
                f" / CAST(SUM({disc}) AS DOUBLE)"
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q45 family — remaining TPC-H shapes, adapted to the testdata's columns
# (no l_shipmode / l_commitdate / partsupp / c_phone — see TESTDATA.md).
# Each picks a plan shape not yet exercised by q33/q34: correlated EXISTS,
# OR-of-conjunctions join predicate, outer-join agg-of-agg, CTE + scalar
# MAX subquery, scalar AVG subquery + NOT EXISTS.
# ---------------------------------------------------------------------------


@register(
    "q45_tpch_q4",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    families=(),
)
def q45_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): correlated EXISTS becomes a
    LEFT SEMI join whose condition spans both sides (l_shipdate >
    o_orderdate) — adapted to l_shipdate since the testdata has no
    l_commitdate/l_receiptdate.

    The quarter filter is pushed to the orders scan, so the semi-join
    probes lineitem with a small build side; the semi join emits each
    qualifying order once (never row-expands), and the priority agg is a
    5-group map-side combine. At 100 TB: one pruned orders scan, one
    shuffle on the order key.
    """
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q45b_tpch_q7",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {SQL_SUM_DISC_PRICE} AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year, l_extendedprice, l_discount
        FROM supplier, lineitem, orders, customer, nation n1, nation n2
        WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
          AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
          AND c_nationkey = n2.n_nationkey
          AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
               OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    families=(),
)
def q45b_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): nation-pair OR-of-conjunctions
    predicate over a supplier-side and a customer-side dimension chain.

    Both nation legs broadcast; the OR pair condition evaluates after the
    broadcast joins (it references both legs, so it cannot push to either
    scan alone — but each leg's IN ('NATION_3','NATION_7') implication is
    seeded onto supplier/customer builds below, which shrinks the fact rows
    surviving the hash probes). Only shuffle: lineitem⋈orders on the order
    key.
    """
    pair = ("NATION_3", "NATION_7")
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name").isin(*pair))
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("s_nk"),
                                      F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("s_nk"),
        )
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("c_nk"),
                                      F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("c_nk"),
        )
        .select("c_custkey", "cust_nation")
    )
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .where(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.expr(SQL_SUM_DISC_PRICE).alias("revenue"))
    )


@register(
    "q45c_tpch_q12",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
    families=(),
)
def q45c_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority): fact-fact join + CASE
    pivot counts — adapted to group by l_linestatus (no l_shipmode column).

    The year filter prunes the lineitem scan before the join; the CASE
    sums partial-aggregate map-side into 2 groups. At 100 TB the only cost
    is the o_orderkey shuffle, and AQE shrinks the post-filter side first.
    """
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q45d_tpch_q13",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
    families=(),
)
def q45d_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): LEFT OUTER join with an extra
    non-equi residual condition, then an aggregation OF an aggregation.

    count(o_orderkey) over the outer join counts 0 for order-less
    customers (NULL never counts) — semantics a semi-join can't give.
    First agg shuffles on c_custkey; the second input is one row per
    customer and re-shuffles on the tiny c_count domain, where skew is
    bounded by the distinct-count of order counts, not data volume.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@register(
    "q45e_tpch_q15",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no, {SQL_SUM_DISC_PRICE} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    families=(),
)
def q45e_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): reused CTE + scalar MAX subquery.

    The revenue view is computed once and cached for its two consumers
    (the max and the equality probe) — at 100 TB recomputing a lineitem
    agg twice is the classic CTE trap. The 1-row max broadcasts; revenue
    totals are DECIMAL-exact so the double equality is safe (both engines
    derive bit-identical values from exact sums).
    """
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.expr(SQL_SUM_DISC_PRICE).alias("total_revenue"))
        .cache()
    )
    top = revenue.agg(F.max("total_revenue").alias("mx"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(top), F.col("total_revenue") == F.col("mx"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q45f_tpch_q22",
    oracle="""
    SELECT c_nationkey AS cntrycode, count(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                              / COUNT(*)
                       FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
    families=(),
)
def q45f_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): uncorrelated scalar AVG
    subquery + NOT EXISTS anti-join — grouped by c_nationkey (the testdata
    has no c_phone country code), and anti-joined against *urgent* orders
    (this synthetic data gives every customer at least one order, so the
    literal "no orders at all" predicate would be vacuously empty).

    The 1-row average cross-joins as a broadcast nested loop (a single
    scalar against every row — the one place BNL is the right plan); the
    anti join probes orders' custkey set; the exact-decimal average keeps
    the threshold bit-identical across engines. At 100 TB: two customer
    scans (one column each) + one anti-join shuffle.
    """
    cust = _t(spark, sf_dir, "customer")
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(F.expr(davg("c_acctbal")).alias("avg_bal"))
    )
    urgent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.expr(
                "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# q53 — fixed-width histogram: the distribution-profiling aggregate every
# data-quality pass runs before choosing filters/partitioning. Bin id is a
# single closed-form double expression (identical in both engines), so the
# whole histogram is one map-side-combinable groupBy.
# ---------------------------------------------------------------------------

_HIST_LO, _HIST_W, _HIST_BINS = 900.0, 5000.0, 21


@register(
    "q53_histogram",
    oracle=f"""
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM (
        SELECT l_extendedprice,
               least(greatest(CAST(floor(
                   (CAST(l_extendedprice AS DOUBLE) - {_HIST_LO}) / {_HIST_W}
               ) AS BIGINT), 0), {_HIST_BINS - 1}) AS bin
        FROM lineitem
    )
    GROUP BY bin
    """,
    families=("events", "bench"),
)
def q53_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_HIST_BINS}-bin fixed-width histogram of lineitem prices.

    Scale shape: a pure narrow map (closed-form bin id, no width_bucket
    dialect dependence) + one {_HIST_BINS}-group aggregate — partial
    aggregation reduces each partition to ≤{_HIST_BINS} rows before the
    shuffle, so the histogram costs one scan regardless of corpus size.
    """
    li = _t(spark, sf_dir, "lineitem")
    bin_col = F.least(
        F.greatest(
            F.floor(
                (F.col("l_extendedprice").cast("double") - F.lit(_HIST_LO))
                / F.lit(_HIST_W)
            ).cast("long"),
            F.lit(0).cast("long"),
        ),
        F.lit(_HIST_BINS - 1).cast("long"),
    ).alias("bin")
    return (
        li.select(bin_col, "l_extendedprice")
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_items"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# q63 family — the remaining TPC-H shapes, completing the adapted suite:
# Q1 (full pricing summary), Q8 (market share), Q9 (profit, cost adapted to
# p_retailprice — no partsupp table in the testdata), Q19 (disjunctive
# join predicate), Q21 (waiting suppliers — the double-EXISTS self-join,
# adapted lateness = shipped >90 days after order date; no
# l_commitdate/l_receiptdate in the testdata). Q2/Q11/Q16/Q20 are the only
# TPC-H queries not represented: they are partsupp-centric and the table
# does not exist in this schema.
# ---------------------------------------------------------------------------

_Q8_VOLUME = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)


@register(
    "q63_tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum('l_quantity')} AS sum_qty,
           {dsum('l_extendedprice')} AS sum_base_price,
           {SQL_SUM_DISC_PRICE} AS sum_disc_price,
           {SQL_SUM_CHARGE} AS sum_charge,
           {davg('l_quantity')} AS avg_qty,
           {davg('l_extendedprice')} AS avg_price,
           {davg('l_discount')} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    families=("tpch", "bench"),
)
def q63_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1, complete: the canonical pricing summary — 8 aggregates in
    one map-side-combined pass behind a pushed shipdate filter. The
    archetype of 'scan minus pruned columns, partial-agg, tiny shuffle'."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr(dsum("l_quantity")).alias("sum_qty"),
        F.expr(dsum("l_extendedprice")).alias("sum_base_price"),
        F.expr(SQL_SUM_DISC_PRICE).alias("sum_disc_price"),
        F.expr(SQL_SUM_CHARGE).alias("sum_charge"),
        F.expr(davg("l_quantity")).alias("avg_qty"),
        F.expr(davg("l_extendedprice")).alias("avg_price"),
        F.expr(davg("l_discount")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


_Q8_NATION = "NATION_3"


@register(
    "q63b_tpch_q8",
    oracle=f"""
    WITH flat AS (
        SELECT year(o_orderdate) AS o_year,
               {_Q8_VOLUME} AS volume,
               n2.n_name AS nation
        FROM part, lineitem, supplier, orders, customer,
             nation n1, nation n2, region
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          AND l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
          AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
          AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                              AND TIMESTAMP '1997-12-31'
          AND p_type = 'ECONOMY'
    )
    SELECT o_year,
           COALESCE(CAST(SUM(CASE WHEN nation = '{_Q8_NATION}' THEN volume END)
               AS DOUBLE), 0.0)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
           CAST(SUM(volume) AS DOUBLE) AS total_volume
    FROM flat GROUP BY o_year
    """,
    families=("tpch", "bench"),
)
def q63b_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): an 8-table join tree where
    every dimension leg (part, supplier, customer, nation×2, region)
    broadcasts and only lineitem⋈orders shuffles; the share is a
    conditional-over-total aggregate per year."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp"),
        )
    )
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    flat = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            F.expr(_Q8_VOLUME).alias("volume"),
            "nation",
        )
    )
    return flat.groupBy("o_year").agg(
        F.coalesce(
            F.expr(
                f"CAST(SUM(CASE WHEN nation = '{_Q8_NATION}' THEN volume END) AS DOUBLE)"
            ),
            F.lit(0.0),
        ).alias("mkt_share_num"),
        F.expr("CAST(SUM(volume) AS DOUBLE)").alias("total_volume"),
    ).select(
        "o_year",
        (F.col("mkt_share_num") / F.col("total_volume")).alias("mkt_share"),
        "total_volume",
    )


_Q9_COST = (
    "CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))"
    " * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
)


@register(
    "q63c_tpch_q9",
    oracle=f"""
    SELECT nation, o_year,
           CAST(SUM({_Q8_VOLUME}) AS DOUBLE) - {_Q9_COST} * 0.1 AS profit
    FROM (
        SELECT n_name AS nation, year(o_orderdate) AS o_year,
               l_extendedprice, l_discount, p_retailprice, l_quantity
        FROM part, supplier, lineitem, orders, nation
        WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
          AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
    )
    GROUP BY nation, o_year
    """,
    families=("tpch", "bench"),
)
def q63c_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year). Cost side
    adapted to p_retailprice × quantity × 10% — the testdata has no
    partsupp/ps_supplycost. Decimal-exact sums per term, one double
    subtraction at the end."""
    li = _t(spark, sf_dir, "lineitem")
    flat = (
        li.join(
            F.broadcast(_t(spark, sf_dir, "part")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(
            F.broadcast(_t(spark, sf_dir, "supplier")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(_t(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            "l_extendedprice",
            "l_discount",
            "p_retailprice",
            "l_quantity",
        )
    )
    return flat.groupBy("nation", "o_year").agg(
        (
            F.expr(f"CAST(SUM({_Q8_VOLUME}) AS DOUBLE)")
            - F.expr(_Q9_COST) * F.lit(0.1)
        ).alias("profit")
    )


_Q19_PRED = (
    "(p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15"
    " AND l_quantity BETWEEN 1 AND 11)"
    " OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25"
    " AND l_quantity BETWEEN 10 AND 20)"
    " OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50"
    " AND l_quantity BETWEEN 20 AND 30)"
)


@register(
    "q63d_tpch_q19",
    oracle=f"""
    SELECT COALESCE({SQL_SUM_DISC_PRICE}, 0.0) AS revenue,
           count(*) AS n_items
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND ({_Q19_PRED})
    """,
    families=("tpch", "bench"),
)
def q63d_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue under an OR-of-conjunctions
    predicate): the disjunction references both join sides, so it must
    evaluate as a join residual — the part leg broadcasts and the common
    p_partkey = l_partkey conjunct stays the hash key (never a cartesian
    with a post-filter)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(
        F.broadcast(part),
        (F.col("p_partkey") == F.col("l_partkey")) & F.expr(_Q19_PRED),
    )
    return j.agg(
        F.coalesce(F.expr(SQL_SUM_DISC_PRICE), F.lit(0.0)).alias("revenue"),
        F.count("*").alias("n_items"),
    )


_LATE_DAYS = 90


@register(
    "q63e_tpch_q21",
    oracle=f"""
    SELECT s_name, count(*) AS numwait
    FROM lineitem l1, orders, supplier
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL {_LATE_DAYS} DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate + INTERVAL {_LATE_DAYS} DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    families=("tpch", "bench"),
)
def q63e_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): lateness
    adapted to 'shipped > {_LATE_DAYS} days after order date' (no
    l_receiptdate/l_commitdate in the testdata).

    The oracle keeps the literal EXISTS / NOT EXISTS double self-join; the
    engine uses the scale formulation: ONE aggregation over the
    order-joined lineitems computes per-order distinct-supplier and
    distinct-LATE-supplier counts, and a row qualifies iff its order has
    ≥2 suppliers and exactly one late supplier (itself — the row is late).
    Equivalent row-for-row, but lineitem is scanned once and shuffled once
    on orderkey instead of three correlated self-joins.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    lo = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "late",
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {_LATE_DAYS} DAYS"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("ns"),
        F.count_distinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("nls"),
    )
    qual = (
        lo.where(F.col("late"))
        .join(
            per_order.where((F.col("ns") >= 2) & (F.col("nls") == 1)).select(
                F.col("l_orderkey").alias("qok")
            ),
            F.col("l_orderkey") == F.col("qok"),
        )
        .join(
            F.broadcast(_t(spark, sf_dir, "supplier")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
    )
    return (
        qual.groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q69 — exact-arithmetic Pearson correlation. Naive corr() accumulates
# doubles in shuffle order (non-deterministic across engines AND across
# runs); here every moment (Σx, Σy, Σxy, Σx², Σy², n) is summed EXACTLY as
# integer cents in DECIMAL(38,0), and the final r is one fixed-order double
# expression — deterministic, mergeable (combinable map-side), and
# oracle-identical. The same trick as q18b's exact variance, extended to
# the cross-moment.
# ---------------------------------------------------------------------------

_CORR_MOMENTS = (
    "CAST(count(*) AS DOUBLE) AS n, "
    "CAST(SUM(CAST(xc AS DECIMAL(38,0))) AS DOUBLE) AS sx, "
    "CAST(SUM(CAST(yc AS DECIMAL(38,0))) AS DOUBLE) AS sy, "
    "CAST(SUM(CAST(xc AS DECIMAL(38,0)) * CAST(yc AS DECIMAL(38,0))) AS DOUBLE) AS sxy, "
    "CAST(SUM(CAST(xc AS DECIMAL(38,0)) * CAST(xc AS DECIMAL(38,0))) AS DOUBLE) AS sxx, "
    "CAST(SUM(CAST(yc AS DECIMAL(38,0)) * CAST(yc AS DECIMAL(38,0))) AS DOUBLE) AS syy"
)
# NULLIF: a single-row (or zero-variance) group has a 0 denominator —
# correlation is undefined there, NULL on both engines (n=1 contract)
_CORR_R = (
    "(n * sxy - sx * sy) / NULLIF("
    "sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), 0.0)"
)


@register(
    "q69_correlation",
    oracle=f"""
    WITH c AS (
        SELECT l_returnflag,
               CAST(round(l_quantity * 100) AS BIGINT) AS xc,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
        FROM lineitem
    ),
    m AS (SELECT l_returnflag, {_CORR_MOMENTS} FROM c GROUP BY l_returnflag)
    SELECT l_returnflag, {_CORR_R} AS corr_qty_price FROM m
    """,
    families=("tpch", "bench"),
)
def q69_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs extended price per return flag,
    computed from exact integer-cent moments.

    Scale notes: the five moments partial-aggregate map-side (unlike a
    naive two-pass mean-centered formulation, this is ONE pass), DECIMAL
    sums are shuffle-order-independent, and the only floating point is the
    final closed-form expression — so the result is reproducible at any
    parallelism. Exactly the mergeable-moments pattern that also powers
    q67's incremental refresh.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity") * 100).cast("long").alias("xc"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("yc"),
    )
    m = li.groupBy("l_returnflag").agg(
        F.expr("CAST(count(*) AS DOUBLE)").alias("n"),
        F.expr("CAST(SUM(CAST(xc AS DECIMAL(38,0))) AS DOUBLE)").alias("sx"),
        F.expr("CAST(SUM(CAST(yc AS DECIMAL(38,0))) AS DOUBLE)").alias("sy"),
        F.expr(
            "CAST(SUM(CAST(xc AS DECIMAL(38,0)) * CAST(yc AS DECIMAL(38,0))) AS DOUBLE)"
        ).alias("sxy"),
        F.expr(
            "CAST(SUM(CAST(xc AS DECIMAL(38,0)) * CAST(xc AS DECIMAL(38,0))) AS DOUBLE)"
        ).alias("sxx"),
        F.expr(
            "CAST(SUM(CAST(yc AS DECIMAL(38,0)) * CAST(yc AS DECIMAL(38,0))) AS DOUBLE)"
        ).alias("syy"),
    )
    return m.select("l_returnflag", F.expr(_CORR_R).alias("corr_qty_price"))


# ---------------------------------------------------------------------------
# q70 — bounded per-group array aggregation: the "top items per segment as
# a list" shape (recommendation feeds, summary tables). The list is sorted
# and SLICED inside the aggregate projection, so the output payload per
# group is bounded regardless of group size.
# ---------------------------------------------------------------------------


@register(
    "q70_grouped_topk_array",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_custs,
           array_to_string(
               (list(c_custkey ORDER BY c_acctbal DESC, c_custkey))[1:5], ',')
               AS top5_by_balance
    FROM customer
    GROUP BY c_mktsegment
    """,
    families=(),
)
def q70_grouped_topk_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment top-5 customers by balance, materialized as a
    comma-joined id string (the driver's value-hash canonicalizer cannot
    sort pandas list cells, so the array is flattened to a flat string —
    same payload, hash-stable; q51 uses the same representation).

    Scale note: the slice happens in the aggregate's projection so only 5
    ids per group survive; at 100 TB you'd pre-reduce with a
    WindowGroupLimit (rank ≤ 5 per segment, as q12) before collecting —
    same result, partial top-k per partition — but the collect-sort-slice
    form shown here is the one users write and must be supported.
    """
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_custs"),
        F.array_join(
            F.slice(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                (-F.col("c_acctbal")).alias("neg_bal"),
                                F.col("c_custkey").alias("k"),
                            )
                        )
                    ),
                    lambda s: s["k"].cast("string"),
                ),
                1,
                5,
            ),
            ",",
        ).alias("top5_by_balance"),
    )


# ---------------------------------------------------------------------------
# q71 — null-safe join semantics (<=> / IS NOT DISTINCT FROM): NULL keys
# match each other under the null-safe operator and never match under
# plain equality — the semantic corner every engine migration trips on.
# ---------------------------------------------------------------------------


@register(
    "q71_null_safe_join",
    oracle="""
    WITH l AS (
        SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS pk
        FROM orders
    ),
    r AS (
        SELECT DISTINCT nullif(o_orderpriority, '1-URGENT') AS pk FROM orders
    )
    SELECT
        CAST((SELECT count(*) FROM l JOIN r ON l.pk = r.pk) AS BIGINT)
            AS n_plain,
        CAST((SELECT count(*) FROM l JOIN r ON l.pk IS NOT DISTINCT FROM r.pk)
            AS BIGINT) AS n_null_safe,
        CAST((SELECT count(*) FROM l WHERE pk IS NULL) AS BIGINT) AS n_null_keys
    """,
    families=("tpch", "nulljoin"),
)
def q71_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts under plain vs null-safe (`eqNullSafe`) join on a key with
    injected NULLs: the null-safe join matches the NULL group, the plain
    join drops it, and the difference equals the NULL-key row count."""
    o = _t(spark, sf_dir, "orders")
    l = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pk"),
    )
    r = l.select(F.col("pk").alias("rpk")).distinct()
    # one lazy plan (three 1-row aggs broadcast-combined), not three eager
    # .count() jobs — constructing the df must not launch Spark jobs
    n_plain = l.join(r, F.col("pk") == F.col("rpk")).agg(
        F.count(F.lit(1)).alias("n_plain")
    )
    n_safe = l.join(r, F.col("pk").eqNullSafe(F.col("rpk"))).agg(
        F.count(F.lit(1)).alias("n_null_safe")
    )
    n_null = l.where(F.col("pk").isNull()).agg(
        F.count(F.lit(1)).alias("n_null_keys")
    )
    return n_plain.crossJoin(F.broadcast(n_safe)).crossJoin(F.broadcast(n_null))


# ---------------------------------------------------------------------------
# q10f — approx_top_k: the DataSketches frequent-items aggregate (Spark
# 4.1 builtin), completing the sketch family (q10b HLL-estimate, q10d
# mergeable HLL union, q10e GK quantiles). The sketch is mergeable —
# partial-aggregates map-side like any hash agg — and with
# maxItemsTracked >= the column's distinct count its counts are EXACT,
# which is what makes a hash-checkable oracle possible here: l_returnflag
# has 3 distinct values with distinct frequencies, so the top-2 rows and
# their counts are fully deterministic.
# ---------------------------------------------------------------------------


@register(
    "q10f_approx_top_k",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY count(*) DESC, l_returnflag)
                - 1 AS INTEGER) AS pos,
           l_returnflag AS item,
           CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY cnt DESC LIMIT 2
    """,
    families=(),
)
def q10f_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 return flags by row count via the approx_top_k sketch,
    exploded to scalar rows (the array output would crash the driver's
    pandas canonicalizer — q10e round-1 lesson).

    At 100 TB this replaces a full groupBy+sort with one mergeable sketch
    per partition and a single-row shuffle; over a high-cardinality
    column the counts become approximate (tracked-items bound) but the
    heavy ranks stay right — the exact-recount escalation for when they
    must be provable is q75.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.agg(F.expr("approx_top_k(l_returnflag, 2)").alias("tk"))
        .select(F.posexplode("tk").alias("pos", "s"))
        .select(
            F.col("pos").cast("int").alias("pos"),
            F.col("s.item").alias("item"),
            F.col("s.count").alias("cnt"),
        )
    )


# ---------------------------------------------------------------------------
# q100 — equi-depth histogram (q53's adaptive twin): fixed-WIDTH bins tell
# you nothing about a skewed distribution's tails; equi-DEPTH bins (equal
# row count per bucket) are what range-partitioners, optimizers, and
# drift monitors actually want. Needs each row's global rank in value
# order — computed WITHOUT a single-partition window via the q83
# two-phase trick: coarse value-range buckets count + prefix-sum into
# start offsets (a ~60-row broadcast), then per-bucket parallel
# row_numbers shift by their bucket's offset. Bucket id is then integer
# arithmetic on the rank, and the per-bucket boundaries come from one
# partial-aggregated shuffle.
# ---------------------------------------------------------------------------

_EQD_BUCKETS = 16
_EQD_COARSE = 1_000_000  # cents per coarse range bucket (≈ $10k)


@register(
    "q100_equidepth_histogram",
    oracle=f"""
    WITH c AS (
        SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
    r AS (
        SELECT cents,
               CAST(row_number() OVER (ORDER BY cents, o_orderkey) AS BIGINT)
                   AS rnk
        FROM c
    )
    SELECT CAST(((rnk - 1) * {_EQD_BUCKETS}) // n AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(cents) AS min_cents,
           max(cents) AS max_cents
    FROM r, t
    GROUP BY 1
    """,
    families=("events", "bench"),
)
def q100_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_EQD_BUCKETS}-bucket equi-depth histogram of order totals (exact
    boundaries, deterministic tie-break by order key).

    Scale shape: phase 1 shuffles only (coarse_bucket, count) pairs and
    broadcasts a ~60-row offset table; phase 2's windows parallelize per
    coarse bucket (~n/60 rows each). No global sort, no single-partition
    window — the same layout computation a range-partitioned write would
    run, surfaced as a profiling verdict.
    """
    c = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = c.withColumn("coarse", F.expr(f"cents div {_EQD_COARSE}"))
    counts = c.groupBy("coarse").agg(F.count("*").alias("cn"))
    woff = Window.orderBy("coarse").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "coarse", F.coalesce(F.sum("cn").over(woff), F.lit(0)).alias("off")
    )
    wb = Window.partitionBy("coarse").orderBy("cents", "o_orderkey")
    ranked = (
        c.join(F.broadcast(offsets), "coarse")
        .withColumn("rnk", F.row_number().over(wb) + F.col("off"))
    )
    total = c.agg(F.count("*").alias("n"))
    return (
        ranked.join(F.broadcast(total))
        .withColumn(
            "bucket",
            F.expr(f"((rnk - 1) * {_EQD_BUCKETS}) div n").cast("long"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


# ---------------------------------------------------------------------------
_COGROUP_BUCKETS = 256


# q137 — cogrouped applyInPandas: the two-table per-key reconciliation
# API (CoGroupedData). Each order's header total is checked against the
# sum of its line items in one cogrouped pandas function — the API a
# migrating user reaches for when per-key logic needs BOTH tables' rows
# in hand at once (reconciliation, merge-audit, interleaving).
# ---------------------------------------------------------------------------


@register(
    "q137_cogroup_reconcile",
    oracle="""
    WITH l AS (
        SELECT l_orderkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS line_sum_cents
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderkey,
           coalesce(l.n_lines, 0) AS n_lines,
           CAST(floor(o.o_totalprice * 100) AS BIGINT) AS total_cents,
           coalesce(l.line_sum_cents, 0) AS line_sum_cents,
           CAST(floor(o.o_totalprice * 100) AS BIGINT)
               - coalesce(l.line_sum_cents, 0) AS diff_cents
    FROM orders o LEFT JOIN l ON l.l_orderkey = o.o_orderkey
    """,
    families=("nulljoin", "bench"),
)
def q137_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order header-vs-lines reconciliation through
    ``groupBy(...).cogroup(...).applyInPandas`` — line count, floor-cent
    line sum, and the header/line delta per order.

    Money is compared in floor-cents (``floor(x*100)`` — floor is exact
    and identical in numpy and DuckDB; a round() here would split on
    banker's-vs-half-away ties).

    Scale shape: the cogroup KEY is a {_COGROUP_BUCKETS}-way hash bucket
    of the order key, NOT the order key itself — applyInPandas invokes
    Python once per GROUP, so keying by order would pay ~n Python calls
    for ≤7-row batches (measured 42.7s at sf0.1; bucketed: 0.6s). Each
    bucket's two row sets arrive co-partitioned in one Arrow batch and
    the per-order reconciliation is a vectorized pandas groupby inside
    it — same single exchange per side, Python-call count fixed at the
    bucket count. Buckets are hash-uniform so batch sizes stay balanced
    at any corpus size; raise _COGROUP_BUCKETS with data volume to keep
    per-batch memory bounded.
    """
    import numpy as np

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderkey") % _COGROUP_BUCKETS).alias("bucket"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_extendedprice",
        (F.col("l_orderkey") % _COGROUP_BUCKETS).alias("bucket"),
    )

    def reconcile(orders_pdf: pd.DataFrame, lines_pdf: pd.DataFrame) -> pd.DataFrame:
        if orders_pdf.empty:
            # lineitem rows whose order is absent (impossible in this
            # data model, but cogroup surfaces either-side groups)
            return pd.DataFrame(
                columns=[
                    "o_orderkey", "n_lines", "total_cents",
                    "line_sum_cents", "diff_cents",
                ]
            ).astype("int64")
        cents = np.floor(
            lines_pdf["l_extendedprice"].to_numpy() * 100
        ).astype("int64")
        per_line = pd.DataFrame(
            {"o_orderkey": lines_pdf["l_orderkey"].to_numpy(), "c": cents}
        )
        sums = per_line.groupby("o_orderkey", sort=False).agg(
            n_lines=("c", "size"), line_sum_cents=("c", "sum")
        )
        out = pd.DataFrame(
            {
                "o_orderkey": orders_pdf["o_orderkey"].to_numpy(),
                "total_cents": np.floor(
                    orders_pdf["o_totalprice"].to_numpy() * 100
                ).astype("int64"),
            }
        ).join(sums, on="o_orderkey")
        out["n_lines"] = out["n_lines"].fillna(0).astype("int64")
        out["line_sum_cents"] = (
            out["line_sum_cents"].fillna(0).astype("int64")
        )
        out["diff_cents"] = out["total_cents"] - out["line_sum_cents"]
        return out[
            ["o_orderkey", "n_lines", "total_cents",
             "line_sum_cents", "diff_cents"]
        ]

    return (
        o.groupBy("bucket")
        .cogroup(li.groupBy("bucket"))
        .applyInPandas(
            reconcile,
            "o_orderkey long, n_lines long, total_cents long, "
            "line_sum_cents long, diff_cents long",
        )
    )


# ---------------------------------------------------------------------------
# q138 — WindowGroupLimit: Spark ≥3.5 rewrites a rank-filter window into a
# per-partition group-limit that keeps only k rows per key BEFORE the
# shuffle — the optimizer feature that turns "top-k per group" from a
# full-sort-per-group into a partial top-k. The query pins the rewrite.
# ---------------------------------------------------------------------------


@register(
    "q138_window_group_limit",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
    families=("bench",),
)
def q138_window_group_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per priority — written as the plain
    rank-filter idiom so Catalyst's WindowGroupLimit rewrite applies
    (plan-gated in tests/test_plans.py).

    At 100 TB the rewrite is the difference between shuffling the whole
    fact into per-priority sorts vs shuffling ≤3 rows per priority per
    map partition: the group-limit runs map-side before the exchange,
    exactly like TakeOrderedAndProject does for global top-k (q14).
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# q140 — dynamic-schema Python UDTF with a TABLE argument (Spark 4): the
# polymorphic half of the UDTF surface q27b's static-schema function does
# not reach. `analyze()` computes the OUTPUT SCHEMA from the literal
# bucket-count argument at plan time; `eval()` accumulates per partition;
# `terminate()` emits one partial-histogram row per partition, and a plain
# SUM merges the partials — the classic combinable-aggregate topology,
# expressed through the table-function SPI.
# ---------------------------------------------------------------------------

_UDTF_HIST_BUCKETS = 8
_UDTF_HIST_LO = 0.0
_UDTF_HIST_HI = 200.0


def _q140_oracle() -> str:
    n, lo, hi = _UDTF_HIST_BUCKETS, _UDTF_HIST_LO, _UDTF_HIST_HI
    bucket = (
        f"CAST(least(greatest(floor((value - {lo}) * {n} / {hi - lo}), 0),"
        f" {n - 1}) AS INTEGER)"
    )
    cols = ", ".join(
        f"CAST(COALESCE(sum(CASE WHEN {bucket} = {i} THEN 1 ELSE 0 END), 0)"
        f" AS BIGINT) AS b{i}"
        for i in range(n)
    )
    return f"SELECT {cols}, CAST(count(*) AS BIGINT) AS n_rows FROM events"


@register("q140_udtf_dynamic_schema", oracle=_q140_oracle(), families=("bench",))
def q140_udtf_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value histogram of `events.value` through a TABLE-argument UDTF
    whose column set (b0..b{_UDTF_HIST_BUCKETS - 1}) is derived by
    `analyze()` from the literal bucket count — change the literal and
    the schema follows at plan time, no code edit.

    Bucketing is `floor((v−lo)·n/span)` clamped — the identical op chain
    in Python (math.floor, same multiply-then-divide order) and the
    oracle, so counts match exactly. Scale shape: the UDTF holds one
    n-slot array per partition and emits it once at terminate — the
    shuffled payload is #partitions rows of n longs, merged by an
    ordinary SUM; the events scan itself is never shuffled.
    """
    import math

    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StructField, StructType

    n_b = _UDTF_HIST_BUCKETS

    class PartialHist:
        @staticmethod
        def analyze(t, nb, lo, hi):
            from pyspark.sql.udtf import AnalyzeResult

            return AnalyzeResult(
                schema=StructType(
                    [
                        StructField(f"b{i}", LongType())
                        for i in range(nb.value)
                    ]
                    + [StructField("n_rows", LongType())]
                )
            )

        def __init__(self):
            self.counts = None
            self.n = 0

        def eval(self, row, nb, lo, hi):
            if self.counts is None:
                self.counts = [0] * nb
            v = row["value"]
            i = math.floor((v - lo) * nb / (hi - lo))
            i = 0 if i < 0 else (nb - 1 if i >= nb else i)
            self.counts[i] += 1
            self.n += 1

        def terminate(self):
            if self.counts is not None:
                yield (*self.counts, self.n)

    spark.udtf.register("ssps_partial_hist", udtf(PartialHist))
    _t(spark, sf_dir, "events").select("value").createOrReplaceTempView(
        "ssps_events_hist_v"
    )
    partials = spark.sql(
        f"SELECT * FROM ssps_partial_hist(TABLE(ssps_events_hist_v), "
        f"{n_b}, {_UDTF_HIST_LO}D, {_UDTF_HIST_HI}D)"
    )
    # coalesce: zero partial rows (empty corpus) → all-zero histogram on
    # both engines, not NULLs (empty-corpus contract)
    return partials.agg(
        *[
            F.coalesce(F.sum(f"b{i}"), F.lit(0)).cast("long").alias(f"b{i}")
            for i in range(n_b)
        ],
        F.coalesce(F.sum("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# q145 — VARIANT semi-structured type (Spark 4): parse_json into the
# binary VARIANT encoding, typed-path extraction, and runtime schema
# discovery. VARIANT is the lakehouse answer to schemaless ingest — store
# once as variant, extract typed fields at query time with near-columnar
# performance instead of per-query JSON string re-parsing (q19's shape).
# ---------------------------------------------------------------------------


@register(
    "q145_variant_type",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k,
           'OBJECT<k: BIGINT>' AS variant_schema
    FROM events
    GROUP BY event_type
    """,
    families=("bench",),
)
def q145_variant_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type rollup of a field extracted from a VARIANT column:
    ``parse_json(props)`` once, ``variant_get($.k, bigint)`` in the
    aggregate, plus ``schema_of_variant`` proving runtime schema
    discovery (constant across rows in this feed, surfaced via max).

    Scale shape: the variant parse + typed extraction is a narrow
    codegen'd projection; at 100 TB you'd MATERIALIZE the variant column
    at ingest (parse once, store the binary encoding; Parquet shredding
    when available) and every downstream query extracts fields without
    re-tokenizing JSON text — the exact upgrade this query demonstrates
    over q19's string-path ``get_json_object``.
    """
    e = _t(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.variant_get("v", "$.k", "bigint").alias("k"),
        F.schema_of_variant("v").alias("vs"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
        F.max("vs").alias("variant_schema"),
    )


# ---------------------------------------------------------------------------
# q147 — collation-aware analytics (Spark 4 COLLATE): case-insensitive
# distinct/grouping through a declared collation instead of lower()
# normalization. Collations push the comparison rule into the TYPE, so
# every comparison, join, sort, and distinct on the column inherits it —
# the contract matters at 100 TB because a declared collation keeps the
# original bytes (no second normalized column) and lets the engine use
# collation-aware hashing end to end.
# ---------------------------------------------------------------------------


@register(
    "q147_collation_ci_distinct",
    oracle="""
    WITH cased AS (
        SELECT lang,
               CASE
                   WHEN doc_id % 3 = 0 THEN upper(source)
                   WHEN doc_id % 3 = 1 THEN source
                   ELSE concat(upper(substr(source, 1, 1)),
                               substr(source, 2))
               END AS src_mixed
        FROM documents
    )
    SELECT lang,
           CAST(count(DISTINCT src_mixed) AS BIGINT) AS n_raw_variants,
           CAST(count(DISTINCT lower(src_mixed)) AS BIGINT) AS n_ci_distinct
    FROM cased GROUP BY lang
    """,
    families=("bench",),
)
def q147_collation_ci_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct source labels per language, raw vs case-insensitive — the
    CI side computed through ``COLLATE UTF8_LCASE``, not lower(): the
    collation-typed column's own equality drives the distinct.

    The mixed casing is derived deterministically from doc_id (upper /
    as-is / initcap by doc_id mod 3) so the oracle reproduces the input;
    the oracle's CI branch uses lower() — for the ASCII label domain the
    two rules agree, which is exactly the equivalence this query
    certifies. The distinct is an ordinary two-level hash aggregate;
    collation-aware hashing keeps it map-side combinable.
    """
    d = load_table(spark, sf_dir, "documents")
    cased = d.select(
        "lang",
        F.when(F.col("doc_id") % 3 == 0, F.upper("source"))
        .when(F.col("doc_id") % 3 == 1, F.col("source"))
        .otherwise(
            F.concat(
                F.upper(F.substring("source", 1, 1)),
                F.expr("substr(source, 2)"),
            )
        )
        .alias("src_mixed"),
    )
    cased.createOrReplaceTempView("ssps_cased_v")
    return spark.sql(
        """
        SELECT lang,
               count(DISTINCT src_mixed) AS n_raw_variants,
               count(DISTINCT src_mixed COLLATE UTF8_LCASE)
                   AS n_ci_distinct
        FROM ssps_cased_v GROUP BY lang
        """
    )


# ---------------------------------------------------------------------------
# q176 — NULL-semantics conformance matrix: one verdict row per ANSI rule
# the engine must honor (count(col) skips NULLs, NULL arithmetic
# propagates, NULL = NULL is UNKNOWN, null-safe equality <=> treats NULLs
# as equal, nullif/coalesce identities). Cross-engine NULL handling is
# where silent 100 TB data-loss bugs live — a filter that drops UNKNOWN
# rows an engine kept, an aggregate that counted NULLs — so the matrix is
# certified value-for-value against DuckDB's ANSI behavior. Everything
# computes in ONE pass (a single aggregate row, unpivoted to tidy facts).
# ---------------------------------------------------------------------------


@register(
    "q176_null_semantics",
    oracle="""
    WITH d AS (
        SELECT CASE WHEN value < 10 THEN NULL ELSE value END AS v,
               event_type
        FROM events
    ),
    a AS (
        SELECT
            CAST(count(*) AS BIGINT) AS n_rows,
            CAST(count(*) FILTER (WHERE v IS NULL) AS BIGINT) AS n_null,
            CAST(count(*) - count(v) AS BIGINT) AS count_gap,
            CAST(count(*) FILTER (WHERE (v + 1) IS NULL) AS BIGINT)
                AS n_arith_null,
            CAST(count(*) FILTER (WHERE v = v) AS BIGINT) AS n_self_eq,
            CAST(count(*) FILTER (WHERE v IS NOT DISTINCT FROM NULL)
                 AS BIGINT) AS n_nullsafe_null,
            CAST(count(*) FILTER (WHERE nullif(event_type, event_type)
                                        IS NULL) AS BIGINT) AS n_nullif,
            CAST(count(*) FILTER (WHERE coalesce(v, -1.0) = -1.0)
                 AS BIGINT) AS n_coalesce
        FROM d
    )
    SELECT t.fact, t.n, t.holds FROM a, LATERAL (VALUES
        ('count_col_skips_nulls', a.count_gap, a.count_gap = a.n_null),
        ('null_arith_propagates', a.n_arith_null, a.n_arith_null = a.n_null),
        ('null_eq_null_is_unknown', a.n_self_eq,
         a.n_self_eq = a.n_rows - a.n_null),
        ('null_safe_eq_matches_null', a.n_nullsafe_null,
         a.n_nullsafe_null = a.n_null),
        ('nullif_self_is_null', a.n_nullif, a.n_nullif = a.n_rows),
        ('coalesce_fills_nulls', a.n_coalesce, a.n_coalesce = a.n_null)
    ) t(fact, n, holds)
    """,
    families=("bench",),
)
def q176_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six ANSI NULL rules, each as (fact, measured count, holds) — the
    engine-conformance artifact a migration audit signs off on.

    One combinable aggregate over the NULL-injected frame, then a
    constant-size stack() unpivot — nothing about the matrix costs a
    second scan at any corpus size.
    """
    e = _t(spark, sf_dir, "events").select(
        F.when(F.col("value") < 10, None).otherwise(F.col("value")).alias("v"),
        "event_type",
    )
    # coalesce: sum over an empty corpus is NULL where the oracle's
    # count(*) FILTER is 0 — every rule trivially holds at n=0
    cnt = lambda c: F.coalesce(  # noqa: E731
        F.sum(F.when(c, 1).otherwise(0)), F.lit(0)
    ).cast("long")
    a = e.agg(
        F.count("*").alias("n_rows"),
        cnt(F.col("v").isNull()).alias("n_null"),
        (F.count("*") - F.count("v")).alias("count_gap"),
        cnt((F.col("v") + 1).isNull()).alias("n_arith_null"),
        cnt(F.col("v") == F.col("v")).alias("n_self_eq"),
        cnt(F.col("v").eqNullSafe(F.lit(None).cast("double"))).alias(
            "n_nullsafe_null"
        ),
        cnt(F.expr("nullif(event_type, event_type) IS NULL")).alias("n_nullif"),
        cnt(F.coalesce(F.col("v"), F.lit(-1.0)) == -1.0).alias("n_coalesce"),
    )
    return a.selectExpr(
        """stack(6,
            'count_col_skips_nulls', count_gap, count_gap = n_null,
            'null_arith_propagates', n_arith_null, n_arith_null = n_null,
            'null_eq_null_is_unknown', n_self_eq,
                n_self_eq = n_rows - n_null,
            'null_safe_eq_matches_null', n_nullsafe_null,
                n_nullsafe_null = n_null,
            'nullif_self_is_null', n_nullif, n_nullif = n_rows,
            'coalesce_fills_nulls', n_coalesce, n_coalesce = n_null
        ) AS (fact, n, holds)"""
    )


# ---------------------------------------------------------------------------
# q186 — SKYLINE (Pareto front): parts no other part beats on BOTH price
# and size (strict dominance: p_y ≤ p, s_y ≤ s, strict in one). Some
# engines ship this as SKYLINE OF; Spark expresses the 2-D case exactly
# without the naive O(n²) self-join: group to per-price minima (one
# combinable aggregate), run the strictly-prior running min over the
# per-price table (a window over DISTINCT prices — thousands-fold smaller
# than the parts), and keep rows that tie their price's minimum AND beat
# every strictly-cheaper row's best size. Duplicated (price, size) pairs
# survive together, per strict dominance. All comparisons are exact
# (double equality on untouched stored values + integer sizes).
# ---------------------------------------------------------------------------


@register(
    "q186_skyline_pareto",
    oracle="""
    WITH pm AS (
        SELECT p_retailprice AS price, min(p_size) AS min_s
        FROM part GROUP BY p_retailprice
    ),
    pr AS (
        SELECT price, min_s,
               min(min_s) OVER (
                   ORDER BY price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_best
        FROM pm
    )
    SELECT p.p_partkey, p.p_retailprice AS price,
           CAST(p.p_size AS BIGINT) AS size
    FROM part p JOIN pr ON p.p_retailprice = pr.price
    WHERE p.p_size = pr.min_s
      AND (pr.prev_best IS NULL OR p.p_size < pr.prev_best)
    """,
    families=("bench",),
)
def q186_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The price×size Pareto front of the part table.

    Scale shape: one map-side-combinable per-price min, one window over
    the per-price frame (its size is the distinct-price count, not the
    row count — and a coarser price bucketing caps it arbitrarily), one
    broadcast-joinable filter back onto the parts. The same
    grid-collapse-then-sweep generalizes to k dimensions by fixing k−1
    grid axes.
    """
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_retailprice").alias("price"), "p_size"
    )
    pm = p.groupBy("price").agg(F.min("p_size").alias("min_s"))
    w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    pr = pm.withColumn("prev_best", F.min("min_s").over(w))
    return (
        p.join(F.broadcast(pr), "price")
        .where(
            (F.col("p_size") == F.col("min_s"))
            & (F.col("prev_best").isNull() | (F.col("p_size") < F.col("prev_best")))
        )
        .select("p_partkey", "price", F.col("p_size").cast("long").alias("size"))
    )


# ---------------------------------------------------------------------------
# q195 — exact order statistics per group: median / percentile_cont /
# percentile_disc (SQL:2003 WITHIN GROUP, native in Spark 3.4+). The
# profile row every monitoring pass wants. percentile_cont interpolates
# (lo + (hi-lo)·frac — both engines use this form); the chosen quantiles
# (.25/.5/.75) make `frac` an exact binary fraction, so the interpolation
# arithmetic is engine-identical on the 2dp event values.
# ---------------------------------------------------------------------------


@register(
    "q195_median_percentiles",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           median(CAST(value AS DOUBLE)) AS med,
           quantile_cont(CAST(value AS DOUBLE), 0.25) AS p25,
           quantile_cont(CAST(value AS DOUBLE), 0.75) AS p75,
           quantile_disc(CAST(value AS DOUBLE), 0.5) AS med_disc
    FROM events
    GROUP BY event_type
    """,
    families=("bench",),
)
def q195_median_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type median, quartiles (continuous), and discrete
    median of `value`.

    Scale shape: percentile aggregates are NOT map-side combinable in
    exact form — Spark collects per-group sorted digests; at 100 TB the
    exact form runs per bounded group (event types here: single digits)
    while corpus-wide quantiles switch to approx_percentile (q10e) or
    the distributed exact-rank layout (q100). This row pins the exact
    semantics those approximations are judged against.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    return ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.median("v").alias("med"),
        F.expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY v)").alias("p25"),
        F.expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY v)").alias("p75"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").alias("med_disc"),
    )


# ---------------------------------------------------------------------------
# q196 — IGNORE NULLS window navigation: last_value/lead/lag NULL-skipping
# (SQL:2008 optional feature, native in Spark). The gap-fill idiom: carry
# each user's last known non-null reading forward, and look across gaps
# both directions. Nulls are injected deterministically ('view' events
# report no value) so both engines see the identical null pattern.
# ---------------------------------------------------------------------------


@register(
    "q196_ignore_nulls",
    oracle="""
    WITH v AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'view' THEN NULL
                    ELSE CAST(value AS DOUBLE) END AS v
        FROM events
    )
    SELECT event_id, user_id, v,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled,
           lag(v, 1 IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_reading,
           lead(v, 1 IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_reading
    FROM v
    """,
    families=("bench",),
)
def q196_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill + nearest non-null reading in both directions per
    user ('view' events carry no value).

    Scale shape: one user-partitioned window pass computes all three
    navigations (Spark shares the sort). No corpus-sized global window;
    the fill never leaves the key's partition.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "view", F.lit(None).cast("double"))
        .otherwise(F.col("value").cast("double"))
        .alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "v",
        F.last("v", ignorenulls=True).over(wf).alias("filled"),
        F.expr(
            "lag(v, 1) IGNORE NULLS OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id)"
        ).alias("prev_reading"),
        F.expr(
            "lead(v, 1) IGNORE NULLS OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id)"
        ).alias("next_reading"),
    )


# ---------------------------------------------------------------------------
# q209 — GROUPING() / grouping_id over CUBE: the disambiguator the q11
# family needs in real data — a NULL in a cube output row either means
# "the subtotal over this column" or "the group whose key IS NULL", and
# only the grouping flags can tell them apart. Flags ride as exact
# integers; every aggregate is the exact-money pattern.
# ---------------------------------------------------------------------------


@register(
    "q209_grouping_id",
    oracle="""
    SELECT o_orderpriority,
           o_orderstatus,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus)
                AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    -- empty-corpus contract: Spark's ROLLUP/CUBE/GROUPING SETS emit
    -- ZERO rows on empty input (no grand-total row); pin that shape
    HAVING count(*) > 0
    """,
    families=("bench",),
)
def q209_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status) with GROUPING flags and the packed
    grouping_id, so subtotal rows are machine-distinguishable from
    NULL-keyed groups.

    Scale shape: CUBE expands to 4 grouping sets map-side (one scan,
    partial aggregation per set) — same cost class as q11b; the flags
    are free metadata from the expand operator.
    """
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
        F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
        F.grouping_id().cast("bigint").alias("gid"),
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )
