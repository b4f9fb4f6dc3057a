"""TPC-H partsupp-family suite — the four shapes (Q2, Q11, Q16, Q20)
previously excluded because the driver schema ships no ``partsupp``
table. With these, all 22 TPC-H plan shapes run through the engine
(the other 18 live in ``relational.py``'s q33/q34/q45/q63 families):
the reference serves arbitrary Spark SQL from under its state-store SPI
(SURVEY §2-C capability rows — Q5/Q6/Q7/Q9 composed), so a user
migrating from it expects the full decision-support shape catalog.

``partsupp`` is DERIVED: the distinct ``(l_partkey, l_suppkey)`` pairs
actually observed in ``lineitem``, with the min observed line price
standing in for ``ps_supplycost`` (DECIMAL, so every correlated-min /
threshold comparison is exact). Each query keeps its canonical PLAN
SHAPE — Q2's correlated min subquery, Q11's HAVING-style
scalar-subquery threshold, Q16's NOT-IN exclusion + count-distinct,
Q20's nested IN subqueries — which is the part that matters for a
Spark engine: decorrelation, semi/anti joins, scalar broadcasts.

Every money aggregate runs in DECIMAL (exact, shuffle-order-independent,
map-side combinable) and is cast to DOUBLE only in the final projection,
so threshold and equality comparisons are never float-rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_state_provider_spark.operators.registry import register
from spark_state_provider_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "q73_tpch_q2",
    oracle="""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               min(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_supplycost
        FROM lineitem GROUP BY l_partkey, l_suppkey)
    SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name, p_partkey,
           p_type, CAST(ps_supplycost AS DOUBLE) AS supplycost
    FROM part, ps, supplier, nation, region
    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      AND p_size = 15 AND p_type = 'ECONOMY'
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND ps_supplycost = (
          SELECT min(ps_supplycost)
          FROM ps ps2, supplier s2, nation n2, region r2
          WHERE ps2.l_partkey = part.p_partkey AND ps2.l_suppkey = s2.s_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """,
    families=("tpch", "bench"),
)
def q73_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): correlated min subquery,
    decorrelated to a per-part window min — computed ONCE over the
    region-filtered part-supplier pairs instead of once per outer row.

    ``partsupp`` is derived (distinct observed pairs, min line price as
    the supply cost — DECIMAL, so the min-equality is exact). All dims
    (supplier, nation, region, filtered part) broadcast; the only
    shuffles are the pair-derivation groupBy and the window's partition
    by part key — both on the same key, so AQE can reuse the exchange.
    Deterministic LIMIT: the order-by covers a unique (part, supplier)
    tie-break.
    """
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.expr("min(CAST(l_extendedprice AS DECIMAL(18,2)))").alias(
            "ps_supplycost"
        )
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "ECONOMY")
    )
    eu = (
        ps.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    w = Window.partitionBy("l_partkey")
    best = eu.withColumn(
        "min_cost", F.min("ps_supplycost").over(w)
    ).where(F.col("ps_supplycost") == F.col("min_cost"))
    return (
        best.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.col("ps_supplycost").cast("double").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@register(
    "q73b_tpch_q11",
    oracle="""
    WITH val AS (
        SELECT l_partkey AS ps_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * CAST(l_quantity AS DECIMAL(18,2))) AS value
        FROM lineitem, supplier, nation
        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_5'
        GROUP BY l_partkey)
    SELECT ps_partkey, CAST(value AS DOUBLE) AS value
    FROM val
    WHERE value * 600 > (SELECT sum(value) FROM val)
    """,
    families=("tpch", "bench"),
)
def q73b_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): per-part value with a HAVING-style
    scalar-subquery threshold (share of the one-nation total).

    The threshold comparison is exact: both the per-part value and the
    grand total are DECIMAL sums, and the fraction is expressed as
    ``value * 600 > total`` (integer-scaled, no decimal division whose
    result scale differs across engines). The val aggregate is computed
    ONCE and reused for both the rows and the total (one-row broadcast) —
    at 100 TB the naive correlated form would scan twice.
    """
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_5")
    val = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(
            F.expr(
                "SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
                " * CAST(l_quantity AS DECIMAL(18,2)))"
            ).alias("value")
        )
    )
    total = val.agg(F.sum("value").alias("total"))
    return (
        val.join(F.broadcast(total), F.col("value") * 600 > F.col("total"))
        .select("ps_partkey", F.col("value").cast("double").alias("value"))
    )


@register(
    "q73c_tpch_q16",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#4' AND p_type NOT LIKE 'SMALL%'
      AND p_size IN (1, 5, 15, 25, 35, 45, 49, 50)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
    families=("tpch", "nulljoin", "bench"),
)
def q73c_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): distinct pair derivation,
    NOT-IN exclusion subquery, count-distinct per part attribute.

    The NOT IN decorrelates to a broadcast anti join (safe: s_suppkey is
    non-null, so NOT IN ≡ anti join). The excluded-supplier set and the
    filtered part dim both broadcast; shuffles are the pair-distinct and
    the count-distinct expand — both on bounded key spaces.
    """
    ps = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#4")
        & (~F.col("p_type").like("SMALL%"))
        & (F.col("p_size").isin(1, 5, 15, 25, 35, 45, 49, 50))
    )
    bad_supp = _t(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        ps.join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q73d_tpch_q20",
    oracle="""
    SELECT s_name, s_suppkey
    FROM supplier, nation
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM (
            SELECT l_suppkey, l_partkey,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
            FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_name LIKE 'small%')
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_suppkey, l_partkey)
        WHERE qty > 50)
      AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
    """,
    families=("tpch", "bench"),
)
def q73d_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): nested IN subqueries — parts
    by name prefix, then suppliers who moved >50 units of any such part
    in 1996, restricted to one nation.

    Both IN subqueries decorrelate to semi joins: the part-name set
    broadcasts into lineitem (semi — no fan-out), the qualifying-supplier
    set broadcasts into the one-nation supplier dim. The qty aggregate is
    DECIMAL so the >50 threshold can't flip on float rounding. The heavy
    side (lineitem) is touched once, filtered by scan-pushed date bounds.
    """
    part_sel = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    qual = (
        li.join(
            F.broadcast(part_sel),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.expr("SUM(CAST(l_quantity AS DECIMAL(18,2)))").alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_5")
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(qual),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_suppkey")
    )


@register(
    "q73e_tpch_q22",
    oracle="""
    WITH sel AS (
        SELECT substring(c_name, 17, 2) AS cntrycode,
               CAST(c_acctbal AS DECIMAL(18,2)) AS bal, c_custkey
        FROM customer
        WHERE substring(c_name, 17, 2) IN ('13','31','23','29','30','18','17')),
    pos AS (
        SELECT CAST(sum(bal) AS DECIMAL(38,2)) AS total,
               CAST(count(*) AS BIGINT) AS cnt
        FROM sel WHERE bal > 0.00)
    SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(bal) AS DOUBLE) AS totacctbal
    FROM sel, pos
    WHERE bal * cnt > total
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY cntrycode
    """,
    families=("tpch", "bench"),
)
def q73e_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): scalar-average threshold +
    NOT EXISTS anti join. Country code = trailing customer-number digits
    (the slimmed schema has no phone); "dormant" = no orders since
    2000-01-01 (every synthetic customer has some order, so the canonical
    no-orders-ever predicate would select nothing).

    The average comparison avoids division entirely: ``bal * cnt >
    total`` over exact decimals — cross-engine identical, no float
    boundary flips. The one-row (total, cnt) agg broadcasts; the recent
    orders anti-join shuffles on the customer key; the final group count
    is 7 rows.
    """
    codes = ["13", "31", "23", "29", "30", "18", "17"]
    sel = (
        _t(spark, sf_dir, "customer")
        .select(
            F.substring("c_name", 17, 2).alias("cntrycode"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
            "c_custkey",
        )
        .where(F.col("cntrycode").isin(codes))
    )
    pos = sel.where(F.col("bal") > 0).agg(
        F.sum("bal").cast("decimal(38,2)").alias("total"),
        F.count("*").alias("cnt"),
    )
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        sel.join(F.broadcast(pos), F.col("bal") * F.col("cnt") > F.col("total"))
        .join(
            recent,
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.sum("bal").cast("double").alias("totacctbal"),
        )
    )
