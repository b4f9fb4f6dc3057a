"""Modern Spark 4 SQL surface (q115–q118): recursive CTEs, correlated
LATERAL subqueries, SQL pipe syntax, and session variables.

A user migrating from the reference engine writes queries, not
DataFrames — these rows prove the four SQL-surface features Spark 4
added are wired through this engine's session and produce
oracle-checkable results over the shared testdata. Each query is
declared in pure SQL (Catalyst sees the same logical plan a DataFrame
would produce), so all the usual optimizer guarantees — pushdown,
broadcast selection, partial aggregation — apply unchanged; the surface
is the feature, not a new execution path.

Reference anchor: the reference exposes its state through Spark SQL
queries over streaming state (README examples run `spark.sql`), so SQL
parity is part of the migration surface (SURVEY.md §3 EP1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_state_provider_spark.operators.registry import register
from spark_state_provider_spark.tables import load_table


def _view(spark: SparkSession, sf_dir: str, name: str, view: str) -> None:
    load_table(spark, sf_dir, name).createOrReplaceTempView(view)


# ---------------------------------------------------------------------------
# q115 — recursive CTE: month spine over the order history. The canonical
# "rows that don't exist yet" SQL pattern — a calendar spine generated
# recursively, left-joined to per-month order counts so EMPTY months
# surface as zero rows (a plain GROUP BY cannot produce them).
# ---------------------------------------------------------------------------


@register(
    "q115_recursive_cte",
    oracle="""
    WITH RECURSIVE spine(m) AS (
        SELECT DATE '1995-01-01'
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine
        WHERE m < DATE '1995-12-01'
    ),
    per_month AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               count(*) AS n
        FROM orders
        WHERE o_orderdate >= DATE '1995-01-01'
          AND o_orderdate < DATE '1996-01-01'
        GROUP BY 1
    )
    SELECT spine.m AS month,
           CAST(coalesce(per_month.n, 0) AS BIGINT) AS n_orders
    FROM spine LEFT JOIN per_month ON spine.m = per_month.m
    """,
    families=("bench",),
)
def q115_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursively generated month spine × order counts over one
    calendar year (empty months included as zeros).

    Scale shape: the recursion runs over the SPINE, never over the fact
    table — the fact is touched once by the combinable per-month
    groupBy, and the spine join broadcasts. Two caveats MEASURED here:
    (1) Spark runs one job per recursion step, so spine depth is
    job-launch latency — an 80-month spine cost 17s of scheduling at
    sf0.1; keep SQL recursion shallow (12 steps here), deep traversals
    belong in the q110 driver-loop form. (2) Anything referenced from
    the recursive leg is INLINED and re-evaluated every iteration — the
    first version joined a min/max-bounds CTE in the step and re-ran a
    fact aggregate per iteration; the recursive leg must touch only the
    spine. Calendar spines with no per-step dependency are better
    generated with `sequence()`.
    """
    _view(spark, sf_dir, "orders", "orders")
    return spark.sql(
        """
        WITH RECURSIVE spine AS (
            SELECT DATE '1995-01-01' AS m
            UNION ALL
            SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine
            WHERE m < DATE '1995-12-01'
        ),
        per_month AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                   count(*) AS n
            FROM orders
            WHERE o_orderdate >= DATE '1995-01-01'
              AND o_orderdate < DATE '1996-01-01'
            GROUP BY 1
        )
        SELECT spine.m AS month,
               CAST(coalesce(per_month.n, 0) AS BIGINT) AS n_orders
        FROM spine LEFT JOIN per_month ON spine.m = per_month.m
        """
    )


# ---------------------------------------------------------------------------
# q116 — correlated LATERAL subquery: top-2 orders per customer. The
# lateral form expresses per-row dependent subqueries directly; Catalyst
# decorrelates it into the same join+window physical shape the DataFrame
# API would produce.
# ---------------------------------------------------------------------------


@register(
    "q116_lateral_topk",
    oracle="""
    SELECT c.c_custkey AS custkey, o.o_orderkey AS orderkey,
           o.o_totalprice AS totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) o
    WHERE c.c_mktsegment = 'BUILDING'
    """,
    families=("bench",),
)
def q116_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per BUILDING-segment customer via a correlated
    LATERAL subquery with ORDER BY … LIMIT.

    Catalyst decorrelates the lateral into a join + per-key ranking —
    the same physical plan as the window-function form (one shuffle on
    the correlation key), so the SQL convenience costs nothing at scale.
    The segment filter prunes the outer side before the join.
    """
    _view(spark, sf_dir, "customer", "customer")
    _view(spark, sf_dir, "orders", "orders")
    return spark.sql(
        """
        SELECT c.c_custkey AS custkey, o.o_orderkey AS orderkey,
               o.o_totalprice AS totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) o
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


# ---------------------------------------------------------------------------
# q117 — SQL pipe syntax (Spark 4 `|>`): the linear form of a
# filter→aggregate→filter→sort chain. Pure parser surface: the plan is
# identical to the nested-SELECT form the oracle uses.
# ---------------------------------------------------------------------------


@register(
    "q117_pipe_syntax",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    HAVING count(*) > 100
    """,
    families=("bench",),
)
def q117_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order revenue per priority, written in Spark 4 pipe syntax.

    `|>` stages parse to exactly the logical plan of the classic form
    (verified: same optimized plan), so pushdown/partial-agg behavior is
    unchanged — this row certifies the parser surface migrating users
    reach for first. DECIMAL(18,2) sum keeps the revenue exact (the
    repo-wide 2dp money rule).
    """
    _view(spark, sf_dir, "orders", "orders")
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS revenue
           GROUP BY o_orderpriority AS priority
        |> WHERE n_orders > 100
        """
    )


# ---------------------------------------------------------------------------
# q118 — session variables: DECLARE/SET VARIABLE parameterizing a query.
# The session-scoped parameter surface (constant-folded by Catalyst into
# the plan, so pushdown still sees a literal).
# ---------------------------------------------------------------------------

_Q118_MIN_QTY = 45


@register(
    "q118_session_variables",
    oracle=f"""
    SELECT l_returnflag AS returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    WHERE l_quantity >= {_Q118_MIN_QTY}
    GROUP BY l_returnflag
    """,
    families=("bench",),
)
def q118_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-quantity line counts per return flag, threshold supplied
    through a SQL session variable.

    The variable folds to a literal before optimization, so the filter
    still pushes to the parquet scan (same PushedFilters as a hardcoded
    predicate) — parameterization without a plan penalty.
    """
    _view(spark, sf_dir, "lineitem", "lineitem")
    spark.sql("DECLARE OR REPLACE VARIABLE ssps_min_qty INT")
    spark.sql(f"SET VARIABLE ssps_min_qty = {_Q118_MIN_QTY}")
    return spark.sql(
        """
        SELECT l_returnflag AS returnflag,
               CAST(count(*) AS BIGINT) AS n_lines,
               sum(CAST(l_quantity AS BIGINT)) AS total_qty
        FROM lineitem
        WHERE l_quantity >= ssps_min_qty
        GROUP BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# q148 — SQL scripting (Spark 4 BEGIN…END control flow): an iterative
# above-average pruning loop written entirely in SQL — DECLARE state,
# WHILE, SET from scalar subqueries. The procedural-SQL surface that
# migrating warehouse users (T-SQL/PLpgSQL stored procedures) reach for;
# each loop round is still a declarative, Catalyst-optimized query.
# ---------------------------------------------------------------------------

_SCRIPT_ROUNDS = 3


def _q148_oracle() -> str:
    # unrolled loop: r_{i+1} = rows of r_i strictly above r_i's
    # integer-cent mean (exact: floor-cents summed as BIGINT, DIV count)
    ctes = ["r0 AS (SELECT CAST(floor(c_acctbal * 100) AS BIGINT) AS cents FROM customer)"]
    for i in range(_SCRIPT_ROUNDS):
        ctes.append(
            f"t{i} AS (SELECT CAST(COALESCE(sum(cents) // count(*), 0)"
            f" AS BIGINT) AS thr FROM r{i})"
        )
        ctes.append(
            f"r{i + 1} AS (SELECT cents FROM r{i}"
            f" WHERE cents > (SELECT thr FROM t{i}))"
        )
    counts = ", ".join(
        f"(SELECT CAST(count(*) AS BIGINT) FROM r{i}) AS n{i}"
        for i in range(_SCRIPT_ROUNDS + 1)
    )
    return (
        "WITH " + ", ".join(ctes) + f" SELECT {counts}, "
        f"(SELECT thr FROM t{_SCRIPT_ROUNDS - 1}) AS final_threshold_cents"
    )


@register("q148_sql_scripting", oracle=_q148_oracle(), families=("bench",))
def q148_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_SCRIPT_ROUNDS}-round above-average pruning of customer balances
    via a SQL-scripting WHILE loop: each round recomputes the surviving
    population's mean (exact integer cents — floor-cents summed as
    BIGINT, integer-divided by the count, so no float-summation order
    sensitivity) and keeps rows strictly above it.

    Each SET executes one Catalyst-planned aggregate over the current
    temp view; the loop only shuttles SCALARS through script variables —
    the data never visits the driver, so the pattern holds at 100 TB
    exactly like the q110/q28e driver loops, with SQL scripting as the
    orchestration instead of Python.
    """
    load_table(spark, sf_dir, "customer").select(
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents")
    ).createOrReplaceTempView("ssps_script_r0")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    counts = ", ".join(f"n{i}" for i in range(_SCRIPT_ROUNDS + 1))
    # script variables are not visible inside CREATE VIEW bodies, so each
    # round splices the already-computed threshold SCALAR into the next
    # view's text via EXECUTE IMMEDIATE (same scalar-only shuttle)
    script_rounds = []
    for i in range(_SCRIPT_ROUNDS):
        script_rounds.append(
            f"  SET n{i} = (SELECT count(*) FROM ssps_script_r{i});\n"
            # COALESCE: an empty population has a NULL mean, which would
            # make the spliced view text NULL and crash EXECUTE IMMEDIATE
            f"  SET thr = (SELECT COALESCE(sum(cents) DIV count(*), 0) "
            f"FROM ssps_script_r{i});\n"
            f"  EXECUTE IMMEDIATE 'CREATE OR REPLACE TEMPORARY VIEW "
            f"ssps_script_r{i + 1} AS SELECT cents FROM ssps_script_r{i} "
            f"WHERE cents > ' || thr;\n"
        )
    script = (
        "BEGIN\n"
        + "".join(f"  DECLARE n{i} BIGINT DEFAULT 0;\n" for i in range(_SCRIPT_ROUNDS + 1))
        + "  DECLARE thr BIGINT DEFAULT 0;\n"
        + "".join(script_rounds)
        + f"  SET n{_SCRIPT_ROUNDS} = "
        f"(SELECT count(*) FROM ssps_script_r{_SCRIPT_ROUNDS});\n"
        + f"  SELECT {counts}, thr AS final_threshold_cents;\n"
        + "END"
    )
    return spark.sql(script)


# ---------------------------------------------------------------------------
# q167 — SQL scalar UDFs (CREATE FUNCTION ... RETURN expr): the macro path
# for user extensibility. Unlike q27's Python UDFs, a SQL UDF INLINES into
# the calling plan at analysis time — it is codegen'd JVM expression code
# with zero serialization boundary, so on a 100 TB scan it costs exactly
# what writing the expression by hand costs. This is the first tool to
# reach for before any Python UDF; the registry proves the inlining is
# value-exact against the hand-expanded oracle.
# ---------------------------------------------------------------------------


@register(
    "q167_sql_scalar_udf",
    oracle="""
    SELECT event_type,
           CASE WHEN value < 25 THEN 'low'
                WHEN value < 75 THEN 'mid' ELSE 'high' END AS band,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    GROUP BY 1, 2
    """,
    families=("bench",),
)
def q167_sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded money aggregation where both derived columns come from SQL
    UDFs (``ssps_cents``, ``ssps_band``) declared with CREATE FUNCTION.

    The functions disappear at analysis time — the optimized plan is
    identical to inlining the expressions (asserted in the plan gates:
    no Python eval node, aggregate pushes down as usual). The oracle IS
    the hand-inlined form.
    """
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("ssps_q167_events")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION ssps_cents(v DOUBLE) "
        "RETURNS BIGINT RETURN CAST(floor(v * 100) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION ssps_band(v DOUBLE) "
        "RETURNS STRING RETURN "
        "CASE WHEN v < 25 THEN 'low' WHEN v < 75 THEN 'mid' "
        "ELSE 'high' END"
    )
    return spark.sql(
        """
        SELECT event_type, ssps_band(value) AS band,
               count(*) AS n, sum(ssps_cents(value)) AS sum_cents
        FROM ssps_q167_events
        GROUP BY 1, 2
        """
    )


# ---------------------------------------------------------------------------
# q169 — parameterized SQL + the IDENTIFIER clause: injection-safe dynamic
# SQL. Value params bind through spark.sql(..., args) placeholders;
# table/column NAMES — which placeholders cannot carry — bind through
# IDENTIFIER(:param), which validates the string as a name instead of
# splicing text. This is the governed-platform surface: a report template
# that takes (table, metric column, threshold) as data, with zero string
# concatenation. The oracle is the statically-written equivalent.
# ---------------------------------------------------------------------------


@register(
    "q169_parameterized_identifier",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS metric_cents
    FROM events
    WHERE value >= 10.0
    GROUP BY event_type
    """,
    families=("bench",),
)
def q169_parameterized_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A report template instantiated entirely through parameter binding:
    the table and metric column arrive as IDENTIFIER(:name) bindings, the
    threshold as a value placeholder.

    Parameterization happens at parse time, so the optimized plan is
    byte-identical to the static query — pushdown, pruning and codegen
    all apply; no plan-cache pollution from value splicing either.
    """
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("ssps_q169_events")
    return spark.sql(
        """
        SELECT event_type,
               count(*) AS n,
               sum(CAST(floor(IDENTIFIER(:metric_col) * 100) AS BIGINT))
                   AS metric_cents
        FROM IDENTIFIER(:table_name)
        WHERE IDENTIFIER(:metric_col) >= :threshold
        GROUP BY event_type
        """,
        args={
            "table_name": "ssps_q169_events",
            "metric_col": "value",
            "threshold": 10.0,
        },
    )


# ---------------------------------------------------------------------------
# q173 — SQL TABLE functions (CREATE FUNCTION … RETURNS TABLE): the
# relational half of q167's scalar macros. A parameterized view — the
# report template pattern — declared once and invoked with arguments in
# the FROM clause. Like scalar SQL UDFs it inlines at analysis time: the
# optimizer sees the expanded query, so pushdown/pruning/codegen apply as
# if the SQL were written by hand.
# ---------------------------------------------------------------------------


@register(
    "q173_sql_table_function",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    WHERE value >= 10.0 AND value < 60.0
    GROUP BY event_type
    """,
    families=("bench",),
)
def q173_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded aggregate through a SQL table function
    ``ssps_value_band(lo, hi)`` — a parameterized view over events.

    The TVF body is ordinary SQL; invocation sites pass the band as
    arguments. Inlining means the ``value`` range predicate still reaches
    the parquet scan (same plan as the static query).
    """
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("ssps_q173_events")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION ssps_value_band(
            lo DOUBLE, hi DOUBLE)
        RETURNS TABLE(event_type STRING, cents BIGINT)
        RETURN SELECT event_type,
                      CAST(floor(value * 100) AS BIGINT) AS cents
               FROM ssps_q173_events
               WHERE value >= lo AND value < hi
        """
    )
    return spark.sql(
        """
        SELECT event_type, count(*) AS n, sum(cents) AS sum_cents
        FROM ssps_value_band(10.0, 60.0)
        GROUP BY event_type
        """
    )


# ---------------------------------------------------------------------------
# q177 — DDL column DEFAULTs through schema evolution: CREATE TABLE with a
# declared DEFAULT, INSERT that omits the column, then ALTER TABLE ADD
# COLUMN with a DEFAULT that must surface for ALL pre-existing rows (the
# "existence default" — materialized at read time from catalog metadata,
# NO rewrite of the stored files). This is how a 100 TB managed table
# grows a column in O(1): the default lives in the catalog; only rows
# written after the ALTER can carry explicit values.
# ---------------------------------------------------------------------------


@register(
    "q177_ddl_column_defaults",
    oracle="""
    SELECT 'unreviewed' AS quality, 'global' AS region,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    -- empty-corpus contract: Spark's GROUP BY emits only OBSERVED
    -- groups; this constant-literal projection must do the same
    HAVING count(*) > 0
    """,
    families=("bench",),
)
def q177_ddl_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert events into a managed table whose ``quality`` column fills
    from its declared DEFAULT, evolve the schema with
    ``ALTER TABLE … ADD COLUMN region STRING DEFAULT 'global'``, and roll
    the table up — every row must carry both defaults.

    The rollup proves (a) INSERT-time defaults and (b) read-time
    existence defaults over files written BEFORE the column existed.
    """
    import os
    import shutil

    tbl = f"ssps_q177_defaults_{os.getpid()}"
    # sweep dead-pid leftovers (a killed prior run can't DROP its table)
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).replace("file:", "")
    if os.path.isdir(wh):
        for d in os.listdir(wh):
            if d.startswith("ssps_q177_defaults_"):
                pid = d.rsplit("_", 1)[-1]
                if not os.path.exists(f"/proc/{pid}"):
                    shutil.rmtree(os.path.join(wh, d), ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("ssps_q177_events")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(
        f"""
        CREATE TABLE {tbl} (
            event_id BIGINT,
            cents BIGINT,
            quality STRING DEFAULT 'unreviewed'
        ) USING parquet
        """
    )
    spark.sql(
        f"""
        INSERT INTO {tbl} (event_id, cents)
        SELECT event_id, CAST(floor(value * 100) AS BIGINT)
        FROM ssps_q177_events
        """
    )
    spark.sql(
        f"ALTER TABLE {tbl} ADD COLUMN region STRING DEFAULT 'global'"
    )
    out = spark.sql(
        f"""
        SELECT quality, region, count(*) AS n, sum(cents) AS sum_cents
        FROM {tbl} GROUP BY quality, region
        """
    ).localCheckpoint(eager=True)  # result outlives the managed table
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")  # managed drop removes files
    return out


# ---------------------------------------------------------------------------
# q194 — LISTAGG ... WITHIN GROUP (SQL:2016, added in Spark 4): ordered
# string aggregation, the standard "roll the group up into one delimited
# field" export step. The WITHIN GROUP order makes the output
# deterministic — an unordered listagg would be partition-order-dependent
# and unverifiable at any scale.
# ---------------------------------------------------------------------------


@register(
    "q194_listagg",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           string_agg(s.s_name, ',' ORDER BY s.s_name) AS supplier_csv
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    families=("bench",),
)
def q194_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation ordered supplier roster via LISTAGG WITHIN GROUP.

    Scale shape: the nation dim broadcasts; the aggregation shuffles only
    (nation, name) pairs with map-side partial collect. Group payloads
    are bounded by group membership — the op is for dimension-sized
    rollups (reports, exports), not corpus-sized groups.
    """
    _view(spark, sf_dir, "supplier", "q194_supplier")
    _view(spark, sf_dir, "nation", "q194_nation")
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               listagg(s.s_name, ',') WITHIN GROUP (ORDER BY s.s_name)
                   AS supplier_csv
        FROM q194_supplier s
        JOIN q194_nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )


# ---------------------------------------------------------------------------
# q199 — GROUP BY ALL / ORDER BY ALL (Spark 4 SQL sugar): every
# non-aggregate select item becomes a grouping key. Parity matters for
# migrated analyst SQL — the feature changes how queries are WRITTEN,
# not how they run (Catalyst expands it to the explicit grouping set,
# so pushdown/partial-agg are identical to the spelled-out form).
# ---------------------------------------------------------------------------


@register(
    "q199_group_by_all",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty
    FROM lineitem
    GROUP BY ALL
    ORDER BY ALL
    """,
    families=("bench",),
)
def q199_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q63/TPC-H-Q1 aggregation shape written with GROUP BY ALL +
    ORDER BY ALL — same physical plan as the explicit form (partial
    hash agg before the exchange; scan reads only the 4 referenced
    columns)."""
    _view(spark, sf_dir, "lineitem", "q199_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_qty
        FROM q199_lineitem
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# ---------------------------------------------------------------------------
# q201 — aggregate FILTER clause (SQL:2003 <filter clause>): per-group
# conditional aggregation without CASE-wrapping every argument. The
# pivot-lite idiom analysts migrate in with; Catalyst compiles each
# FILTER to the same conditional partial aggregate as the CASE form, so
# pushdown and map-side combine are unchanged.
# ---------------------------------------------------------------------------


@register(
    "q201_agg_filter_clause",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS n_clicks,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n_purchases,
           CAST(sum(CAST(value AS DECIMAL(18,2)))
                    FILTER (WHERE event_type = 'purchase') AS DOUBLE)
               AS purchase_value,
           CAST(count(DISTINCT event_type)
                    FILTER (WHERE event_type <> 'view') AS BIGINT)
               AS n_nonview_types
    FROM events
    GROUP BY user_id
    """,
    families=("bench",),
)
def q201_agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel counters via FILTER-clause aggregates (count, sum,
    distinct-count each under a different predicate, one pass).

    Scale shape: ONE scan, one shuffle on user_id; every FILTER aggregate
    partial-aggregates map-side exactly like its CASE-expression twin.
    The DECIMAL(18,2) sum is the exact-money pattern (BASELINE.md)."""
    _view(spark, sf_dir, "events", "q201_events")
    return spark.sql(
        """
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
                   AS n_clicks,
               CAST(count(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS n_purchases,
               CAST(sum(CAST(value AS DECIMAL(18,2)))
                        FILTER (WHERE event_type = 'purchase') AS DOUBLE)
                   AS purchase_value,
               CAST(count(DISTINCT event_type)
                        FILTER (WHERE event_type <> 'view') AS BIGINT)
                   AS n_nonview_types
        FROM q201_events
        GROUP BY user_id
        """
    )


# ---------------------------------------------------------------------------
# q208 — try_* error-safe arithmetic under ANSI mode: Spark 4 turned ANSI
# SQL on by default, so the divide-by-zero / overflow / bad-cast cases
# that silently produced NULL in Spark 3 now FAIL the job — unless the
# pipeline opts into `try_divide` / `try_add` / `try_cast`, which return
# NULL exactly where legacy mode did. A migrating user's first crash is
# this row; it pins the complete NULL-accounting of all three families.
# ---------------------------------------------------------------------------


@register(
    "q208_try_arithmetic",
    oracle="""
    WITH t AS (
        SELECT event_type,
               CASE WHEN user_id % 5 <> 0
                    THEN CAST(value AS DOUBLE) / (user_id % 5) END AS d1,
               CASE WHEN event_id % 10 = 0
                    THEN CASE WHEN event_id > 0 THEN NULL
                              ELSE 9223372036854775807 END
                    ELSE event_id END AS ov,  -- i64max + id overflows
               TRY_CAST(CASE WHEN event_id % 5 = 0 THEN event_type
                             ELSE CAST(event_id AS VARCHAR) END
                        AS BIGINT) AS bad_cast,
               TRY_CAST(CAST(user_id AS VARCHAR) AS BIGINT) AS good_cast
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN d1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS div_by_zero_nulls,
           min(d1) AS min_ratio,
           max(d1) AS max_ratio,
           CAST(sum(CASE WHEN ov IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS overflow_nulls,
           CAST(sum(CASE WHEN bad_cast IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS bad_cast_nulls,
           CAST(sum(good_cast) AS BIGINT) AS good_cast_sum
    FROM t GROUP BY event_type
    """,
    families=("bench",),
)
def q208_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL accounting of try_divide (by zero), try_add (i64 overflow),
    and try_cast (non-numeric string / round-trip) per event type —
    failing populations are MINORITIES (10% overflow, 20% bad cast), the
    realistic dirty-data shape.

    Scale shape: pure narrow column expressions + one combinable
    aggregate. The failure rates matter at scale: Spark's try_* error
    path is exception-driven (~17µs per firing row, measured — try_add
    over 100k all-overflowing rows cost 1.81s vs 0.07s non-overflowing),
    so a try_ expression that fails on MOST rows costs orders of
    magnitude more than the arithmetic it guards. Keep try_ failure
    rates low by construction, or pre-filter the known-bad stratum with
    a cheap predicate first. Only min/max of the division ride the
    compare (a float SUM would be summation-order sensitive across
    engines; counts and integer sums are exact).
    """
    _view(spark, sf_dir, "events", "q208_events")
    return spark.sql(
        """
        WITH t AS (
            SELECT event_type,
                   try_divide(CAST(value AS DOUBLE), user_id % 5) AS d1,
                   try_add(CASE WHEN event_id % 10 = 0
                                THEN 9223372036854775807 ELSE 0 END,
                           event_id) AS ov,
                   try_cast(CASE WHEN event_id % 5 = 0 THEN event_type
                                 ELSE CAST(event_id AS STRING) END
                            AS BIGINT) AS bad_cast,
                   try_cast(CAST(user_id AS STRING) AS BIGINT) AS good_cast
            FROM q208_events
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN d1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS div_by_zero_nulls,
               min(d1) AS min_ratio,
               max(d1) AS max_ratio,
               CAST(sum(CASE WHEN ov IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS overflow_nulls,
               CAST(sum(CASE WHEN bad_cast IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS bad_cast_nulls,
               CAST(sum(good_cast) AS BIGINT) AS good_cast_sum
        FROM t GROUP BY event_type
        """
    )
