"""Skew-salting and bucketed-join scale patterns: correctness equivalence
plus the physical-plan properties that make them worth it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_state_provider_spark import operators
from spark_state_provider_spark.functions.skew import salted_join, with_salt
from spark_state_provider_spark.plans.explain import plan_string
from spark_state_provider_spark.tables import load_table


operators.load_all()


def test_salt_is_deterministic_and_bounded(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    s1 = with_salt(e, "event_id", 16).select("event_id", "_salt")
    s2 = with_salt(e, "event_id", 16).select("event_id", "_salt")
    assert {tuple(r) for r in s1.collect()} == {tuple(r) for r in s2.collect()}
    salts = {r["_salt"] for r in s1.collect()}
    assert salts <= set(range(16)) and len(salts) > 8


def test_salted_join_equals_plain_join(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    dim = (
        e.select("event_type")
        .distinct()
        .withColumn("type_tag", F.upper("event_type"))
    )
    plain = e.join(dim, "event_type").select("event_id", "type_tag")
    salted = salted_join(e, dim, "event_type", buckets=8, salt_from="event_id").select(
        "event_id", "type_tag"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path_factory):
    """Pre-bucketed tables on the join key co-locate rows: the sort-merge
    join runs with NO Exchange on either side — the layout decision that
    turns a 100 TB repeated join from shuffle-bound to scan-bound."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        orders = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        spark.sql("DROP TABLE IF EXISTS ssps_orders_b")
        spark.sql("DROP TABLE IF EXISTS ssps_lineitem_b")
        (
            orders.write.mode("overwrite")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable("ssps_orders_b")
        )
        (
            li.write.mode("overwrite")
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable("ssps_lineitem_b")
        )
        ob = spark.table("ssps_orders_b")
        lb = spark.table("ssps_lineitem_b")
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey).select(
            "o_orderkey", "l_quantity"
        )
        plan = plan_string(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan[:3000]
        # and it computes the same thing as the unbucketed join
        n_plain = (
            orders.join(li, orders.o_orderkey == li.l_orderkey).count()
        )
        assert joined.count() == n_plain
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS ssps_orders_b")
        spark.sql("DROP TABLE IF EXISTS ssps_lineitem_b")


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Catalyst's runtime bloom-filter injection: a selective dim-side filter
    builds a bloom filter that pre-filters the fact scan BEFORE the shuffle
    join — at 100 TB this drops the shuffled fact volume to ~the matching
    rows without any manual semi-join. Thresholds are lowered here because
    the local testdata is far below the 10 MB/10 GB production defaults;
    the plan property and result equivalence are what we pin."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type").startswith("PROMO"))
    expected = sorted(
        map(tuple, li.join(p, F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand").count().collect())
    )
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # shuffle join
        j = (
            li.join(p, F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand")
            .count()
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized  # bloom filter injected
        assert sorted(map(tuple, j.collect())) == expected  # semantics unchanged
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_range_layout_files_have_disjoint_spans(spark, sf_dir):
    # drive the write, then prove the file-skipping property from the
    # parquet footers themselves: per-file l_shipdate spans must not overlap
    import glob
    import os

    import pyarrow.parquet as pq

    from spark_state_provider_spark.operators import registry
    from spark_state_provider_spark.operators.sources_sinks import _out

    registry.get("q48_range_layout").fn(spark, sf_dir).collect()
    files = sorted(glob.glob(os.path.join(_out(sf_dir, "range_parquet"), "*.parquet")))
    assert len(files) > 1
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "l_shipdate"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    for (lo_a, hi_a), (lo_b, _hi_b) in zip(spans, spans[1:]):
        assert hi_a <= lo_b, (hi_a, lo_b)  # disjoint (range boundaries touch at most)


def test_zorder_layout_prunes_rectangle_query(spark, sf_dir):
    """Prove the 2-D skipping property from real parquet footers: z-spans
    are disjoint across files, and the query rectangle's rows live in a
    strict subset of files (file-level pruning on a two-column predicate)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from spark_state_provider_spark.operators import registry
    from spark_state_provider_spark.operators.sources_sinks import (
        _Z_P_HI,
        _Z_P_LO,
        _Z_S_HI,
        _Z_S_LO,
        _out,
    )

    registry.get("q56_zorder_layout").fn(spark, sf_dir).collect()
    files = sorted(glob.glob(os.path.join(_out(sf_dir, "zorder_parquet"), "*.parquet")))
    assert len(files) > 1
    spans = []
    touched = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.num_columns)
        }
        zmins, zmaxs = [], []
        hit = False
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(cols["zval"]).statistics
            zmins.append(st.min)
            zmaxs.append(st.max)
            ps = md.row_group(rg).column(cols["l_partkey"]).statistics
            ss = md.row_group(rg).column(cols["l_suppkey"]).statistics
            # footer-level rectangle overlap test — what a reader's
            # row-group pruning would evaluate
            if not (
                ps.max < _Z_P_LO
                or ps.min > _Z_P_HI
                or ss.max < _Z_S_LO
                or ss.min > _Z_S_HI
            ):
                hit = True
        spans.append((min(zmins), max(zmaxs)))
        touched += hit
    spans.sort()
    for (_lo_a, hi_a), (lo_b, _hi_b) in zip(spans, spans[1:]):
        assert hi_a <= lo_b, (hi_a, lo_b)  # z-ranges disjoint across files
    # the rectangle is small in z-space: most files must be prunable
    assert touched < len(files), (touched, len(files))
