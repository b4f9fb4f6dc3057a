"""Generate PLAN_AUDIT.md: one row per headline query with the physical-plan
properties the 100 TB brief demands — does the scan push filters, do small
sides broadcast, is top-k a TakeOrdered, does aggregation partial-combine,
is there Python in the plan, and (the hard NO) any CartesianProduct.

The table makes the plan-quality claims in SCALE.md / COVERAGE.md
mechanically checkable: re-run this script and diff.

Usage: python scripts/plan_audit.py [--sf DIR]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from spark_state_provider_spark import operators
from spark_state_provider_spark.operators import registry
from spark_state_provider_spark.plans.explain import (
    plan_string,
    single_partition_findings,
)
from spark_state_provider_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
if "--sf" in sys.argv:
    SF_DIR = sys.argv[sys.argv.index("--sf") + 1]

# Streaming / side-effecting queries run jobs at build time and return a
# sink read whose plan is not the interesting one — audit batch shapes
# only. EXACT names (round-8 verdict #4): prefix matching silently
# skipped new batch adds (the "q23_" incident); with exact names, every
# NEW registry entry is either audited or must be added here on purpose —
# main() fails loudly on an unclassified name it cannot plan.
SKIP_EXACT = frozenset({
    "q02_sink_roundtrip", "q02b_csv_roundtrip", "q02c_json_roundtrip",
    "q02d_partitioned_sink", "q02e_orc_roundtrip", "q102_aqe_skew_join",
    "q103_stream_corpus_pipeline", "q108_stream_leaderboard",
    "q114_stream_span_dedup", "q139_python_datasource_write",
    "q143_corrupt_record_handling", "q146_xml_ingest", "q148_sql_scripting",
    "q149_stream_corrupt_quarantine", "q155_stream_python_sink",
    "q157_rate_source_checksum", "q158_state_change_feed",
    "q160_stream_fanout_consistency", "q162_partition_evolution",
    "q163_late_data_accounting", "q166_stream_restart_exactly_once",
    "q168_file_metadata_lineage", "q170_stream_ivf_maintenance",
    "q172_chained_stateful", "q175_state_export_kv",
    "q177_ddl_column_defaults", "q189_stream_domain_quota",
    "q203_stream_ewma", "q20s2_stream_dedup_watermark", "q20s_stream_dedup",
    "q217_stream_cusum", "q21s2_stream_sliding_window", "q21s_stream_window",
    "q220_stream_curation_funnel", "q22s_stream_session_window",
    "q230_stream_substring_dedup", "q233_stream_span_removal",
    "q23_watermark", "q24s_stream_user_stats", "q25s_stream_ttl",
    "q26_stream_stream_join", "q26b_stream_stream_left_join",
    "q26c_stream_static_join", "q37_python_datasource", "q44_merge_upsert",
    "q44b_state_as_of", "q56_zorder_layout", "q65_schema_evolution",
    "q66_python_stream_source", "q82_binaryfile_source",
    "q89_small_file_compaction", "q92_stream_incremental_dedup",
    "q96_stream_heavy_hitters", "q97_stream_rolling_anomaly",
    # protobuf-gated (registered only when transformWithStateInPandas's
    # runtime dep is present)
    "q24t_transform_with_state", "q25t_transform_native_ttl",
    "q236_stream_decontamination",
    "q241_stream_semantic_decontamination",
})

FLAGS = (
    ("pushdown", lambda p: "PushedFilters: [" in p and "PushedFilters: []" not in p),
    ("broadcast", lambda p: "BroadcastExchange" in p),
    ("take_ordered", lambda p: "TakeOrderedAndProject" in p),
    ("partial_agg", lambda p: "partial_" in p),
    ("python", lambda p: "EvalPython" in p or "InPandas" in p or "MapInArrow" in p
     or "PythonUDTF" in p),
    ("CARTESIAN", lambda p: "CartesianProduct" in p),
)

# Queries whose single-partition hit is justified (bounded input by
# construction — the exchanged frame is vocab-sized, bucket-count-sized,
# or post-limit). Each entry must say why.
_GLOBAL_WINDOW_ALLOW = {
    # Bucket-offset exact-rank pattern: the flagged window is the prefix
    # sum over the COARSE-BUCKET COUNTS frame (~60–300 rows by
    # construction), never the corpus. The corpus-side window in the same
    # plan is bucket-partitioned.
    "q83_global_shuffle": "prefix-sum over 256 bucket counts",
    "q100_equidepth_histogram": "prefix-sum over ~60 coarse-range counts",
    "q124_curriculum_order": "prefix-sum over ~150 difficulty-decile counts",
    "q153_systematic_weighted_sample": "prefix-sum over bucket weights",
    # Post-aggregation frames orders of magnitude below the input:
    "q84_vocab_coverage": "rank over the VOCABULARY (Heaps' law), not docs",
    "q186_skyline_pareto": "running min over DISTINCT prices, not parts",
    "q221_dsir_importance": "total over ≤4096 hashed-bucket counts, not docs",
}


def main() -> int:
    operators.load_all()
    spark = get_spark(app_name="plan-audit", master="local[8]", shuffle_partitions=8)
    names = [n for n in registry.all_queries() if n not in SKIP_EXACT]
    lines = [
        "# PLAN_AUDIT — physical-plan properties per batch query",
        "",
        f"Generated by `scripts/plan_audit.py` at {SF_DIR} "
        "(re-run and diff to verify).",
        "",
        "`CARTESIAN` must be blank everywhere; `python` marks Arrow/pandas",
        "stages (allowed only where built-ins can't express the op).",
        "`GLOBAL_1PART` flags unpartitioned Window nodes and",
        "`Exchange SinglePartition` outside limit / zero-key-agg paths",
        "(the two plan shapes that force corpus-sized data through ONE",
        "task); `allow` marks a documented bounded-input exception.",
        "",
        "| query | " + " | ".join(f for f, _ in FLAGS) + " | GLOBAL_1PART |",
        "|---|" + "|".join("---" for _ in FLAGS) + "|---|",
    ]
    n_cartesian = 0
    n_single = 0
    n_error = 0
    audited: list[str] = []
    for name in sorted(names):
        try:
            df = registry.get(name).fn(spark, SF_DIR)
            p = plan_string(df)
            sp = single_partition_findings(df)
        except Exception as ex:  # pragma: no cover - audit robustness
            lines.append(f"| {name} | ERROR: {str(ex)[:60]} |")
            n_error += 1
            continue
        audited.append(name)
        row = []
        for f, fn in FLAGS:
            hit = fn(p)
            if f == "CARTESIAN" and hit:
                n_cartesian += 1
            row.append("x" if hit else "")
        if sp and name in _GLOBAL_WINDOW_ALLOW:
            row.append("allow")
        elif sp:
            n_single += 1
            row.append("x " + sp[0][:40])
        else:
            row.append("")
        lines.append(f"| {name} | " + " | ".join(row) + " |")
        print(name, "ok", ("SINGLE-PART: " + "; ".join(sp) if sp else ""),
              flush=True)
    # memo builders (round-9 verdict #6: the once-per-snapshot builds are
    # the largest cost block and were never plan-audited) — audit the
    # UNPERSISTED build frames, same flags
    from scripts.plan_capture import _memo_frame

    for label, _ in bench.MEMOS:
        try:
            df = _memo_frame(spark, label, SF_DIR)
            p = plan_string(df)
            sp = single_partition_findings(df)
        except Exception as ex:  # pragma: no cover - audit robustness
            lines.append(f"| {label} | ERROR: {str(ex)[:60]} |")
            n_error += 1
            continue
        audited.append(label)
        row = []
        for f, fn in FLAGS:
            hit = fn(p)
            if f == "CARTESIAN" and hit:
                n_cartesian += 1
            row.append("x" if hit else "")
        if sp:
            n_single += 1
            row.append("x " + sp[0][:40])
        else:
            row.append("")
        lines.append(f"| {label} | " + " | ".join(row) + " |")
        print(label, "ok", ("SINGLE-PART: " + "; ".join(sp) if sp else ""),
              flush=True)
    lines.append("")
    lines.append(f"CartesianProduct occurrences: **{n_cartesian}** (must be 0).")
    lines.append(
        f"Unallowlisted single-partition plans: **{n_single}** (must be 0)."
    )
    lines.append(f"Plan-build errors: **{n_error}** (must be 0).")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "PLAN_AUDIT.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    # machine-readable sidecar: tests/test_plan_audit_gate.py asserts every
    # CURRENT batch registry name has a row here — a new add without a
    # plan-audit regeneration fails the suite (round-8 verdict #4)
    import json

    with open(os.path.join(here, "PLAN_AUDIT.json"), "w") as f:
        json.dump(
            {
                "audited": audited,
                "skipped": sorted(SKIP_EXACT),
                "n_cartesian": n_cartesian,
                "n_single_unallowed": n_single,
                "n_error": n_error,
            },
            f,
            indent=1,
        )
    print(f"wrote PLAN_AUDIT.md ({len(names)} queries, "
          f"{n_cartesian} cartesian hits, {n_error} errors)")
    spark.stop()
    return 1 if (n_cartesian or n_single or n_error) else 0


if __name__ == "__main__":
    raise SystemExit(main())
