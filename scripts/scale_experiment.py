"""10× scale experiment: does each plan's wall-clock scale ~linearly?

Builds a 10× replica of $SPARK_GRAFT_SF_DIR (default sf0.1) under the
temp dir by unioning offset copies — join keys are offset consistently per
copy, so join cardinalities scale linearly (10× more
customers/orders/users/docs, same per-key fan-out); dimension tables
(region, nation) stay single-copy, exactly like a real corpus growing 10×. Then times a representative query set on the base vs
the replica with bench.py's min-of-3 noop-sink protocol (the first, cold
run is the warm-up) and prints the time ratio per query (ideal ≈ 10× data
→ ≤10× time; well-parallelized ops land well under because fixed overheads
amortize).

Usage: python scripts/scale_experiment.py [n_copies] [--rebuild]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from spark_state_provider_spark.tables import TABLE_NAMES, load_table

BASE_SF = bench.SF_DIR
BASE_NAME = os.path.basename(os.path.normpath(BASE_SF))
N_COPIES = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 10
# keyed by the base corpus: a replica of another base is never reused
OUT_DIR = os.path.join(
    tempfile.gettempdir(), f"ssps_scale_{BASE_NAME}_x{N_COPIES}"
)

# per-table key columns offset per copy (copy i adds i * OFFSET)
OFFSET = 100_000_000
KEYED = {
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SINGLE_COPY = ("region", "nation")

QUERIES = [
    "q01_pruned_scan",
    "q04_filter",
    "q05_broadcast_join",
    "q06_shuffle_join",
    "q09_hash_agg",
    "q12_window_rank",
    "q14_topk",
    "q28_dedup_exact",
    "q28b_minhash_lsh",
    "q29_knn_brute",
    "q30c_token_freq",
    "q33_tpch_q3",
    "q34_tpch_q5",
    "q38_sequence_packing",
    "q49_bm25",
    "q50_kmeans",
    "q52_unigram_lm",
    "q53_histogram",
    "q57_funnel",
    "q58_range_frame",
    "q59_table_fingerprint",
    # round-2 additions: dedup finishing, training-order, featurization
    "q80_cluster_representative",
    "q81_boilerplate_strip",
    "q83_global_shuffle",
    "q86_feature_hash_embed",
    "q87_rare_ngram_ratio",
    "q29f_pq_ann",
    # round-2 third batch: runtime pruning, monitoring, planning ops
    "q93_runtime_bloom_join",
    "q94_rolling_anomaly",
    "q95_data_quality_audit",
    "q98_join_size_estimate",
    "q100_equidepth_histogram",
    "q101_negative_sampling",
    "q102_aqe_skew_join",
    "q104_cascade_delete",
    "q105_corpus_diff",
    "q107_trend_slope",
    # streaming twins: measures the per-batch probe/fold cost at 10x corpus
    "q92_stream_incremental_dedup",
    "q103_stream_corpus_pipeline",
    # round-3: the iterative ops after the checkpoint/broadcast rework
    # (BFS frontier-broadcast rounds, CC lazy-truncate fixpoint loop)
    "q110_bfs_distances",
    "q28e_dedup_clusters",
    "q111_span_dedup",
    "q112_semdedup",
    # round-4: bigram frequency join, broadcast MaxSim rerank, wedge-close
    # triangles over the LSH pair graph
    "q122_bigram_rarity",
    "q126_maxsim_late_interaction",
    "q133_dup_graph_triangles",
    # round-4 second batch: binary ANN scan, bitmap distinct rollup,
    # LPA supersteps, distributed prefix sum, diversity aggregate,
    # ordered-aggregate OHLC, exact-integer allocation, dynamic sessions
    "q150_hamming_topk",
    "q151_bitmap_distinct_rollup",
    "q152_label_propagation",
    "q153_systematic_weighted_sample",
    "q154_corpus_simpson_diversity",
    "q156_ohlc_downsample",
    "q159_neyman_allocation",
    "q161_dynamic_gap_sessions",
    # round-4 third batch (batch-shaped members)
    "q162_partition_evolution",
    "q164_good_turing_counts",
    "q165_image_phash",
    "q167_sql_scalar_udf",
    "q171_collocation_lift",
    # round-5: curation classifiers (hash-feature scorer, trigram LM,
    # fertility), order statistics (winsorize), per-domain cap, hard
    # negatives, EWMA fold, recall eval, Arrow resize
    "q187_quality_classifier",
    "q188_char_trigram_lm",
    "q190_winsorized_stats",
    "q191_domain_cap",
    "q192_tokenizer_fertility",
    "q193_hard_negatives",
    "q197_ewma",
    "q200_ann_recall_eval",
    "q202_image_resize",
    "q204_asof_nearest",
    "q206_lsh_dedup_recall",
    "q207_twap",
    "q210_self_repetition",
    "q211_profile_lang_id",
    "q212_cusum_drift",
    "q213_golden_record",
    "q215_proximity_search",
    "q216_link_prediction",
    # round-6: the composed curation funnel (all four gates + dedup in one
    # lazy plan — the probe measures the CHAIN, not the solo stages) and
    # the composed IVF-PQ retrieval and the streaming funnel twin
    "q218_curation_pipeline",
    "q219_ivfpq_ann",
    "q220_stream_curation_funnel",
    # round-7: the sf1.0-equivalent probe set also re-times the TPC-H Q1
    # aggregate and the new retrieval-composition adds
    "q63_tpch_q1",
    "q225_hybrid_rrf_fusion",
    "q226_substring_lcs_dedup",
    "q227_packing_contamination",
    "q228_retrieval_metrics",
    "q229_maxp_chunk_retrieval",
    "q230_stream_substring_dedup",
    # round-6 second tranche: DSIR bigram selection (two corpus passes),
    # Gopher rule battery (one map pass), embedding-norm QA (label-keyed
    # order statistic), MinHash calibration (rides the memoized LSH state)
    "q221_dsir_importance",
    "q222_gopher_rules",
    "q223_embedding_norm_qa",
    "q224_minhash_calibration",
    # round-8: the dedup OUTPUT side (span-removal rewrite batch + ingest
    # twin, per-family impact report)
    "q231_span_removal_rewrite",
    "q232_dedup_impact_report",
    "q233_stream_span_removal",
    "q234_decontamination_rewrite",
    "q235_rewrite_residual_audit",
    "q236_stream_decontamination",
    "q237_iterative_span_removal",
    # round-9: embedding-space decontamination (batch + ingest twin),
    # incremental rewrite ledger, span provenance
    "q238_semantic_contamination",
    "q239_incremental_decontamination",
    "q240_span_removal_provenance",
    "q241_stream_semantic_decontamination",
    "q242_contamination_verdicts",
    "q243_partner_attribution",
    "q244_benchmark_leak_report",
]


def build(spark) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in TABLE_NAMES:
        dst = os.path.join(OUT_DIR, f"{name}.parquet")
        if os.path.exists(dst):
            continue
        base = load_table(spark, BASE_SF, name)
        if name in SINGLE_COPY:
            out = base
        else:
            copies = []
            for i in range(N_COPIES):
                c = base
                for k in KEYED.get(name, []):
                    c = c.withColumn(k, F.col(k) + F.lit(i * OFFSET))
                copies.append(c)
            out = copies[0]
            for c in copies[1:]:
                out = out.unionAll(c)
        out.write.mode("overwrite").parquet(dst + ".dir")
        # single-file-per-table layout to mirror the testdata convention
        # is unnecessary: load_table reads any parquet path
        os.rename(dst + ".dir", dst) if not os.path.exists(dst) else None
        print(f"built {name}", flush=True)


def main() -> None:
    spark = bench.open_session("scale-experiment")
    if "--rebuild" in sys.argv and os.path.exists(OUT_DIR):
        shutil.rmtree(OUT_DIR)
    build(spark)
    only = os.environ.get("SSPS_SCALE_ONLY")  # comma-list: probe a subset
    queries = [q for q in QUERIES if not only or q in only.split(",")]
    print(f"{'query':28s} {BASE_NAME:>8s} {'x' + str(N_COPIES):>8s} {'ratio':>6s}")
    for name in queries:
        t_base = min(bench.noop_times(spark, name, BASE_SF))
        t_big = min(bench.noop_times(spark, name, OUT_DIR))
        print(
            f"{name:28s} {t_base:8.2f} {t_big:8.2f} {t_big / t_base:6.1f}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
