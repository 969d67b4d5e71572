"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test tables) on a session sized to the host
(local[N] over the usable cores; $SPARK_GRAFT_CPUS overrides N) and
prints ONE JSON line ``{"metric": ..., "value": total_sec, "unit":
"sec", "queries": {name: sec}, "sf": ...}``.

Each query is forced through the noop sink (full computation, no
materialization cost) so timings measure the engine, not the collect.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline subset: every operator family, scale-appropriate variants
# (the ANN headline uses the IVF scale path rather than brute force)
HEADLINE = [
    "curation_pipeline_documents",
    "ngram_jaccard_pairs_documents",
    "repetition_documents",
    "split_documents",
    "split_leakage_documents",
    "contamination_documents",
    "tfidf_keywords_documents",
    "dup_clusters_documents",
    "pack_documents",
    "balance_documents",
    "balance_targets_documents",
    "ahp_score_lineitem",
    "topsis_score_part",
    "online_ahp_events",
    "online_topsis_model_events",
    "online_topsis_predict_events",
    "apriori_rules_events",
    "fcm_embeddings_clusters",
    "canopy_customer",
    "mean_imputer_orders",
    "standard_scaler_lineitem",
    "time_features_orders",
    "auto_features_orders",
    "winsorize_orders",
    "dedup_exact_documents",
    "dedup_minhash_documents",
    "dedup_simhash_documents",
    "dedup_embedding_cosine",
    "dedup_substring_documents",
    "substring_decontaminate_documents",
    "dedup_exact_against_documents",
    "cluster_reps_documents",
    "chunk_documents",
    "ppl_bucket_documents",
    "dsir_weights_documents",
    "gopher_quality_documents",
    "quantize_embeddings",
    "pca_invariants_embeddings",
    "lang_id_documents",
    "quality_documents",
    "quality_filter_documents",
    "token_count_documents",
    "fingerprint_documents",
    "winnow_fingerprints_documents",
    "pii_redact_documents",
    "line_filter_documents",
    "unigram_logprob_documents",
    "corpus_profile_documents",
    "multimodal_meta_documents",
    "multimodal_image_stats",
    "multimodal_image_resize",
    "multimodal_frame_means",
    "multimodal_scene_changes",
    "multimodal_audio_features",
    "normalize_documents",
    "frequent_ngrams_documents",
    "epoch_shuffle_documents",
    "dedup_bloom_documents",
    "embedding_contamination",
    "semdedup_embeddings",
    "domain_divergence_documents",
    "line_dedup_documents",
    "token_budget_documents",
    "weighted_sample_documents",
    "quality_classifier_documents",
    "sessionize_events",
    "asof_join_events",
    "asof_nearest_events",
    "range_join_events",
    "rollup_gapfill_events",
    "trending_events",
    "anomaly_events",
    "scd2_events",
    "zorder_key_events",
    "cohort_retention_events",
    "funnel_events",
    "pagerank_events",
    "bm25_retrieval_documents",
    "hybrid_rrf_documents",
    "heavy_hitters_documents",
    "cardinality_events",
    "skew_profile_events",
    "json_props_events",
    "bigram_lm_documents",
    "fuzzy_link_part",
    "snapshot_diff_orders",
    "expectations_orders",
    "expectation_monitor_events",
    "markup_strip_documents",
    "script_profile_documents",
    "compression_invariants_documents",
    "bpe_tokenize_documents",
    "phrase_match_documents",
    "drift_report_orders",
    "ranking_eval_documents",
    "classification_eval_documents",
    "categorical_drift_events",
    "drift_monitor_window_events",
    "triangles_events",
    "components_events",
    "label_prop_events",
    "assoc_lineitem",
    "corr_matrix_lineitem",
    "copurchase_pmi_lineitem",
    "mean_shift_events",
    "corr_window_events",
    "stratified_sample_documents",
    "salted_join_events",
    "skew_summary_events",
    "url_parse_documents",
    "url_canonical_documents",
    "url_dedup_documents",
    "url_domain_filter_documents",
    "calibration_bins_documents",
    "calibration_eval_documents",
    "ewma_forecast_events",
    "negative_sample_documents",
    "bloom_join_events",
    "readability_documents",
    "minmax_scale_lineitem",
    "maxabs_scale_orders",
    "robust_scale_lineitem",
    "quantile_bins_orders",
    "string_index_events",
    "target_encode_orders",
    "regression_eval_orders",
    "silhouette_lineitem",
    "kmeans_embeddings_clusters",
    "ks_test_events",
    "mwu_test_events",
    "anova_events",
    "ks_window_events",
    "feature_hash_events",
    "mad_outliers_orders",
    "transitions_events",
    "rare_collapse_documents",
    "table_profile_orders",
    "image_dhash_documents",
    "image_dup_pairs_documents",
    "random_projection_embeddings",
    "ohlc_events",
    "isotonic_invariants_documents",
    "assemble_features_lineitem",
    "grouped_scale_events",
    "platt_invariants_documents",
    "quantile_match_events",
    "regression_window_events",
    "count_encode_documents",
    "anova_window_events",
    "minhash_topk_documents",
    "json_schema_events",
    "json_drift_events",
    "cdc_chunks_documents",
    "chunk_overlap_documents",
    "hashed_tf_documents",
    "prototypicality_embeddings",
    "interval_merge_events",
    "acf_events",
    "rolling_features_events",
    "link_prediction_orders",
    "kcore_orders",
    "encoding_corruption_documents",
    "outlinks_documents",
    "ppr_events",
    "interval_overlap_events",
    "image_ahash_documents",
    "seasonal_decompose_events",
    "mutual_info_orders",
    "cusum_events",
    "sentences_documents",
    "golden_records_orders",
    "quantile_window_events",
    "temporal_split_events",
    "correlation_rank_lineitem",
    "hashed_tfidf_documents",
    # ANN + CMS: benched as their registry recall/bound gates, so every
    # benched name is a registry key (the gates include the exact
    # baseline, which is the honest cost of the scale path anyway)
    "holt_forecast_events",
    "ql_retrieval_documents",
    "embedding_drift_embeddings",
    "otsu_threshold_documents",
    "gini_documents",
    "spearman_lineitem",
    "attribution_events",
    "fd_profile_orders",
    "partition_health_orders",
    "paraphrase_pairs_documents",
    "temperature_mix_documents",
    "leakage_safe_split_documents",
    "hard_negatives_embeddings",
    "zipf_documents",
    "interarrival_events",
    "lexical_diversity_documents",
    "code_density_documents",
    "nb_lang_documents",
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "cms_invariants_events",
    "welch_ttest_events",
    "welch_window_events",
    "theilsen_events",
    "mann_kendall_events",
    "assortativity_events",
    "compaction_plan_documents",
    "kaplan_meier_events",
    "bootstrap_ci_events",
    "overlap_invariants_events",
    "conformal_events",
    "cuped_events",
    "session_paths_events",
    "did_events",
    "covariate_balance_events",
    "rbo_events",
    "heaps_documents",
    "fdr_events",
    "forecast_accuracy_events",
    "logrank_events",
    "weibull_events",
    "srm_window_events",
    "mde_events",
    "truncation_audit_embeddings",
    "anisotropy_embeddings",
    "kn_bigram_documents",
    "conversion_lag_events",
    "merge_stats_orders",
    "fk_check_orders",
    "rouge_documents",
    "audio_silence_documents",
    "qini_events",
    "ratio_metric_events",
    "ratio_window_events",
    "rank_gauss_lineitem",
    "k_anonymity_events",
    "lorenz_events",
    "qq_events",
    "eb_rates_events",
    "ltv_events",
    "holm_events",
    "ess_documents",
    "chao1_documents",
    "source_diversity_documents",
    "kcenter_coreset_embeddings",
    "padding_waste_documents",
    "tokenizer_fertility_documents",
    "boilerplate_fraction_documents",
    "boilerplate_against_documents",
    "dedup_minhash_against_documents",
    "coverage_coreset_documents",
    "unimax_alloc_documents",
    "coverage_novelty_documents",
]


def main() -> None:
    global LOAD_START, T_START
    LOAD_START = os.getloadavg()
    T_START = time.perf_counter()

    from flink_ml__spark.plans import QUERIES
    from flink_ml__spark.session import get_spark, session_size

    # the session is sized to the host (session.host_size; the
    # SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM env vars override it). One JVM
    # runs every query x 3 reps, so an explicit GC between reps keeps
    # rep N's debris out of rep N+1's timings.
    spark = get_spark("flink_ml__spark-bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    all_queries = dict(QUERIES)

    # warmup: JVM JIT + Arrow python workers, so the first timed query
    # doesn't absorb session startup
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).select(F.sum(_warm("id"))).collect()

    # best of 3 runs per query: single runs at this scale are dominated
    # by scheduler/GC and noisy-neighbor contention (measured swings of
    # 2s..14s for the same query on a loaded host)
    timings: dict[str, float] = {}
    for _rep in range(3):
        # settle the JVM between reps so rep N's tail GC debt doesn't
        # land in rep N+1's first queries
        spark.sparkContext._jvm.System.gc()
        for name in HEADLINE:
            fn = all_queries[name]
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
            # each query is measured standalone: drop its persisted
            # intermediates so later queries don't pay GC/spill pressure
            spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Ambient-load context: session-to-session totals on IDENTICAL code
    # have swung ~15% (231→266 s between r11 sessions; driver r11 drift
    # +6.9% with zero code changes). Recording loadavg + wall time with
    # every map lets a reader classify a >1.2x per-query move as
    # environmental vs real before treating it as a regression — the
    # protocol is: isolated A/B (tools/bench_isolated.py) any mover
    # before accepting it.
    load_end = os.getloadavg()
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "context": {
            "timestamp": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
            "loadavg_start": [round(x, 2) for x in LOAD_START],
            "loadavg_end": [round(x, 2) for x in load_end],
            # the resolved master core count, NOT os.cpu_count(): a
            # local[8] scaling run must not label its map "cpus": 32
            # (r12 verdict item 4 — metadata-only, but it breaks mover
            # classification between maps taken at different widths)
            "cpus": int(session_size()[0]),
            "host_cpus": os.cpu_count(),
            "wall_sec": round(time.perf_counter() - T_START, 1),
        },
    }
    # Full per-query map: own (early) stdout line + a file. The driver
    # records only the last ~2000 chars of stdout and parses the last
    # JSON line in that window — a 110-query map blows past the window
    # and truncates (BENCH_r06 "parsed": null), so the FINAL line below
    # is kept compact (slowest queries only) and is guaranteed to fit.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_full_queries.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(json.dumps(full))
    sys.stdout.flush()
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:12])
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "n_queries": len(timings),
        "detail_file": "BENCH_full_queries.json",
        "sf": sf_val,
        "context": full["context"],
    }))


if __name__ == "__main__":
    main()
