"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship query smoke check at sf0.001.
queries()      — every implemented operator from SURVEY.md §2.
oracle_sql()   — matching DuckDB SQL for the correctness gate.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from postgres_scanner_spark.functions import tpch  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1 pricing summary at sf0.001."""
    return tpch.q1_pricing_summary(spark, "/root/testdata/sf0.001")


# Module registration (cost-grouped); the fine-grained per-query
# order below supersedes it.
_MODULES = (
    "postgres_scanner_spark.functions.scanq",
    "postgres_scanner_spark.functions.text",
    "postgres_scanner_spark.functions.analytics",
    "postgres_scanner_spark.functions.tpcds",
    "postgres_scanner_spark.operators.ann",
    "postgres_scanner_spark.operators.multimodal",
    "postgres_scanner_spark.streaming.events",
    "postgres_scanner_spark.operators.dedup",
)

# Registration order = certification ROTATION. The driver grades
# queries() in iteration order and hard-caps the record at 50 entries
# (a count cap, so cost can't move it). Round 7 closed the registry:
# every query has >=1 green driver row across r1-r7. From round 9 the
# order ranks (1) never-graded queries, then (2) queries whose
# defining function was COMMITTED AFTER their latest green
# CORRECTNESS row was recorded — a green row for pre-rewrite code is
# not a cert for the current code — then (3) plain oldest-cert-first;
# ties keep the prior cost-ascending order. Current window (r10):
# tier 1 is the 3 never-driver-graded r10 additions (d23, t21,
# d24); tier 2 is the 24-entry modified-since-cert cohort (the
# r7/r8 leftovers plus this round's q9/d2/d20/d22 rewrites) — all
# 27 fit inside the 50-entry window, so the formal record catches
# up to the code this round; the tail backfills oldest-cert-first
# from the r5 cohort. Regenerate with tools/rotate_order.py
# --write after each round (--explain shows per-query evidence).
_COST_ORDER = [
    "e16_connector_stream", "e4_top_users", "p4_filter_pushdown",
    "a6_kmeans_lloyd", "a13_norm_bound_mips", "q15_top_supplier",
    "e20_streaming_neardup_ingest", "ds1_above_avg_customers",
    "ds6_top_customers_per_region", "w15_gapfill_locf",
    "ds15_channel_growth_ratio", "ds19_two_fact_growth",
    "ds20_category_share_window", "ds21_disjunctive_bands",
    "a10_filtered_ann", "a11_mmr_diversified", "e21_watermark_dedup",
    "ds13_low_revenue_parts", "a3_ivf_ann", "m13_bloom_pruned_probe",
    "d5_embedding_dedup", "d14_semantic_dedup", "a1_cosine_topk",
    "a8_sq8_ann", "a2_lsh_ann", "q9_product_profit", "ds3_brand_year",
    "p3_decimals", "p11_struct_fields", "p10_verify_checksum",
    "p8_json", "q14_promo_effect", "w5_lag_delta", "ds2_weekday_share",
    "e1_hourly_event_rollup", "ds10_avg_measures",
    "e19_idempotent_replay", "ds16_above_avg_balance_nations",
    "ds17_substr_cohort_revenue", "w9_continuous_aggregate",
    "w10_skew_join", "ds5_nation_share", "a12_ivfpq_ann",
    "ds7_yoy_growth", "ds9_channel_rollup", "a4_knn_label",
    "e12_stream_static_join", "e13_checkpoint_resume",
    "d27_scaled_semantic_dedup", "q6_forecast_revenue",
    "ds4_price_buckets", "ds11_timeband_counts", "x2_hash_sample",
    "e5_event_funnel", "p6_interval", "t3_token_count", "p2_nulls",
    "t4_fingerprint", "t13_context_chunks", "p5_arrays",
    "x3_vocab_topk", "x18_weighted_reservoir_sample",
    "m14_page_pruned_scan", "w21_time_decay_attribution",
    "t20_kneser_ney_logprob", "x17_dsir_select",
    "d21_repeated_substring_excision", "t2_quality_score",
    "x5_sequence_pack", "x11_quality_topk_sample", "w3_window_rank",
    "x8_epoch_plan", "m7_npy_tensor_parse",
    "e17_streaming_dedup_ingest", "t17_perplexity_buckets",
    "m9_shard_repack_plan", "x12_corpus_compile", "d17_lsh_param_sweep",
    "w19_ema_daily_revenue", "w16_time_weighted_avg",
    "w18_retention_cohorts", "m11_parquet_footer_manifest",
    "w13_dist_windows", "m4_wav_features", "m12_pruned_rowgroup_scan",
    "e22_streaming_contamination_guard", "x4_source_mix",
    "e7_streaming_dedup", "e6_stateful_anomaly",
    "d19_unicode_shingle_dedup", "t19_source_kl_divergence",
    "d7_contamination", "q19_discounted_revenue", "q17_small_quantity",
    "d23_benchmark_span_excision", "a7_ann_recall", "d12_dedup_eval",
    "t15_bpe_encode", "e10_late_data_policy", "e14_streaming_upsert",
    "x16_domain_reweight", "x15_length_bucketed_batches",
    "t12_zipf_fit", "t8_entropy_quality", "t7_repetition_stats",
    "t10_tfidf_keywords", "t9_bigram_logprob", "x9_temperature_mix",
    "e23_stateful_quota_admission", "d22_prefix_filter_join",
    "d20_repeated_substrings", "w2_cube", "p7_timestamp_parts",
    "w4_moving_avg", "p9_uuid", "t1_language_id", "t6_pii_redact",
    "t11_bpe_pairs", "x10_leakage_safe_split", "w7_percentiles",
    "ds8_customer_cohort", "m2_frame_sample", "t22_unigram_lm_encode",
    "d25_chunk_cluster", "d26_neardup_apply", "d16_cdc_chunk_dedup",
    "t21_unigram_lm_train", "d24_cc_two_phase", "d2_minhash_lsh_dedup",
    "q21_suppliers_waiting", "ds12_order_size_band",
    "ds14_shipping_lag", "x7_dataset_card", "a9_mih_hamming_ann",
    "e18_streaming_quality_router", "w17_ohlc_bars",
    "ds18_multi_exists_cohort", "d15_source_overlap",
    "x13_neardup_safe_split", "m10_webdataset_samples",
    "p14_timezone_convert", "x14_snapshot_diff", "d18_doc_novelty",
    "w14_first_touch", "w12_range_frame", "w11_grouping_sets",
    "x6_global_shuffle", "e2_sessionization", "d8_incremental_dedup",
    "m5_video_container", "t18_script_id", "w20_asof_directional",
    "m3_image_dims", "m8_jsonl_shard_codec", "m6_tar_shard_manifest",
    "d10_boilerplate_removal", "e11_streaming_sessions", "a5_pq_ann",
    "t23_classifier_train", "t24_classifier_apply",
    "w22_ltob_downsample", "x19_cms_heavy_hitters",
    "e24_streaming_cms_maintenance", "x20_source_overlap_matrix",
    "m16_dictionary_audit", "p15_bucketed_colocated_join",
    "t25_pmi_collocations", "e25_streaming_hll_distinct",
    "m15_dhash_neardup", "e9_stream_ingest_store", "m1_decode_features",
    "w8_range_join", "d11_verbatim_spans", "d9_incremental_lsh",
    "e3_streaming_hourly", "e15_stream_left_outer",
    "e8_stream_stream_join", "d13_dedup_apply", "d6_dedup_clusters",
    "w6_asof_join", "x1_sketch_aggregates", "p13_range_arrays",
    "t16_quality_classifier", "t14_bpe_train", "q1_pricing_summary",
    "q23_session_sql", "d1_exact_dedup", "d3_simhash_dedup",
    "d4_ngram_jaccard", "q13_customer_distribution",
    "q20_potential_promo", "w1_rollup", "q10_returned_items",
    "q12_shipmode", "q18_large_volume_customer",
    "q22_global_sales_opportunity", "q16_parts_supplier",
    "t5_filter_pipeline", "q11_important_stock", "q7_volume_shipping",
    "q8_market_share", "q3_shipping_priority", "q4_order_priority",
    "p12_binary_ops", "q5_local_supplier_volume",
    "q2_min_cost_supplier", "p1_count_star",
]
_RANK = {n: i for i, n in enumerate(_COST_ORDER)}


def _cost_sorted(d: dict) -> dict:
    return dict(sorted(d.items(),
                       key=lambda kv: (_RANK.get(kv[0], len(_RANK)),
                                       kv[0])))


def _collect(attr: str) -> dict:
    import importlib
    import traceback
    out: dict = {}
    out.update(getattr(tpch, attr))
    for mod_name in _MODULES:
        try:
            mod = importlib.import_module(mod_name)
            out.update(getattr(mod, attr, {}))
        except ImportError:
            # a broken module must not silently drop its whole suite
            print(f"WARNING: {mod_name} failed to import; its "
                  f"{attr} entries are missing from the gate:\n"
                  f"{traceback.format_exc()}", file=sys.stderr)
    return out


def _wrap_release(fn: Callable) -> Callable:
    """Release the previous query's scratch-persisted intermediates
    before building the next plan: cached dedup intermediates left in
    the CacheManager slow every subsequent query (plan-subsumption
    checks against huge cached trees) — see runtime.py."""
    def inner(spark: SparkSession, sf_dir: str) -> DataFrame:
        from postgres_scanner_spark.runtime import release_scratch
        release_scratch()
        return fn(spark, sf_dir)
    return inner


def _collect_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _cost_sorted(
        {k: _wrap_release(v) for k, v in _collect("QUERIES").items()})


def _collect_oracle() -> dict[str, str]:
    return _cost_sorted(_collect("ORACLE"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _collect_queries()


def oracle_sql() -> dict[str, str]:
    return _collect_oracle()
