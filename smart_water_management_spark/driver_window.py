"""Driver-window steering: pin exactly which 50 operators receive a driver
CORRECTNESS row each round.

The verification driver records results for ``sorted(queries())[:50]`` —
the first 50 registry names in alphabetical order — and nothing else.
This module takes control of the window: it registers exactly 50
``a00_NN_…`` aliases (``"a00_" < "a01_"`` in string sort, so they occupy
the whole window deterministically). Each alias shares its target's
callable and oracle verbatim — a green alias row IS a green row for the
underlying operator. Standing composition each round: ~42 slots for
operators that have never had a driver row, ~8 retention slots so every
family green in a prior round stays covered.

The natural (un-aliased) names remain registered and remain covered by
the local parity suite (tests/test_oracle_parity.py, same
row-count/schema/hash protocol); README.md documents the mapping.

Round-11 window (this file's DRIVER_WINDOW, per VERDICT r10 directive
#1): the first 42 names of the round-10 ROUND11_CANDIDATES queue in
their listed order (x137/j14/m30 lead, then the ten partsupp-free
TPC-H shapes p19–p28 per directive #3, the queued streaming monitors
t29–t32 per directive #4, and the r9/r10 extension tail a44–a46,
m31–m35, w32–w34, j15/j16, k08–k10, o07, u04, d03, x138–x143), plus
the same 8 retention reps as rounds 8–10
(u01/u03/p02/d01/k01/o01/q05/p90 — nothing lapses). The 11 rows-only
names (m02/m03/m05, x12/x29/x54/x55/x61/x65/x68, x123) are never
windowed. Round-10 went 50/50 green; cumulative driver-green natural
names before this rotation: 345/473; after a green round 11: 387.

Round-10 window, for the record (per VERDICT r9 directive #1): the
first 42 of ROUND10_CANDIDATES in queue order (x117/m24/k07/s24/x118
lead) plus the same 8 retention reps. 50/50 green in CORRECTNESS_r10.

ROUND12_CANDIDATES below now queues EVERY remaining never-attested
oracle-backed name: the 28 unconsumed r11-queue names, the 47-name
x13–x90 band per VERDICT r10 directive #1, and the 42 operators
added during round 11 — 117 names total, closing in 3 further
rotations at 42 first-time slots/round.
"""

from __future__ import annotations

from .registry import register_alias

# Slot order groups the never-driver-tested surfaces first, then the
# retention reps for already-green families. Order within the window is
# cosmetic — membership is what the driver records.
DRIVER_WINDOW: list[str] = [
    # round-11 first-time slots 1-42: the round-10 ROUND11_CANDIDATES
    # queue in listed order (generated by tools/window_rotation.py).
    "x137_prefix_cache_reuse",
    "j14_temporal_anti_join",
    "m30_auto_model_select",
    "p19_q03_shape",
    "p20_q05_shape",
    "p21_q07_shape",
    "p22_q08_shape",
    "p23_q09_shape",
    "p24_q10_shape",
    "p25_q12_shape",
    "p26_q14_shape",
    "p27_q22_shape",
    "x138_gif_frame_dedup",
    "x139_png_text_metadata",
    "x140_dup_span_coverage",
    "x141_ngram_diversity",
    "a44_kruskal_wallis",
    "m31_page_hinkley",
    "t29_streaming_page_hinkley",
    "k08_multi_distinct_rewrite",
    "w32_hampel_filter",
    "u04_union_allow_missing",
    "j15_null_safe_join",
    "x142_lsh_autotuner",
    "m32_robust_decomposition",
    "o07_topk_with_ties",
    "t30_streaming_hampel",
    "a45_friedman_test",
    "m33_seasonal_mann_kendall",
    "w33_calendar_deltas",
    "p28_q06_shape",
    "d03_golden_record",
    "m34_bootstrap_ci",
    "t31_streaming_bootstrap_ci",
    "k09_aqe_coalesce",
    "a46_brown_forsythe",
    "w34_max_drawdown",
    "m35_grubbs_outlier",
    "t32_streaming_drawdown",
    "j16_blocked_fuzzy_join",
    "k10_eager_aggregation",
    "x143_winnowing_fingerprints",
    # slots 43-50: retention reps — unchanged, so no family
    # coverage lapses.
    "u01_union_by_name",
    "u03_multiset_ops",
    "p02_case_when_bands",
    "d01_keyed_dedup",
    "k01_salted_skew_agg",
    "o01_topk_orders",
    "q05_district_performance",
    "p90_domain_pipeline",
]

assert len(DRIVER_WINDOW) == 50, len(DRIVER_WINDOW)

# Round-12 rotation candidates, in priority order: the 28 oracle-backed
# natural names left in the round-10 queue after the 42 windowed above,
# then the full 47-name x13–x90 never-queued band (VERDICT r10 #1), plus
# round-11 additions appended as they land. Kept as data so
# tests/test_oracle_parity.py can assert every name exists, is
# oracle-backed, and that window ∪ queue ∪ ledger covers every
# oracle-backed natural name BEFORE the round-12 edit happens.
ROUND12_CANDIDATES: list[str] = [
    "x144_fim_span_audit",
    "x145_soft_dedup_weights",
    "x146_domain_affinity_matrix",
    "m36_multiple_regression",
    "c18_late_arriving_dimension",
    "a47_cochran_armitage",
    "t33_streaming_regression",
    "x147_image_downsample",
    "x148_audio_decimate",
    "t34_streaming_winnow_monitor",
    "v20_l_diversity",
    "m37_croston_intermittent",
    "x150_containment_dedup",
    "x151_jpeg_exif_audit",
    "x152_audio_spectral_dedup",
    "k11_parquet_agg_pushdown",
    "k12_exchange_reuse",
    "a48_mann_whitney",
    "t35_streaming_mann_whitney",
    "a49_jonckheere_terpstra",
    "m38_theta_method",
    "f22_collation_grouping",
    "v21_approx_fd_confidence",
    "c19_scd6_hybrid",
    "x153_mink_prob_audit",
    "j17_interval_coalesce",
    "t36_streaming_interval_coalesce",
    "s25_manifest_commit_sink",
    # The 47-name x13–x90 band (VERDICT r10 directive #1): every
    # oracle-backed natural name that had never been queued, so the
    # attestation tail can actually close. High-value ops named by the
    # judge lead; the rest follow in numeric order. With these queued,
    # window ∪ queue ∪ ledger covers ALL oracle-backed names
    # (test-pinned in tests/test_oracle_parity.py).
    "x23_benchmark_contamination",
    "x36_tile_dedup",
    "x46_countmin_heavy_hitters",
    "x67_perceptual_hash",
    "x90_curation_funnel",
    "x27_unigram_logppl",
    "x13_multimodal_features",
    "x14_multimodal_metadata",
    "x16_frame_sampling",
    "x19_resize_thumbnails",
    "x22_stratified_sample",
    "x24_label_centroids",
    "x25_repetition_detection",
    "x26_regex_token_stats",
    "x28_rrf_fusion",
    "x30_temperature_mixture",
    "x31_ngram_novelty",
    "x32_quality_canonical",
    "x33_source_overlap",
    "x34_packing_yield",
    "x35_simhash_hamming_pairs",
    "x37_dsir_importance",
    "x38_token_chunking",
    "x39_incremental_lsh",
    "x40_containment",
    "x41_hyperplane_lsh_ann",
    "x42_bpe_first_merges",
    "x43_feature_hashing",
    "x44_split_leakage",
    "x45_unigram_drift",
    "x47_source_cap_sample",
    "x48_label_cohesion",
    "x49_label_separation",
    "x50_bigram_nextword",
    "x51_zipf_fit",
    "x52_minhash_calibration",
    "x53_pps_sample",
    "x56_ppl_buckets",
    "x57_heaps_fit",
    "x58_vocab_coverage",
    "x59_dataset_card",
    "x60_knn_pagerank",
    "x62_bigram_logppl",
    "x63_lsh_recall_audit",
    "x64_mixture_solver",
    "x66_incremental_card",
    "x69_canonical_by_pagerank",
    # round-11 additions appended here as they land
    "x154_jpeg_quantized_checksum",
    "x155_mpeg_framesync_walk",
    "a50_cliffs_delta",
    "t37_streaming_cliffs_delta",
    "m39_damped_holt",
    "a51_gamma_somers_tauc",
    "a52_mood_median_test",
    "a53_ansari_bradley",
    "t38_streaming_ansari_bradley",
    "m40_chow_test",
    "m41_durbin_watson",
    "w35_rsi",
    "w36_donchian_channel",
    "j18_interval_gaps",
    "v22_last_digit_uniformity",
    "x156_wav_info_metadata",
    "x157_norm_bound_prune_audit",
    "c20_bitemporal_asof",
    "t39_streaming_gamma_monitor",
    "a54_dunn_posthoc",
    "m42_forecast_metrics",
    "x158_semantic_split_contamination",
    "a55_cramer_von_mises",
    "m43_runs_test",
    "w37_aroon_indicator",
    "t40_streaming_cramer_von_mises",
    "j19_allen_relations",
    "x159_degenerate_loop_audit",
    "m44_pettitt_test",
    "v23_simpsons_paradox_screen",
    "c21_scd2_compaction",
    "x160_good_turing_mass",
    "t41_streaming_pettitt",
    "a56_page_trend_test",
    "w38_ulcer_index",
    "x161_ivf_semantic_contamination",
    "t42_streaming_page_trend",
    "a57_theil_uncertainty",
    "v24_key_continuity_audit",
    "x162_mcnemar_filter_audit",
    "x163_cochran_q_filter_audit",
    "m45_forecast_combination",
    "w39_chande_momentum",
    "a58_anderson_darling",
    "t43_streaming_anderson_darling",
    "j20_overlap_allocation_join",
    "c22_pit_referential_audit",
]

for _i, _target in enumerate(DRIVER_WINDOW, start=1):
    register_alias(f"a00_{_i:02d}_{_target}", _target)
