"""Byte-exact driver-registry pin (round-6 verdict tasks #1/#5).

The 50-row driver surface was rotated deliberately in rounds 6 and 7
(r7: q04/q09/q10/q12/q29 out, q103/q104/q114/q115/q118 in — r6 verdict
task #2 — plus q02 out for q123_jaccard_capped, the round-7 df-capped
join, and a third r7 rotation: q05/q07 out for q126_mergeable_hll /
q127_split_leakage_audit) and the core/textops modules were
mechanically split; this test freezes the
resulting registry ORDER after the ROUND-13 rotation (q26/q68/q88
out; q144/q149/q150 in — r12 verdict task #1, the ninth rotation: the
round-12 storage family made driver-visible — the bucket-pruned point
lookup, the typed widening lattice, and the CAS orphan-manifest GC
lifecycle; the driver records CORRECTNESS rows for the first 50
entries in dict order) and the
full_registry
NAME SET so any future refactor that silently reorders or drops a
query fails fast. Update these literals only on an intentional
registry change.
"""

from __future__ import annotations

import sys

import pytest

import anti_ddos_spark.queries as queries
from anti_ddos_spark.queries import registry, full_registry

REGISTRY_ORDER = ['q01_pricing_summary',
 'q03_join_revenue',
 'q06_anti_join',
 'q16_json_extract',
 'q28_salted_agg',
 'q126_mergeable_hll',
 'q125_heavy_hitters',
 'q130_cdc_merge',
 'q132_layout_pruning',
 'q135_bucketed_cdc_state',
 'q145_mor_cdc_state',
 'q148_schema_evolution_snapshot',
 'q144_point_lookup',
 'q149_type_widening_snapshot',
 'q150_vacuum_orphan_gc',
 'q24_flow_features_full',
 'q25_asof_join',
 'q60_media_profile',
 'q35_minhash_prod',
 'q37_curation_funnel',
 'q39_neardup_clusters',
 'q49_repetition_profile',
 'q80_curation_pipeline',
 'q113_release_gate',
 'q103_curriculum_order',
 'q123_jaccard_capped',
 'q127_split_leakage_audit',
 'q138_bpe_vocab_join_apply',
 'q141_text_recall_contract',
 'q42_cosine_neardup_pairs',
 'q45_ivf_multiprobe_topk',
 'q51_semantic_dedup',
 'q134_semantic_dedup_nprobe',
 'q137_ann_recall_contract',
 'q147_semantic_recall_contract',
 'q70_streaming_sessionize',
 'q71_stateful_accum',
 'q73_streaming_dedup',
 'q74_streaming_minhash_buckets',
 'q72_tws_sessionize',
 'q93_stream_stream_join',
 'q114_bounded_dedup_replay',
 'q115_streaming_scored_flows',
 'q118_stream_stream_left_join',
 'q128_streaming_distinct_users',
 'q129_stream_stream_full_join',
 'q139_streaming_bpe_tokens',
 'q143_ivm_maintained_aggregate',
 'q146_mor_streaming_cdf',
 'q133_rf_frozen_scores']

FULL_SET = ['q01_pricing_summary',
 'q02_filter_project',
 'q03_join_revenue',
 'q04_dim_join',
 'q05_semi_join',
 'q06_anti_join',
 'q07_topk_orders',
 'q08_window_rank',
 'q09_running_sum',
 'q100_props_map',
 'q101_span_corruption',
 'q102_contrastive_pairs',
 'q103_curriculum_order',
 'q104_epoch_shuffle',
 'q105_range_frame',
 'q106_stratified_weighted_sample',
 'q107_union_by_name',
 'q108_time_weighted_avg',
 'q109_ohlc_bars',
 'q10_rollup',
 'q110_revenue_share',
 'q111_dynamic_gap_sessions',
 'q112_explode_outer',
 'q113_release_gate',
 'q114_bounded_dedup_replay',
 'q115_streaming_scored_flows',
 'q116_map_hof',
 'q117_array_hof',
 'q118_stream_stream_left_join',
 'q119_calendar_profile',
 'q11_set_ops',
 'q120_fuzzy_part_pairs',
 'q121_user_paths',
 'q122_rf_compiled_scores',
 'q123_jaccard_capped',
 'q124_bpe_tokenize',
 'q125_heavy_hitters',
 'q126_mergeable_hll',
 'q127_split_leakage_audit',
 'q128_streaming_distinct_users',
 'q129_stream_stream_full_join',
 'q12_distinct_counts',
 'q130_cdc_merge',
 'q131_snapshot_diff',
 'q132_layout_pruning',
 'q133_rf_frozen_scores',
 'q134_semantic_dedup_nprobe',
 'q135_bucketed_cdc_state',
 'q136_bpe_frozen_vocab',
 'q137_ann_recall_contract',
 'q138_bpe_vocab_join_apply',
 'q139_streaming_bpe_tokens',
 'q13_conditional_scrub',
 'q140_streaming_cdf',
 'q141_text_recall_contract',
 'q142_manifest_skipping',
 'q143_ivm_maintained_aggregate',
 'q144_point_lookup',
 'q145_mor_cdc_state',
 'q146_mor_streaming_cdf',
 'q147_semantic_recall_contract',
 'q148_schema_evolution_snapshot',
 'q149_type_widening_snapshot',
 'q14_string_ops',
 'q150_vacuum_orphan_gc',
 'q151_ivf_drift_contract',
 'q152_array_widening_snapshot',
 'q15_datetime_agg',
 'q16_json_extract',
 'q17_pivot',
 'q18_approx_distinct',
 'q19_percentiles',
 'q20_event_sessions',
 'q21_event_iat_stats',
 'q22_direction_split',
 'q23_bulk_runs',
 'q24_flow_features_full',
 'q25_asof_join',
 'q26_range_join',
 'q27_cube',
 'q28_salted_agg',
 'q29_props_struct',
 'q30_exact_dedup',
 'q31_doc_profile',
 'q32_minhash_pairs',
 'q33_simhash',
 'q34_ngram_jaccard',
 'q35_minhash_prod',
 'q36_simhash64',
 'q37_curation_funnel',
 'q38_stratified_hash_sample',
 'q39_neardup_clusters',
 'q40_cosine_topk',
 'q41_ivf_clusters',
 'q42_cosine_neardup_pairs',
 'q43_lsh_ann',
 'q44_lsh_ann_multiprobe',
 'q45_ivf_multiprobe_topk',
 'q46_kmeans_clusters',
 'q47_vocabulary',
 'q48_tfidf_top_term',
 'q49_repetition_profile',
 'q50_ml_train_confusion',
 'q51_semantic_dedup',
 'q52_sequence_packing',
 'q54_quantize_int8',
 'q55_temperature_sample',
 'q56_winnow_fingerprints',
 'q57_decontaminate',
 'q58_corpus_datacard',
 'q59_pii_redaction',
 'q60_media_profile',
 'q61_media_features',
 'q62_frame_sample',
 'q63_media_resize',
 'q64_pq_codes',
 'q65_html_strip',
 'q66_doc_chunks',
 'q67_random_projection',
 'q68_window_dedup',
 'q69_full_outer_reconcile',
 'q70_streaming_sessionize',
 'q71_stateful_accum',
 'q72_tws_sessionize',
 'q73_streaming_dedup',
 'q74_streaming_minhash_buckets',
 'q75_streaming_embedding_buckets',
 'q76_streaming_decontaminate',
 'q77_sql_grouping_sets',
 'q78_streaming_pii',
 'q79_ann_recall',
 'q80_curation_pipeline',
 'q81_corpus_drift',
 'q82_oov_drift',
 'q83_streaming_drift',
 'q84_semantic_search',
 'q85_funnel_conversion',
 'q86_cohort_retention',
 'q87_rate_anomaly',
 'q88_streaming_rate_anomaly',
 'q89_weighted_sample',
 'q90_winsorize_lengths',
 'q91_length_quartiles',
 'q92_hopping_rates',
 'q93_stream_stream_join',
 'q94_small_lot_revenue',
 'q95_rank_family',
 'q96_hourly_gap_fill',
 'q97_unpivot_stats',
 'q98_value_windows',
 'q99_decimal_exact']


def test_driver_registry_order_is_pinned():
    assert list(registry()) == REGISTRY_ORDER


def test_full_registry_name_set_is_pinned():
    assert sorted(full_registry()) == FULL_SET


def test_every_driver_row_has_an_oracle():
    assert all(q.sql is not None for q in registry().values())


def test_registry_import_error_is_loud(monkeypatch):
    """A query module that fails to import must fail the registry, not
    silently drop its queries."""
    monkeypatch.setattr(queries, "_MODULE_ORDER", (*queries._MODULE_ORDER, "broken"))
    monkeypatch.setitem(sys.modules, "anti_ddos_spark.queries.broken", None)
    with pytest.raises(ImportError):
        registry()
    with pytest.raises(ImportError):
        full_registry()
