from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from gluestick_spark import get_spark

    s = get_spark("gluestick-tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def tmp_dir(tmp_path):
    return str(tmp_path)


SF_DIR = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# Slow-test marking (VERDICT r15 #2 — see pytest.ini). One list, applied at
# collection time by base name (class-qualified, parametrize-stripped), so
# no test file needs editing when the set changes. Measured basis: the
# round-16 full-suite duration log — every entry below ran >= ~5.5s there;
# together they were ~1130s of the 1890s wall. The default run excludes
# them (`addopts = -m "not slow"`); the round-closing battery runs
# everything (`-m "slow or not slow"`).
# ---------------------------------------------------------------------------
_SLOW_TESTS = {
    "TestParseDfCols::test_parses_object_and_array_columns",
    "test_ann_recall_audit_shape_and_determinism",
    "test_append_semdedup_ref_equals_frozen_router_union",
    "test_append_semdedup_ref_torn_append_refuses_and_heals",
    "test_band_index_append_and_geometry_guard",
    "test_band_index_indexed_equals_direct",
    "test_bucketed_state_lives_under_state_dir_and_resets",
    "test_bucketed_state_reregisters_after_catalog_loss",
    "test_classifier_score_matches_bruteforce",
    "test_compact_sketch_log_excludes_inflight_max_batch",
    "test_compact_sketch_log_preserves_estimates",
    "test_compact_stream_state_bin_counts_additive_after",
    "test_compact_stream_state_bucketed_crash_self_heals",
    "test_compact_stream_state_bucketed_preserves_plan_and_results",
    "test_compact_stream_state_flat_bounds_files_and_keeps_results",
    "test_compact_stream_state_missing_catalog_needs_buckets",
    "test_connected_components_deep_chain_and_nonconvergence",
    "test_corpus_gram_overlap_matches_bruteforce",
    "test_correlation_matrix_p64_survives_via_split",
    "test_correlation_matrix_split_matches_single_aggregate",
    "test_dsir_sample_matches_bruteforce",
    "test_dsir_w_cap_winsorizes_outlier",
    "test_explode_order_independence",
    "test_folder_readers_discover_spark_dataset_dirs",
    "test_fp_segment_state_compaction_and_replay",
    "test_gen_singer_header_recursive_typing_off",
    "test_gopher_alpha_mode_unicode_and_route",
    "test_ivf_delete_fully_dead_cell_and_plain_family",
    "test_ivf_rebalance_plain_family",
    "test_kmeans_literal_join_equivalence_random",
    "test_kmeans_partition_invariance",
    "test_line_dedup_hash_collision_path_exact",
    "test_minhash_near_dup_pairs_matches_brute_force",
    "test_multi_explode_order_independence",
    "test_novelty_scores_matches_bruteforce",
    "test_plain_ivf_batch_equals_single_query_serving",
    "test_pq_batch_equals_single_query_serving",
    "test_pq_ivf_append_serves_like_frozen_rebuild",
    "test_pq_ivf_delete_and_vacuum",
    "test_pq_ivf_rebalance_splits_and_serves",
    "test_pq_ivf_torn_append_self_heals",
    "test_pq_rerank_indexed_equals_direct_and_lifts_recall",
    "test_priority_sample_estimator",
    "test_priority_sample_grouped",
    "test_rebalance_crash_windows_self_heal",
    "test_sample_exact_k_matches_bruteforce",
    "test_sample_exact_k_tiebreak_deterministic_across_partitionings",
    "test_sessionize_closes_on_gap",
    "test_sessionize_state_survives_micro_batches",
    "test_simhash_identical_and_near",
    "test_sq_batch_equals_single_query_serving",
    "test_sq_ivf_append_commit_bracket",
    "test_sq_ivf_delete_serves_survivors_and_vacuum_purges",
    "test_sq_ivf_rebalance_splits_and_serves",
    "test_sq_ivf_torn_append_self_heals",
    "test_state_layout_toggle_refused",
    "test_streaming_agg_upsert_equals_batch",
    "test_streaming_bin_counts_additivity_and_replay_guard",
    "test_streaming_cdc_collapses_multi_dump_trigger",
    "test_streaming_cdc_emits_changes_only",
    "test_streaming_dedup_within_watermark",
    "test_streaming_fingerprint_dedup_cross_batch_chain",
    "test_streaming_interval_join_left_outer_flushes_unmatched",
    "test_streaming_interval_join_matches_batch",
    "test_streaming_minhash_dedup_bucketed_state_equivalent",
    "test_streaming_minhash_dedup_equals_batch",
    "test_streaming_minhash_torn_docs_state_raises",
    "test_streaming_quality_filter_stream_equals_batch",
    "test_streaming_quantiles_merge_law_and_replay",
    "test_streaming_scd2_two_batches_builds_history",
    "test_streaming_semdedup_equals_batch",
    "test_streaming_snapshot_upsert",
    "test_streaming_topk_exact_path_matches_batch",
    "test_streaming_topk_trims_with_error_bounds",
    "test_streaming_url_dedup_bucketed_state_equivalent",
    "test_streaming_url_dedup_state_and_nulls",
    "test_substring_dedup_matches_bruteforce",
    "test_substring_spans_matches_bruteforce",
    "test_triangle_cap_equivalent_on_bounded_graph",
    "test_unimax_matches_bruteforce",
    "test_unimax_weighted_matches_bruteforce",
    "test_windowed_event_counts_batch_semantics",
}


_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def pytest_collection_modifyitems(session, config, items):
    matched = set()
    for item in items:
        base = item.nodeid.split("::", 1)[-1].split("[", 1)[0]
        if base in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
            matched.add(base)
    # A renamed slow test would silently rejoin the default run, and a
    # stale entry could later swallow an unrelated new test of that name.
    # Checkable only when this whole directory was collected cleanly.
    whole = any(os.path.abspath(a) == _TESTS_DIR for a in config.args)
    stale = sorted(_SLOW_TESTS - matched)
    if whole and not session.testsfailed and stale:
        raise pytest.UsageError(f"tests/conftest.py _SLOW_TESTS entries match no collected test: {stale}")
