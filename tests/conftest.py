import os
from contextlib import contextmanager

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

from voter_gateway_spark.session import build_spark  # noqa: E402

# Long-running parity/stress/recall tests, auto-marked `slow` and
# excluded from the default tier (pytest.ini addopts) so the driver's
# verify gate finishes inside its budget. Selected from measured
# per-test durations (every test >= 4 s wall on the shared box; the
# 139 such tests carried ~75% of the 39-minute full-suite wall), MINUS
# tests that are the only direct cover for operators touched in the
# current round (kept in the default tier regardless of cost). Names
# are matched on the node id's `file.py::testname` suffix, so
# parameterized entries pin single parameterizations.
SLOW_TESTS = {
    "test_operators.py::test_pq_index_probe_equals_inquery_and_collapse",
    "test_paragraphs.py::TestLateR10Queries::test_perplexity_buckets_partition_scored_docs",
    "test_bloom_split_jsonl.py::TestBloomAdmission::test_property_equals_anti_join",
    "test_graph_maintain.py::test_stream_folds_match_sequential_batch_increments",
    "test_operators.py::test_graph_search_recall_floor_on_clustered_fixture",
    "test_operators.py::test_docs_ann_ivf_recall_floor_vs_brute",
    "test_phonetic_stream.py::test_phonetic_stream_folds_equal_sequential_batches",
    "test_operators.py::test_incremental_component_assign_matches_full_recompute",
    "test_operators.py::test_pq_index_append_guards",
    "test_index_dedup.py::test_admit_batch_rejects_corpus_dups_and_grows_index",
    "test_plans.py::test_no_row_python_in_catalog[embed_graph_search_topk]",
    "test_operators.py::test_band_index_roundtrip_matches_inmemory",
    "test_properties.py::test_interval_join_matches_naive",
    "test_linkage.py::test_em_scaled_training_signal_is_live",
    "test_properties.py::test_merge_idempotent_reimport",
    "test_plans.py::test_no_row_python_in_catalog[embed_recall_report]",
    "test_properties.py::test_dedup_one_survivor_per_group",
    "test_paragraphs.py::TestQualityGate::test_oracle_parity_on_fixture",
    "test_streaming_quality.py::TestLMGatedStream::test_lm_gated_stream_matches_batch_reference",
    "test_linkage_stream.py::test_stream_folds_equal_sequential_batches",
    "test_streaming_quality.py::TestLMGatedStream::test_nb_gated_stream_matches_batch_reference",
    "test_corpus_build.py::TestBuildDeterminism::test_build_twice_identical_card_and_shards",
    "test_index_dedup.py::test_admission_replay_undo_is_manifest_driven_not_a_scan",
    "test_linkage.py::test_tf_adjustment_varies_by_matched_value",
    "test_operators.py::test_ivfpq_residual_uplift_on_clusters",
    "test_corpus_build.py::TestBuildDeterminism::test_card_stages_match_certified_report",
    "test_operators.py::test_ivfpq_topk_collapse_equals_plain_on_dup_heavy",
    "test_properties.py::test_as_of_join_matches_naive",
    "test_operators.py::test_personalized_pagerank_reference_and_seed_affinity",
    "test_operators.py::test_knn_graph_increment",
    "test_graph_maintain.py::test_fold_replay_is_noop",
    "test_vector_admission.py::test_stream_equals_sequential_batches",
    "test_properties.py::test_cascade_first_match_wins",
    "test_streaming_quality.py::TestStreamParity::test_stream_admits_exactly_the_batch_filtered_set",
    "test_plans.py::test_no_row_python_in_catalog[docs_ann_pq_index_increment]",
    "test_properties.py::test_substring_span_scrub_matches_naive",
    "test_index_dedup.py::test_admission_crash_between_corpus_and_index_commit",
    "test_linkage.py::test_phonetic_top1_threshold_folds_into_blocking_joins",
    "test_fuzzy_collapse_property.py::test_gate_declined_hazard_guard_engages_auto_cap",
    "test_index_dedup.py::test_admit_batch_intra_batch_dedup",
    "test_linkage.py::test_phonetic_em_training_signal_is_live",
    "test_plans.py::test_no_row_python_in_catalog[dedup_fs_entities]",
    "test_properties.py::test_ngram_pairs_match_naive_all_pairs",
    "test_index_dedup.py::test_admission_marker_skips_committed_replay",
    "test_plans.py::test_no_row_python_in_catalog[pipeline_daily_ingest]",
    "test_bpe.py::test_bpe_train_local_matches_distributed_on_fixture",
    "test_layout.py::test_write_training_shards_manifest_and_order",
    "test_operators.py::test_graph_search_sized_build_recall_on_clustered_fixture",
    "test_paragraphs.py::TestParagraphProperties::test_all_unique_segments_reconstruct_normalized_text",
    "test_analytics.py::test_funnel_requires_stage_order",
    "test_operators.py::test_ivfpq_cluster_recall_floor",
    "test_operators.py::test_lloyd_round_improves_cell_tightness",
    "test_operators.py::test_incremental_probe_corpus_collapsed_mode",
    "test_operators.py::test_ivf_topk_collapse_equals_plain_on_dup_heavy",
    "test_index_dedup.py::test_admission_interleaved_lineages_keep_independent_skip_state",
    "test_operators.py::test_graph_search_warns_on_underbuilt_graph",
    "test_index_dedup.py::test_admission_crash_before_marker_then_replay",
    "test_index_dedup.py::test_stream_dedup_against_index_e2e",
    "test_analytics.py::test_session_paths_matches_python_reference",
    "test_operators.py::test_knn_graph_recall",
    "test_paragraphs.py::TestQualityGate::test_stagewise_counts",
    "test_operators.py::test_docs_ppr_expansion_seed_and_spread_contract",
    "test_index_dedup.py::test_admission_none_query_id_never_skips_but_lands_once",
    "test_properties.py::test_graph_search_is_rerun_deterministic",
    "test_operators.py::test_semantic_dedup_null_elements_decline_collapse",
    "test_plans.py::test_no_row_python_in_catalog[match_phonetic_em]",
    "test_plans.py::test_no_row_python_in_catalog[embed_knn_graph_increment]",
    "test_bloom_split_jsonl.py::TestBloomAdmission::test_exact_under_saturation",
    "test_linkage.py::test_scaled_top1_trade_is_small_and_prefix_shaped",
    "test_operators.py::test_ivfpq_oracle_ks_not_equal_centroids",
    "test_bloom_split_jsonl.py::TestBloomAdmission::test_duplicate_ids_do_not_mix_fingerprints",
    "test_operators.py::test_ivfpq_residual_deterministic_rerun",
    "test_properties_cdc.py::test_apply_changes_matches_python_fold",
    "test_plans.py::test_ivf_cell_assignment_is_shuffle_free",
    "test_plans.py::test_no_row_python_in_catalog[pipeline_fs_admission]",
    "test_operators.py::test_ivfpq_deterministic_rerun",
    "test_bloom_split_jsonl.py::TestBloomAdmission::test_dup_heavy_replication",
    "test_operators.py::test_mutual_knn_clusters_invariants",
    "test_properties.py::test_blocklist_counts_match_python_reference",
    "test_plans.py::test_no_row_python_in_catalog[docs_ann_pq_index_probe]",
    "test_plans.py::test_span_contamination_is_blocked_equi_join",
    "test_plans.py::test_no_row_python_in_catalog[embed_knn_clusters]",
    "test_linkage.py::test_pattern_compressed_em_matches_naive_per_pair_em",
    "test_operators.py::test_connected_components_driver_gate_matches_distributed",
    "test_operators.py::test_ivf_lloyd_partition_count_invariant",
    "test_bloom_split_jsonl.py::TestBloomAdmission::test_matches_plain_anti_join",
    "test_plans.py::test_bpe_encode_plan_one_explode_fold_chain",
    "test_plans.py::test_no_row_python_in_catalog[dedup_cluster_rollup]",
    "test_operators.py::test_ivfpq_empty_cell_lut",
    "test_plans.py::test_no_row_python_in_catalog[embed_knn_graph]",
    "test_operators.py::test_ivf_index_roundtrip_matches_inmemory",
    "test_corpus_build.py::TestBuildDeterminism::test_build_computes_parts_exactly_once",
    "test_linkage.py::test_fs_synth_offset_bands_disjoint",
    "test_checkpointing.py::test_reliable_checkpoint_identical_results_and_files",
    "test_plans.py::test_no_row_python_in_catalog[docs_ppr_expansion]",
    "test_plans.py::test_no_row_python_in_catalog[embed_pagerank]",
    "test_analytics.py::test_source_overlap_matches_python_reference",
    "test_linkage.py::test_fs_entities_pair_structure",
    "test_plans.py::test_no_row_python_in_catalog[embed_ppr_seeds]",
    "test_cdc_and_quota.py::test_stream_value_cap_matches_batch",
    "test_linkage_stream.py::test_fs_matches_shape_and_decisions",
    "test_operators.py::test_cross_corpus_overlap",
    "test_linkage.py::test_pattern_counts_blocked_matches_distinct",
    "test_bloom_split_jsonl.py::TestBloomAdmission::test_null_ids_are_admitted",
    "test_analytics.py::test_nb_calibration_cells_are_consistent",
    "test_operators.py::test_cluster_report_invariants",
    "test_bloom_split_jsonl.py::TestBloomAdmission::test_no_false_negatives_probe_level",
    "test_operators.py::test_incremental_component_assign_bridges_clusters",
    "test_bloom_split_jsonl.py::TestBloomAdmission::test_prunes_definite_new",
    "test_plans.py::test_embed_near_dup_is_blocked_not_cartesian",
    "test_plans.py::test_no_row_python_in_catalog[pipeline_corpus_build]",
    "test_fuzzy_collapse_property.py::test_blank_rows_never_pair_under_collapse",
    "test_plans.py::test_no_row_python_in_catalog[pack_sequences_documents]",
    "test_operators.py::test_band_index_auto_prefix_zero_roundtrip",
    "test_plans.py::test_no_row_python_in_catalog[embed_graph_triangles]",
    "test_operators.py::test_connected_components_deep_chain_converges_fast",
    "test_plans.py::test_cdc_apply_is_one_join",
    "test_operators.py::test_pair_producers_survive_short_docs",
    "test_operators.py::test_stream_dedup_events_drops_duplicates",
    "test_vector_admission.py::test_admission_matches_brute_force_decision",
    "test_properties.py::test_chunking_covers_every_token_in_order",
    "test_paragraphs.py::TestPlanShape::test_quality_gate_no_allpairs",
    "test_corpus_build.py::TestStagewiseRouting::test_gate_attrition_monotone",
    "test_plans.py::test_no_row_python_in_catalog[embed_graph_dedup]",
    "test_phonetic_stream.py::test_phonetic_matches_shape_and_decisions",
    "test_fuzzy_collapse_property.py::test_collapse_exact_ties_pick_lowest_tid",
    "test_linkage.py::test_graded_catalog_levels_all_live",
    "test_bloom_split_jsonl.py::TestLeakageSafeSplit::test_catalog_counts_consistent",
    "test_bloom_split_jsonl.py::TestLeakageSafeSplit::test_clusters_never_straddle_splits",
    "test_operators.py::test_stream_attribution_matches_batch",
    "test_operators.py::test_trigram_freq_cap_keeps_similarity_exact",
    "test_stream_upsert.py::test_stream_upsert_two_batches_accumulate",
    "test_linkage.py::test_fs_top1_threshold_and_tiebreak",
    "test_linkage.py::test_blocked_pairs_union_dedups_overlapping_rules",
    "test_fuzzy_collapse_property.py::test_collapse_matches_direct_path[99]",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        suffix = f"{os.path.basename(item.fspath)}::{item.name}"
        # class-based tests: file.py::Class::name
        if item.cls is not None:
            suffix = (
                f"{os.path.basename(item.fspath)}::{item.cls.__name__}::{item.name}"
            )
        if suffix in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    # local[8]: purely a wall-clock lever for the default test tier
    # (results are partition-agnostic; shuffle partitions stay 4 —
    # the one partition-sensitive assertion, test_scale_helpers.py's
    # widen floor, is relative to defaultParallelism)
    s = build_spark(app_name="vgs-tests", master="local[8]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark_prop(spark):
    """Alias fixture for hypothesis tests (function-scoped @given bodies
    reuse the session-scoped SparkSession)."""
    return spark


@pytest.fixture(scope="session")
def count_jobs(spark):
    """The one Spark job counter of the suite: `with count_jobs() as n:`
    counts the jobs started inside the block on any thread (AQE and
    broadcast jobs included), in the one-element list `n`, filled in at
    block exit. Job ids are global and increase by one per job, so the
    count is the newest id at exit minus the newest id at entry, each
    read once the listener bus has drained."""
    jsc = spark.sparkContext._jsc.sc()

    def last_job_id():
        jsc.listenerBus().waitUntilEmpty(10000)
        jobs = jsc.statusStore().jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    @contextmanager
    def count():
        box = [None]
        first = last_job_id()
        try:
            yield box
        finally:
            box[0] = last_job_id() - first

    return count
