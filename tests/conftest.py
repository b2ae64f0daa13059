from __future__ import annotations

import os

import duckdb
import pytest

from dbt_parquet_spark.session import get_spark
from dbt_parquet_spark.sources.readers import TESTDATA_TABLES, table_path

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

# Driver-facing fast tier (VERDICT_r14 "what's wrong #1"/"next round #1a").
# The full suite takes ~35-40 min, which overruns the round driver's verify
# window — VERIFY_r14 reported tests_ok:false on a TIMEOUT with zero
# failures shown. The default `pytest tests/` run therefore deselects tests
# marked `slow` (the long-tail property/robustness/scale suites), keeping a
# <10-min tier that still covers the full contract surface: every operator
# module, the oracle-parity drive, the plan gates, and the registry window.
# The complete suite remains one env var away and is run (and recorded in
# OPTIMIZATION_r*.md) at round close:
#     SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/ -q        # everything
#     python -m pytest tests/ -q -m slow                         # slow only
FULL_TESTS = os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1"

# The slow set, one node id per line (file::test[param]), generated from a
# measured full-suite run (--durations=0; threshold 2 s per test, 4 s for
# oracle-parity entries so the oracle drive keeps near-complete coverage,
# and the fastest sub-15 s test of any module that would otherwise empty
# is kept so every module retains fast-tier presence). Regenerate after
# adding heavyweight tests:
#   SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/ -q --durations=0
# Every entry must resolve to a collected test (tests/test_tiers.py); a
# test ABOVE threshold that is missing here only makes the tier slower,
# never weaker.
SLOW_TESTS = frozenset(
    t.split("#")[0].strip().strip('",')
    for t in """
    "test_asof_property.py::test_asof_matches_bruteforce",  # 36.9s
    "test_audit.py::test_drop_reasons_kept_set_equals_release_population",  # 11.9s
    "test_audit.py::test_semantic_decontamination_recall_on_clustered_corpus",  # 2.5s
    "test_audit.py::test_semantic_decontamination_sound_vs_exact",  # 6.5s
    "test_audit.py::test_source_drift_matches_pure_python_exactly",  # 3.3s
    "test_bucketed_bridge.py::test_bucketed_join_has_no_exchange",  # 4.8s
    "test_bucketed_bridge.py::test_duckdb_view_over_shallow_clone",  # 5.1s
    "test_catalog_materialize.py::test_animals_single_transform",  # 6.7s
    "test_catalog_materialize.py::test_multipart_layout_roundtrip",  # 2.3s
    "test_cdf_source.py::test_checkpointed_incremental_pickup",  # 35.0s
    "test_cdf_source.py::test_rollback_resurrection_streams_as_inserts",  # 4.2s
    "test_cdf_source.py::test_stream_matches_batch_feed_on_mor_history",  # 8.2s
    "test_classifier.py::test_classifier_prune_composes",  # 2.6s
    "test_classifier.py::test_trained_weights_and_scores_bit_identical",  # 15.2s
    "test_cli.py::test_ann_index_example_runs",  # 74.8s
    "test_cli.py::test_cli_full_lifecycle",  # 85.0s
    "test_cli.py::test_cli_maintain",  # 52.1s
    "test_cli.py::test_cli_shard_write_and_append",  # 36.2s
    "test_cli.py::test_cli_snapshot_both_strategies",  # 74.6s
    "test_cli.py::test_cli_versioned_model_lifecycle",  # 48.3s
    "test_cli.py::test_cli_versions_changes",  # 60.7s
    "test_cli.py::test_cli_versions_clone_constraint_apply",  # 82.1s
    "test_cli.py::test_cli_versions_diff",  # 68.5s
    "test_cli.py::test_cli_versions_optimize",  # 57.3s
    "test_cli.py::test_cli_versions_vacuum_dry_run",  # 38.4s
    "test_cli.py::test_corpus_release_example_runs",  # 38.2s
    "test_cli.py::test_lm_filter_example_runs",  # 22.3s
    "test_cli.py::test_rag_prep_example_runs",  # 19.6s
    "test_cli.py::test_versioned_lake_example_runs",  # 48.9s
    "test_dedup_similarity.py::test_ann_lsh_recall",  # 2.5s
    "test_dedup_similarity.py::test_blocked_cosine_dedup_subset_of_exact",  # 9.8s
    "test_dedup_similarity.py::test_minhash_sound_and_high_recall",  # 2.4s
    "test_dedup_similarity.py::test_sign_chunk_parity_both_modes",  # 30.7s
    "test_dedup_similarity.py::test_simhash_branch_free_votes_match_reference_form",  # 4.5s
    "test_dedup_similarity.py::test_simhash_narrow_signatures_match_groupby",  # 3.3s
    "test_dedup_similarity.py::test_simhash_near_dup_properties",  # 3.3s
    "test_dialect.py::test_reference_animals_model_verbatim",  # 6.5s
    "test_eval_buckets.py::test_perplexity_buckets_match_python_ntile",  # 2.0s
    "test_gates.py::test_bm25_batch_matches_single_query",  # 3.6s
    "test_gates.py::test_context_pack_batch_boundary_every_query",  # 2.7s
    "test_gates.py::test_context_pack_budget_boundary",  # 2.5s
    "test_graph.py::test_both_component_algorithms_match_union_find_ground_truth",  # 23.0s
    "test_graph.py::test_star_components_match_propagation_on_random_graphs",  # 15.6s
    "test_graph.py::test_star_converges_where_propagation_cannot",  # 16.7s
    "test_grouped_stateful.py::test_stateful_user_profiles",  # 16.0s
    "test_index_manifest.py::test_index_manifest_resolution_is_o1",  # 22.9s
    "test_index_manifest.py::test_manifest_append_staged_invisible_then_committed",  # 16.0s
    "test_index_manifest.py::test_manifest_compact_no_absent_window_and_retirement",  # 23.8s
    "test_index_manifest.py::test_manifest_rebuild_atomic_artifacts_and_retirement",  # 45.7s
    "test_index_manifest.py::test_manifest_vacuum_reaps_orphans_only",  # 12.9s
    "test_index_manifest.py::test_occ_commit_log_prune_and_inflight_stage_retention",  # 24.9s
    "test_index_manifest.py::test_occ_racing_appends_both_land",  # 12.6s
    "test_index_verify.py::test_verify_detects_duplicate_rows",  # 22.0s
    "test_index_verify.py::test_verify_detects_misplaced_part_file",  # 22.1s
    "test_index_verify.py::test_verify_detects_stale_sidecar",  # 22.1s
    "test_index_verify.py::test_verify_healthy_index_all_ok",  # 32.9s
    "test_index_verify.py::test_verify_manifest_coverage_and_missing_files",  # 40.2s
    "test_joins_ivf.py::test_ann_ivf_pq_filtered_membership_and_agreement",  # 13.4s
    "test_joins_ivf.py::test_ann_recall_on_clustered_corpus",  # 16.6s
    "test_joins_ivf.py::test_append_to_pq_index_delta_encode",  # 29.1s
    "test_joins_ivf.py::test_build_pq_index_publishes_into_catalog",  # 5.9s
    "test_joins_ivf.py::test_cluster_balanced_sample_invariants",  # 3.0s
    "test_joins_ivf.py::test_compact_cell_merges_append_inside_swap_window",  # 17.2s
    "test_joins_ivf.py::test_compact_cell_preserves_concurrent_append",  # 18.4s
    "test_joins_ivf.py::test_compact_pq_index_merges_delta_files",  # 23.1s
    "test_joins_ivf.py::test_filtered_recall_audit_selective_floor",  # 7.7s
    "test_joins_ivf.py::test_recall_drift_monitor_and_rebuild",  # 57.7s
    "test_joins_ivf.py::test_registered_recall_audits_cover_clustered_corpus",  # 30.9s
    "test_layout.py::test_zorder_layout_prunes_both_dimensions",  # 3.8s
    "test_maintenance.py::test_compact_reduces_files_preserves_rows",  # 2.2s
    "test_maintenance.py::test_zorder_cluster_makes_both_columns_selective",  # 3.0s
    "test_memo.py::test_scaffold_is_not_served_to_a_new_application",  # 41.7s
    "test_memo.py::test_scratch_dirs_do_not_outlive_the_process",  # shares the 41.7s child
    "test_ntz_regression.py::test_streaming_query_executes_under_ntz_session[q_stream_session]",  # 2.0s
    "test_ntz_regression.py::test_streaming_query_executes_under_ntz_session[q_stream_stream_join]",  # 9.0s
    "test_ntz_regression.py::test_streaming_query_executes_under_ntz_session[q_stream_tumbling]",  # 2.5s
    "test_oracle_parity.py::test_query_matches_oracle[q_canonical_docs]",  # 6.0s
    "test_oracle_parity.py::test_query_matches_oracle[q_cdc_apply]",  # 14.5s
    "test_oracle_parity.py::test_query_matches_oracle[q_corpus_release]",  # 9.7s
    "test_oracle_parity.py::test_query_matches_oracle[q_dedup_components]",  # 4.7s
    "test_oracle_parity.py::test_query_matches_oracle[q_dedup_components_star]",  # 5.0s
    "test_oracle_parity.py::test_query_matches_oracle[q_drop_reasons]",  # 4.9s
    "test_oracle_parity.py::test_query_matches_oracle[q_embedding_cosine_dedup_exact]",  # 13.3s
    "test_oracle_parity.py::test_query_matches_oracle[q_recursive_cte]",  # 5.7s
    "test_oracle_parity.py::test_query_matches_oracle[q_release_substring_scrub]",  # 6.5s
    "test_oracle_parity.py::test_query_matches_oracle[q_stream_cdc_follow]",  # 4.4s
    "test_oracle_parity.py::test_query_matches_oracle[q_stream_stateful_profile]",  # 4.0s
    "test_oracle_parity.py::test_query_matches_oracle[q_stream_stream_join]",  # 13.3s
    "test_oracle_parity.py::test_rows_only_query_runs[q_ann_filtered_recall_audit]",  # 11.6s
    "test_oracle_parity.py::test_rows_only_query_runs[q_bpe_learn]",  # 35.3s
    "test_oracle_parity.py::test_rows_only_query_runs[q_index_verify]",  # 7.3s
    "test_oracle_parity.py::test_rows_only_query_runs[q_quality_classifier]",  # 7.1s
    "test_pca.py::test_gram_and_pca_match_numpy",  # 2.1s
    "test_plans.py::test_blocked_candidates_equi_join_in_hyperplane_mode",  # 2.2s
    "test_project.py::test_check_relations_equal",  # 6.8s
    "test_project.py::test_concurrent_independent_models",  # 14.4s
    "test_project.py::test_config_block_with_extra_args_and_unknown_keys",  # 7.1s
    "test_project.py::test_dag_run_with_refs_and_sources",  # 6.2s
    "test_project.py::test_external_partitioned_source_through_runner",  # 2.2s
    "test_project.py::test_generic_tests",  # 7.5s
    "test_project.py::test_incremental_run_rebuilds_dropped_table",  # 7.1s
    "test_project.py::test_incremental_run_skips_unmodified",  # 20.4s
    "test_project.py::test_model_with_duckdb_star_exclude",  # 7.2s
    "test_project.py::test_model_with_qualify",  # 6.4s
    "test_project.py::test_plain_run_always_rebuilds_but_primes_state",  # 7.5s
    "test_project.py::test_rerun_swaps_table_contents",  # 6.4s
    "test_project.py::test_select_runs_only_chosen_models",  # 7.9s
    "test_project.py::test_versioned_incremental_skip_and_materialization_change",  # 7.3s
    "test_project.py::test_versioned_materialization_through_runner",  # 7.2s
    "test_properties.py::test_diff_counts_removed_rows",  # 2.3s
    "test_properties.py::test_exact_decimal_sum_matches_python",  # 3.6s
    "test_properties.py::test_shingle_blocking_is_sound",  # 4.1s
    "test_properties.py::test_span_scrub_matches_python_reference",  # 11.0s
    "test_properties.py::test_substring_spans_match_python_reference",  # 14.7s
    "test_properties.py::test_winnowing_matches_python_reference",  # 6.3s
    "test_properties_graph.py::test_connected_components_matches_union_find",  # 11.0s
    "test_r14_optimizations.py::test_run_to_batch_caps_and_restores_shuffle_partitions",  # 3.3s
    "test_release_pipeline.py::test_release_materializes_shards_and_survives_reconnect",  # 2.4s
    "test_retrieval.py::test_retrieval_eval_hybrid_comparable_and_distinct",  # 3.7s
    "test_selection.py::test_semdedup_deterministic_under_repartition",  # 4.2s
    "test_selection.py::test_semdedup_keep_rule_is_exact",  # 2.9s
    "test_selection.py::test_water_fill_property_random_frames",  # 14.2s
    "test_shards.py::test_append_delta_manifest_additivity",  # 4.4s
    "test_shards.py::test_manifest_describes_written_bytes_for_nondeterministic_input",  # 4.4s
    "test_shards.py::test_shard_manifest_rerun_deterministic",  # 2.2s
    "test_shards.py::test_written_shards_match_manifest_and_cover_corpus",  # 2.1s
    "test_snapshot_property.py::test_snapshot_invariants",  # 13.8s
    "test_snapshots.py::test_snapshot_accretes_versions_and_is_idempotent",  # 6.3s
    "test_snapshots.py::test_snapshot_equal_timestamp_is_not_a_change",  # 2.5s
    "test_snapshots_robustness.py::test_queries_survive_empty_inputs",  # 13.9s
    "test_snapshots_robustness.py::test_scd2_snapshot_lifecycle",  # 4.0s
    "test_stream_twins.py::test_twin_session",  # 4.6s
    "test_stream_twins.py::test_twin_sliding",  # 4.5s
    "test_stream_twins.py::test_twin_stateful_profile",  # 2.4s
    "test_stream_twins.py::test_twin_stream_stream_join",  # 9.1s
    "test_stream_twins.py::test_twin_tumbling",  # 2.2s
    "test_streaming.py::test_manifest_stream_append_txn_idempotent",  # 36.5s
    "test_streaming.py::test_scrub_dictionary_released_with_shingle_caches",  # 2.6s
    "test_streaming.py::test_stream_append_to_pq_index_bit_identical_and_replay",  # 48.6s
    "test_streaming.py::test_stream_merge_mid_batch_crash_replay_is_idempotent",  # 2.4s
    "test_streaming.py::test_stream_scd2_matches_sequential_batch_merges",  # 4.8s
    "test_streaming.py::test_stream_scd2_mid_batch_crash_replay_is_idempotent",  # 2.7s
    "test_streaming.py::test_stream_substring_scrub_matches_batch",  # 3.2s
    "test_streaming.py::test_streaming_dedup_passthrough_when_unique",  # 2.1s
    "test_subword.py::test_bpe_learn_matches_reference_trainer",  # 35.6s
    "test_tiers.py::test_node_id_and_k_bypass_the_tier",  # 4.9s
    "test_topology_independence.py::test_oracle_holds_on_alternate_topology",  # 116.9s
    "test_udtf_pyds.py::test_python_datasource_reads_partitioned",  # 2.8s
    "test_versioned.py::test_apply_changes_candidate_pruning",  # 8.5s
    "test_versioned.py::test_apply_changes_replica_exactly_once",  # 25.2s
    "test_versioned.py::test_changes_feed_attribution_and_mor",  # 3.7s
    "test_versioned.py::test_check_constraints_enforced",  # 3.4s
    "test_versioned.py::test_cow_rewrite_prunes_stale_dv_pairs",  # 3.8s
    "test_versioned.py::test_merge_and_delete_on_evolved_lineage_all_narrow_candidates",  # 3.9s
    "test_versioned.py::test_merge_file_granular_copy_on_write",  # 2.1s
    "test_versioned.py::test_mor_interplay_with_cow_merge_append_rollback",  # 4.6s
    "test_versioned.py::test_mor_merge_zero_rewrites_and_oracle_equal_to_cow",  # 4.7s
    "test_versioned.py::test_occ_concurrent_append_stress",  # 11.2s
    "test_versioned.py::test_optimize_recluster_restores_skipping",  # 4.3s
    "test_versioned.py::test_read_versioned_changes_append_rollback_mor",  # 14.4s
    "test_versioned.py::test_row_lineage_across_rollback_and_clone",  # 2.1s
    "test_versioned.py::test_sample_versioned_files_ht_identity",  # 6.1s
    "test_versioned.py::test_snapshot_resolution_is_o1_at_any_history_length",  # 3.8s
    "test_versioned.py::test_vacuum_dry_run_commits_and_deletes_nothing",  # 2.0s
""".strip().splitlines()
)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: round-close-only test, excluded from the default driver-facing"
        " run; include with SPARK_GRAFT_FULL_TESTS=1 or -m slow",
    )


def pytest_collection_modifyitems(config, items):
    import pytest as _pytest

    for item in items:
        short = item.nodeid.split("/")[-1]
        if short in SLOW_TESTS:
            item.add_marker(_pytest.mark.slow)
    named = any("::" in a for a in config.args) or config.getoption("-k")
    if FULL_TESTS or config.getoption("-m") or named:
        return  # explicit full run, marker expression, node id or -k: no tiering
    selected, deselected = [], []
    for item in items:
        (deselected if item.get_closest_marker("slow") else selected).append(item)
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = selected


@pytest.fixture(scope="session")
def spark():
    return get_spark("dbt_parquet_spark_tests")


@pytest.fixture(scope="session")
def clustered_emb_dir(tmp_path_factory):
    """A deterministic mixture-of-Gaussians embeddings table (same schema as
    testdata's embeddings.parquet). The shipped synthetic corpus is
    isotropic noise, on which NO partition-pruning ANN can score high recall
    (recall ~ nprobe/cells by construction) — this fixture has real cluster
    structure, so LSH/IVF/PQ recall floors are meaningful: a query's true
    neighbors share its cluster, and a working index must find them."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as papq

    rng = np.random.default_rng(4242)
    n_clusters, n, dim = 8, 480, 64
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.arange(n) % n_clusters  # vec_id 0,1,2 land in clusters 0,1,2
    # Noise sigma 0.05: per-point noise NORM is sigma*sqrt(dim) ~ 0.4, so
    # same-cluster angles stay ~20 deg — clustered, but not degenerate
    # (at sigma 0.12 the noise norm ~ 1 rivals the unit centers and
    # same-cluster angles reach ~44 deg, starving 6-bit sign-LSH tables).
    pts = centers[labels] + 0.05 * rng.standard_normal((n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    d = tmp_path_factory.mktemp("clustered_emb")
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                pts.astype(np.float32).tolist(), pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype("int32"), pa.int32()),
        }
    )
    papq.write_table(tbl, str(d / "embeddings.parquet"))
    return str(d)


@pytest.fixture(scope="session")
def oracle_con():
    """DuckDB connection with the testdata tables registered as views —
    replicates the driver's oracle environment."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = table_path(SF_ORACLE, t)
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM parquet_scan('{p}')")
    return con
