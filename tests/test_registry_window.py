"""The driver verifies the FIRST 50 registered queries against their DuckDB
oracles (CORRECTNESS_r{N}.json). These tests pin the exposure order so that
window is never accidentally wasted: every checked slot must carry oracle
SQL, and the SURVEY §2C contract queries plus the LLM-pipeline / temporal /
streaming surface must sit inside it."""

from __future__ import annotations

from dbt_parquet_spark.registry import load_all

DRIVER_WINDOW = 50

CONTRACT_QUERIES = {
    "q_scan_project_cast",
    "q_filter_in",
    "q_agg_count_star",
    "q_group_having",
    "q_agg_multi",
    "q_join_using",
    "q_join_multi",
    "q_cross_join",
    "q_left_anti",
    "q_union_all",
    "q_except_diff",
    "q_cte_derived",
    "q_orderby_limit",
    "q_string_split_index",
    "q_timestamp_cast",
    "q_window_rank",
    "q_seed_roundtrip",
    "q_schema_introspect",
}

# ROTATION (the r12 verdict's standing policy): the permanent 18 contract
# slots plus 32 rotating slots. This rotation holds every oracle-backed
# query that no committed CORRECTNESS_r*.json value-hash-checked (30 of
# them; the other 2 slots go to the least recently checked scalar queries,
# q_arg_minmax and q_bool_agg, which are not pinned here). The 30 include
# q_row_lineage and q_stream_cdc_follow, which read the versioned lake's
# row-level mutation path, so the driver certifies it. Rotated-out queries
# (the r15 window's components/dedup/LM/serving set, ...) remain
# registered and remain bit-exact-checked locally by
# tests/test_oracle_parity.py — rotation widens the driver's CUMULATIVE
# coverage. With this rotation the never-checked pool is empty, so the
# next rotation needs a new rule (ROADMAP D5).
ROTATION_IN_WINDOW = {
    "q_quality_rules",
    "q_embedding_cosine_dedup_exact",
    "q_sketch_distinct",
    "q_embedding_gram",
    "q_ann_filtered",
    "q_histogram",
    "q_stratified_sample",
    "q_cluster_sample",
    "q_join_size_estimate",
    "q_multimodal_meta",
    "q_multimodal_frames",
    "q_media_dedup",
    "q_text_normalize",
    "q_corpus_manifest",
    "q_corpus_mix",
    "q_training_shards",
    "q_epoch_order",
    "q_curriculum_order",
    "q_salted_join",
    "q_window_ignore_nulls",
    "q_try_casts",
    "q_array_funcs2",
    "q_string_distance",
    "q_window_tumbling",
    "q_window_sliding",
    "q_window_dedup",
    "q_stream_dedup_ingest",
    "q_stream_expectations",
    "q_stream_cdc_follow",
    "q_row_lineage",
}

# DuckDB type ids of output columns the driver's pandas value hash cannot
# sort (a list, map or struct cell is unhashable)
NESTED_TYPE_IDS = {"list", "array", "map", "struct", "union"}


def _ever_driver_checked() -> set[str]:
    """Union of query names in every committed CORRECTNESS_r*.json — the
    driver's cumulative value-hash coverage before this round."""
    import glob
    import json
    import os

    root = os.path.join(os.path.dirname(__file__), "..")
    names: set[str] = set()
    for f in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        d = json.load(open(f))
        keys = d.get("queries", d) if isinstance(d, dict) else {}
        names |= {k for k in keys if k.startswith("q_")}
    return names


def test_rotation_targets_never_checked_queries():
    """The judge's done-criterion: this round's window must contain >=25
    queries no prior CORRECTNESS artifact ever value-hash-verified."""
    checked = _ever_driver_checked()
    if not checked:  # fresh checkout without artifacts: nothing to pin
        return
    names = list(load_all())
    window = set(names[:DRIVER_WINDOW])
    fresh = window - checked
    assert len(fresh) >= 25, (len(fresh), sorted(window & checked))
    # and the rotation set itself is entirely never-before-checked
    assert not (ROTATION_IN_WINDOW & checked), sorted(ROTATION_IN_WINDOW & checked)


def test_driver_window_is_fully_oracle_backed(oracle_con):
    specs = load_all()
    window = list(specs.values())[:DRIVER_WINDOW]
    missing = [s.name for s in window if s.oracle is None]
    assert not missing, f"rows-only queries inside the driver window: {missing}"
    # and every window oracle's output columns are scalar (a static DuckDB
    # LIMIT 0 pass over the driver's sf0.01 tables: no rows, no Spark)
    nested = {}
    for s in window:
        types = oracle_con.sql(f"SELECT * FROM ({s.oracle}) LIMIT 0").types
        bad = [str(t) for t in types if t.id in NESTED_TYPE_IDS]
        if bad:
            nested[s.name] = bad
    assert not nested, f"nested output columns inside the driver window: {nested}"


def test_contract_and_rotation_queries_inside_window():
    names = list(load_all())
    window = set(names[:DRIVER_WINDOW])
    assert CONTRACT_QUERIES <= window, sorted(CONTRACT_QUERIES - window)
    assert ROTATION_IN_WINDOW <= window, sorted(ROTATION_IN_WINDOW - window)


def test_registry_exposes_all_queries():
    specs = load_all()
    # r5: +q_cluster_roundtrip, +q_term_saliency, +q_span_dedup,
    # +q_source_overlap, +q_ann_pq, +q_retention, +q_multimodal_frames,
    # +q_heavy_hitters, +q_temperature_sample, +q_event_transitions,
    # +q_full_outer, +q_recursive_cte, +q_quantified, +q_asof_forward,
    # +q_interpolate, +q_canonical_docs, +q_quality_rules
    # r6: +q_ann_ivf_pq, +q_cooccurrence_capped,
    # +q_cross_split_decontamination, +q_winnowing, +q_token_budget_sample,
    # +q_inverted_index, +q_bigram_lm, +q_winnow_overlap, +q_dedup_evidence,
    # +q_quality_prune, +q_incremental_dedup
    # r7: +q_bpe_token_count, +q_bpe_budget_sample, +q_bpe_learn
    # (operators/subword.py), +q_lm_doc_score (operators/text.py),
    # +q_training_shards (operators/shards.py), +q_corpus_release
    # (operators/release.py), +q_stream_dedup_ingest (streaming),
    # +q_corpus_datasheet (operators/corpus.py), +q_bpe_sequence_packing
    # (operators/packing.py), +q_dedup_components_star (operators/graph.py),
    # +q_cluster_balanced_sample (operators/similarity.py)
    # r8: +q_quality_classifier, +q_quality_classifier_prune,
    # +q_quality_classifier_auc, +q_quality_classifier_calibration
    # (operators/classifier.py — trained hashed-ngram LR + distributed
    # eval), +q_media_dedup (operators/multimodal.py),
    # +q_dsir_select, +q_dsir_budget, +q_semdedup, +q_profile_table
    # (operators/selection.py — DSIR / SemDeDup / column profiling),
    # +q_perplexity_buckets (operators/text.py — CCNet head/middle/tail),
    # +q_knn_eval (operators/similarity.py — exact kNN label accuracy),
    # +q_stream_quality_ingest (streaming — model-in-stream scoring),
    # +q_drop_reasons, +q_semantic_decontamination (operators/audit.py),
    # +q_zorder_layout (operators/layout.py — Morton curve clustering),
    # +q_epoch_order (operators/shards.py — per-epoch deterministic order),
    # +q_mixture_budget (operators/selection.py — water-filling allocator),
    # +q_scd2_history (snapshots.py — SCD2 validity intervals),
    # +q_text_chunks, +q_embedding_quantize (operators/serving.py — RAG prep),
    # +q_pit_join (snapshots.py — point-in-time join against SCD2 history),
    # +q_curriculum_order (operators/shards.py — banded source-interleaved),
    # +q_bm25_topk (operators/text.py — lexical retrieval, driver-idf exact),
    # +q_priority_sample (operators/selection.py — Duffield-Lund-Thorup
    # weight-proportional k-sample with unbiased estimation weights),
    # +q_source_drift (operators/audit.py — chi-squared contingency drift),
    # +q_embedding_gram (oracle integer-ppm scatter matrix),
    # +q_embedding_pca (rows-only; numpy-pinned fit+projection),
    # +q_kneser_ney (operators/text.py — interpolated KN bigram LM, oracle),
    # +q_ann_pca (similarity.py — PCA-prefiltered ANN, rows-only + recall),
    # +q_kn_doc_score (text.py — held-out KN perplexity scoring, oracle),
    # +q_vocab_coverage (corpus.py — top-k token-mass coverage, oracle),
    # +q_kanon_release (audit.py — k-anonymous release cells, oracle)
    # r9: +q_substring_dedup, +q_substring_scrub (operators/dedup.py —
    # Lee-et-al ExactSubstr maximal duplicated runs via the covered-L-gram
    # witness-set reduction, both oracle-checked),
    # +q_release_substring_scrub (operators/release.py — the composed
    # ExactSubstr leg over the release pipeline's kept set, oracle-checked),
    # +q_partitioned_scan (operators/lifecycle.py — hive-partitioned source
    # read with directory-level pruning, oracle-checked),
    # +q_hybrid_retrieval (operators/serving.py — BM25 ⊕ dense RRF fusion,
    # oracle-checked),
    # +q_substring_evidence (operators/dedup.py — who-duplicates-whom
    # witness per maximal run, array-min over posting groups, oracle-checked)
    # r11: +q_index_recall_audit (operators/similarity.py — recall@k drift
    # monitor of the materialized ANN index vs exact, rows-only; the
    # machinery is pinned by the adversarial drift/rebuild test),
    # +q_index_verify (operators/index_verify.py — one-pass fsck of the
    # materialized index: duplicates, misplaced files, stale sidecar,
    # manifest coverage; corruption injection pinned in tests),
    # +q_retrieval_eval, +q_retrieval_eval_hybrid (operators/serving.py —
    # MRR/NDCG/precision@k of the BM25 run and the hybrid RRF run against
    # the same English-relevance graded qrels, exact integer ppm, fully
    # oracle-checked + pure-Python pinned; the lexical-vs-hybrid A/B),
    # +q_expectations, +q_dataset_diff, +q_key_skew_profile
    # (operators/gates.py — declarative data-quality gate, keyed release
    # diff, join-key skew diagnostics; all oracle-checked integer ppm),
    # +q_context_pack (operators/serving.py — greedy RAG context packing
    # of the BM25 run under a token budget, oracle-checked),
    # +q_stream_expectations (streaming/batch_windows.py — the gate as a
    # continuous Structured Streaming monitor, complete-mode one-row
    # state, fully oracle-checked via shared constraint definitions),
    # +q_time_travel, +q_version_history (versioned.py — manifest-committed
    # versioned tables: snapshot reads, time travel, rollback, vacuum;
    # both fully oracle-checked over the replace/append/rollback lifecycle),
    # +q_bm25_batch (operators/text.py — multi-query BM25 in one postings
    # pass, WindowGroupLimit per-query top-k, oracle-checked),
    # +q_versioned_skipping (versioned.py — manifest-side data skipping:
    # per-file min/max stats prune the explicit file list before the
    # scan; file-count shrink pinned in tests, oracle-checked),
    # +q_versioned_merge (versioned.py — copy-on-write MERGE at file
    # granularity via the skipping stats, oracle-checked),
    # +q_ann_filtered (operators/similarity.py — filtered vector search:
    # metadata predicate as a pre-filter equi-join before scoring,
    # exact + oracle-checked),
    # +q_ann_ivf_pq_filtered (similarity.py — the same predicate composed
    # with the materialized IVF-PQ probe: allow-list joins the posting
    # rows before ADC, rows-only + membership/fill/overlap pins),
    # +q_context_pack_batch (operators/serving.py — per-query greedy
    # packing over the batched BM25 run, oracle-checked),
    # +q_ann_filtered_recall_audit (similarity.py — recall@k of the
    # adaptive-probe filtered path vs the exact filtered baseline at three
    # predicate selectivities; rows-only, floor pinned in test_joins_ivf),
    # +q_versioned_delete (versioned.py — copy-on-write DELETE with prune
    # ranges over a range-clustered table, oracle-checked),
    # +q_schema_evolution (versioned.py — additive + widening evolution
    # read end-to-end: pinned-schema scan null-fills/upcasts pre-evolution
    # files, oracle-checked vs CAST + CASE over the source)
    # r13: +q_versioned_delete_mor (versioned.py — merge-on-read DELETE as
    # deletion-vector sidecars, zero data files rewritten, oracle-checked
    # against the CoW twin's shape), +q_version_changes (versioned.py —
    # change-data-feed from the manifests' file-set diff, bag-exact,
    # oracle-checked in both insert and delete directions),
    # +q_versioned_merge_mor (versioned.py — merge-on-read MERGE: matched
    # rows DV out, updates append as new files, zero rewrites, identical
    # oracle to the CoW merge so both upsert paths value-hash equal),
    # +q_version_changes_feed (versioned.py — per-commit CDF feed with
    # _commit_version attribution, the Delta CDF shape, oracle-checked)
    # r14: +q_time_travel_ts (versioned.py — TIMESTAMP AS OF resolution,
    # oracle-checked), +q_versioned_clone (versioned.py — zero-copy shallow
    # clone with independent histories, oracle-checked), +q_cdc_apply
    # (versioned.py — APPLY CHANGES replica maintenance off the CDF feed,
    # one merge-on-read commit, exactly-once marker, oracle-checked),
    # +q_constraint_audit (versioned.py — table CHECK constraints:
    # enforced write gates + candidate-batch dry-run audit, oracle-checked),
    # +q_cluster_sample (operators/sketches.py — deterministic whole-group
    # TABLESAMPLE via md5 hex bucket, HT scale-up pinned, oracle-checked),
    # +q_join_size_estimate (sketches.py — join cardinality priced from a
    # 1/16 key-domain sample, exact + estimate both deterministic,
    # oracle-checked), +q_versioned_file_sample (versioned.py — physical
    # file-granular TABLESAMPLE SYSTEM with HT weights; rows-only, the
    # 16-bucket unbiasedness identity pinned in tests),
    # +q_row_lineage (versioned.py — row-level commit attribution from
    # manifest first-reference metadata + one broadcast join,
    # oracle-checked over the MoR merge scaffold),
    # +q_stream_cdc_follow (streaming/cdf_source.py — a REAL Structured
    # Streaming read of the versioned change feed via a Python Data
    # Source whose offsets are commit versions; availableNow run
    # value-matched against the plain-SQL oracle incl. the
    # rollback-resurrection hop; checkpointed incremental pickup, CoW
    # refusal and batch-feed bag-equality pinned in test_cdf_source.py)
    assert len(specs) == 233
    # the round-1 fixed rows rotated OUT in r13 remain oracle-backed (the
    # local parity gate holds them); pinned so the rotation never silently
    # drops an oracle
    fixed = {"q_json_extract", "q_array_agg", "q_map_funcs", "q_sample", "q_approx_quantile"}
    assert all(specs[n].oracle is not None for n in fixed)
