"""Plan-quality gates: the scale properties SURVEY §4/§7 promise must be
visible in the physical plan, not just hoped for. These tests pin them so a
regression (lost pushdown, un-broadcast join, global sort for a top-k)
fails CI even though results stay correct."""

from __future__ import annotations

from dbt_parquet_spark.registry import load_all

from .conftest import SF_ORACLE

SPECS = load_all()


def _plan(spark, name: str) -> str:
    df = SPECS[name].builder(spark, SF_ORACLE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_projection_prunes_scan(spark):
    plan = _plan(spark, "q_scan_project_cast")
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # 2 of 11 lineitem columns read
    assert "l_orderkey" in read and "l_linestatus" in read
    assert "l_extendedprice" not in read and "l_shipdate" not in read


def test_filter_pushed_to_parquet(spark):
    plan = _plan(spark, "q_filter_in")
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "In(l_returnflag" in pushed


def test_timestamp_range_pushed(spark):
    plan = _plan(spark, "q_agg_multi")
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "LessThanOrEqual(l_shipdate" in pushed


def test_dimension_joins_broadcast(spark):
    plan = _plan(spark, "q_join_multi")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_topk_avoids_global_sort(spark):
    plan = _plan(spark, "q_orderby_limit")
    assert "TakeOrderedAndProject" in plan


def test_diff_is_single_shuffle(spark):
    plan = _plan(spark, "q_except_diff")
    # one shuffle for the grouped union + tiny single-partition final agg;
    # the reference's 2×EXCEPT shape would show four wide exchanges.
    wide = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(wide) <= 2, plan


def test_union_all_no_shuffle(spark):
    plan = _plan(spark, "q_union_all")
    assert "Exchange" not in plan


def test_window_single_shuffle_per_partitioning(spark):
    plan = _plan(spark, "q_window_running")
    assert plan.count("Exchange hashpartitioning") == 1


def test_bloom_bitmap_is_broadcast(spark):
    # the bloom pre-filter must reach the probe side as a broadcast, and the
    # probe scan must not shuffle before the filter
    plan = _plan(spark, "q_bloom_semi_join")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_date_spine_joins_broadcast(spark):
    # the tiny spine must broadcast against the daily aggregate — a shuffle
    # of the fact side keyed by day is the wrong shape
    plan = _plan(spark, "q_date_spine")
    assert "BroadcastHashJoin" in plan


def test_vocabulary_has_no_unpartitioned_window(spark):
    # the round-1 scale-killer: a global rank window moves the vocabulary to
    # one task. Every window must be partitioned.
    df = SPECS["q_vocabulary"].builder(spark, SF_ORACLE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    import re
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", analyzed):
        spec = m.group(1)
        # a partitioned window spec lists partition columns before the sort order
        assert "ORDER BY" not in spec.split(",")[0].upper() or "#" in spec.split(",")[0], spec


def test_salted_join_no_broadcast_of_large_side(spark):
    # salting must not accidentally flip the large side into a broadcast
    plan = _plan(spark, "q_salted_join")
    assert "Exchange hashpartitioning" in plan  # the salted equi-join shuffles on (key, salt)


def test_blocked_cosine_dedup_no_quadratic_stage(spark):
    """Round-4 gate: the windowed near-dup query must never regress to a
    cartesian/nested-loop shape — candidates come from the posting-key
    equi-join (d1<d2 is a residual condition on a hash join)."""
    plan = _plan(spark, "q_embedding_cosine_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_redact_pii_no_shuffle(spark):
    """Redaction is a map-only regexp chain — any exchange in the plan means
    someone broke the narrow shape."""
    plan = _plan(spark, "q_redact_pii")
    assert "Exchange" not in plan


def test_components_rounds_have_leaf_plans(spark):
    """Lineage gate: connected_components must truncate per-round lineage
    (localCheckpoint) — the returned labels' plan must NOT contain the
    upstream edge pipeline (no parquet scan, no join), or round-over-round
    planning cost grows with iteration count."""
    from pyspark.sql import functions as F

    from dbt_parquet_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "d1 long, d2 long"
    )
    labels = connected_components(edges, vertex_col="id")
    plan = labels._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def _exchange_over_cache(plan) -> bool:
    """True when an Exchange reads an InMemoryTableScan through nothing but
    single-child pass-through nodes (filter, projection, codegen glue)."""
    passthrough = ("Filter", "Project", "InputAdapter", "ColumnarToRow", "WholeStageCodegen")

    def nodes(p):
        yield p
        for i in range(p.children().size()):
            yield from nodes(p.children().apply(i))

    for node in nodes(plan):
        if node.nodeName() != "Exchange":
            continue
        child = node.children().apply(0)
        while child.nodeName().startswith(passthrough) and child.children().size() == 1:
            child = child.children().apply(0)
        if child.nodeName() == "InMemoryTableScan":
            return True
    return False


def test_components_rounds_read_edge_cache_without_exchange(spark, monkeypatch):
    """With the label join not broadcast, every round's sort-merge join must
    consume the edge cache as it is partitioned (by src): no Exchange
    directly above the cache's scan. Each round's plan is captured as it is
    checkpointed, inside the loop's non-adaptive block."""
    from dbt_parquet_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "d1 long, d2 long"
    ).repartition(4)
    plans = []
    checkpoint = type(edges).localCheckpoint

    def capture(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan())
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(type(edges), "localCheckpoint", capture)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        labels = connected_components(edges)
        assert {r.component for r in labels.collect()} == {0}
    finally:
        spark.conf.set(key, old)
    rounds = [p for p in plans if "InMemoryTableScan" in p.toString()]
    assert rounds
    assert not any(_exchange_over_cache(p) for p in rounds)


def test_blocked_candidates_equi_join_in_hyperplane_mode(spark):
    """Round-5 gate: at hyperplane widths (bits > 16, corpus beyond the
    raw-dim ceiling) the candidate generator must still be a posting-key
    equi-join — the projections are map-side expressions, never a reason
    for a nested-loop/cartesian shape."""
    from dbt_parquet_spark.operators.similarity import blocked_candidates

    plan = (
        blocked_candidates(spark, SF_ORACLE, bits=17)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_span_dedup_no_cartesian_and_pruned_scan(spark):
    # span postings join on the gram key; there must be no cartesian/NL join
    # anywhere, and the documents scan must not read `text` twice via
    # separate unpruned scans (doc_id+text only).
    plan = _plan(spark, "q_span_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "lang" not in read and "source" not in read  # column pruning


def test_source_overlap_pair_skeleton_broadcast(spark):
    # the S-row pair skeleton and sketch joins must broadcast; the only wide
    # shuffles are the gram-keyed distinct/join legs.
    plan = _plan(spark, "q_source_overlap")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pq_scan_joins_codes_not_vectors(spark):
    # the ADC scan side must be the codes projection crossed with the tiny
    # broadcast query set — no shuffle of the raw embedding column before
    # the rerank join.
    plan = _plan(spark, "q_ann_pq")
    assert "BroadcastNestedLoopJoin" in plan  # codes x broadcast queries
    assert "CartesianProduct" not in plan


def test_winnowing_single_shuffle_map_only(spark):
    # winnowing is selection by array expressions over the cached token
    # arrays; the ONLY exchange allowed is the final distinct. No join of
    # any kind.
    plan = _plan(spark, "q_winnowing")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_cross_split_decontamination_posting_join_shape(spark):
    # candidates must come from the posting equi-join (hash or sort-merge on
    # the shingle), never a nested-loop/cartesian between the splits; both
    # split branches must be served from the shingle cache, not fresh scans.
    plan = _plan(spark, "q_cross_split_decontamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan  # memoized shingle scaffold reused


def test_cooccurrence_rides_token_scaffold(spark):
    # VERDICT r5 #4: cooccurrence must reuse the persisted token arrays
    # (text split once) — every branch reads the cache, leaving at most the
    # cache-fill lineage as FileScan text in the plan.
    plan = _plan(spark, "q_cooccurrence")
    assert plan.count("InMemoryTableScan") >= 3  # totals, df, both join sides
    assert "CartesianProduct" not in plan


def test_span_dedup_single_posting_shuffle(spark):
    # r6 shape: ONE groupBy over the gram postings (no freq sort-merge join
    # re-shuffling singleton grams). Exchanges: postings groupBy, coverage
    # groupBy(doc_id), reconstruction join — no more than 4 total, and no
    # sort-merge join on the gram key (the old shape's signature).
    plan = _plan(spark, "q_span_dedup")
    assert plan.count("Exchange hashpartitioning") <= 4
    assert plan.count("SortMergeJoin") <= 1  # only the doc_id reconstruction join


def _assert_banded_cumsum(plan: str) -> None:
    """r15 banded_prefix_offsets shape: the CORPUS-sized running sum stays
    partitioned by band, and the only SinglePartition exchange allowed is
    the one-window prefix sum over the band-TOTALS aggregate (a fixed
    ≤64/256-row domain at any corpus size — guide §2.4). A flat global
    running sum over corpus rows would put the Sort+Window's SinglePartition
    directly over the scan/cache, which this keeps failing."""
    assert "CartesianProduct" not in plan
    assert "Exchange hashpartitioning(band" in plan  # corpus cumsum is banded
    lines = plan.splitlines()
    singles = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    assert len(singles) <= 1, plan
    for i in singles:
        # the exchange's child must be the bounded band-totals aggregate
        child = "\n".join(lines[i + 1 : i + 3])
        assert "HashAggregate(keys=[band" in child, plan


def test_token_budget_sample_no_global_window(spark):
    # the cumulative char sum must be hierarchical (banded) — a flat global
    # running sum over corpus rows is the one-task shape that dies at scale.
    # r15: the band-offset prefix sum is ONE bounded window over the totals
    # table (banded_prefix_offsets) instead of a broadcast theta-join.
    _assert_banded_cumsum(_plan(spark, "q_token_budget_sample"))


def test_dedup_evidence_fusion_shape(spark):
    # three candidate legs served from the shared scaffolds (no re-tokenize
    # scans), fused by pair-key joins — never a cartesian/NL join.
    plan = _plan(spark, "q_dedup_evidence")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan


def test_incremental_dedup_delta_filtered_build_side(spark):
    # the delta filter must reach the candidate join's input (the plan
    # carries a doc_id >= threshold predicate), and candidates come from the
    # posting equi-join, not any all-pairs stage.
    plan = _plan(spark, "q_incremental_dedup")
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # postings from the shingle cache
    assert "(doc_id" in plan and ">=" in plan  # delta predicate survives


def test_inverted_index_df_join_not_window(spark):
    # VERDICT r6 #1: df must come from a vocabulary-sized groupBy(token)
    # joined back to the postings, never Window.partitionBy(token) over
    # per-document posting rows (a stop word's whole posting list in ONE
    # task, and windows cannot be AQE-skew-split; the equi-join can).
    plan = _plan(spark, "q_inverted_index")
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 4  # partial+final for postings and df


def test_no_corpus_keyed_windows_in_source():
    """Sweep gate (VERDICT r6 #1): every Window.partitionBy in the package
    must partition by a key whose partition SIZE is bounded — per-entity
    (doc_id, user_id, query_id, o_custkey...), vocabulary-over-bands
    (corpus.py hierarchical ranks/cumsums), or aggregated-counts-keyed
    (bigram c_ctx: partition size <= distinct successors of w1). A window
    partitioned by a raw corpus token over per-document rows co-locates a
    stop word's posting list in one un-splittable task. Any NEW window must
    be added to the whitelist below with a bounded-partition justification.
    """
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "dbt_parquet_spark"
    seen = set()
    for py in sorted(pkg.rglob("*.py")):
        for line in py.read_text().splitlines():
            m = re.search(r"Window\.partitionBy\(([^)]*)\)", line)
            if not m or line.lstrip().startswith("#"):
                continue
            keys = tuple(sorted(re.findall(r'"([^"]+)"', m.group(1))))
            if keys:
                seen.add((py.name, keys))
    allowed = {
        # per-entity keys: partition size = rows per user/doc/query/customer
        ("batch_windows.py", ("event_type", "user_id")),  # + win col variable
        ("batch_windows.py", ("user_id",)),
        ("windows.py", ("o_custkey",)),
        ("windows.py", ("c_nationkey",)),  # contract q_window_rank semantics
        ("windows.py", ("user_id",)),
        ("sql_surface2.py", ("o_custkey",)),
        ("sql_surface2.py", ("user_id",)),
        ("sql_surface4.py", ("o_orderkey",)),  # lines per order
        ("sql_surface5.py", ("o_custkey",)),
        ("temporal.py", ("_k",)),  # as-of partition bucket
        ("text.py", ("doc_id",)),  # positions/tokens within one document
        ("text.py", ("w1",)),  # aggregated counts: <= distinct successors
        # batched BM25 per-query top-k: candidates per query; rank<=k
        # rewrites to map-side WindowGroupLimit (plan-gated below), the
        # similarity.py query_id discipline
        ("text.py", ("query_id",)),
        # perplexity terciles: hierarchical per-source rank over 256 uniform
        # score bands (~corpus/256 rows per (source, band) partition — the
        # classifier.py / selection.py band discipline)
        ("text.py", ("band", "source")),
        ("graph.py", ("component_id",)),  # dup-cluster sized
        ("release.py", ("component_id",)),  # canonical argmax per cluster
        ("audit.py", ("component_id",)),  # same canonical argmax, audit view
        # r15 drop-reasons single pass: the per-source quality threshold is
        # percentile() OVER (PARTITION BY source) on the kept rows — the
        # value set each partition buffers is the SAME per-source set the
        # old percentile AGGREGATE (TypedImperative, no partial reduction)
        # buffered in one reducer; skew posture unchanged, one lineage
        # instead of two (guide §2.4, VERDICT_r14 #5)
        ("audit.py", ("source",)),
        # epoch order: rank within (epoch, hash-band shard) — corpus/fanout
        # rows per partition, uniform by md5 avalanche (shards.py band rule)
        ("shards.py", ("epoch", "shard_id")),
        ("snapshots.py", ("user_id",)),  # per-entity change history
        # curriculum rank: ~corpus/(16 bands * sources) rows per partition
        ("shards.py", ("band", "source")),
        # AUC rank-sum: window runs over the SCORE HISTOGRAM (<= 1e6+1 rows
        # total at any corpus size), banded into 101 partitions of <= 10k
        # rows — bounded constant, never corpus-sized
        ("classifier.py", ("band",)),
        # budgeted DSIR cumsum: 256 uniform weight bands, ~corpus/256 rows
        # per band (the corpus.py hierarchical-cumsum discipline re-banded
        # for weight order)
        ("selection.py", ("band",)),
        # query_id: candidates per query (top-k rerank)
        ("similarity.py", ("query_id",)),
        # cell: corpus-scale partitions, but the rank<=k filter rewrites to
        # a map-side WindowGroupLimit (plan-gated) so only k rows per cell
        # per input partition cross the exchange
        ("similarity.py", ("cell",)),
        # vocabulary-over-bands hierarchical rank/cumsum (corpus.py §vocab)
        ("corpus.py", ("g",)),
        ("corpus.py", ("freq",)),
        ("corpus.py", ("band", "freq")),
        ("corpus.py", ("band",)),
    }
    assert seen <= allowed, f"unreviewed corpus-keyed windows: {seen - allowed}"


def test_bpe_budget_sample_no_global_window(spark):
    # same property as the char-budget sampler: the running BPE-token total
    # must be the hierarchical banded cumsum, never a one-task global sort
    # over corpus rows (the bounded totals window is the permitted r15 shape).
    _assert_banded_cumsum(_plan(spark, "q_bpe_budget_sample"))


def test_corpus_release_composed_shape(spark):
    # the flagship composition must keep each stage's gated shape: no
    # cartesian/NL join anywhere, and all three consumer branches (span
    # grams, span reconstruction, attribute join) reading the PERSISTED
    # keep-set stage boundary instead of re-running the dedup+threshold
    # lineage (the unpersisted draft ran it 3x — 40 exchanges).
    plan = _plan(spark, "q_corpus_release")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("InMemoryTableScan") >= 3  # all branches ride the cache
    # no live re-derivation of the keep-set: every documents FileScan in the
    # executed plan sits inside the InMemoryRelation's recorded cache
    # lineage, so the live plan reads only caches (plus the span pipeline).
    live = plan.split("InMemoryRelation", 1)[0]
    assert "FileScan parquet" not in live, live


def test_lm_doc_score_join_back_no_window(spark):
    # the score join must be the equi-join-back shape (AQE-splittable),
    # never a token-keyed window, and every branch must ride the persisted
    # token scaffold (no duplicate tokenize scans).
    plan = _plan(spark, "q_lm_doc_score")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 3  # bg x2 consumers + ctx


def test_cluster_balanced_sample_window_group_limit(spark):
    # the per-cell top-k rank filter must be rewritten to a map-side
    # WindowGroupLimit (each input partition forwards <= k rows per cell),
    # which is what makes the cell-keyed window safe at corpus scale.
    plan = _plan(spark, "q_cluster_balanced_sample")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_ann_pca_prefilter_window_group_limit(spark):
    # the reduced-space prefilter rank (corpus rows per query) must rewrite
    # to map-side WindowGroupLimit so only PCA_CANDIDATES rows per query per
    # input partition cross the exchange; the only nested-loop join is the
    # intentional broadcast of the <= N_QUERIES query rows.
    plan = _plan(spark, "q_ann_pca")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_semantic_decontamination_broadcast_eval_side(spark):
    # the eval side (benchmark-sized by construction) must reach the chunk
    # equi-join as a broadcast, and candidate generation must never
    # degenerate to an all-pairs NL join.
    plan = _plan(spark, "q_semantic_decontamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_layout_map_only(spark):
    # the curve position is pure per-row arithmetic: no exchange at all in
    # the layout query (the bounds aggregate runs as its own tiny job).
    plan = _plan(spark, "q_zorder_layout")
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_mixture_budget_source_frame_only(spark):
    # the water-filling windows run on the |sources|-row aggregate frame:
    # after the ONE corpus groupBy(source), everything is single-partition
    # by construction — assert the corpus never feeds a window directly
    # (every Window sits above the source-level HashAggregate).
    plan = _plan(spark, "q_mixture_budget")
    assert "CartesianProduct" not in plan
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # formatted plans list operators leaves-last: the window node must
    # appear ABOVE (before) the corpus aggregate in the operator tree
    assert win_pos < agg_pos


def test_scd2_history_single_user_shuffle(spark):
    # both windows and the run aggregate share the user_id partitioning:
    # exactly one hash exchange on user_id, no extra re-sorts between them.
    plan = _plan(spark, "q_scd2_history")
    assert plan.count("Exchange hashpartitioning") <= 2  # user_id + run agg reuse
    assert "CartesianProduct" not in plan


def test_serving_ops_are_map_only(spark):
    # chunking (sequence+explode+slice) and quantization (per-row array
    # math) must stay pure map stages — any exchange breaks the
    # pipelined-into-write property.
    for q in ("q_text_chunks", "q_embedding_quantize"):
        plan = _plan(spark, q)
        assert "Exchange" not in plan, q
        assert "Join" not in plan, q


def test_pq_index_probe_prunes_partitions(spark):
    """The materialized IVF-PQ index is hive-partitioned by cell, and the
    probe reaches the scan as an explicit file list from the index
    manifest: only the probed cells' files may be opened. The gate is the
    executed scans' numFiles metric (the files each scan actually opened),
    checked on a probed read and on every index scan of q_ann_ivf_pq and
    q_ann_ivf: it must equal the probed cells' committed file count, a
    strict subset of the index. NB inputFiles() would NOT measure this for
    a filtered scan — it lists the FileIndex before pruning."""
    import re

    from pyspark.sql import functions as F

    from dbt_parquet_spark.operators.index_manifest import (
        _ifs,
        _load,
        build_pq_index,
        read_pq_index,
    )
    from dbt_parquet_spark.operators.kmeans import probe_udf
    from dbt_parquet_spark.operators.similarity import (
        N_QUERIES,
        ivf_cells,
        ivf_nprobe,
        q_ann_ivf,
        q_ann_ivf_pq,
        train_ivf_quantizer,
    )
    from dbt_parquet_spark.sources.readers import load_table

    def scan_num_files(df) -> list[int]:
        """numFiles of every executed scan of the index (the scans whose
        relation is partitioned by cell), walking into AQE stages."""
        df.collect()
        found = []

        def walk(p) -> None:
            name = p.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                return walk(p.executedPlan())
            if name.endswith("QueryStageExec"):
                return walk(p.plan())
            if name == "FileSourceScanExec":
                if "cell" in list(p.relation().partitionSchema().fieldNames()):
                    found.append(p.metrics().apply("numFiles").value())
                return
            kids = p.children()
            for i in range(kids.size()):
                walk(kids.apply(i))

        walk(df._jdf.queryExecution().executedPlan())
        return found

    path = build_pq_index(spark, SF_ORACLE)
    cell_files = _load(*_ifs(path))["cells"]
    emb = load_table(spark, SF_ORACLE, "embeddings")
    n_cells = ivf_cells(emb.count())
    cents = train_ivf_quantizer(spark, SF_ORACLE)
    assert len(cents) == n_cells
    all_cells = {
        int(m.group(1))
        for f in read_pq_index(spark, SF_ORACLE).inputFiles()
        for m in [re.search(r"cell=(\d+)", f)]
        if m
    }
    assert len(all_cells) == n_cells  # every fitted cell is occupied here
    assert scan_num_files(read_pq_index(spark, SF_ORACLE)) == [n_cells]
    probed = sorted(all_cells)[:3]
    pruned = read_pq_index(spark, SF_ORACLE, cells=probed)
    assert scan_num_files(pruned) == [len(probed)]

    # the full queries' executed index scans open exactly the files of the
    # cells their queries probe (recomputed here with the same probe)
    probe = probe_udf(cents, ivf_nprobe(n_cells))
    q_cells = {
        r.cell
        for r in emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.explode(probe(F.col("embedding"))).alias("cell"))
        .distinct()
        .collect()
    }
    want = sum(len(cell_files[str(c)]) for c in q_cells)
    assert want < sum(len(v) for v in cell_files.values())
    for query in (q_ann_ivf_pq, q_ann_ivf):
        got = scan_num_files(query(spark, SF_ORACLE))
        assert got and all(n == want for n in got), (query.__name__, got, want)
    # q_ann_ivf reads the probed cells' vectors only (codes column pruned
    # from the index scan)
    iplan = _plan(spark, "q_ann_ivf")
    schemas = [
        m.group(1)
        for l in iplan.splitlines()
        for m in [re.search(r"ReadSchema: (struct<[^>]*>)", l)]
        if m
    ]
    assert not any("codes" in sch for sch in schemas), (
        "q_ann_ivf reads the codes column it never uses"
    )


def test_partitioned_source_scan_prunes(spark):
    """read_parquet + a partition-column filter must prune at the
    DIRECTORY level: the scan's PartitionFilters carries the source IN
    list, and the executed scan opens only the 3 selected partitions'
    files out of 20 (numFiles metric, not inputFiles — see the PQ gate)."""
    from pyspark.sql import functions as F

    from dbt_parquet_spark.operators.lifecycle import partitioned_documents
    from dbt_parquet_spark.sources.readers import read_parquet

    path = partitioned_documents(spark, SF_ORACLE)

    def scan_num_files(df) -> int:
        df.collect()
        scan = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        return scan.metrics().apply("numFiles").value()

    full = read_parquet(spark, path)
    n_all = scan_num_files(full)
    assert n_all >= 20  # one+ file per source partition
    pruned = read_parquet(spark, path).filter(
        F.col("source").isin("src0", "src1", "src2")
    )
    n_pruned = scan_num_files(pruned)
    assert n_pruned * 6 <= n_all, (n_pruned, n_all)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "source" in pf and "src0" in pf

    qplan = _plan(spark, "q_partitioned_scan")
    assert any(
        "PartitionFilters" in l and "src0" in l for l in qplan.splitlines()
    ), "q_partitioned_scan lost its partition filter"


def test_hybrid_retrieval_leg_shapes(spark):
    """Both retrieval legs must end in TakeOrderedAndProject (per-partition
    heaps, no global sort), the k-row rank joins must be broadcasts, and
    nothing may degrade to a cartesian product (the 1-row query vector
    rides a broadcast nested-loop, which is the correct shape)."""
    plan = _plan(spark, "q_hybrid_retrieval")
    assert plan.count("TakeOrderedAndProject") >= 2  # each leg + final fuse
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


# --- r11 gates & serving additions (operators/gates.py, q_context_pack) --------


def test_expectations_single_scan(spark):
    """q_expectations: all satisfied-counts (incl. the distinct) ride ONE
    corpus scan and the constraint fan-out is a literal stack — no join,
    no second pass."""
    plan = _plan(spark, "q_expectations")
    assert plan.count("FileScan") == 1, plan
    assert "Join" not in plan, plan


def test_dataset_diff_prunes_and_equijoins(spark):
    """q_dataset_diff: the version diff is a keyed equi-join (never a
    nested-loop/cartesian) and every scan projects only (doc_id, text)."""
    plan = _plan(spark, "q_dataset_diff")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "lang" not in line and "n_chars" not in line, line


def test_key_skew_profile_branch_free(spark):
    """q_key_skew_profile: ONE lineage — the corpus groupBy runs once (a
    single FileScan; totals ride the same histogram window as the
    cumsum), and the scan projects only the key column."""
    plan = _plan(spark, "q_key_skew_profile")
    assert plan.count("FileScan") == 1, plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_custkey" in read and "o_totalprice" not in read


def test_context_pack_two_run_copies_no_smj(spark):
    """q_context_pack: rank and cumulative tokens come from ONE fused
    triangular broadcast self-join, so the BM25 run lineage appears
    exactly twice (two TakeOrderedAndProject top-ks) and nothing sort-
    merge-joins or goes cartesian."""
    plan = _plan(spark, "q_context_pack")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("TakeOrderedAndProject") == 2, plan


def test_bm25_batch_windowgrouplimit_and_broadcast(spark):
    """q_bm25_batch: the per-query rank<=k filter must rewrite to a
    map-side WindowGroupLimit (per-partition heaps before the exchange —
    only k rows per query per input partition shuffle), the (query_id,
    term) table must broadcast, and nothing goes cartesian."""
    plan = _plan(spark, "q_bm25_batch")
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ann_filtered_prefilter_pushed_and_shaped(spark):
    """q_ann_filtered: the metadata predicate must reach the documents
    scan as a pushed filter, the allow-list must join BEFORE scoring (a
    hash equi-join feeding the broadcast scoring join), and the filtered
    result must genuinely differ from the unfiltered baseline (post-filter
    would under-fill k; pre-filter re-ranks)."""
    plan = _plan(spark, "q_ann_filtered")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "lang" in l]
    assert pushed and any("EqualTo(lang,en)" in l for l in pushed), plan
    assert "BroadcastHashJoin" in plan  # the allow-list equi-join
    assert "BroadcastNestedLoopJoin" in plan  # corpus x broadcast queries
    filtered = {
        (r["query_id"], r["neighbor_id"])
        for r in SPECS["q_ann_filtered"].builder(spark, SF_ORACLE).collect()
    }
    base = {
        (r["query_id"], r["neighbor_id"])
        for r in SPECS["q_ann_topk"].builder(spark, SF_ORACLE).collect()
    }
    assert filtered != base and len(filtered) == len(base)


def test_cluster_sample_single_shuffle_pruned_scan(spark):
    # r14: the deterministic cluster sample is a scan-side hash filter +
    # ONE per-cluster aggregate exchange — no join, no cartesian, and the
    # scan reads only the two referenced columns
    plan = _plan(spark, "q_cluster_sample")
    assert plan.count("Exchange") == 1
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read


def test_join_size_estimate_one_pass(spark):
    # r14: exact + sampled terms share ONE events scan and ONE per-key
    # groupBy (conditional aggregation) — two exchanges total (key shuffle
    # + single-partition final), never a second scan or a join
    plan = _plan(spark, "q_join_size_estimate")
    assert plan.count("Exchange") == 2
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 2  # one logical scan
    assert "Join" not in plan
