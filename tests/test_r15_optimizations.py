"""Focused tests for the round-15 optimization internals.

Each optimization keeps results bit-identical (the full oracle-parity gate
covers that); these tests pin the MECHANISMS the optimizations rely on —
the count-based Jaccard verify's equivalence to the set form, and its
posting-multiplicity precondition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _shingled_corpus(spark, tmp_path):
    """A corpus with boilerplate (hot shingles), true near-dups, and docs
    with repeated-token texts (exercises the per-doc-distinct invariant)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    boiler = "terms of service apply all rights reserved contact us today"
    rows = []
    for i in range(20):
        body = " ".join(f"u{i}w{j}" for j in range(30))
        rows.append((i, f"{boiler} {body}"))
    for p in range(4):
        base = " ".join(f"p{p}tok{j}" for j in range(50))
        rows.append((100 + 2 * p, f"{base} alpha extra{p}"))
        rows.append((101 + 2 * p, f"{base} beta extra{p}"))
    # repeated-token docs: the same shingle occurs at several positions,
    # which must NOT inflate the count-based intersection (the scaffold is
    # per-doc distinct by construction)
    rep = "spam ham spam ham spam ham spam ham spam ham spam ham"
    rows.append((300, rep + " tail a b c d e f g h"))
    rows.append((301, rep + " tail a b c d e f x y"))
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    papq.write_table(tbl, str(tmp_path / "docs.parquet"))
    docs = spark.read.parquet(str(tmp_path / "docs.parquet"))
    from dbt_parquet_spark.operators.dedup import shingles

    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    return toks.select("doc_id", F.explode(shingles(F.col("toks"), 5)).alias("s"))


def test_count_verify_jaccard_equals_set_verify(spark, tmp_path):
    """_count_verify_jaccard over the multiset bucket expansion must emit
    the exact same (d1, d2, jaccard) rows — bit-identical doubles — as the
    set-based _verify_jaccard over the same candidates (r15: the count form
    replaced the two full-corpus collect_list shuffles in the posting-
    derived callers)."""
    from dbt_parquet_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _count_verify_jaccard,
        _verify_jaccard,
        pairs_from_buckets,
        shingle_counts,
        shingle_sets,
    )

    exploded = _shingled_corpus(spark, tmp_path).persist()
    try:
        cand = pairs_from_buckets(exploded, ["s"], max_bucket=1_000_000)
        old = {
            (r.d1, r.d2, r.jaccard)
            for r in _verify_jaccard(
                cand, shingle_sets(exploded), JACCARD_THRESHOLD
            ).collect()
        }
        shared = pairs_from_buckets(
            exploded, ["s"], max_bucket=1_000_000, dedup=False
        )
        new = {
            (r.d1, r.d2, r.jaccard)
            for r in _count_verify_jaccard(
                shared, shingle_counts(exploded), JACCARD_THRESHOLD
            ).collect()
        }
        assert old == new  # exact doubles: same integers, same one division
        assert len(new) >= 4  # non-vacuous: the near-dup pairs exist
    finally:
        exploded.unpersist()


def test_static_loop_plans_sets_and_restores_confs(spark):
    """The components loop's scoped conf override must apply inside the
    block and restore the session values afterwards — including on an
    exception mid-loop (the ADVICE r14 save/restore concern, solved with
    the module lock + finally)."""
    from dbt_parquet_spark.operators.graph import _static_loop_plans

    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    with _static_loop_plans(spark, 3):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts0
    with pytest.raises(RuntimeError):
        with _static_loop_plans(spark, 5):
            raise RuntimeError("mid-loop failure")
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts0


def test_release_warm_rep_reads_kept_cache(spark):
    """Regression pin for the LogicalRDD-partitioning cache poisoning: a
    warm q_corpus_release rep must consume the memoized kept set through
    its InMemoryRelation, not re-execute the dedup lineage per consumer.
    Counted as Spark jobs: the cached warm plan runs in a handful of AQE
    waves; the poisoned plan re-ran the full window/anti-join/percentile
    lineage (20 jobs at sf0.1) because the non-adaptive loop materialization
    recorded expression-bearing partitioning into the labels checkpoint."""
    from dbt_parquet_spark.registry import load_all

    from .conftest import SF_ORACLE

    specs = load_all()
    sc = spark.sparkContext
    specs["q_corpus_release"].builder(spark, SF_ORACLE).write.format("noop").mode(
        "overwrite"
    ).save()
    sc.setJobGroup("warm-kept", "warm-kept")
    specs["q_corpus_release"].builder(spark, SF_ORACLE).write.format("noop").mode(
        "overwrite"
    ).save()
    jobs = len(sc.statusTracker().getJobIdsForGroup("warm-kept"))
    sc.setJobGroup("", "")
    assert jobs <= 10, f"warm q_corpus_release ran {jobs} jobs — kept cache missed"


def test_connected_components_dedups_multiset_edges(spark):
    """The loop's edge cache must carry each (src, dst) once even when the
    edge feed is a multiset (cosine_neardup_edges emits a pair once per
    agreeing chunk) — and the labels must equal the set-feed result."""
    from dbt_parquet_spark.operators.graph import connected_components

    rows = [(1, 2), (1, 2), (2, 3), (2, 3), (2, 3), (10, 11)]
    edges = spark.createDataFrame(rows, ["d1", "d2"])
    got = {
        (r.id, r.component)
        for r in connected_components(edges, vertex_col="id").collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_ranking_metrics_empty_run_emits_zeroed_cutoffs(spark):
    """ADVICE r14: the seeded metrics aggregation emits one zeroed row per
    cutoff for a run with NO overlapping qrels — matching the oracle's
    `ks LEFT JOIN` semantics. Pinned so the (intentional) latent-divergence
    fix stays protected."""
    from dbt_parquet_spark.operators.serving import EVAL_CUTOFFS, _ranking_metrics

    SF = "/root/testdata/sf0.001"
    # doc_ids far outside the corpus id range -> zero qrels overlap
    ranked = spark.createDataFrame(
        [(10_000_000 + i, i) for i in range(1, 11)], "doc_id long, r long"
    )
    rows = {r.k: r for r in _ranking_metrics(spark, SF, ranked).collect()}
    assert set(rows) == set(EVAL_CUTOFFS)
    for k in EVAL_CUTOFFS:
        r = rows[k]
        assert (r.n_rel_topk, r.prec_ppm, r.mrr_ppm, r.dcg_ppm) == (0, 0, 0, 0)


def test_bm25_stats_memo_single_action(spark):
    """The BM25 index-time statistics must be collected once per
    (application, corpus, term set) and served from the memo afterwards —
    and the memoized scalars must equal a fresh recomputation."""
    from dbt_parquet_spark import memo
    from dbt_parquet_spark.operators import text as t

    SF = "/root/testdata/sf0.001"
    memo.release(spark, "text.bm25_stats")
    s1 = t._bm25_stats(spark, SF, t.BM25_QUERY_TERMS)
    assert memo.stats()["by_kind"]["text.bm25_stats"] == 1
    hits = memo.stats()["hits"]
    s2 = t._bm25_stats(spark, SF, t.BM25_QUERY_TERMS)
    assert s2 is s1  # served from the memo, no second action
    # order-insensitive key: a permuted term tuple hits the same entry
    s3 = t._bm25_stats(spark, SF, tuple(reversed(t.BM25_QUERY_TERMS)))
    assert s3 is s1
    assert memo.stats()["hits"] == hits + 2
    assert memo.stats()["by_kind"]["text.bm25_stats"] == 1
    memo.release(spark, "text.bm25_stats")
    assert t._bm25_stats(spark, SF, t.BM25_QUERY_TERMS) == s1
    memo.release(spark, "text.bm25_stats")


def test_posting_multiplicity_is_intersection(spark, tmp_path):
    """The count form's precondition: one expansion row per shared DISTINCT
    shingle. Pinned directly — per-pair expansion multiplicity must equal
    size(array_intersect) of the shingle sets, including for docs whose
    text repeats tokens (per-doc distinctness comes from the scaffold)."""
    from dbt_parquet_spark.operators.dedup import (
        chunked_pair_expansion,
        shingle_sets,
    )

    exploded = _shingled_corpus(spark, tmp_path).persist()
    try:
        buckets = (
            exploded.groupBy("s")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
            .filter(F.size("ids") > 1)
        )
        mult = (
            chunked_pair_expansion(buckets, "ids")
            .select(F.col("x").alias("d1"), F.col("y").alias("d2"))
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        sets = shingle_sets(exploded)
        a = sets.select(F.col("doc_id").alias("d1"), F.col("sh").alias("t1"))
        b = sets.select(F.col("doc_id").alias("d2"), F.col("sh").alias("t2"))
        chk = (
            mult.join(a, "d1")
            .join(b, "d2")
            .select(
                "d1",
                "d2",
                "inter",
                F.size(F.array_intersect("t1", "t2")).alias("exact"),
            )
        )
        rows = chk.collect()
        assert rows, "no candidate pairs — corpus broken"
        bad = [(r.d1, r.d2, r.inter, r.exact) for r in rows if r.inter != r.exact]
        assert not bad, f"multiplicity != intersection: {bad[:5]}"
    finally:
        exploded.unpersist()
