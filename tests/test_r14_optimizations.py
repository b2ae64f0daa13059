"""Focused tests for the round-14 optimization internals.

Each optimization keeps results bit-identical (the full oracle-parity gate
covers that); these tests pin the MECHANISMS the optimizations rely on —
memo invalidation, spread no-op/equivalence, shared-subtree spans."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbt_parquet_spark.sources.readers import (
    load_table,
    spread_small_scan,
)

from .conftest import SF_ORACLE, SF_SMALL, spark_jobs


def test_load_table_memo_hits_and_invalidates(spark, tmp_path):
    """The resolved-DataFrame memo must serve repeat loads of an unchanged
    file and must NOT serve a stale schema after the file is rewritten."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    d = str(tmp_path)
    p = os.path.join(d, "t.parquet")
    papq.write_table(pa.table({"a": pa.array([1, 2, 3], pa.int64())}), p)
    df1 = load_table(spark, d, "t")
    assert df1.columns == ["a"]
    # unchanged file -> same resolved DataFrame object (no re-resolution)
    assert load_table(spark, d, "t") is df1
    # rewrite with a different schema; force a distinct mtime/size key
    papq.write_table(
        pa.table(
            {"a": pa.array([9], pa.int64()), "b": pa.array(["x"], pa.string())}
        ),
        p,
    )
    os.utime(p, (os.path.getmtime(p) + 5, os.path.getmtime(p) + 5))
    df2 = load_table(spark, d, "t")
    assert df2.columns == ["a", "b"]
    assert df2.count() == 1


def test_spread_small_scan_noop_when_enough_partitions(spark):
    """At warehouse scale the scan already carries >= parallelism splits —
    the helper must return the input unchanged (no shuffle inserted)."""
    df = load_table(spark, SF_SMALL, "documents")
    already = df.repartition(spark.sparkContext.defaultParallelism)
    assert spread_small_scan(spark, already, 1) is already
    # non-file-backed input (no inputFiles): trust the existing splits
    rng = spark.range(10)
    assert spread_small_scan(spark, rng, 1) is rng


def test_spread_small_scan_targets_by_bytes(spark):
    df = load_table(spark, SF_ORACLE, "documents")
    out = spread_small_scan(spark, df, 1)  # 1 byte/partition -> cap at cores
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # spreading never changes the bag of rows
    hsum = F.sum(F.xxhash64("doc_id", "text").cast("decimal(38,0)")).alias("h")
    a = df.groupBy().agg(hsum).first().h
    b = out.groupBy().agg(hsum).first().h
    assert a == b


def test_substring_spans_starts_override_equivalent(spark):
    """q_substring_evidence derives the spans' starts from its own posting
    groupBy (shared-subtree form); that derivation must yield byte-identical
    spans to the default substring_dup_starts path."""
    from dbt_parquet_spark.operators.dedup import (
        SUBSTR_L,
        SUBSTR_MIN_COUNT,
        _POS_PACK,
        doc_token_arrays,
        positioned_gkeys,
        substring_spans,
    )

    toks = doc_token_arrays(spark, SF_ORACLE)
    default = substring_spans(toks).orderBy("doc_id", "span_start").collect()
    posts = (
        positioned_gkeys(toks, SUBSTR_L)
        .groupBy("gkey")
        .agg(
            F.array_sort(
                F.collect_list(F.col("doc_id") * F.lit(_POS_PACK) + F.col("pos"))
            ).alias("ks")
        )
        .filter(F.size("ks") >= SUBSTR_MIN_COUNT)
    )
    starts = posts.select(F.explode("ks").alias("k")).select(
        F.expr(f"k div {_POS_PACK}").alias("doc_id"),
        (F.col("k") % _POS_PACK).cast("int").alias("pos"),
    )
    override = (
        substring_spans(toks, starts=starts).orderBy("doc_id", "span_start").collect()
    )
    assert default == override
    assert len(default) > 0  # the fixture corpus has duplicated runs


def test_knn_eval_spread_partitioning_independent(spark):
    """q_knn_eval's spread corpus scan must not change any score/rank: the
    same query on a deliberately re-partitioned corpus agrees row-for-row."""
    from dbt_parquet_spark.operators.similarity import q_knn_eval

    out = q_knn_eval(spark, SF_ORACLE).orderBy("label").collect()
    assert len(out) > 0
    again = q_knn_eval(spark, SF_ORACLE).orderBy("label").collect()
    assert out == again


def test_connected_components_lazy_checkpoint_converges(spark):
    """A diameter-3 chain still converges and labels stay exact under the
    lazy-checkpoint rounds (the sum-convergence action now materializes
    each round's checkpoint)."""
    from dbt_parquet_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "d1 long, d2 long"
    )
    got = {
        (r.v, r.component)
        for r in connected_components(edges, vertex_col="v").collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_cosine_neardup_edges_set_equals_dedup_pairs(spark):
    """The multiset edge feed (no dropDuplicates exchange) must cover the
    EXACT same pair set q_embedding_cosine_dedup verifies — duplicates
    allowed (a pair agreeing on k chunks appears k times), new or missing
    pairs not."""
    from dbt_parquet_spark.operators.similarity import (
        cosine_neardup_edges,
        q_embedding_cosine_dedup,
    )

    edges = [(r.d1, r.d2) for r in cosine_neardup_edges(spark, SF_ORACLE).collect()]
    dedup = {
        (r.d1, r.d2) for r in q_embedding_cosine_dedup(spark, SF_ORACLE).collect()
    }
    assert set(edges) == dedup
    assert len(edges) >= len(dedup) > 0


def test_table_row_count_matches_spark_count_and_invalidates(spark, tmp_path):
    """Footer row counts must equal a Spark count() and must re-read after
    the file is rewritten (stat-key invalidation)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from dbt_parquet_spark.sources.readers import table_row_count

    assert table_row_count(spark, SF_ORACLE, "embeddings") == load_table(
        spark, SF_ORACLE, "embeddings"
    ).count()
    d = str(tmp_path)
    p = os.path.join(d, "t.parquet")
    papq.write_table(pa.table({"a": pa.array([1, 2, 3], pa.int64())}), p)
    assert table_row_count(spark, d, "t") == 3
    papq.write_table(pa.table({"a": pa.array([7], pa.int64())}), p)
    os.utime(p, (os.path.getmtime(p) + 5, os.path.getmtime(p) + 5))
    assert table_row_count(spark, d, "t") == 1


def test_table_row_count_of_part_file_directory_runs_no_job(spark, tmp_path):
    """A part-file directory counts from its footers: no Spark job, and
    the same count as a Spark count()."""
    from dbt_parquet_spark.sources.readers import table_row_count

    d = str(tmp_path)
    spark.range(1000).repartition(4).write.parquet(os.path.join(d, "t.parquet"))
    got = []
    assert spark_jobs(spark, lambda: got.append(table_row_count(spark, d, "t"))) == []
    assert got == [1000] == [load_table(spark, d, "t").count()]


def test_connected_components_unpersists_edge_cache(spark, monkeypatch):
    """The loop-scoped edge cache must not leak: every DataFrame persist
    inside the call gets a matching unpersist. (Counting persist calls —
    not getPersistentRDDs — because localCheckpoint RDDs linger until the
    async ContextCleaner collects them, which made a global-count assert
    flaky in full-suite sessions.)"""
    # the CONCRETE class — pyspark.sql.DataFrame is the abstract base in
    # Spark 4 and instance calls dispatch to the classic subclass
    from pyspark.sql.classic.dataframe import DataFrame

    from dbt_parquet_spark.operators.graph import connected_components

    calls = {"persist": 0, "unpersist": 0}
    orig_p, orig_u = DataFrame.persist, DataFrame.unpersist

    def spy_p(self, *a, **k):
        calls["persist"] += 1
        return orig_p(self, *a, **k)

    def spy_u(self, *a, **k):
        calls["unpersist"] += 1
        return orig_u(self, *a, **k)

    monkeypatch.setattr(DataFrame, "persist", spy_p)
    monkeypatch.setattr(DataFrame, "unpersist", spy_u)
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "d1 long, d2 long")
    got = connected_components(edges, vertex_col="v").collect()
    assert len(got) == 5
    assert calls["persist"] == 1  # the pre-partitioned sym cache
    assert calls["unpersist"] == calls["persist"]


def test_run_to_batch_caps_and_restores_shuffle_partitions(spark):
    """The streaming harness must cap shuffle partitions (state stores) at
    cluster parallelism for the duration of a stateful run, restore the
    session conf afterwards, and keep the result identical to an uncapped
    run (stateful aggregation is partitioning-independent)."""
    from dbt_parquet_spark.streaming.stream_ops import (
        run_to_batch,
        streaming_tumbling_counts,
    )

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "200")  # the batch-analytics default
        capped = run_to_batch(streaming_tumbling_counts(spark, SF_SMALL), spark)
        rows_capped = sorted(tuple(r) for r in capped.collect())
        assert spark.conf.get(key) == "200"  # restored after the run
    finally:
        spark.conf.set(key, prev)
    baseline = run_to_batch(streaming_tumbling_counts(spark, SF_SMALL), spark)
    rows_base = sorted(tuple(r) for r in baseline.collect())
    assert rows_capped == rows_base
    assert len(rows_capped) > 0
