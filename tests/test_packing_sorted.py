from __future__ import annotations

import os

from pyspark.sql import functions as F

import json

from dbt_parquet_spark.operators.layout import cluster
from dbt_parquet_spark.operators.packing import SEQ_BUDGET, ffd_pack, q_sequence_packing
from dbt_parquet_spark.sources.readers import load_table

from .conftest import SF_ORACLE


def _doc_token_counts(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    return {
        r.doc_id: r.n
        for r in docs.select("doc_id", F.size(F.split("text", " ")).alias("n")).collect()
    }


def test_greedy_packing_invariants(spark):
    packs = q_sequence_packing(spark, SF_ORACLE).collect()
    n_tokens = _doc_token_counts(spark)
    seen = [d for p in packs for d in json.loads(p.doc_ids)]
    assert sorted(seen) == sorted(n_tokens)  # every doc exactly once
    for p in packs:
        ids = json.loads(p.doc_ids)
        assert p.n_tokens == sum(n_tokens[d] for d in ids)
        assert all(d % 8 == p.bucket for d in ids)  # bucket is data-derived
        if p.n_docs > 1:
            assert p.n_tokens <= SEQ_BUDGET  # only oversize singletons may exceed
    avg_util = sum(p.utilization for p in packs) / len(packs)
    assert avg_util > 0.7, avg_util


def test_ffd_packing_invariants(spark):
    packs = ffd_pack(spark, SF_ORACLE).collect()
    n_tokens = _doc_token_counts(spark)
    seen = [d for p in packs for d in p.doc_ids]
    assert sorted(seen) == sorted(n_tokens)
    for p in packs:
        assert p.n_tokens == sum(n_tokens[d] for d in p.doc_ids)
        if p.n_docs > 1:
            assert p.n_tokens <= SEQ_BUDGET
    # FFD on ~54-token docs into 256-token bins: expect decent utilization
    avg_util = sum(p.utilization for p in packs) / len(packs)
    assert avg_util > 0.75, avg_util


def test_packing_deterministic(spark):
    a = sorted(tuple(r) for r in q_sequence_packing(spark, SF_ORACLE).collect())
    b = sorted(tuple(r) for r in q_sequence_packing(spark, SF_ORACLE).collect())
    assert a == b


def test_sorted_write_produces_disjoint_rowgroup_stats(spark, tmp_path):
    import pyarrow.parquet as pq

    events = load_table(spark, SF_ORACLE, "events").select("event_id", "ts", "value")
    dest = str(tmp_path / "events_sorted")
    cluster(events, 4, ["event_id"]).write.parquet(dest)
    ranges = []
    for f in sorted(os.listdir(dest)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(dest, f)).metadata
        idx = md.schema.to_arrow_schema().names.index("event_id")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            ranges.append((st.min, st.max))
    ranges.sort()
    assert len(ranges) >= 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint → range predicates skip row groups
    back = spark.read.parquet(dest)
    assert back.count() == events.count()
