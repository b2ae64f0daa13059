"""Parity and property tests for the data-selection operators: DSIR
importance selection pinned bit-identical to a pure-Python reference,
SemDeDup's keep rule verified exhaustively against its own assignment, and
profiling covered by the shared oracle-parity suite."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from dbt_parquet_spark.operators.selection import (
    DSIR_BUCKETS,
    DSIR_TARGET_SOURCES,
    DSIR_TOP_N,
    SEMDEDUP_EPS,
    dsir_llr_table,
    q_dsir_select,
    q_semdedup,
)
from dbt_parquet_spark.sources.readers import load_table

from .conftest import SF_SMALL


def _py_bucket(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:6], 16) % DSIR_BUCKETS


def _py_llr(docs) -> list[int]:
    tgt = [0] * DSIR_BUCKETS
    raw = [0] * DSIR_BUCKETS
    for r in docs:
        arr = tgt if r.source in DSIR_TARGET_SOURCES else raw
        for tok in r.text.split(" "):
            arr[_py_bucket(tok)] += 1
    t_tot, r_tot = sum(tgt) + DSIR_BUCKETS, sum(raw) + DSIR_BUCKETS
    return [
        round(1e6 * (math.log((tgt[b] + 1) / t_tot) - math.log((raw[b] + 1) / r_tot)))
        for b in range(DSIR_BUCKETS)
    ]


def test_dsir_matches_pure_python_exactly(spark):
    """LLR table, every per-doc integer weight, and the selected top-N must
    all be bit-identical to the pure-Python reference — the integer micro-
    nat freeze makes the distributed sum order-free."""
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "source", "text").collect()
    llr = _py_llr(docs)
    assert dsir_llr_table(spark, SF_SMALL) == llr

    weights = {
        r.doc_id: sum(llr[_py_bucket(t)] for t in r.text.split(" "))
        for r in docs
        if r.source not in DSIR_TARGET_SOURCES
    }
    want = sorted(weights.items(), key=lambda kv: (-kv[1], kv[0]))[:DSIR_TOP_N]

    got = [(r.doc_id, r.weight_unats) for r in q_dsir_select(spark, SF_SMALL).collect()]
    assert got == want


def test_dsir_budget_matches_pure_python_exactly(spark):
    """The hierarchical banded cumsum must equal a flat Python scan in
    (weight DESC, doc_id ASC) order — selected set AND every cum_before."""
    from dbt_parquet_spark.operators.selection import DSIR_TOKEN_BUDGET, q_dsir_budget

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "source", "text").collect()
    llr = _py_llr(docs)
    pool = [
        (
            r.doc_id,
            len(r.text.split(" ")),
            sum(llr[_py_bucket(t)] for t in r.text.split(" ")),
        )
        for r in docs
        if r.source not in DSIR_TARGET_SOURCES
    ]
    pool.sort(key=lambda x: (-x[2], x[0]))
    want, cum = {}, 0
    for doc_id, n_tok, w in pool:
        if cum < DSIR_TOKEN_BUDGET:
            want[doc_id] = (n_tok, w, cum)
        cum += n_tok

    got = {
        r.doc_id: (r.n_tokens, r.weight_unats, r.cum_before)
        for r in q_dsir_budget(spark, SF_SMALL).collect()
    }
    assert got == want
    assert 0 < len(got) < len(pool)  # budget bites but keeps something


def test_dsir_excludes_target_sources(spark):
    srcs = {r.source for r in q_dsir_select(spark, SF_SMALL).select("source").distinct().collect()}
    assert srcs.isdisjoint(set(DSIR_TARGET_SOURCES))


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))


def test_semdedup_keep_rule_is_exact(spark):
    """A vector is dropped iff some lower-id vector in the SAME cluster has
    cosine >= eps to it — verified exhaustively in Python from the
    operator's own (vec_id, cluster) assignment and the raw embeddings."""
    out = {r.vec_id: (r.cluster, r.is_kept) for r in q_semdedup(spark, SF_SMALL).collect()}
    emb = {
        r.vec_id: list(r.embedding)
        for r in load_table(spark, SF_SMALL, "embeddings").collect()
    }
    assert set(out) == set(emb)
    by_cluster: dict[int, list[int]] = {}
    for vid, (cl, _) in out.items():
        by_cluster.setdefault(cl, []).append(vid)
    for vids in by_cluster.values():
        vids.sort()
        for j, vj in enumerate(vids):
            expect_drop = any(_cos(emb[vi], emb[vj]) >= SEMDEDUP_EPS for vi in vids[:j])
            assert out[vj][1] == (not expect_drop), vj


def test_semdedup_deterministic_under_repartition(spark):
    """K-means must be retrained from scratch at a different partitioning
    and still produce the identical result (exact DECIMAL centroid means),
    so the memoized centroids and assignments are released between the
    two runs."""
    from dbt_parquet_spark import memo

    memo.release(spark, "selection.centroids", "selection.assignments")
    base = sorted(
        (r.vec_id, r.cluster, r.is_kept) for r in q_semdedup(spark, SF_SMALL).collect()
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        memo.release(spark, "selection.centroids", "selection.assignments")
        assert not memo.stats()["by_kind"]["selection.centroids"]
        again = sorted(
            (r.vec_id, r.cluster, r.is_kept) for r in q_semdedup(spark, SF_SMALL).collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == again
    assert any(k for _, _, k in base) and not all(k for _, _, k in base)


def test_profile_single_scan(spark):
    """The profile must come from ONE scan of documents (multi-distinct via
    Expand), not a scan per column."""
    from dbt_parquet_spark.operators.selection import q_profile_table

    plan = q_profile_table(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "Expand" in plan


def test_mixture_budget_is_exact_water_filling(spark):
    """The allocation must match a pure-Python water-filling solve exactly:
    saturated sources contribute their full capacity, everyone else gets
    floor(w * remaining / suffix_weight) at the SAME waterline, the total
    never exceeds the budget, and flooring slack stays under one char per
    source."""
    from dbt_parquet_spark.operators.selection import (
        MIX_BUDGET_DEN,
        MIX_BUDGET_NUM,
        q_mixture_budget,
    )

    rows = {r.source: r for r in q_mixture_budget(spark, SF_SMALL).collect()}
    caps = {s: (r.capacity, r.weight) for s, r in rows.items()}
    budget = sum(n for n, _ in caps.values()) * MIX_BUDGET_NUM // MIX_BUDGET_DEN

    # pure-Python reference: identical ordering rule (integer sortkey)
    order = sorted(caps, key=lambda s: ((caps[s][0] * 1000000) // caps[s][1], s))
    want, rem = {}, budget
    suffw = sum(w for _, w in caps.values())
    pending = list(order)
    while pending:
        s = pending[0]
        n, w = caps[s]
        if n * suffw <= rem * w:  # saturates at the current waterline
            want[s] = n
            rem -= n
            suffw -= w
            pending.pop(0)
        else:
            break
    for s in pending:  # below the line: same waterline for all
        n, w = caps[s]
        want[s] = min(n, (w * rem) // suffw)

    got = {s: r.alloc for s, r in rows.items()}
    assert got == want
    total = sum(got.values())
    assert total <= budget
    assert budget - total < len(caps)  # flooring loses < 1 char per source
    assert any(got[s] == caps[s][0] for s in caps) or budget >= sum(
        n for n, _ in caps.values()
    )


def _py_water_fill(caps: dict, budget: int) -> dict:
    order = sorted(caps, key=lambda s: ((caps[s][0] * 1000000) // caps[s][1], s))
    want, rem = {}, budget
    suffw = sum(w for _, w in caps.values())
    pending = list(order)
    while pending:
        n, w = caps[pending[0]]
        if n * suffw <= rem * w:
            want[pending[0]] = n
            rem -= n
            suffw -= w
            pending.pop(0)
        else:
            break
    for s in pending:
        n, w = caps[s]
        want[s] = min(n, (w * rem) // suffw)
    return want


def test_water_fill_property_random_frames(spark):
    """water_fill must equal the pure-Python solve on adversarial frames:
    tiny/huge capacities, repeated capacity-per-weight ratios, budgets from
    0 to beyond total."""
    from hypothesis import given, settings, strategies as st

    from dbt_parquet_spark.operators.selection import water_fill

    frame = st.dictionaries(
        st.sampled_from([f"s{i}" for i in range(8)]),
        st.tuples(st.integers(1, 10**9), st.integers(1, 7)),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=8, deadline=None)
    @given(frame, st.integers(0, 130))
    def check(caps, pct):
        budget = sum(n for n, _ in caps.values()) * pct // 100
        caps_df = spark.createDataFrame(
            [(s, n, w) for s, (n, w) in caps.items()], "source STRING, n LONG, w LONG"
        )
        budget_df = spark.createDataFrame([(budget,)], "t LONG")
        got = {r.source: r.alloc for r in water_fill(caps_df, budget_df).collect()}
        assert got == _py_water_fill(caps, budget), (caps, budget)

    check()


# --- priority sampling ---------------------------------------------------------


def _py_priority_sample(docs, k=64, m=2_147_483_648):
    pri = []
    for r in docs:
        u = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16) % m + 1
        pri.append((float(r.n_chars) * float(m) / float(u), r.doc_id, r.n_chars))
    order = sorted(pri, key=lambda t: (-t[0], t[1]))
    sel, tail = order[:k], order[k : k + 1]
    tau = tail[0][0] if tail else None
    out = {}
    for p, doc_id, w in sel:
        w_hat = float(w) if tau is None else max(float(w), tau)
        out[doc_id] = (w, p, w_hat)
    return out


def test_priority_sample_matches_pure_python_exactly(spark):
    """The draw, priorities, and estimation weights are all bit-identical
    to an independent pure-Python implementation of Duffield-Lund-Thorup."""
    from dbt_parquet_spark.operators.selection import q_priority_sample

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "n_chars").collect()
    expected = _py_priority_sample(docs)
    got = {r.doc_id: (r.w, r.priority, r.w_hat) for r in q_priority_sample(spark, SF_SMALL).collect()}
    assert got == expected


def test_priority_sample_estimator_is_unbiased_over_thresholds(spark):
    """Priority sampling's defining property on the DRAWN sample: every
    selected item has w_hat = max(w, tau) >= w, tau is strictly below the
    k-th selected priority band, and the w_hat-sum tracks the true total
    char mass within the scheme's expected relative error (~1/sqrt(k))."""
    from dbt_parquet_spark.operators.selection import (
        PRIORITY_SAMPLE_K,
        q_priority_sample,
    )

    rows = q_priority_sample(spark, SF_SMALL).collect()
    assert len(rows) == PRIORITY_SAMPLE_K
    assert all(r.w_hat >= float(r.w) for r in rows)
    total = sum(
        r.n_chars for r in load_table(spark, SF_SMALL, "documents").select("n_chars").collect()
    )
    est = sum(r.w_hat for r in rows)
    assert abs(est - total) / total < 3.0 / math.sqrt(PRIORITY_SAMPLE_K)


def test_priority_sample_generic_api_on_orders(spark):
    """The reusable priority_sample over a different frame (orders,
    double weights) matches the pure-Python scheme exactly."""
    from dbt_parquet_spark.operators.selection import priority_sample

    orders = load_table(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
    rows = orders.collect()
    m = 2_147_483_648
    pri = []
    for r in rows:
        u = int(hashlib.md5(str(r.o_orderkey).encode()).hexdigest()[:8], 16) % m + 1
        pri.append((float(r.o_totalprice) * float(m) / float(u), r.o_orderkey, r.o_totalprice))
    order = sorted(pri, key=lambda t: (-t[0], t[1]))
    tau = order[32][0] if len(order) > 32 else None
    expected = {
        doc: (w, p, float(w) if tau is None else max(float(w), tau))
        for p, doc, w in order[:32]
    }
    got = {
        r.o_orderkey: (r.w, r.priority, r.w_hat)
        for r in priority_sample(orders, "o_orderkey", "o_totalprice", 32).collect()
    }
    assert got == expected
