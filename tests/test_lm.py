"""Kneser-Ney bigram LM: pure-Python parity pin plus the defining
normalization property (observed discounted mass + backoff weight = 1 per
context)."""

from __future__ import annotations

import math

from dbt_parquet_spark.operators.text import KN_DISCOUNT, q_kneser_ney
from dbt_parquet_spark.sources.readers import load_table

from .conftest import SF_SMALL


def _py_kn(docs, d=KN_DISCOUNT):
    counts: dict[tuple[str, str], int] = {}
    for r in docs:
        t = r.text.split(" ")
        for a, b in zip(t, t[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    ctx: dict[str, int] = {}
    n1f: dict[str, int] = {}
    n1p: dict[str, int] = {}
    for (a, b), c in counts.items():
        ctx[a] = ctx.get(a, 0) + c
        n1f[a] = n1f.get(a, 0) + 1
        n1p[b] = n1p.get(b, 0) + 1
    nbt = len(counts)
    out = {}
    for (a, b), c in counts.items():
        p = ((float(c) - d) / float(ctx[a])) + (
            ((d * float(n1f[a])) / float(ctx[a])) * (float(n1p[b]) / float(nbt))
        )
        out[(a, b)] = (c, math.floor(1000000.0 * p))
    return out, ctx, n1f


def test_kneser_ney_matches_pure_python_exactly(spark):
    docs = load_table(spark, SF_SMALL, "documents").select("text").collect()
    expected, _, _ = _py_kn(docs)
    got = {(r.w1, r.w2): (r.c, r.p_kn_ppm) for r in q_kneser_ney(spark, SF_SMALL).collect()}
    assert got == expected


def test_kneser_ney_discounted_mass_plus_backoff_is_one(spark):
    """Per context w1: sum over observed w2 of (c-d)/ctx plus the backoff
    weight lambda(w1) = d*N1+(w1.)/ctx must equal 1 — the property that
    makes interpolated KN a probability distribution once the backoff mass
    is spread over p_cont."""
    docs = load_table(spark, SF_SMALL, "documents").select("text").collect()
    expected, ctx, n1f = _py_kn(docs)
    per_ctx: dict[str, float] = {}
    for (a, _b), (c, _p) in expected.items():
        per_ctx[a] = per_ctx.get(a, 0.0) + (float(c) - KN_DISCOUNT) / float(ctx[a])
    for a, mass in per_ctx.items():
        lam = (KN_DISCOUNT * float(n1f[a])) / float(ctx[a])
        assert abs(mass + lam - 1.0) < 1e-9, a


def test_kn_threshold_matches_corpus_split_rule():
    from dbt_parquet_spark.operators.corpus import TRAIN_THRESHOLD
    from dbt_parquet_spark.operators.text import KN_TRAIN_THRESHOLD

    assert KN_TRAIN_THRESHOLD == TRAIN_THRESHOLD


def test_kn_doc_score_backoff_ladder_on_constructed_corpus(spark, tmp_path):
    """The shipped corpus' dense vocabulary never misses a train bigram, so
    the backoff ladder is pinned on a constructed corpus where test docs
    contain (a) unseen bigrams over seen words, (b) unseen first words, and
    (c) unseen second words — every CASE branch must fire and the Spark
    result must still hash-match the DuckDB oracle on that corpus."""
    import hashlib

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as papq

    from dbt_parquet_spark.operators.text import KN_TRAIN_THRESHOLD
    from dbt_parquet_spark.registry import load_all
    from tests.oracle_utils import compare_spark_duckdb

    def is_train(doc_id: int) -> bool:
        return hashlib.md5(str(doc_id).encode()).hexdigest() < KN_TRAIN_THRESHOLD

    train_ids = [i for i in range(100) if is_train(i)]
    test_ids = [i for i in range(100) if not is_train(i)]
    assert len(train_ids) >= 2 and len(test_ids) >= 3
    docs = {train_ids[0]: "aa bb cc aa bb", train_ids[1]: "bb cc dd aa"}
    # test doc 1: seen words, one unseen bigram (cc aa is seen; aa cc unseen)
    docs[test_ids[0]] = "aa cc dd"
    # test doc 2: unseen first word 'zz' (ctx NULL, cont seen for 'bb')
    docs[test_ids[1]] = "zz bb cc"
    # test doc 3: unseen second word 'qq' (floor branch) and seen prefix
    docs[test_ids[2]] = "aa qq"
    ids = sorted(docs)
    tbl = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([docs[i] for i in ids], pa.string()),
            "lang": pa.array(["en"] * len(ids), pa.string()),
            "source": pa.array(["src0"] * len(ids), pa.string()),
            "n_chars": pa.array([len(docs[i]) for i in ids], pa.int64()),
        }
    )
    d = str(tmp_path / "kn_corpus")
    import os

    os.makedirs(d)
    papq.write_table(tbl, os.path.join(d, "documents.parquet"))

    # fresh scaffolds for the throwaway corpus
    from dbt_parquet_spark import memo

    memo.release(spark, "dedup")
    spec = load_all()["q_kn_doc_score"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{d}/documents.parquet')"
    )
    ok, msg = compare_spark_duckdb(spec.builder(spark, d), con, spec.oracle)
    assert ok, msg
    memo.release(spark, "dedup")

    # the ladder: every branch fired (recompute case assignment in python)
    counts = {}
    for i in train_ids[:2]:
        t = docs[i].split(" ")
        for a, b in zip(t, t[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    w1s = {a for a, _ in counts}
    w2s = {b for _, b in counts}
    cases = set()
    for i in test_ids[:3]:
        t = docs[i].split(" ")
        for a, b in zip(t, t[1:]):
            if (a, b) in counts:
                cases.add("full")
            elif a in w1s and b in w2s:
                cases.add("backoff")
            elif b in w2s:
                cases.add("cont")
            else:
                cases.add("floor")
    assert cases == {"full", "backoff", "cont", "floor"}, cases
