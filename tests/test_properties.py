"""Property-based tests (hypothesis) for the engine's invariant-bearing
utilities: the diff plan, exact decimal aggregation, and shingle/Jaccard
candidate soundness."""

from __future__ import annotations

import decimal

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from dbt_parquet_spark.diff import relations_diff

two_dec = st.decimals(
    min_value=decimal.Decimal("-99999.99"),
    max_value=decimal.Decimal("99999.99"),
    places=2,
    allow_nan=False,
    allow_infinity=False,
)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=30, unique=True))
def test_diff_counts_removed_rows(spark, removed):
    base = spark.range(60).select("id", (F.col("id") * 7).alias("v"))
    fewer = base.filter(~F.col("id").isin(removed))
    row = relations_diff(base, fewer).first()
    assert row.row_count_difference == len(removed)
    assert row.num_mismatched == len(removed)


@settings(max_examples=8, deadline=None)
@given(st.lists(two_dec, min_size=1, max_size=60))
def test_exact_decimal_sum_matches_python(spark, values):
    """The determinism contract of functions/exact.py: Spark's decimal sum of
    2-decimal doubles equals exact Python Decimal arithmetic, regardless of
    partitioning."""
    doubles = [float(v) for v in values]
    df = spark.createDataFrame([(x,) for x in doubles], "x: double").repartition(7)
    got = df.agg(F.sum(F.col("x").cast("decimal(12,2)")).cast("double").alias("s")).first().s
    want = float(sum(decimal.Decimal(str(x)).quantize(decimal.Decimal("0.01")) for x in values))
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=12, max_size=40).map(lambda s: " ".join(s.split()) or "a"),
        min_size=2,
        max_size=8,
    )
)
def test_shingle_blocking_is_sound(spark, texts):
    """Any pair with shingle-Jaccard > 0 shares a shingle ⇒ the shared-
    shingle candidate join can never miss a qualifying pair (exact
    blocking, SURVEY q_dedup_ngram_jaccard)."""
    from dbt_parquet_spark.operators.dedup import pairs_from_buckets

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    k = 3
    sets = {}
    for i, t in rows:
        toks = t.split(" ")
        sets[i] = {" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)}
    expected_pairs = {
        (a, b)
        for a in sets
        for b in sets
        if a < b and sets[a] & sets[b]
    }
    from pyspark.sql import Window

    toks = docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = toks.select(
        "doc_id", "tok", *[F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, k)]
    )
    exploded = (
        leads.filter(F.col(f"t{k-1}").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, k)]).alias("s"))
        .distinct()
    )
    got_pairs = {(r.d1, r.d2) for r in pairs_from_buckets(exploded, ["s"], max_bucket=10**6).collect()}
    assert got_pairs == expected_pairs


def test_zorder_column_matches_reference_and_is_monotone(spark):
    """zorder_column must equal the classic bit-interleave (python
    reference) and be monotone in each coordinate (spreading bits is
    order-preserving) — the property that makes min/max row-group pruning
    sound on every z-ordered column. The pairs span [0, 65535] on both
    axes, so the MIN/MAX quantization onto the 16-bit grid is the
    identity."""
    import random

    from dbt_parquet_spark.operators.layout import zorder_column

    def ref_morton(a: int, b: int, bits: int = 16) -> int:
        out = 0
        for j in range(bits):
            out |= ((a >> j) & 1) << (2 * j)
            out |= ((b >> j) & 1) << (2 * j + 1)
        return out

    rng = random.Random(42)
    pairs = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(500)]
    pairs += [(0, 0), (65535, 65535), (0, 65535), (65535, 0), (1, 0), (0, 1)]
    df = spark.createDataFrame(pairs, "a: long, b: long")
    got = {
        (r.a, r.b): r.z
        for r in df.select("a", "b", zorder_column(df, "a", "b").alias("z")).collect()
    }
    for a, b in pairs:
        assert got[(a, b)] == ref_morton(a, b), (a, b)
    # monotone in each coordinate
    s = sorted(pairs)
    for (a1, b1), (a2, b2) in zip(s, s[1:]):
        if a1 <= a2 and b1 <= b2:
            assert ref_morton(a1, b1) <= ref_morton(a2, b2)


def test_neardup_chunk_bits_monotone_and_clamped():
    from dbt_parquet_spark.operators.similarity import (
        NEARDUP_MAX_BITS,
        NEARDUP_MIN_BITS,
        neardup_chunk_bits,
    )

    prev = None
    for n in [1, 10, 500, 512, 513, 2000, 10**5, 10**7, 10**9, 10**12]:
        bits = neardup_chunk_bits(n)
        assert NEARDUP_MIN_BITS <= bits <= NEARDUP_MAX_BITS
        if prev is not None:
            assert bits >= prev  # monotone non-decreasing in corpus size
        prev = bits
    assert neardup_chunk_bits(500) == 8
    assert neardup_chunk_bits(10**12) == NEARDUP_MAX_BITS


span_corpora = st.lists(
    st.lists(st.sampled_from("abcdefg"), min_size=0, max_size=14),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None)
@given(span_corpora)
def test_span_scrub_matches_python_reference(spark, corpora):
    """span_scrub == brute-force python reference on tiny random corpora:
    positioned k-grams, document frequency >= min_docs, covered-position
    union, ordered reconstruction — including <k-token docs and the
    all-covered empty-string case."""
    from dbt_parquet_spark.operators.dedup import span_scrub

    K, MIN_DOCS = 3, 2
    rows = [(i, list(toks)) for i, toks in enumerate(corpora)]
    df = spark.createDataFrame(rows, "doc_id: long, toks: array<string>")
    got = {r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
           for r in span_scrub(df, k=K, min_docs=MIN_DOCS).collect()}

    # python reference
    from collections import defaultdict
    df_count = defaultdict(set)
    for i, toks in rows:
        for p in range(len(toks) - K + 1):
            df_count[tuple(toks[p:p + K])].add(i)
    frequent = {g for g, docs in df_count.items() if len(docs) >= MIN_DOCS}
    for i, toks in rows:
        covered = set()
        for p in range(len(toks) - K + 1):
            if tuple(toks[p:p + K]) in frequent:
                covered.update(range(p, p + K))
        kept = [t for j, t in enumerate(toks) if j not in covered]
        want = (len(toks), len(covered), " ".join(kept))
        assert got[i] == want, (i, toks, got[i], want)


def test_winnowing_shared_passage_guarantee(spark, tmp_path):
    """The winnowing guarantee (Schleimer et al. 2003, thm 1): two documents
    sharing a substring of >= W+K-1 tokens must share at least one selected
    fingerprint — and here the shared passage's fingerprints must agree at
    the corresponding positions. Also pins the density bound: selected
    fingerprints number far fewer than grams (~2/(W+1))."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from dbt_parquet_spark.operators.text import WINNOW_K, WINNOW_W, q_winnowing

    shared = " ".join(f"common{i}" for i in range(WINNOW_W + WINNOW_K - 1 + 6))
    texts = [
        f"{' '.join(f'a{i}' for i in range(30))} {shared} {' '.join(f'b{i}' for i in range(30))}",
        f"{' '.join(f'c{i}' for i in range(17))} {shared} {' '.join(f'd{i}' for i in range(25))}",
        " ".join(f"solo{i}" for i in range(70)),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1, 2], pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    papq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = q_winnowing(spark, str(tmp_path)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[0] & by_doc[1], "shared passage produced no shared fingerprint"
    assert not (by_doc[0] & by_doc[2]) and not (by_doc[1] & by_doc[2])
    n_grams_0 = len(texts[0].split()) - WINNOW_K + 1
    assert len(by_doc[0]) < n_grams_0 / 2, "winnowing selected too densely"


winnow_corpora = st.lists(
    st.lists(st.sampled_from("abcd"), min_size=0, max_size=16),
    min_size=1,
    max_size=5,
)


@settings(max_examples=10, deadline=None)
@given(winnow_corpora)
def test_winnowing_matches_python_reference(spark, corpora):
    """winnow_fingerprints == brute-force python winnowing on tiny random
    corpora: k-gram md5-prefix hashes, rightmost-minimal selection per
    w-window, distinct (pos, fp) — including <k-token docs (no grams) and
    <w-gram docs (no windows)."""
    import hashlib

    from dbt_parquet_spark.operators.text import winnow_fingerprints

    K, W = 3, 4
    rows = [(i, list(toks)) for i, toks in enumerate(corpora)]
    df = spark.createDataFrame(rows, "doc_id: long, toks: array<string>")
    got = {
        (r.doc_id, r.pos, r.fp)
        for r in winnow_fingerprints(df, k=K, w=W).collect()
    }

    want = set()
    for i, toks in rows:
        hs = [
            hashlib.md5(" ".join(toks[p : p + K]).encode()).hexdigest()[:8]
            for p in range(len(toks) - K + 1)
        ]
        for j in range(len(hs) - W + 1):
            m = min(hs[j : j + W])
            pos = max(q for q in range(j, j + W) if hs[q] == m)
            want.add((i, pos + 1, m))  # 1-based gram positions
    assert got == want, (corpora, got ^ want)


substr_corpora = st.lists(
    st.lists(st.sampled_from("abcd"), min_size=0, max_size=16),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None)
@given(substr_corpora)
def test_substring_spans_match_python_reference(spark, corpora):
    """substring_spans/_scrub == brute-force reference on tiny random
    corpora: L-gram occurrence counts (same-doc repeats INCLUDED), the
    covered-position witness-set reduction, maximal-run island merging,
    and the scrub reconstruction — including empty docs and docs shorter
    than L."""
    from dbt_parquet_spark.operators.dedup import substring_scrub, substring_spans

    L, MIN_COUNT = 3, 2
    rows = [(i, list(toks)) for i, toks in enumerate(corpora)]
    df = spark.createDataFrame(rows, "doc_id: long, toks: array<string>")
    got_spans = {
        (r.doc_id, r.span_start, r.span_end, r.n_span_tokens)
        for r in substring_spans(df, L=L, min_count=MIN_COUNT).collect()
    }
    got_scrub = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
        for r in substring_scrub(df, L=L, min_count=MIN_COUNT).collect()
    }

    from collections import Counter

    occ = Counter()
    for i, toks in rows:
        for p in range(len(toks) - L + 1):
            occ[tuple(toks[p : p + L])] += 1
    dup = {g for g, c in occ.items() if c >= MIN_COUNT}
    want_spans = set()
    for i, toks in rows:
        starts = sorted(
            p + 1 for p in range(len(toks) - L + 1) if tuple(toks[p : p + L]) in dup
        )
        runs = []
        for s in starts:
            if runs and s <= runs[-1][1] + L:
                runs[-1][1] = s
            else:
                runs.append([s, s])
        for a, b in runs:
            want_spans.add((i, a, b + L - 1, b + L - 1 - a + 1))
        covered = set()
        for s in starts:
            covered.update(range(s, s + L))  # 1-based
        kept = [t for j, t in enumerate(toks) if (j + 1) not in covered]
        want = (len(toks), len(covered), " ".join(kept))
        assert got_scrub[i] == want, (i, toks, got_scrub[i], want)
    assert got_spans == want_spans
