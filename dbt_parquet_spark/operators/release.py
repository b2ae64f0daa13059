"""End-to-end corpus release: the flagship "what the engine is FOR" query.

Composes the independently-verified curation stages into one released
corpus, per the staged semantics of tests/test_pipeline_materialized.py
(each stage's population feeds the next):

1. near-dup clusters (verified shingle-Jaccard pairs -> connected
   components) -> drop every cluster member except the highest-quality one
   (integer-ppm quality, doc_id tiebreak);
2. per-source quality prune: thresholds are the 0.25 quantile of the
   POST-DEDUP population per source (pruning before dedup would let
   duplicate clusters distort their source's distribution);
3. span scrub over the KEPT corpus: remove passages repeated across the
   surviving docs, emit the reconstructed released text.

Fully oracle-checked: the DuckDB oracle chains the same recursive-CTE
closure, exact-dyadic quantile, and the SHARED span CTE render
(dedup.span_sql_ctes — one definition, two oracles).

Scale: every stage is the already-gated shape — posting-join candidates,
checkpointed label propagation (convergence scalar only on the driver),
broadcast threshold table, single-shuffle span postings. The release
decision tables (drops, thresholds) are near-dup-edge- and
source-cardinality-sized, never corpus-sized. Production materializes each
stage through the catalog (tests/test_release_pipeline.py publishes the
released table + its shard manifest and round-trips a fresh catalog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..registry import register
from ..sources.readers import load_table
from .corpus import PRUNE_PCT, QUALITY_PPM_SQL, quality_ppm_expr
from .dedup import (
    NGRAM_PAIRS_CTES,
    SUBSTR_L,
    span_scrub,
    span_sql_ctes,
    substr_sql_ctes,
    substring_scrub,
)
from .graph import dedup_component_labels


# The dedup→select→prune CTE chain ending in the `kept` relation — shared
# by every oracle that composes over the release pipeline's survivor set
# (q_corpus_release here, q_release_substring_scrub below), so the keep
# semantics can never drift between them. Callers prepend WITH RECURSIVE.
KEPT_CTES = f"""{NGRAM_PAIRS_CTES},
    sym AS (
        SELECT d1 AS src, d2 AS dst FROM ngram_pairs
        UNION
        SELECT d2, d1 FROM ngram_pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ),
    comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
        FROM reach GROUP BY src
    ),
    q AS (
        SELECT doc_id, source, text, {QUALITY_PPM_SQL} AS quality
        FROM documents
    ),
    ranked AS (
        SELECT c.doc_id,
               ROW_NUMBER() OVER (PARTITION BY c.component_id
                                  ORDER BY q.quality DESC, c.doc_id) AS rn
        FROM comp c JOIN q USING (doc_id)
    ),
    dedup AS (
        SELECT * FROM q
        WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
    ),
    thresholds AS (
        SELECT source, quantile_cont(quality, {PRUNE_PCT}) AS thr
        FROM dedup GROUP BY source
    ),
    kept AS (
        SELECT d.doc_id, d.source, d.text, d.quality
        FROM dedup d JOIN thresholds t USING (source)
        WHERE d.quality >= t.thr
    )"""


@register(
    "q_corpus_release",
    oracle=f"""
    WITH RECURSIVE {KEPT_CTES},
    {span_sql_ctes("kept")}
    SELECT t.doc_id, k.source, k.quality,
           COUNT(*) AS n_tokens,
           COUNT(c.pos) AS n_removed,
           COALESCE(string_agg(CASE WHEN c.pos IS NULL THEN t.pt.tok END,
                               ' ' ORDER BY t.pt.pos), '') AS released_text
    FROM toks t
    LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pt.pos = c.pos
    JOIN kept k ON t.doc_id = k.doc_id
    GROUP BY t.doc_id, k.source, k.quality
    """,
    tags=("corpus", "release", "dedup", "quality", "pipeline"),
)
def q_corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The released corpus: one row per surviving document with its source,
    ppm quality, token accounting, and span-scrubbed released text. See
    module docstring for the three composed stages and their ordering
    rationale."""
    kept = _kept_docs(spark, sf_dir)
    scrub = span_scrub(kept.select("doc_id", F.split("text", " ").alias("toks")))
    return scrub.join(kept.select("doc_id", "source", "quality"), "doc_id").select(
        "doc_id",
        "source",
        "quality",
        "n_tokens",
        "n_removed",
        F.col("cleaned_text").alias("released_text"),
    )


def _kept_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted post-dedup post-prune keep set, memoized per sf_dir —
    the release pipeline's stage boundary. Three plan branches read it
    (span grams, span reconstruction, final attribute join); without the
    persist barrier each branch re-runs the whole dedup+threshold lineage
    (measured 3x, 40 exchanges at sf0.01). In production this boundary is
    a catalog-materialized table instead (tests/test_release_pipeline.py)."""
    return memo.scaffold(spark, "release.kept", sf_dir, lambda: _build_kept(spark, sf_dir))


def _build_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = dedup_component_labels(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    q = docs.select("doc_id", "source", "text", quality_ppm_expr().alias("quality"))

    w = Window.partitionBy("component_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    drops = (
        comp.join(q.select("doc_id", "quality"), "doc_id")
        .select("doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    dedup = q.join(drops, "doc_id", "left_anti")
    thresholds = dedup.groupBy("source").agg(
        F.expr(f"percentile(quality, {PRUNE_PCT})").alias("thr")
    )
    kept = (
        dedup.join(F.broadcast(thresholds), "source")
        .filter(F.col("quality") >= F.col("thr"))
        .select("doc_id", "source", "text", "quality")
        .persist()
    )
    kept.count()
    return kept


@register(
    "q_release_substring_scrub",
    oracle=f"""
    WITH RECURSIVE {KEPT_CTES},
    {substr_sql_ctes("kept")},
    scov AS (
        SELECT DISTINCT d.doc_id, d.pos + off.o AS pos
        FROM sdups d, (SELECT unnest(range(0, {SUBSTR_L})) AS o) off
    ),
    stoks AS (
        SELECT doc_id, unnest(list_transform(range(1, len(sp)+1),
            i -> {{'pos': i, 'tok': sp[i]}})) AS pt
        FROM sbase
    )
    SELECT t.doc_id, k.source, k.quality,
           COUNT(*) AS n_tokens,
           COUNT(c.pos) AS n_removed,
           COALESCE(string_agg(CASE WHEN c.pos IS NULL THEN t.pt.tok END,
                               ' ' ORDER BY t.pt.pos), '') AS released_text
    FROM stoks t
    LEFT JOIN scov c ON t.doc_id = c.doc_id AND t.pt.pos = c.pos
    JOIN kept k ON t.doc_id = k.doc_id
    GROUP BY t.doc_id, k.source, k.quality
    """,
    tags=("corpus", "release", "dedup", "substring", "pipeline"),
)
def q_release_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ExactSubstr leg of the release pipeline: the same
    dedup→select→prune survivor set as q_corpus_release (the memoized
    _kept_docs stage boundary), scrubbed of maximal duplicated runs
    (operators/dedup.substring_scrub) instead of short frequent spans — the
    second scrub pass a production release runs after the boilerplate one.
    Duplicate detection runs WITHIN the kept set: dropping a component's
    loser docs can legitimately leave the winner's text intact, so the
    substring pass sees only text that will actually ship."""
    kept = _kept_docs(spark, sf_dir)
    scrub = substring_scrub(kept.select("doc_id", F.split("text", " ").alias("toks")))
    return scrub.join(kept.select("doc_id", "source", "quality"), "doc_id").select(
        "doc_id",
        "source",
        "quality",
        "n_tokens",
        "n_removed",
        F.col("cleaned_text").alias("released_text"),
    )
