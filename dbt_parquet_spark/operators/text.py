"""Text-analysis operators over the ``documents`` table — the training-data
pipeline surface (north star in BASELINE.json; beyond the reference's own
operators, which are pure SQL pass-through — reference connections.py:146-162).

All hot-path logic is JVM-side built-ins (split/regexp/aggregate) — no Python
UDFs — so whole-stage codegen applies and the operators scale linearly with
no shuffle except where aggregation demands one.

Tokenization convention (shared with dedup.py): whitespace split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..registry import register
from ..sources.readers import load_table

# Tiny embedded stopword list — deterministic, mirrored verbatim in oracles.
STOPWORDS = ("the", "a", "of", "and", "to")
_STOP_SQL = "('" + "', '".join(STOPWORDS) + "')"


def tokens(col: Column) -> Column:
    return F.split(col, " ")


@register(
    "q_text_stats",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           length(text) AS n_chars_measured,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / len(string_split(text, ' ')) AS avg_token_len,
           CAST(len(list_filter(string_split(text, ' '), t -> t IN {_STOP_SQL})) AS DOUBLE)
             / len(string_split(text, ' ')) AS stopword_ratio
    FROM documents
    """,
    tags=("text",),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality stats: token count, distinct tokens, char
    length, mean token length, stopword ratio — the standard quality-scoring
    signals for corpus filtering.

    All ratios are integer-over-integer double divisions → bit-deterministic.
    Scale: narrow map-only projection; codegen end-to-end, no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_measured"),
        (F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_tok).alias(
            "avg_token_len"
        ),
        (
            F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double") / n_tok
        ).alias("stopword_ratio"),
    )


@register(
    "q_token_count",
    oracle=r"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-z]+')) AS n_word_tokens,
           CAST(ceil(length(replace(text, ' ', '')) / 4.0) AS BIGINT) AS n_bpe_est
    FROM documents
    """,
    tags=("text", "tokenize"),
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, regex word tokens, and the
    standard chars/4 BPE estimate — the budget arithmetic of LLM corpus prep.

    Scale: map-only; regexp stays in codegen (JVM regex).
    """
    docs = load_table(spark, sf_dir, "documents")
    no_space = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    return docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), 0)).alias("n_word_tokens"),
        F.ceil(no_space / 4.0).cast("bigint").alias("n_bpe_est"),
    )


@register(
    "q_lang_id",
    oracle=f"""
    SELECT doc_id, lang,
           CAST(len(list_filter(string_split(text, ' '), t -> t IN {_STOP_SQL})) AS DOUBLE)
             / len(string_split(text, ' ')) AS en_score,
           CASE WHEN CAST(len(list_filter(string_split(text, ' '), t -> t IN {_STOP_SQL})) AS DOUBLE)
                     / len(string_split(text, ' ')) >= 0.05
                THEN 'en' ELSE 'other' END AS lang_pred
    FROM documents
    """,
    tags=("text", "langid"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-hit ratio against an English function-
    word list, thresholded. (The classic n-gram/profile approach reduced to a
    deterministic, engine-portable scorer; the synthetic corpus shares one
    vocabulary across langs, so this demonstrates mechanism, not accuracy.)

    Scale: map-only; the stopword list broadcasts as a literal.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    score = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double") / F.size(toks)
    return docs.select(
        "doc_id",
        "lang",
        score.alias("en_score"),
        F.when(score >= 0.05, F.lit("en")).otherwise(F.lit("other")).alias("lang_pred"),
    )


@register(
    "q_explode",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
    WHERE doc_id < 50
    """,
    tags=("explode", "generator"),
)
def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/table function: explode ⇔ unnest — one output row per
    token, multiplicities preserved (the row-expansion primitive under all
    the shingling/dedup operators).

    Scale: explode is pipelined (no shuffle); row count multiplies by
    tokens-per-doc, so always project to the minimal columns first.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") < 50).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )


@register(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized, lowercased
    text — the content-addressable ID used for exact dedup across shards.
    md5 is identical across engines, so this is fully oracle-checked.

    Scale: map-only; fingerprint then becomes the dedup/groupBy key, which
    shuffles 16 bytes per doc instead of the full text.
    """
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return docs.select("doc_id", F.md5(normalized).alias("fingerprint"))


@register(
    "q_repetition_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    grams AS (
        SELECT doc_id, n,
               list_transform(range(1, n), i -> t[i] || ' ' || t[i+1]) AS bg
        FROM toks
    ),
    tok_counts AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        GROUP BY doc_id, tok
    ),
    top_tok AS (
        SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_tok
        FROM tok_counts GROUP BY doc_id
    )
    SELECT g.doc_id,
           CAST(top_tok.n_tok AS BIGINT) AS n_tokens,
           1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dup_bigram_frac,
           CAST(top_tok.top_c AS DOUBLE) / top_tok.n_tok AS top_token_frac
    FROM grams g JOIN top_tok ON g.doc_id = top_tok.doc_id
    WHERE g.n >= 2
    """,
    tags=("text", "repetition", "quality"),
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics: duplicate-bigram fraction and
    top-token fraction per document — the filters that catch boilerplate
    and degenerate repetition in web corpora (high dup_bigram_frac ⇒
    templated text; high top_token_frac ⇒ token spam).

    Both ratios are integer-count quotients → one IEEE divide, identical
    in any engine: fully oracle-checked.

    Scale: bigrams come from explode + LEAD over the per-doc window (the
    doc_shingles pattern — array lambdas would re-tokenize per element),
    so the whole plan is one shuffle on doc_id reused by both the window
    and the aggregations.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    with_next = tok.select(
        "doc_id", "tok", F.lead("tok").over(w).alias("nxt")
    )
    grams = (
        with_next.filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("bg"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bg"),
            F.countDistinct("bg").alias("n_distinct_bg"),
        )
    )
    tok_counts = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    top = tok_counts.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_tok")
    )
    return (
        grams.join(top, "doc_id")
        .filter(F.col("n_tok") >= 2)
        .select(
            "doc_id",
            F.col("n_tok").alias("n_tokens"),
            (
                F.lit(1.0)
                - F.col("n_distinct_bg").cast("double") / F.col("n_bg")
            ).alias("dup_bigram_frac"),
            (F.col("top_c").cast("double") / F.col("n_tok")).alias("top_token_frac"),
        )
    )


# Pattern-based redaction (PII-scrubbing shape). Patterns are data, not
# code: each (name, regex) pair is applied in order with a bracketed
# placeholder, the way email/phone/SSN scrubbers run over a real corpus.
# The demo patterns target tokens that EXIST in the synthetic corpus so the
# oracle check is non-vacuous (the corpus has no digits — real PII regexes
# would trivially match nothing); swap in PII regexes for production.
# Both engines use RE2-compatible syntax (\b word bounds) and
# replace-all-occurrences semantics.
REDACT_PATTERNS = (
    ("NAME", r"\bcustomer\b"),
    ("ID", r"\bkey\b"),
)


@register(
    "q_redact_pii",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(text,
               '{REDACT_PATTERNS[0][1]}', '[{REDACT_PATTERNS[0][0]}]', 'g'),
               '{REDACT_PATTERNS[1][1]}', '[{REDACT_PATTERNS[1][0]}]', 'g') AS redacted,
           len(regexp_extract_all(text, '{REDACT_PATTERNS[0][1]}'))
             + len(regexp_extract_all(text, '{REDACT_PATTERNS[1][1]}')) AS n_redactions
    FROM documents
    """,
    tags=("text", "redaction", "pipeline"),
)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-based scrubbing: apply an ordered list of (label, regex)
    rules, replacing every match with a bracketed placeholder, and count
    redactions per document — the compliance pass (emails, phones, ids)
    every training corpus goes through before the tokenizer sees it.

    Scale: map-only regexp_replace chain inside whole-stage codegen — no
    shuffle, no Python; cost is linear in corpus bytes and the regex count.
    At 100 TB the only knob that matters is keeping this JVM-side, which
    built-in regexp_replace does.
    """
    docs = load_table(spark, sf_dir, "documents")
    redacted = F.col("text")
    n_matches = F.lit(0)
    for label, pat in REDACT_PATTERNS:
        n_matches = n_matches + F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0))
        redacted = F.regexp_replace(redacted, pat, f"[{label}]")
    return docs.select(
        "doc_id",
        redacted.alias("redacted"),
        n_matches.alias("n_redactions"),
    )


@register(
    "q_term_saliency",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks WHERE tok <> '' GROUP BY tok)
    SELECT doc_id, tok, tf, df, score, rank FROM (
        SELECT tf.doc_id, tf.tok, tf.tf, df.df,
               CAST(tf.tf AS DOUBLE) / df.df AS score,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.tok ASC
               ) AS rank
        FROM tf JOIN df USING (tok)
    ) ranked
    WHERE rank <= 3
    """,
    tags=("text", "corpus", "tfidf"),
)
def q_term_saliency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document, scored tf/df — the tf-idf family
    with reciprocal document frequency as the idf weight. Deliberately
    log-free: ln() differs in the last ulp across engines, while an
    int/int IEEE division is bit-identical, so the score is oracle-
    hashable (the ranking is the same as tf·idf for any monotone idf(df)
    when comparing a term against itself across docs; for cross-term
    ranking 1/df is the hyperbolic member of the idf family).

    Scale: one shuffle for (doc, term) counts; the term-level df aggregate
    is vocabulary-sized and joins back on the term key (Spark broadcasts it
    when small, hash-shuffles when the vocabulary is huge — both correct);
    the top-k window repartitions by doc_id. No driver-side state.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok")).filter(
        F.col("tok") != ""
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    score = F.col("tf").cast("double") / F.col("df")
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        tf.join(df, "tok")
        .select("doc_id", "tok", "tf", "df", score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


@register(
    "q_quality_rules",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tok,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               CAST(len(replace(text, ' ', '')) AS DOUBLE)
                   / len(string_split(text, ' ')) AS avg_len
        FROM documents
    )
    SELECT doc_id,
           (n_tok BETWEEN 20 AND 100000) AS word_count_ok,
           (avg_len >= 2.0 AND avg_len <= 12.0) AS avg_token_len_ok,
           (CAST(n_distinct AS DOUBLE) / n_tok >= 0.2) AS diversity_ok,
           ((n_tok BETWEEN 20 AND 100000)
            AND (avg_len >= 2.0 AND avg_len <= 12.0)
            AND (CAST(n_distinct AS DOUBLE) / n_tok >= 0.2)) AS passes
    FROM s
    """,
    tags=("text", "quality", "filter"),
)
def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based quality FILTER verdicts (Gopher-rules style): named
    boolean checks per document — word-count bounds, mean-token-length
    band, lexical-diversity floor — plus the combined pass flag. The
    per-rule flags are the production shape (filter-reason accounting /
    ablation), complementing q_quality_score's scalar. All checks are
    integer or int/int-double comparisons → bit-deterministic.

    Scale: narrow map-only projection, whole-stage codegen, no shuffle;
    the downstream keep-filter is `WHERE passes`.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    avg_len = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "double"
    ) / n_tok
    word_ok = (n_tok >= 20) & (n_tok <= 100000)
    len_ok = (avg_len >= 2.0) & (avg_len <= 12.0)
    div_ok = F.size(F.array_distinct(toks)).cast("double") / n_tok >= 0.2
    return docs.select(
        "doc_id",
        word_ok.alias("word_count_ok"),
        len_ok.alias("avg_token_len_ok"),
        div_ok.alias("diversity_ok"),
        (word_ok & len_ok & div_ok).alias("passes"),
    )


# --- Winnowing fingerprints (MOSS, Schleimer et al. 2003) --------------------
# q_fingerprint is whole-document identity; winnowing is the POSITIONAL
# fingerprint scheme used for partial-overlap detection at corpus scale:
# hash every K-gram, slide a W-hash window, keep the RIGHTMOST MINIMAL hash
# per window. Guarantees: any shared substring of length >= W+K-1 yields a
# shared fingerprint, and selected density is ~2/(W+1) of all grams — a
# tunable sketch of every document's content with positions.
WINNOW_K = 4  # gram size
WINNOW_W = 5  # window (hashes per window)


@register(
    "q_winnowing",
    oracle=f"""
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(sp) >= {WINNOW_K} THEN
               list_transform(range(1, len(sp) - {WINNOW_K - 2}),
                 i -> substr(md5({" || ' ' || ".join(f"sp[i+{o}]" for o in range(WINNOW_K))}), 1, 8))
             ELSE [] END AS hs
      FROM base
    ),
    sel AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= {WINNOW_W} THEN
               list_transform(range(1, len(hs) - {WINNOW_W - 2}),
                 j -> {{'pos': list_max(list_filter(range(j, j + {WINNOW_W}),
                           q -> hs[q] = list_min(hs[j:j+{WINNOW_W - 1}]))),
                       'fp': list_min(hs[j:j+{WINNOW_W - 1}])}})
             ELSE [] END AS s
      FROM g
    )
    SELECT DISTINCT doc_id, CAST(u.pos AS BIGINT) AS pos, u.fp AS fp
    FROM (SELECT doc_id, unnest(s) AS u FROM sel)
    """,
    tags=("text", "fingerprint", "winnowing"),
)
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints: (doc_id, gram position, fingerprint)
    for the rightmost-minimal hash of each {WINNOW_W}-hash window over
    {WINNOW_K}-gram md5 prefixes. md5 hex is engine-identical, so selection
    is fully oracle-checked. Fingerprint equality across docs then finds
    PARTIAL overlaps (>= W+K-1 shared tokens) with positions — the
    plagiarism/attribution primitive span dedup's equi-join can build on.

    Scale: map-only over the persisted token arrays (no shuffle at all —
    the explode is narrow); downstream overlap detection is an equi-join on
    fp, i.e. the span-dedup shape at ~2/(W+1) of the posting volume. The
    per-doc window scan is O(tokens·W) array ops in codegen, no Python.
    """
    from .dedup import doc_token_arrays

    return winnow_fingerprints(doc_token_arrays(spark, sf_dir))


def winnow_fingerprints(
    toks_df: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """The winnowing core over a (doc_id, toks: array<string>) DataFrame —
    exposed separately so the property suite can drive it with synthetic
    corpora against a pure-python reference (test_properties.py)."""
    gram = lambda i: F.concat_ws(
        " ", *[F.element_at(F.col("toks"), i + o) for o in range(k)]
    )
    hs = F.when(
        F.size("toks") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (k - 1)),
            lambda i: F.substring(F.md5(gram(i)), 1, 8),
        ),
    ).otherwise(F.array().cast("array<string>"))
    t = toks_df.select("doc_id", hs.alias("hs"))
    n_g = F.size("hs")
    # mins[j] = the minimal hash of window j, computed ONCE per window and
    # bound as its own attribute (r15, guide §1.2 per-task work): the
    # previous form re-evaluated array_min(slice(hs, j, w)) inside the
    # per-position filter lambda — an O(W) string min W+1 times per window
    # (O(grams·W²) total); with the bound array each re-reference is an
    # O(1) element_at. The intermediate select is the same projection
    # barrier doc_shingles uses: `mins` is referenced more than once by a
    # non-trivial consumer, so CollapseProject keeps it materialized per
    # row instead of re-inlining the min into every use.
    mins = F.when(
        n_g >= w,
        F.transform(
            F.sequence(F.lit(1), n_g - (w - 1)),
            lambda j: F.array_min(F.slice(F.col("hs"), j, w)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    t2 = t.select("doc_id", "hs", mins.alias("mins"))
    win_min = lambda j: F.element_at(F.col("mins"), j)
    sel = F.when(
        F.size("mins") > 0,
        F.transform(
            F.sequence(F.lit(1), F.size("mins")),
            lambda j: F.struct(
                F.array_max(
                    F.filter(
                        F.sequence(j, j + (w - 1)),
                        lambda q: F.element_at(F.col("hs"), q) == win_min(j),
                    )
                ).alias("pos"),
                win_min(j).alias("fp"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:bigint,fp:string>>"))
    return (
        t2.select("doc_id", F.explode(sel).alias("x"))
        .select("doc_id", F.col("x.pos").cast("long").alias("pos"), F.col("x.fp").alias("fp"))
        .distinct()
    )


# --- Inverted index ----------------------------------------------------------
INDEX_MIN_TF = 3  # keep postings with tf >= 3: bounds output, non-vacuous


@register(
    "q_inverted_index",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    postings AS (
        SELECT token, doc_id, COUNT(*) AS tf FROM toks GROUP BY token, doc_id
    )
    SELECT token, doc_id, tf,
           COUNT(*) OVER (PARTITION BY token) AS df
    FROM postings
    QUALIFY tf >= {INDEX_MIN_TF}
    """,
    tags=("text", "index", "search"),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: (token, doc_id, tf, df) postings — the
    tf/df components every retrieval scorer (BM25, TF-IDF) is built from,
    kept as exact integer counts (log-free, so fully oracle-checked; the
    scorer's log lives at query time where bit-exactness doesn't matter).

    Scale: one explode + one groupBy(token, doc_id) with map-side partial
    counts; df is a vocabulary-sized groupBy(token) COUNT joined back to
    the postings on token. The earlier window-COUNT shape
    (Window.partitionBy(token) over per-document posting rows) co-located
    a stop word's ENTIRE posting list — approximately the whole corpus —
    in one task, and windows cannot be AQE-skew-split; the join-back CAN
    be (AQE skew-join splits the hot token's posting partition against a
    replicated df row), and the df aggregation itself gets map-side
    partials. Plan gate: test_plans.test_inverted_index_df_join_not_window.
    Write the output partitioned by a token-hash bucket and query-time
    lookups become partition pruning.
    """
    from .dedup import doc_token_arrays

    toks = doc_token_arrays(spark, sf_dir)
    postings = (
        toks.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # df over ALL postings (pre tf-filter), then join back; the tf filter
    # shrinks the probe side before the join.
    df_tab = postings.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return (
        postings.filter(F.col("tf") >= INDEX_MIN_TF)
        .join(df_tab, "token")
        .select("token", "doc_id", "tf", "df")
    )


# --- Bigram language-model counts --------------------------------------------
BIGRAM_MIN_COUNT = 20


@register(
    "q_bigram_lm",
    oracle=f"""
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
    bg AS (
        SELECT u.w1, u.w2 FROM (
            SELECT unnest(list_transform(range(1, len(sp)),
                i -> {{'w1': sp[i], 'w2': sp[i+1]}})) AS u
            FROM base WHERE len(sp) >= 2
        )
    ),
    counts AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2)
    SELECT w1, w2, c,
           CAST(SUM(c) OVER (PARTITION BY w1) AS BIGINT) AS c_ctx,
           CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY w1) AS p_cond
    FROM counts
    QUALIFY c >= {BIGRAM_MIN_COUNT}
    """,
    tags=("text", "lm", "ngram"),
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model count tables: c(w1,w2), the context total
    c(w1), and the conditional MLE p(w2|w1) as an exact integer ratio —
    the KenLM-shaped count layer (logs/backoff belong to the consumer;
    ratios of counts are bit-portable, so this is fully oracle-checked).
    The perplexity-filtering primitive for corpus quality scoring.

    Scale: bigrams are a narrow array zip over the persisted token arrays
    (no token-level shuffle to FORM pairs), one groupBy(w1, w2) with
    map-side partials, then a window SUM partitioned by w1 over the
    aggregated counts — vocabulary-sized, never corpus-sized. The c_ctx
    denominator is exact across any partitioning (integer sum).
    """
    from .dedup import doc_token_arrays

    toks = doc_token_arrays(spark, sf_dir)
    bg = toks.filter(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("w1"),
                    F.element_at(F.col("toks"), i + 1).alias("w2"),
                ),
            )
        ).alias("b")
    ).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("w1")
    c_ctx = F.sum("c").over(w)
    return counts.select(
        "w1",
        "w2",
        "c",
        c_ctx.alias("c_ctx"),
        (F.col("c").cast("double") / c_ctx).alias("p_cond"),
    ).filter(F.col("c") >= BIGRAM_MIN_COUNT)


# --- Winnowing overlap pairs -------------------------------------------------
OVERLAP_MIN_FPS = 3  # >= 3 shared fingerprints => a real shared passage
WINNOW_MAX_BUCKET = 1_000_000  # hot-fp pair-WORK cap (memory is chunked)


def _winnow_sql_cte() -> str:
    """The q_winnowing oracle as a reusable CTE body (doc_id, pos, fp)."""
    return f"""
    base AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(sp) >= {WINNOW_K} THEN
               list_transform(range(1, len(sp) - {WINNOW_K - 2}),
                 i -> substr(md5({" || ' ' || ".join(f"sp[i+{o}]" for o in range(WINNOW_K))}), 1, 8))
             ELSE [] END AS hs
      FROM base
    ),
    sel AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= {WINNOW_W} THEN
               list_transform(range(1, len(hs) - {WINNOW_W - 2}),
                 j -> {{'pos': list_max(list_filter(range(j, j + {WINNOW_W}),
                           q -> hs[q] = list_min(hs[j:j+{WINNOW_W - 1}]))),
                       'fp': list_min(hs[j:j+{WINNOW_W - 1}])}})
             ELSE [] END AS s
      FROM g
    ),
    fps AS (
      SELECT DISTINCT doc_id, u.fp AS fp
      FROM (SELECT doc_id, unnest(s) AS u FROM sel)
    )"""


@register(
    "q_winnow_overlap",
    oracle=f"""
    WITH {_winnow_sql_cte()}
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared_fps
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {OVERLAP_MIN_FPS}
    """,
    tags=("text", "fingerprint", "winnowing", "dedup"),
)
def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap pair detection from shared winnowing fingerprints:
    document pairs sharing >= OVERLAP_MIN_FPS selected fingerprints (each
    guaranteed by winnowing to witness a >= W+K-1-token shared passage) —
    the attribution/plagiarism sibling of q_span_dedup, at ~2/(W+1) of the
    posting volume.

    Scale: ONE evaluation of the winnowing expression (the oracle's
    self-join shape would run it twice): fingerprints group by fp into doc
    buckets, pairs expand per bucket with the chunked memory-linear
    generator expansion (dedup.chunked_pair_expansion), then one
    groupBy(pair) counts shared fingerprints. Never an all-pairs stage.
    WINNOW_MAX_BUCKET bounds the m² pair WORK of a hot fingerprint (a
    boilerplate passage shared corpus-wide); it is set high enough to stay
    exact vs the uncapped oracle on real corpora, and
    test_winnow_overlap_cap_safe_on_boilerplate_corpus pins that a
    work-bounding cap keeps every pair the OVERLAP_MIN_FPS filter keeps.
    """
    from .dedup import chunked_pair_expansion, doc_token_arrays

    w = winnow_fingerprints(doc_token_arrays(spark, sf_dir)).select("doc_id", "fp")
    buckets = (
        w.groupBy("fp")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= WINNOW_MAX_BUCKET))
    )
    return (
        chunked_pair_expansion(buckets, "ids")
        .select(F.col("x").alias("d1"), F.col("y").alias("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= OVERLAP_MIN_FPS)
    )


# --- Bigram-LM document scoring ----------------------------------------------

# Shared CTE chain: per-doc bigram scores under the corpus bigram MLE.
# Used by q_lm_doc_score's oracle and re-used verbatim by the perplexity
# bucketing oracle below (same table, same integer scoring).
_LM_SCORE_CTES = """
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
    bg AS (
        SELECT doc_id, u.w1, u.w2 FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(sp)),
                i -> {'w1': sp[i], 'w2': sp[i+1]})) AS u
            FROM base WHERE len(sp) >= 2
        )
    ),
    counts AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
    ctx AS (SELECT w1, COUNT(*) AS c_ctx FROM bg GROUP BY w1),
    scored AS (
        SELECT b.doc_id,
               CAST(floor(1000000.0 * (CAST(c.c AS DOUBLE) / x.c_ctx)) AS BIGINT) AS s
        FROM bg b JOIN counts c USING (w1, w2) JOIN ctx x USING (w1)
    )
"""


@register(
    "q_lm_doc_score",
    oracle=_LM_SCORE_CTES
    + """
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(s) AS BIGINT) AS sum_score,
           CAST(SUM(s) AS DOUBLE) / COUNT(*) AS avg_score
    FROM scored GROUP BY doc_id
    """,
    tags=("text", "lm", "quality", "score"),
)
def q_lm_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model document scoring — the perplexity-filter stage of a
    curation pipeline (CCNet-style), in a bit-exact formulation: each doc
    bigram scores floor(1e6 · p(w2|w1)) under the corpus bigram MLE
    (integers, so the per-doc SUM is order-independent and the oracle is
    exact); avg_score is the exact long/long division. Low avg_score =
    improbable word sequences = noise/garble candidates; the real pipeline
    feeds these thresholds the way q_quality_prune consumes quality.

    Scale: bigrams are narrow array zips over the persisted token arrays;
    counts and context totals are two vocabulary-sized groupBys with
    map-side partials; the score join is per-bigram-key equi (AQE skew
    splits the stop-bigram partitions — the join-back shape, same reasoning
    as q_inverted_index's df); one final groupBy(doc_id). No windows.
    """
    return _lm_doc_scored(spark, sf_dir)


def _lm_doc_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted per-doc LM score table, memoized per sf_dir:
    q_perplexity_buckets reads it from FOUR plan branches (min/max agg,
    band counts, per-source totals, the ranked select) — without the
    barrier each branch re-ran the full bigram explode + two vocabulary
    groupBys + the score join (measured 3.3 s vs 0.6 s for one
    evaluation). One thin row per doc."""
    return memo.scaffold(spark, "text.lm_scores", sf_dir, lambda: _lm_score(spark, sf_dir))


def _lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import doc_token_arrays

    toks = doc_token_arrays(spark, sf_dir)
    bg = toks.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("w1"),
                    F.element_at(F.col("toks"), i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    ctx = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_ctx"))
    s = F.floor(F.lit(1000000.0) * (F.col("c").cast("double") / F.col("c_ctx")))
    scored = (
        bg.join(counts, ["w1", "w2"]).join(ctx, "w1")
        .select("doc_id", s.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("s").cast("long").alias("sum_score"),
            (F.sum("s").cast("double") / F.count(F.lit(1))).alias("avg_score"),
        )
        .persist()
    )
    scored.count()
    return scored


# --- CCNet-style perplexity bucketing -----------------------------------------

PPLX_N_BANDS = 256  # uniform score bands for the hierarchical per-source rank


@register(
    "q_perplexity_buckets",
    oracle=_LM_SCORE_CTES
    + """
    , lm AS (
        SELECT doc_id, CAST(SUM(s) // COUNT(*) AS BIGINT) AS avg_uppm
        FROM scored GROUP BY doc_id
    ),
    j AS (
        SELECT d.doc_id, d.source, lm.avg_uppm
        FROM lm JOIN documents d USING (doc_id)
    ),
    r AS (
        SELECT doc_id, source, avg_uppm,
               CAST(NTILE(3) OVER (
                   PARTITION BY source
                   ORDER BY avg_uppm DESC, doc_id ASC) AS INT) AS tile
        FROM j
    )
    SELECT doc_id, source, avg_uppm, tile,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket
    FROM r
    """,
    tags=("text", "lm", "quality", "corpus", "selection"),
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: per SOURCE, split documents into
    head / middle / tail terciles of LM score (head = most fluent). Real
    pipelines (CCNet, RedPajama) train on head+middle and drop or
    down-weight tail; the per-source split is essential — a global cutoff
    would label entire low-resource domains "tail".

    Exactness: the per-doc score is the integer division
    ``sum_score DIV n_bigrams`` of q_lm_doc_score's micro-prob integers,
    and the tercile is NTILE(3) over (avg_uppm DESC, doc_id ASC) — a fully
    deterministic total order, reproduced here in closed form from the
    hierarchical rank (tile sizes differ by <=1, earlier tiles get the
    remainder — the standard NTILE contract).

    Scale: NO corpus-keyed window. The per-source rank is hierarchical
    (the classifier.py / selection.py band discipline): 256 uniform score
    bands from a one-row min/max agg, per-(source, band) counts -> rank
    offsets via one source-partitioned window over <=256*|sources| rows,
    row_number only within (source, band) partitions (~corpus/256 rows).
    Banding by score preserves the global per-source order, so the result
    equals a flat per-source window bit-for-bit. The doc_id join to pick
    up `source` is one equi shuffle (AQE-handled); everything else is
    map-side or KB-scale broadcast.
    """
    lm = q_lm_doc_score(spark, sf_dir).select(
        "doc_id", F.expr("sum_score DIV n_bigrams").alias("avg_uppm")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = lm.join(docs, "doc_id")

    lo, hi = j.agg(F.min("avg_uppm"), F.max("avg_uppm")).first()
    step = max((hi - lo) // PPLX_N_BANDS + 1, 1)
    # band ascends as score descends -> band order == rank order
    t = j.withColumn("band", F.expr(f"({hi} - avg_uppm) DIV {step}"))

    counts = t.groupBy("source", "band").agg(F.count(F.lit(1)).alias("c"))
    from .corpus import banded_prefix_offsets

    offsets = banded_prefix_offsets(
        counts, [F.asc("band")], "c", "band_offset", partition_cols=("source",)
    )
    nsrc = t.groupBy("source").agg(F.count(F.lit(1)).alias("n"))

    w = Window.partitionBy("source", "band").orderBy(
        F.desc("avg_uppm"), F.asc("doc_id")
    )
    ranked = (
        t.join(F.broadcast(offsets), ["source", "band"])
        .join(F.broadcast(nsrc), "source")
        .select(
            "doc_id",
            "source",
            "avg_uppm",
            "n",
            (F.col("band_offset") + F.row_number().over(w)).alias("rnk"),
        )
    )
    # NTILE(3) closed form: n = 3*b + extra; the first `extra` tiles get +1
    b = F.expr("n DIV 3")
    extra = F.col("n") - b * 3
    b1 = b + (extra >= 1).cast("long")
    b2 = b * 2 + (extra >= 1).cast("long") + (extra >= 2).cast("long")
    tile = (
        F.when(F.col("rnk") <= b1, 1).when(F.col("rnk") <= b2, 2).otherwise(3)
    ).cast("int")
    return ranked.select(
        "doc_id",
        "source",
        "avg_uppm",
        tile.alias("tile"),
        F.element_at(F.lit(["head", "middle", "tail"]), tile).alias("bucket"),
    )


# --- BM25 retrieval ------------------------------------------------------------
# Lexical top-k retrieval over the corpus for a fixed term query — the exact
# lexical complement to the ANN family (q_ann_*) and the retrieval consumer of
# q_inverted_index's postings. Scoring is BM25 with Lucene's non-negative idf
# variant (Robertson-Sparck Jones idf wrapped in ln(1 + ·)): k1 = 1.2, b = 0.75.
#
# Cross-engine exactness: DuckDB's ln() is bit-identical to CPython's
# math.log on this platform while the JVM's Math.log is NOT (1-ulp drift on
# ~7% of inputs, measured) — so the Spark side computes each term's idf ONCE
# in Python on the driver from the collected per-term document frequencies
# (|query| scalars, the dsir_llr_table discipline) and injects them as
# literals. Every remaining op is exact IEEE +,-,*,/ written in the same
# association order in both engines, and the per-(doc, term) contribution is
# frozen to integer ppm before the per-doc sum, making the score
# order-independent and the whole query fully oracle-checked.

BM25_QUERY_TERMS = ("spark", "vector", "customer")
BM25_TOP_K = 10


def bm25_oracle_sql(terms: tuple[str, ...], k: int) -> str:
    """The BM25 oracle chain as a function of (terms, k) — shared by
    q_bm25_topk and the hybrid-retrieval fusion oracle (serving.py), so
    the lexical scoring definition can never drift between them."""
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
    dl AS (SELECT doc_id, len(sp) AS dl FROM toks),
    stats AS (
        SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               COUNT(*) AS n
        FROM dl
    ),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(sp) AS tok FROM toks)
        WHERE tok IN {terms!r}
        GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    scored AS (
        SELECT tf.doc_id,
               CAST(floor(1000000.0 * (
                   ln(1.0 + ((CAST(stats.n AS DOUBLE) - CAST(dfreq.df AS DOUBLE)) + 0.5)
                            / (CAST(dfreq.df AS DOUBLE) + 0.5))
                   * ((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
                      / (CAST(tf.tf AS DOUBLE)
                         + CAST(1.2 AS DOUBLE)
                           * (CAST(0.25 AS DOUBLE)
                              + CAST(0.75 AS DOUBLE)
                                * (CAST(dl.dl AS DOUBLE) / stats.avgdl))))
               )) AS BIGINT) AS c
        FROM tf
        JOIN dfreq USING (tok)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(c) AS BIGINT) AS score_ppm
    FROM scored GROUP BY doc_id
    ORDER BY score_ppm DESC, doc_id LIMIT {k}
    """


@register(
    "q_bm25_topk",
    oracle=bm25_oracle_sql(BM25_QUERY_TERMS, BM25_TOP_K),
    tags=("text", "retrieval", "bm25", "index"),
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k lexical retrieval for the fixed query
    ``BM25_QUERY_TERMS``: per-(doc, term) contribution
    floor(1e6 · idf(term) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)))
    summed per doc, top ``BM25_TOP_K`` by (score DESC, doc_id). idf is the
    Lucene ln(1 + (N − df + 0.5)/(df + 0.5)) — non-negative even for terms
    in more than half the corpus (this synthetic vocabulary is dense).

    Scale: term postings come from the persisted token scaffold — the
    explode is filtered to |query| terms before any shuffle, so the tf
    groupBy moves only matching postings; df and the (N, avgdl) stats are
    |query|+2 scalars on the driver (the model-artifact discipline —
    everything corpus-sized stays distributed); scoring is a narrow
    posting⋈dl equi-join; top-k is TakeOrderedAndProject (per-partition
    heaps, no global sort, no window).
    """
    return bm25_topk(spark, sf_dir, BM25_QUERY_TERMS, BM25_TOP_K)


def _bm25_stats(
    spark: SparkSession, sf_dir: str, terms: tuple[str, ...]
) -> tuple[int | None, int, dict[str, int]]:
    """(sum_dl, N, per-term df) for a term set — the scalars every BM25
    scorer needs. ONE driver action (the r14 fused collect), memoized per
    (corpus, term set) like the other fitted artifacts (classifier
    weights, IVF centroids, PQ codebooks): a production BM25 stack stores
    df and N in the index at build time and never recomputes them per
    query — re-running the two-branch corpus aggregate on EVERY call of
    every BM25-composed operator (topk, batch, hybrid, both evals, both
    context packs) was the single biggest repeated action in the serving
    family (r15, guide §1 job diet). Values are unchanged: same aggregates,
    same types, same driver-side ln downstream."""
    key = (sf_dir, tuple(sorted(set(terms))))
    return memo.scaffold(spark, "text.bm25_stats", key, lambda: _bm25_fit(spark, *key))


def _bm25_fit(
    spark: SparkSession, sf_dir: str, terms: tuple[str, ...]
) -> tuple[int | None, int, dict[str, int]]:
    from .dedup import doc_token_arrays

    toks = doc_token_arrays(spark, sf_dir)
    dl = toks.select("doc_id", F.size("toks").alias("dl"))
    tf = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(*terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    sum_dl, n, dfreq = None, 0, {}
    for r in (
        dl.agg(
            F.sum("dl").cast("long").alias("a"),
            F.count(F.lit(1)).cast("long").alias("b"),
        )
        .select(F.lit(None).cast("string").alias("tok"), "a", "b")
        .unionByName(
            tf.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .select(
                "tok",
                F.col("df").cast("long").alias("a"),
                F.lit(None).cast("long").alias("b"),
            )
        )
        .collect()
    ):
        if r.tok is None:
            sum_dl, n = r.a, r.b
        else:
            dfreq[r.tok] = r.a
    return sum_dl, n, dfreq


def bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, ...],
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Reusable BM25 retrieval for any term query — see q_bm25_topk for
    the scoring definition and the scale shape."""
    import math

    from .dedup import doc_token_arrays

    toks = doc_token_arrays(spark, sf_dir)
    dl = toks.select("doc_id", F.size("toks").alias("dl"))
    tf = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(*terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # Index-time scalars (memoized; one fused action on first use).
    sum_dl, n, dfreq = _bm25_stats(spark, sf_dir, terms)
    # empty corpus: tf is empty so the value never matters, but the
    # expression must still build (BaseEmpty parity)
    avgdl = float(sum_dl) / float(n) if n else 1.0
    idf_col = F.lit(None).cast("double")
    for term in terms:
        dfv = dfreq.get(term, 0)
        idf = math.log(1.0 + ((float(n) - float(dfv)) + 0.5) / (float(dfv) + 0.5))
        idf_col = F.when(F.col("tok") == term, F.lit(idf)).otherwise(idf_col)
    tfpart = (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / F.lit(avgdl)))
    )
    scored = tf.join(dl, "doc_id").select(
        "doc_id",
        F.floor(F.lit(1000000.0) * (idf_col * tfpart)).cast("long").alias("c"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("c").cast("long").alias("score_ppm"),
        )
        .orderBy(F.desc("score_ppm"), F.asc("doc_id"))
        .limit(k)
    )


# --- Batched BM25 (multi-query retrieval, one pass) -----------------------------
# The serving-scale shape the single-query operator's docstring promises:
# N queries share ONE postings pass. All queries' terms filter the token
# explode together, df/idf are computed once per distinct term (a term
# used by three queries has one idf), the (query_id, term) mapping joins
# in as a broadcast literal table, and the per-query top-k is a
# rank-within-query filter that rewrites to a map-side WindowGroupLimit —
# so the marginal cost of an extra query is its extra postings, not
# another corpus scan. Scoring is IDENTICAL to bm25_topk (same literals,
# same association order), pinned by test: the batch's query-1 block
# equals q_bm25_topk row for row.

BM25_BATCH_QUERIES: dict[int, tuple[str, ...]] = {
    1: BM25_QUERY_TERMS,  # comparability pin vs the single-query operator
    2: ("stream", "window", "merge"),
    3: ("filter", "scan"),
}


def bm25_batch_oracle_sql(queries: dict[int, tuple[str, ...]], k: int) -> str:
    all_terms = tuple(sorted({t for ts in queries.values() for t in ts}))
    vals = ", ".join(
        f"(CAST({qid} AS BIGINT), '{t}')"
        for qid, ts in sorted(queries.items())
        for t in ts
    )
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
    dl AS (SELECT doc_id, len(sp) AS dl FROM toks),
    stats AS (
        SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               COUNT(*) AS n
        FROM dl
    ),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(sp) AS tok FROM toks)
        WHERE tok IN {all_terms!r}
        GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    q AS (SELECT * FROM (VALUES {vals}) AS v(query_id, tok)),
    scored AS (
        SELECT q.query_id, tf.doc_id,
               CAST(floor(1000000.0 * (
                   ln(1.0 + ((CAST(stats.n AS DOUBLE) - CAST(dfreq.df AS DOUBLE)) + 0.5)
                            / (CAST(dfreq.df AS DOUBLE) + 0.5))
                   * ((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
                      / (CAST(tf.tf AS DOUBLE)
                         + CAST(1.2 AS DOUBLE)
                           * (CAST(0.25 AS DOUBLE)
                              + CAST(0.75 AS DOUBLE)
                                * (CAST(dl.dl AS DOUBLE) / stats.avgdl))))
               )) AS BIGINT) AS c
        FROM tf
        JOIN dfreq USING (tok)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
        JOIN q USING (tok)
    ),
    perdoc AS (
        SELECT query_id, doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(c) AS BIGINT) AS score_ppm
        FROM scored GROUP BY query_id, doc_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score_ppm DESC, doc_id) AS rank
        FROM perdoc
    )
    SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, n_terms, score_ppm
    FROM ranked WHERE rank <= {k}
    """


@register(
    "q_bm25_batch",
    oracle=bm25_batch_oracle_sql(BM25_BATCH_QUERIES, BM25_TOP_K),
    tags=("text", "retrieval", "bm25", "batch", "serving"),
)
def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k for a BATCH of queries in one postings pass — see the
    section comment for the sharing structure. Output: (query_id, doc_id,
    rank, n_terms, score_ppm), k rows per query."""
    return bm25_batch_topk(spark, sf_dir, BM25_BATCH_QUERIES, BM25_TOP_K)


def bm25_batch_topk(
    spark: SparkSession,
    sf_dir: str,
    queries: dict[int, tuple[str, ...]],
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Batched BM25: one token-scaffold pass scores every query. The
    per-query top-k is row_number over Window.partitionBy("query_id")
    filtered to rank <= k — Catalyst rewrites that to WindowGroupLimit
    (per-input-partition heaps BEFORE the exchange, plan-gated), so only
    k rows per query per partition shuffle; partition size is bounded by
    candidate docs per query, the similarity.py query_id discipline."""
    import math

    from pyspark.sql import Window

    from .dedup import doc_token_arrays

    all_terms = sorted({t for ts in queries.values() for t in ts})
    toks = doc_token_arrays(spark, sf_dir)
    dl = toks.select("doc_id", F.size("toks").alias("dl"))
    tf = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(*all_terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # one idf per DISTINCT term (|terms| scalars on the driver — the
    # dsir_llr_table discipline; see q_bm25_topk's cross-engine ln note);
    # index-time scalars memoized (one fused action on first use — r15).
    sum_dl, n, dfreq = _bm25_stats(spark, sf_dir, tuple(all_terms))
    avgdl = float(sum_dl) / float(n) if n else 1.0
    idf_col = F.lit(None).cast("double")
    for term in all_terms:
        dfv = dfreq.get(term, 0)
        idf = math.log(1.0 + ((float(n) - float(dfv)) + 0.5) / (float(dfv) + 0.5))
        idf_col = F.when(F.col("tok") == term, F.lit(idf)).otherwise(idf_col)
    tfpart = (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / F.lit(avgdl)))
    )
    qdf = spark.createDataFrame(
        [(qid, t) for qid, ts in sorted(queries.items()) for t in ts],
        "query_id bigint, tok string",
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(qdf), "tok")
        .select(
            "query_id",
            "doc_id",
            F.floor(F.lit(1000000.0) * (idf_col * tfpart)).cast("long").alias("c"),
        )
    )
    perdoc = scored.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("c").cast("long").alias("score_ppm"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_ppm"), F.asc("doc_id"))
    return (
        perdoc.select(
            "query_id", "doc_id", "n_terms", "score_ppm",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            "n_terms",
            "score_ppm",
        )
    )


# --- Kneser-Ney smoothed bigram LM ---------------------------------------------
# The standard n-gram smoothing (Kneser & Ney 1995; Chen & Goodman 1999's
# interpolated form): absolute discounting of observed bigram counts plus a
# continuation-probability backoff weighted per context. q_bigram_lm is the
# MLE table; this is the model a real perplexity filter actually ships.
# The discount d = 0.75 is exactly dyadic and every other input is an
# integer count, so p_KN is a fixed dag of exact IEEE ops — frozen to
# integer ppm, it is bit-identical across engines and fully oracle-checked.

KN_DISCOUNT = 0.75  # exactly representable: 3/4


@register(
    "q_kneser_ney",
    oracle=f"""
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
    bg AS (
        SELECT u.w1, u.w2 FROM (
            SELECT unnest(list_transform(range(1, len(sp)),
                i -> {{'w1': sp[i], 'w2': sp[i+1]}})) AS u
            FROM base WHERE len(sp) >= 2
        )
    ),
    counts AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
    ctx AS (
        SELECT w1, CAST(SUM(c) AS BIGINT) AS ctx, COUNT(*) AS n1f
        FROM counts GROUP BY w1
    ),
    cont AS (SELECT w2, COUNT(*) AS n1p FROM counts GROUP BY w2),
    tot AS (SELECT COUNT(*) AS nbt FROM counts)
    SELECT counts.w1, counts.w2, CAST(counts.c AS BIGINT) AS c,
           CAST(floor(1000000.0 * (
               ((CAST(counts.c AS DOUBLE) - {KN_DISCOUNT}) / CAST(ctx.ctx AS DOUBLE))
               + ((({KN_DISCOUNT} * CAST(ctx.n1f AS DOUBLE)) / CAST(ctx.ctx AS DOUBLE))
                  * (CAST(cont.n1p AS DOUBLE) / CAST(tot.nbt AS DOUBLE)))
           )) AS BIGINT) AS p_kn_ppm
    FROM counts JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tot
    """,
    tags=("text", "lm", "smoothing", "kneser-ney"),
)
def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities over the corpus, in
    integer ppm: p_KN(w2|w1) = (c(w1,w2) − d)/c(w1·)
    + d·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··), d = 0.75. One row per
    OBSERVED bigram (the stored model; unseen-bigram mass is the λ(w1)
    backoff, recoverable from the emitted columns). Exactness: by
    construction Σ_obs (c−d)/ctx + λ(w1) = 1 per context — pinned in
    tests — and the ppm freeze makes the table engine-identical.

    Scale: the bigram extraction is the shared narrow-zip shape of
    q_lm_doc_score; counts/ctx/cont are vocabulary-sized groupBys with
    map-side partials, joined BACK to the counts table (the df/score
    join-back discipline — AQE can skew-split stop-word contexts, a
    w1-partitioned window could not); the type total broadcasts as one
    row. Counts persist once and feed all four branches.
    """
    from .dedup import doc_token_arrays

    toks = doc_token_arrays(spark, sf_dir)
    bg = (
        toks.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("w1"),
                        F.element_at(F.col("toks"), i + 1).alias("w2"),
                    ),
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    # persisted: counts feeds ctx, cont, tot, and the final join (the
    # q_source_drift cell discipline — vocabulary-squared rows, KB-scale)
    counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")).persist()
    ctx = counts.groupBy("w1").agg(
        F.sum("c").cast("long").alias("ctx"), F.count(F.lit(1)).alias("n1f")
    )
    cont = counts.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p"))
    tot = counts.agg(F.count(F.lit(1)).alias("nbt"))
    d = F.lit(KN_DISCOUNT)
    p_kn = (
        (F.col("c").cast("double") - d) / F.col("ctx").cast("double")
    ) + (
        ((d * F.col("n1f").cast("double")) / F.col("ctx").cast("double"))
        * (F.col("n1p").cast("double") / F.col("nbt").cast("double"))
    )
    return (
        counts.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("c"),
            F.floor(F.lit(1000000.0) * p_kn).cast("long").alias("p_kn_ppm"),
        )
    )


# Frozen copy of corpus.TRAIN_THRESHOLD (operators/corpus.py:14) — the oracle
# string is rendered at import time and text.py loads before corpus.py, so a
# module-level import would reorder registration (ROADMAP maintenance
# invariant). Equality is pinned in tests/test_lm.py.
KN_TRAIN_THRESHOLD = "c" * 32


@register(
    "q_kn_doc_score",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS sp,
               (md5(CAST(doc_id AS VARCHAR)) < '{KN_TRAIN_THRESHOLD}') AS is_train
        FROM documents
    ),
    bg AS (
        SELECT doc_id, is_train, u.w1, u.w2 FROM (
            SELECT doc_id, is_train, unnest(list_transform(range(1, len(sp)),
                i -> {{'w1': sp[i], 'w2': sp[i+1]}})) AS u
            FROM base WHERE len(sp) >= 2
        )
    ),
    counts AS (
        SELECT w1, w2, COUNT(*) AS c FROM bg WHERE is_train GROUP BY w1, w2
    ),
    ctx AS (
        SELECT w1, CAST(SUM(c) AS BIGINT) AS ctx, COUNT(*) AS n1f
        FROM counts GROUP BY w1
    ),
    cont AS (SELECT w2, COUNT(*) AS n1p FROM counts GROUP BY w2),
    tot AS (SELECT COUNT(*) AS nbt FROM counts),
    scored AS (
        SELECT bg.doc_id,
               CAST(floor(1000000.0 * (
                   CASE
                     WHEN counts.c IS NOT NULL THEN
                       ((CAST(counts.c AS DOUBLE) - 0.75) / CAST(ctx.ctx AS DOUBLE))
                       + (((0.75 * CAST(ctx.n1f AS DOUBLE)) / CAST(ctx.ctx AS DOUBLE))
                          * (CAST(cont.n1p AS DOUBLE) / CAST(tot.nbt AS DOUBLE)))
                     WHEN ctx.ctx IS NOT NULL AND cont.n1p IS NOT NULL THEN
                       ((0.75 * CAST(ctx.n1f AS DOUBLE)) / CAST(ctx.ctx AS DOUBLE))
                       * (CAST(cont.n1p AS DOUBLE) / CAST(tot.nbt AS DOUBLE))
                     WHEN cont.n1p IS NOT NULL THEN
                       CAST(cont.n1p AS DOUBLE) / CAST(tot.nbt AS DOUBLE)
                     ELSE 1.0 / CAST(tot.nbt AS DOUBLE)
                   END
               )) AS BIGINT) AS s
        FROM bg
        LEFT JOIN counts USING (w1, w2)
        LEFT JOIN ctx USING (w1)
        LEFT JOIN cont USING (w2)
        CROSS JOIN tot
        WHERE NOT bg.is_train
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(s) AS BIGINT) AS sum_score,
           CAST(SUM(s) AS DOUBLE) / COUNT(*) AS avg_score
    FROM scored GROUP BY doc_id
    """,
    tags=("text", "lm", "kneser-ney", "quality", "score"),
)
def q_kn_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out perplexity filtering under the smoothed LM: fit the
    interpolated Kneser-Ney bigram model (q_kneser_ney's definition, d =
    0.75) on the md5 TRAIN split, score every TEST-split document —
    unseen bigrams genuinely hit the backoff chain here, unlike a
    train==score setup: observed → full p_KN; unseen bigram in a seen
    context → λ(w1)·p_cont(w2); unseen context → p_cont(w2); unseen w2 →
    the 1/N1+(··) floor. Every branch is rational arithmetic frozen to
    integer ppm, so the held-out scores are fully oracle-checked — this is
    the deployable form of the CCNet-style perplexity stage (q_lm_doc_score
    is the in-sample MLE variant).

    Scale: one narrow pass splits train/test (hash rule, no shuffle);
    model tables are vocabulary-sized groupBys that LEFT-join BACK to the
    test bigram stream (AQE-splittable; never a w1-window); the type total
    broadcasts. Counts persist once and feed all four consumers.
    """
    from .dedup import doc_token_arrays

    toks = doc_token_arrays(spark, sf_dir)
    is_train = F.md5(F.col("doc_id").cast("string")) < KN_TRAIN_THRESHOLD
    bg = (
        toks.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            is_train.alias("is_train"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("w1"),
                        F.element_at(F.col("toks"), i + 1).alias("w2"),
                    ),
                )
            ).alias("b"),
        )
        .select("doc_id", "is_train", "b.w1", "b.w2")
    )
    counts = (
        bg.filter("is_train").groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")).persist()
    )
    ctx = counts.groupBy("w1").agg(
        F.sum("c").cast("long").alias("ctx"), F.count(F.lit(1)).alias("n1f")
    )
    cont = counts.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p"))
    tot = counts.agg(F.count(F.lit(1)).alias("nbt"))
    d = F.lit(0.75)
    full = (
        (F.col("c").cast("double") - d) / F.col("ctx").cast("double")
    ) + (
        ((d * F.col("n1f").cast("double")) / F.col("ctx").cast("double"))
        * (F.col("n1p").cast("double") / F.col("nbt").cast("double"))
    )
    backoff = ((d * F.col("n1f").cast("double")) / F.col("ctx").cast("double")) * (
        F.col("n1p").cast("double") / F.col("nbt").cast("double")
    )
    cont_only = F.col("n1p").cast("double") / F.col("nbt").cast("double")
    floor_p = F.lit(1.0) / F.col("nbt").cast("double")
    p = (
        F.when(F.col("c").isNotNull(), full)
        .when(F.col("ctx").isNotNull() & F.col("n1p").isNotNull(), backoff)
        .when(F.col("n1p").isNotNull(), cont_only)
        .otherwise(floor_p)
    )
    scored = (
        bg.filter(~F.col("is_train"))
        .join(counts, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", F.floor(F.lit(1000000.0) * p).cast("long").alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("s").cast("long").alias("sum_score"),
        (F.sum("s").cast("double") / F.count(F.lit(1))).alias("avg_score"),
    )
