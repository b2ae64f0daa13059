"""Deduplication operators over ``documents`` — exact, n-gram Jaccard,
MinHash+LSH, and SimHash (north-star training-data pipeline surface).

Design for 100 TB: never materialize the all-pairs product. Every near-dup
operator here is  candidate-generation (shared shingle / LSH band / simhash
chunk = an equi-join key)  →  distinct candidate pairs  →  cheap exact
verification on candidates only. All of it is built-in columnar expressions —
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..registry import register
from ..sources.readers import load_table

JACCARD_THRESHOLD = 0.3  # on 5-gram shingle sets (bimodal data: dups ≈0.98, noise <0.1)
NUM_PERM = 64  # minhash permutations
# 32 bands × 2 rows: collision prob at shingle-jaccard j is 1-(1-j²)³². At
# j=0.4 that's ≈0.996 (high recall for the 0.4 threshold); spurious
# candidates from low-j pairs are discarded by the exact verify step.
BAND_ROWS = 2


def token_array(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


def shingles(toks: Column, k: int = 5) -> Column:
    """Distinct k-gram shingles of a token array (1-based, matching DuckDB's
    ``range(1, len-k+2)`` + ``list[i]`` idiom — SURVEY §2B string row)."""
    gram = lambda i: F.concat_ws(" ", *[F.element_at(toks, i + off) for off in range(k)])
    return F.when(
        F.size(toks) >= k,
        F.array_distinct(F.transform(F.sequence(F.lit(1), F.size(toks) - (k - 1)), gram)),
    ).otherwise(F.array().cast("array<string>"))


def doc_shingles(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Distinct (doc_id, shingle) rows, persisted + memoized per
    (application, sf_dir, k) — shuffle-free shingle assembly.

    The naive array-expression form is a trap: inside nested lambdas
    Catalyst inlines the ``split(text)`` argument into every element_at,
    re-tokenizing the document once per shingle position (~100× redundant
    work, measured 5-7s for 5k docs). Materializing the token ARRAY through
    a persist first makes it a plain attribute reference, so ``shingles()``
    (already per-doc-distinct via array_distinct) runs as narrow ops over
    the cached arrays: split once, NO shuffle anywhere before the
    downstream candidate groupBys. The earlier posexplode+window-LEAD form
    paid a full corpus shuffle+sort here; this shape drops it, and the
    cache (MEMORY_AND_DISK, ≈ shingled corpus size) spills rather than
    OOMs at scale.

    Cache lifecycle: the shingle rows build FROM the shared
    ``doc_token_arrays`` scaffold and leave it cached. An earlier revision
    built (and then unpersisted) its own token DataFrame here — but Spark's
    CacheManager keys cache entries by LOGICAL PLAN, not by DataFrame
    object, so that unpersist silently evicted the identical-plan
    ``doc_token_arrays`` memo too, un-caching every later positional
    consumer (span dedup, winnowing, cooccurrence) in the same session.
    Both scaffolds are MEMORY_AND_DISK (spill, not OOM);
    ``memo.release(spark, "dedup")`` frees the whole family.
    """

    def build() -> DataFrame:
        toks_df = doc_token_arrays(spark, sf_dir)
        exploded = toks_df.select(
            "doc_id", F.explode(shingles(F.col("toks"), k)).alias("s")
        ).persist()
        # Materialize now: every caller's first action needs the full set anyway.
        exploded.count()
        return exploded

    return memo.scaffold(spark, "dedup.shingles", (sf_dir, k), build)


# Per-partition compressed-byte budget for _spread_small_scan. Tuned by
# sweep at sf0.1 (targets 4/8/16/32): token-pipeline CPU work per scanned
# byte is high, so ~64 KiB of compressed text per task keeps every task
# >100 ms of real work — cores-wide spreading of tiny data measured SLOWER
# (32 tasks of scheduler overhead beat 2x the compute).
_SPREAD_BYTES_PER_PARTITION = 64 * 1024


def _spread_small_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin a scan across the cluster when the file layout gives
    fewer partitions than the data's CPU work deserves. The text/dedup
    operators are CPU-bound (split, md5 grams, shingle assembly) downstream
    of a scan whose BYTES are tiny — a single small parquet file otherwise
    serializes the whole token pipeline onto one core (measured 1 partition
    for 5k docs at sf0.1, a ~2x wall-clock loss across the dedup suite).
    Shared implementation: sources.readers.spread_small_scan (r14 — the
    same discipline now serves the embedding-HOF operators too)."""
    from ..sources.readers import spread_small_scan

    return spread_small_scan(spark, df, _SPREAD_BYTES_PER_PARTITION)


def doc_token_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks: array<string>), persisted + memoized per sf_dir: one
    row per document, split exactly once. The scaffold for operators that
    need POSITIONED access to tokens (span dedup): persist is the
    projection barrier that stops Catalyst inlining split() into every
    element_at — see the doc_shingles docstring."""

    def build() -> DataFrame:
        docs = _spread_small_scan(spark, load_table(spark, sf_dir, "documents"))
        return docs.select("doc_id", token_array().alias("toks")).persist()

    return memo.scaffold(spark, "dedup.tokens", sf_dir, build)


def shingle_sets(exploded: DataFrame) -> DataFrame:
    """(doc_id, sh: array<string>) — distinct shingle sets, for the exact-
    Jaccard verify leg."""
    return exploded.groupBy("doc_id").agg(F.collect_list("s").alias("sh"))


def _verify_jaccard(pairs: DataFrame, docs: DataFrame, threshold: float) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs only (the cheap verify
    leg) — the same metric MinHash estimates, so the LSH path's recall is
    governed by the banding s-curve, not a metric mismatch.

    intersection/union are integer counts → the ratio is a bit-deterministic
    double in any engine.

    Reach for ``_count_verify_jaccard`` instead whenever the candidate rows
    come straight from the shingle postings (one row PER SHARED SHINGLE):
    this set form is only needed when candidate multiplicity does NOT equal
    the intersection (MinHash band agreements).
    """
    a = docs.select(F.col("doc_id").alias("d1"), F.col("sh").alias("t1"))
    b = docs.select(F.col("doc_id").alias("d2"), F.col("sh").alias("t2"))
    inter = F.size(F.array_intersect("t1", "t2"))
    union = F.size("t1") + F.size("t2") - inter
    return (
        pairs.join(a, "d1").join(b, "d2")
        .select("d1", "d2", (inter.cast("double") / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def shingle_counts(exploded: DataFrame) -> DataFrame:
    """(doc_id, n_sh) — per-doc DISTINCT shingle-set sizes (the exploded
    scaffold is per-doc distinct by construction), for the count-based
    verify below. A LONG per doc instead of the full shingle-text array
    that ``shingle_sets`` shuffles."""
    return exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))


def _count_verify_jaccard(
    shared: DataFrame, counts: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard verify WITHOUT re-touching shingle text (r15, guide
    §2.3 "shuffle keys and metadata instead of payloads"):

    ``shared`` must carry one (d1, d2) row PER SHARED DISTINCT SHINGLE —
    exactly what the posting equi-join / bucket pair-expansion already
    emits, because the shingle scaffold is per-doc distinct. Then
    |intersection| is simply COUNT(*) per pair, and |union| = n1 + n2 −
    inter from the per-doc shingle counts. The previous set form
    (_verify_jaccard over collect_list sets) shuffled the ENTIRE shingle
    corpus into arrays TWICE (once per join side — two full-corpus
    collect_list aggregations that AQE's stage reuse does not unify) and
    ran an O(|sh1|·|sh2|) array_intersect per candidate; this form shuffles
    a long per doc and counts per pair with map-side partials. Same
    integers, same single double division → bit-identical jaccard values
    (pinned vs the set form in tests/test_r15_optimizations.py).
    """
    inter_df = shared.groupBy("d1", "d2").agg(F.count(F.lit(1)).alias("inter"))
    a = counts.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"))
    b = counts.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"))
    return (
        inter_df.join(a, "d1")
        .join(b, "d2")
        .select(
            "d1",
            "d2",
            (
                F.col("inter").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


@register(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("dedup",),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy: one representative (min doc_id) per
    distinct text, keyed by md5 so the shuffle moves 16-byte keys, not
    documents. The canonical first pass of every corpus pipeline.

    Scale: one shuffle on the hash key; map-side partial MIN/COUNT.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# Shared CTE block: the verified near-dup pairs in DuckDB SQL. Used by the
# q_dedup_ngram_jaccard oracle below and by the connected-components oracle
# (operators/graph.py), which recursively closes over these edges.
NGRAM_PAIRS_CTES = f"""docs_t AS (
        SELECT doc_id,
               list_distinct(string_split(text, ' ')) AS tok_set,
               list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 3),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                     || ' ' || string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3]
                     || ' ' || string_split(text, ' ')[i+4]
               )) AS sh
        FROM documents
    ),
    exploded AS (SELECT doc_id, unnest(sh) AS s FROM docs_t),
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM exploded a JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    ngram_pairs AS (
        SELECT d1, d2,
               CAST(len(list_filter(x.sh, t -> list_contains(y.sh, t))) AS DOUBLE)
                 / (len(x.sh) + len(y.sh)
                    - len(list_filter(x.sh, t -> list_contains(y.sh, t)))) AS jaccard
        FROM cand
        JOIN docs_t x ON cand.d1 = x.doc_id
        JOIN docs_t y ON cand.d2 = y.doc_id
        WHERE CAST(len(list_filter(x.sh, t -> list_contains(y.sh, t))) AS DOUBLE)
                 / (len(x.sh) + len(y.sh)
                    - len(list_filter(x.sh, t -> list_contains(y.sh, t))))
              >= {JACCARD_THRESHOLD}
    )"""


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH {NGRAM_PAIRS_CTES}
    SELECT d1, d2, jaccard FROM ngram_pairs
    """,
    tags=("dedup", "jaccard"),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs, fully deterministic (oracle-checked):
    candidates = pairs sharing ≥1 distinct 5-gram shingle (an equi-join, not
    a cross join; exact blocking — Jaccard>0 requires a shared shingle),
    verified by exact shingle-set Jaccard ≥ 0.3.

    Scale: cost is Σ_shingle freq² — the classic hot-shingle skew. At corpus
    scale, cap shingle document-frequency (drop shingles appearing in > N
    docs: they only generate pairs the verify step rejects) and let AQE
    split skewed join partitions. The shape (explode → equi-join → verify)
    is exactly how it runs on 1000 executors.
    """
    # doc_shingles is already persisted (and memoized across queries): the
    # exploded shingles feed both plan branches (candidate buckets + the
    # per-doc counts) without re-running the tokenize pipeline.
    exploded = doc_shingles(spark, sf_dir)
    # Bucket key = the shingle itself; cap high enough to stay exact on any
    # plausible shingle frequency (matching the uncapped oracle SQL).
    # dedup=False: each shared distinct shingle emits the pair once, so the
    # pair-keyed COUNT below is the exact |intersection| — no collect_list
    # set shuffles, no per-pair array_intersect (guide §2.3; r15).
    shared = pairs_from_buckets(exploded, ["s"], max_bucket=1_000_000, dedup=False)
    return _count_verify_jaccard(shared, shingle_counts(exploded), JACCARD_THRESHOLD)


def minhash_signature(sh: Column, num_perm: int = NUM_PERM) -> list[Column]:
    """num_perm min-hashes of a shingle set. Permutation i is xxhash64 with a
    distinct salt — deterministic across runs and cluster sizes.

    (Array-expression form, kept for small inputs / documentation; the
    operator below uses the cheaper explode + one-base-hash + integer-rehash
    formulation.)"""
    return [
        F.array_min(F.transform(sh, lambda s: F.xxhash64(F.concat(F.lit(f"mh{i}|"), s)))).alias(
            f"mh_{i}"
        )
        for i in range(num_perm)
    ]


def chunked_pair_expansion(buckets: DataFrame, arr: str) -> DataFrame:
    """Expand each bucket's m·(m-1)/2 ordered pairs of ``arr``'s (sorted)
    elements as (x, y) rows WITHOUT any quadratic row: posexplode pins
    element i as the left member, then one explode of the tail slice emits
    its partners. Every generated row carries at most m-1 elements — LINEAR
    in the bucket — so hot buckets stream through the two generators row by
    row. The previous shape flattened ALL pairs into ONE array value per
    bucket row: at the cap sizes the near-exact operators use (10^5-10^6),
    that single row held >10^9 structs and OOMed an executor long before
    the cap filtered anything. Total pair WORK is still m², bounded by the
    caller's max_bucket cap; this helper bounds the MEMORY.
    """
    return buckets.select(F.col(arr), F.posexplode(arr).alias("i", "x")).select(
        "x", F.explode(F.slice(F.col(arr), F.col("i") + 2, F.size(arr))).alias("y")
    )


def pairs_from_buckets(
    bucketed: DataFrame,
    key_cols: list[str],
    max_bucket: int = 200,
    dedup: bool = True,
) -> DataFrame:
    """(d1, d2) candidate pairs from LSH buckets WITHOUT a self-join: group
    doc ids per bucket, then expand each bucket's m·(m-1)/2 pairs with the
    chunked (memory-linear) generator expansion. One shuffle, no
    recomputation of the upstream pipeline (a self-join would evaluate it
    twice). ``max_bucket`` caps the candidate WORK a degenerate hot bucket
    generates (m² pairs); per-row memory is linear regardless of the cap
    (chunked_pair_expansion). Near-exact callers that raise the cap to be
    effectively uncapped trade that work bound for exactness — at corpus
    scale, prefer a work-bounding cap and accept the recall loss on
    boilerplate buckets (test_ngram_bucket_cap_safe_on_boilerplate_corpus
    shows the verify step rejects those pairs anyway).

    ``dedup=False`` skips the final distinct and returns the raw MULTISET:
    one (d1, d2) row per bucket the pair co-occurs in. When the bucket key
    is the shingle itself (and the input is per-doc distinct), that
    multiplicity IS |shingle intersection| — the _count_verify_jaccard
    feed, where the downstream pair-keyed COUNT replaces the distinct's
    exchange one-for-one (guide §2.4).
    """
    buckets = (
        bucketed.groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    pairs = chunked_pair_expansion(buckets, "ids").select(
        F.col("x").alias("d1"), F.col("y").alias("d2")
    )
    return pairs.distinct() if dedup else pairs


def doc_shingle_hashes(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """(doc_id, hs: array<bigint>) — xxhash64 of each distinct shingle,
    persisted + memoized per (sf_dir, k): the minhash signature scaffold.
    One row per doc, 8 bytes per distinct shingle (vs the exploded string
    scaffold's full shingle text); persisted so the 64 permutation minima
    are narrow array expressions over a bound attribute (without the
    persist barrier Catalyst inlines the string xxhash64 into all 64
    array_min branches — the doc_shingles trap)."""

    def build() -> DataFrame:
        hsdf = doc_token_arrays(spark, sf_dir).select(
            "doc_id",
            F.transform(shingles(F.col("toks"), k), lambda s: F.xxhash64(s)).alias("hs"),
        ).persist()
        hsdf.count()
        return hsdf

    return memo.scaffold(spark, "dedup.shingle_hashes", (sf_dir, k), build)


def doc_token_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, th: array<bigint>) — xxhash64 of every token occurrence
    (with multiplicities — SimHash weights by term frequency), persisted +
    memoized per sf_dir: the simhash scaffold."""

    def build() -> DataFrame:
        thdf = doc_token_arrays(spark, sf_dir).select(
            "doc_id", F.transform(F.col("toks"), lambda t: F.xxhash64(t)).alias("th")
        ).persist()
        thdf.count()
        return thdf

    return memo.scaffold(spark, "dedup.token_hashes", sf_dir, build)


@register("q_dedup_minhash", tags=("dedup", "minhash", "lsh"))
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banded near-dup detection — the sub-quadratic scale path
    for Jaccard dedup (shingle→minhash→band→bucket-join→verify).

    64 permutations, 32 bands × 2 rows (see BAND_ROWS). Candidates
    collide on (band index, band hash); exact shingle Jaccard ≥ 0.3 verifies.
    Driver check is rows-only (hash seeds are engine-specific);
    tests/test_dedup.py asserts candidates ⊆ exact pairs and measures recall
    against q_dedup_ngram_jaccard.

    Scale: signatures are SHUFFLE-FREE — each shingle is string-hashed once
    into the persisted hash-array scaffold (doc_shingle_hashes), and the 64
    permutation minima are narrow array expressions (integer re-hash +
    array_min) over it, so no per-shingle row ever crosses an exchange
    (the previous explode→groupBy(doc_id) shape shuffled every shingle row;
    this cut sf0.1 runtime 1.6 → 0.8 s with BIT-IDENTICAL signatures —
    same base-hash + re-hash formula, pinned by test). The only shuffle
    left is the band-bucket groupBy on fixed-width keys. Candidate pairs
    come from bucket-collect expansion (pairs_from_buckets), not a
    self-join, and hot buckets are capped.
    """
    hsdf = doc_shingle_hashes(spark, sf_dir)
    sig_arr = F.transform(
        F.sequence(F.lit(0), F.lit(NUM_PERM - 1)),
        lambda i: F.array_min(F.transform(F.col("hs"), lambda h: F.xxhash64(h, i))),
    )
    sigs = hsdf.filter(F.size("hs") > 0).select("doc_id", sig_arr.alias("sig"))
    n_bands = NUM_PERM // BAND_ROWS
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.xxhash64(
            *[F.element_at("sig", b * BAND_ROWS + r + 1) for r in range(BAND_ROWS)]
        ),
    )
    banded = sigs.select("doc_id", F.posexplode(bands).alias("band_idx", "band_hash"))
    cand = pairs_from_buckets(banded, ["band_idx", "band_hash"])
    return _verify_jaccard(cand, shingle_sets(doc_shingles(spark, sf_dir)), JACCARD_THRESHOLD)


# Work cap for one 16-bit-chunk collision bucket: m² pair WORK per bucket
# (memory is linear per row via chunked_pair_expansion). At 10^5 the cap
# only bites corpora where ~10% of everything shares one chunk value —
# beyond that, widen the chunks (more bits) instead of raising the cap.
SIMHASH_MAX_BUCKET = 100_000


@register("q_dedup_simhash", tags=("dedup", "simhash"))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection: 64-bit signatures from term-frequency-
    weighted token hash bits; near-dups = pairs within Hamming distance 3,
    found by exact-matching one of four 16-bit chunks (pigeonhole: distance
    ≤3 ⇒ at least one of 4 chunks identical — no false negatives for the
    chunk-blocking step).

    Driver check rows-only (engine-specific hash); pytest asserts signature
    properties + symmetry.

    Scale: SHUFFLE-FREE signatures — 64 branch-free bit votes as narrow
    array expressions (size-of-filter per bit) over the persisted token-hash
    scaffold; the signature then RIDES the 4-way chunk bucket expansion
    (collect struct(doc_id, simhash) per bucket), so the Hamming verify
    needs no join-back — the old shape evaluated the whole signature
    pipeline THREE times (chunk branch + both join sides of the verify).
    One shuffle total (the chunk buckets), on 2-byte keys. Pair expansion
    is chunked (memory-linear rows); SIMHASH_MAX_BUCKET bounds the m² pair
    work of a degenerate chunk-collision bucket.
    """
    thdf = doc_token_hashes(spark, sf_dir)
    n = F.size("th")
    # Branch-free form of the classic ±1 bit vote: count the RAW bit i over
    # tokens (s_i) plus the shared token count n; "majority positive" (the
    # ±1 sum > 0) is exactly 2*s_i > n, with ties -> 0 in both forms.
    # Equivalence is pinned in tests/test_dedup_similarity.py (vote form vs
    # CASE-WHEN r5; groupBy form vs this narrow form r6, bit-identical).
    sim = None
    for i in range(64):
        s_i = F.size(
            F.filter(F.col("th"), lambda hh: F.shiftright(hh, i).bitwiseAND(F.lit(1)) == 1)
        )
        bit = F.when(
            s_i * 2 > n, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim.bitwiseXOR(bit)  # bits are disjoint → XOR == OR
    sigs = thdf.filter(n > 0).select("doc_id", sim.alias("simhash"))
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 16 * c).bitwiseAND(F.lit(0xFFFF)).alias(f"c{c}")
                    for c in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    buckets = (
        chunks.groupBy("chunk_idx", "chunk_val")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("items"))
        .filter((F.size("items") > 1) & (F.size("items") <= SIMHASH_MAX_BUCKET))
    )
    return (
        chunked_pair_expansion(buckets, "items")
        .select(
            F.col("x.doc_id").alias("d1"),
            F.col("y.doc_id").alias("d2"),
            F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


# --- Duplicated-span scrubbing (passage-level dedup) -------------------------
# Document-level dedup (everything above) drops whole near-identical docs;
# real corpora also carry REPEATED PASSAGES inside otherwise-unique documents
# (boilerplate, licenses, navigation chrome). The reference treatment is
# suffix-array ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better"); a suffix array is not a distributed-
# join shape, so the scalable form used here is its fixed-span approximation:
# positioned k-token spans as posting keys, corpus-wide document frequency,
# and removal of every token covered by a span seen in >= SPAN_MIN_DOCS
# distinct documents. Overlapping frequent spans merge naturally because
# coverage is a position SET.
SPAN_K = 5
SPAN_MIN_DOCS = 2


def span_sql_ctes(src: str) -> str:
    """The span-scrub oracle CTE chain (base/toks/grams/freq/cov) over any
    source relation exposing (doc_id, text) — shared by q_span_dedup
    (src='documents') and q_corpus_release (src='kept', operators/
    release.py), so the two oracles can never drift."""
    return f"""base AS (SELECT doc_id, string_split(text, ' ') AS sp FROM {src}),
    toks AS (
        SELECT doc_id, unnest(list_transform(range(1, len(sp)+1),
            i -> {{'pos': i, 'tok': sp[i]}})) AS pt
        FROM base
    ),
    grams AS (
        SELECT doc_id, pg.pos AS pos,
               {" || ' ' || ".join(f"sp[pg.pos+{o}]" for o in range(SPAN_K))} AS gram
        FROM (
            SELECT doc_id, sp, unnest(list_transform(range(1, len(sp) - {SPAN_K - 2}),
                i -> {{'pos': i}})) AS pg
            FROM base
        )
    ),
    freq AS (
        SELECT gram FROM (
            SELECT gram, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY gram
        ) WHERE df >= {SPAN_MIN_DOCS}
    ),
    cov AS (
        SELECT DISTINCT g.doc_id, g.pos + off.o AS pos
        FROM grams g JOIN freq USING (gram),
             (SELECT unnest(range(0, {SPAN_K})) AS o) off
    )"""


@register(
    "q_span_dedup",
    oracle=f"""
    WITH {span_sql_ctes("documents")}
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           COUNT(c.pos) AS n_removed,
           COALESCE(string_agg(CASE WHEN c.pos IS NULL THEN t.pt.tok END,
                               ' ' ORDER BY t.pt.pos), '') AS cleaned_text
    FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pt.pos = c.pos
    GROUP BY t.doc_id
    """,
    tags=("dedup", "span", "text"),
)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-passage scrub: remove every token covered by a {SPAN_K}-token
    span that occurs in >= SPAN_MIN_DOCS distinct documents, and emit the
    reconstructed clean text plus removal accounting. The distributed
    approximation of suffix-array ExactSubstr dedup — fixed-length spans
    turn "shared substring" into an equi-join key.

    Shape: positioned spans are array expressions over the PERSISTED token
    arrays (doc_token_arrays — one split per doc, narrow; the first
    posexplode+LEAD draft re-ran the explode+window sort once per plan
    branch and was 5x slower). Gram postings shuffle ONCE, as 16-byte md5
    keys: a single groupBy(gram-key) computes the document-frequency test
    AND carries the posting list, so the singleton-gram majority dies in
    the filter instead of being re-shuffled through a freq sort-merge join
    (the round-5 shape; this cut sf0.1 runtime ~2x). The covered-position
    SET is aggregated per doc (collect_set — overlapping frequent spans
    merge here), then joined back to the one-row-per-doc token arrays, so
    reconstruction is a narrow indexed array filter — no token-level
    shuffle and no final groupBy at all.

    Scale: no stage is quadratic — postings shuffle by gram key (skew is
    bounded: a gram's posting list equals its corpus frequency, the same
    rows the old join emitted; a df cap like pairs_from_buckets' applies if
    boilerplate grams dominate), coverage shuffles once by doc_id, and the
    final join moves one row per DOC on each side. Output partitioning =
    input docs partitioning.
    """
    return span_scrub(doc_token_arrays(spark, sf_dir))


def span_scrub(
    toks_df: DataFrame, k: int = SPAN_K, min_docs: int = SPAN_MIN_DOCS
) -> DataFrame:
    """The span-scrub core over a (doc_id, toks: array<string>) DataFrame —
    exposed separately so the property suite can drive it with synthetic
    corpora against a pure-python reference (test_properties.py). The
    caller is responsible for persisting toks_df if its lineage is
    expensive (q_span_dedup passes the memoized doc_token_arrays)."""
    # 16-byte md5 gram keys (the q_dedup_exact trick): the widest shuffle
    # moves fixed-width binary instead of ~6x-wider gram strings, and the
    # collision space (2^128 over a ~N*L gram population) keeps the result
    # exact in any physically realizable corpus.
    gram_at = lambda i: F.unhex(
        F.md5(
            F.concat_ws(" ", *[F.element_at(F.col("toks"), i + off) for off in range(k)])
        )
    )
    pg_struct = lambda i: F.struct(i.alias("pos"), gram_at(i).alias("gkey"))
    grams = toks_df.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= k,
                F.transform(F.sequence(F.lit(1), F.size("toks") - (k - 1)), pg_struct),
            ).otherwise(F.array().cast("array<struct<pos:int,gkey:binary>>"))
        ).alias("pg"),
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gkey").alias("gkey"))
    # ONE shuffle of the gram postings: groupBy(gkey) carries the posting
    # list alongside the document-frequency test, so the singleton-gram
    # majority is shuffled once and dies in the filter — the previous
    # freq-then-join shape shuffled every singleton a second time through a
    # sort-merge join. Postings for a df>=min_docs gram explode back out
    # exactly as the join would have emitted them; per-gram list size equals
    # the gram's corpus frequency (boilerplate-gram skew is bounded by doc
    # count, and the same rows would exist post-join in the old shape).
    cov = (
        grams.groupBy("gkey")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("posts"))
        .filter(
            (F.size("posts") >= min_docs)
            & (F.size(F.array_distinct(F.col("posts.doc_id"))) >= min_docs)
        )
        .select(F.explode("posts").alias("dp"))
        .select(F.col("dp.doc_id").alias("doc_id"), F.col("dp.pos").alias("pos"))
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("starts"))
        # Expand start positions to covered positions AFTER the doc_id
        # shuffle (array ops, no explode): the shuffle moves one int per
        # frequent span instead of k.
        .select(
            "doc_id",
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.col("starts"), lambda s: F.sequence(s, s + (k - 1))
                    )
                )
            ).alias("cov"),
        )
    )
    joined = toks_df.join(cov, "doc_id", "left")
    covered = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("toks"), lambda t, i: ~F.array_contains(covered, (i + 1).cast("int"))
    )
    return joined.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.coalesce(F.size("cov"), F.lit(0)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("cleaned_text"),
    )


# --- Cross-split decontamination (near-dup test-set leakage) -----------------
# q_contamination (corpus.py) finds EXACT shared shingles against a tiny
# benchmark set; the harder production problem is near-duplicate leakage
# ACROSS the train/test split itself: a test document whose near-duplicate
# sits in train silently inflates eval. This is the standard "decontaminate
# train against eval at the near-dup level" pass (the GPT-3 appendix-C
# treatment, upgraded from 13-gram exact overlap to Jaccard similarity).


@register(
    "q_cross_split_decontamination",
    oracle=f"""
    WITH docs_t AS (
        SELECT doc_id,
               CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '{'c' * 32}'
                    THEN 'train' ELSE 'test' END AS split,
               list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 3),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                     || ' ' || string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3]
                     || ' ' || string_split(text, ' ')[i+4]
               )) AS sh
        FROM documents
    ),
    tr AS (SELECT doc_id, sh, unnest(sh) AS s FROM docs_t WHERE split = 'train'),
    te AS (SELECT doc_id, sh, unnest(sh) AS s FROM docs_t WHERE split = 'test'),
    cand AS (
        SELECT DISTINCT te.doc_id AS test_id, tr.doc_id AS train_id
        FROM te JOIN tr ON te.s = tr.s
    )
    SELECT test_id, train_id,
           CAST(len(list_filter(x.sh, t -> list_contains(y.sh, t))) AS DOUBLE)
             / (len(x.sh) + len(y.sh)
                - len(list_filter(x.sh, t -> list_contains(y.sh, t)))) AS jaccard
    FROM cand
    JOIN docs_t x ON cand.test_id = x.doc_id
    JOIN docs_t y ON cand.train_id = y.doc_id
    WHERE CAST(len(list_filter(x.sh, t -> list_contains(y.sh, t))) AS DOUBLE)
             / (len(x.sh) + len(y.sh)
                - len(list_filter(x.sh, t -> list_contains(y.sh, t))))
          >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "contamination", "split"),
)
def q_cross_split_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test documents with a NEAR-DUPLICATE (shingle Jaccard >= 0.3) in the
    train split, under the same deterministic md5 split rule as
    q_train_test_split — the list a real pipeline removes from train before
    training. Fully oracle-checked (split rule, candidates, and Jaccard are
    all engine-deterministic).

    Scale: candidates come from ONE posting equi-join between the two
    split-filtered branches of the memoized shingle cache (never
    train x test): cost is sum over shingles of df_train*df_test, with the
    same hot-shingle df-cap story as q_dedup_ngram_jaccard. The verify leg
    touches candidate pairs only. The split filter is a narrow predicate on
    the cached rows, so the whole query adds no new tokenize work.
    """
    from .corpus import TRAIN_THRESHOLD

    sh = doc_shingles(spark, sf_dir)
    is_train = F.md5(F.col("doc_id").cast("string")) < TRAIN_THRESHOLD
    tr = sh.filter(is_train).select(F.col("doc_id").alias("d1"), "s")
    te = sh.filter(~is_train).select(F.col("doc_id").alias("d2"), "s")
    # One row per shared distinct shingle (the scaffold is per-doc
    # distinct), so the verify is the count form: no distinct exchange, no
    # collect_list set shuffles, no per-pair array_intersect (r15, §2.3).
    shared = te.join(tr, "s").select("d1", "d2")
    verified = _count_verify_jaccard(shared, shingle_counts(sh), JACCARD_THRESHOLD)
    return verified.select(
        F.col("d2").alias("test_id"), F.col("d1").alias("train_id"), "jaccard"
    )


# --- Dedup evidence fusion ---------------------------------------------------
# Real pipelines don't act on ONE dedup signal: the keep/drop decision table
# carries every signal per candidate pair. This operator fuses the three
# lexical signals this engine computes (exact content hash, shingle Jaccard,
# winnowing-fingerprint overlap) into one pair-keyed table via coalesced
# full-outer joins — the input to q_canonical_docs-style resolution.


@register(
    "q_dedup_evidence",
    # The winnowing CTEs below are a FROZEN RENDER of text._winnow_sql_cte()
    # (verified identical by the driver-strict parity test): importing text
    # at module level here would reorder registry registration — and with it
    # the driver's fixed 50-name correctness window.
    oracle=f"""
    WITH {NGRAM_PAIRS_CTES},
    base AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(sp) >= 4 THEN
               list_transform(range(1, len(sp) - 2),
                 i -> substr(md5(sp[i+0] || ' ' || sp[i+1] || ' ' || sp[i+2] || ' ' || sp[i+3]), 1, 8))
             ELSE [] END AS hs
      FROM base
    ),
    sel AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= 5 THEN
               list_transform(range(1, len(hs) - 3),
                 j -> {{'pos': list_max(list_filter(range(j, j + 5),
                           q -> hs[q] = list_min(hs[j:j+4]))),
                       'fp': list_min(hs[j:j+4])}})
             ELSE [] END AS s
      FROM g
    ),
    fps AS (
      SELECT DISTINCT doc_id, u.fp AS fp
      FROM (SELECT doc_id, unnest(s) AS u FROM sel)
    ),
    exact_pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM documents a JOIN documents b
          ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    ),
    thumbs AS (
        SELECT doc_id, md5(substr(text, 1, 256)) AS th FROM documents
    ),
    media_pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM thumbs a JOIN thumbs b
          ON a.th = b.th AND a.doc_id < b.doc_id
    ),
    winnow_pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared_fps
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= {3}
    )
    SELECT COALESCE(j.d1, e.d1, w.d1, m.d1) AS d1,
           COALESCE(j.d2, e.d2, w.d2, m.d2) AS d2,
           j.jaccard AS jaccard,
           COALESCE(e.d1 IS NOT NULL, FALSE) AS is_exact,
           CAST(COALESCE(w.n_shared_fps, 0) AS BIGINT) AS n_shared_fps,
           COALESCE(m.d1 IS NOT NULL, FALSE) AS is_media_dup
    FROM ngram_pairs j
    FULL OUTER JOIN exact_pairs e ON j.d1 = e.d1 AND j.d2 = e.d2
    FULL OUTER JOIN winnow_pairs w
      ON COALESCE(j.d1, e.d1) = w.d1 AND COALESCE(j.d2, e.d2) = w.d2
    FULL OUTER JOIN media_pairs m
      ON COALESCE(j.d1, e.d1, w.d1) = m.d1 AND COALESCE(j.d2, e.d2, w.d2) = m.d2
    """,
    tags=("dedup", "evidence", "fusion"),
)
def q_dedup_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair dedup decision table: every document pair flagged by ANY of
    the four signals, with all four columns — shingle Jaccard (null if
    below threshold), exact-content equality, shared winnowing-fingerprint
    count (0 if below OVERLAP_MIN_FPS), and media-thumbnail equality (the
    binary-payload near-dup leg, operators/multimodal.q_media_dedup's
    hash). Fully oracle-checked: each leg is deterministic and the fusion
    is coalesced full-outer joins on the pair key.

    Scale: each leg is its own sub-quadratic candidate pipeline (posting
    equi-joins, hash groupBys) over the SHARED token/shingle scaffolds;
    the fusion joins pair-keyed tables whose size is the (tiny) near-dup
    edge count, not the corpus. Full-outer on (d1, d2) shuffles by the
    pair key once per leg.
    """
    from .multimodal import THUMB_BYTES
    from .text import OVERLAP_MIN_FPS, q_winnow_overlap

    jac = q_dedup_ngram_jaccard(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    # Exact + media legs fused into ONE scan and ONE exchange (r15, guide
    # §2.4): both hashes derive from the same documents row (the media
    # payload is the text's utf-8 bytes), so one projection emits BOTH,
    # a generate unpivots them to (kind, h) rows, and a single
    # (kind, h)-keyed groupBy replaces the two separate hash groupBys —
    # the kind column keeps the two hash spaces disjoint, so bucket
    # membership (and therefore every emitted pair) is unchanged. The
    # previous shape scanned documents twice and paid two exchanges.
    # No bucket cap here: every pair of identical docs IS output (the
    # oracle's exact_pairs leg is pair-complete), so the output itself is
    # quadratic in an identical-content cluster. chunked_pair_expansion
    # keeps per-row memory linear in the cluster size regardless.
    # media payload = encode(text, utf-8) (as_media_table), and the thumb
    # hash reads it back through a string cast — written out inline here so
    # one projection provably computes the identical bytes both legs hashed.
    payload_str = F.encode("text", "utf-8").cast("string")
    both = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit("e").alias("kind"), F.md5("text").alias("h")),
                F.struct(
                    F.lit("m").alias("kind"),
                    F.md5(F.substring(payload_str, 1, THUMB_BYTES)).alias("h"),
                ),
            )
        ).alias("kh"),
    ).select("doc_id", F.col("kh.kind").alias("kind"), F.col("kh.h").alias("h"))
    kb = (
        both.groupBy("kind", "h")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    hash_pairs = (
        kb.select("kind", F.col("ids"), F.posexplode("ids").alias("i", "x"))
        .select(
            "kind",
            "x",
            F.explode(F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))).alias("y"),
        )
    )
    wov = q_winnow_overlap(spark, sf_dir)
    # Fusion as union + ONE pair-keyed aggregation (r14, guide §2.4): each
    # leg emits at most one row per (d1, d2), so max-per-column over the
    # union reproduces the coalesced full-outer join exactly — one
    # exchange instead of the three chained full-outer joins' four
    # exchanges + three sorts (max ignores NULLs; a leg that never saw the
    # pair contributes nothing, exactly like its side missing in the
    # full-outer form).
    null_d = F.lit(None).cast("double")
    null_b = F.lit(None).cast("boolean")
    null_l = F.lit(None).cast("long")
    fused = (
        jac.select(
            "d1", "d2", F.col("jaccard").cast("double").alias("jaccard"),
            null_b.alias("is_exact"), null_l.alias("n_shared_fps"),
            null_b.alias("is_media_dup"),
        )
        .unionByName(
            # the fused exact+media leg: 'e' rows set is_exact, 'm' rows
            # set is_media_dup — one union branch, exactly the rows the
            # two separate legs contributed
            hash_pairs.select(
                F.col("x").alias("d1"), F.col("y").alias("d2"),
                null_d.alias("jaccard"),
                F.when(F.col("kind") == "e", F.lit(True)).otherwise(null_b).alias("is_exact"),
                null_l.alias("n_shared_fps"),
                F.when(F.col("kind") == "m", F.lit(True)).otherwise(null_b).alias("is_media_dup"),
            )
        )
        .unionByName(
            wov.select(
                "d1", "d2", null_d.alias("jaccard"), null_b.alias("is_exact"),
                F.col("n_shared_fps").cast("long").alias("n_shared_fps"),
                null_b.alias("is_media_dup"),
            )
        )
        .groupBy("d1", "d2")
        .agg(
            F.max("jaccard").alias("jaccard"),
            F.max("is_exact").alias("is_exact"),
            F.max("n_shared_fps").alias("n_shared_fps"),
            F.max("is_media_dup").alias("is_media_dup"),
        )
    )
    return fused.select(
        "d1",
        "d2",
        "jaccard",
        F.coalesce(F.col("is_exact"), F.lit(False)).alias("is_exact"),
        F.coalesce(F.col("n_shared_fps"), F.lit(0)).cast("long").alias("n_shared_fps"),
        F.coalesce(F.col("is_media_dup"), F.lit(False)).alias("is_media_dup"),
    )


# --- Incremental near-dup dedup (delta vs corpus) ----------------------------
# At warehouse scale you never re-dedup the whole corpus: each ingest batch
# (the "delta", here the top-20%-by-id arrival tail) is checked against
# everything already present PLUS itself. The candidate generator touches
# only postings involving a delta doc, so incremental cost is
# O(delta postings x shingle df), not corpus².


@register(
    "q_incremental_dedup",
    oracle=f"""
    WITH {NGRAM_PAIRS_CTES}
    SELECT d1, d2, jaccard FROM ngram_pairs
    WHERE d2 >= (SELECT CAST(CEIL(MAX(doc_id) * 0.8) AS BIGINT) FROM documents)
    """,
    tags=("dedup", "incremental", "jaccard"),
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs whose NEWER member (d2 — ids are arrival-ordered and
    pairs are emitted d1<d2) belongs to the delta (top 20% of the id
    range): every old-new and new-new duplicate, no old-old pair. Exactly
    the q_dedup_ngram_jaccard contract restricted to pairs the delta
    introduces — the oracle states it as a filter over ALL pairs; the
    Spark plan NEVER GENERATES the old-old candidates.

    Scale: the join's build side is the delta's postings only (one narrow
    filter over the memoized shingle cache), probe side is the full
    posting set — candidate volume is delta-proportional, which is the
    entire point of incremental dedup. Verify touches candidates only.
    In production the full side's signatures/postings would be a
    materialized table bucketed by shingle key, making this a co-located
    join with no corpus-side shuffle at all (sources/bucketed.py).
    """
    sh = doc_shingles(spark, sf_dir)
    threshold = load_table(spark, sf_dir, "documents").agg(
        F.ceil(F.max("doc_id") * 0.8).cast("long").alias("t")
    )
    delta = (
        sh.crossJoin(F.broadcast(threshold))
        .filter(F.col("doc_id") >= F.col("t"))
        .select(F.col("doc_id").alias("d2"), "s")
    )
    older = sh.select(F.col("doc_id").alias("d1"), "s")
    # One row per shared distinct shingle → count-based verify (r15, §2.3:
    # the posting join's multiplicity IS the intersection; no distinct, no
    # set shuffles, no per-pair array_intersect).
    shared = delta.join(older, "s").filter(F.col("d1") < F.col("d2")).select("d1", "d2")
    return _count_verify_jaccard(shared, shingle_counts(sh), JACCARD_THRESHOLD)


# --- Exact substring dedup (maximal duplicated runs) -------------------------
# q_span_dedup above scrubs everything covered by a SHORT shared k-gram in
# >= 2 distinct docs — a blanket boilerplate pass. This family is the other
# half of the Lee et al. 2022 ExactSubstr treatment: find MAXIMAL exact
# duplicated runs of length >= SUBSTR_L tokens, counting repeats anywhere
# (a second occurrence in the SAME document counts — self-plagiarized
# boilerplate is still a duplicated substring), and emit them as spans.
# The suffix-array reduction that makes this a join shape: a token position
# lies inside a duplicated run of length >= L IFF some duplicated L-gram
# covers it, so duplicated L-gram start positions are a complete witness
# set, and maximal runs are their sorted-adjacency islands (two dup starts
# s1 < s2 belong to one run iff s2 <= s1 + L — their coverage windows touch).

SUBSTR_L = 20  # minimum duplicated-run length in tokens (docs avg ~54 here)
SUBSTR_MIN_COUNT = 2  # occurrences anywhere, same doc included


def substr_sql_ctes(src: str, L: int = SUBSTR_L, min_count: int = SUBSTR_MIN_COUNT) -> str:
    """Oracle CTE chain (sbase/sgrams/sfreq/sdups) over any relation with
    (doc_id, text) — shared by q_substring_dedup / q_substring_scrub
    (src='documents') and q_release_substring_scrub (src='kept')."""
    gram = " || ' ' || ".join(f"sp[pg.pos+{o}]" for o in range(L))
    return f"""sbase AS (SELECT doc_id, string_split(text, ' ') AS sp FROM {src}),
    sgrams AS (
        SELECT doc_id, pg.pos AS pos, {gram} AS gram
        FROM (
            SELECT doc_id, sp, unnest(list_transform(range(1, len(sp) - {L - 2}),
                i -> {{'pos': i}})) AS pg
            FROM sbase
        )
    ),
    sfreq AS (
        SELECT gram FROM (
            SELECT gram, COUNT(*) AS c FROM sgrams GROUP BY gram
        ) WHERE c >= {min_count}
    ),
    sdups AS (SELECT g.doc_id, g.pos FROM sgrams g JOIN sfreq USING (gram))"""


def positioned_gkeys(toks_df: DataFrame, L: int = SUBSTR_L) -> DataFrame:
    """(doc_id, pos, gkey) for every L-gram start: 16-byte md5 gram keys
    over the token arrays (the span_scrub trick — fixed-width binary
    shuffle keys). Shared by the substring-dedup family and its streaming
    ingest twin."""
    gram_at = lambda i: F.unhex(
        F.md5(
            F.concat_ws(" ", *[F.element_at(F.col("toks"), i + off) for off in range(L)])
        )
    )
    pg_struct = lambda i: F.struct(i.alias("pos"), gram_at(i).alias("gkey"))
    return toks_df.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= L,
                F.transform(F.sequence(F.lit(1), F.size("toks") - (L - 1)), pg_struct),
            ).otherwise(F.array().cast("array<struct<pos:int,gkey:binary>>"))
        ).alias("pg"),
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gkey").alias("gkey"))


def substring_dup_keys(
    toks_df: DataFrame, L: int = SUBSTR_L, min_count: int = SUBSTR_MIN_COUNT
) -> DataFrame:
    """(gkey) of every L-gram occurring >= min_count times — the corpus
    duplicated-gram dictionary, the STATIC side of the streaming scrub
    ingest (a fixed-width join key set, broadcastable/bucketable)."""
    return (
        positioned_gkeys(toks_df, L)
        .groupBy("gkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("gkey")
    )


def substring_dup_starts(
    toks_df: DataFrame, L: int = SUBSTR_L, min_count: int = SUBSTR_MIN_COUNT
) -> DataFrame:
    """(doc_id, pos) of every duplicated-L-gram start — the single-shuffle
    posting shape of span_scrub (16-byte md5 gram keys, groupBy carrying
    the posting list so the singleton majority dies in one exchange), with
    the occurrence-count test (>= min_count anywhere) instead of the
    distinct-document test."""
    grams = positioned_gkeys(toks_df, L)
    return (
        grams.groupBy("gkey")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("posts"))
        .filter(F.size("posts") >= min_count)
        .select(F.explode("posts").alias("dp"))
        .select(F.col("dp.doc_id").alias("doc_id"), F.col("dp.pos").alias("pos"))
    )


def substring_spans(
    toks_df: DataFrame,
    L: int = SUBSTR_L,
    min_count: int = SUBSTR_MIN_COUNT,
    starts: DataFrame | None = None,
) -> DataFrame:
    """Maximal duplicated runs as (doc_id, span_start, span_end,
    n_span_tokens), one row per run.

    Island detection is pure ARRAY arithmetic over the per-doc sorted start
    list — zip each start with its predecessor (sentinel for the first) and
    a new island begins where the gap exceeds L. No corpus-keyed window
    anywhere: the only shuffles are the gram-posting exchange and one
    groupBy(doc_id) whose groups are bounded by document length.

    ``starts`` overrides the (doc_id, pos) duplicated-start source — a
    caller that already materializes the posting groupBy (q_substring_
    evidence) passes its own derivation so the physical planner's
    ReuseExchange serves BOTH branches from one gram shuffle instead of
    hashing every positioned gram twice (r14)."""
    if starts is None:
        starts = substring_dup_starts(toks_df, L, min_count)
    starts = starts.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("pos")).alias("ss")
    )
    # brks = 1-based indexes into ss that begin an island (ss is never
    # empty here, so brks always contains index 1 via the sentinel)
    prev = F.concat(
        F.array(F.lit(-(10**9))), F.slice(F.col("ss"), 1, F.size("ss") - 1)
    )
    with_brks = starts.select(
        "doc_id",
        "ss",
        F.filter(
            F.sequence(F.lit(1), F.size("ss")),
            lambda j: F.element_at(F.col("ss"), j) > F.element_at(prev, j) + F.lit(L),
        ).alias("brks"),
    )
    mk_span = lambda r: F.struct(
        F.element_at(F.col("ss"), F.element_at(F.col("brks"), r)).alias("s"),
        (
            F.element_at(
                F.col("ss"),
                F.when(
                    r < F.size("brks"), F.element_at(F.col("brks"), r + 1) - 1
                ).otherwise(F.size("ss")),
            )
            + F.lit(L - 1)
        ).alias("e"),
    )
    return (
        with_brks.select(
            "doc_id",
            F.explode(
                F.transform(F.sequence(F.lit(1), F.size("brks")), mk_span)
            ).alias("sp"),
        )
        .select(
            "doc_id",
            F.col("sp.s").cast("long").alias("span_start"),
            F.col("sp.e").cast("long").alias("span_end"),
            (F.col("sp.e") - F.col("sp.s") + 1).cast("long").alias("n_span_tokens"),
        )
    )


@register(
    "q_substring_dedup",
    oracle=f"""
    WITH {substr_sql_ctes("documents")},
    seqd AS (
        SELECT doc_id, pos,
               CASE WHEN pos > LAG(pos, 1, {-(10**9)}) OVER (
                        PARTITION BY doc_id ORDER BY pos) + {SUBSTR_L}
                    THEN 1 ELSE 0 END AS brk
        FROM sdups
    ),
    isl AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM seqd
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {SUBSTR_L - 1} AS BIGINT) AS span_end,
           CAST(MAX(pos) - MIN(pos) + {SUBSTR_L} AS BIGINT) AS n_span_tokens
    FROM isl GROUP BY doc_id, island
    """,
    tags=("dedup", "substring", "text"),
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal exact duplicated substrings of >= {SUBSTR_L} tokens (the Lee
    et al. ExactSubstr scrub list): every maximal run whose every token is
    covered by an L-gram occurring >= {SUBSTR_MIN_COUNT} times corpus-wide
    (same doc included). One row per run with its doc and token interval —
    the actionable artifact (a scrub list / audit table), complementing
    q_span_dedup's blanket short-gram cleanup.

    Oracle-exact: positions and island arithmetic are integers; the oracle
    states the identical reduction with a LAG-over-doc window while the
    Spark plan uses per-doc array zips (no window at corpus scale).

    Scale: identical cost shape to q_span_dedup — one posting shuffle (md5
    gram keys; a gram's posting list equals its corpus frequency), one
    groupBy(doc_id) bounded by doc length, island logic narrow per row.
    """
    return substring_spans(doc_token_arrays(spark, sf_dir))


@register(
    "q_substring_scrub",
    oracle=f"""
    WITH {substr_sql_ctes("documents")},
    scov AS (
        SELECT DISTINCT d.doc_id, d.pos + off.o AS pos
        FROM sdups d, (SELECT unnest(range(0, {SUBSTR_L})) AS o) off
    ),
    stoks AS (
        SELECT doc_id, unnest(list_transform(range(1, len(sp)+1),
            i -> {{'pos': i, 'tok': sp[i]}})) AS pt
        FROM sbase
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           COUNT(c.pos) AS n_removed,
           COALESCE(string_agg(CASE WHEN c.pos IS NULL THEN t.pt.tok END,
                               ' ' ORDER BY t.pt.pos), '') AS cleaned_text
    FROM stoks t LEFT JOIN scov c ON t.doc_id = c.doc_id AND t.pt.pos = c.pos
    GROUP BY t.doc_id
    """,
    tags=("dedup", "substring", "text"),
)
def q_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executable form of q_substring_dedup: remove every token inside
    a duplicated >= {SUBSTR_L}-token exact run and emit the reconstructed
    text with removal accounting (q_span_dedup's schema, so the two scrub
    passes compose/compare directly). A real curation pipeline runs BOTH:
    the short-gram pass kills boilerplate, this pass kills long verbatim
    duplication at occurrence granularity."""
    return substring_scrub(doc_token_arrays(spark, sf_dir))


def substring_scrub(
    toks_df: DataFrame, L: int = SUBSTR_L, min_count: int = SUBSTR_MIN_COUNT
) -> DataFrame:
    """Substring-scrub core over (doc_id, toks) — span_scrub's coverage/
    reconstruction tail driven by duplicated-run starts instead of
    frequent-span starts (exposed for composition: q_release_substring_scrub
    feeds it the release pipeline's kept set)."""
    return scrub_from_starts(toks_df, substring_dup_starts(toks_df, L, min_count), L)


def scrub_from_starts(toks_df: DataFrame, starts: DataFrame, L: int) -> DataFrame:
    """Coverage + reconstruction from a (doc_id, pos) duplicated-start
    frame: expand each start to its L-token window AFTER the doc_id
    groupBy (array ops, one int per start crosses the shuffle), then
    rebuild the text with an indexed array filter. Shared by
    substring_scrub and the streaming scrub ingest."""
    cov = (
        starts.groupBy("doc_id")
        .agg(F.collect_set("pos").alias("starts"))
        .select(
            "doc_id",
            F.array_distinct(
                F.flatten(
                    F.transform(F.col("starts"), lambda s: F.sequence(s, s + (L - 1)))
                )
            ).alias("cov"),
        )
    )
    joined = toks_df.join(cov, "doc_id", "left")
    covered = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("toks"), lambda t, i: ~F.array_contains(covered, (i + 1).cast("int"))
    )
    return joined.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.coalesce(F.size("cov"), F.lit(0)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("cleaned_text"),
    )


# position-packing for the witness key: doc_id * 2^20 + pos. Positions are
# token offsets within ONE document; 2^20 (~1M tokens/doc) bounds any
# curation-granularity document, and doc_id keeps 2^43 headroom in int64.
_POS_PACK = 1 << 20


@register(
    "q_substring_evidence",
    oracle=f"""
    WITH {substr_sql_ctes("documents")},
    sposts AS (
        SELECT g.gram, g.doc_id, g.pos,
               g.doc_id * {_POS_PACK} + g.pos AS k
        FROM sgrams g JOIN sfreq USING (gram)
    ),
    swit AS (
        SELECT a.doc_id, a.pos, MIN(b.k) AS wk
        FROM sposts a JOIN sposts b USING (gram)
        WHERE b.k <> a.k
        GROUP BY a.doc_id, a.pos
    ),
    seqd AS (
        SELECT doc_id, pos,
               CASE WHEN pos > LAG(pos, 1, {-(10**9)}) OVER (
                        PARTITION BY doc_id ORDER BY pos) + {SUBSTR_L}
                    THEN 1 ELSE 0 END AS brk
        FROM sdups
    ),
    isl AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM seqd
    ),
    spans AS (
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) + {SUBSTR_L - 1} AS BIGINT) AS span_end,
               CAST(MAX(pos) - MIN(pos) + {SUBSTR_L} AS BIGINT) AS n_span_tokens
        FROM isl GROUP BY doc_id, island
    )
    SELECT s.doc_id, s.span_start, s.span_end, s.n_span_tokens,
           CAST(w.wk // {_POS_PACK} AS BIGINT) AS src_doc,
           CAST(w.wk % {_POS_PACK} AS BIGINT) AS src_pos
    FROM spans s JOIN swit w ON s.doc_id = w.doc_id AND s.span_start = w.pos
    """,
    tags=("dedup", "substring", "evidence", "audit"),
)
def q_substring_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance for q_substring_dedup's scrub list: each maximal
    duplicated run annotated with its canonical WITNESS — the globally
    earliest other occurrence (min packed (doc, pos)) of the run's anchor
    gram. The who-duplicates-whom audit row (q_dedup_evidence's role for
    the ExactSubstr family): a reviewer can open src_doc at src_pos and
    see the same {SUBSTR_L}-token text.

    Scale: NO pair expansion anywhere — the witness is an array-min over
    each gram's posting list inside the same single posting shuffle the
    dedup already pays (the oracle states it as a posting self-join; the
    Spark plan computes min(sorted packed keys) per posting group, so a
    boilerplate gram with a million occurrences still emits one witness
    per occurrence, never a million² pair stream)."""
    toks_df = doc_token_arrays(spark, sf_dir)
    L, min_count = SUBSTR_L, SUBSTR_MIN_COUNT
    grams = positioned_gkeys(toks_df, L)
    posts = (
        grams.groupBy("gkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.col("doc_id") * F.lit(_POS_PACK) + F.col("pos")
                )
            ).alias("ks")
        )
        .filter(F.size("ks") >= min_count)
    )
    wit = (
        posts.select(F.explode("ks").alias("k"), "ks")
        .select(
            F.expr(f"k div {_POS_PACK}").alias("doc_id"),
            (F.col("k") % _POS_PACK).cast("long").alias("pos"),
            F.when(
                F.element_at("ks", 1) == F.col("k"), F.element_at("ks", 2)
            ).otherwise(F.element_at("ks", 1)).alias("wk"),
        )
    )
    # spans from the SAME posting groupBy as the witnesses: unpacking
    # (doc_id, pos) out of posts.ks gives exactly substring_dup_starts'
    # rows, and sharing the subtree lets ReuseExchange hash the positioned
    # grams once instead of twice (see substring_spans).
    starts = posts.select(F.explode("ks").alias("k")).select(
        F.expr(f"k div {_POS_PACK}").alias("doc_id"),
        (F.col("k") % _POS_PACK).cast("int").alias("pos"),
    )
    spans = substring_spans(toks_df, L, min_count, starts=starts)
    return (
        spans.join(
            wit,
            (spans.doc_id == wit.doc_id) & (spans.span_start == wit.pos),
        )
        .select(
            spans.doc_id,
            "span_start",
            "span_end",
            "n_span_tokens",
            F.expr(f"wk div {_POS_PACK}").alias("src_doc"),
            (F.col("wk") % _POS_PACK).cast("long").alias("src_pos"),
        )
    )
