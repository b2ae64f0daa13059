"""Data-selection operators — targeted importance selection (DSIR),
semantic dedup over embedding clusters (SemDeDup), and column profiling:
the curation layer that decides WHICH documents a training run reads.

Public references: Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling" (DSIR); Abbas et al. 2023, "SemDeDup: Data-
efficient learning at web-scale through semantic deduplication". Both are
re-expressed Spark-first here (hashed-feature LM ratios as JVM column
expressions; cluster-bounded pair generation), not ported.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..functions.vector import cosine
from ..registry import register
from ..sources.readers import load_table

# --- DSIR-style importance selection -----------------------------------------
# Feature space: unigrams hashed into DSIR_BUCKETS buckets (md5-prefix mod,
# the same public-hash idiom the rest of the package uses). Two add-one-
# smoothed bucket LMs are fitted — target domain vs raw pool — and each raw
# document is scored by its total log-likelihood ratio. The per-bucket LLR
# is frozen to integer MICRO-NATS on the driver, so the per-doc sum is
# order-free integer arithmetic: bit-identical at any partitioning, and
# bit-identical to the pure-Python reference (pinned in tests).

DSIR_BUCKETS = 2048
DSIR_TARGET_SOURCES = ("src0", "src1")  # the "domain we want more of"
DSIR_TOP_N = 200


def _bucket(tok):
    """Hash a token column to [0, DSIR_BUCKETS) — md5-prefix mod, identical
    in Python via int(md5(t).hexdigest()[:6], 16) % DSIR_BUCKETS."""
    return (F.conv(F.substring(F.md5(tok), 1, 6), 16, 10).cast("long") % DSIR_BUCKETS)


def dsir_llr_table(spark: SparkSession, sf_dir: str) -> list[int]:
    """Fit the two hashed-unigram LMs and return the per-bucket LLR in
    integer micro-nats. The bucket-count table is DSIR_BUCKETS rows (KB —
    a legitimate driver transfer, like the IVF centroids); the log/round
    happens ONCE here in Python, so Spark scoring and the pure-Python
    reference share the exact same integers.

    Scale: one explode + one groupBy(bucket) with map-side partials;
    driver state is 2·DSIR_BUCKETS longs regardless of corpus size.
    Memoized: the table IS the fitted model, deterministic given sf_dir.
    """
    return memo.scaffold(spark, "selection.llr", sf_dir, lambda: _fit_llr(spark, sf_dir))


def _fit_llr(spark: SparkSession, sf_dir: str) -> list[int]:
    docs = load_table(spark, sf_dir, "documents")
    is_tgt = F.col("source").isin(*DSIR_TARGET_SOURCES).cast("long")
    counts = (
        docs.select(is_tgt.alias("t"), F.explode(F.split("text", " ")).alias("token"))
        .select("t", _bucket(F.col("token")).alias("b"))
        .groupBy("b")
        .agg(
            F.sum("t").alias("n_tgt"),
            F.sum(F.lit(1) - F.col("t")).alias("n_raw"),
        )
        .collect()
    )
    tgt = [0] * DSIR_BUCKETS
    raw = [0] * DSIR_BUCKETS
    for r in counts:
        tgt[r.b] = r.n_tgt
        raw[r.b] = r.n_raw
    t_tot, r_tot = sum(tgt) + DSIR_BUCKETS, sum(raw) + DSIR_BUCKETS
    return [
        round(1e6 * (math.log((tgt[b] + 1) / t_tot) - math.log((raw[b] + 1) / r_tot)))
        for b in range(DSIR_BUCKETS)
    ]


@register("q_dsir_select", tags=("corpus", "selection", "dsir", "quality"))
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style targeted selection: score every raw-pool document by its
    hashed-unigram log-likelihood ratio between a target-domain LM and the
    raw-pool LM, and keep the top ``DSIR_TOP_N`` most target-like docs
    (deterministic top-k — the paper's Gumbel resampling replaced by the
    rank statistic so the operator is reproducible; same ordering in
    expectation).

    Rows-only driver check (LM fitting is not SQL-expressible);
    tests/test_selection.py pins every weight and the selected set
    bit-identical against a pure-Python reference.

    Scale: fit = one bucket-keyed shuffle with bounded output (the LLR
    table is 2048 ints broadcast in the scoring expression's closure);
    scoring = map-only integer F.aggregate over the token array — no
    Python in the loop; selection = orderBy+limit, which Spark executes as
    TakeOrderedAndProject (per-partition top-k, driver merges only
    DSIR_TOP_N rows per partition). For a corpus-sized keep budget, swap
    the limit for a threshold on the integer weight (exact percentile via
    the histogram trick — weights are integers) and the global sort
    disappears entirely.
    """
    return (
        _dsir_scored(spark, sf_dir)
        .select("doc_id", "source", "weight_unats")
        .orderBy(F.desc("weight_unats"), F.asc("doc_id"))
        .limit(DSIR_TOP_N)
    )


DSIR_TOKEN_BUDGET = 6000  # token budget for the budgeted variant (test SFs)


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tokens, weight_unats) for every raw-pool doc —
    the shared scoring stage of both DSIR variants. Map-only integer
    arithmetic; the LLR table rides in the expression closure. Persisted
    and memoized per sf_dir: the budget variant reads it from three plan
    branches (min/max agg, band totals, banded cumsum) and the per-token
    md5 scoring is the expensive part. One thin row per raw-pool doc."""
    return memo.scaffold(spark, "selection.dsir_scores", sf_dir,
                         lambda: _build_dsir_scored(spark, sf_dir))


def _build_dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    llr = dsir_llr_table(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.filter(~F.col("source").isin(*DSIR_TARGET_SOURCES))
    toks = F.split("text", " ")
    llr_arr = F.lit(llr)
    weight = F.aggregate(
        F.transform(toks, lambda t: F.element_at(llr_arr, (_bucket(t) + 1).cast("int"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = raw.select(
        "doc_id", "source", F.size(toks).cast("long").alias("n_tokens"), weight.alias("weight_unats")
    ).persist()
    scored.count()
    return scored


@register("q_dsir_budget", tags=("corpus", "selection", "dsir", "budget"))
def q_dsir_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted DSIR: fill a token budget with the most target-like
    documents — keep each doc whose cumulative token count over all
    STRICTLY MORE target-like docs (weight DESC, doc_id ASC) is under
    ``DSIR_TOKEN_BUDGET``. This is the corpus-sized-keep-budget path the
    top-k variant's docstring promises: no global sort anywhere.

    Rows-only driver check; tests pin the selected set and every cumsum
    bit-identical to a pure-Python reference (integer arithmetic
    throughout — order-free at any partitioning).

    Scale: the running total is hierarchical, the q_token_budget_sample
    discipline re-banded for the weight order: 256 uniform weight bands
    from a one-row min/max agg (driver holds two longs), band totals →
    offsets via one window over the ≤256-row totals table, within-band prefix
    sums over a PARTITIONED window (~corpus/256 rows per band). Fixed
    uniform banding preserves the global (weight DESC, doc_id ASC) order
    across bands, so the result equals a flat global window bit-for-bit.
    """
    scored = _dsir_scored(spark, sf_dir)
    lo, hi = scored.agg(F.min("weight_unats"), F.max("weight_unats")).first()
    step = max((hi - lo) // 256 + 1, 1)
    # band 0 = most target-like; bands ascend as weight descends
    t = scored.withColumn("band", ((F.lit(hi) - F.col("weight_unats")) / step).cast("long"))
    band_totals = t.groupBy("band").agg(F.sum("n_tokens").alias("tot"))
    from .corpus import banded_prefix_offsets

    offsets = banded_prefix_offsets(
        band_totals, [F.asc("band")], "tot", "band_offset"
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("band")
        .orderBy(F.desc("weight_unats"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = t.join(F.broadcast(offsets), "band").select(
        "doc_id",
        "source",
        "n_tokens",
        "weight_unats",
        (F.col("band_offset") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0))).alias(
            "cum_before"
        ),
    )
    return cum.filter(F.col("cum_before") < DSIR_TOKEN_BUDGET)


# --- SemDeDup: semantic dedup within embedding clusters ----------------------

SEMDEDUP_EPS = 0.25  # within-cluster cosine above this ⇒ semantic duplicate
SEMDEDUP_TARGET_CELL = 50  # aimed-for vectors per cluster (occupancy)
SEMDEDUP_MIN_K, SEMDEDUP_MAX_K = 10, 65536
SEMDEDUP_ITERS = 3


def semdedup_k(n_vectors: int) -> int:
    """Cluster count for a corpus of n vectors: n / target cell size,
    clamped — the occupancy discipline of neardup_chunk_bits. Per-cluster
    pair work stays ~target_cell² as the corpus grows because k grows with
    it, instead of clusters fattening linearly."""
    return min(SEMDEDUP_MAX_K, max(SEMDEDUP_MIN_K, n_vectors // SEMDEDUP_TARGET_CELL))


# Assignment + exact-integer update live in the shared k-means core
# (operators/kmeans.py) since r10 — one implementation serves SemDeDup
# and the IVF coarse quantizer. These aliases keep this module's
# historical internal names meaningful to readers of the r8/r9 notes.
from .kmeans import _CENT_SCALE  # noqa: E402  (re-export for tests)
from .kmeans import assign_udf as _assign_udf  # noqa: E402
from .kmeans import centroid_partials as _centroid_partials  # noqa: E402


def semdedup_centroids(spark: SparkSession, sf_dir: str, k: int) -> list[list[float]]:
    """Distributed Lloyd's k-means sized for corpus-proportional k: assign =
    Arrow-batched matmul argmax (centroid matrix in the UDF closure, k·dim
    doubles broadcast); update = per-partition integer partial sums
    (_centroid_partials) reduced to k·dim exact totals, so centroids — and
    therefore the whole operator — are bit-identical at any partitioning.
    Each round's driver-side mean is float(Fraction(sum, SCALE·count)) —
    one correctly-rounded division per (cell, dim). Only the centroids
    (k·dim doubles) ever reach the driver. Init = the k lowest-vec_id
    vectors, fixed iteration count. Memoized per (sf_dir, k)."""
    from .kmeans import distinct_init, fit_kmeans

    def build() -> list[list[float]]:
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        init = distinct_init(emb, k)  # duplicate inits would strand twin cells empty
        return fit_kmeans(emb, init, SEMDEDUP_ITERS)

    return memo.scaffold(spark, "selection.centroids", (sf_dir, k), build)


def _assigned_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (vec_id, embedding, cluster) assignment, memoized per
    sf_dir — q_semdedup reads it from THREE plan branches (pair-left,
    pair-right, final keep join); without the persist barrier each branch
    re-runs the scan + assign UDF. Deterministic given the memoized
    centroids."""
    return memo.scaffold(spark, "selection.assignments", sf_dir,
                         lambda: _assign(spark, sf_dir))


def _assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    k = semdedup_k(emb.count())  # footer-only count, no data scan
    cents = semdedup_centroids(spark, sf_dir, k)
    # Persist CLUSTER-partitioned (r14, guide §2.4/§2.5): the dominant
    # consumer is q_semdedup's per-cluster pair self-join, and a single-
    # row-group source otherwise leaves the cached assignment on ONE
    # partition — the quadratic pair+cosine work then runs near-single-
    # core (measured 1.21 s -> 0.65 s at sf0.1). Keying the one-time
    # shuffle by cluster also hands every consumer the join's natural
    # partitioning instead of re-shuffling per branch; a hot cluster
    # owning a partition is inherent to per-cluster pair generation
    # regardless of where the shuffle happens.
    assigned = (
        emb.select(
            "vec_id", "embedding", _assign_udf(cents)(F.col("embedding")).alias("cluster")
        )
        .repartition("cluster")
        .persist()
    )
    assigned.count()
    return assigned


@register("q_semdedup", tags=("similarity", "dedup", "semdedup", "embedding"))
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means-cluster the embedding space, then inside each
    cluster drop any vector whose cosine to a LOWER-id cluster-mate exceeds
    ``SEMDEDUP_EPS`` — keep-first semantics, so each semantic-duplicate
    chain keeps exactly its lowest id. Returns every vector with its
    cluster and keep flag.

    Complements q_embedding_cosine_dedup (sign-LSH blocking finds near-
    exact copies; clustering finds *semantic* redundancy at a lower
    threshold without all-pairs cost). Rows-only driver check; tests pin
    determinism under re-partitioning (exact-DECIMAL centroid means make
    k-means itself partition-order-free) and verify the keep rule
    exhaustively against the operator's own assignment.

    Scale: k scales with the corpus from a footer-only count (semdedup_k),
    so pair generation — an equi-join on cluster id — keeps per-cluster
    quadratic work at ~target_cell² forever; assignment is an Arrow-batched
    matmul that scales in k where a k-branch column expression cannot.
    Only centroids (k·dim doubles) touch the driver.
    """
    assigned = _assigned_clusters(spark, sf_dir)
    a = assigned.select(
        F.col("cluster"), F.col("vec_id").alias("ida"), F.col("embedding").alias("ea")
    )
    b = assigned.select(
        F.col("cluster"), F.col("vec_id").alias("idb"), F.col("embedding").alias("eb")
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("ida") < F.col("idb"))
        .filter(cosine(F.col("ea"), F.col("eb")) >= SEMDEDUP_EPS)
        .select(F.col("idb").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("is_kept", F.lit(False)), "vec_id", "left")
        .select("vec_id", "cluster", F.coalesce("is_kept", F.lit(True)).alias("is_kept"))
    )


# --- Column profiling --------------------------------------------------------


@register(
    "q_profile_table",
    oracle="""
    SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(doc_id) AS n_nulls,
           COUNT(DISTINCT doc_id) AS n_distinct,
           CAST(MIN(doc_id) AS VARCHAR) AS min_value,
           CAST(MAX(doc_id) AS VARCHAR) AS max_value
    FROM documents
    UNION ALL
    SELECT 'text', COUNT(*), COUNT(*) - COUNT(text), COUNT(DISTINCT text),
           CAST(MIN(text) AS VARCHAR), CAST(MAX(text) AS VARCHAR) FROM documents
    UNION ALL
    SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
           CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR) FROM documents
    UNION ALL
    SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
           CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR) FROM documents
    UNION ALL
    SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
           CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM documents
    """,
    tags=("profile", "quality", "catalog"),
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of ``documents`` — row count, null count,
    exact distinct count, min/max (stringified for a uniform schema): the
    first query a pipeline owner runs against a new drop, and the stats
    layer a catalog publishes next to each table.

    Scale: ONE scan. All five columns' profiles come from a single
    aggregate (Spark plans the multi-distinct via Expand: one shuffle
    carrying (col_tag, value) pairs with map-side partials — O(cols·N)
    rows shuffled, no per-column rescan), then the one result row unpivots
    into the per-column layout. At petabyte scale swap the exact distincts
    for approx_count_distinct and the Expand disappears; exact is kept
    here because the driver's oracle compares values.
    """
    docs = load_table(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.count_distinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = docs.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"{c}__nn")).alias("n_nulls"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(per_col).alias("p")).select("p.*")


# --- Budgeted mixture allocation (water-filling) ------------------------------
# The planning step BEFORE q_corpus_mix/q_temperature_sample can run: given a
# total char budget and per-source mixing weights, how much of each source do
# we take? Proportional-to-weight allocation overflows small sources; water-
# filling (the classic solution) raises one waterline λ so source i
# contributes min(capacity_i, λ·w_i) and the total meets the budget — small
# high-weight sources saturate, the surplus redistributes to the rest.
# Everything is BIGINT arithmetic (cross-multiplied saturation tests, floor-
# divided fills), so the waterline is exact and engine-independent.

MIX_BUDGET_NUM, MIX_BUDGET_DEN = 3, 5  # budget = 3/5 of total corpus chars


@register(
    "q_mixture_budget",
    oracle=f"""
    WITH caps AS (
        SELECT source,
               CAST(SUM(n_chars) AS BIGINT) AS n,
               CAST(1 + CAST(substr(source, 4) AS BIGINT) % 4 AS BIGINT) AS w
        FROM documents GROUP BY source
    ),
    keyed AS (SELECT *, (n * 1000000) // w AS sortkey FROM caps),
    tot AS (SELECT CAST(SUM(n) * {MIX_BUDGET_NUM} // {MIX_BUDGET_DEN} AS BIGINT) AS t FROM caps),
    ordered AS (
        SELECT source, n, w,
               ROW_NUMBER() OVER (ORDER BY sortkey, source) AS k,
               CAST(COALESCE(SUM(n) OVER (ORDER BY sortkey, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumn,
               CAST(SUM(w) OVER (ORDER BY sortkey, source
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS suffw
        FROM keyed
    ),
    flagged AS (
        SELECT ordered.*, tot.t, (n * suffw <= (t - cumn) * w) AS sat FROM ordered, tot
    ),
    kstar AS (
        SELECT COALESCE(MIN(k), 9223372036854775807) AS ks FROM flagged WHERE NOT sat
    ),
    line AS (
        SELECT f.cumn AS rem_base, f.suffw AS den
        FROM flagged f, kstar WHERE f.k = kstar.ks
    )
    SELECT f.source, f.n AS capacity, f.w AS weight,
           CAST(CASE WHEN f.k < kstar.ks THEN f.n
                ELSE LEAST(f.n, (f.w * (f.t - line.rem_base)) // line.den)
                END AS BIGINT) AS alloc
    FROM flagged f CROSS JOIN kstar LEFT JOIN line ON TRUE
    """,
    tags=("corpus", "mixing", "planning", "selection"),
)
def q_mixture_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling mixture plan: per-source char allocation under a total
    budget (3/5 of the corpus) and per-source weights (1 + suffix%4 in the
    registered demo; production passes real weights). Sources are walked in
    capacity-per-weight order; each either SATURATES (contributes all its
    chars — the cross-multiplied BIGINT test n·Σw ≤ (T−Σn_sat)·w decides
    exactly) or sits above the waterline and gets floor(w·remaining/Σw).
    Downstream, alloc/capacity is each source's keep rate for the
    md5-threshold samplers (q_corpus_mix / q_stratified_sample idiom).

    Scale: one groupBy(source) aggregate; the water-filling itself runs on
    the |sources|-row frame (window without partitionBy — bounded by source
    cardinality, never corpus-sized), and the waterline/kstar frames are
    1-row broadcasts.
    """
    docs = load_table(spark, sf_dir, "documents")
    caps = (
        docs.groupBy("source")
        .agg(F.sum("n_chars").cast("long").alias("n"))
        .withColumn(
            "w", (F.expr("CAST(substring(source, 4) AS BIGINT)") % 4 + 1).cast("long")
        )
    )
    t_df = caps.agg(
        F.expr(f"CAST(sum(n) * {MIX_BUDGET_NUM} div {MIX_BUDGET_DEN} AS BIGINT)").alias("t")
    )
    return water_fill(caps, t_df)


def water_fill(caps: DataFrame, budget_df: DataFrame) -> DataFrame:
    """The reusable exact water-filling solve: ``caps`` is the per-source
    frame (source, n BIGINT capacity, w BIGINT weight), ``budget_df`` a
    1-row (t BIGINT) budget. Returns (source, capacity, weight, alloc)
    with Σalloc ≤ t, saturated sources at full capacity, everyone else at
    floor(w · remaining / Σw) under one shared waterline — all BIGINT
    arithmetic (cross-multiplied saturation tests), so the result is
    engine-exact and property-tested against a pure-Python solve over
    random frames (tests/test_selection.py)."""
    from pyspark.sql import Window

    caps = caps.withColumn("sortkey", F.expr("(n * 1000000) div w"))
    w_ord = Window.orderBy("sortkey", "source")
    flagged = (
        caps.crossJoin(F.broadcast(budget_df))
        .select(
            "source",
            "n",
            "w",
            "t",
            F.row_number().over(w_ord).alias("k"),
            F.coalesce(
                F.sum("n").over(w_ord.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("long").alias("cumn"),
            F.sum("w")
            .over(w_ord.rowsBetween(Window.currentRow, Window.unboundedFollowing))
            .cast("long")
            .alias("suffw"),
        )
        .withColumn(
            "sat", F.col("n") * F.col("suffw") <= (F.col("t") - F.col("cumn")) * F.col("w")
        )
    )
    kstar = flagged.filter(~F.col("sat")).agg(
        F.coalesce(F.min("k"), F.lit(9223372036854775807)).alias("ks")
    )
    line = (
        flagged.crossJoin(F.broadcast(kstar))
        .filter(F.col("k") == F.col("ks"))
        .select(F.col("cumn").alias("rem_base"), F.col("suffw").alias("den"))
    )
    return (
        flagged.crossJoin(F.broadcast(kstar))
        .join(F.broadcast(line), F.lit(True), "left")
        .select(
            "source",
            F.col("n").alias("capacity"),
            F.col("w").alias("weight"),
            F.when(F.col("k") < F.col("ks"), F.col("n"))
            .otherwise(
                F.least(
                    F.col("n"),
                    F.expr("(w * (t - rem_base)) div den"),
                )
            )
            .cast("long")
            .alias("alloc"),
        )
    )


# --- Priority sampling (weight-proportional k-sample) -------------------------
# Duffield, Lund & Thorup 2007, "Priority sampling" (JACM 54(6)): each item
# gets priority q_i = w_i / u_i with u_i ~ Uniform(0,1]; the k items with the
# largest priorities form the sample, and tau = the (k+1)-th priority gives
# each selected item the estimation weight w_hat_i = max(w_i, tau) — an
# unbiased subset-sum estimator with near-optimal variance. Here u_i is the
# md5-derived integer in [1, 2^31] (deterministic, engine-identical), so the
# whole scheme is exact IEEE arithmetic: one multiply and one divide per row.

PRIORITY_SAMPLE_K = 64
_PRIORITY_M = 2_147_483_648  # 2^31: u in [1, M], u/M ~ U(0,1]


@register(
    "q_priority_sample",
    oracle=f"""
    WITH pr AS (
        SELECT doc_id, n_chars AS w,
               ((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                 % {_PRIORITY_M}) + 1) AS u
        FROM documents
    ),
    p2 AS (
        SELECT doc_id, w,
               (CAST(w AS DOUBLE) * {_PRIORITY_M}.0) / CAST(u AS DOUBLE) AS priority
        FROM pr
    ),
    sel AS (
        SELECT doc_id, w, priority FROM p2
        ORDER BY priority DESC, doc_id LIMIT {PRIORITY_SAMPLE_K}
    ),
    tau AS (
        SELECT priority AS t FROM p2
        ORDER BY priority DESC, doc_id OFFSET {PRIORITY_SAMPLE_K} LIMIT 1
    )
    SELECT doc_id, w, priority,
           GREATEST(CAST(w AS DOUBLE), COALESCE(tau.t, CAST(w AS DOUBLE))) AS w_hat
    FROM sel LEFT JOIN tau ON TRUE
    """,
    tags=("corpus", "sample", "weighted", "estimator"),
)
def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional k-sample with unbiased subset-sum estimation
    weights (priority sampling, Duffield-Lund-Thorup 2007): documents are
    drawn proportional to ``n_chars`` via deterministic priorities
    w * 2^31 / u (u = md5-derived integer in [1, 2^31]), and each selected
    doc carries w_hat = max(w, tau) — summing w_hat over any selected
    subset unbiasedly estimates that subset's total char mass. The
    downstream use is cheap corpus accounting: profile k docs, extrapolate
    exact byte/token totals without a second full scan.

    Everything is integer hashing plus one IEEE multiply/divide — no RNG,
    no log/pow — so the draw is bit-identical across engines and fully
    oracle-checked (ties impossible: doc_id breaks the total order).

    Scale: priorities are a narrow map over the scan; top-k and the
    (k+1)-th priority are TakeOrderedAndProject (per-partition heaps, k·P
    rows to the driver merge, no shuffle, no window); tau joins back as a
    broadcast single row. Driver state is the k-row result itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    return priority_sample(docs, "doc_id", "n_chars", PRIORITY_SAMPLE_K)


def priority_sample(df: DataFrame, id_col: str, weight_col: str, k: int) -> DataFrame:
    """Reusable Duffield-Lund-Thorup priority k-sample over any frame with
    a unique ``id_col`` and a positive numeric ``weight_col`` — see
    q_priority_sample for semantics, exactness, and the scale shape.
    Output: (id_col, w, priority, w_hat)."""
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % F.lit(_PRIORITY_M)
    ) + F.lit(1)
    p2 = df.select(
        id_col,
        F.col(weight_col).alias("w"),
        (
            (F.col(weight_col).cast("double") * F.lit(float(_PRIORITY_M)))
            / u.cast("double")
        ).alias("priority"),
    )
    sel = p2.orderBy(F.desc("priority"), F.asc(id_col)).limit(k)
    tau = (
        p2.orderBy(F.desc("priority"), F.asc(id_col))
        .offset(k)
        .limit(1)
        .select(F.col("priority").alias("t"))
    )
    return sel.join(F.broadcast(tau), F.lit(True), "left").select(
        id_col,
        "w",
        "priority",
        F.greatest(
            F.col("w").cast("double"),
            F.coalesce(F.col("t"), F.col("w").cast("double")),
        ).alias("w_hat"),
    )
