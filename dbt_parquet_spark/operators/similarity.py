"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

Two paths, per the north-star spec:
- brute-force cosine top-k — the exact baseline, oracle-checked bit-for-bit
  against DuckDB;
- random-hyperplane LSH bucketing — the sub-quadratic scale path (candidates
  only within matching sign-buckets), recall-tested against brute force in
  tests/test_similarity.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

from .. import memo
from ..functions.vector import cosine, dot, norm
from ..registry import register
from ..sources.readers import load_table, table_row_count

TOP_K = 5
N_QUERIES = 3  # vec_id < 3 are the query vectors

# DuckDB expression for the identical sequential double dot product.
_DOT = (
    "list_sum(list_transform(range(1, len({a})+1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _duck_cosine(a: str, b: str) -> str:
    d = _DOT.format(a=a, b=b)
    na = _DOT.format(a=a, b=a)
    nb = _DOT.format(a=b, b=b)
    return f"({d} / (sqrt({na}) * sqrt({nb})))"


@register(
    "q_ann_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {_duck_cosine("q.qe", "e.embedding")} AS cos_sim
        FROM q, embeddings e
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT query_id, neighbor_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM scored
    ) AS ranked
    WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "ann"),
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the exact ANN baseline. Query vectors
    broadcast against the corpus; per-query top-k via ROW_NUMBER (neighbor_id
    tiebreak → fully deterministic, and the cosine itself is bit-identical
    across engines — see functions/vector.py).

    Scale: O(Q·N) with Q tiny — the broadcast-nested-loop shape is exactly
    right; the corpus side streams once, no shuffle until the (tiny) top-k
    window. For large Q use q_ann_lsh.
    """
    # norms hoisted out of the pair expression (the q_knn_eval discipline):
    # one dot fold per pair, norm once per vector — bit-identical values.
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", norm(F.col("embedding"))
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                dot(F.col("qe"), F.col("embedding"))
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "cos_sim", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= TOP_K)
    )


# Sign-chunk blocking for the windowed near-dup query: 4 chunks of sign bits
# over the embedding's leading dims. A candidate pair must agree on ≥1 whole
# chunk (SimHash-style pigeonhole, dedup.py:261's scheme on embeddings).
NEARDUP_CHUNKS = 4
# Bits per chunk SCALE WITH THE CORPUS (VERDICT r4 "what's wrong" #3): at a
# fixed 2^bits space, bucket occupancy — and per-doc candidate count — grows
# linearly with N (the r4 10× sweep measured ~10.7× candidates). Holding
# occupancy ≈ N/2^bits constant means bits = ceil(log2 N) - const:
NEARDUP_MIN_BITS = 8  # floor: keeps the sf0.01 oracle check non-vacuous
# Up to 16 bits/chunk (4 × 16 = 64) the sign bits are raw embedding dims;
# beyond that _sign_chunks switches to seeded random-hyperplane signs (the
# q_ann_lsh construction) — same equi-join shape, unbounded width. 24 bits
# covers ~2^25 ≈ 33M vectors at occupancy ≈2; raise if your corpus is bigger.
NEARDUP_MAX_BITS = 24
EMBED_DIM = 64
NEARDUP_SEED = 9173  # hyperplane seed — part of the operator's identity
_OCCUPANCY_LOG2 = 1  # target ≈2 vectors per bucket


def neardup_chunk_bits(n_vectors: int) -> int:
    """Sign bits per chunk for a corpus of n vectors: ceil(log2 n) - 1,
    clamped to [8, 24] — per-bucket occupancy (≈ n/2^bits ∈ (1, 2]) and with
    it expected candidates PER DOC (≈ chunks·n/2^(bits+1)) stay constant as
    the corpus grows, instead of growing linearly."""
    import math

    bits = math.ceil(math.log2(max(n_vectors, 2))) - _OCCUPANCY_LOG2
    return min(NEARDUP_MAX_BITS, max(NEARDUP_MIN_BITS, bits))


def _use_planes(bits: int, dim: int = EMBED_DIM) -> bool:
    return NEARDUP_CHUNKS * bits > dim


def _neardup_planes(bits: int, dim: int = EMBED_DIM) -> list[list[float]]:
    """chunks·bits deterministic hyperplanes (seed-sequence per plane index,
    so plane i is identical regardless of how many planes exist). Driver-side
    constants — a few KB broadcast as literals at any data scale, and
    reproducible in the oracle SQL as the same decimal literals."""
    import numpy as np

    return [
        np.random.default_rng([NEARDUP_SEED, i]).standard_normal(dim).tolist()
        for i in range(NEARDUP_CHUNKS * bits)
    ]


# The REGISTERED oracle is a static string, so it is generated at the bit
# width the driver's correctness corpus (sf0.01, 500 vectors) resolves to.
# tests/test_dedup_similarity.py pins neardup_chunk_bits(sf0.01 count) ==
# ORACLE_BITS so corpus drift surfaces locally, and parity at OTHER scales
# is checked by rebuilding the oracle via blocked_cosine_pairs_sql(bits).
ORACLE_BITS = 8
# Threshold tuned to the synthetic isotropic corpus so the verified result
# is NON-EMPTY at sf0.01 (the old 0.8 threshold matched zero pairs → the
# driver's hash check was vacuous). Recall at production thresholds
# (cos ≥ 0.95 → per-bit agreement 0.9) is far higher than on this noise data.
BLOCKED_COSINE_THRESHOLD = 0.35


def _sign_chunks(col, bits: int):
    """Spark chunk values. Raw-dim mode (chunks·bits ≤ dim):
    chunk c = Σ_j [embedding[c·bits+j] > 0]·2^j. Hyperplane mode (wider):
    bit (c,j) = [dot(embedding, plane_{c·bits+j}) > 0] — the sequential-fold
    ``dot`` is bit-identical to the oracle's list_sum/list_transform, so
    both modes stay oracle-replicable."""
    if not _use_planes(bits):
        out = []
        for c in range(NEARDUP_CHUNKS):
            val = F.lit(0)
            for j in range(bits):
                idx = c * bits + j + 1  # 1-based, matching DuckDB
                val = val + F.when(F.element_at(col, idx) > 0, F.lit(1 << j)).otherwise(F.lit(0))
            out.append(val)
        return out
    planes = _neardup_planes(bits)
    out = []
    for c in range(NEARDUP_CHUNKS):
        val = F.lit(0)
        for j in range(bits):
            p = planes[c * bits + j]
            proj = dot(col, _dense_lit(list(p)))
            val = val + F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
        out.append(val)
    return out


def _plane_literal(p: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in p) + "]"


def _duck_sign_chunk(col: str, c: int, bits: int) -> str:
    if not _use_planes(bits):
        terms = [
            f"(CASE WHEN {col}[{c * bits + j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(bits)
        ]
        return "(" + " + ".join(terms) + ")"
    planes = _neardup_planes(bits)
    terms = []
    for j in range(bits):
        proj = _DOT.format(a=col, b=_plane_literal(planes[c * bits + j]))
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _duck_chunk_defs(bits: int) -> str:
    return ", ".join(
        f"{_duck_sign_chunk('embedding', c, bits)} AS c{c}" for c in range(NEARDUP_CHUNKS)
    )


_DUCK_CHUNK_MATCH = " OR ".join(f"a.c{c} = b.c{c}" for c in range(NEARDUP_CHUNKS))


def blocked_cosine_pairs_sql(bits: int) -> str:
    """The blocked near-dup pairs as DuckDB CTEs, for any chunk width —
    the Spark plan and this SQL are generated from the SAME bit count, so
    the deterministic blocking stays oracle-replicable at every scale."""
    return f"""sb AS (SELECT vec_id, embedding, {_duck_chunk_defs(bits)} FROM embeddings),
    cos_pairs AS (
        SELECT a.vec_id AS d1, b.vec_id AS d2
        FROM sb a JOIN sb b
          ON a.vec_id < b.vec_id AND ({_DUCK_CHUNK_MATCH})
        WHERE {_duck_cosine("a.embedding", "b.embedding")} >= {BLOCKED_COSINE_THRESHOLD}
    )"""


# Shared CTE block at the driver's bit width, reused by the
# q_embedding_cosine_dedup oracle below and by the embedding-cluster
# components oracle (operators/graph.py), which closes over these edges.
BLOCKED_COSINE_PAIRS_CTES = blocked_cosine_pairs_sql(ORACLE_BITS)


def sign_chunk_values(spark: SparkSession, sf_dir: str, bits: int) -> DataFrame:
    """(vec_id, c0..c3) — every vector's chunk values at the given width.
    Exposed so tests can check Spark↔DuckDB chunk parity in BOTH modes
    (raw-dim and hyperplane) by value, independent of whether buckets
    collide at test scale."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    chunks = _sign_chunks(F.col("embedding"), bits)
    return emb.select("vec_id", *[chunks[c].alias(f"c{c}") for c in range(NEARDUP_CHUNKS)])


def sign_chunk_values_sql(bits: int) -> str:
    return f"SELECT vec_id, {_duck_chunk_defs(bits)} FROM embeddings"


def blocked_candidates(
    spark: SparkSession, sf_dir: str, bits: int | None = None, dedup: bool = True
) -> DataFrame:
    """(d1, d2, ea, eb) candidate pairs agreeing on ≥1 sign chunk, at the
    given (or corpus-derived) chunk width — the blocking stage of
    q_embedding_cosine_dedup, exported so tests can measure candidate-count
    scaling directly.

    ``dedup=False`` skips the dropDuplicates exchange: a pair agreeing on
    k chunks then appears k times. The dedup shuffle moves FULL-WIDTH rows
    (two embeddings per row) — consumers whose semantics are multiset-
    tolerant (min-label closure) should skip it and pay ≤chunks× duplicate
    id-pair rows downstream instead (guide §2.3: shuffle fewer bytes)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if bits is None:
        # Footer-only count (parquet metadata, no data scan) → bit width.
        bits = neardup_chunk_bits(table_row_count(spark, sf_dir, "embeddings"))
    chunked = emb.select(
        "vec_id",
        "embedding",
        F.posexplode(F.array(*_sign_chunks(F.col("embedding"), bits))).alias(
            "chunk_idx", "chunk_val"
        ),
    )
    a = chunked.select(
        F.col("vec_id").alias("d1"), F.col("embedding").alias("ea"), "chunk_idx", "chunk_val"
    )
    b = chunked.select(
        F.col("vec_id").alias("d2"), F.col("embedding").alias("eb"), "chunk_idx", "chunk_val"
    )
    cand = a.join(b, ["chunk_idx", "chunk_val"]).filter(F.col("d1") < F.col("d2"))
    if dedup:
        cand = cand.dropDuplicates(["d1", "d2"])  # pairs may agree on several chunks
    return cand


def cosine_neardup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d1, d2) near-dup EDGES for transitive-closure consumers
    (q_embedding_dedup_components): the same pair set q_embedding_cosine_dedup
    verifies, as a MULTISET — a pair agreeing on k sign chunks appears k
    times, because the closure's per-vertex min() is duplicate-tolerant and
    skipping the dropDuplicates exchange avoids shuffling two embeddings
    per candidate row (guide §2.3). Exact cosine still gates every row, so
    set(edges) == set(q_embedding_cosine_dedup pairs) — pinned in tests."""
    cand = blocked_candidates(spark, sf_dir, dedup=False)
    return cand.filter(
        cosine(F.col("ea"), F.col("eb")) >= BLOCKED_COSINE_THRESHOLD
    ).select("d1", "d2")


@register(
    "q_embedding_cosine_dedup",
    oracle=f"""
    WITH sb AS (SELECT vec_id, embedding, {_duck_chunk_defs(ORACLE_BITS)} FROM embeddings)
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           {_duck_cosine("a.embedding", "b.embedding")} AS cos_sim
    FROM sb a JOIN sb b
      ON a.vec_id < b.vec_id AND ({_DUCK_CHUNK_MATCH})
    WHERE {_duck_cosine("a.embedding", "b.embedding")} >= {BLOCKED_COSINE_THRESHOLD}
    """,
    tags=("similarity", "dedup"),
)
def q_embedding_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with sign-chunk blocking — the
    scale path, oracle-checked exactly (the blocking is deterministic math,
    so DuckDB applies the IDENTICAL candidate filter and results match
    bit-for-bit; round-4 replacement for the O(N²) theta-join that used to
    hold this verified-window slot).

    Shape: explode each vector into (chunk_idx, chunk_val) postings; a
    self-equi-join on the posting key yields only pairs agreeing on ≥1
    chunk; exact cosine verifies candidates. On this corpus the blocking
    cuts candidate pairs ~63× (124 750 → 1 984 at sf0.01); on clustered
    real embeddings near-dup recall ≈ 1-(1-(1-θ/π)^bits)^chunks.

    Scale: the join is a plain shuffle on 4·N posting rows with no
    quadratic STAGE, and the chunk width now SCALES WITH THE CORPUS
    (neardup_chunk_bits: bits = ceil(log2 N)-1 from a footer-only count),
    holding per-bucket occupancy — and per-doc candidate count — constant
    instead of linear-in-N (fixed at 8 bits, the r4 sweep measured ~10.7×
    candidates at 10× data; tests/test_dedup_similarity.py now pins the
    per-doc rate non-increasing across the sf0.01 → sf0.1 4× step). The
    registered oracle is generated at ORACLE_BITS = bits(sf0.01 corpus);
    other scales rebuild the identical SQL via blocked_cosine_pairs_sql.
    The exact quadratic baseline survives as q_embedding_cosine_dedup_exact
    (outside the verified window) for recall measurement.
    """
    cand = blocked_candidates(spark, sf_dir)
    return (
        cand.select("d1", "d2", cosine(F.col("ea"), F.col("eb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= BLOCKED_COSINE_THRESHOLD)
    )


@register(
    "q_embedding_cosine_dedup_exact",
    oracle=f"""
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           {_duck_cosine("a.embedding", "b.embedding")} AS cos_sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
      AND {_duck_cosine("a.embedding", "b.embedding")} >= {BLOCKED_COSINE_THRESHOLD}
    """,
    tags=("similarity", "dedup", "baseline"),
)
def q_embedding_cosine_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine near-dup — the O(N²) correctness baseline the
    blocked variant's recall is measured against (tests). Deliberately
    OUTSIDE the verified window: it defines ground truth at test scale and
    must never run on a real corpus (use q_embedding_cosine_dedup /
    q_ann_lsh there)."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("d1"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("d2"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("d1") < F.col("d2"))
        .select("d1", "d2", cosine(F.col("ea"), F.col("eb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= BLOCKED_COSINE_THRESHOLD)
    )


LSH_TABLES = 8  # hash tables (union of candidates over tables)
LSH_BITS = 6  # hyperplanes per table → 64 buckets/table


def _hyperplanes(dim: int = 64, n: int = LSH_TABLES * LSH_BITS, seed: int = 42):
    """Deterministic random hyperplanes (driver-side constants, broadcast as
    literals — a few KB regardless of data scale)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n, dim)).tolist()


@register("q_ann_lsh", tags=("similarity", "ann", "lsh"))
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH ANN — the scale path. 8 hash tables × 6 random
    hyperplanes: a vector's bucket in table t is the 6-bit sign pattern of
    its projections (cosine-LSH); candidates are vectors sharing the query's
    bucket in ANY table (for angle θ, hit prob = 1-(1-(1-θ/π)⁶)⁸ — ≈0.96 at
    θ=30°). Top-k is then exact cosine over candidates.

    Rows-only driver check (bucket boundaries are parameter-specific);
    tests measure recall vs q_ann_topk.

    Scale: replaces the O(Q·N) scan with O(Q·candidates); the bucket join is
    a plain equi-join on (table, bucket) Spark shuffles by key. More tables →
    recall, more bits → precision; an IVF variant would swap sign-buckets for
    k-means centroids — same join shape.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = emb.select(
        "vec_id",
        "embedding",
        F.posexplode(_lsh_buckets_udf()(F.col("embedding"))).alias(
            "table_idx", "bucket"
        ),
    )
    q = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "table_idx", "bucket"
    )
    scored = (
        bucketed.join(F.broadcast(q), ["table_idx", "bucket"])
        .select("vec_id", "embedding", "query_id", "qe")
        .distinct()  # a pair may collide in several tables; dedup before scoring
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qe"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "cos_sim", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= TOP_K)
    )


def _lsh_buckets_udf():
    """Arrow-batched multi-table bucket assignment: all LSH_TABLES×LSH_BITS
    sign projections as ONE (n x dim)@(dim x planes) matmul per batch, bits
    packed per table — replacing a 48-branch JVM projection tree whose
    Catalyst analysis alone cost ~1.7 s per query build (the _adc_udf
    finding; the plane matrix is KBs of closure state)."""
    P = np.asarray(_hyperplanes(), dtype=np.float64)  # (tables*bits, dim)
    weights = np.array(
        [1 << j for j in range(LSH_BITS)], dtype=np.int64
    )

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype="object")
        X = np.vstack(embs.to_numpy()).astype(np.float64)
        signs = (X @ P.T) > 0  # n x (tables*bits)
        b = signs.reshape(len(X), LSH_TABLES, LSH_BITS) @ weights  # n x tables
        return pd.Series(list(b))

    return buckets


# The coarse quantizer is FOOTER-SCALED (the semdedup_k / neardup_chunk_bits
# occupancy discipline): cells = n / target-occupancy, clamped, so the probe
# FRACTION (nprobe/cells) shrinks as the corpus grows instead of pinning a
# constant 30% scan forever. At the shipped test scales (500-2000 vectors)
# this clamps to the historical 10 cells / 3 probes, so recall fixtures and
# plan gates are unchanged; at the 10x sweep (20k vectors) it becomes 78
# cells / 8 probes (a 10% scan), and at 100M vectors ~65k cells / 255
# probes (0.4%) — FAISS-order growth without retuning.
IVF_TARGET_CELL_ROWS = 256
IVF_MIN_CELLS = 10
IVF_MAX_CELLS = 65536
IVF_NPROBE_MIN = 3
IVF_KMEANS_ITERS = 3


def ivf_cells(n_vectors: int) -> int:
    """Coarse-quantizer cell count for a corpus of n vectors."""
    return min(IVF_MAX_CELLS, max(IVF_MIN_CELLS, n_vectors // IVF_TARGET_CELL_ROWS))


def ivf_nprobe(cells: int) -> int:
    """Probed cells per query: ~sqrt(cells) (FAISS's shape — recall decays
    slowly in the probe fraction once cells are balanced), floored at the
    historical 3. The probe FRACTION nprobe/cells is then ~cells^-1/2:
    30% at 10 cells, 10% at 78, 0.4% at 65k."""
    import math

    return max(IVF_NPROBE_MIN, math.isqrt(cells))


def adaptive_nprobe(cells: int, survivor_frac: float) -> int:
    """Probe budget for FILTERED search: scale nprobe inversely with the
    predicate's survivor fraction so the EXPECTED allowed-candidate pool
    stays at the unfiltered size. A pre-filter keeping fraction s of the
    postings thins every probed cell to ~s of its rows; at a fixed nprobe
    the candidate pool collapses to s·(unfiltered pool) and recall decays
    silently — the failure mode filtered ANN is known for. Probing
    ceil(nprobe/s) cells (capped at every cell — a maximally selective
    filter degrades gracefully into exact search over the survivors)
    restores the pool. Cost scales as (nprobe/s)·s = the UNFILTERED scan
    cost, so adapting is free in scanned bytes; it only re-widens the
    directory fan-in the filter narrowed."""
    import math

    base = ivf_nprobe(cells)
    s = max(float(survivor_frac), 1.0 / max(cells, 1))
    return min(cells, max(base, math.ceil(base / s)))


def _dense_lit_sql(x) -> str:
    if isinstance(x, (list, tuple)):
        return "array(" + ",".join(_dense_lit_sql(e) for e in x) + ")"
    return repr(float(x)) + "D"


def _dense_lit(x):
    """A (nested) double-array literal built as ONE parsed SQL expression.

    The naive ``F.array(*[F.lit(v) ...])`` tree costs one py4j round trip
    PER LEAF — for the 1024-leaf PQ codebook that is ~2 s of pure driver
    time on every query build (measured; execution itself was 0.5 s). The
    SQL parser builds the same literal in a single call. Values are
    bit-identical: ``repr()`` emits the shortest string that round-trips
    the double, and Java's ``Double.parseDouble`` is correctly rounded, so
    the parsed literal carries the exact same bits as ``F.lit`` would."""
    return F.expr(_dense_lit_sql(x))


# NOTE (r10): centroid similarity/assignment moved to the shared Arrow
# matmul core in operators/kmeans.py (assign_udf / probe_udf /
# assign_with_centrality_udf). The former `_centroid_sims` JVM expression
# array — one dot fold per centroid — had Catalyst analysis cost linear in
# the cell count, which caps the quantizer at toy k; with footer-scaled
# cells the k-branch expression tree is no longer viable (the _adc_udf /
# q_ann_lsh finding).


def train_ivf_quantizer(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Train the IVF coarse quantizer: distributed Lloyd's k-means via the
    SHARED k-means core (operators/kmeans.py — one implementation with
    SemDeDup since r10): assign = Arrow-batched argmax-cosine matmul,
    update = per-partition exact integer partial sums, means on the driver.
    Only the centroids (cells×dim doubles, a few KB) ever reach the driver —
    at 100 TB the assignment/update jobs stay fully distributed, and the
    centroids are bit-identical at any partitioning (order-free integer
    reduction, pinned by test).

    The cell count is FOOTER-SCALED: k = ivf_cells(corpus row count), so
    the index's probe fraction shrinks as the corpus grows (see the
    constants block above). len(return value) IS the fitted cell count.

    Deterministic: init = the lowest-vec_id vectors, fixed iteration count.
    Memoized per sf_dir: the centroids ARE the fitted index, deterministic
    given the corpus, so repeated invocations (all four IVF/PQ consumers,
    driver reps) skip the Lloyd iterations.
    """
    return memo.scaffold(spark, "similarity.ivf", sf_dir, lambda: fit_ivf_quantizer(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")))


def fit_ivf_quantizer(emb: DataFrame, spread: bool = False) -> list[list[float]]:
    """The un-memoized trainer over an arbitrary (vec_id, embedding)
    frame — train_ivf_quantizer's core, also the retrain path of
    rebuild_pq_index (which fits on the index's CURRENT contents,
    deltas included, rather than the original source table).

    ``spread=True`` switches to the farthest-point init (kmeans.
    spread_init): required for DRIFT-ADAPTING retrains — a lowest-id init
    drawn from the original region leaves the drifted mass captured by a
    single centroid that Lloyd's can never split. The per-corpus memoized
    trainer keeps the cheap lowest-id init (first fit, no drift yet)."""
    from .kmeans import distinct_init, fit_kmeans, spread_init

    k = ivf_cells(emb.count())  # parquet footer count, no data scan
    if spread:
        init = spread_init(emb, k)
    else:
        init = distinct_init(emb, k)  # duplicate inits strand twin cells empty
    return fit_kmeans(emb, init, IVF_KMEANS_ITERS)


@register("q_ann_ivf", tags=("similarity", "ann", "ivf"))
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN — the centroid-quantizer alternative to sign-
    LSH: train a k-means coarse quantizer on the corpus, assign every vector
    to its nearest centroid's cell, then search only the query's
    ``ivf_nprobe(cells)`` nearest cells with exact cosine.

    Rows-only driver check; tests verify soundness + returned-score
    correctness and report recall (NOTE: this synthetic embedding table is
    isotropic noise — mean pairwise cosine 0.0, top-neighbor cosine ≈0.3 —
    so no partition-based ANN can reach high recall on it; recall here is
    bounded by ≈nprobe/cells by construction. On genuinely clustered
    embeddings the same operator concentrates neighbors into the probed
    cells.)

    Scale: the quantizer is tiny and broadcast; search cost drops from
    O(Q·N) to O(Q·N·nprobe/cells) — and since r9 the probed cells are READ
    as partitions of the materialized index (build_pq_index stores the raw
    vectors next to the codes), so the unprobed majority of the corpus is
    never opened: FAISS IVFFlat's layout as an actual lake table, with the
    probe as PartitionFilters (plan-gated).
    """
    from .kmeans import probe_udf

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_ivf_quantizer(spark, sf_dir)
    # queries probe their nprobe nearest cells (nprobe scales ~sqrt(cells))
    q = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.explode(
                probe_udf(cents, ivf_nprobe(len(cents)))(F.col("embedding"))
            ).alias("cell"),
        )
    )
    # probed cells -> static partition filter on the materialized index;
    # the search never touches an unprobed cell's bytes (the stored raw
    # vectors make the exact scoring read index partitions, not the base
    # table — FAISS IVFFlat's storage layout as a lake table)
    probed = sorted({r.cell for r in q.select("cell").distinct().collect()})
    assigned = read_pq_index(spark, sf_dir, cells=probed).select(
        "vec_id", "embedding", "cell"
    )
    scored = (
        assigned.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qe"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "cos_sim", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= TOP_K)
    )


@register(
    "q_sketch_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n_events,
           TRUE AS approx_within_5pct
    FROM events
    GROUP BY event_type
    """,
    tags=("sketch",),
)
def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based distinct counting: HyperLogLog++ approx_count_distinct
    next to the exact count, per event_type. Raw sketch estimates are
    engine-specific by construction, so (the q_approx_quantile pattern) the
    compared output carries the exact count plus the sketch folded into a
    deterministic error-bound CHECK — approx within 5% of exact (rsd 0.02)
    — which the oracle states as TRUE. tests/test_sampling_sketches.py
    additionally bounds the raw estimate.

    Scale: the whole point — HLL sketches merge associatively, so the
    distinct count of 100 TB of user_ids costs one map-side sketch per
    partition + a tiny merge, vs the full shuffle an exact count needs.
    """
    events = load_table(spark, sf_dir, "events")
    approx = F.approx_count_distinct("user_id", 0.02)
    exact = F.countDistinct("user_id")
    return events.groupBy("event_type").agg(
        exact.alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
        (F.abs(approx - exact) <= 0.05 * exact).alias("approx_within_5pct"),
    )


# --- Product quantization (PQ) — the compressed-corpus ANN path --------------
# IVF (above) prunes WHICH vectors are scored; PQ compresses HOW each vector
# is stored/scored: split the 64-dim embedding into PQ_M subvectors, learn a
# tiny per-subspace codebook, and replace every vector with PQ_M byte codes.
# Approximate inner product = sum of subspace code-centroid dot products
# (asymmetric distance computation), then exact-cosine rerank of the top
# candidates. FAISS IVF-PQ's layout expressed as DataFrames.
PQ_M = 16  # subspaces (4 dims each)
PQ_K = 16  # centroids per subspace codebook
PQ_ITERS = 3
PQ_SUB = EMBED_DIM // PQ_M
# Exact-rerank candidate pool per query. Sized at 20x TOP_K: under heavy
# quantization a tight cluster collapses to ONE code word, making ADC
# scores tie across the whole cluster — the pool must cover a full
# cluster's tie group or the id tie-break can cut a true neighbor
# (observed at pool=50 with 60-member clusters: recall 0.93 vs IVF's 1.0).
PQ_RERANK = 100
# Codebook training runs on at most ~this many vectors: a deterministic
# hash-sample caps the per-iteration k-means cost at a CONSTANT regardless
# of corpus size (FAISS trains on a sample the same way); the encode pass
# below is always full-corpus. At sf0.01 (500 vectors) the sample is the
# whole corpus, so tests and recall measurements are unaffected.
PQ_TRAIN_MAX = 2048


def _l2sq(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def train_pq_codebooks(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks (PQ_M x PQ_K x PQ_SUB), trained as ONE
    distributed job per iteration over the exploded (vec_id, m, sub) rows —
    assignment is a columnar argmin against the (tiny, literal) current
    codebooks, update is a per-(m, code, dim) mean. Only PQ_M*PQ_K*PQ_SUB
    doubles (the codebooks) ever reach the driver. Deterministic: init =
    lowest-vec_id subvectors, fixed iteration count, and a deterministic
    xxhash64 sample caps the training set at ~PQ_TRAIN_MAX vectors (footer
    count -> keep-1-in-ceil(n/max)), so training cost is constant in corpus
    size while the encode pass stays full-corpus. Memoized per sf_dir.
    """
    return memo.scaffold(spark, "similarity.pq_books", sf_dir, lambda: fit_pq_codebooks(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")))


def _spread_books_init(emb: DataFrame) -> list[list[list[float]]]:
    """Per-subspace farthest-point codebook init over a deterministic
    hash-sampled pool (collected once, sliced driver-side): each subspace
    gets PQ_K l2-spread subvectors, so a retrain's codebooks start with
    coverage of every occupied region — including drifted ones."""
    from .kmeans import farthest_point_l2

    n = emb.count()
    step = max(1, n // (PQ_K * 8))
    pool = (
        emb.filter(
            F.pmod(F.xxhash64(F.col("vec_id").cast("string")), F.lit(int(step))) == 0
        )
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    if len(pool) < PQ_K:  # tiny corpus: the deterministic full head
        pool = emb.select("vec_id", "embedding").orderBy("vec_id").limit(PQ_K * 8).collect()
    if len(pool) < PQ_K:
        raise ValueError(
            f"PQ training needs >= {PQ_K} vectors, got {len(pool)}; "
            "use q_ann_topk (exact) for corpora smaller than the codebook"
        )
    X = np.asarray([list(map(float, r.embedding)) for r in pool], dtype=np.float64)
    books = []
    for m in range(PQ_M):
        sub = X[:, m * PQ_SUB : (m + 1) * PQ_SUB]
        books.append([[float(v) for v in sub[i]] for i in farthest_point_l2(sub, PQ_K)])
    return books


def fit_pq_codebooks(emb: DataFrame, spread: bool = False) -> list[list[list[float]]]:
    """The un-memoized codebook trainer over an arbitrary (vec_id,
    embedding) frame — train_pq_codebooks' core, also the retrain path of
    rebuild_pq_index. ``spread=True`` uses a per-subspace farthest-point
    init (fit_ivf_quantizer's drift-adaptation argument, in subvector
    space with the l2 metric the PQ assignment uses)."""
    n = emb.count()  # parquet footer count, no data scan
    if n > PQ_TRAIN_MAX:
        keep_1_in = -(-n // PQ_TRAIN_MAX)  # ceil
        emb = emb.filter(
            F.pmod(F.xxhash64(F.col("vec_id").cast("string")), F.lit(keep_1_in)) == 0
        )
    subs = emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[F.slice("embedding", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)]
            )
        ).alias("m", "sub"),
    )
    if spread:
        books = _spread_books_init(emb)
    else:
        # init = the PQ_K lowest vec_ids PRESENT (the sample may not contain
        # ids 0..PQ_K-1), mapped to codebook slots in id order
        init_ids = [
            r.vec_id for r in emb.select("vec_id").orderBy("vec_id").limit(PQ_K).collect()
        ]
        if len(init_ids) < PQ_K:
            # Fewer vectors than codebook slots: unfilled slots would stay None
            # and crash the literal build below. PQ on a corpus this small is
            # pointless (the exact scan is cheaper) — fail with intent.
            raise ValueError(
                f"PQ training needs >= {PQ_K} vectors, got {len(init_ids)}; "
                "use q_ann_topk (exact) for corpora smaller than the codebook"
            )
        slot = {v: i for i, v in enumerate(init_ids)}
        init = subs.filter(F.col("vec_id").isin(init_ids)).collect()
        books = [[None] * PQ_K for _ in range(PQ_M)]
        for r in init:
            books[r.m][slot[r.vec_id]] = [float(x) for x in r.sub]
    for _ in range(PQ_ITERS):
        books_lit = _dense_lit(books)
        cents_m = F.element_at(books_lit, F.col("m") + 1)
        dists = F.transform(cents_m, lambda c: _l2sq(F.col("sub"), c))
        assigned = subs.select(
            "m", "sub", (F.array_position(dists, F.array_min(dists)) - 1).alias("code")
        )
        new = (
            assigned.select("m", "code", F.posexplode("sub").alias("dim", "x"))
            .groupBy("m", "code", "dim")
            .agg(F.avg(F.col("x").cast("double")).alias("c"))
            .groupBy("m", "code")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("pairs"))
            .select("m", "code", F.transform("pairs", lambda p: p["c"]).alias("centroid"))
            .collect()
        )
        upd = {(r.m, r.code): list(r.centroid) for r in new}
        books = [
            [upd.get((m, k), books[m][k]) for k in range(PQ_K)] for m in range(PQ_M)
        ]
    return [[[float(x) for x in c] for c in b] for b in books]


def _lifecycle_index(spark: SparkSession, sf_dir: str) -> str:
    """The mutable index for default-path lifecycle ops (append/compact):
    a byte-for-byte clone of the immutable base, created on first touch
    and memoized per sf_dir. Registered queries keep reading the base, so
    lifecycle mutation can never drift their results mid-session.
    Local-FS clone (the default index lives in a scratch dir); an explicit
    ``path=`` handle bypasses this entirely."""
    import shutil

    def build() -> str:
        base = build_pq_index(spark, sf_dir)
        src = base[len("file:"):] if base.startswith("file:") else base
        dst = memo.scratch_dir(spark, "pq_index_lifecycle_")
        shutil.copytree(src, dst, dirs_exist_ok=True)
        return dst

    return memo.scaffold(spark, "similarity.pq_lifecycle", sf_dir, build)


def build_pq_index(
    spark: SparkSession,
    sf_dir: str,
    catalog=None,
    rel=None,
) -> str:
    """Encode-once / scan-many: materialize the IVF-PQ index as a real
    table ``(vec_id, embedding, codes: array<int>, cell)`` written
    hive-partitioned by ``cell`` via the CTAS machinery (materialize.create_table_as with
    partition_by — the atomic write-then-swap publish). This is the FAISS
    IVFPQ storage layout as a lake table: the coarse-quantizer cell is the
    partition directory, so a probe of nprobe cells becomes PartitionFilters
    at the scan — unprobed cells are never opened, not even their footers.

    The encode (PQ_M x PQ_K centroid folds per vector) runs ONCE per corpus
    here instead of inline in every query; q_ann_pq / q_ann_ivf_pq scan the
    4-byte-per-vector codes instead of re-deriving them (at 100 TB this is
    the difference between a one-off indexing job and re-paying the encode
    per query batch). Codes and cell assignments are byte-identical to the
    former inline computation (same expressions, ints through parquet), so
    query results are unchanged — pinned by the recall/soundness tests.

    The raw vector is stored alongside the codes so every consumer reads
    ONLY index partitions: IVF's exact scoring and the PQ rerank pull
    vectors from the probed cells' files (column-pruned — an ADC scan
    reads codes without vectors, an IVF scan vectors without codes,
    plan-gated), and the base embeddings table is touched only for the
    query vectors themselves.

    Pass ``catalog``/``rel`` to publish into a user catalog; a catalog
    build is the caller's relation (droppable, renamable) and is NOT
    installed as the process default — registered queries keep reading
    the memoized base build, so a user dropping their copy can't break
    them. The default build lands in a scratch database memoized per
    sf_dir and is IMMUTABLE: default-path append/compact operate on a
    lifecycle clone (_lifecycle_index).
    Returns the Spark-readable path of the codes table."""
    from ..catalog import FilesystemCatalog

    if catalog is None:
        def build() -> str:
            cat = FilesystemCatalog(memo.scratch_dir(spark, "pq_index_"))
            return _write_pq_index(spark, sf_dir, cat, cat.relation("pq_codes"))

        return memo.scaffold(spark, "similarity.pq_index", sf_dir, build)
    return _write_pq_index(spark, sf_dir, catalog, rel or catalog.relation("pq_codes"))


def _write_pq_index(spark: SparkSession, sf_dir: str, catalog, rel) -> str:
    from ..materialize import create_table_as

    from .kmeans import assign_udf

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = train_ivf_quantizer(spark, sf_dir)
    books = train_pq_codebooks(spark, sf_dir)
    assigned = emb.select(
        "vec_id", "embedding", assign_udf(cents)(F.col("embedding")).alias("cell")
    )
    codes = _pq_encode(
        assigned.select("vec_id", "cell", "embedding"), _books_literal(books),
        keep_embedding=True,
    )
    # one shuffle by cell before the write: each cell lands in exactly ONE
    # task, so the layout is ONE file per cell at any write parallelism —
    # without this, every task writes a sliver of every cell and a probed
    # read opens tasks x nprobe files (25x more footers at the sf10 sweep)
    create_table_as(
        spark, catalog, rel, codes.repartition("cell"),
        partition_by=["cell"], register=False,
    )
    path = rel.path
    # the fitted artifacts travel WITH the index (underscore-prefixed, so
    # Spark's listing ignores the file like _SUCCESS): any session holding
    # just the path handle — and any post-rebuild consumer — encodes and
    # probes with the artifacts that match these codes, not a retrain.
    _write_artifacts(path, cents, books)
    return path


def append_to_pq_index(
    spark: SparkSession, sf_dir: str, delta: DataFrame, path: str | None = None
) -> str:
    """Incremental index update: encode a delta of new vectors with the
    FROZEN fitted quantizer and codebooks (standard ANN index practice —
    FAISS add() after train(); retraining is a separate offline rebuild)
    and append them into their cell partitions of the materialized index.

    The delta lands as new part files inside the existing ``cell=``
    directories, so consumers' partition pruning, column pruning, and plan
    gates apply unchanged — a probe that never touches a cell never sees
    its new files either. Cost is delta-proportional: assignment +
    encode are map-only over the delta; no existing file is read or
    rewritten (the incremental_dedup delta-discipline, applied to index
    maintenance).

    ``delta`` must carry (vec_id, embedding). ``path`` is the index handle
    to mutate (from build_pq_index(catalog=...) or a prior append); when
    omitted the append goes to the LIFECYCLE clone of the base — never to
    the immutable base itself, so the registered ANN queries (which read
    the base) cannot silently change results after a lifecycle append.
    Returns the path of the mutated index — read it back with
    ``read_pq_index(..., path=...)``."""
    from .kmeans import assign_udf

    if path is None:
        path = _lifecycle_index(spark, sf_dir)
    # the index's OWN artifacts (sidecar), so an append after a rebuild
    # encodes with the retrained codebooks; memoized-trainer fallback for
    # pre-sidecar handles
    cents, books = _index_artifacts(spark, sf_dir, path)
    assigned = delta.select(
        "vec_id", "embedding", assign_udf(cents)(F.col("embedding")).alias("cell")
    )
    codes = _pq_encode(
        assigned.select("vec_id", "cell", "embedding"), _books_literal(books),
        keep_embedding=True,
    )
    # cell-clustered like the build: one new file per touched cell per append
    codes.repartition("cell").write.mode("append").partitionBy("cell").parquet(path)
    return path


# --- Index freshness: artifacts sidecar, recall-drift audit, rebuild ---------
#
# append_to_pq_index encodes deltas with FROZEN artifacts (FAISS add()-
# after-train() semantics) — correct, but as the delta fraction grows, or
# if the delta's distribution drifts from what the quantizer/codebooks were
# fitted on, recall degrades SILENTLY: the index keeps answering, just
# worse. The repo monitors source drift (q_source_drift); this block makes
# it monitor its own index the same way — measure recall@k of the
# production probe path against exact brute force over the index's own
# stored vectors, and expose a threshold-gated offline rebuild.

_ARTIFACTS_FILE = "_ann_artifacts.json"
RECALL_AUDIT_SAMPLE_1_IN = 8  # deterministic 1-in-8 xxhash query panel


def _local_root(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


def _write_artifacts(path: str, cents, books) -> None:
    """Persist the fitted (centroids, codebooks) next to the codes they
    produced. JSON doubles round-trip exactly (repr shortest-string, the
    _dense_lit argument), so a reload encodes bit-identically. KB-to-MB
    scale at any clamp (65536 cells x 64 dims ~ a few hundred MB worst
    case — move to a parquet sidecar if that clamp is ever reached)."""
    import json
    import os

    with open(os.path.join(_local_root(path), _ARTIFACTS_FILE), "w") as fh:
        json.dump({"centroids": cents, "codebooks": books}, fh)


def _index_artifacts(spark: SparkSession, sf_dir: str, path: str | None):
    """The fitted artifacts that MATCH an index's codes: the sidecar if the
    handle carries one (builds and rebuilds write it; the lifecycle clone
    copies it), else the memoized per-corpus trainers."""
    import json
    import os

    if path is not None:
        f = os.path.join(_local_root(path), _ARTIFACTS_FILE)
        if os.path.exists(f):
            with open(f) as fh:
                a = json.load(fh)
            return a["centroids"], a["codebooks"]
    return train_ivf_quantizer(spark, sf_dir), train_pq_codebooks(spark, sf_dir)


def index_recall_audit(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    sample_1_in: int = RECALL_AUDIT_SAMPLE_1_IN,
) -> DataFrame:
    """Recall@TOP_K of the index's PRODUCTION query path (probe -> pruned
    ADC scan -> exact rerank, exactly q_ann_ivf_pq's plan) against exact
    brute-force cosine over the index's own stored vectors, per query.

    The query panel is a deterministic xxhash 1-in-``sample_1_in`` sample
    of the index rows themselves — appended rows are eligible as queries,
    so drift concentrated in a delta region is visible, not averaged away
    at the sampling step. Returns (query_id, n_hits, n_true, recall).

    Scale: the approximate side costs one probed index read (partition-
    pruned, same as production). The exact side is the honest price of
    ground truth — panel x corpus cosines — bounded by the sample rate and
    run as a broadcast of the KB-scale panel against a single corpus scan
    (top-k via the rank<=k window that rewrites to map-side
    WindowGroupLimit). Audit at a sample rate sized to your budget; the
    panel never shuffles the corpus."""
    from .kmeans import probe_udf

    idx = read_pq_index(spark, sf_dir, path=path)
    cents, books = _index_artifacts(spark, sf_dir, path)
    adc = _adc_udf(books)
    q = idx.filter(
        F.pmod(F.xxhash64(F.col("vec_id").cast("string")), F.lit(int(sample_1_in))) == 0
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    # -- approximate: the production composition over THIS index
    probes = q.select(
        "query_id",
        "qe",
        F.explode(probe_udf(cents, ivf_nprobe(len(cents)))(F.col("qe"))).alias("cell"),
    )
    probed = sorted({r.cell for r in probes.select("cell").distinct().collect()})
    pruned = read_pq_index(spark, sf_dir, cells=probed, path=path)
    scanned = (
        pruned.select("vec_id", "codes", "cell")
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qe",
            F.col("vec_id").alias("neighbor_id"),
            adc(F.col("qe"), F.col("codes")).alias("approx_dot"),
        )
    )
    approx = _rerank_exact(scanned, pruned.select("vec_id", "embedding")).select(
        "query_id", "neighbor_id"
    )
    # -- exact ground truth over ALL index rows (q_ann_topk's shape)
    pairs = (
        idx.select("vec_id", "embedding")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qe"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    exact = (
        pairs.select("query_id", "neighbor_id", F.row_number().over(w).alias("r"))
        .filter(F.col("r") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    truth = exact.groupBy("query_id").agg(F.count("*").alias("n_true"))
    return (
        q.select("query_id")
        .join(truth, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.coalesce("n_true", F.lit(0)).alias("n_true"),
            (
                F.coalesce("n_hits", F.lit(0))
                / F.greatest(F.coalesce("n_true", F.lit(0)), F.lit(1))
            ).cast("double").alias("recall"),
        )
    )


# Deterministic clustered TWIN corpus (r12 next-round #7 / ROADMAP gap #3):
# the shipped synthetic embeddings are isotropic noise, on which ANY
# partition-pruning ANN's recall is structurally ~nprobe/cells — floors
# tuned there say nothing about real corpora. This scaffold materializes a
# mixture-of-Gaussians corpus (the tests/conftest.py clustered_emb_dir
# recipe: 8 well-separated unit centers, sigma 0.05, 480x64) plus a
# minimal documents table carrying the filtered-audit predicate columns,
# so both recall audits run on BOTH distributions and report per-corpus.


def clustered_corpus_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per session+sf_dir) the clustered twin corpus as
    its own sf_dir-shaped directory — the whole index/audit machinery is
    sf_dir-generic, so the twin rides the production path end to end."""
    return memo.scaffold(
        spark, "similarity.clustered_corpus", sf_dir,
        lambda: _write_clustered_corpus(memo.scratch_dir(spark, "clustered_corpus_")),
    )


def _write_clustered_corpus(d: str) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as papq

    rng = np.random.default_rng(4242)
    n_clusters, n, dim = 8, 480, 64
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.arange(n) % n_clusters
    pts = centers[labels] + 0.05 * rng.standard_normal((n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    papq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    pts.astype(np.float32).tolist(), pa.list_(pa.float32())
                ),
            }
        ),
        f"{d}/embeddings.parquet",
    )
    # predicate columns matching FILTERED_AUDIT_TIERS' selectivity bands:
    # lang 'en' ~0.4, source 'src1' ~0.05, doc_id % 101 ~0.01
    papq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "lang": pa.array(
                    ["en" if i % 5 < 2 else ["de", "fr", "es"][i % 3] for i in range(n)]
                ),
                "source": pa.array(
                    [f"src{i % 20 + 1}" for i in range(n)]
                ),
            }
        ),
        f"{d}/documents.parquet",
    )
    return d


@register("q_index_recall_audit", tags=("similarity", "ann", "audit", "ivf", "pq"))
def q_index_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered freshness monitor: one summary row PER CORPUS of the
    recall audit (mean/min over the deterministic panel) — the shipped
    isotropic corpus (where recall ~ probe fraction is the structural
    ceiling) AND the clustered twin (where a working index must score
    high; floor pinned in tests/test_joins_ivf.py — the r12 're-measure on
    a clustered corpus' item). Rows-only driver check — k-means-fitted
    artifacts are operator identity, not SQL-expressible; the audit
    MACHINERY is pinned instead by the adversarial drift test (appended
    shifted-distribution delta degrades measured recall, rebuild_pq_index
    restores it, tests/test_joins_ivf.py)."""
    out = None
    for corpus, d in (("shipped", sf_dir), ("clustered", clustered_corpus_dir(spark, sf_dir))):
        per_q = index_recall_audit(spark, d)
        row = per_q.agg(
            F.count("*").alias("n_queries"),
            F.avg("recall").alias("mean_recall"),
            F.min("recall").alias("min_recall"),
        ).select(
            F.lit(corpus).alias("corpus"),
            F.lit(TOP_K).cast("long").alias("k"),
            "n_queries",
            "mean_recall",
            "min_recall",
        )
        out = row if out is None else out.unionByName(row)
    return out


def rebuild_pq_index(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    recall_threshold: float | None = None,
) -> dict:
    """Threshold-gated offline rebuild — the drift monitor's actuator.

    With ``recall_threshold``, the recall audit runs first and a fresh-
    enough index (mean recall >= threshold) is left untouched. Otherwise
    the quantizer and codebooks are RETRAINED on the index's CURRENT
    contents (deltas included — the whole point: the frozen artifacts are
    what went stale), every row is re-encoded, and the result is published
    by atomic directory swap (the _compact_cell protocol at whole-index
    scope, retrained artifacts staged INSIDE the new directory so the
    publish is atomic including the sidecar). Subsequent appends on this
    handle encode with the retrained codebooks via _index_artifacts.

    Returns {"path", "recall", "rebuilt"}; ``recall`` is the pre-rebuild
    audit mean (None when no threshold was given — unconditional rebuild).
    Run ONE maintainer at a time per index (the compact_pq_index rule)."""
    import os
    import shutil
    import uuid as _uuid

    from .kmeans import assign_udf

    if path is None:
        path = _lifecycle_index(spark, sf_dir)
    recall_before = None
    if recall_threshold is not None:
        row = index_recall_audit(spark, sf_dir, path=path).agg(
            F.avg("recall").alias("m")
        ).collect()[0]
        recall_before = float(row.m) if row.m is not None else 1.0
        if recall_before >= recall_threshold:
            return {"path": path, "recall": recall_before, "rebuilt": False}
    rows = read_pq_index(spark, sf_dir, path=path).select("vec_id", "embedding")
    # persist barrier: the retrain + encode pipeline reads this frame many
    # times (count, init collect, Lloyd rounds, codebook rounds, encode)
    rows = rows.persist()
    rows.count()
    try:
        # spread (farthest-point) inits: the rebuild exists BECAUSE the
        # distribution drifted — a lowest-id init from the original region
        # would capture the drifted mass with one unsplittable centroid
        cents = fit_ivf_quantizer(rows, spread=True)
        books = fit_pq_codebooks(rows, spread=True)
        assigned = rows.select(
            "vec_id", "embedding", assign_udf(cents)(F.col("embedding")).alias("cell")
        )
        codes = _pq_encode(
            assigned.select("vec_id", "cell", "embedding"), _books_literal(books),
            keep_embedding=True,
        )
        root = _local_root(path)
        parent = os.path.dirname(root.rstrip("/"))
        tmp = os.path.join(parent, f".rebuild_{_uuid.uuid4().hex[:8]}")
        codes.repartition("cell").write.partitionBy("cell").parquet(tmp)
        _write_artifacts(tmp, cents, books)
    finally:
        rows.unpersist()
    trash = os.path.join(parent, f".trash_{_uuid.uuid4().hex[:8]}")
    os.rename(root, trash)
    os.rename(tmp, root)
    shutil.rmtree(trash)
    return {"path": path, "recall": recall_before, "rebuilt": True}


def _compact_cell(
    spark, root: str, cell_dir: str, max_files: int, after_snapshot=None, after_trash=None
) -> None:
    """Compact one cell directory with an atomic-publish protocol:

    1. SNAPSHOT the cell's part-file list, then read exactly those files
       (explicit leaf paths — a file appended after the snapshot is never
       read, and therefore never deleted either: no lost-append window).
    2. Write the coalesced replacement into a hidden ``.compact_*`` dir
       under the index root (dot-prefixed, invisible to Spark listings).
    3. Publish by DIRECTORY swap: rename the live cell dir to a hidden
       trash dir, move any post-snapshot appends from trash into the new
       dir, rename the new dir into place. Each rename is one atomic
       syscall, so a reader lists either the old file set or the new one —
       never both (the duplicate-rows window of the old rename-files-in-
       then-delete protocol). The only exposure is the sub-ms gap between
       the two renames, where the cell is briefly absent (a manifest-based
       commit would close even that; POSIX has no multi-file atomic op).
    4. Delete trash LAST — a crash at any earlier point leaves the live
       tree duplicate-free, with all bytes recoverable from the hidden
       dirs.

    ``after_snapshot`` is a test seam invoked between snapshot+write and
    the swap, and ``after_trash`` one invoked inside the swap window (after
    the trash rename, before the publish rename) — both simulate a
    concurrent append."""
    import os
    import shutil
    import uuid as _uuid

    snapshot = sorted(e for e in os.listdir(cell_dir) if e.endswith(".parquet"))
    if len(snapshot) <= max_files:
        return
    tmp = os.path.join(root, f".compact_{_uuid.uuid4().hex[:8]}")
    df = spark.read.parquet(*[os.path.join(cell_dir, e) for e in snapshot])
    df.coalesce(max_files).write.mode("overwrite").parquet(tmp)
    for e in os.listdir(tmp):  # drop _SUCCESS/.crc noise from the staged dir
        if not e.endswith(".parquet") or e.startswith("."):
            os.remove(os.path.join(tmp, e))
    if after_snapshot is not None:
        after_snapshot()
    trash = os.path.join(root, f".trash_{_uuid.uuid4().hex[:8]}")
    os.rename(cell_dir, trash)  # atomic: readers now see neither old nor dupes
    for e in os.listdir(trash):  # carry over files appended after the snapshot
        if e.endswith(".parquet") and e not in snapshot:
            os.rename(os.path.join(trash, e), os.path.join(tmp, e))
    if after_trash is not None:
        after_trash()
    try:
        os.rename(tmp, cell_dir)  # atomic: readers see the complete new set
    except OSError:
        # A concurrent append recreated cell_dir inside the swap window.
        # Fall back to a file-level merge into the recreated dir: part-file
        # names are write-UUID-unique so nothing collides, the append's
        # files are preserved, and no bytes are stranded in hidden dirs.
        # The merge is not a single atomic publish (a reader can list a
        # partial new set mid-merge) — the one-maintainer-at-a-time
        # assumption in compact_pq_index's docstring is what makes this
        # path a rare race-recovery rather than a steady state.
        for e in sorted(os.listdir(tmp)):
            os.rename(os.path.join(tmp, e), os.path.join(cell_dir, e))
        os.rmdir(tmp)
    shutil.rmtree(trash)  # delete last: no earlier crash point loses bytes


def compact_pq_index(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_cell: int = 1,
    path: str | None = None,
) -> str:
    """Per-cell compaction after delta appends: each ``append_to_pq_index``
    adds part files inside the touched cell directories, and small files
    are the silent killer at scale (a task + footer read + listing entry
    each). Only FRAGMENTED cells (more than ``max_files_per_cell`` files)
    are rewritten; untouched cells' files are not read, not rewritten, not
    even listed twice. Publication is per-cell atomic (see _compact_cell:
    snapshot-scoped read, whole-directory rename swap, trash deleted last),
    so concurrent probes never observe duplicated rows and a concurrent
    append is carried over, not deleted (even one landing inside the swap
    window — see _compact_cell's merge fallback). Run ONE maintainer at a
    time per index: concurrent compactors of the SAME cell could each
    publish a coalesced copy of the same snapshot (duplicates); appends
    and readers need no coordination. The maintenance .compact discipline,
    scoped to the hive layout.

    ``path`` selects the index to compact (the handle returned by
    build/append); default is the mutable lifecycle index that default-path
    appends write to, so the registered-query base is never rewritten.
    Returns the compacted index's path.
    Contents are unchanged — pinned by test."""
    import glob as _glob
    import os

    if path is None:
        path = _lifecycle_index(spark, sf_dir)
    root = path[len("file:"):] if path.startswith("file:") else path
    for cell_dir in sorted(_glob.glob(os.path.join(root, "cell=*"))):
        _compact_cell(spark, root, cell_dir, max_files_per_cell)
    return path


def read_pq_index(
    spark: SparkSession,
    sf_dir: str,
    cells: list[int] | None = None,
    path: str | None = None,
) -> DataFrame:
    """Scan the materialized codes table (building it on first touch).
    ``cells`` applies the probe filter on the PARTITION column before
    anything else, so the scan's PartitionFilters prune to exactly those
    directories (plan-gated in tests/test_plans.py). Default target is the
    IMMUTABLE base index (what the registered queries read); pass the
    ``path`` handle returned by append/compact to read a mutated index."""
    idx = spark.read.parquet(path if path is not None else build_pq_index(spark, sf_dir))
    if cells is not None:
        idx = idx.filter(F.col("cell").isin([int(c) for c in cells]))
    # the hive partition column reads back as int; restore the long the
    # inline array_position produced so downstream joins are unchanged
    return idx.withColumn("cell", F.col("cell").cast("long"))


@register("q_ann_pq", tags=("similarity", "ann", "pq"))
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN with exact rerank: encode every vector as PQ_M
    codebook codes, score query-vs-corpus by asymmetric distance (sum of
    per-subspace query-centroid dot products — the query side stays exact,
    only the corpus side is quantized), keep the top PQ_RERANK candidates
    per query, rerank those with exact cosine, return the top TOP_K with
    exact scores (same schema as q_ann_topk, so recall is directly
    measurable).

    Rows-only driver check (codebooks are parameter-specific); pytest
    measures recall vs the exact baseline and asserts the returned cos_sim
    values are the true cosines (soundness of the rerank stage).

    Scale: THE memory/IO lever for corpus-scale ANN — the scored corpus
    representation is PQ_M small ints per vector (4 bytes here vs 256 for
    the raw floats, a 64x scan-volume cut), scanned from the MATERIALIZED
    codes table (build_pq_index: encode once, scan many — the encode is an
    indexing job, not a per-query cost); codebooks are KBs broadcast as
    literals. The PQ scan is map-only against broadcast queries; only
    TOP-PQ_RERANK survivors are joined back to raw vectors (an equi-join on
    vec_id) for the exact pass. q_ann_ivf_pq composes this with q_ann_ivf's
    cell pruning (scan only probed cells' partitions) — the full IVF-PQ
    layout.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    adc = _adc_udf(train_pq_codebooks(spark, sf_dir))
    idx = read_pq_index(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    scanned = (
        idx.select("vec_id", "codes")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qe",
            F.col("vec_id").alias("neighbor_id"),
            adc(F.col("qe"), F.col("codes")).alias("approx_dot"),
        )
    )
    # rerank reads the index-stored raw vectors: the base table is touched
    # only for the Q query vectors (pushdown-pruned point lookups)
    return _rerank_exact(scanned, idx.select("vec_id", "embedding"))


def _pq_sub(col, m):
    return F.slice(col, m * PQ_SUB + 1, PQ_SUB)


def _books_literal(books: list[list[list[float]]]):
    """PQ codebooks as one nested array literal (KBs, broadcast inline;
    single parsed expression — see _dense_lit for why not F.lit leaves)."""
    return _dense_lit(books)


def _pq_encode(emb: DataFrame, books_lit, keep_embedding: bool = False) -> DataFrame:
    """Encode: corpus rows shrink to (vec_id, codes: array<int>).
    ``keep_embedding`` additionally carries the raw vector through — the
    index-build path stores it so IVF's exact scoring and the rerank stage
    read probed partitions instead of re-scanning the base table.

    NB: the centroid-distance lambda must stay single-argument — a
    two-parameter lambda (e.g. binding m via a default arg) is interpreted
    by F.transform as (element, index) and silently receives the ARRAY
    INDEX as the second value.
    """

    def _dists(m: int):
        s = _pq_sub(F.col("embedding"), m)
        return F.transform(F.element_at(books_lit, m + 1), lambda c: _l2sq(s, c))

    return emb.select(
        "vec_id",
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        *(["embedding"] if keep_embedding else []),
        F.array(
            *[
                (F.array_position(_dists(m), F.array_min(_dists(m))).cast("int") - 1)
                for m in range(PQ_M)
            ]
        ).alias("codes"),
    )


def _adc_udf(books: list[list[list[float]]]):
    """Asymmetric-distance approx dot: sum over subspaces of
    dot(q_sub, centroid[code]) — query side exact, corpus side quantized.

    Arrow-batched numpy (the q_embedding_gram / _assign_udf discipline):
    the codebook tensor (PQ_M x PQ_K x PQ_SUB doubles, KBs) lives in the
    UDF closure; per batch each subspace is one (n x SUB)@(SUB x K) matmul
    plus a row-wise code gather. The former 16-branch JVM expression
    embedded a 1024-leaf codebook literal PER BRANCH — ~2.5 s of pure
    analyzer time on every query build (measured; execution was 0.5 s).
    The approx score only SELECTS the rerank pool (ties and ulps cannot
    change returned scores — the final cosine is exact and JVM-side), so
    the scoring path is free to be vectorized."""
    B = np.asarray(books, dtype=np.float64)  # (M, K, SUB)

    @F.pandas_udf(DoubleType())
    def adc(qe: pd.Series, codes: pd.Series) -> pd.Series:
        if len(qe) == 0:
            return pd.Series([], dtype="float64")
        Q = np.vstack(qe.to_numpy()).astype(np.float64)
        C = np.vstack(codes.to_numpy()).astype(np.int64)
        idx = np.arange(Q.shape[0])
        acc = np.zeros(Q.shape[0], dtype=np.float64)
        for m in range(PQ_M):
            table = Q[:, m * PQ_SUB : (m + 1) * PQ_SUB] @ B[m].T  # n x K
            acc += table[idx, C[:, m]]
        return pd.Series(acc)

    return adc


def _rerank_exact(scanned: DataFrame, emb: DataFrame) -> DataFrame:
    """Top-PQ_RERANK by approx_dot per query, then exact-cosine rerank to
    the final TOP_K (q_ann_topk's schema, so recall is directly
    measurable and returned scores are true cosines)."""
    wa = Window.partitionBy("query_id").orderBy(F.desc("approx_dot"), F.asc("neighbor_id"))
    cand = (
        scanned.select("query_id", "qe", "neighbor_id", F.row_number().over(wa).alias("r"))
        .filter(F.col("r") <= PQ_RERANK)
        .drop("r")
    )
    reranked = cand.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"), "neighbor_id"
    ).select(
        "query_id", "neighbor_id", cosine(F.col("qe"), F.col("embedding")).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        reranked.select(
            "query_id", "neighbor_id", "cos_sim", F.row_number().over(w).alias("rank")
        )
        .filter(F.col("rank") <= TOP_K)
    )


@register("q_ann_ivf_pq", tags=("similarity", "ann", "ivf", "pq"))
def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ composition (FAISS IVFPQ's layout as DataFrames):
    IVF's coarse quantizer prunes WHICH vectors are scored (only the
    query's nprobe nearest cells), PQ compresses HOW the survivors are
    scored (ADC over byte codes), and an exact-cosine rerank of the top
    PQ_RERANK candidates restores true scores. Same schema as q_ann_topk.

    Rows-only driver check (quantizer/codebook parameters are operator
    identity); pytest measures recall vs the exact baseline on a CLUSTERED
    fixture (mixture of Gaussians — the isotropic synthetic corpus lower-
    bounds any cell-pruning method at ~nprobe/cells) and asserts recall >=
    IVF-alone at the same probe budget.

    Scale: the two levers compose multiplicatively — the scan touches
    N*nprobe/cells vectors at 4 bytes of codes each (here ~64x smaller
    than raw floats), so a 100 TB corpus scans ~0.5 TB of codes at
    nprobe/cells=0.3. The codes come from the MATERIALIZED index
    (build_pq_index: encode once, hive-partitioned by cell), and the probe
    set is applied as a static filter on the partition column, so the scan
    prunes to exactly the probed cell directories (PartitionFilters,
    plan-gated) — unprobed cells are never opened. Codebooks and centroids
    stay KB-scale literals.
    """
    return _ivf_pq_search(spark, sf_dir)


def _ivf_pq_search(
    spark: SparkSession,
    sf_dir: str,
    allow: DataFrame | None = None,
    survivor_frac: float | None = None,
) -> DataFrame:
    """Shared IVF-PQ probe/score/rerank body. ``allow`` (vec_id rows)
    restricts candidates BEFORE ADC scoring — the filtered-search
    pre-filter applied at cell-posting granularity, so the ADC pass and
    the rerank only ever touch allowed vectors. ``survivor_frac`` (the
    filter's keep fraction) widens the probe via ``adaptive_nprobe`` so a
    selective predicate cannot silently collapse the candidate pool."""
    from .kmeans import probe_udf

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = train_ivf_quantizer(spark, sf_dir)
    adc = _adc_udf(train_pq_codebooks(spark, sf_dir))
    nprobe = (
        ivf_nprobe(len(cents))
        if survivor_frac is None
        else adaptive_nprobe(len(cents), survivor_frac)
    )
    q = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.explode(probe_udf(cents, nprobe)(F.col("embedding"))).alias("cell"),
        )
    )
    # the probed cell set is queries x nprobe — driver-scale by definition
    # (it IS the query plan); folding it into the index read as a static
    # partition filter turns the probe into directory pruning at the scan.
    probed = sorted({r.cell for r in q.select("cell").distinct().collect()})
    pruned = read_pq_index(spark, sf_dir, cells=probed)
    candidates = pruned.select("vec_id", "codes", "cell")
    if allow is not None:
        candidates = candidates.join(allow.select("vec_id"), "vec_id")
    scanned = (
        candidates
        .join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qe",
            F.col("vec_id").alias("neighbor_id"),
            adc(F.col("qe"), F.col("codes")).alias("approx_dot"),
        )
    )
    # every candidate lives in a probed cell, so the exact rerank reads the
    # pruned partitions' stored vectors — no base-table scan at all
    return _rerank_exact(scanned, pruned.select("vec_id", "embedding"))


@register(
    "q_ann_ivf_pq_filtered",
    tags=("similarity", "ann", "ivf", "pq", "filtered", "serving"),
)
def q_ann_ivf_pq_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered search on the MATERIALIZED index: the q_ann_filtered
    metadata predicate (documents.lang = 'en') composed with the IVF-PQ
    probe — the allow-list joins the probed cells' posting rows BEFORE ADC
    scoring, so both the byte-code pass and the exact rerank touch only
    allowed vectors (pre-filter, never post-filter: a post-filtered top-k
    under-fills k under selective predicates). The probe budget ADAPTS to
    the filter's survivor fraction (adaptive_nprobe): a selective
    predicate probes proportionally more cells so the allowed-candidate
    pool — and therefore recall — holds instead of collapsing; the
    recall-vs-selectivity curve is audited by q_ann_filtered_recall_audit
    against the oracle-exact q_ann_filtered baseline. Rows-only driver
    check; pytest pins membership (every neighbor allowed), per-query
    fill, agreement with the exact baseline, and the selective-predicate
    recall floor.

    Scale: scanned bytes stay at the UNFILTERED probe cost ((nprobe/s)·s);
    the survivor fraction here is an exact count over the KB-scale
    documents dimension — at 100 TB substitute the predicate column's
    NDV/histogram estimate or a sampled count. The allow-list is a key
    equi-join that co-partitions with a vec_id-bucketed documents layout."""
    docs = load_table(spark, sf_dir, "documents")
    allowed = docs.filter(F.col("lang") == ANN_FILTER_LANG).select(
        F.col("doc_id").alias("vec_id")
    )
    # total + survivors in ONE scan/action (r14 job diet; was two counts)
    # — same integers, so frac and the adaptive probe budget are unchanged.
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("lang") == ANN_FILTER_LANG).cast("long")).alias("keep"),
    ).first()
    frac = int(row.keep or 0) / max(int(row.n), 1)
    return _ivf_pq_search(spark, sf_dir, allow=allowed, survivor_frac=frac)


# --- Cluster-balanced sampling -----------------------------------------------
SAMPLE_PER_CELL = 20


@register(
    "q_cluster_balanced_sample",
    tags=("similarity", "sampling", "curation", "ivf"),
)
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cluster-balanced subset selection: assign every vector to
    its IVF cell and keep the SAMPLE_PER_CELL most CENTRAL vectors per cell
    (cosine to the cell centroid, vec_id tiebreak) — the prototype-sampling
    curation move (keep representative coverage of every semantic region
    instead of letting head clusters dominate a uniform sample). Reuses the
    deterministic IVF quantizer; rows-only driver check (k-means is not
    SQL-expressible), invariants + independent-recompute parity pinned in
    tests/test_joins_ivf.py.

    Scale: assignment and centrality are map-only against broadcast
    centroids; the per-cell top-k is a rank window whose filter Spark
    rewrites to a map-side WindowGroupLimit (plan-gated) — each input
    partition forwards at most k rows per cell to the exchange, so the
    cell-keyed window never moves a full cell population through one task
    despite cells being corpus-scale partitions.
    """
    from .kmeans import assign_with_centrality_udf

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = train_ivf_quantizer(spark, sf_dir)
    assigned = emb.select(
        "vec_id",
        assign_with_centrality_udf(cents)(F.col("embedding")).alias("a"),
    ).select("vec_id", F.col("a.cell").alias("cell"), F.col("a.centrality").alias("centrality"))
    w = Window.partitionBy("cell").orderBy(F.desc("centrality"), F.asc("vec_id"))
    return (
        assigned.select(
            "cell", "vec_id", "centrality", F.row_number().over(w).alias("rank")
        )
        .filter(F.col("rank") <= SAMPLE_PER_CELL)
    )


# --- kNN label-accuracy eval --------------------------------------------------

KNN_EVAL_QUERIES = 64  # fixed eval panel: vec_id < 64
KNN_EVAL_K = 5


@register(
    "q_knn_eval",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe, label AS true_label
        FROM embeddings WHERE vec_id < {KNN_EVAL_QUERIES}
    ),
    scored AS (
        SELECT q.query_id, q.true_label, e.vec_id AS neighbor_id,
               e.label AS n_label,
               {{cos}} AS cos_sim
        FROM q, embeddings e
        WHERE e.vec_id <> q.query_id
    ),
    topk AS (
        SELECT query_id, true_label, n_label FROM (
            SELECT query_id, true_label, n_label,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
            FROM scored
        ) WHERE rnk <= {KNN_EVAL_K}
    ),
    votes AS (
        SELECT query_id, true_label, n_label, COUNT(*) AS c
        FROM topk GROUP BY query_id, true_label, n_label
    ),
    pred AS (
        SELECT query_id, true_label, n_label AS pred_label FROM (
            SELECT query_id, true_label, n_label,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY c DESC, n_label ASC) AS vr
            FROM votes
        ) WHERE vr = 1
    )
    SELECT true_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS accuracy
    FROM pred GROUP BY true_label
    """.format(cos=_duck_cosine("q.qe", "e.embedding")),
    tags=("similarity", "ann", "eval", "embedding"),
)
def q_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality eval: exact k-NN label accuracy on a fixed query
    panel — the standard way to sanity-check an embedding column before
    committing to embedding-based dedup/selection at full scale. For each
    of the 64 held-out queries (KNN_EVAL_QUERIES), take the exact cosine
    top-5 neighbors (leave-one-out), majority-vote their labels
    (ties -> smaller label), and report per-label accuracy.

    Determinism: cosine is the bit-portable sequential dot
    (functions/vector.py); neighbor rank tie-breaks on neighbor_id, the
    vote tie-breaks on (count DESC, label ASC); accuracy is an exact
    long/long IEEE division — fully oracle-checked.

    Scale: the panel is FIXED-SIZE (bounded broadcast, O(N·Q) scored rows
    streaming map-side); both windows partition by query_id (<= corpus
    candidates resp. <= |labels| rows per partition). The corpus side
    streams once with no shuffle; the vote/accuracy aggregations touch
    Q·k rows. Growing the panel with the corpus would instead call for
    the LSH/IVF route (q_ann_lsh / q_ann_ivf) as the candidate stage.
    """
    # norms are hoisted OUT of the pair expression: cosine's three folds
    # per pair become one (the dot) — norm(x) evaluates once per vector
    # instead of once per (query, vector) pair, bit-identically (the
    # oracle's inline norms compute the same doubles).
    #
    # Spread the corpus scan (r14, guide §2.5): each corpus row pays
    # KNN_EVAL_QUERIES HOF dot products against the broadcast panel —
    # per-byte CPU far denser than the token pipeline — and a single-row-
    # group file would serialize that entire O(N·Q) score pass onto one
    # core (measured 2x wall at sf0.1). 16 KiB/task budget; no-op when the
    # layout already supplies >= parallelism splits. Exact doubles are
    # per-row, so the result is partitioning-independent.
    from ..sources.readers import spread_small_scan

    base = load_table(spark, sf_dir, "embeddings")
    emb = spread_small_scan(spark, base, 16 * 1024).withColumn(
        "nrm", norm(F.col("embedding"))
    )
    # the panel builds from the UNspread scan: its vec_id filter pushes to
    # the parquet footer and the broadcast never waits on the spread shuffle
    q = base.filter(F.col("vec_id") < KNN_EVAL_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm(F.col("embedding")).alias("qnrm"),
        F.col("label").alias("true_label"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("n_label"),
            (
                dot(F.col("qe"), F.col("embedding"))
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    topk = (
        scored.select(
            "query_id", "true_label", "n_label", F.row_number().over(w).alias("rnk")
        )
        .filter(F.col("rnk") <= KNN_EVAL_K)
    )
    votes = topk.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("n_label"))
    pred = (
        votes.select(
            "query_id", "true_label", "n_label", F.row_number().over(wv).alias("vr")
        )
        .filter(F.col("vr") == 1)
    )
    correct = F.sum((F.col("n_label") == F.col("true_label")).cast("long"))
    return pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_queries"),
        correct.alias("n_correct"),
        (correct.cast("double") / F.count(F.lit(1))).alias("accuracy"),
    )


# --- Distributed scatter matrix + PCA projection -------------------------------
# The whitening/decorrelation step of an embedding pipeline (SemDeDup-style
# preprocessing, ANN index conditioning): the corpus-wide scatter matrix
# E[x xT] is the one reduction a PCA needs, and it is DIM^2 scalars no matter
# how many vectors flow through — the canonical "driver holds only the model"
# shape. Every x_i*x_j product is frozen to integer ppm BEFORE summation, so
# the reduction is order-free integer addition: bit-identical at any
# partitioning and fully oracle-checked (q_embedding_gram). q_embedding_pca
# eigendecomposes that deterministic integer matrix on the driver (numpy on
# DIM x DIM) and projects every vector through JVM fold expressions —
# rows-only registered, pinned against a pure-numpy pipeline in pytest.

PCA_K = 4


def embedding_gram_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, j, n, s_ppm) for 1 <= i <= j <= DIM: the upper-triangular
    scatter matrix in integer ppm, plus the vector count carried on every
    cell.

    Shape: Arrow-batched partial Grams — each partition reduces its vectors
    to ONE DIM x DIM integer matrix in vectorized numpy (the outer-product
    inner loop is exactly what per-row JVM expressions are worst at: an
    explode formulation shipped DIM^2/2 struct rows per vector into the
    hash aggregate and measured 3.5x slower than this), then a final
    groupBy over <= partitions * DIM^2 partial rows. floor(1e6 * x_i*x_j)
    is applied per product in float64 — bit-identical to the oracle's
    CAST/floor — and every partial is an exact int64, so the merge is
    order-free."""
    return gram_ppm_of(load_table(spark, sf_dir, "embeddings"))


def gram_ppm_of(emb: DataFrame) -> DataFrame:
    """The scatter-matrix reduction over ANY frame with an ``embedding``
    column (see embedding_gram_ppm for the shape and exactness notes).
    512-row chunks bound the B x DIM x DIM intermediate; each floored
    product is an integer-valued float64 << 2^53, so the chunk sum is
    exact before the int64 cast."""
    import numpy as np
    import pandas as pd

    def gram_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            dim = x.shape[1]
            s = np.zeros((dim, dim), dtype=np.int64)
            for lo in range(0, len(x), 512):
                c = x[lo : lo + 512]
                s += (
                    np.floor(1000000.0 * (c[:, :, None] * c[:, None, :]))
                    .sum(axis=0)
                    .astype(np.int64)
                )
            iu = np.triu_indices(dim)
            yield pd.DataFrame(
                {
                    "i": (iu[0] + 1).astype("int64"),
                    "j": (iu[1] + 1).astype("int64"),
                    "n": np.int64(len(x)),
                    "c": s[iu],
                }
            )

    # Spread the vector column across tasks before the Arrow hop (r14,
    # guide §2.5/§4): a single-row-group file otherwise runs the whole
    # corpus's outer-product reduction through ONE Python worker. Partial
    # Grams are exact int64s, so the merge is partitioning-independent;
    # no-op when the layout already supplies enough splits.
    from ..sources.readers import spread_small_scan

    spread = spread_small_scan(emb.sparkSession, emb.select("embedding"), 64 * 1024)
    partials = spread.mapInPandas(
        gram_partials, "i long, j long, n long, c long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s_ppm"),
    )


def merge_gram(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two scatter matrices by integer addition — the incremental
    maintenance path: gram(corpus ∪ delta) == merge(gram(corpus),
    gram(delta)) EXACTLY (int64 sums are associative), so a delta batch
    updates the PCA fit without re-reading the corpus. Store the base
    gram as a (DIM² rows) table and fold each ingest batch in."""
    return (
        a.unionByName(b)
        .groupBy("i", "j")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s_ppm").cast("long").alias("s_ppm"),
        )
    )


@register(
    "q_embedding_gram",
    oracle="""
    WITH g AS (
        SELECT unnest(flatten(list_transform(range(1, len(embedding) + 1),
            i -> list_transform(range(i, len(embedding) + 1),
                j -> {'i': i, 'j': j,
                      'c': CAST(floor(1000000.0 * (CAST(embedding[i] AS DOUBLE)
                                 * CAST(embedding[j] AS DOUBLE))) AS BIGINT)}))))
               AS u
        FROM embeddings
    )
    SELECT CAST(u.i AS BIGINT) AS i, CAST(u.j AS BIGINT) AS j,
           CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(u.c) AS BIGINT) AS s_ppm
    FROM g GROUP BY u.i, u.j
    """,
    tags=("embedding", "linalg", "pca", "gram"),
)
def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide scatter matrix in integer ppm — the single distributed
    reduction behind PCA/whitening. See embedding_gram_ppm for the shape;
    s_ppm/n recovers E[x_i x_j] to 1e-6, deterministically.

    Scale: output is DIM(DIM+1)/2 rows regardless of corpus size; the
    explode fan-out (DIM^2/2 structs per vector) is map-local and feeds a
    partially-aggregated exchange of <= DIM^2 rows per input partition.
    """
    out = embedding_gram_ppm(spark, sf_dir)
    return out.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        "n",
        "s_ppm",
    )


def pca_projection(spark: SparkSession, sf_dir: str) -> tuple[list[float], list[list[float]]]:
    """Fit PCA from the integer-ppm scatter matrix + per-dim integer-ppm
    sums: covariance C = S/n - mean meanT on the driver (DIM x DIM doubles),
    numpy eigh, top-PCA_K eigenvectors sign-fixed (largest-|coord| positive)
    for full determinism. Driver transfer: DIM^2 + DIM longs. Memoized:
    the fit is deterministic given sf_dir."""
    return memo.scaffold(spark, "similarity.pca", sf_dir, lambda: _fit_pca(spark, sf_dir))


def _fit_pca(spark: SparkSession, sf_dir: str) -> tuple[list[float], list[list[float]]]:
    import numpy as np

    gram = {(r.i, r.j): (r.n, r.s_ppm) for r in embedding_gram_ppm(spark, sf_dir).collect()}
    if not gram:  # empty corpus: nothing to fit (BaseEmpty parity)
        return ([], [])
    emb = load_table(spark, sf_dir, "embeddings")
    d = F.size("embedding")
    sums_df = (
        emb.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), d),
                    lambda i: F.struct(
                        i.alias("i"),
                        F.floor(
                            F.lit(1000000.0)
                            * F.element_at(F.col("embedding"), i).cast("double")
                        )
                        .cast("long")
                        .alias("c"),
                    ),
                )
            ).alias("u")
        )
        .groupBy(F.col("u.i").alias("i"))
        .agg(F.sum("u.c").cast("long").alias("s_ppm"))
    )
    sums = {r.i: r.s_ppm for r in sums_df.collect()}
    dim = max(i for i, _ in gram)
    n = gram[(1, 1)][0]
    mean = np.array([sums[i + 1] / 1e6 / n for i in range(dim)])
    c = np.zeros((dim, dim))
    for (i, j), (_, s) in gram.items():
        v = s / 1e6 / n - mean[i - 1] * mean[j - 1]
        c[i - 1, j - 1] = v
        c[j - 1, i - 1] = v
    vals, vecs = np.linalg.eigh(c)
    order = np.argsort(vals)[::-1][:PCA_K]
    comps = []
    for k in order:
        v = vecs[:, k]
        v = v if v[int(np.argmax(np.abs(v)))] >= 0 else -v
        comps.append([float(x) for x in v])
    return [float(m) for m in mean], comps


@register("q_embedding_pca", tags=("embedding", "linalg", "pca", "projection"))
def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the corpus' top-PCA_K principal
    components (fit from the oracle-checked integer-ppm scatter matrix —
    see pca_projection). Output: vec_id, pc1..pc{PCA_K}.

    Rows-only registered (eigenvectors are float linear algebra, not
    SQL-expressible); the full fit+project pipeline is pinned against an
    independent pure-numpy implementation in tests/test_pca.py, and the
    fit is deterministic: integer gram -> eigh on the driver -> sign-fixed
    components.

    Scale: fit reduces to DIM^2 integers (two bounded exchanges); the
    projection is a narrow JVM fold per component — no UDF, no shuffle.
    """
    mean, comps = pca_projection(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    if not comps:  # empty corpus: empty result, stable schema
        return emb.select(
            "vec_id",
            *[F.lit(None).cast("double").alias(f"pc{k}") for k in range(1, PCA_K + 1)],
        )
    centered = F.zip_with(
        F.col("embedding"),
        F.lit(mean).cast("array<double>"),
        lambda x, m: x.cast("double") - m,
    )
    out = emb.select("vec_id", centered.alias("ce"))
    for k, comp in enumerate(comps, start=1):
        out = out.withColumn(
            f"pc{k}",
            F.aggregate(
                F.zip_with(
                    F.col("ce"),
                    F.lit(comp).cast("array<double>"),
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    return out.drop("ce")


PCA_CANDIDATES = 50  # reduced-space prefilter width per query


@register("q_ann_pca", tags=("similarity", "ann", "pca"))
def q_ann_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-prefiltered ANN: rank candidates by cosine in the top-PCA_K
    component subspace (raw projections z = V·x — a linear isometry onto
    the high-variance subspace, so angles survive where the energy is),
    keep PCA_CANDIDATES per query, then exact full-dimension cosine rerank
    to TOP_K. The dimensionality-reduction prefilter of the ANN family:
    per-pair cost drops DIM/PCA_K (16× here) while the exact rerank keeps
    returned cosines true.

    Rows-only registered (eigenvectors are float linear algebra); recall
    vs q_ann_topk is measured on the clustered fixture in
    tests/test_joins_ivf.py alongside LSH/IVF/PQ.

    Scale: the projection is a narrow fold; the prefilter ranking rewrites
    to map-side WindowGroupLimit (plan-gated), so only PCA_CANDIDATES rows
    per query per input partition cross the exchange; composition with IVF
    cell pruning (cut the pair COUNT, then cut the per-pair COST) is the
    production layout.
    """
    _, comps = pca_projection(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if not comps:  # empty corpus: empty result, family schema
        return emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.lit(None).cast("double").alias("cos_sim"),
            F.lit(None).cast("int").alias("rank"),
        )
    z = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.lit(comp).cast("array<double>"),
                    lambda x, w: x.cast("double") * w,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for comp in comps
        ]
    )
    reduced = emb.select("vec_id", "embedding", z.alias("z"))
    q = reduced.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("z").alias("qz"),
    )
    zcos = cosine(F.col("qz"), F.col("z"))
    pre = (
        reduced.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qe", "vec_id", "embedding", zcos.alias("zc"))
    )
    wpre = Window.partitionBy("query_id").orderBy(F.desc("zc"), F.asc("vec_id"))
    cands = pre.withColumn("prank", F.row_number().over(wpre)).filter(
        F.col("prank") <= PCA_CANDIDATES
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qe"), F.col("embedding")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOP_K
    )


# --- Filtered vector search (metadata predicate + ANN) ---------------------------
# The serving-stack staple: top-k nearest neighbors AMONG the vectors whose
# row-aligned document passes a metadata predicate (here lang = 'en' — the
# testdata contract keys embeddings.vec_id to documents.doc_id). The
# predicate applies BEFORE scoring (pre-filter), never after: a post-filter
# of an unfiltered top-k under-fills k whenever the filter is selective —
# the classic filtered-ANN correctness trap this operator's oracle pins.

ANN_FILTER_LANG = "en"


@register(
    "q_ann_filtered",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    corpus AS (
        SELECT e.vec_id, e.embedding
        FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        WHERE d.lang = '{ANN_FILTER_LANG}'
    ),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {_duck_cosine("q.qe", "e.embedding")} AS cos_sim
        FROM q, corpus e
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
        SELECT query_id, neighbor_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        FROM scored
    ) AS ranked
    WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "ann", "filtered", "serving"),
)
def q_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered cosine top-k: the q_ann_topk baseline restricted to
    vectors whose document passes the metadata predicate, applied as a
    PRE-FILTER equi-join before any scoring (see section comment). Exact
    and fully oracle-checked — the baseline the probed variants would be
    recall-measured against.

    Scale: the predicate reaches the documents scan as a pushed filter
    (plan-gated), the allow-join is a key equi-join (co-partitionable with
    a doc_id-bucketed lake layout), and scoring streams the SURVIVING
    fraction once against the broadcast queries — cost scales with the
    selectivity, not the corpus. For a probed index the same pre-filter
    composes per-cell (filter the posting lists, then probe)."""
    allowed = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == ANN_FILTER_LANG)
        .select(F.col("doc_id").alias("vec_id"))
    )
    return _exact_filtered_topk(spark, sf_dir, allowed)


def _exact_filtered_topk(
    spark: SparkSession, sf_dir: str, allowed: DataFrame
) -> DataFrame:
    """Exact filtered cosine top-k over an arbitrary allow-list — the
    ground-truth side every probed filtered variant is recall-measured
    against (q_ann_filtered is its lang='en' registered instance)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", norm(F.col("embedding"))
    )
    corpus = emb.join(allowed.select("vec_id"), "vec_id")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                dot(F.col("qe"), F.col("embedding"))
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.select(
        "query_id", "neighbor_id", "cos_sim", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= TOP_K)


# --- Filtered-search recall audit ------------------------------------------------
# Three predicate tiers spanning ~40x in selectivity on the documents
# metadata — broad enough to behave like the unfiltered path, selective
# enough to trigger the candidate-pool collapse a fixed nprobe suffers.
FILTERED_AUDIT_TIERS: tuple[tuple[str, object], ...] = (
    ("lang_en", lambda: F.col("lang") == ANN_FILTER_LANG),  # ~0.4
    ("source_src1", lambda: F.col("source") == "src1"),  # ~0.05
    ("doc_id_mod_101", lambda: F.col("doc_id") % 101 == 0),  # ~0.01
)


def filtered_ann_recall_audit(spark: SparkSession, sf_dir: str) -> list[dict]:
    """Recall@TOP_K of the PRODUCTION filtered path (pre-filter + adaptive
    probe + ADC + exact rerank, exactly q_ann_ivf_pq_filtered's plan)
    against the exact filtered baseline, at each FILTERED_AUDIT_TIERS
    predicate — the monitor for filtered ANN's known failure mode (recall
    collapse under selective predicates), closing the r11 gap where only
    the UNFILTERED probe path was audited.

    One dict per tier: (filter, survivor_frac, nprobe, n_queries,
    mean_recall, min_recall). Driver-side assembly is 3 aggregate rows;
    the per-tier work is distributed (one probed index read + one
    allowed-fraction exact scan each — the exact side is the honest price
    of ground truth, bounded by selectivity x panel size)."""
    docs = load_table(spark, sf_dir, "documents")
    total = docs.count()
    cents = train_ivf_quantizer(spark, sf_dir)
    out: list[dict] = []
    for label, pred in FILTERED_AUDIT_TIERS:
        allowed = docs.filter(pred()).select(F.col("doc_id").alias("vec_id"))
        frac = allowed.count() / max(total, 1)
        approx = _ivf_pq_search(
            spark, sf_dir, allow=allowed, survivor_frac=frac
        ).select("query_id", "neighbor_id")
        exact = _exact_filtered_topk(spark, sf_dir, allowed).select(
            "query_id", "neighbor_id"
        )
        truth = exact.groupBy("query_id").agg(F.count("*").alias("n_true"))
        hits = (
            approx.join(exact, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count("*").alias("n_hits"))
        )
        per_q = truth.join(hits, "query_id", "left").select(
            (
                F.coalesce("n_hits", F.lit(0))
                / F.greatest("n_true", F.lit(1))
            ).alias("recall")
        )
        agg = per_q.agg(
            F.count("*").alias("n"),
            F.avg("recall").alias("mean_r"),
            F.min("recall").alias("min_r"),
        ).collect()[0]
        out.append(
            {
                "filter": label,
                "survivor_frac": round(frac, 4),
                "nprobe": adaptive_nprobe(len(cents), frac),
                "n_queries": int(agg.n),
                "mean_recall": float(agg.mean_r) if agg.mean_r is not None else 1.0,
                "min_recall": float(agg.min_r) if agg.min_r is not None else 1.0,
            }
        )
    return out


@register(
    "q_ann_filtered_recall_audit",
    tags=("similarity", "ann", "filtered", "audit", "serving"),
)
def q_ann_filtered_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered filtered-search freshness monitor: one row per
    (corpus, selectivity tier) with the probed path's recall against the
    exact filtered baseline and the adaptive probe budget used — run on
    the shipped isotropic corpus AND the clustered twin
    (clustered_corpus_dir; floors for the clustered rows pinned in
    tests/test_joins_ivf.py — the r12 're-measure on a clustered corpus'
    item). Rows-only driver check (quantizer artifacts are operator
    identity, like q_index_recall_audit)."""
    data = []
    for corpus, d in (
        ("shipped", sf_dir),
        ("clustered", clustered_corpus_dir(spark, sf_dir)),
    ):
        for r in filtered_ann_recall_audit(spark, d):
            data.append(
                (
                    corpus, r["filter"], r["survivor_frac"], r["nprobe"],
                    r["n_queries"], r["mean_recall"], r["min_recall"],
                )
            )
    return spark.createDataFrame(
        data,
        "corpus string, filter string, survivor_frac double, nprobe bigint, "
        "n_queries bigint, mean_recall double, min_recall double",
    )
