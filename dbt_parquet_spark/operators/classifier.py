"""Model-based quality scoring: hashed bag-of-ngrams logistic regression,
trained distributed.

The heuristic quality stack (q_quality_rules / q_quality_score /
q_quality_prune, operators/corpus.py) is hand-weighted; real pipelines score
with a TRAINED classifier (fastText-style: hash word n-grams into a fixed
bucket space, learn a linear model — Joulin et al. 2016, public). This
module implements that shape with the q_bpe_learn discipline: the driver
holds only the KB-scale weight vector; every per-epoch job is either a
narrow Arrow-batched scoring pass or a groupBy(bucket) gradient sum whose
map-side partial aggregation compresses each task's output to <= D+1 rows.

Determinism (the pinned-parity story, tests/test_classifier.py):

- features: first TOKEN_CAP whitespace tokens + their bigrams, hashed via
  md5-prefix mod D (the engine's standard cross-engine hash), sorted, plus
  a constant intercept slot D — built ONCE in the JVM and memoized;
- per-doc logit z = sum(w[bucket]) over the SORTED bucket array (numpy
  gather + reduce, same order everywhere), p = sigmoid(z) quantized to
  integer ppm;
- the gradient is summed over INTEGER ppm errors (exact DECIMAL
  accumulation — order-free), so distributed summation order cannot
  perturb training; all float arithmetic happens on the driver or
  per-doc in a fixed order.

A pure-Python reference (same arrays, same numpy ops, same driver updates)
therefore reproduces the weights and every score BIT-IDENTICALLY.

Scale: feature build is one scan + narrow array expressions (no shuffle);
each epoch is one UDF pass + one bucket-keyed shuffle of <= D+1 rows per
task; weights (D+1 doubles, ~8 KB) ride in the UDF closure. Nothing
corpus-sized ever reaches the driver. Gradient accumulators use
DECIMAL(38,0): err_ppm is bounded by 1e6 and per-doc multiplicity by
2*TOKEN_CAP, so even 1e12 docs stay far inside 38 digits.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .. import memo
from ..registry import register
from ..sources.readers import load_table
from .corpus import PRUNE_PCT, quality_ppm_expr

D = 1024  # hashed feature buckets; slot D is the intercept
TOKEN_CAP = 200  # per-doc token bound -> bounded per-doc work and gradients
EPOCHS = 16
LR = 0.3  # AdaGrad base step (per-bucket adaptive scaling, Duchi 2011)
LABEL_PPM = 350000  # weak supervision: heuristic-quality median at test SFs


def bkts_expr():
    """The feature definition as a pure column expression over ``text`` —
    sorted hashed-ngram bucket array (duplicates = multiplicity) with the
    intercept slot appended. Shared by the batch feature scaffold and the
    streaming scorer (stream_ops.streaming_quality_ingest): the SAME
    expression guarantees stream scores are bit-identical to batch."""
    ftoks = F.split("text", " ")
    toks = F.slice(ftoks, 1, TOKEN_CAP)
    # zip_with pads the shorter side with null -> trailing null bigram,
    # filtered out below.
    bigrams = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, TOKEN_CAP),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        lambda g: F.instr(g, " ") > 0,
    )
    # Handcrafted doc-stat features hashed alongside the n-grams (the
    # standard quality-classifier recipe: stats + ngrams in one bucket
    # space): length decile (capped) and lexical-diversity decile, over the
    # FULL token list (the stats the heuristic label derives from).
    len_feat = F.concat(
        F.lit("__len_"),
        F.least(F.floor(F.size(ftoks) / 10), F.lit(20)).cast("long").cast("string"),
    )
    div_feat = F.concat(
        F.lit("__div_"),
        (F.lit(10.0) * F.size(F.array_distinct(ftoks)) / F.size(ftoks))
        .cast("long")
        .cast("string"),
    )
    grams = F.concat(toks, bigrams, F.array(len_feat, div_feat))
    bkts = F.transform(
        grams,
        lambda g: F.pmod(
            F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"), F.lit(D)
        ),
    )
    return F.concat(F.sort_array(bkts), F.array(F.lit(D)))


def doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, y, bkts): weak-supervision label + the bkts_expr feature
    array. One scan, narrow expressions only — no shuffle. Memoized: the
    feature build is shared by training and scoring."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return docs.select(
            "doc_id",
            (quality_ppm_expr() >= LABEL_PPM).cast("long").alias("y"),
            bkts_expr().alias("bkts"),
        ).persist()

    return memo.scaffold(spark, "classifier.features", sf_dir, build)


def _score_udf(w: np.ndarray):
    """Arrow-batched scorer: p_ppm = rint(1e6 * sigmoid(sum w[bkts]))."""
    wl = np.asarray(w, dtype=np.float64).copy()

    @F.pandas_udf(LongType())
    def p_ppm(bkts: pd.Series) -> pd.Series:
        out = np.empty(len(bkts), dtype=np.int64)
        with np.errstate(over="ignore"):
            for i, arr in enumerate(bkts):
                z = wl[np.asarray(arr, dtype=np.int64)].sum()
                out[i] = np.int64(np.rint(1e6 / (1.0 + np.exp(-z))))
        return pd.Series(out)

    return p_ppm


def train_quality_classifier(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """Distributed batch-gradient logistic regression. Per epoch:

    1. score every doc with the current weights (narrow pandas-UDF pass —
       weights travel in the closure, ~8 KB);
    2. gradient g[b] = sum over docs of (p_ppm - y*1e6) * multiplicity(b)
       via explode + groupBy(bucket) with exact DECIMAL sums — partial
       aggregation means each task ships <= D+1 rows;
    3. driver applies an AdaGrad step (per-bucket adaptive scaling —
       Duchi et al. 2011 — which equalizes the step between rare
       handcrafted-stat buckets and dense n-gram buckets): G += gr²,
       w -= LR * gr / sqrt(G + 1e-8). All float math on the driver.

    The driver never holds anything corpus-sized: n is a count, the
    gradient is D+1 rows, the model is the weight vector + accumulator.
    Memoized: the trained weights are reused by every scoring call.
    """
    return memo.scaffold(spark, "classifier.weights", sf_dir,
                         lambda: _train(spark, sf_dir))


def _train(spark: SparkSession, sf_dir: str) -> np.ndarray:
    feat = doc_features(spark, sf_dir)
    n = feat.count()
    w = np.zeros(D + 1, dtype=np.float64)
    G = np.zeros(D + 1, dtype=np.float64)
    for _ in range(EPOCHS):
        scored = feat.withColumn("p_ppm", _score_udf(w)(F.col("bkts")))
        rows = (
            scored.select(
                F.explode("bkts").alias("b"),
                (F.col("p_ppm") - F.col("y") * 1000000).alias("e"),
            )
            .groupBy("b")
            .agg(F.sum(F.col("e").cast("decimal(38,0)")).alias("g"))
            .collect()
        )
        g = np.zeros(D + 1, dtype=np.float64)
        for r in rows:
            g[r.b] = float(r.g)
        gr = (g / 1e6) / n
        G = G + gr * gr
        w = w - LR * gr / np.sqrt(G + 1e-8)
    return w


@register("q_quality_classifier", tags=("corpus", "quality", "classifier", "ml"))
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc score from the trained classifier next to its weak label:
    (doc_id, y, score_ppm, pred). Driver check is rows-only (iterative
    training is not SQL-expressible); tests/test_classifier.py pins every
    score bit-identically against the pure-Python reference and asserts
    the model actually fits its supervision (accuracy well above chance).

    Scale: training per the module docstring; final scoring is one narrow
    UDF pass — embarrassingly parallel."""
    w = train_quality_classifier(spark, sf_dir)
    feat = doc_features(spark, sf_dir)
    score = _score_udf(w)(F.col("bkts"))
    return feat.select(
        "doc_id",
        "y",
        score.alias("score_ppm"),
    ).withColumn("pred", (F.col("score_ppm") >= 500000).cast("long"))


@register(
    "q_quality_classifier_prune",
    tags=("corpus", "quality", "classifier", "prune", "percentile"),
)
def q_quality_classifier_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed variant: classifier scores feed q_quality_prune's
    per-source percentile calibration — drop each source's bottom quartile
    BY MODEL SCORE (not heuristic), report kept/dropped and surviving char
    volume. This is the production pruning loop: train -> score -> prune
    per domain so low-scoring domains are trimmed, not emptied.

    Scale: scoring is narrow; thresholds are one groupBy(source) (rows =
    sources) broadcast back; final counts one more groupBy(source). Exact
    integer-ppm percentile per the q_quality_prune exactness note."""
    w = train_quality_classifier(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    scored = (
        doc_features(spark, sf_dir)
        .select("doc_id", _score_udf(w)(F.col("bkts")).alias("score_ppm"))
        .join(docs, "doc_id")
    )
    thresholds = scored.groupBy("source").agg(
        F.expr(f"percentile(score_ppm, {PRUNE_PCT})").alias("s_threshold")
    )
    keep = F.col("score_ppm") >= F.col("s_threshold")
    return (
        scored.join(F.broadcast(thresholds), "source")
        .groupBy("source", "s_threshold")
        .agg(
            F.count(F.when(keep, 1)).alias("n_kept"),
            F.count(F.when(~keep, 1)).alias("n_dropped"),
            F.sum(F.when(keep, F.col("n_chars"))).cast("long").alias("kept_chars"),
        )
    )


# --- Pure-Python reference (tests only) --------------------------------------
def py_doc_features(text: str) -> list[int]:
    """The exact feature definition, in Python: capped tokens + bigrams +
    the two doc-stat features, md5-prefix buckets, sorted, intercept
    appended."""
    import hashlib

    ftoks = text.split(" ")
    toks = ftoks[:TOKEN_CAP]
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    grams.append(f"__len_{min(len(ftoks) // 10, 20)}")
    grams.append(f"__div_{int(10.0 * len(set(ftoks)) / len(ftoks))}")
    bkts = sorted(
        int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % D for g in grams
    )
    return bkts + [D]


def py_label(text: str) -> int:
    toks = text.split(" ")
    q = math.floor(
        1000000.0
        * min(len(toks) / 60.0, 1.0)
        * min(len(set(toks)) / len(toks), 1.0)
    )
    return 1 if q >= LABEL_PPM else 0


def py_train_and_score(texts: list[str]) -> tuple[np.ndarray, list[int]]:
    """Reference trainer: same arrays, same numpy ops, same update — must
    reproduce the distributed weights and scores bit-identically."""
    feats = [np.asarray(py_doc_features(t), dtype=np.int64) for t in texts]
    ys = np.asarray([py_label(t) for t in texts], dtype=np.int64)
    n = len(texts)
    w = np.zeros(D + 1, dtype=np.float64)

    def score(arr: np.ndarray) -> int:
        with np.errstate(over="ignore"):
            z = w[arr].sum()
            return int(np.int64(np.rint(1e6 / (1.0 + np.exp(-z)))))

    G = np.zeros(D + 1, dtype=np.float64)
    for _ in range(EPOCHS):
        g_int = np.zeros(D + 1, dtype=object)  # exact integer accumulation
        for arr, y in zip(feats, ys):
            e = score(arr) - int(y) * 1000000
            for b in arr:
                g_int[b] += e
        g = np.asarray([float(v) for v in g_int], dtype=np.float64)
        gr = (g / 1e6) / n
        G = G + gr * gr
        w = w - LR * gr / np.sqrt(G + 1e-8)
    return w, [score(arr) for arr in feats]


# --- Distributed model evaluation -------------------------------------------
# AUC and calibration computed over the SCORE HISTOGRAM, never per-row on
# the driver: integer-ppm scores have <= 1,000,001 distinct values at ANY
# corpus size, so the histogram is a bounded-size aggregate (one shuffle
# with map-side partials). The rank-sum AUC (Mann-Whitney U) needs a running
# count of negatives below each score — computed hierarchically like
# corpus.hierarchical_cumsum: band = score_ppm // 10000 (101 ordered bands),
# band offsets via one window over the <=101-row band table, within-band prefix sums over a
# PARTITIONED window (<= 10,000 rows per band, bounded at any scale). All
# arithmetic stays integral until the single final division, so the result
# is exact and order-free — pinned bit-identically against the pure-Python
# reference.

from pyspark.sql import Window  # noqa: E402


@register("q_quality_classifier_auc", tags=("corpus", "quality", "classifier", "eval"))
def q_quality_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row exact AUC of the trained classifier against its weak labels:
    U = sum over positives of (#neg strictly below + 0.5 * #neg tied),
    AUC = U / (n_pos * n_neg) — computed as 2U (integral, order-free) over
    the integer-ppm score histogram, divided once at the end. Rows-only
    driver check (model scores are not SQL-expressible);
    tests/test_classifier.py pins the value against sklearn-free pure
    Python on the same scores."""
    w = train_quality_classifier(spark, sf_dir)
    scored = doc_features(spark, sf_dir).select(
        "y", _score_udf(w)(F.col("bkts")).alias("score_ppm")
    )
    hist = scored.groupBy("score_ppm").agg(
        F.sum("y").alias("npos"),
        F.sum(F.lit(1) - F.col("y")).alias("nneg"),
    )
    hist = hist.withColumn("band", (F.col("score_ppm") / 10000).cast("long"))
    band_totals = hist.groupBy("band").agg(F.sum("nneg").alias("tot"))
    from .corpus import banded_prefix_offsets

    offsets = banded_prefix_offsets(
        band_totals, [F.asc("band")], "tot", "band_offset"
    )
    win = (
        Window.partitionBy("band")
        .orderBy("score_ppm")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_score = hist.join(F.broadcast(offsets), "band").select(
        "npos",
        "nneg",
        (F.col("band_offset") + F.coalesce(F.sum("nneg").over(win), F.lit(0))).alias(
            "neg_below"
        ),
    )
    agg = per_score.agg(
        F.sum("npos").cast("long").alias("n_pos"),
        F.sum("nneg").cast("long").alias("n_neg"),
        F.sum(F.col("npos") * (2 * F.col("neg_below") + F.col("nneg")))
        .cast("long")
        .alias("u2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        (F.col("u2") / (2.0 * F.col("n_pos") * F.col("n_neg"))).alias("auc"),
    )


@register(
    "q_quality_classifier_calibration",
    tags=("corpus", "quality", "classifier", "eval"),
)
def q_quality_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table: scores bucketed into deciles (score_ppm //
    100000), per-bin doc count, positive count, mean score and observed
    positive rate — the calibration curve a pipeline owner reads before
    trusting classifier thresholds. Deterministic given the model;
    rows-only driver check with pure-Python parity in tests.

    Scale: one groupBy over 10 bins with map-side partials; nothing else.
    """
    w = train_quality_classifier(spark, sf_dir)
    scored = doc_features(spark, sf_dir).select(
        "y", _score_udf(w)(F.col("bkts")).alias("score_ppm")
    )
    return (
        scored.groupBy((F.col("score_ppm") / 100000).cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum("score_ppm").cast("long").alias("sum_score_ppm"),
        )
        .select(
            "bin",
            "n_docs",
            "n_pos",
            (F.col("sum_score_ppm") / F.col("n_docs") / 1e6).alias("mean_score"),
            (F.col("n_pos") / F.col("n_docs")).alias("pos_rate"),
        )
    )
