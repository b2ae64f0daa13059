"""Graph operators over near-dup pairs — connected components for
duplicate-cluster assignment (north-star training-data pipeline surface).

A dedup pipeline that stops at PAIRS under-removes: if A~B and B~C, the
cluster {A,B,C} must keep one representative, which requires the transitive
closure. The reference's engine (DuckDB) expresses this with WITH RECURSIVE;
Spark has no recursive CTE, so ``connected_components`` runs one distributed
iterative algorithm instead — the honest 100 TB shape: min-label
propagation with Shiloach–Vishkin hooking and shortcutting, which converges
in O(log n) rounds on long chains and in 1-3 rounds on near-dup blobs.
Every components query in this module runs it.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from .dedup import NGRAM_PAIRS_CTES, q_dedup_ngram_jaccard
from .similarity import BLOCKED_COSINE_PAIRS_CTES

# Serializes the loop-scoped conf override below across threads: the
# save/restore pair mutates session-global SQL confs, and two overlapping
# loops could otherwise race the restore and leave the session non-adaptive
# (the ADVICE r14 stream_ops concern, fixed here the lock way).
_LOOP_CONF_LOCK = threading.RLock()


@contextmanager
def _static_loop_plans(spark: SparkSession, width: int):
    """Run an iterative loop's per-round actions with adaptive execution OFF
    and a FIXED, data-derived shuffle width (r15, guide §1.2 per-round fixed
    costs).

    Every round of an iterative graph algorithm is a fixed-shape two-shuffle
    plan over operands whose sizes the loop already knows (the cached edge
    list's materialized width; vertex-sized labels). AQE re-derives that
    knowledge per round at the cost of one scheduler wave PER EXCHANGE per
    round — measured 19 -> 6 jobs / −24% wall on q_dedup_components and
    23 -> 8 / −20% on q_embedding_dedup_components at sf0.1 — and its
    runtime re-planning has nothing left to decide: the edge side of the
    round join is a persisted, pre-partitioned cache (no exchange to
    coalesce), and the label shuffle's width is set here to the edge
    cache's own AQE-final width — data-derived at any scale, never a local
    core-count constant. Restores both confs in a ``finally``; the lock
    keeps concurrent loops from interleaving save/restore."""
    conf = spark.conf
    with _LOOP_CONF_LOCK:
        old_aqe = conf.get("spark.sql.adaptive.enabled")
        old_parts = conf.get("spark.sql.shuffle.partitions")
        try:
            conf.set("spark.sql.adaptive.enabled", "false")
            conf.set("spark.sql.shuffle.partitions", str(max(1, width)))
            yield
        finally:
            conf.set("spark.sql.adaptive.enabled", old_aqe)
            conf.set("spark.sql.shuffle.partitions", old_parts)


def connected_components(
    edges: DataFrame, vertex_col: str = "id", max_iter: int = 50
) -> DataFrame:
    """Connected components of an undirected edge list (d1, d2) →
    (id, component) where component = the smallest vertex id reachable.
    Every vertex named by an edge is labeled, including a vertex whose only
    edge is a self-loop (it is its own component, as in the recursive-CTE
    oracle).

    Each round every vertex v takes the minimum over three candidate legs,
    all computed from the previous round's labels L:
    - propagation: m(v) = min(L(v), L(u) for every neighbor u);
    - hook: the vertex L(v) takes m(v) — a label takes the minimum its
      members see;
    - shortcut: L(L(v)) — pointer jumping.
    This is Shiloach–Vishkin-style hooking and shortcutting. Every candidate
    is a vertex of v's component, so labels only decrease, and a chain
    converges in O(log n) rounds instead of diameter rounds (measured: 10
    rounds on a 400-link path and 13 with shuffled ids, where propagation
    alone needs about 400). Both extra legs are needed: shortcutting alone
    does not finish the shuffled 400-link path in 20 rounds. Near-dup
    clusters are dense low-diameter blobs and converge in 1-3 rounds.

    The driver-side loop holds only a convergence COUNTER (one long per
    round), never data; labels stay distributed across rounds.
    Deterministic on any partitioning: min() is order-independent.

    Lineage discipline: every per-round DataFrame is localCheckpoint'ed.
    Without truncation, round N's logical plan embeds the full upstream
    edge pipeline plus all N-1 prior rounds, and Catalyst re-analysis cost
    grows per round (measured: rounds of 1.0→2.6 s on a 730-row cached
    edge list, pure planning overhead) — the classic iterative-algorithm
    trap. Checkpointing makes each round's plan a leaf; on a real cluster
    swap localCheckpoint for reliable `checkpoint` with an HDFS dir if
    executor loss during the (short) loop must be survivable.

    Checkpoints are LAZY (r14, guide §1/§2 job-count diet): the per-round
    convergence collect is the action that materializes the checkpoint, so
    no round pays a separate checkpoint job. SparkContext.runJob completes
    rdd.doCheckpoint() after the collect, so round N+1 still plans against
    a truncated leaf. A round is still 2-4 Spark jobs, not one: the loop
    plans non-adaptively, so each join against the small labels is planned
    as a broadcast, and each broadcast is a job of its own.
    """
    # Symmetrize in ONE scan: explode each edge into both directions. The
    # unionAll-of-two-selects form evaluates the (possibly expensive)
    # upstream edge pipeline twice before materializing — at sf0.1 that was
    # ~1.5 s of recomputed n-gram joins per call.
    #
    # sym is PARTITIONED BY src AND SORTED once, then persisted (r14 round
    # 2 of the loop diet, guide §2.1/§2.4): every propagation round joins
    # sym on src, and a checkpointed sym re-shuffled + re-sorted the whole
    # edge list EVERY round (localCheckpoint drops outputPartitioning —
    # its lazy plan is an unfinalized AdaptiveSparkPlan, measured
    # empirically). A persisted DataFrame's InMemoryTableScan preserves
    # both partitioning and ordering, so each round's sort-merge join
    # consumes the cache with NO exchange and NO sort on the edge side —
    # at scale the edges are the 100 TB-proportional operand and labels
    # the vertex-sized one, so this converts diameter× edge shuffles into
    # one. The localCheckpoint UNDER the cache keeps the per-round logical
    # plan a leaf (the iterative re-analysis trap); the partition count is
    # taken from the materialized checkpoint's AQE-final width — the edge
    # pipeline's own data-sized coalescing, never a local-core constant
    # (a bare repartition("src") lands on the parallelismFirst floor: 32
    # near-empty partitions locally, measured +0.5 s of task waves).
    # This is GraphX's static edge partitioning: a hot vertex
    # is pinned to one partition for the loop — acceptable because
    # upstream pair generation caps per-doc degree (banded LSH bucket
    # caps / blocked candidates), so no mega-hub exists by construction.
    # MEMORY_AND_DISK (persist default) spills rather than OOMs.
    sym_ckpt = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("d1").alias("src"), F.col("d2").alias("dst")),
                    F.struct(F.col("d2").alias("src"), F.col("d1").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint(eager=False)
    )
    # Fused init + first propagation round: before any propagation every
    # neighbor's label IS its id, so round-1 labels = min(v, min neighbors)
    # — one aggregation over sym, no join. Every vertex appears as a dst
    # (sym is symmetric), so this also enumerates the vertex set.
    labels = (
        sym_ckpt.groupBy(F.col("dst").alias(vertex_col))
        .agg(F.least(F.col(vertex_col), F.min("src")).alias("component"))
        .localCheckpoint(eager=False)
    )
    # Convergence = unchanged exact label sum: labels only ever decrease,
    # so sum(new) == sum(old) ⇔ no label moved. DECIMAL(38) keeps the sum
    # exact at any vertex count; the collect below is also what
    # materializes the lazy checkpoint (sym ckpt + labels in one chain).
    label_sum = F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
    label_type = labels.schema["component"].dataType
    prev_sum = labels.agg(label_sum).collect()[0].s
    # sym_ckpt is materialized now, so its AQE-final partition count is
    # known for free — the DATA-derived shuffle width for the loop (the
    # edge pipeline's own coalesced sizing; never a local-core constant).
    sym_parts = max(1, sym_ckpt.rdd.getNumPartitions())
    # Duplicate edges are deduped ONCE at cache fill (r15): multiset feeds
    # (cosine_neardup_edges emits a pair once per agreeing chunk) would
    # otherwise pay their multiplicity in EVERY round's join input. The
    # dropDuplicates rides the repartition("src") — hash partitioning by a
    # subset of the grouping key satisfies the aggregation's distribution,
    # so no extra exchange — and min-label propagation is multiset-tolerant,
    # so the result is unchanged by construction.
    # It is planned non-adaptively: an adaptive cache plan hides its
    # partitioning until filled, and round 1 re-shuffled it (plan-gated).
    #
    # Per-round plans are fixed-shape (cached pre-partitioned edges ⋈
    # labels → union → two groupBy(min), plus the shortcut's labels
    # self-join) with known operand sizes — run them non-adaptively at the
    # edge cache's own data-derived width: the collect plus one job per
    # labels broadcast, instead of one per exchange per round
    # (_static_loop_plans docstring has the measurements).
    spark = sym_ckpt.sparkSession
    with _static_loop_plans(spark, sym_parts):
        sym = (
            sym_ckpt.repartition(sym_parts, "src")
            .dropDuplicates(["src", "dst"])
            .sortWithinPartitions("src")
            .persist()
        )
        try:
            new_sum = prev_sum
            converged = False
            for _ in range(max_iter):
                # Propagation = min(own label, neighbors' labels), expressed
                # as union + one aggregation instead of join + groupBy +
                # LEFT join back (r14): each vertex's own (v, label) row
                # rides the union, so vertices with no lower neighbor keep
                # their label without the third exchange the join-back form
                # paid. The own row also carries L(v) as `own`, so the same
                # aggregation yields the hook's target: (L(v), m(v)) is a
                # vertex-sized row, where hooking per edge as
                # (L(dst), L(src)) would shuffle the edge list by dst every
                # round to look up L(dst).
                contrib = sym.join(labels, sym.src == F.col(vertex_col)).select(
                    F.col("dst").alias(vertex_col),
                    F.col("component"),
                    F.lit(None).cast(label_type).alias("own"),
                )
                seen = (
                    labels.withColumn("own", F.col("component"))
                    .unionByName(contrib)
                    .groupBy(vertex_col)
                    .agg(F.min("component").alias("m"), F.max("own").alias("own"))
                )
                propagate_and_hook = seen.select(
                    F.explode(
                        F.array(
                            F.struct(F.col(vertex_col), F.col("m").alias("component")),
                            F.struct(
                                F.col("own").alias(vertex_col),
                                F.col("m").alias("component"),
                            ),
                        )
                    ).alias("c")
                ).select("c.*")
                parent = labels.select(
                    F.col(vertex_col).alias("parent"),
                    F.col("component").alias("grandparent"),
                )
                shortcut = labels.join(
                    parent, F.col("component") == F.col("parent")
                ).select(vertex_col, F.col("grandparent").alias("component"))
                # The coalesce (same width — a narrow pass-through) erases
                # the checkpoint's recorded output partitioning. Without it
                # a NON-adaptive materialization records the final
                # HashPartitioning(vertex) into the checkpoint's LogicalRDD,
                # and a LogicalRDD carrying expression-bearing partitioning
                # breaks cache-plan matching after the analyzer
                # de-duplicates multi-consumed lineage: every cached frame
                # BUILT ON these labels (release's kept set) silently
                # stopped substituting and re-executed its full lineage per
                # consumer — measured 5 -> 20 warm jobs / ~1 s -> ~2.5 s on
                # q_corpus_release before this line. (Adaptive
                # materializations recorded UnknownPartitioning, which is
                # why the r14 loop never hit this.)
                new_labels = (
                    propagate_and_hook.unionByName(shortcut)
                    .groupBy(vertex_col)
                    .agg(F.min("component").alias("component"))
                    .coalesce(sym_parts)
                    .localCheckpoint(eager=False)
                )
                new_sum = new_labels.agg(label_sum).collect()[0].s
                labels = new_labels
                if new_sum == prev_sum:
                    converged = True
                    break
                prev_sum = new_sum
        finally:
            # The returned labels are already materialized (checkpointed) by
            # their convergence collect — the edge cache is loop-scoped.
            sym.unpersist()
    if not converged:
        # Labels were still moving when the iteration budget ran out — the
        # result would be silently wrong for the unfinished components (the
        # exact-closure oracles would flag it as a graded mismatch with no
        # local signal). Fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            f"rounds (label sum still decreasing: {prev_sum} -> {new_sum}); "
            "hooking and shortcutting need O(log n) rounds for n vertices in "
            "a component — raise max_iter."
        )
    return labels


# The exact closure as a DuckDB recursive CTE: the oracle of both names of
# the n-gram duplicate clusters.
_NGRAM_COMPONENTS_ORACLE = f"""
    WITH RECURSIVE {NGRAM_PAIRS_CTES},
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
    )
    SELECT doc_id, component_id,
           COUNT(*) OVER (PARTITION BY component_id) AS component_size
    FROM comp
    """


@register(
    "q_dedup_components",
    oracle=_NGRAM_COMPONENTS_ORACLE,
    tags=("dedup", "graph", "components"),
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the verified
    n-gram-Jaccard near-dup pairs. Output: every doc that appears in at
    least one near-dup pair, its cluster id (smallest doc_id in the
    cluster), and the cluster size — the table a corpus pipeline joins
    against to keep one representative per cluster.

    The oracle states the same closure as a DuckDB recursive CTE (the
    reference-engine idiom); Spark-side it runs as distributed min-label
    propagation (see connected_components) — an iterative algorithm, the
    documented exception to everything-in-one-plan. At sf0.1 the iterative
    form runs ~5x faster than the reference engine's recursive CTE (4.4s vs
    23.9s measured, DuckDB 1.0), and unlike the closure it never
    materializes all reachable pairs — the gap widens with cluster size.
    """
    comp = dedup_component_labels(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("component_size"))
    return comp.join(sizes, "component_id").select(
        "doc_id", "component_id", "component_size"
    )


def dedup_component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component_id) — q_dedup_components WITHOUT the
    component_size aggregation+join. Consumers that only need the cluster
    label (q_drop_reasons, the release keep-set) used to inherit the sizes
    SortMergeJoin as dead weight in their plans — an inner join Catalyst
    cannot prune even though it never changes the row set (r14, guide
    §2.4: q_drop_reasons carried FOUR hashpartitioning(component)
    exchanges for a column it never outputs, because its drops subtree is
    planned twice)."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("d1", "d2")
    comp = connected_components(pairs, vertex_col="doc_id")
    return comp.select("doc_id", F.col("component").alias("component_id"))


@register(
    "q_embedding_dedup_components",
    oracle=f"""
    WITH RECURSIVE {BLOCKED_COSINE_PAIRS_CTES},
    sym AS (
        SELECT d1 AS src, d2 AS dst FROM cos_pairs
        UNION
        SELECT d2, d1 FROM cos_pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ),
    comp AS (
        SELECT src AS vec_id, LEAST(src, MIN(dst)) AS component_id
        FROM reach GROUP BY src
    )
    SELECT vec_id, component_id,
           COUNT(*) OVER (PARTITION BY component_id) AS component_size
    FROM comp
    """,
    tags=("dedup", "graph", "components", "similarity"),
)
def q_embedding_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cluster dedup: connected components over the blocked
    cosine near-dup pairs — the semantic-dedup pipeline's cluster
    assignment (SemDeDup-style: keep one representative per embedding
    cluster instead of per pairwise hit). Composes two independently
    verified operators: q_embedding_cosine_dedup's candidate-blocked pairs
    feed the same min-label propagation q_dedup_components uses for text.

    Oracle: the identical closure as a DuckDB recursive CTE over the
    identically blocked pair set — exact value parity, like the text twin.

    Scale: pair generation is the blocked equi-join (no quadratic stage);
    propagation is one shuffle per round with only a convergence scalar on
    the driver. The 100 TB semantic-dedup recipe is exactly this plan with
    the threshold raised to the production near-dup band.
    """
    from .similarity import cosine_neardup_edges

    # Multiset edge feed: same verified pair set, WITHOUT the wide
    # dropDuplicates exchange (cosine_neardup_edges) — min-label closure is
    # duplicate-tolerant, so the k-chunk-agreement duplicates cost k extra
    # id-pair rows instead of shuffling two embeddings per candidate row.
    pairs = cosine_neardup_edges(spark, sf_dir)
    comp = connected_components(pairs, vertex_col="vec_id")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("component_size"))
    return (
        comp.join(sizes, "component")
        .select("vec_id", F.col("component").alias("component_id"), "component_size")
    )


@register(
    "q_canonical_docs",
    oracle=f"""
    WITH RECURSIVE {NGRAM_PAIRS_CTES},
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
    quality AS (
        SELECT doc_id,
               least(len(string_split(text, ' ')) / 60.0, 1.0)
                 * least(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                           / len(string_split(text, ' ')), 1.0) AS quality
        FROM documents
    )
    SELECT component_id, doc_id AS canonical_doc_id, quality, component_size
    FROM (
        SELECT c.component_id, c.doc_id, q.quality,
               COUNT(*) OVER (PARTITION BY c.component_id) AS component_size,
               ROW_NUMBER() OVER (PARTITION BY c.component_id
                                  ORDER BY q.quality DESC, c.doc_id) AS rn
        FROM comp c JOIN quality q USING (doc_id)
    ) ranked
    WHERE rn = 1
    """,
    tags=("dedup", "graph", "canonical"),
)
def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection — the step AFTER clustering that
    every dedup pipeline actually ships: per duplicate cluster, keep the
    highest-quality member (quality formula = q_quality_score's
    length-sweet-spot x lexical-diversity, computed here as JVM column
    expressions; doc_id tiebreak). Closes the loop
    near-dup pairs -> components -> one kept doc per cluster.

    Scale: components is the checkpointed label propagation; the quality
    leg is map-only over the (small) set of clustered docs after a
    broadcast-able join; the argmax is one window over cluster-partitioned
    rows. Nothing touches unclustered docs — they are kept implicitly.
    """
    from ..sources.readers import load_table

    comp = q_dedup_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    quality = (
        F.least(n / F.lit(60.0), F.lit(1.0))
        * F.least(F.size(F.array_distinct(toks)).cast("double") / n, F.lit(1.0))
    )
    q = docs.select("doc_id", quality.alias("quality"))
    joined = comp.join(q, "doc_id")
    w = Window.partitionBy("component_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        joined.select(
            "component_id",
            F.col("doc_id").alias("canonical_doc_id"),
            "quality",
            "component_size",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "q_dedup_components_star",
    oracle=_NGRAM_COMPONENTS_ORACLE,
    tags=("dedup", "graph", "components", "star"),
)
def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment under its second registered name: the
    q_dedup_components path and the same recursive-CTE oracle. The
    large-star/small-star contraction this name used to run is gone:
    hooking and shortcutting give connected_components the same O(log n)
    bound on chains in fewer Spark jobs (ROADMAP D4 has the counts)."""
    return q_dedup_components(spark, sf_dir)
