"""Structured Streaming operators — the incremental twins of
streaming/batch_windows.py (north-star surface; the reference has no
streaming at all, SURVEY §2B).

Pattern: ``readStream`` (file source over the same parquet layout the batch
engine uses) → event-time transformations with watermarks → sink. Each
builder returns an *unstarted* streaming DataFrame so callers choose the
sink/trigger; ``run_to_batch`` executes availableNow → an in-memory table,
which is how the tests compare streaming output against the batch twins.

Scale posture: these plans run identically on a real cluster with a Kafka
source swapped in — watermarks bound state size, windowed aggs shuffle on
(window, key) like their batch twins, and ``availableNow`` gives exactly-once
backfill over historical files.
"""

from __future__ import annotations

import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession

# Serializes the shuffle-partition cap's save/restore across threads: two
# overlapping run_to_batch calls could otherwise race the restore and leave
# the session capped (ADVICE r14).
_CAP_LOCK = threading.RLock()
from pyspark.sql import functions as F

from .. import memo
from ..functions.exact import dec
from ..sources.readers import read_parquet, table_path

WATERMARK = "2 hours"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table. Schema comes from a batch
    footer probe (streams need explicit schemas); the ns-timestamp column
    gets the same µs normalization as the batch reader."""
    path = table_path(sf_dir, "events")
    batch = read_parquet(spark, path)  # sets nanosAsLong conf + gives schema
    raw_schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        stream = spark.readStream.schema(raw_schema).parquet(path)
    else:
        # File sources must be directories: stream the parent dir filtered to
        # this one file (single-file reference layout, catalog.py).
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", os.path.basename(path))
            .parquet(os.path.dirname(path))
        )
    if dict(batch.dtypes).get("ts") == "timestamp" and dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # NTZ guard (mirrors read_parquet): withWatermark rejects TIMESTAMP_NTZ
    # event-time columns, so normalize any NTZ column to TIMESTAMP.
    for c, t in stream.dtypes:
        if t == "timestamp_ntz":
            stream = stream.withColumn(c, F.col(c).cast("timestamp"))
    return stream


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling window counts — the incremental form of
    q_window_tumbling. The watermark lets Spark finalize and evict window
    state once event time passes window_end + 2 h."""
    events = read_events_stream(spark, sf_dir)
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(dec("value")).cast("double").alias("total_value"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on event_id with watermark-bounded state —
    ``dropDuplicatesWithinWatermark``: duplicates arriving within the
    watermark horizon are suppressed, state older than the horizon is
    evicted (the unbounded-state-safe streaming dedup)."""
    events = read_events_stream(spark, sf_dir)
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(["event_id"])


def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked sliding windows (1 h length / 30 min slide) — incremental
    form of batch_windows.q_window_sliding."""
    events = read_events_stream(spark, sf_dir)
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap) with watermark — the streaming
    form of q_session_window's lag+cumsum sessionization. F.session_window
    merges adjacent windows as events arrive; state is evicted past the
    watermark."""
    events = read_events_stream(spark, sf_dir)
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: clicks joined to purchases by the same user
    within 1 hour — the attribution join, the canonical two-stream operator.

    Both sides carry watermarks and the join condition bounds event time
    (p.ts in [c.ts, c.ts + 1h]), so Spark can size and EVICT join state:
    a click older than watermark + 1h can never match a future purchase and
    is dropped. Without the time bound, stream-stream join state grows
    forever — the condition is load-bearing, not an optimization. Inner
    join results emit as soon as both sides arrive (no watermark wait), so
    an availableNow run over historical files is batch-identical.
    """
    clicks = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    c = clicks.withWatermark("ts", WATERMARK).alias("c")
    p = purchases.withWatermark("ts", WATERMARK).alias("p")
    joined = c.join(
        p,
        F.expr(
            "c.user_id = p.user_id AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR"
        ),
    )
    return joined.select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
        (F.unix_micros(F.col("p.ts")) - F.unix_micros(F.col("c.ts"))).alias(
            "micros_to_purchase"
        ),
    )


def streaming_enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the customer
    dimension (a batch DataFrame). Spark re-reads the static side per
    micro-batch, so dimension updates are picked up continuously — the
    streaming analog of a broadcast dimension join, and the standard
    enrichment stage before a streaming aggregation."""
    from pyspark.sql import functions as F

    from ..sources.readers import load_table

    events = read_events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
    )
    return events.join(customer, "user_id", "left").select(
        "event_id", "user_id", "ts", "event_type", "value", "c_mktsegment", "c_nationkey"
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table — the ingest feed for
    streaming corpus curation (no event-time column; dedup-flag plans below
    are stateless joins, so no watermark is needed)."""
    path = table_path(sf_dir, "documents")
    raw_schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        return spark.readStream.schema(raw_schema).parquet(path)
    return (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(os.path.dirname(path))
    )


def streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup INGEST: each arriving document is flagged
    against the static corpus's content-hash table (md5 → first doc_id) via
    a stream-static join — the streaming front door of the dedup pipeline:
    exact dups are flagged at ingest, the near-dup pass (incremental
    posting join, operators/dedup.q_incremental_dedup) runs per batch
    behind it.

    Scale: the static side is one aggregated hash table, re-read per
    micro-batch (picks up corpus updates continuously); the join is
    stateless (no watermark, no streaming state at all), so throughput is
    bounded only by the hash join. At warehouse scale the static side is a
    bucketed/materialized hash table, making this a co-located lookup.
    """
    from ..sources.readers import load_table

    static = (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("first_doc"))
    )
    stream = read_documents_stream(spark, sf_dir).select(
        "doc_id", F.md5("text").alias("h")
    )
    is_dup = F.col("first_doc") < F.col("doc_id")
    return stream.join(static, "h").select(
        "doc_id",
        is_dup.alias("is_dup"),
        F.when(is_dup, F.col("first_doc")).alias("dup_of"),
    )


def _idempotent_batch_append(catalog, rel, batch_df: DataFrame, batch_id: int) -> None:
    """Append one micro-batch to a catalog table such that REPLAYING the same
    batch id yields the same at-rest state — the piece that upgrades
    foreachBatch from at-least-once to exactly-once.

    foreachBatch's contract is at-least-once: a crash after the data write
    but before the checkpoint offset commit replays the batch. A blind
    ``mode("append")`` then duplicates it. Instead:

    1. write the batch to a ``.tmp_`` staging dir with mode=overwrite
       (replay rewrites the same staging dir — idempotent);
    2. delete any ``batch-{id}-*`` files a previous partial attempt left in
       the destination (attempts can differ in part count, so stale
       higher-indexed parts must go);
    3. move the staging part files in under DETERMINISTIC names
       (``batch-{id:010d}-{i:05d}.parquet``) — replay overwrites the same
       names instead of adding new ones;
    4. drop the staging dir.

    Any crash point re-runs 1-4 for the same batch id and converges to one
    copy. All IO goes through the catalog FS abstraction (``catalog.io``
    takes fs paths; Spark takes ``spark_url`` spellings), so this is correct
    for explicit ``file://`` and remote-scheme catalogs — never a
    CWD-relative ``os.makedirs`` on a URL.
    """
    io = catalog.io
    dest = catalog.fs_path(rel)
    staging = io.join(
        io.root, rel.schema, f".tmp_stream_{rel.table}_batch_{batch_id}"
    )
    batch_df.write.mode("overwrite").parquet(io.spark_url(staging))
    io.makedirs(dest)
    marker = f"batch-{batch_id:010d}-"
    for entry in io.listdir(dest):
        if entry.startswith(marker):
            io.remove_any(io.join(dest, entry))
    parts = [
        e
        for e in io.listdir(staging)
        if e.startswith("part-") and e.endswith(".parquet")
    ]
    for i, entry in enumerate(parts):
        io.rename(io.join(staging, entry), io.join(dest, f"{marker}{i:05d}.parquet"))
    io.rmtree(staging)


def stream_to_table(
    stream_df: DataFrame,
    catalog,
    rel,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming materialization: write a stream into a catalog table
    (directory layout) via foreachBatch. Exactly-once = the checkpoint
    (offset tracking / no batch skipped) + ``_idempotent_batch_append``
    (batch replay converges instead of duplicating).

    This is the streaming CTAS the reference's batch-only model lacks: the
    same relation the batch engine reads is continuously fed by a stream.
    Scale: appends never rewrite history; pair with maintenance.compact on a
    schedule to bound file counts.
    """
    catalog.io.makedirs(catalog.fs_path(rel))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _idempotent_batch_append(catalog, rel, batch_df, batch_id)

    writer = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_merge_to_table(
    stream_df: DataFrame,
    catalog,
    rel,
    unique_key: list[str],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming UPSERT materialization: each micro-batch merges into the
    target by key (incremental.incremental_merge inside foreachBatch) —
    the streaming CDC-apply pattern: late corrections overwrite earlier
    rows instead of appending duplicates. Batch REPLAY (foreachBatch is
    at-least-once) is safe here by construction: merging the same batch
    twice is a no-op — the second merge drops-and-rewrites the same keys to
    the same values.

    Scale: per-batch cost is one anti-join against the current table; for
    large targets pair with partition-scoped merges (incremental.py notes).
    """
    from ..incremental import incremental_merge

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        incremental_merge(batch_df.sparkSession, catalog, rel, batch_df, unique_key)

    writer = (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_to_batch(
    stream_df: DataFrame, spark: SparkSession, output_mode: str | None = None
) -> DataFrame:
    """Execute a streaming plan with trigger=availableNow into an in-memory
    sink and return the materialized result — processes all currently
    available input then stops (the batch-parity harness). ``output_mode``
    overrides the plan-sniffing heuristic — needed when the STATIC side of
    a stream-static join aggregates (an Aggregate node in the analyzed plan
    that is not a streaming aggregation).

    State-store partition budget (r14, guide §2.2/§5): a STATEFUL
    streaming query instantiates one state store per shuffle partition
    per stateful operator per micro-batch — under the batch-analytics
    default of 200 partitions a stream-stream join pays 400 store
    init/commit cycles per batch, measured 54.6 s -> 2.6 s at sf0.01 on a
    vanilla local[8] session when sized to cores instead. For the
    duration of the run the shuffle-partition count is capped at cluster
    parallelism (never raised), then restored; results are exact-
    arithmetic and partitioning-independent (every q_stream_* twin is
    value-diffed against its batch oracle). Production guidance is the
    same: size streaming shuffle partitions to cores, not to the batch
    default."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    mode = output_mode or (
        "append" if not stream_df.isStreaming else _output_mode(stream_df)
    )
    # The cap's save/restore pair is serialized by _CAP_LOCK so overlapping
    # runs cannot interleave (one run's restore would otherwise clobber the
    # other's cap, or re-save the capped value as "previous").
    with _CAP_LOCK:
        prev: str | None
        try:
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            cores = spark.sparkContext.defaultParallelism
            if prev is None or int(prev) <= cores:
                prev = None  # already <= cores: leave untouched
            else:
                spark.conf.set("spark.sql.shuffle.partitions", str(cores))
        except (TypeError, ValueError):
            prev = None
        try:
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
        finally:
            if prev is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def _output_mode(stream_df: DataFrame) -> str:
    # Aggregated streams need complete/update for the memory sink with
    # watermarks finalizing late; 'append' only emits closed windows. For
    # availableNow backfill parity we want every window → 'complete' when
    # the plan contains an aggregation.
    plan = stream_df._jdf.queryExecution().analyzed().toString()
    if "FlatMapGroupsInPandasWithState" in plan:
        return "update"  # custom stateful operators declare their own mode
    return "complete" if "Aggregate" in plan else "append"


def stream_neardup_ingest_to_table(
    spark: SparkSession,
    sf_dir: str,
    catalog,
    rel,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming NEAR-dup ingest: per micro-batch, flag each arriving
    document's near-duplicates against the static corpus — shingle-posting
    candidate equi-join + exact Jaccard verify, i.e. the
    q_incremental_dedup machinery applied with "delta = the micro-batch"
    — and append one flag row per flagged doc (n_near_dups, best match,
    best jaccard) to a catalog table. This is the foreachBatch production
    pattern: batch operators reused verbatim inside the stream; exactly-
    once = checkpoint offsets + ``_idempotent_batch_append`` (a replayed
    batch overwrites its own files instead of duplicating them).

    Scale: the static side is the memoized shingle-posting scaffold (in
    production: a materialized posting table bucketed by shingle key →
    co-located join, sources/bucketed.py); per-batch cost is
    O(batch postings x shingle df) — delta-proportional, never corpus².
    """
    from ..operators.dedup import (
        JACCARD_THRESHOLD,
        doc_shingles,
        shingle_sets,
        shingles,
    )

    corpus_sh = doc_shingles(spark, sf_dir)
    corpus_sets = shingle_sets(corpus_sh)
    stream = read_documents_stream(spark, sf_dir)
    catalog.io.makedirs(catalog.fs_path(rel))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        b = batch_df.select("doc_id", F.split("text", " ").alias("toks"))
        bsh = b.select("doc_id", F.explode(shingles(F.col("toks"), 5)).alias("s"))
        bsets = bsh.groupBy("doc_id").agg(F.collect_list("s").alias("sh"))
        cand = (
            bsh.select(F.col("doc_id").alias("new_id"), "s")
            .join(corpus_sh.select(F.col("doc_id").alias("corpus_id"), "s"), "s")
            .filter(F.col("new_id") != F.col("corpus_id"))
            .select("new_id", "corpus_id")
            .distinct()
        )
        a = bsets.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("t1"))
        c = corpus_sets.select(F.col("doc_id").alias("corpus_id"), F.col("sh").alias("t2"))
        inter = F.size(F.array_intersect("t1", "t2"))
        union = F.size("t1") + F.size("t2") - inter
        verified = (
            cand.join(a, "new_id")
            .join(c, "corpus_id")
            .select(
                "new_id", "corpus_id", (inter.cast("double") / union).alias("jaccard")
            )
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        )
        # best partner = max jaccard, smallest corpus_id on ties
        best = F.max(F.struct(F.col("jaccard"), (-F.col("corpus_id")).alias("nid")))
        flags = verified.groupBy("new_id").agg(
            F.count(F.lit(1)).alias("n_near_dups"), best.alias("best")
        )
        out = flags.select(
            F.col("new_id").alias("doc_id"),
            "n_near_dups",
            F.col("best.jaccard").alias("best_jaccard"),
            (-F.col("best.nid")).cast("long").alias("best_match_id"),
        )
        _idempotent_batch_append(catalog, rel, out, batch_id)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_quality_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-in-stream scoring: documents stream through the BATCH-trained
    quality classifier (operators/classifier.py) and come out with their
    score and a keep/drop flag against the batch-calibrated per-source
    percentile threshold — the production front door of a curation
    pipeline: train offline, score every arriving document online.

    Stateless by construction: the trained weights ride in the pandas-UDF
    closure (~8 KB), the per-source thresholds are a |sources|-row static
    broadcast join, so output mode is append and there is no streaming
    state to bound. The feature expression is classifier.bkts_expr — the
    SAME column expression the batch scorer uses — so stream scores are
    bit-identical to the batch twin (pinned in tests/test_streaming.py).

    Scale: per-batch cost is one narrow Arrow-batched UDF pass over the
    micro-batch plus a KB-scale broadcast hash join; training happened
    once, batch-side. Returns an unstarted streaming DataFrame.
    """
    from ..operators.classifier import (
        _score_udf,
        bkts_expr,
        doc_features,
        train_quality_classifier,
    )
    from ..operators.corpus import PRUNE_PCT

    w = train_quality_classifier(spark, sf_dir)
    docs = read_parquet(spark, table_path(sf_dir, "documents")).select(
        "doc_id", "source"
    )
    batch_scored = (
        doc_features(spark, sf_dir)
        .select("doc_id", _score_udf(w)(F.col("bkts")).alias("score_ppm"))
        .join(docs, "doc_id")
    )
    thresholds = batch_scored.groupBy("source").agg(
        F.expr(f"percentile(score_ppm, {PRUNE_PCT})").alias("s_threshold")
    )
    stream = read_documents_stream(spark, sf_dir).select(
        "doc_id", "source", _score_udf(w)(bkts_expr()).alias("score_ppm")
    )
    return stream.join(F.broadcast(thresholds), "source").select(
        "doc_id",
        "source",
        "score_ppm",
        (F.col("score_ppm") >= F.col("s_threshold")).alias("keep"),
    )


def streaming_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data-quality monitor: the q_expectations constraint suite
    (operators/gates.py) evaluated continuously over the document ingest —
    a complete-mode global streaming aggregate of the SHARED
    satisfied-count definitions (gates.compliance_aggs — one definition,
    batch and stream, so the gate semantics can never drift), fanned out
    to per-constraint verdict rows by the shared gates.constraints_fanout.

    The four RATIO constraints stream exactly (commutative integer
    counts); the uniqueness constraint stays batch-only (Structured
    Streaming rejects distinct aggregation — a streaming approximation
    would silently weaken a gate whose whole point is exactness).

    Scale: streaming state is ONE row of five BIGINTs — bounded forever,
    no watermark needed; per-batch cost is a narrow map + partial
    aggregate of the micro-batch. After all available input is processed
    the complete-mode result equals the batch gate bit-for-bit, which is
    why the registered twin is fully oracle-checked. Returns an unstarted
    streaming DataFrame."""
    from ..operators.gates import RATIO_CHECKS, compliance_aggs, constraints_fanout

    stream = read_documents_stream(spark, sf_dir).select(
        "doc_id", "text", "lang", "n_chars"
    )
    m = stream.agg(*compliance_aggs())
    return constraints_fanout(m, RATIO_CHECKS)


def stream_scd2_to_table(
    stream_df: DataFrame,
    catalog,
    rel,
    key_col: str,
    updated_col: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming SCD2 (type-2) ingest: each micro-batch folds into the
    snapshot table via snapshots.snapshot_scd2 — where stream_merge_to_table
    OVERWRITES a key's row (type-1 CDC apply), this CLOSES the key's open
    version and appends the new one, accreting full change history as the
    stream runs. Within a micro-batch only each key's LATEST row (by
    updated_col, then payload tiebreak) merges — standard snapshot
    semantics: versions are states observed at merge points, and the
    sequence of merge points is the micro-batch sequence.

    Replay safety (foreachBatch is at-least-once): merging the same batch
    again is a NO-OP by the strictly-newer rule, so a crash between the
    table publish and the checkpoint commit converges — same discipline as
    stream_merge_to_table, no batch-id bookkeeping needed.

    Scale: per batch, one groupBy(key) over the batch (batch-sized) + the
    snapshot merge's equi-join against OPEN versions only.
    """
    from ..snapshots import snapshot_scd2

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        payload = batch_df.columns
        others = [c for c in payload if c not in (key_col, updated_col)]
        latest = (
            batch_df.groupBy(key_col)
            .agg(F.max(F.struct(updated_col, *others)).alias("_s"))
            .select(key_col, "_s.*")
            .select(*payload)
        )
        snapshot_scd2(batch_df.sparkSession, catalog, rel, latest, key_col, updated_col)

    writer = (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _scrub_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted duplicated-gram dictionary for the streaming scrub
    ingest, memoized per sf_dir as a member of the dedup scaffold family
    (``memo.release(spark, "dedup")`` frees it with the others)."""
    from ..operators.dedup import doc_token_arrays, substring_dup_keys

    def build() -> DataFrame:
        dup = substring_dup_keys(doc_token_arrays(spark, sf_dir)).persist()
        dup.count()
        return dup

    return memo.scaffold(spark, "dedup.scrub_dict", sf_dir, build)


def stream_substring_scrub_to_table(
    spark: SparkSession,
    sf_dir: str,
    catalog,
    rel,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming ExactSubstr scrub ingest: documents stream through the
    corpus duplicated-L-gram dictionary (operators/dedup.substring_dup_keys
    — the STATIC side, persisted once per corpus; in production a
    materialized table bucketed by the 16-byte gram key) and land scrubbed
    of every >= SUBSTR_L-token duplicated run, with removal accounting —
    q_substring_scrub's exact semantics applied at ingest time, so new
    arrivals never re-introduce verbatim duplication the batch pass already
    scrubbed. Exactly-once via _idempotent_batch_append (batch-id-keyed
    deterministic file names).

    The persisted dictionary is a dedup-family scaffold (_scrub_dictionary):
    repeated streams over one corpus share a single cached dictionary
    instead of stacking persists, and ``memo.release(spark, "dedup")``
    frees it with the other dedup scaffolds — no executor-cache leak after
    the stream terminates, and no ad-hoc per-stream unpersist that could
    evict an identical-plan cache entry out from under a concurrent
    consumer (the CacheManager keys-by-logical-plan pitfall).

    Scale: per-batch cost is one posting equi-join of the batch's grams
    against the dictionary — delta-proportional, the
    stream_neardup_ingest_to_table discipline."""
    from pyspark.sql import functions as F

    from ..operators.dedup import SUBSTR_L, positioned_gkeys, scrub_from_starts

    dup = _scrub_dictionary(spark, sf_dir)
    stream = read_documents_stream(spark, sf_dir)
    catalog.io.makedirs(catalog.fs_path(rel))

    def process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        toks = batch_df.select("doc_id", F.split("text", " ").alias("toks"))
        starts = (
            positioned_gkeys(toks, SUBSTR_L).join(dup, "gkey").select("doc_id", "pos")
        )
        out = scrub_from_starts(toks, starts, SUBSTR_L)
        _idempotent_batch_append(catalog, rel, out, batch_id)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_append_to_pq_index(
    spark: SparkSession,
    sf_dir: str,
    stream_df: DataFrame,
    checkpoint_dir: str,
    path: str | None = None,
    available_now: bool = True,
):
    """Continuous vector ingest into the materialized ANN index: each
    micro-batch of ``(vec_id, embedding)`` rows is encoded with the
    index's OWN fitted artifacts (the ``_ann_artifacts.json`` sidecar —
    append_to_pq_index's FROZEN add-after-train semantics, batched) and
    lands as part files inside the touched ``cell=`` directories, so
    consumers' partition pruning and plan gates apply to streamed rows the
    moment their batch commits.

    Exactly-once: the checkpoint guarantees no batch is skipped, and the
    per-cell publish converges under replay (the _idempotent_batch_append
    discipline, re-shaped for a hive-partitioned destination):

    1. encode the batch and write it to a hidden ``.tmp_ingest_batch_{id}``
       staging tree partitioned by cell (mode=overwrite: a replay rewrites
       the same staging tree);
    2. delete any ``batch-{id}-*`` files a previous partial attempt left in
       ANY cell directory (attempts can differ in part counts);
    3. move the staged files into their cell dirs under DETERMINISTIC
       names (``batch-{id:010d}-{i:05d}.parquet``) — a replay overwrites
       the same names instead of adding new ones;
    4. drop the staging tree.

    Encoding is deterministic (same artifacts, same rows -> same cells and
    codes), so any crash point re-runs 1-4 and converges to one copy —
    pinned by the kill-replay test.

    Operational rules: ``path`` defaults to the LIFECYCLE clone (the
    registered queries' immutable base is never mutated); the artifacts
    are loaded once at wiring, so stop the ingest before rebuild_pq_index
    swaps codebooks and restart it after (the single-maintainer rule);
    pair with compact_pq_index on a schedule — every batch adds one file
    per touched cell — and index_recall_audit to watch drift as the
    streamed fraction grows. Local-FS rename semantics (the compaction
    protocol's posture); an object store needs a manifest commit instead.
    """
    import glob as _glob
    import shutil

    from ..operators.kmeans import assign_udf
    from ..operators.similarity import (
        _books_literal,
        _index_artifacts,
        _lifecycle_index,
        _local_root,
        _pq_encode,
    )

    if path is None:
        path = _lifecycle_index(spark, sf_dir)
    root = _local_root(path)
    cents, books = _index_artifacts(spark, sf_dir, path)
    assign = assign_udf(cents)
    books_lit = _books_literal(books)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        assigned = batch_df.select(
            "vec_id", "embedding", assign(F.col("embedding")).alias("cell")
        )
        codes = _pq_encode(
            assigned.select("vec_id", "cell", "embedding"), books_lit,
            keep_embedding=True,
        )
        staging = os.path.join(root, f".tmp_ingest_batch_{batch_id}")
        # cell-clustered (the build_pq_index layout rule): one file per
        # touched cell per batch
        codes.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(staging)
        marker = f"batch-{batch_id:010d}-"
        for cell_dir in _glob.glob(os.path.join(root, "cell=*")):
            for e in os.listdir(cell_dir):
                if e.startswith(marker):
                    os.remove(os.path.join(cell_dir, e))
        for scell in sorted(_glob.glob(os.path.join(staging, "cell=*"))):
            dest = os.path.join(root, os.path.basename(scell))
            os.makedirs(dest, exist_ok=True)
            parts = sorted(
                e
                for e in os.listdir(scell)
                if e.startswith("part-") and e.endswith(".parquet")
            )
            for i, e in enumerate(parts):
                os.rename(
                    os.path.join(scell, e),
                    os.path.join(dest, f"{marker}{i:05d}.parquet"),
                )
        shutil.rmtree(staging)

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
