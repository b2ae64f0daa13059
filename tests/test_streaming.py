"""Structured Streaming parity: availableNow over the events table must
reproduce the batch twins (tumbling windows), dedup must bound state, and
session windows must cover every event exactly once."""

from __future__ import annotations

from dbt_parquet_spark.sources.readers import load_table
from dbt_parquet_spark.streaming.batch_windows import q_window_tumbling
from dbt_parquet_spark.streaming.stream_ops import (
    run_to_batch,
    streaming_dedup,
    streaming_enriched_events,
    streaming_session_windows,
    streaming_tumbling_counts,
)

from .conftest import SF_SMALL


def test_streaming_tumbling_matches_batch(spark):
    stream_out = run_to_batch(streaming_tumbling_counts(spark, SF_SMALL), spark)
    batch_out = q_window_tumbling(spark, SF_SMALL)
    got = {tuple(r) for r in stream_out.collect()}
    want = {tuple(r) for r in batch_out.collect()}
    assert got == want


def test_streaming_dedup_passthrough_when_unique(spark):
    out = run_to_batch(streaming_dedup(spark, SF_SMALL), spark)
    n_events = load_table(spark, SF_SMALL, "events").count()
    assert out.count() == n_events  # event_ids are unique → nothing dropped
    assert out.select("event_id").distinct().count() == n_events


def test_stream_static_join_matches_batch(spark):
    from pyspark.sql import functions as F

    out = run_to_batch(streaming_enriched_events(spark, SF_SMALL), spark)
    events = load_table(spark, SF_SMALL, "events")
    customer = load_table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
    )
    want = events.join(customer, "user_id", "left").select(
        "event_id", "user_id", "ts", "event_type", "value", "c_mktsegment", "c_nationkey"
    )
    assert out.count() == want.count()
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in want.collect()}


def test_streaming_session_windows_cover_all_events(spark):
    out = run_to_batch(streaming_session_windows(spark, SF_SMALL), spark)
    rows = out.collect()
    n_events = load_table(spark, SF_SMALL, "events").count()
    assert sum(r.n_events for r in rows) == n_events
    for r in rows:
        assert r.session_start <= r.session_end


def test_stream_neardup_ingest_matches_batch_pairs(spark, tmp_path):
    """The foreachBatch near-dup ingest must reproduce, per doc, the
    symmetrized q_dedup_ngram_jaccard pair set: n_near_dups = partner
    count, best = (max jaccard, min partner id) — exactly."""
    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.operators.dedup import q_dedup_ngram_jaccard
    from dbt_parquet_spark.streaming.stream_ops import stream_neardup_ingest_to_table

    from .conftest import SF_SMALL

    cat = FilesystemCatalog(f"file://{tmp_path}")
    rel = cat.relation("neardup_flags")
    q = stream_neardup_ingest_to_table(
        spark, SF_SMALL, cat, rel, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)

    got = {
        r.doc_id: (r.n_near_dups, round(r.best_jaccard, 12), r.best_match_id)
        for r in spark.read.parquet(rel.path).collect()
    }
    pairs = q_dedup_ngram_jaccard(spark, SF_SMALL).collect()
    assert pairs, "no near-dup pairs at this sf — test vacuous"
    partners: dict[int, list[tuple[float, int]]] = {}
    for r in pairs:
        partners.setdefault(r.d1, []).append((r.jaccard, r.d2))
        partners.setdefault(r.d2, []).append((r.jaccard, r.d1))
    want = {}
    for doc, ps in partners.items():
        bj = max(j for j, _ in ps)
        bid = min(i for j, i in ps if j == bj)
        want[doc] = (len(ps), round(bj, 12), bid)
    assert got == want


def test_stream_neardup_ingest_restart_is_exactly_once(spark, tmp_path):
    """Restarting the ingest with the SAME checkpoint must append nothing
    new (the batch-id dedup behind foreachBatch's exactly-once claim)."""
    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.streaming.stream_ops import stream_neardup_ingest_to_table

    from .conftest import SF_SMALL

    cat = FilesystemCatalog(f"file://{tmp_path}")
    rel = cat.relation("neardup_flags_once")
    ckpt = str(tmp_path / "ckpt")
    q1 = stream_neardup_ingest_to_table(spark, SF_SMALL, cat, rel, ckpt)
    q1.awaitTermination(300)
    n1 = spark.read.parquet(rel.path).count()
    assert n1 > 0

    q2 = stream_neardup_ingest_to_table(spark, SF_SMALL, cat, rel, ckpt)
    q2.awaitTermination(300)
    assert spark.read.parquet(rel.path).count() == n1, "restart re-appended rows"


def test_stream_ingest_creates_no_cwd_relative_path(spark, tmp_path, monkeypatch):
    """Regression: os.makedirs(rel.path) on an explicit file:// catalog used
    to create a junk 'file:/tmp/...' tree under the process CWD (the URL
    treated as a relative OS path). All sink-side IO must go through the
    catalog FS abstraction — a streaming ingest from a scratch CWD must
    leave that CWD untouched."""
    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.streaming.stream_ops import stream_neardup_ingest_to_table

    from .conftest import SF_SMALL

    cwd = tmp_path / "scratch_cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    cat = FilesystemCatalog(f"file://{tmp_path / 'db'}")
    rel = cat.relation("flags_cwd_check")
    q = stream_neardup_ingest_to_table(
        spark, SF_SMALL, cat, rel, str(tmp_path / "ckpt_cwd")
    )
    q.awaitTermination(300)
    assert spark.read.parquet(rel.path).count() > 0
    assert list(cwd.iterdir()) == [], "streaming sink wrote CWD-relative paths"


def test_idempotent_batch_append_replay_converges(spark, tmp_path):
    """foreachBatch is at-least-once: a crash after the data write but
    before the offset commit replays the batch. _idempotent_batch_append
    must converge — replaying the same batch id (even after a partial
    earlier attempt left stale higher-indexed parts) yields exactly one
    copy of the batch."""
    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.streaming.stream_ops import _idempotent_batch_append

    cat = FilesystemCatalog(f"file://{tmp_path / 'db'}")
    rel = cat.relation("replay_target")
    batch = spark.range(100).withColumnRenamed("id", "k")

    _idempotent_batch_append(cat, rel, batch, 7)
    n1 = spark.read.parquet(rel.path).count()
    assert n1 == 100

    # Simulate a partial earlier attempt: a stale part file from batch 7
    # with an index the replay won't produce. The replay must remove it.
    dest = cat.fs_path(rel)
    stale = cat.io.join(dest, "batch-0000000007-99999.parquet")
    existing = [e for e in cat.io.listdir(dest) if e.startswith("batch-")]
    with cat.io.open_input(cat.io.join(dest, existing[0])) as fh:
        payload = fh.read()
    with cat.io.open_output(stale) as fh:
        fh.write(payload)
    assert spark.read.parquet(rel.path).count() > 100  # duplicated state

    _idempotent_batch_append(cat, rel, batch, 7)  # replay of batch 7
    assert spark.read.parquet(rel.path).count() == 100, "replay did not converge"

    # A DIFFERENT batch id appends alongside, untouched by batch-7 replay.
    _idempotent_batch_append(cat, rel, spark.range(5).withColumnRenamed("id", "k"), 8)
    assert spark.read.parquet(rel.path).count() == 105
    _idempotent_batch_append(cat, rel, batch, 7)
    assert spark.read.parquet(rel.path).count() == 105


def test_streaming_quality_ingest_matches_batch_scorer(spark):
    """Every streamed (score_ppm, keep) must be bit-identical to scoring
    the same corpus batch-side with the same trained weights and the same
    per-source percentile thresholds."""
    from pyspark.sql import functions as F

    from dbt_parquet_spark.operators.classifier import (
        _score_udf,
        doc_features,
        train_quality_classifier,
    )
    from dbt_parquet_spark.operators.corpus import PRUNE_PCT
    from dbt_parquet_spark.streaming.stream_ops import streaming_quality_ingest

    out = run_to_batch(
        streaming_quality_ingest(spark, SF_SMALL), spark, output_mode="append"
    )
    got = {r.doc_id: (r.source, r.score_ppm, r.keep) for r in out.collect()}

    w = train_quality_classifier(spark, SF_SMALL)
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "source")
    scored = (
        doc_features(spark, SF_SMALL)
        .select("doc_id", _score_udf(w)(F.col("bkts")).alias("score_ppm"))
        .join(docs, "doc_id")
    )
    thresholds = scored.groupBy("source").agg(
        F.expr(f"percentile(score_ppm, {PRUNE_PCT})").alias("s_threshold")
    )
    want = {
        r.doc_id: (r.source, r.score_ppm, r.score_ppm >= r.s_threshold)
        for r in scored.join(thresholds, "source").collect()
    }
    assert got == want
    assert len(got) == load_table(spark, SF_SMALL, "documents").count()
    # the per-source quartile actually bites: both flags present
    assert {k for _, _, k in got.values()} == {True, False}


def test_stream_scd2_matches_sequential_batch_merges(spark, tmp_path):
    """Type-2 streaming ingest parity: two micro-batches (maxFilesPerTrigger
    =1, file mtimes force the order) must leave EXACTLY the table two
    sequential batch snapshot_scd2 merges leave — history closed/opened at
    the same merge points — and a fresh-checkpoint re-run must change
    nothing (the merge is idempotent, so replay converges)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.snapshots import snapshot_scd2
    from dbt_parquet_spark.sources.readers import load_table
    from dbt_parquet_spark.streaming.stream_ops import stream_scd2_to_table

    events = (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", "event_type", "ts")
        .filter(F.col("user_id") < 40)
    )
    mid = events.agg(F.expr("percentile(unix_micros(ts), 0.5)")).first()[0]
    halves = [
        events.filter(F.unix_micros("ts") <= mid).toPandas(),
        events.filter(F.unix_micros("ts") > mid).toPandas(),
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, pdf in enumerate(halves):
        f = str(src / f"part-{i:03d}.parquet")
        papq.write_table(pa.Table.from_pandas(pdf), f, coerce_timestamps="us")
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))

    def latest_per_key(df):
        return (
            df.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_type")).alias("_s"))
            .select("user_id", "_s.*")
            .select("user_id", "event_type", "ts")
        )

    # batch twin: sequential merges of the same two halves
    cat = FilesystemCatalog(f"file://{tmp_path}/db")
    want_rel = cat.relation("scd2_batch_twin")
    for pdf in halves:
        half = spark.createDataFrame(pdf)
        snapshot_scd2(spark, cat, want_rel, latest_per_key(half), "user_id", "ts")
    want = {tuple(r) for r in spark.read.parquet(want_rel.path).collect()}

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select("user_id", "event_type", "ts")
    )
    got_rel = cat.relation("scd2_stream")
    q = stream_scd2_to_table(
        stream, cat, got_rel, "user_id", "ts", str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    got = {tuple(r) for r in spark.read.parquet(got_rel.path).collect()}
    assert got == want
    # history actually accreted: some user changed state across the batches
    closed = [r for r in got if r[-1] is not None]
    assert closed, "no closed versions — the two-batch split produced no changes"

    # replay convergence: a FRESH checkpoint re-processes everything; the
    # strictly-newer rule makes every re-merge a no-op
    q2 = stream_scd2_to_table(
        stream, cat, got_rel, "user_id", "ts", str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(300)
    again = {tuple(r) for r in spark.read.parquet(got_rel.path).collect()}
    assert again == got


def _two_file_source(spark, tmp_path):
    """Two parquet files with forced mtime order — a 2-micro-batch stream
    source (maxFilesPerTrigger=1) over the small events table."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    from dbt_parquet_spark.sources.readers import load_table

    events = (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", "event_type", "ts")
        .filter(F.col("user_id") < 40)
    )
    mid = events.agg(F.expr("percentile(unix_micros(ts), 0.5)")).first()[0]
    halves = [
        events.filter(F.unix_micros("ts") <= mid).toPandas(),
        events.filter(F.unix_micros("ts") > mid).toPandas(),
    ]
    src = tmp_path / "src"
    if not src.exists():  # restart calls reuse the same source dir
        src.mkdir()
        for i, pdf in enumerate(halves):
            f = str(src / f"part-{i:03d}.parquet")
            papq.write_table(pa.Table.from_pandas(pdf), f, coerce_timestamps="us")
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    schema = spark.read.parquet(str(src)).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select("user_id", "event_type", "ts")
    )


def _drop_last_commit(ckpt_dir):
    """Simulate a crash BETWEEN the foreachBatch table publish and the
    checkpoint commit: the offset log still names the batch, but its commit
    marker is gone, so a restart re-executes exactly that batch against the
    already-published table."""
    import os

    commits = sorted(
        (e for e in os.listdir(ckpt_dir / "commits") if e.isdigit()), key=int
    )
    assert commits, "no commits recorded"
    os.unlink(ckpt_dir / "commits" / commits[-1])
    crc = ckpt_dir / "commits" / f".{commits[-1]}.crc"  # local-FS checksum twin
    if crc.exists():
        os.unlink(crc)
    return int(commits[-1])


def test_stream_merge_mid_batch_crash_replay_is_idempotent(spark, tmp_path):
    """stream_merge_to_table survives the at-least-once worst case: kill
    between the merge's table publish and the checkpoint commit. We run to
    completion, delete the LAST commit marker (the crash point), plant a
    stale .tmp_ staging dir (a crashed create_table_as attempt), and
    restart on the SAME checkpoint — Spark re-executes the final batch and
    the re-merge must leave the table bit-identical."""
    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.streaming.stream_ops import stream_merge_to_table

    cat = FilesystemCatalog(f"file://{tmp_path}/db")
    rel = cat.relation("merge_crash")
    ckpt = tmp_path / "ckpt"
    q = stream_merge_to_table(
        _two_file_source(spark, tmp_path), cat, rel, ["user_id"], str(ckpt)
    )
    q.awaitTermination(300)
    q.stop()
    want = {tuple(r) for r in spark.read.parquet(rel.path).collect()}

    replayed = _drop_last_commit(ckpt)
    stale = tmp_path / "db" / ".tmp_merge_crash_deadbeef"
    stale.mkdir()
    (stale / "part-00000-junk.parquet").write_bytes(b"not parquet")

    q2 = stream_merge_to_table(
        _two_file_source(spark, tmp_path), cat, rel, ["user_id"], str(ckpt)
    )
    q2.awaitTermination(300)
    got = {tuple(r) for r in spark.read.parquet(rel.path).collect()}
    assert got == want, f"replay of batch {replayed} changed the merged table"


def test_stream_scd2_mid_batch_crash_replay_is_idempotent(spark, tmp_path):
    """Same kill-between-write-and-commit drill for the SCD2 sink: the
    replayed merge must be a no-op under the strictly-newer rule — no
    duplicate versions, no re-closed intervals."""
    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.streaming.stream_ops import stream_scd2_to_table

    cat = FilesystemCatalog(f"file://{tmp_path}/db")
    rel = cat.relation("scd2_crash")
    ckpt = tmp_path / "ckpt"
    q = stream_scd2_to_table(
        _two_file_source(spark, tmp_path), cat, rel, "user_id", "ts", str(ckpt)
    )
    q.awaitTermination(300)
    q.stop()
    want = {tuple(r) for r in spark.read.parquet(rel.path).collect()}
    closed = [r for r in want if r[-1] is not None]
    assert closed, "no closed versions — the split produced no history"

    replayed = _drop_last_commit(ckpt)
    q2 = stream_scd2_to_table(
        _two_file_source(spark, tmp_path), cat, rel, "user_id", "ts", str(ckpt)
    )
    q2.awaitTermination(300)
    got = {tuple(r) for r in spark.read.parquet(rel.path).collect()}
    assert got == want, f"replay of batch {replayed} changed the SCD2 table"


def test_stream_substring_scrub_matches_batch(spark, tmp_path):
    """The streaming ExactSubstr scrub ingest must land, per doc, exactly
    q_substring_scrub's batch output (same dictionary, same coverage, same
    reconstruction), and a same-checkpoint restart must append nothing."""
    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.operators.dedup import q_substring_scrub
    from dbt_parquet_spark.streaming.stream_ops import stream_substring_scrub_to_table

    from .conftest import SF_SMALL

    cat = FilesystemCatalog(f"file://{tmp_path}/db")
    rel = cat.relation("substr_scrubbed")
    ckpt = str(tmp_path / "ckpt")
    q = stream_substring_scrub_to_table(spark, SF_SMALL, cat, rel, ckpt)
    q.awaitTermination(300)
    q.stop()

    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
        for r in spark.read.parquet(rel.path).collect()
    }
    want = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
        for r in q_substring_scrub(spark, SF_SMALL).collect()
    }
    assert got == want
    assert any(nr > 0 for _, nr, _ in got.values()), "no duplication scrubbed — vacuous"

    q2 = stream_substring_scrub_to_table(spark, SF_SMALL, cat, rel, ckpt)
    q2.awaitTermination(300)
    assert {
        r.doc_id for r in spark.read.parquet(rel.path).collect()
    } == set(got), "restart changed the table"


def test_scrub_dictionary_released_with_shingle_caches(spark, tmp_path):
    """The streaming scrub's persisted gram dictionary is scaffold-cache
    state: repeated streams share ONE persisted frame (no stacking), and
    releasing the dedup scaffold family frees it (no executor-cache leak
    after the stream ends)."""
    from dbt_parquet_spark import memo
    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.streaming.stream_ops import (
        _scrub_dictionary,
        stream_substring_scrub_to_table,
    )

    from .conftest import SF_SMALL

    memo.release(spark, "dedup")
    assert not memo.stats()["by_kind"]["dedup.scrub_dict"]
    cat = FilesystemCatalog(f"file://{tmp_path}/db")
    for i in range(2):
        rel = cat.relation(f"scrubbed_{i}")
        q = stream_substring_scrub_to_table(
            spark, SF_SMALL, cat, rel, str(tmp_path / f"ckpt{i}")
        )
        q.awaitTermination(300)
        q.stop()
        assert memo.stats()["by_kind"]["dedup.scrub_dict"] == 1  # shared, not stacked
    dup = _scrub_dictionary(spark, SF_SMALL)  # a memo hit: the streams' frame
    assert dup.storageLevel.useMemory or dup.storageLevel.useDisk
    memo.release(spark, "dedup")
    assert not memo.stats()["by_kind"]["dedup.scrub_dict"]
    assert not dup.storageLevel.useMemory and not dup.storageLevel.useDisk


def test_stream_append_to_pq_index_bit_identical_and_replay(spark, tmp_path):
    """Streaming ANN-index ingest: vectors streamed in two micro-batches
    must land in their cell partitions with (vec_id, codes, cell) sets
    IDENTICAL to a batch append_to_pq_index of the same delta (both encode
    with the same frozen base-fitted artifacts), partition pruning must
    hold over the mixed files, and the at-least-once worst case — kill
    between the per-cell publish and the checkpoint commit — must converge
    on replay (no duplicates, no loss)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.operators.similarity import (
        append_to_pq_index,
        build_pq_index,
        read_pq_index,
    )
    from dbt_parquet_spark.sources.readers import load_table
    from dbt_parquet_spark.streaming.stream_ops import stream_append_to_pq_index

    from .conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    base_dir = str(tmp_path / "corpus")
    emb.filter(F.col("vec_id") < 400).write.parquet(f"{base_dir}/embeddings.parquet")

    # two identical indexes over the same base: one streamed into, one
    # batch-appended into — the expected-value cross-check
    cat = FilesystemCatalog(f"file://{tmp_path}/db")
    streamed = build_pq_index(spark, base_dir, catalog=cat, rel=cat.relation("idx_stream"))
    batched = build_pq_index(spark, base_dir, catalog=cat, rel=cat.relation("idx_batch"))

    delta = emb.filter(F.col("vec_id") >= 400)
    halves = [
        delta.toPandas(),
        delta.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding").toPandas(),
    ]
    src = tmp_path / "vec_src"
    src.mkdir()
    for i, pdf in enumerate(halves):
        f = str(src / f"part-{i:03d}.parquet")
        papq.write_table(pa.Table.from_pandas(pdf), f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    schema = spark.read.parquet(str(src)).schema

    def source():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    ckpt = tmp_path / "ckpt_ingest"
    q = stream_append_to_pq_index(spark, base_dir, source(), str(ckpt), path=streamed)
    q.awaitTermination(300)
    q.stop()

    for pdf in halves:
        bdf = spark.createDataFrame(pdf)
        append_to_pq_index(spark, base_dir, bdf, path=batched)

    def contents(path):
        return {
            (r.vec_id, tuple(r.codes), r.cell)
            for r in read_pq_index(spark, base_dir, path=path).collect()
        }

    want = contents(batched)
    got = contents(streamed)
    assert len(got) == 400 + 2 * len(halves[0])
    assert got == want  # frozen-artifact encode, streamed == batched

    # pruning still holds over the mixed (build + streamed) files
    idx = read_pq_index(spark, base_dir, path=streamed)
    some_cell = idx.filter(F.col("vec_id") >= 400).select("cell").first().cell
    pruned = read_pq_index(spark, base_dir, cells=[some_cell], path=streamed)
    assert {r.cell for r in pruned.select("cell").distinct().collect()} == {some_cell}

    # kill-replay: drop the last commit marker and restart the SAME
    # checkpoint — the batch re-executes and must converge bit-identically
    replayed = _drop_last_commit(ckpt)
    q2 = stream_append_to_pq_index(spark, base_dir, source(), str(ckpt), path=streamed)
    q2.awaitTermination(300)
    q2.stop()
    assert contents(streamed) == want, f"replay of batch {replayed} changed the index"


def test_manifest_stream_append_txn_idempotent(spark, tmp_path):
    """Streaming ingest under the MANIFEST protocol: streamed (vec_id,
    codes, cell) must equal a manifest_append of the same delta (same
    frozen artifacts), every batch commit must be transactional — the
    manifest records streams[stream_id]=batch_id — and the at-least-once
    worst case (kill between the MANIFEST commit and the CHECKPOINT
    commit) must be absorbed by the txn record: the replayed batch is
    skipped outright, the generation does not move, and no filename
    convention is involved (the object-store-safe discipline)."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.operators.index_manifest import (
        MANIFEST,
        _ifs,
        manifest_append,
        manifest_read,
        manifest_snapshot,
        manifest_stream_append,
    )
    from dbt_parquet_spark.operators.similarity import build_pq_index
    from dbt_parquet_spark.sources.readers import load_table

    from .conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    base_dir = str(tmp_path / "corpus")
    emb.filter(F.col("vec_id") < 400).write.parquet(f"{base_dir}/embeddings.parquet")

    cat = FilesystemCatalog(f"file://{tmp_path}/db")
    streamed = build_pq_index(spark, base_dir, catalog=cat, rel=cat.relation("m_stream"))
    batched = build_pq_index(spark, base_dir, catalog=cat, rel=cat.relation("m_batch"))
    manifest_snapshot(streamed)
    manifest_snapshot(batched)

    delta = emb.filter(F.col("vec_id") >= 400)
    halves = [
        delta.toPandas(),
        delta.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding").toPandas(),
    ]
    src = tmp_path / "vec_src"
    src.mkdir()
    for i, pdf in enumerate(halves):
        f = str(src / f"part-{i:03d}.parquet")
        papq.write_table(pa.Table.from_pandas(pdf), f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    schema = spark.read.parquet(str(src)).schema

    def source():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    ckpt = tmp_path / "ckpt_m_ingest"
    q = manifest_stream_append(
        spark, base_dir, streamed, source(), str(ckpt), stream_id="ingest-a"
    )
    q.awaitTermination(300)
    q.stop()

    for pdf in halves:
        manifest_append(spark, base_dir, batched, spark.createDataFrame(pdf))

    def contents(path):
        return {
            (r.vec_id, tuple(r.codes), r.cell)
            for r in manifest_read(spark, path).collect()
        }

    want = contents(batched)
    got = contents(streamed)
    assert len(got) == 400 + 2 * len(halves[0])
    assert got == want  # streamed == batch manifest_append, bit-identical

    cfs, root = _ifs(streamed)
    with cfs.open_input(cfs.join(root, MANIFEST)) as fh:
        m_before = json.loads(fh.read().decode())
    assert m_before["streams"]["ingest-a"] == 1  # both batches recorded
    gen_before = m_before["generation"]

    # kill between MANIFEST commit and CHECKPOINT commit, then replay: the
    # txn record must absorb the re-delivery — contents AND generation
    # unchanged (the replayed batch commits nothing, stages nothing live)
    _drop_last_commit(ckpt)
    q2 = manifest_stream_append(
        spark, base_dir, streamed, source(), str(ckpt), stream_id="ingest-a"
    )
    q2.awaitTermination(300)
    q2.stop()
    assert contents(streamed) == want
    with cfs.open_input(cfs.join(root, MANIFEST)) as fh:
        m_after = json.loads(fh.read().decode())
    assert m_after["generation"] == gen_before
    assert m_after["streams"]["ingest-a"] == 1


def test_streaming_expectations_matches_batch_gate(spark):
    """The streamed constraint verdicts must equal the batch gate
    bit-for-bit on the ratio checks (same shared definitions, complete
    mode after draining all input), and the streamed suite must still
    discriminate (max_chars_400 fails)."""
    from dbt_parquet_spark.operators.gates import RATIO_CHECKS, q_expectations
    from dbt_parquet_spark.streaming.stream_ops import streaming_expectations

    out = run_to_batch(
        streaming_expectations(spark, SF_SMALL), spark, output_mode="complete"
    )
    streamed = {
        r.check_name: (r.metric_ppm, r.threshold_ppm, r.passed) for r in out.collect()
    }
    batch = {
        r.check_name: (r.metric_ppm, r.threshold_ppm, r.passed)
        for r in q_expectations(spark, SF_SMALL).collect()
        if r.check_name in RATIO_CHECKS
    }
    assert streamed == batch
    assert not streamed["max_chars_400"][2]
