"""Training-shard writer: written shards must match the oracle-checked
manifest (counts, char volume, content hash), cover the corpus exactly, and
be bit-identically reproducible run over run."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_parquet_spark.catalog import FilesystemCatalog
from dbt_parquet_spark.operators.shards import (
    q_training_shards,
    shard_manifest,
    write_training_shards,
)
from dbt_parquet_spark.sources.readers import load_table

from .conftest import SF_SMALL, spark_jobs


def _manifest_rows(df):
    return {
        r.shard_id: (r.n_docs, r.total_chars, r.content_hash)
        for r in df.collect()
    }


def test_written_shards_match_manifest_and_cover_corpus(spark, tmp_path):
    cat = FilesystemCatalog(f"file://{tmp_path}")
    docs = load_table(spark, SF_SMALL, "documents")
    n_docs = docs.count()

    manifest = write_training_shards(spark, cat, cat.relation("corpus_shards"), docs)
    m = _manifest_rows(manifest)
    assert sum(n for n, _, _ in m.values()) == n_docs
    assert all(0 <= s < 16 for s in m)

    # the written table re-read: per-shard counts/volumes/hashes must equal
    # the manifest, recomputed from the shard files themselves
    written = spark.table("corpus_shards")
    rowhash = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("text"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    per_shard = {
        r.shard_id: (r.n, r.chars, r.h)
        for r in written.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("long").alias("chars"),
            F.sum(rowhash).alias("h"),
        )
        .collect()
    }
    assert per_shard == m
    # exact coverage, no dup/drop
    assert written.select("doc_id").distinct().count() == n_docs

    # every doc sits in the shard its hash prefix dictates
    misplaced = written.filter(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10).cast("long")
        != F.col("shard_id")
    ).count()
    assert misplaced == 0


def test_shard_manifest_rerun_deterministic(spark, tmp_path):
    cat = FilesystemCatalog(f"file://{tmp_path}")
    docs = load_table(spark, SF_SMALL, "documents")
    m1 = _manifest_rows(write_training_shards(spark, cat, cat.relation("shards_a"), docs))
    # second run into a DIFFERENT relation and a shuffled input layout
    m2 = _manifest_rows(
        write_training_shards(
            spark, cat, cat.relation("shards_b"), docs.repartition(7).sortWithinPartitions("text")
        )
    )
    assert m1 == m2

    # the registered manifest view survives a fresh catalog over the database
    cat2 = FilesystemCatalog(f"file://{tmp_path}")
    rels = {r.table for r in cat2.list_relations("")}
    assert {"shards_a", "shards_a_manifest", "shards_b", "shards_b_manifest"} <= rels


def test_manifest_query_equals_lifecycle_manifest(spark):
    """q_training_shards (the oracle-checked relational form) must equal
    shard_manifest over the same table — one definition, two entry points."""
    a = _manifest_rows(q_training_shards(spark, SF_SMALL))
    b = _manifest_rows(shard_manifest(load_table(spark, SF_SMALL, "documents")))
    assert a == b and len(a) > 1


def test_append_delta_manifest_additivity(spark, tmp_path):
    """O(delta) ingest: append writes only delta rows into existing shard
    dirs, and the sum-merged manifest must equal a from-scratch manifest of
    the combined corpus — bit-for-bit (the additivity the order-independent
    content hash was designed for)."""
    from dbt_parquet_spark.operators.shards import append_delta_to_shards

    cat = FilesystemCatalog(f"file://{tmp_path}")
    docs = load_table(spark, SF_SMALL, "documents")
    head = docs.filter(F.col("doc_id") < 40)
    delta = docs.filter(F.col("doc_id") >= 40)
    n_total = docs.count()
    assert head.count() > 0 and delta.count() > 0

    write_training_shards(spark, cat, cat.relation("inc_shards"), head)
    merged = _manifest_rows(
        append_delta_to_shards(spark, cat, cat.relation("inc_shards"), delta)
    )
    # merged manifest == full recompute over everything
    assert merged == _manifest_rows(shard_manifest(docs))

    # the shard table itself now holds the whole corpus, correctly placed
    written = spark.table("inc_shards")
    assert written.count() == n_total
    misplaced = written.filter(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10).cast("long")
        != F.col("shard_id")
    ).count()
    assert misplaced == 0


def test_manifest_describes_written_bytes_for_nondeterministic_input(spark, tmp_path):
    """ADVICE r7: the input plan executes ONCE — a non-deterministic docs
    plan (per-row UUID column, different on every execution) must still
    produce a manifest that agrees with a full recompute over the data
    actually on disk, for both the initial write and a delta append."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from dbt_parquet_spark.operators.shards import (
        append_delta_to_shards,
        shard_manifest,
        write_training_shards,
    )
    from dbt_parquet_spark.sources.readers import load_table

    from .conftest import SF_SMALL, spark_jobs

    @F.udf(StringType(), useArrow=True)
    def fresh_uuid() -> str:
        import uuid as _uuid

        return _uuid.uuid4().hex

    base = load_table(spark, SF_SMALL, "documents").select("doc_id", "text", "n_chars")
    docs = base.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text", F.concat("text", F.lit(" "), fresh_uuid())
    )
    delta = base.filter(F.col("doc_id") % 5 == 0).withColumn(
        "text", F.concat("text", F.lit(" "), fresh_uuid())
    )

    cat = FilesystemCatalog(f"file://{tmp_path}")
    rel = cat.relation("nd_shards")
    write_training_shards(spark, cat, rel, docs)
    append_delta_to_shards(spark, cat, rel, delta)

    stored = {
        r.shard_id: (r.n_docs, r.total_chars, r.content_hash)
        for r in spark.read.parquet(cat.relation("nd_shards_manifest").path).collect()
    }
    written = spark.read.parquet(rel.path).drop("shard_id")
    recomputed = {
        r.shard_id: (r.n_docs, r.total_chars, r.content_hash)
        for r in shard_manifest(written).collect()
    }
    assert stored == recomputed
    assert written.count() == base.count()


def test_epoch_order_is_distinct_complete_permutations(spark):
    """Each epoch must be a complete, reproducible permutation of every
    shard (positions 1..n dense), and different epochs must actually
    reorder (the whole point of the reshuffle)."""
    from dbt_parquet_spark.operators.shards import q_epoch_order

    rows = q_epoch_order(spark, SF_SMALL).collect()
    docs_n = load_table(spark, SF_SMALL, "documents").count()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, []).append(r)
    assert set(by_epoch) == {0, 1}
    for epoch, er in by_epoch.items():
        assert len(er) == docs_n  # every doc, once
        assert len({r.doc_id for r in er}) == docs_n
        shards = {}
        for r in er:
            shards.setdefault(r.shard_id, set()).add(r.pos)
        for sid, positions in shards.items():
            assert positions == set(range(1, len(positions) + 1)), sid
    # epochs shuffle: within-shard doc sequences differ between epochs
    def seq(epoch):
        out = {}
        for r in sorted(by_epoch[epoch], key=lambda r: (r.shard_id, r.pos)):
            out.setdefault(r.shard_id, []).append(r.doc_id)
        return out

    assert seq(0) != seq(1)
    # reproducible: a second run is bit-identical
    again = q_epoch_order(spark, SF_SMALL).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_curriculum_order_interleaves_sources_within_bands(spark):
    """Ranks must be dense per (band, source), and walking a band by
    (src_rank, source) must alternate sources: the first |sources-in-band|
    positions are all DISTINCT sources (no monoculture prefix)."""
    from dbt_parquet_spark.operators.shards import q_curriculum_order

    rows = q_curriculum_order(spark, SF_SMALL).collect()
    assert len(rows) == load_table(spark, SF_SMALL, "documents").count()
    per = {}
    for r in rows:
        per.setdefault((r.band, r.source), []).append(r.src_rank)
    for key, ranks in per.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), key
    bands = {}
    for r in rows:
        bands.setdefault(r.band, []).append((r.src_rank, r.source))
    assert len(bands) >= 3  # quality spread actually produces bands
    for band, entries in bands.items():
        srcs_in_band = {s for _, s in entries}
        head = [s for _, s in sorted(entries)[: len(srcs_in_band)]]
        assert len(set(head)) == len(srcs_in_band), band  # perfect interleave


def test_shard_write_and_append_job_counts(spark, tmp_path):
    """Job-count gate: the manifest is computed from the table the view
    registration returns and the delta from its staged files, each with its
    footer schema, so no schema-inference job runs (a write: 4 jobs, an
    append: 6; adaptive execution runs shuffle stages as jobs of their own)."""
    from dbt_parquet_spark.operators.shards import append_delta_to_shards

    cat = FilesystemCatalog(str(tmp_path))
    rel = cat.relation("job_shards")
    docs = load_table(spark, SF_SMALL, "documents")
    assert len(spark_jobs(spark, lambda: write_training_shards(
        spark, cat, rel, docs.filter(F.col("doc_id") % 2 == 0)))) == 4
    assert len(spark_jobs(spark, lambda: append_delta_to_shards(
        spark, cat, rel, docs.filter(F.col("doc_id") % 2 == 1)))) == 6
    assert _manifest_rows(spark.table("job_shards_manifest")) == _manifest_rows(
        shard_manifest(spark.table("job_shards").drop("shard_id")))
