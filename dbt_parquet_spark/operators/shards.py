"""Training-shard writer: the last step between corpus curation and "data a
trainer can mount" — the md5-ordered corpus materialized as a fixed fanout
of deterministic shards plus a manifest of per-shard row counts and content
hashes.

Sharding rule: shard_id = the first ``hex_width`` hex chars of
md5(doc_id) parsed as an integer (fanout 16^hex_width). Fixed-prefix RANGE
sharding of the hash value — deterministic across runs, cluster sizes and
input layouts (never repartitionByRange, whose boundaries come from
SAMPLING), append-stable (a new doc lands in its hash shard without moving
any existing doc), and uniform by md5's avalanche property. Within a shard
files are written in global hash order (sortWithinPartitions) with
maxRecordsPerFile bounding file size at scale.

The manifest content hash is SUM over docs of the first 8 hex chars of
md5(doc_id | text) as an integer — order-independent, overflow-free
(2^32 per row), and expressible bit-identically in DuckDB, so the manifest
query is fully oracle-checked.
"""

from __future__ import annotations

import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.readers import load_table, read_parquet
from .corpus import QUALITY_PPM_SQL

N_SHARD_HEX = 1  # manifest-query fanout: 16 shards (16^1)


def _with_shard_cols(docs: DataFrame, hex_width: int) -> DataFrame:
    h = F.md5(F.col("doc_id").cast("string"))
    shard = F.conv(F.substring(h, 1, hex_width), 16, 10).cast("long")
    rowhash = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("text"))), 1, 8),
        16,
        10,
    ).cast("long")
    return docs.withColumn("h", h).withColumn("shard_id", shard).withColumn("_rowhash", rowhash)


def shard_manifest(docs: DataFrame, hex_width: int = N_SHARD_HEX) -> DataFrame:
    """Per-shard accounting: (shard_id, n_docs, total_chars, content_hash)."""
    return (
        _with_shard_cols(docs, hex_width)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("_rowhash").cast("long").alias("content_hash"),
        )
    )


@register(
    "q_training_shards",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, n_chars,
               md5(CAST(doc_id AS VARCHAR)) AS h,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 8) AS BIGINT)
                 AS rowhash
        FROM documents
    )
    SELECT CAST('0x' || substr(h, 1, {N_SHARD_HEX}) AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(rowhash) AS BIGINT) AS content_hash
    FROM t GROUP BY 1
    """,
    tags=("corpus", "shards", "manifest", "lifecycle"),
)
def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-shard MANIFEST as a relational query (no writing): for
    each of the 16 hash shards, its row count, char volume, and
    order-independent content hash. write_training_shards materializes the
    shards and persists exactly this table next to them; re-run determinism
    is the manifest being bit-identical run over run (pinned in
    tests/test_shards.py).

    Scale: one scan, narrow hash expressions, one groupBy(shard_id) with
    map-side partials — manifest rows = shard fanout, tiny.
    """
    return shard_manifest(load_table(spark, sf_dir, "documents"), N_SHARD_HEX)


def write_training_shards(
    spark: SparkSession,
    catalog,
    rel,
    docs: DataFrame,
    hex_width: int = N_SHARD_HEX,
    max_records_per_file: int = 1_000_000,
) -> DataFrame:
    """Materialize ``docs`` as hash shards under ``rel`` plus a
    ``<table>_manifest`` relation; returns the registered manifest view.

    Layout: ``rel.path/shard_id=K/part-*.parquet`` — one Spark partition
    dir per shard, rows within a shard written in global md5 order, file
    sizes bounded by maxRecordsPerFile. The shuffle is a hash repartition
    on shard_id (16^hex_width keys); at a 1000-executor scale raise
    hex_width so the fanout comfortably exceeds the cluster's write
    parallelism (256/4096 shards at width 2/3).

    Publish is write-to-temp + atomic swap (materialize._swap_into_place),
    and the manifest is CTAS'd through the catalog AFTER the data swap, so
    a reader that sees the new manifest always sees the new shards.

    The manifest is computed from the RE-READ written table, not from the
    input plan (ADVICE r7): the input executes exactly once, so a
    non-deterministic ``docs`` plan (sample/limit/non-deterministic UDF)
    still yields a manifest that describes the bytes actually on disk.
    """
    from ..materialize import _swap_into_place, create_table_as

    io = catalog.io
    tagged = _with_shard_cols(docs, hex_width)
    fs_dest = catalog.fs_path(rel)
    parent = posixpath.dirname(fs_dest)
    io.makedirs(parent)
    fs_tmp = io.join(parent, f".tmp_{rel.table}_{uuid.uuid4().hex[:8]}")
    (
        tagged.drop("_rowhash")
        .repartition("shard_id")
        .sortWithinPartitions("shard_id", "h")
        .drop("h")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("shard_id")
        .parquet(io.spark_url(fs_tmp))
    )
    _swap_into_place(io, fs_tmp, fs_dest)
    written = catalog.register_view(spark, rel).drop("shard_id")
    manifest_rel = catalog.relation(f"{rel.table}_manifest", schema=rel.schema)
    return create_table_as(
        spark, catalog, manifest_rel, shard_manifest(written, hex_width), single_file=True
    )


def append_delta_to_shards(
    spark: SparkSession,
    catalog,
    rel,
    delta: DataFrame,
    hex_width: int = N_SHARD_HEX,
    max_records_per_file: int = 1_000_000,
) -> DataFrame:
    """Append a delta batch into an EXISTING shard table and refresh its
    manifest — the O(delta) ingest path the hash-prefix sharding rule was
    chosen for: a new doc lands in the shard its hash dictates, no existing
    row moves, so the append writes only the delta's rows (mode=append into
    the per-shard partition dirs) and the new manifest is derivable without
    rescanning the old data.

    The refreshed manifest is computed as old manifest ⊎ delta manifest
    (sum-merge on shard_id — counts, char volumes and the order-independent
    content hashes are all additive), then CTAS-swapped. A full recompute
    over the combined table must agree bit-for-bit — pinned by
    tests/test_shards.py::test_append_delta_manifest_additivity.

    Single-execution discipline (ADVICE r7): the delta plan executes ONCE —
    into a staging dir; the delta manifest is computed from the STAGED
    FILES (read back), and the staged part files are then MOVED into the
    per-shard partition dirs (renames, no rewrite). A non-deterministic
    delta plan therefore cannot make the manifest disagree with the
    written rows.

    Caveat (documented, same as _swap_into_place): the per-file moves are
    not one atomic commit; a crash mid-move can leave orphan part files in
    shard dirs. The manifest swap happens only after every move succeeds,
    so the MANIFEST never over-counts; production object-store deployments
    should layer a manifest-commit table format for exactly-once appends.
    """
    from ..materialize import create_table_as

    io = catalog.io
    tagged = _with_shard_cols(delta, hex_width)
    fs_dest = catalog.fs_path(rel)
    parent = posixpath.dirname(fs_dest)
    fs_tmp = io.join(parent, f".tmp_{rel.table}_delta_{uuid.uuid4().hex[:8]}")
    (
        tagged.drop("_rowhash")
        .repartition("shard_id")
        .sortWithinPartitions("shard_id", "h")
        .drop("h")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("shard_id")
        .parquet(io.spark_url(fs_tmp))
    )
    staged = read_parquet(spark, io.spark_url(fs_tmp)).drop("shard_id")
    delta_manifest_rows = shard_manifest(staged, hex_width).collect()  # fanout-sized
    for entry in io.listdir(fs_tmp):
        if not entry.startswith("shard_id="):
            continue
        shard_dir = io.join(fs_dest, entry)
        io.makedirs(shard_dir)
        src_dir = io.join(fs_tmp, entry)
        for part in io.listdir(src_dir):
            if part.endswith(".parquet"):
                # Spark part names embed a per-job UUID -> no collisions
                io.rename(io.join(src_dir, part), io.join(shard_dir, part))
    io.rmtree(fs_tmp)
    catalog.register_view(spark, rel)
    manifest_rel = catalog.relation(f"{rel.table}_manifest", schema=rel.schema)
    old = catalog.read(spark, manifest_rel)
    merged = (
        old.unionByName(spark.createDataFrame(delta_manifest_rows, old.schema))
        .groupBy("shard_id")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_chars").cast("long").alias("total_chars"),
            F.sum("content_hash").cast("long").alias("content_hash"),
        )
    )
    return create_table_as(spark, catalog, manifest_rel, merged, single_file=True)


# Epochs in the registered demo; a trainer passes its real epoch count.
N_EPOCHS = 2


@register(
    "q_epoch_order",
    oracle=f"""
    WITH e AS (SELECT * FROM (VALUES (0), (1)) AS e(epoch)),
    t AS (
        SELECT e.epoch,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, {N_SHARD_HEX}) AS BIGINT)
                 AS shard_id,
               doc_id,
               md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS eh
        FROM documents, e
    )
    SELECT epoch, shard_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY epoch, shard_id
                              ORDER BY eh, doc_id) AS pos
    FROM t
    """,
    tags=("corpus", "shards", "epoch", "ordering"),
)
def q_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-epoch training order: every document's (shard,
    position) for each epoch, where within-shard order is md5(epoch:doc_id)
    — an independent deterministic permutation per epoch, identical in any
    engine, on any cluster size, under any input layout (the reshuffle a
    trainer needs between epochs WITHOUT trusting a RNG or a sort's
    stability). Shard assignment is the write_training_shards hash band, so
    this table maps 1:1 onto materialized shard files.

    Scale: one narrow pass + one rank per (epoch, shard) partition —
    corpus/fanout rows each (the hash bands are uniform by md5 avalanche;
    raise N_SHARD_HEX for more, smaller partitions). Epochs are a broadcast
    2-row frame; a trainer's epoch loop would instead run one epoch per
    invocation with epoch as a literal.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(N_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    both = docs.crossJoin(F.broadcast(epochs))
    shard = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, N_SHARD_HEX), 16, 10
    ).cast("long")
    eh = F.md5(
        F.concat(F.col("epoch").cast("string"), F.lit(":"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("epoch", "shard_id").orderBy("eh", "doc_id")
    return (
        both.select("epoch", shard.alias("shard_id"), "doc_id", eh.alias("eh"))
        .select("epoch", "shard_id", "doc_id", F.row_number().over(w).alias("pos"))
    )


N_CURRICULUM_BANDS = 16


@register(
    "q_curriculum_order",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, source, {QUALITY_PPM_SQL} AS quality FROM documents
    ),
    b AS (
        SELECT doc_id, source,
               CAST(quality * {N_CURRICULUM_BANDS} // 1000001 AS BIGINT) AS band
        FROM q
    )
    SELECT doc_id, source, band,
           ROW_NUMBER() OVER (PARTITION BY band, source
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
             AS src_rank
    FROM b
    """,
    tags=("corpus", "curriculum", "ordering", "training"),
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: every doc's difficulty band (16 uniform
    integer-ppm quality bands — high band = high quality = typically
    scheduled first) and its deterministic md5 rank WITHIN (band, source).
    A trainer sorting by (band DESC, src_rank, source) walks bands in
    difficulty order while INTERLEAVING sources inside each band (all
    src_rank=1 docs across sources, then src_rank=2, …) — no source
    monoculture batches, no RNG, identical on any engine or layout.

    Scale: one narrow pass + one rank per (band, source) partition —
    ~corpus/(bands*sources) rows each (the corpus.py band discipline)."""
    from pyspark.sql import Window

    from .corpus import quality_ppm_expr

    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        "source",
        (quality_ppm_expr() * N_CURRICULUM_BANDS)
        .cast("long")
        .alias("_q16"),
    ).select(
        "doc_id",
        "source",
        F.expr(f"_q16 div {1000001}").alias("band"),  # exact integer floor-div
    )
    w = Window.partitionBy("band", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return b.select(
        "doc_id", "source", "band", F.row_number().over(w).alias("src_rank")
    )
