"""Integrity verification (fsck) for the materialized IVF-PQ ANN index.

The index lifecycle mutates a lake table in place: builds commit it,
appends commit new part files inside live ``cell=`` directories, compaction
rewrites cells, rebuilds retrain and re-encode, and streaming ingest replays
micro-batches — every one of them stages files, then commits a manifest
(operators/index_manifest.py). Every one of those writers is individually
tested — but a 100 TB index outlives any one writer, and the failure modes
that survive testing are OPERATIONAL: a replayed job that wasn't idempotent
(duplicate vec_ids), a file restored into the wrong partition directory
(cell no longer matches its vectors), a rebuild that swapped codes but left
a stale artifacts sidecar (codes no longer decodable with the shipped
codebooks), crash debris no manifest references. ``verify_pq_index`` is
the one-pass audit that catches all of them: ONE distributed scan of the
index recomputes every row's cell assignment and PQ codes from the stored
vector under the sidecar artifacts and compares them to what the file
claims, plus driver-side footer/sidecar/manifest structure checks. Output
is a tiny per-check report frame — the shape a scheduler alerts on.

This module is part of the beyond-reference LLM-pipeline surface (the
reference adapter, AlexanderVR/dbt-parquet, has no index machinery — its
storage layer is one parquet file per relation, README.md:49); it completes
the index lifecycle story: build / append / compact / rebuild / monitor
(q_index_recall_audit) / VERIFY.

Scale: the distributed pass is map-only over the index (assign + re-encode
are the same Arrow matmul / JVM expressions the writers use, KB-scale
closures) feeding one global aggregate — no join, no base-table read, and
the countDistinct is the only shuffle. Cost is one index scan, i.e. the
same as one un-probed query — an audit job, not a serving-path cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..registry import register

REPORT_SCHEMA = StructType(
    [
        StructField("check", StringType(), False),
        StructField("status", StringType(), False),
        StructField("observed", LongType(), True),
        StructField("expected", LongType(), True),
        StructField("detail", StringType(), False),
    ]
)

# status vocabulary: ok | fail | warn
#  - warn: not corruption, but attention-worthy (crash orphans awaiting
#    manifest_vacuum)


def _report_row(check: str, ok, observed, expected, detail: str, warn: bool = False):
    status = "ok" if ok else ("warn" if warn else "fail")
    return (
        check,
        status,
        int(observed) if observed is not None else None,
        int(expected) if expected is not None else None,
        detail,
    )


def verify_pq_index(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> DataFrame:
    """One-pass integrity audit of a materialized IVF-PQ index. ``path``
    is any index handle (build/append/compact/rebuild all return one);
    omitted, the immutable base index is verified (built on first touch).

    Checks, in report order:
    - ``row_count``        index is non-empty
    - ``unique_vec_id``    no duplicate vectors (non-idempotent replay)
    - ``codes_shape``      every codes array is PQ_M codes in [0, PQ_K)
    - ``cell_range``       every partition cell is a fitted centroid's
    - ``cell_assignment``  each row's directory == argmax-cosine cell of
                           its stored vector under the sidecar centroids
    - ``codes_consistency`` stored codes == re-encode of the stored vector
                           under the sidecar codebooks (stale-sidecar /
                           foreign-codes detector)
    - ``artifacts_sidecar`` sidecar present and dimensionally valid
    - ``manifest_files``   every committed file exists on disk
    - ``manifest_coverage`` on-disk data files are committed or retired
                           (orphans → warn: vacuum's job, not corruption)
    """
    from dataclasses import replace

    from ..sources.readers import scan
    from .index_manifest import _artifacts, _open, _snapshot
    from .kmeans import assign_udf
    from .similarity import PQ_K, PQ_M, _books_literal, _pq_encode

    # one manifest load for the whole report: codes, artifacts and file
    # lists all come from the same committed generation. All filesystem IO
    # goes through the catalog's pyarrow.fs layer, so the fsck works on
    # file:// / s3:// roots too.
    cfs, root, m = _open(spark, sf_dir, path)
    cents, books = _artifacts(cfs, root, m)

    # scan what READERS of this index observe: the committed snapshot
    # (staged/orphan files are invisible there — they're the manifest
    # checks' job). Committed-but-missing files are the data-loss case
    # manifest_files reports; the scan must survive them, so it reads the
    # existing subset rather than read_pq_index's strict file list.
    snap = _snapshot(cfs, root, m)
    snap = replace(snap, files=tuple(f for f in snap.files if cfs.exists(f)))
    if not snap.files:  # total data loss: nothing left to scan
        rows = [_report_row("row_count", False, 0, None, "index rows scanned")]
        rows.append(_verify_sidecar(cents, books))
        rows.extend(_verify_manifest(cfs, root, m, 0))
        return spark.createDataFrame(rows, REPORT_SCHEMA)
    idx = scan(spark, cfs, snap)[0]
    renamed = idx.select(
        "vec_id",
        "embedding",
        F.col("codes").alias("stored_codes"),
        F.col("cell").alias("stored_cell"),
    )
    # re-encode the stored vector with the sidecar codebooks (same JVM
    # expression the writers use) and re-assign with the sidecar centroids
    # (same Arrow matmul); both ride the one scan.
    enc = _pq_encode(renamed, _books_literal(books), keep_embedding=True)
    checked = enc.select(
        "vec_id",
        "stored_cell",
        "stored_codes",
        F.col("codes").eqNullSafe(F.col("stored_codes")).alias("codes_ok"),
        assign_udf(cents)(F.col("embedding")).eqNullSafe(F.col("stored_cell")).alias(
            "cell_ok"
        ),
        (
            F.col("stored_codes").isNotNull()
            & (F.size("stored_codes") == PQ_M)
            & (F.array_min("stored_codes") >= 0)
            & (F.array_max("stored_codes") < PQ_K)
        ).alias("shape_ok"),
    )
    def _bad(flag: str):  # SUM over an empty frame is NULL, not 0
        return F.coalesce(F.sum(F.when(~F.col(flag), 1).otherwise(0)), F.lit(0))

    agg = checked.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("vec_id").alias("distinct_ids"),
        _bad("codes_ok").alias("codes_bad"),
        _bad("cell_ok").alias("cell_bad"),
        _bad("shape_ok").alias("shape_bad"),
        F.min("stored_cell").alias("cell_min"),
        F.max("stored_cell").alias("cell_max"),
    ).collect()[0]

    rows = [
        _report_row(
            "row_count", agg.rows > 0, agg.rows, None, "index rows scanned"
        ),
        _report_row(
            "unique_vec_id",
            agg.distinct_ids == agg.rows,
            agg.distinct_ids,
            agg.rows,
            "distinct vec_id vs rows — duplicates mean a non-idempotent replay",
        ),
        _report_row(
            "codes_shape",
            agg.shape_bad == 0,
            agg.shape_bad,
            0,
            f"rows whose codes are not {PQ_M} ints in [0, {PQ_K})",
        ),
        _report_row(
            "cell_range",
            agg.rows == 0 or (agg.cell_min >= 1 and agg.cell_max <= len(cents)),
            agg.cell_max if agg.rows else 0,
            len(cents),
            "partition cells within the fitted centroid range [1, n_cells]",
        ),
        _report_row(
            "cell_assignment",
            agg.cell_bad == 0,
            agg.cell_bad,
            0,
            "rows whose directory disagrees with argmax-cosine under the "
            "sidecar centroids — misplaced part files",
        ),
        _report_row(
            "codes_consistency",
            agg.codes_bad == 0,
            agg.codes_bad,
            0,
            "rows whose stored codes differ from a re-encode under the "
            "sidecar codebooks — stale sidecar or foreign codes",
        ),
    ]
    rows.append(_verify_sidecar(cents, books))
    rows.extend(_verify_manifest(cfs, root, m, len(snap.files)))
    return spark.createDataFrame(rows, REPORT_SCHEMA)


def _verify_sidecar(cents, books):
    from .similarity import PQ_K, PQ_M, PQ_SUB

    dims_ok = (
        len(books) == PQ_M
        and all(len(b) == PQ_K for b in books)
        and all(len(c) == PQ_SUB for b in books for c in b)
        and len(cents) >= 1
        and len({len(c) for c in cents}) == 1
    )
    return _report_row(
        "artifacts_sidecar",
        dims_ok,
        len(books),
        PQ_M,
        f"sidecar present; codebooks {PQ_M}x{PQ_K}x{PQ_SUB}, "
        f"{len(cents)} centroids",
    )


def _verify_manifest(cfs, root: str, m: dict, present: int):
    """``present``: how many committed files were found on disk."""
    committed = {
        (c, f) for c, files in m["cells"].items() for f in files
    }
    retired = {(c, f) for c, f in m.get("retired", [])}
    missing = len(committed) - present
    on_disk = set()
    for entry in cfs.listdir(root):
        if not entry.startswith("cell="):
            continue
        cell = entry[len("cell="):]
        for e in cfs.listdir(cfs.join(root, entry)):
            if e.endswith(".parquet"):
                on_disk.add((cell, e))
    orphans = sorted(on_disk - committed - retired)
    return [
        _report_row(
            "manifest_files",
            not missing,
            present,
            len(committed),
            "committed files present on disk — a miss means data loss",
        ),
        _report_row(
            "manifest_coverage",
            not orphans,
            len(orphans),
            0,
            "uncommitted, unretired data files — crash debris for "
            "manifest_vacuum, invisible to readers",
            warn=True,
        ),
    ]


@register(
    "q_index_verify",
    tags=("similarity", "ann", "audit", "ivf", "pq", "lifecycle"),
)
def q_index_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered form: verify the immutable base index for the corpus.
    Rows-only driver check (the report audits an index this engine built in
    a process tempdir — there is no DuckDB-visible substrate); the
    corruption-detection power is pinned by tests/test_index_verify.py,
    which injects duplicate rows, misplaced part files, and a tampered
    sidecar and asserts each specific check trips."""
    return verify_pq_index(spark, sf_dir)
