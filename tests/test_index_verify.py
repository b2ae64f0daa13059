"""verify_pq_index — the index fsck must (a) pass a healthy index through
every lifecycle stage, (b) trip the SPECIFIC check for each injected
corruption: duplicated rows, a part file restored into the wrong cell
directory, a stale artifacts sidecar, and manifest coverage gaps, and (c)
load the manifest once per report."""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import functions as F

from dbt_parquet_spark import commitlog
from dbt_parquet_spark.operators.index_manifest import MANIFEST, _ifs, _load
from dbt_parquet_spark.sources.readers import load_table

from .conftest import SF_ORACLE


def _build_corpus(spark, tmp_path, n_base: int = 400):
    emb = load_table(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    base_dir = str(tmp_path / "corpus")
    emb.filter(F.col("vec_id") < n_base).write.parquet(
        f"{base_dir}/embeddings.parquet"
    )
    delta = emb.filter(F.col("vec_id") >= n_base)
    return base_dir, delta


def _status(report, check: str) -> str:
    rows = {r.check: r for r in report.collect()}
    return rows[check].status


def _commit_edit(handle, edit) -> None:
    """Commit the next manifest generation after ``edit(m)`` — how a
    botched writer gets a defect into the committed snapshot."""
    cfs, root = _ifs(handle)
    m = _load(cfs, root)
    edit(m)
    commitlog.commit(cfs, root, MANIFEST, m)


def test_verify_healthy_index_all_ok(spark, tmp_path):
    from dbt_parquet_spark.operators.index_verify import verify_pq_index
    from dbt_parquet_spark.operators.index_manifest import (
        append_to_pq_index,
        build_pq_index,
        compact_pq_index,
    )

    base_dir, delta = _build_corpus(spark, tmp_path)
    build_pq_index(spark, base_dir)

    rep = verify_pq_index(spark, base_dir).collect()
    by = {r.check: r for r in rep}
    for check in (
        "row_count",
        "unique_vec_id",
        "codes_shape",
        "cell_range",
        "cell_assignment",
        "codes_consistency",
        "artifacts_sidecar",
        # the base index is manifest-committed by its build
        "manifest_files",
        "manifest_coverage",
    ):
        assert by[check].status == "ok", (check, by[check])

    # the full mutation lifecycle stays verifiable: append then compact
    handle = append_to_pq_index(spark, base_dir, delta)
    handle = compact_pq_index(spark, base_dir, path=handle)
    rep2 = verify_pq_index(spark, base_dir, path=handle)
    bad = [r for r in rep2.collect() if r.status == "fail"]
    assert not bad, bad


def test_verify_detects_duplicate_rows(spark, tmp_path):
    from dbt_parquet_spark.operators.index_manifest import (
        append_to_pq_index,
        build_pq_index,
    )
    from dbt_parquet_spark.operators.index_verify import verify_pq_index

    base_dir, delta = _build_corpus(spark, tmp_path)
    build_pq_index(spark, base_dir)
    handle = append_to_pq_index(spark, base_dir, delta)
    # a replayed, non-idempotent writer: the same part file lands (and is
    # committed) twice
    part = glob.glob(os.path.join(handle, "cell=*", "*.parquet"))[0]
    shutil.copy(part, os.path.join(os.path.dirname(part), "part-replay.parquet"))
    cell = os.path.basename(os.path.dirname(part))[len("cell="):]
    _commit_edit(handle, lambda m: m["cells"][cell].append("part-replay.parquet"))

    rep = verify_pq_index(spark, base_dir, path=handle)
    assert _status(rep, "unique_vec_id") == "fail"
    # the duplicated rows are internally consistent — only uniqueness trips
    assert _status(rep, "cell_assignment") == "ok"
    assert _status(rep, "codes_consistency") == "ok"


def test_verify_detects_misplaced_part_file(spark, tmp_path):
    from dbt_parquet_spark.operators.index_manifest import (
        append_to_pq_index,
        build_pq_index,
    )
    from dbt_parquet_spark.operators.index_verify import verify_pq_index

    base_dir, delta = _build_corpus(spark, tmp_path)
    build_pq_index(spark, base_dir)
    handle = append_to_pq_index(spark, base_dir, delta)
    # a botched restore: one cell's part file ends up (committed) in
    # another cell's dir
    cell_dirs = sorted(glob.glob(os.path.join(handle, "cell=*")))
    assert len(cell_dirs) >= 2
    src = glob.glob(os.path.join(cell_dirs[0], "*.parquet"))[0]
    shutil.move(src, os.path.join(cell_dirs[1], "part-misplaced.parquet"))
    c0, c1 = (os.path.basename(d)[len("cell="):] for d in cell_dirs[:2])

    def restore(m):
        m["cells"][c0].remove(os.path.basename(src))
        m["cells"][c1].append("part-misplaced.parquet")

    _commit_edit(handle, restore)

    rep = verify_pq_index(spark, base_dir, path=handle)
    assert _status(rep, "cell_assignment") == "fail"
    # codes travel with the row — they still decode under the sidecar
    assert _status(rep, "codes_consistency") == "ok"
    assert _status(rep, "unique_vec_id") == "ok"


def test_verify_detects_stale_sidecar(spark, tmp_path):
    from dbt_parquet_spark.operators.index_manifest import (
        append_to_pq_index,
        build_pq_index,
    )
    from dbt_parquet_spark.operators.index_verify import verify_pq_index

    base_dir, delta = _build_corpus(spark, tmp_path)
    build_pq_index(spark, base_dir)
    handle = append_to_pq_index(spark, base_dir, delta)
    # a rebuild that re-encoded the codes but failed to refresh the sidecar
    # (simulated from the other side: perturb the committed artifacts'
    # codebooks)
    sidecar = os.path.join(handle, _load(*_ifs(handle))["artifacts"])
    with open(sidecar) as fh:
        art = json.load(fh)
    art["codebooks"][0][0][0] += 10.0
    with open(sidecar, "w") as fh:
        json.dump(art, fh)

    rep = verify_pq_index(spark, base_dir, path=handle)
    assert _status(rep, "codes_consistency") == "fail"
    assert _status(rep, "unique_vec_id") == "ok"


def test_verify_manifest_coverage_and_missing_files(spark, tmp_path):
    from dbt_parquet_spark.operators.index_manifest import (
        append_to_pq_index,
        build_pq_index,
    )
    from dbt_parquet_spark.operators.index_verify import verify_pq_index

    base_dir, delta = _build_corpus(spark, tmp_path)
    build_pq_index(spark, base_dir)
    handle = append_to_pq_index(spark, base_dir, delta)
    # a lost cache write leaves only the commit log: the manifest checks
    # still run against the newest commit
    os.remove(os.path.join(handle, MANIFEST))

    rep = verify_pq_index(spark, base_dir, path=handle)
    assert _status(rep, "manifest_files") == "ok"
    assert _status(rep, "manifest_coverage") == "ok"

    # crash debris: a staged file no manifest commit ever referenced
    cell_dir = sorted(glob.glob(os.path.join(handle, "cell=*")))[0]
    src = glob.glob(os.path.join(cell_dir, "*.parquet"))[0]
    shutil.copy(src, os.path.join(cell_dir, "part-orphan.parquet"))
    rep2 = verify_pq_index(spark, base_dir, path=handle)
    assert _status(rep2, "manifest_coverage") == "warn"
    assert _status(rep2, "manifest_files") == "ok"

    # data loss: a committed file vanishes
    os.remove(src)
    rep3 = verify_pq_index(spark, base_dir, path=handle)
    assert _status(rep3, "manifest_files") == "fail"


def test_verify_loads_the_manifest_once(spark, tmp_path, monkeypatch):
    """One report, one manifest load: codes, artifacts and file lists can
    then never come from different generations."""
    from dbt_parquet_spark.operators.index_manifest import build_pq_index
    from dbt_parquet_spark.operators.index_verify import verify_pq_index

    base_dir, _ = _build_corpus(spark, tmp_path)
    path = build_pq_index(spark, base_dir)
    calls = []
    load = commitlog.load
    monkeypatch.setattr(
        commitlog, "load", lambda *a, **k: (calls.append(a[2]), load(*a, **k))[1]
    )
    rep = verify_pq_index(spark, base_dir, path=path).collect()
    assert calls == [MANIFEST]
    assert all(r.status == "ok" for r in rep), rep


def test_registered_query_shape(spark):
    from dbt_parquet_spark.operators.index_verify import q_index_verify

    rep = q_index_verify(spark, SF_ORACLE)
    assert rep.columns == ["check", "status", "observed", "expected", "detail"]
    rows = rep.collect()
    assert {r.check for r in rows} >= {
        "row_count",
        "unique_vec_id",
        "codes_shape",
        "cell_range",
        "cell_assignment",
        "codes_consistency",
        "artifacts_sidecar",
    }
    assert all(r.status == "ok" for r in rows), rows
