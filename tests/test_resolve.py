"""The catalog's one file resolver (``catalog.resolve``) on a non-local
backend: ``memory://`` CatalogFS, no Spark. Which files a reader of each
relation kind opens — single file, flat and nested hive directories,
versioned and ANN index roots — and what it must skip."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from dbt_parquet_spark import commitlog
from dbt_parquet_spark.catalog import FilesystemCatalog
from dbt_parquet_spark.operators.index_manifest import MANIFEST
from dbt_parquet_spark.versioned import VERSIONS_MANIFEST


def test_resolver_listing_rules_on_memory_fs():
    cat = FilesystemCatalog(f"memory://resolve_{uuid.uuid4().hex[:8]}")
    io = cat.io

    def put(rel_path: str, n: int = 2) -> str:
        path = io.join(io.root, rel_path)
        io.makedirs(path.rsplit("/", 1)[0])
        with io.open_output(path) as fh:
            pq.write_table(pa.table({"x": list(range(n))}), fh)
        return path

    def files(table: str) -> list[str]:
        root = cat.fs_path(cat.relation(table))
        return [f[len(root) + 1:] for f in cat.snapshot(cat.relation(table)).files]

    one = put("one.parquet", n=3)
    assert cat.snapshot(cat.relation("one")).files == (one,)

    # flat and nested hive directories; Spark's reader skips `_`/`.` names
    # (markers, checksums, staging) unless a `_` name is a k=v partition
    for junk in ("_SUCCESS", ".part-0.parquet.crc", ".stage_ab12/part-9.parquet",
                 "_temporary/0/part-8.parquet", "k=1/.part-0.parquet.crc"):
        put(f"flat.parquet/{junk}")
        put(f"hive.parquet/{junk}")
    put("flat.parquet/part-0.parquet")
    put("hive.parquet/k=1/j=a/part-0.parquet")
    put("hive.parquet/k=2/j=b/part-1.parquet", n=5)
    put("hive.parquet/_k=3/part-2.parquet")
    assert files("flat") == ["part-0.parquet"]
    assert files("hive") == [
        "_k=3/part-2.parquet", "k=1/j=a/part-0.parquet", "k=2/j=b/part-1.parquet",
    ]
    st = cat.stats(cat.snapshot(cat.relation("hive")))
    assert (st.rows, st.files, st.row_groups) == (9, 3, 3)
    assert st.bytes == sum(io.getsize(f) for f in cat.snapshot(cat.relation("hive")).files)

    # a committed versioned root: the current version's files only, ref://
    # names resolved to their absolute path, DVs apart, the live row count
    vt = cat.fs_path(cat.relation("vt"))
    for name in ("v1-a.parquet", "v2-b.parquet", "dv2-c.parquet", ".stage_x/part-0.parquet"):
        put(f"vt.parquet/{name}")
    entry = {"columns": ["x"], "dtypes": {"x": "bigint"}}
    commitlog.commit(io, vt, VERSIONS_MANIFEST, {"current": 2, "versions": {
        "1": {**entry, "files": ["v1-a.parquet"], "rows": 2},
        "2": {**entry, "files": ["v2-b.parquet", f"ref://{one}"],
              "dv": ["dv2-c.parquet"], "rows": 4},
    }})
    snap = cat.snapshot(cat.relation("vt"))
    assert snap.files == (io.join(vt, "v2-b.parquet"), one)
    assert snap.dv == (io.join(vt, "dv2-c.parquet"),)
    assert (snap.rows, snap.columns) == (4, {"x": "bigint"})
    assert cat.stats(cat.snapshot(cat.relation("vt"))).rows == 4  # live, not the footers' 5
    # the same root with only its commit log (cache refresh lost) resolves alike
    io.remove_any(io.join(vt, VERSIONS_MANIFEST))
    assert cat.snapshot(cat.relation("vt")) == snap

    # an ANN index root: the committed cell= files, not staged or retired ones
    idx = cat.fs_path(cat.relation("idx"))
    for name in ("cell=0/a.parquet", "cell=1/b.parquet", "cell=1/retired.parquet"):
        put(f"idx.parquet/{name}")
    commitlog.commit(io, idx, MANIFEST, {"cells": {"1": ["b.parquet"], "0": ["a.parquet"]}})
    assert files("idx") == ["cell=0/a.parquet", "cell=1/b.parquet"]

    # a missing relation resolves to nothing
    assert cat.snapshot(cat.relation("nope")).files == ()
