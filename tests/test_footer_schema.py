"""Schemas and row counts from parquet footers on the dbt lifecycle path.

Spark records its exact write schema in every parquet footer
(``readers.SPARK_SCHEMA_KEY``). ``read_parquet`` hands that schema to
``spark.read.schema`` instead of letting Spark infer it with a job. A single
file another tool wrote (pyarrow, DuckDB) whose columns are flat and of
mapped types gets the schema Spark would infer, built on the driver from
its parquet schema under the caller's session confs. Either way the
catalog's views, columns and docs run no Spark job, and ``Project.run``
runs only its models' writes. Directories and every other foreign file
keep Spark's inference, with its own errors. Jobs are counted by job
group."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from dbt_parquet_spark.catalog import FilesystemCatalog
from dbt_parquet_spark.materialize import create_table_as, load_seed
from dbt_parquet_spark.sources import readers
from dbt_parquet_spark.sources.readers import _footer_probe, read_parquet, resolve_path

from .conftest import SF_ORACLE, SF_SMALL, spark_jobs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_jobs(spark, last: int = 64) -> dict[int, int]:
    """job id -> SQL execution id, for the jobs of the ``last`` retained SQL
    executions that write files."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    execs = store.executionsList(max(0, n - last), min(n, last))
    out = {}
    for i in range(execs.size()):
        e = execs.apply(i)
        if "InsertIntoHadoopFsRelationCommand" not in e.physicalPlanDescription():
            continue
        ids = e.jobs().keys().iterator()
        while ids.hasNext():
            out[int(ids.next())] = e.executionId()
    return out


def _inferred_read(spark, path, ns=()):
    """A read with Spark's own schema inference, normalised as
    ``read_parquet`` normalises it (ns longs to micros, TIMESTAMP_NTZ to
    TIMESTAMP)."""
    df = spark.read.parquet(path)
    for c in ns:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _inferred(spark, path, ns=()):
    return _inferred_read(spark, path, ns).schema


# each case function writes one relation into the catalog and returns it
def _single_file(spark, cat, tmp_path):
    rel = cat.relation("single")
    create_table_as(spark, cat, rel, spark.sql(
        "SELECT 1 AS i, 'a' AS s, 2.5D AS d, CAST(3.25 AS DECIMAL(10,2)) AS dec, "
        "DATE'2024-01-02' AS dt, TIMESTAMP'2024-01-02 03:04:05' AS ts, "
        "array(1, 2) AS arr, map('k', 1L) AS m, named_struct('a', 1, 'b', 'x') AS st, "
        "CAST(NULL AS STRING) AS n"), single_file=True)
    return rel


def _part_files(spark, cat, tmp_path):
    rel = cat.relation("parts")
    create_table_as(spark, cat, rel, spark.range(20).repartition(3).withColumn(
        "s", F.col("id").cast("string")))
    return rel


def _hive_partitioned(spark, cat, tmp_path):
    rel = cat.relation("hive")
    create_table_as(spark, cat, rel, spark.range(30).selectExpr(
        "id", "id % 3 AS p", "CAST('2024-01-01 10:00:00' AS TIMESTAMP_NTZ) AS ntz"),
        partition_by=["p"])
    return rel


def _seed_with_time(spark, cat, tmp_path):
    csv = tmp_path / "shifts.csv"
    csv.write_text("id,shift_start,at\n1,09:30:00,2024-01-01 10:00:00\n2,17:45:10,2024-01-02 11:00:00\n")
    rel = cat.relation("shifts")
    load_seed(spark, cat, str(csv), rel)
    return rel


def _ntz_model(spark, cat, tmp_path):
    rel = cat.relation("ntz_model")
    create_table_as(spark, cat, rel, "SELECT 1 AS id, TIMESTAMP_NTZ'2024-01-01 10:00:00' AS t")
    return rel


def _ann_index(spark, cat, tmp_path):
    from dbt_parquet_spark.operators.index_manifest import build_pq_index
    from dbt_parquet_spark.sources.readers import load_table

    base_dir = str(tmp_path / "corpus")
    load_table(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding").filter(
        F.col("vec_id") < 400).write.parquet(f"{base_dir}/embeddings.parquet")
    rel = cat.relation("midx")
    build_pq_index(spark, base_dir, catalog=cat, rel=rel)
    return rel


SPARK_WRITTEN = {
    "single_file": _single_file,
    "part_files": _part_files,
    "hive_partitioned": _hive_partitioned,
    "seed_with_time": _seed_with_time,
    "ntz_model": _ntz_model,
    "ann_index": _ann_index,
}


@pytest.mark.parametrize("case", list(SPARK_WRITTEN))
def test_footer_schema_equals_inferred(spark, tmp_path, case):
    """For every layout Spark writes, the footer schema is the schema Spark
    infers, normalised the same way, and reading it runs no job."""
    cat = FilesystemCatalog(str(tmp_path / "db"))
    rel = SPARK_WRITTEN[case](spark, cat, tmp_path)
    assert _footer_probe(*resolve_path(rel.path))[1] is not None
    jobs = spark_jobs(spark, lambda: read_parquet(spark, rel.path).schema)
    got = read_parquet(spark, rel.path).schema
    if case == "ann_index":
        # an index root reads its committed cells, the cell as a long
        committed = cat.snapshot(rel).files
        assert got == spark.read.option("basePath", rel.path).parquet(*committed).withColumn(
            "cell", F.col("cell").cast("long")).schema
    else:
        assert got == _inferred(spark, rel.path)
    assert jobs == []
    types = dict((f.name, f.dataType.simpleString()) for f in got.fields)
    if case == "hive_partitioned":
        assert list(types) == ["id", "ntz", "p"]  # partition column appended
        assert types["ntz"] == "timestamp"
    elif case == "seed_with_time":
        assert types == {"id": "int", "shift_start": "string", "at": "timestamp"}
    elif case == "ntz_model":
        assert types["t"] == "timestamp"
    elif case == "ann_index":
        assert "cell" in types and cat.snapshot(rel).kind == "index"


def test_pyarrow_file_reads_footer_schema(spark, tmp_path):
    """A file another tool wrote carries no Spark schema: its schema comes
    from its parquet schema on the driver, with no job, and equals Spark's
    inference plus the TIMESTAMP(NANOS) conversion."""
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_000],
                       pa.timestamp("ns", tz="UTC")),
    }), path)
    assert _footer_probe(*resolve_path(path)) == (["ts"], None, (("id", "long"), ("ts", "long")))
    assert spark_jobs(spark, lambda: read_parquet(spark, path).schema) == []
    got = read_parquet(spark, path).schema
    assert got == _inferred(spark, path, ns=("ts",))
    assert got["ts"].dataType.simpleString() == "timestamp"


# every type the footer mapping covers, as pyarrow writes it
MAPPED = pa.table({
    "bool": pa.array([True, None]),
    "i8": pa.array([-1, 2], pa.int8()),
    "i16": pa.array([-300, 2], pa.int16()),
    "i32": pa.array([-70_000, 2], pa.int32()),
    "i64": pa.array([-(2**40), 2], pa.int64()),
    "day": pa.array([19_000, None], pa.date32()),
    "ts_ms": pa.array([1_700_000_000_123, 0], pa.timestamp("ms")),
    "ts_us": pa.array([1_700_000_000_123_456, 0], pa.timestamp("us")),
    "ts_us_utc": pa.array([1_700_000_000_123_456, 0], pa.timestamp("us", tz="UTC")),
    "ts_ms_utc": pa.array([1_700_000_000_123, 0], pa.timestamp("ms", tz="UTC")),
    "ts_ns": pa.array([1_700_000_000_123_456_789, 0], pa.timestamp("ns")),
    "f32": pa.array([1.5, None], pa.float32()),
    "f64": pa.array([2.25, -0.0], pa.float64()),
    "s": pa.array(["a", None]),
    "b": pa.array([b"\x00\xff", b"x"]),
    "Mixed Case.col": pa.array([1, 2], pa.int64()),
})

SESSION_CONFS = {
    "default": {},
    "ntz_off": {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"},
    "binary_as_string": {"spark.sql.parquet.binaryAsString": "true"},
}


def _with_confs(spark, confs, fn):
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        return fn()
    finally:
        for k in confs:
            spark.conf.unset(k)


def test_mapped_types_read_footer_schema_under_session_confs(spark, tmp_path):
    """One pyarrow file of every mapped type, read under default confs,
    with NTZ inference off and with binary read as string, in that order:
    each read's schema and rows equal Spark's own inference under the same
    confs and run no job, though the footer facts are memoised from the
    first read."""
    path = str(tmp_path / "mapped.parquet")
    pq.write_table(MAPPED, path)
    for confs in SESSION_CONFS.values():
        def check():
            jobs = spark_jobs(spark, lambda: read_parquet(spark, path).schema)
            ours, theirs = read_parquet(spark, path), _inferred_read(spark, path, ns=("ts_ns",))
            assert ours.schema == theirs.schema
            assert sorted(map(repr, ours.collect())) == sorted(map(repr, theirs.collect()))
            return jobs
        assert _with_confs(spark, confs, check) == []
    types = dict((f.name, f.dataType.simpleString()) for f in read_parquet(spark, path).schema)
    assert types["i8"] == "tinyint" and types["i16"] == "smallint" and types["b"] == "binary"


def test_duckdb_file_reads_footer_schema(spark, tmp_path):
    """DuckDB annotates its integers (Int(32, signed), Int(64, signed)); the
    file reads with no job and Spark's inferred schema."""
    import duckdb

    path = str(tmp_path / "duck.parquet")
    duckdb.connect().execute(
        "COPY (SELECT 1::INTEGER i, 2::BIGINT b, 3::TINYINT t, 4::SMALLINT s, 'x' v, "
        "DATE '2024-01-01' d, TIMESTAMP '2024-01-01 10:00:00' ts, "
        "TIMESTAMPTZ '2024-01-01 10:00:00+00' tz, 1.5::FLOAT f, 2.5::DOUBLE g, true bo, "
        f"'ab'::BLOB bl) TO '{path}' (FORMAT PARQUET)")
    assert spark_jobs(spark, lambda: read_parquet(spark, path).schema) == []
    assert read_parquet(spark, path).schema == _inferred(spark, path)


FALLBACK = {
    "uint32": pa.array([1, 2], pa.uint32()),
    "decimal": pa.array([1, 2], pa.decimal128(10, 2)),
    "list": pa.array([[1], [2, 3]], pa.list_(pa.int64())),
    "struct": pa.array([{"a": 1}, {"a": 2}], pa.struct([("a", pa.int64())])),
    "fixed_binary": pa.array([b"ab", b"cd"], pa.binary(2)),
}


@pytest.mark.parametrize("kind", list(FALLBACK))
def test_unmapped_types_keep_spark_inference(spark, tmp_path, kind):
    """A column outside the mapping leaves the whole file to Spark's
    inference, and the schema is Spark's."""
    path = str(tmp_path / f"{kind}.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64()), kind: FALLBACK[kind]}), path)
    assert _footer_probe(*resolve_path(path))[2] is None
    assert read_parquet(spark, path).schema == _inferred(spark, path)


def test_field_ids_and_int96_keep_spark_inference(spark, tmp_path):
    """Field ids (Spark carries them as field metadata) and INT96 timestamps
    are left to Spark's inference too."""
    ids = str(tmp_path / "ids.parquet")
    schema = pa.schema([pa.field("a", pa.int64(), metadata={b"PARQUET:field_id": b"7"})])
    pq.write_table(pa.table({"a": [1, 2]}, schema=schema), ids)
    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(pa.table({"t": pa.array([1, 2], pa.timestamp("us"))}), int96,
                   use_deprecated_int96_timestamps=True)
    for path in (ids, int96):
        assert _footer_probe(*resolve_path(path))[2] is None
        assert read_parquet(spark, path).schema == _inferred(spark, path)


def test_time_column_raises_spark_error(spark, tmp_path):
    """A TIME column is not mapped, so the read raises the error Spark's
    own inference raises."""
    path = str(tmp_path / "time.parquet")
    pq.write_table(pa.table({"t": pa.array([1, 2], pa.time64("us"))}), path)
    with pytest.raises(AnalysisException) as ours:
        read_parquet(spark, path)
    with pytest.raises(AnalysisException) as spark_own:
        spark.read.parquet(path)
    assert ours.value.getCondition() == spark_own.value.getCondition() == "PARQUET_TYPE_ILLEGAL"


def test_merge_schema_still_unions_evolved_append(spark, tmp_path):
    from dbt_parquet_spark.incremental import incremental_append

    cat = FilesystemCatalog(str(tmp_path / "db"))
    rel = cat.relation("evolving")
    incremental_append(spark, cat, rel, spark.range(5).select("id", F.lit("a").alias("source")))
    incremental_append(spark, cat, rel, spark.range(5, 8).select(
        "id", F.lit("b").alias("source"), F.lit(0.5).alias("quality")), schema_evolution=True)
    merged = read_parquet(spark, rel.path, merge_schema=True)
    assert set(merged.columns) == {"id", "source", "quality"}
    assert merged.filter(F.col("quality").isNull()).count() == 5


def test_empty_directory_raises_spark_inference_error(spark, tmp_path):
    """No data file, no footer: the read raises Spark's own error."""
    path = tmp_path / "empty.parquet"
    path.mkdir()
    with pytest.raises(AnalysisException) as ours:
        read_parquet(spark, str(path))
    with pytest.raises(AnalysisException) as spark_own:
        spark.read.parquet(str(path))
    assert ours.value.getCondition() == spark_own.value.getCondition() == "UNABLE_TO_INFER_SCHEMA"
    assert str(ours.value) == str(spark_own.value)


def test_views_columns_and_docs_run_no_spark_job(spark, tmp_path):
    """Over Spark-written plain, part-file, hive-partitioned, versioned
    (with a deletion vector) and ANN index relations, and a flat file
    pyarrow wrote, registering views, ``get_columns`` and ``docs_artifact``
    are footer and manifest reads only."""
    from dbt_parquet_spark.versioned import delete_versioned, write_versioned

    cat = FilesystemCatalog(str(tmp_path / "db"))
    _single_file(spark, cat, tmp_path)
    _part_files(spark, cat, tmp_path)
    _hive_partitioned(spark, cat, tmp_path)
    vrel = cat.relation("versioned")
    write_versioned(spark, cat, vrel, spark.range(10))
    delete_versioned(spark, cat, vrel, F.col("id") < 3, mode="mor")
    irel = _ann_index(spark, cat, tmp_path)
    # a flat file another tool wrote: its schema comes from its parquet schema
    pq.write_table(pq.read_table(os.path.join(SF_SMALL, "events.parquet")),
                   cat.relation("pa_events").path)
    rels = [r for s in cat.list_schemas() for r in cat.list_relations(s)]
    assert len(rels) == 6

    assert spark_jobs(spark, lambda: cat.register_all_views(spark)) == []
    assert spark_jobs(spark, lambda: [cat.get_columns(spark, r) for r in rels]) == []
    docs = {}
    assert spark_jobs(spark, lambda: docs.update(cat.docs_artifact(spark))) == []
    node = docs["nodes"]["model.dbt_parquet_spark.versioned"]
    assert node["stats"]["num_rows"]["value"] == 7
    assert list(node["columns"]) == ["id"]
    assert spark.table("versioned").count() == 7
    assert cat.get_columns(spark, irel)["cell"].dataType.simpleString() == "bigint"
    node = docs["nodes"]["model.dbt_parquet_spark.midx"]
    assert node["columns"]["cell"]["type"] == "bigint"
    assert node["stats"]["num_rows"]["value"] == spark.table("midx").count() == 400
    assert spark.table("pa_events").schema == _inferred(
        spark, cat.relation("pa_events").path)


class _RecordingFS(pafs.LocalFileSystem):
    """A local filesystem that records the files opened through it and
    counts its calls as object-store GETs and LISTs."""

    def __init__(self):
        super().__init__()
        self.opened: list[str] = []
        self.gets = self.lists = 0

    def get_file_info(self, paths_or_selector):
        if isinstance(paths_or_selector, pafs.FileSelector):
            self.lists += 1
        else:
            self.gets += len(paths_or_selector) if isinstance(paths_or_selector, list) else 1
        return super().get_file_info(paths_or_selector)

    def open_input_file(self, path):
        self.opened.append(path)
        self.gets += 1
        return super().open_input_file(path)

    def open_input_stream(self, path, *args, **kwargs):
        self.gets += 1
        return super().open_input_stream(path, *args, **kwargs)


def test_versioned_view_loads_manifest_once(spark, tmp_path):
    """A versioned relation's view scans the snapshot ``resolve`` gives, so
    its manifest loads once: the resolve's type probe and its one LIST,
    then the cache GET and the two commit-log probes of one load."""
    from dbt_parquet_spark.versioned import write_versioned

    cat = FilesystemCatalog(str(tmp_path / "db"))
    rel = cat.relation("versioned")
    write_versioned(spark, cat, rel, spark.range(10))
    fs = cat.io.fs = _RecordingFS()
    cat.register_view(spark, rel)
    assert (fs.gets, fs.lists) == (4, 1)
    assert spark.table("versioned").count() == 10


def test_footer_probes_open_through_catalog_io(spark, tmp_path):
    """The footer that ``get_columns``, a view and a docs node probe is
    opened through ``catalog.io``, so a counting filesystem there sees it:
    each relation's first resolved file once, plus every file's footer for
    the docs stats."""
    cat = FilesystemCatalog(str(tmp_path / "db"))
    rels = [case(spark, cat, tmp_path) for case in (_single_file, _part_files, _hive_partitioned)]
    firsts = sorted(cat.snapshot(r).files[0] for r in rels)
    every = sorted(f for r in rels for f in cat.snapshot(r).files)
    fs = cat.io.fs = _RecordingFS()

    def opened(fn) -> list[str]:
        readers._FOOTER_MEMO.clear()  # a memo hit opens nothing
        fs.opened.clear()
        fn()
        return sorted(fs.opened)

    assert opened(lambda: [cat.get_columns(spark, r) for r in rels]) == firsts
    assert opened(lambda: cat.register_all_views(spark)) == firsts
    assert opened(lambda: cat.docs_artifact(spark)) == sorted(every + firsts)


def test_project_run_jobs_are_model_writes_only(spark, tmp_path):
    """Job-count gate for ``Project.run`` over examples/analytics/models
    with the pyarrow-written ``events`` as its source: no count job and no
    schema-inference job, only the four models' writes (12 jobs: adaptive
    execution runs each write's shuffle stages as jobs of their own). A
    no-op ``state="modified"`` rerun runs none."""
    import shutil

    from dbt_parquet_spark.project import Project

    cat = FilesystemCatalog(str(tmp_path / "db"))
    os.makedirs(cat.database, exist_ok=True)
    shutil.copy(os.path.join(SF_SMALL, "events.parquet"), cat.relation("events").path)
    assert _footer_probe(*resolve_path(cat.relation("events").path))[1] is None
    project = Project.from_dir(cat, os.path.join(REPO, "examples/analytics/models"))
    results = {}
    jobs = spark_jobs(spark, lambda: results.update(project.run(spark, threads=4)))
    writes = _write_jobs(spark)
    assert [j for j in jobs if j not in writes] == []
    assert len({writes[j] for j in jobs}) == len(results) == 4
    assert len(jobs) == 12
    for name, r in results.items():
        assert r.rows == spark.table(name).count()
    assert spark_jobs(spark, lambda: project.run(spark, threads=4, state="modified")) == []
