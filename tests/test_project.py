"""Project-runner lifecycle: the reference's dbt-run flow (seed → models in
DAG order → equality/generic tests; reference test_basic.py:24-67) plus
concurrent independent models (reference test_concurrency.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from dbt_parquet_spark.catalog import FilesystemCatalog
from dbt_parquet_spark.diff import relations_equal
from dbt_parquet_spark.materialize import create_table_as
from dbt_parquet_spark.project import Model, Project


@pytest.fixture()
def db(tmp_path):
    return FilesystemCatalog(str(tmp_path))


def _seed_source(spark, db):
    db.create_schema("source_schema")
    animals = spark.createDataFrame(
        [(2, "Flamingo"), (4, "Horse"), (5, "Brittle stars"), (100, "Centipede")],
        "n_legs: long, animals: string",
    )
    create_table_as(spark, db, db.relation("animals", "source_schema"), animals, single_file=True)


def test_dag_run_with_refs_and_sources(spark, db):
    _seed_source(spark, db)
    project = Project(db)
    project.add(
        Model(
            "animals_str",
            "SELECT CAST(n_legs AS STRING) AS n_legs, animals "
            "FROM {{ source('source_schema', 'animals') }}",
        )
    )
    project.add(Model("bipeds", "SELECT * FROM {{ ref('animals_str') }} WHERE n_legs = '2'"))
    project.add(Model("stats", "SELECT COUNT(*) AS n FROM {{ ref('animals_str') }}"))

    assert project.dag_order().index("animals_str") < project.dag_order().index("bipeds")
    results = project.run(spark, threads=3)
    assert results["animals_str"].rows == 4
    assert results["bipeds"].rows == 1
    assert results["stats"].rows == 1
    assert spark.table("bipeds").first().animals == "Flamingo"


def test_rerun_swaps_table_contents(spark, db):
    """dbt's re-run-with-var-swap shape (reference test_basic.py:58-65):
    rerunning a changed model atomically replaces the table."""
    _seed_source(spark, db)
    project = Project(db)
    project.add(Model("m", "SELECT * FROM {{ source('source_schema', 'animals') }} WHERE n_legs < 10"))
    assert project.run(spark)["m"].rows == 3
    project.add(Model("m", "SELECT * FROM {{ source('source_schema', 'animals') }}"))
    assert project.run(spark)["m"].rows == 4


def test_check_relations_equal(spark, db):
    """The reference harness's equality check driven through the runner
    (reference test_basic.py:51 → impl.py:251-278)."""
    _seed_source(spark, db)
    project = Project(db)
    project.add(Model("copy_a", "SELECT * FROM {{ source('source_schema', 'animals') }}"))
    project.add(Model("copy_b", "SELECT * FROM {{ ref('copy_a') }}"))
    project.run(spark)
    assert relations_equal(spark.table("copy_a"), spark.table("copy_b"))


def test_generic_tests(spark, db):
    _seed_source(spark, db)
    project = Project(db)
    project.add(Model("m", "SELECT * FROM {{ source('source_schema', 'animals') }}"))
    project.run(spark)
    assert project.test_unique(spark, "m", "n_legs") == 0
    assert project.test_not_null(spark, "m", "animals") == 0
    project.add(Model("dupes", "SELECT 1 AS x UNION ALL SELECT 1 UNION ALL SELECT 2"))
    project.run(spark)
    assert project.test_unique(spark, "dupes", "x") == 1


def test_accepted_values_and_relationships(spark, db):
    """The other half of dbt's standard generic-test quartet."""
    project = Project(db)
    project.add(Model("parents", "SELECT id AS pid FROM RANGE(10)"))
    project.add(
        Model(
            "children",
            "SELECT id AS cid, id % 12 AS pid, "
            "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS kind FROM RANGE(24)",
        )
    )
    project.run(spark)
    assert project.test_accepted_values(spark, "children", "kind", ["a", "b"]) == 0
    assert project.test_accepted_values(spark, "children", "kind", ["a"]) == 12
    # pids 10 and 11 have no parent: ids 10,11,22,23 violate
    assert project.test_relationships(spark, "children", "pid", "parents", "pid") == 4


def test_concurrent_independent_models(spark, db):
    """Many independent models through the thread pool (reference
    test_concurrency.py semantics)."""
    project = Project(db)
    for i in range(8):
        project.add(Model(f"m{i}", f"SELECT id, id * {i} AS v FROM RANGE(100)"))
    results = project.run(spark, threads=4)
    assert len(results) == 8
    for i in range(8):
        assert results[f"m{i}"].rows == 100
        assert spark.table(f"m{i}").agg(F.sum("v")).first()[0] == 4950 * i


def test_from_dir(spark, db, tmp_path):
    models_dir = tmp_path / "models"
    models_dir.mkdir()
    (models_dir / "base.sql").write_text("SELECT id FROM RANGE(10)")
    (models_dir / "derived.sql").write_text("SELECT COUNT(*) AS n FROM {{ ref('base') }}")
    project = Project.from_dir(db, str(models_dir))
    results = project.run(spark)
    assert results["derived"].rows == 1
    assert spark.table("derived").first().n == 10


def test_model_with_duckdb_star_exclude(spark, db):
    """A ported DuckDB model using the `* EXCLUDE` star modifier runs
    unchanged through the project runner (dialect.translate_sql)."""
    _seed_source(spark, db)
    project = Project(db)
    project.add(
        Model(
            "no_legs",
            "SELECT * EXCLUDE (n_legs) FROM {{ source('source_schema', 'animals') }}",
        )
    )
    assert project.run(spark)["no_legs"].rows == 4
    assert spark.table("no_legs").columns == ["animals"]


def test_model_with_qualify(spark, db):
    """A ported model using QUALIFY (DuckDB/Snowflake post-window filter)
    runs through the project runner via the dialect rewrite."""
    _seed_source(spark, db)
    project = Project(db)
    project.add(
        Model(
            "heaviest",
            "SELECT animals, n_legs FROM {{ source('source_schema', 'animals') }} "
            "QUALIFY row_number() OVER (ORDER BY n_legs DESC) = 1",
        )
    )
    assert project.run(spark)["heaviest"].rows == 1
    assert spark.table("heaviest").first().animals == "Centipede"


def test_select_runs_only_chosen_models(spark, db):
    """dbt-style --select: run a subset; refs to unselected models resolve
    to their already-materialized tables; +name pulls in ancestors."""
    _seed_source(spark, db)
    project = Project(db)
    project.add(
        Model(
            "animals_str",
            "SELECT CAST(n_legs AS STRING) AS n_legs, animals "
            "FROM {{ source('source_schema', 'animals') }}",
        )
    )
    project.add(Model("bipeds", "SELECT * FROM {{ ref('animals_str') }} WHERE n_legs = '2'"))
    # full run materializes everything
    assert set(project.run(spark)) == {"animals_str", "bipeds"}
    # selecting just the leaf reruns ONLY it, reading the existing parent
    assert set(project.run(spark, select=["bipeds"])) == {"bipeds"}
    # +leaf pulls the ancestor back in
    assert set(project.run(spark, select=["+bipeds"])) == {"animals_str", "bipeds"}
    import pytest as _pytest

    with _pytest.raises(KeyError):
        project.select_models(["nope"])


def test_corpus_example_project(spark, tmp_path):
    """examples/corpus: the LLM-pipeline DAG (dedup -> quality -> split ->
    vocab/stats) runs end-to-end through the project runner, with invariants
    checked across stages."""
    import shutil

    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.project import Project

    from .conftest import SF_SMALL

    db = str(tmp_path / "db")
    os.makedirs(db)
    shutil.copy(os.path.join(SF_SMALL, "documents.parquet"), db)
    catalog = FilesystemCatalog(db)
    project = Project.from_dir(catalog, os.path.join(REPO, "examples/corpus/models"))
    results = project.run(spark, threads=4)
    assert set(results) == {"docs_dedup", "docs_quality", "docs_split", "vocab", "corpus_stats"}

    n_source = spark.read.parquet(os.path.join(db, "documents.parquet")).count()
    assert 0 < results["docs_dedup"].rows <= n_source
    assert results["docs_quality"].rows <= results["docs_dedup"].rows
    assert results["docs_split"].rows == results["docs_quality"].rows

    catalog.register_all_views(spark)
    stats = {r.split: r for r in spark.table("corpus_stats").collect()}
    assert set(stats) <= {"train", "test"} and "train" in stats
    assert sum(r.n_docs for r in stats.values()) == results["docs_split"].rows
    # vocabulary frequencies must sum to the train-split token count
    vocab_total = spark.table("vocab").groupBy().sum("freq").collect()[0][0]
    assert vocab_total == stats["train"].n_tokens


def test_analytics_example_project(spark, tmp_path):
    """examples/analytics: the events DAG (activity spine -> retention;
    QUALIFY top-k; transitions) runs through the runner with the dialect
    rewrites (::DATE, GROUP BY ALL, QUALIFY) applied, and cross-model
    invariants hold."""
    import shutil

    from dbt_parquet_spark.catalog import FilesystemCatalog
    from dbt_parquet_spark.project import Project

    from .conftest import SF_SMALL

    db = str(tmp_path / "db")
    os.makedirs(db)
    shutil.copy(os.path.join(SF_SMALL, "events.parquet"), db)
    catalog = FilesystemCatalog(db)
    project = Project.from_dir(catalog, os.path.join(REPO, "examples/analytics/models"))
    results = project.run(spark, threads=4)
    assert set(results) == {"daily_activity", "retention", "top_spend_days", "transitions"}

    catalog.register_all_views(spark)
    events = spark.read.parquet(os.path.join(db, "events.parquet"))
    n_events = events.count()
    n_users = events.select("user_id").distinct().count()

    # retention offset-0 counts every user exactly once
    from pyspark.sql import functions as F

    ret = spark.table("retention")
    assert ret.filter(F.col("offset_days") == 0).groupBy().sum("n_active").collect()[0][0] == n_users
    # each user contributes (events_i - 1) transitions
    trans_total = spark.table("transitions").groupBy().sum("n").collect()[0][0]
    assert trans_total == n_events - n_users
    # top_spend_days: at most 3 rows per user
    top = spark.table("top_spend_days")
    assert top.groupBy("user_id").count().agg(F.max("count")).collect()[0][0] <= 3


def test_noop_run_views_read_footer_rows(spark, db):
    """A state="modified" run that skips every model still leaves each
    model's view registered (once, by register_all_views), reading the rows
    its footers hold — part files, a schema subdirectory and a versioned
    root alike."""
    _seed_source(spark, db)
    project = Project(db)
    project.add(Model("legs", "SELECT * FROM {{ source('source_schema', 'animals') }} WHERE n_legs < 10"))
    project.add(Model("few", "SELECT n_legs FROM {{ ref('legs') }} WHERE n_legs < 5", schema="marts"))
    project.add(Model(
        "names", "{{ config(materialized='versioned') }}\nSELECT animals FROM {{ ref('legs') }}"
    ))
    built = project.run(spark, threads=2)
    for r in built.values():
        assert r.rows == db.stats(db.snapshot(r.relation)).rows
        spark.catalog.dropTempView(r.relation.view_name)
    results = project.run(spark, threads=2, state="modified")
    assert set(results) == {"legs", "few", "names"}
    for r in results.values():
        assert r.skipped
        assert spark.table(r.relation.view_name).count() == db.stats(db.snapshot(r.relation)).rows > 0


def test_incremental_run_skips_unmodified(spark, db):
    """state="modified": the second run executes ZERO models; editing an
    upstream cascades to its descendants and leaves siblings skipped;
    changing SOURCE bytes invalidates readers of that source."""
    _seed_source(spark, db)
    project = Project(db)
    project.add(
        Model(
            "base",
            "SELECT n_legs, animals FROM {{ source('source_schema', 'animals') }}",
        )
    )
    project.add(Model("wide", "SELECT * FROM {{ ref('base') }} WHERE n_legs >= 4"))
    project.add(Model("narrow", "SELECT * FROM {{ ref('base') }} WHERE n_legs = 2"))
    project.add(Model("solo", "SELECT 1 AS one"))

    r1 = project.run(spark, threads=2, state="modified")
    assert not any(r.skipped for r in r1.values())

    # run 2: nothing changed -> everything skips, tables stay readable
    r2 = project.run(spark, threads=2, state="modified")
    assert all(r.skipped for r in r2.values())
    assert spark.table("wide").count() == 3  # Horse, Brittle stars, Centipede

    # edit ONE leaf: only it re-runs
    project.add(Model("narrow", "SELECT * FROM {{ ref('base') }} WHERE n_legs = 100"))
    r3 = project.run(spark, threads=2, state="modified")
    assert {n for n, r in r3.items() if not r.skipped} == {"narrow"}
    assert spark.table("narrow").first().animals == "Centipede"

    # edit the shared upstream: it and BOTH descendants re-run, solo skips
    project.add(
        Model(
            "base",
            "SELECT n_legs, upper(animals) AS animals "
            "FROM {{ source('source_schema', 'animals') }}",
        )
    )
    r4 = project.run(spark, threads=2, state="modified")
    assert {n for n, r in r4.items() if not r.skipped} == {"base", "wide", "narrow"}
    assert spark.table("narrow").first().animals == "CENTIPEDE"

    # change SOURCE data: every model reading it (directly or transitively)
    # re-runs; solo still skips
    extra = spark.createDataFrame([(8, "Octopus")], "n_legs: long, animals: string")
    create_table_as(
        spark, db, db.relation("animals", "source_schema"), extra, single_file=True
    )
    r5 = project.run(spark, threads=2, state="modified")
    assert {n for n, r in r5.items() if not r.skipped} == {"base", "wide", "narrow"}
    assert spark.table("wide").first().animals == "OCTOPUS"


def test_incremental_run_rebuilds_dropped_table(spark, db):
    """A fresh hash with a MISSING table must still rebuild (hash alone is
    not evidence the output exists)."""
    _seed_source(spark, db)
    project = Project(db)
    project.add(
        Model("m", "SELECT * FROM {{ source('source_schema', 'animals') }}")
    )
    project.run(spark, state="modified")
    db.drop_relation(db.relation("m"))
    r = project.run(spark, state="modified")
    assert not r["m"].skipped
    assert spark.table("m").count() == 4


def _rewrite_partitioned(spark, db, rel):
    """A partitioned source rewritten from 100 to 500 rows."""
    def write(n):
        df = spark.range(n).withColumn("p", F.col("id") % 4)
        create_table_as(spark, db, rel, df, partition_by=["p"])

    write(100)
    return lambda: write(500), 500


def _rollback_versioned(spark, db, rel):
    """A versioned source cut from 100 to 50 rows by a copy-on-write delete,
    then rolled back to its first version (no file name, size or footer
    changes on disk)."""
    from dbt_parquet_spark.versioned import (
        delete_versioned,
        rollback_versioned,
        write_versioned,
    )

    write_versioned(spark, db, rel, spark.range(100))
    delete_versioned(spark, db, rel, F.col("id") >= 50)
    return lambda: rollback_versioned(db, rel, 1), 100


@pytest.mark.parametrize(
    "change", [_rewrite_partitioned, _rollback_versioned], ids=["partitioned", "rollback"]
)
def test_incremental_run_sees_source_snapshot_change(spark, db, change):
    """state="modified" fingerprints a source by the files that hold its
    current rows: a partitioned source's part files one level down, and a
    versioned source's current version, so a rewrite or a rollback makes
    its reader stale."""
    db.create_schema("raw")
    rel = db.relation("ev", "raw")
    apply_change, n_after = change(spark, db, rel)
    project = Project(db)
    project.add(Model("n", "SELECT COUNT(*) AS n FROM {{ source('raw', 'ev') }}"))
    project.run(spark, state="modified")
    assert spark.table("n").first().n != n_after
    assert project.run(spark, state="modified")["n"].skipped
    apply_change()
    assert not project.run(spark, state="modified")["n"].skipped
    assert spark.table("n").first().n == n_after


def test_plain_run_always_rebuilds_but_primes_state(spark, db):
    """state=None keeps the old always-rebuild contract, yet records state
    so a later state="modified" run can skip."""
    _seed_source(spark, db)
    project = Project(db)
    project.add(Model("m", "SELECT * FROM {{ source('source_schema', 'animals') }}"))
    r1 = project.run(spark)
    assert not r1["m"].skipped
    r2 = project.run(spark)
    assert not r2["m"].skipped  # default mode never skips
    r3 = project.run(spark, state="modified")
    assert r3["m"].skipped


def test_external_partitioned_source_through_runner(spark, db, tmp_path):
    """A source() declaration pointing at an existing hive-partitioned
    lake directory resolves through read_parquet's partition discovery:
    the model's WHERE on the partition column prunes
    whole DIRECTORIES at the executed scan (numFiles), results match a
    direct read, and state:modified sees external file changes."""
    import glob
    import shutil

    from dbt_parquet_spark.operators.lifecycle import partitioned_documents
    from dbt_parquet_spark.sources.readers import read_parquet

    from .conftest import SF_SMALL

    # private copy of the memoized partitioned fixture — this test mutates it
    src = partitioned_documents(spark, SF_SMALL)
    src_local = src[len("file:"):] if src.startswith("file:") else src
    lake = str(tmp_path / "lake_docs")
    shutil.copytree(src_local, lake)

    project = Project(db)
    project.add_source("lake", "docs", lake)
    project.add(
        Model(
            "lake_stats",
            "SELECT lang, COUNT(*) AS n FROM {{ source('lake', 'docs') }} "
            "WHERE source IN ('src0', 'src1', 'src2') GROUP BY lang",
        )
    )
    results = project.run(spark, threads=2)
    assert results["lake_stats"].rows >= 1

    # results match an independent direct read of the lake
    direct = {
        (r.lang, r.n)
        for r in read_parquet(spark, lake)
        .filter(F.col("source").isin("src0", "src1", "src2"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {(r.lang, r.n) for r in spark.table("lake_stats").collect()}
    assert got == direct

    # plan gate: the COMPILED model's scan prunes to the 3 source dirs.
    # Under AQE the executed plan's leaves are QueryStageExec wrappers, so
    # walk into .plan() until a leaf carrying the numFiles metric appears.
    def scan_num_files(df) -> int:
        df.collect()

        def walk(jplan) -> int:
            total = 0
            leaves = jplan.collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if leaf.metrics().contains("numFiles"):
                    total += leaf.metrics().apply("numFiles").value()
                else:
                    try:
                        total += walk(leaf.plan())  # QueryStageExec subtree
                    except Exception:
                        pass
            return total

        return walk(df._jdf.queryExecution().executedPlan())

    compiled = spark.sql(project.compile_sql(project.models["lake_stats"]))
    n_pruned = scan_num_files(compiled)
    n_all = scan_num_files(read_parquet(spark, lake))
    assert n_pruned * 6 <= n_all, (n_pruned, n_all)  # 3 of 20 source dirs
    plan = compiled._jdf.queryExecution().executedPlan().toString()
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "source" in pf and "src0" in pf

    # incremental: untouched lake -> skip; a file landing in a read
    # partition -> stale (the Merkle source fingerprint walks the tree)
    r2 = project.run(spark, threads=2, state="modified")
    assert r2["lake_stats"].skipped
    donor = sorted(glob.glob(os.path.join(lake, "source=src0", "*.parquet")))[0]
    shutil.copy(donor, os.path.join(os.path.dirname(donor), "late-extra.parquet"))
    r3 = project.run(spark, threads=2, state="modified")
    assert not r3["lake_stats"].skipped
    assert spark.table("lake_stats").count() >= 1


def test_versioned_materialization_through_runner(spark, db):
    """{{ config(materialized='versioned') }}: the model commits as a
    manifest-versioned snapshot — reruns add versions (history retained,
    time travel works), downstream refs read the CURRENT snapshot, and the
    runner's row counts come from the manifest (no extra scan)."""
    from dbt_parquet_spark.versioned import read_versioned, version_history

    _seed_source(spark, db)
    project = Project(db)
    project.add(
        Model(
            "curated",
            "{{ config(materialized='versioned') }}\n"
            "SELECT * FROM {{ source('source_schema', 'animals') }} "
            "WHERE n_legs <= 5",
        )
    )
    project.add(Model("counts", "SELECT COUNT(*) AS n FROM {{ ref('curated') }}"))
    r1 = project.run(spark)
    assert r1["curated"].rows == 3 and r1["counts"].rows == 1
    assert spark.table("counts").first().n == 3

    # model change -> rerun commits version 2; v1 stays addressable
    project.add(
        Model(
            "curated",
            "{{ config(materialized='versioned') }}\n"
            "SELECT * FROM {{ source('source_schema', 'animals') }} "
            "WHERE n_legs = 2",
        )
    )
    r2 = project.run(spark)
    assert r2["curated"].rows == 1
    rel = db.relation("curated")
    hist = version_history(db, rel)
    assert [h["version"] for h in hist] == [1, 2]
    assert {h["rows"] for h in hist} == {3, 1}
    assert read_versioned(spark, db, rel, version=1).count() == 3
    # the registered view reads ONLY the current snapshot (2 versions of
    # files live in the root — a directory read would see 4 rows)
    assert spark.table("curated").count() == 1


def test_versioned_incremental_skip_and_materialization_change(spark, db):
    """state='modified': an unchanged versioned model is SKIPPED (no new
    version committed) and its view still resolves the current snapshot;
    switching table -> versioned is itself a change that re-materializes."""
    from dbt_parquet_spark.versioned import VERSIONS_MANIFEST, version_history

    _seed_source(spark, db)
    project = Project(db)
    project.add(
        Model("m", "SELECT * FROM {{ source('source_schema', 'animals') }}")
    )
    project.run(spark)
    # same SQL, now versioned: must NOT be skipped (materialization in hash)
    project.add(
        Model(
            "m",
            "{{ config(materialized='versioned') }}"
            "SELECT * FROM {{ source('source_schema', 'animals') }}",
        )
    )
    r = project.run(spark, state="modified")
    assert not r["m"].skipped
    rel = db.relation("m")
    assert [h["version"] for h in version_history(db, rel)] == [1]
    # unchanged rerun: skipped, still version 1, view still correct
    r2 = project.run(spark, state="modified")
    assert r2["m"].skipped
    assert [h["version"] for h in version_history(db, rel)] == [1]
    assert spark.table("m").count() == 4
    # a lost cache write leaves only the commit log: the model is still
    # built, so a skipped rerun re-registers its view over the snapshot
    db.io.remove_any(db.io.join(db.fs_path(rel), VERSIONS_MANIFEST))
    spark.catalog.dropTempView("m")
    r3 = project.run(spark, state="modified")
    assert r3["m"].skipped
    assert spark.table("m").count() == 4
    assert db.register_view(spark, rel).count() == 4


def test_config_block_with_extra_args_and_unknown_keys(spark, db):
    """{{ config(...) }} blocks with multiple arguments parse and strip
    (r11 advice: the old regex only matched a sole materialized= argument,
    silently falling back to 'table' AND leaving jinja in the SQL)."""
    _seed_source(spark, db)
    # materialized + ignored metadata keys: parses, strips, runs versioned
    m = Model(
        name="cfg_multi",
        sql=(
            "{{ config(materialized='versioned', tags=['nightly', 'core'],\n"
            "          description='a model') }}\n"
            "SELECT n_legs FROM {{ source('source_schema', 'animals') }}"
        ),
    )
    assert m.materialized == "versioned"
    p = Project(db, [m])
    res = p.run(spark)
    assert res["cfg_multi"].rows == 4
    # config with ONLY a metadata key: strips cleanly, defaults to table
    m2 = Model(
        name="cfg_meta_only",
        sql=(
            "{{ config(tags=['x']) }}\n"
            "SELECT n_legs FROM {{ source('source_schema', 'animals') }}"
        ),
    )
    assert m2.materialized == "table"
    Project(db, [m2]).run(spark)
    # unknown BEHAVIORAL key: rejected loudly, never silently dropped
    bad = Model(
        name="cfg_bad",
        sql=(
            "{{ config(schema='elsewhere') }}\n"
            "SELECT 1 AS one"
        ),
    )
    with pytest.raises(ValueError, match="unsupported config key"):
        _ = bad.materialized
    with pytest.raises(ValueError, match="unsupported config key"):
        Project(db, [bad]).compile_sql(bad)
