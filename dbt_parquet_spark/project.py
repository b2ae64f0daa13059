"""Project runner — the "dbt run" lifecycle on Spark (SURVEY §3.1).

A project is a set of named SQL models with ``{{ ref('model') }}`` /
``{{ source('schema', 'table') }}`` templating, executed in dependency order
and materialized as parquet tables (reference lifecycle: dbt-core renders
Jinja → ParquetRelation.render() → COPY … TO parquet; reference
relation.py:104-113, macros/adapters.sql:6-12).

Concurrency mirrors the reference's ``threads: N`` model-level parallelism
(reference connections.py:60-111, tests/conftest.py:21): independent models
run simultaneously from a thread pool. SparkSession is thread-safe; each
model submission becomes an independent Spark job, and the scheduler
interleaves their stages — the Spark-native version of dbt's thread pool
over one DuckDB connection.
"""

from __future__ import annotations

import graphlib
import os
import posixpath
import re
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .catalog import DEFAULT_SCHEMA, FilesystemCatalog, Relation
from .materialize import create_table_as

_REF = re.compile(r"\{\{\s*ref\(\s*['\"]([^'\"]+)['\"]\s*\)\s*\}\}")
_SOURCE = re.compile(r"\{\{\s*source\(\s*['\"]([^'\"]*)['\"]\s*,\s*['\"]([^'\"]+)['\"]\s*\)\s*\}\}")
# dbt's model config block. ANY {{ config(...) }} is stripped from the
# compiled SQL (it is model metadata, never SQL — an unstripped block would
# reach spark.sql as a parse error). Of its keys, `materialized` is honored
# ({{ config(materialized='versioned') }} commits the model as a manifest-
# versioned snapshot instead of a swap CTAS), pure-documentation keys are
# accepted and ignored, and anything behavioral this runner does not
# implement is rejected LOUDLY at parse time — a silently-dropped
# `schema=` or `unique_key=` would change what the model builds.
_CONFIG_BLOCK = re.compile(r"\{\{\s*config\s*\((?P<body>.*?)\)\s*\}\}", re.DOTALL)
_IGNORED_CONFIG_KEYS = {"tags", "description", "meta", "docs", "persist_docs"}


def _parse_config(body: str) -> dict[str, str]:
    """Split a config(...) argument list into {key: raw_value} at top-level
    commas (quote- and bracket-aware, so tags=['a', 'b'] stays one value)."""
    parts: list[str] = []
    buf: list[str] = []
    depth = 0
    quote: str | None = None
    for ch in body:
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    if "".join(buf).strip():
        parts.append("".join(buf))
    out: dict[str, str] = {}
    for p in parts:
        key, eq, val = p.partition("=")
        if not eq or not key.strip().isidentifier():
            raise ValueError(f"malformed config() argument: {p.strip()!r}")
        out[key.strip()] = val.strip()
    return out


@dataclass
class Model:
    name: str
    sql: str
    schema: str = DEFAULT_SCHEMA

    @property
    def refs(self) -> list[str]:
        return _REF.findall(self.sql)

    @property
    def sources(self) -> list[tuple[str, str]]:
        return _SOURCE.findall(self.sql)

    @property
    def materialized(self) -> str:
        m = _CONFIG_BLOCK.search(self.sql)
        if m is None:
            return "table"
        cfg = _parse_config(m.group("body"))
        unknown = sorted(set(cfg) - {"materialized"} - _IGNORED_CONFIG_KEYS)
        if unknown:
            raise ValueError(
                f"model {self.name}: unsupported config key(s) {unknown} "
                "(honored: materialized; ignored metadata: "
                f"{sorted(_IGNORED_CONFIG_KEYS)})"
            )
        kind = cfg.get("materialized", "'table'").strip("'\"")
        if kind not in ("table", "versioned"):
            raise ValueError(
                f"model {self.name}: unsupported materialization {kind!r} "
                "(supported: table, versioned)"
            )
        return kind


@dataclass
class RunResult:
    model: str
    relation: Relation
    rows: int  # -1 when skipped (the existing table was not re-counted)
    skipped: bool = False


@dataclass
class ExternalSource:
    """A ``source()`` declaration that points OUTSIDE the catalog — at an
    existing parquet file, part-file directory or hive-partitioned lake
    directory (dbt's sources.yml external-location shape). It reads through
    read_parquet, whose partition discovery turns ``k=v/`` directories into
    columns, so a model's WHERE on a partition column prunes whole
    directories at the scan (PartitionFilters — the layout every existing
    lake hands this engine first; the reference is restricted to
    single-file tables, reference README.md:49)."""

    schema: str
    table: str
    path: str


class Project:
    """Models + sources over one FilesystemCatalog database."""

    def __init__(self, catalog: FilesystemCatalog, models: list[Model] | None = None):
        self.catalog = catalog
        self.models: dict[str, Model] = {m.name: m for m in (models or [])}
        self.external_sources: dict[tuple[str, str], ExternalSource] = {}

    def add_source(self, schema: str, table: str, path: str) -> None:
        """Declare an external location for ``{{ source(schema, table) }}``:
        models referencing it read the given path directly (partition-
        discovering) instead of a catalog relation."""
        self.external_sources[(schema, table)] = ExternalSource(schema, table, path)

    @classmethod
    def from_dir(cls, catalog: FilesystemCatalog, models_dir: str, schema: str = DEFAULT_SCHEMA) -> "Project":
        """Load every ``*.sql`` file as a model named after the file — the
        dbt models-directory convention (reference examples/animals/models)."""
        models = []
        for fn in sorted(os.listdir(models_dir)):
            if fn.endswith(".sql"):
                with open(os.path.join(models_dir, fn)) as f:
                    models.append(Model(name=fn[:-4], sql=f.read(), schema=schema))
        return cls(catalog, models)

    def add(self, model: Model) -> None:
        self.models[model.name] = model

    # -- compilation -------------------------------------------------------
    def compile_sql(self, model: Model) -> str:
        """Render refs/sources to registered view names (the analog of
        ParquetRelation.render(), reference relation.py:104-113), then apply
        the DuckDB-dialect rewrites (dialect.translate_sql)."""
        from .dialect import translate_sql

        _ = model.materialized  # validate config keys before stripping the block
        sql = _CONFIG_BLOCK.sub("", model.sql)  # config is metadata, not SQL
        sql = _REF.sub(lambda m: self._model_relation(m.group(1)).view_name, sql)
        sql = _SOURCE.sub(
            lambda m: Relation(self.catalog.database, m.group(1), m.group(2)).view_name, sql
        )
        return translate_sql(sql)

    def _model_relation(self, name: str) -> Relation:
        model = self.models[name]
        return self.catalog.relation(model.name, model.schema)

    def dag_order(self) -> list[str]:
        ts = graphlib.TopologicalSorter(
            {name: set(m.refs) for name, m in self.models.items()}
        )
        return list(ts.static_order())

    # -- execution ---------------------------------------------------------
    def select_models(self, select: list[str]) -> list[str]:
        """dbt-style selection: ``name`` picks a model; ``+name`` also picks
        every transitive ancestor. Unknown names raise. Returns the selected
        set; refs to UNSELECTED models resolve to their already-materialized
        tables at run time (dbt's default behavior)."""
        chosen: set[str] = set()

        def ancestors(name: str) -> None:
            for ref in self.models[name].refs:
                if ref in self.models and ref not in chosen:
                    chosen.add(ref)
                    ancestors(ref)

        for raw in select:
            with_parents = raw.startswith("+")
            name = raw.lstrip("+")
            if name not in self.models:
                raise KeyError(f"unknown model in --select: {name}")
            chosen.add(name)
            if with_parents:
                ancestors(name)
        return [n for n in self.models if n in chosen]

    # -- incremental-run state (dbt `state:modified` semantics) ------------
    # Content-addressed freshness: each model's state hash is a MERKLE hash
    # of its compiled SQL, its upstream models' state hashes, and the byte-
    # level fingerprints of the sources it reads. A model is skippable iff
    # its table exists AND its recorded hash equals the current one — so
    # editing a model's SQL invalidates it, and invalidation cascades to
    # every descendant through the hash chain, while untouched siblings
    # skip. The state file lives in the database root (catalog FS, works on
    # any backend) and is rewritten after every run.

    _STATE_FILE = ".run_state.json"

    def _load_state(self) -> dict:
        import json

        io = self.catalog.io
        path = io.join(io.root, self._STATE_FILE)
        if not io.isfile(path):
            return {}
        with io.open_input(path) as fh:
            return json.loads(fh.read().decode())

    def _save_state(self, state: dict) -> None:
        import json

        io = self.catalog.io
        io.makedirs(io.root)
        with io.open_output(io.join(io.root, self._STATE_FILE)) as fh:
            fh.write(json.dumps(state, indent=1, sort_keys=True).encode())

    def _source_fingerprint(self, schema: str, table: str) -> str:
        """Byte-level fingerprint of a source: the files ``catalog.resolve``
        gives (every partition's; a versioned table's current version, so a
        rollback changes it) as sorted (file, size, footer row count)
        triples, plus its deletion vectors and live row count, hashed. An
        external source resolves on its own filesystem
        (``fs.resolve_database``). Row counts come from parquet footers, so
        a same-size rewrite is still caught when its row count moves; a
        same-size same-count in-place edit is the accepted blind spot (dbt's
        source freshness has the same shape)."""
        import hashlib
        import json

        from .catalog import footers, resolve
        from .fs import resolve_database

        ext = self.external_sources.get((schema, table))
        if ext is not None:
            io = resolve_database(ext.path)
            path = io.root
        else:
            io = self.catalog.io
            path = self.catalog.fs_path(Relation(self.catalog.database, schema, table))
        snap = resolve(io, path)
        if not snap.files and snap.rows is None:
            return "absent"

        def name(f: str) -> str:
            return f[len(path) + 1:] if f.startswith(path + "/") else posixpath.basename(f)

        entries = sorted((name(f.path), f.bytes, f.rows) for f in footers(io, snap.files))
        state = [entries, sorted(name(f) for f in snap.dv), snap.rows]
        return hashlib.md5(json.dumps(state).encode()).hexdigest()

    def _state_hashes(self, names: list[str]) -> dict[str, str]:
        """Current Merkle state hash per model, for ``names`` and all their
        in-project ancestors (an unselected upstream's DEFINITION still
        feeds its descendants' hashes — conservative: a changed-but-not-
        rebuilt upstream marks descendants stale)."""
        import hashlib

        hashes: dict[str, str] = {}
        src_cache: dict[tuple[str, str], str] = {}

        def h(name: str) -> str:
            if name in hashes:
                return hashes[name]
            model = self.models[name]
            # materialization is stripped from compiled SQL, so it must
            # enter the hash on its own: switching table <-> versioned is a
            # real change that must re-materialize under state="modified"
            parts = [self.compile_sql(model), f"materialized:{model.materialized}"]
            for ref in sorted(set(model.refs)):
                if ref in self.models:
                    parts.append(f"ref:{ref}:{h(ref)}")
            for schema, table in sorted(set(model.sources)):
                key = (schema, table)
                if key not in src_cache:
                    src_cache[key] = self._source_fingerprint(schema, table)
                parts.append(f"source:{schema}.{table}:{src_cache[key]}")
            hashes[name] = hashlib.md5("\n".join(parts).encode()).hexdigest()
            return hashes[name]

        for n in names:
            h(n)
        return hashes

    def run(
        self,
        spark: SparkSession,
        threads: int = 4,
        single_file: bool = False,
        select: list[str] | None = None,
        state: str | None = None,
    ) -> dict[str, RunResult]:
        """Materialize every model (or the ``select``-ed subset) in DAG
        order, parallelizing independent models across ``threads``
        (reference threads semantics). Every relation's view is registered
        once, up front (reference connections.py:79-88 registers all
        existing parquet on connect); a rebuilt model re-registers its own.
        Spark jobs run only to write models: a relation's view schema
        comes from its footer (``read_parquet``: the schema Spark wrote
        there, or for a flat single file another tool wrote, the one Spark
        would infer from its parquet schema; other foreign relations still
        cost Spark's inference job) and each ``RunResult.rows`` from the
        written files' footers
        (``FilesystemCatalog.stats``). Model threads inherit the caller's
        local properties (job group, scheduler pool), so a caller's job
        group covers the run's jobs.

        ``state="modified"`` enables incremental runs: a model whose table
        exists and whose Merkle state hash (compiled SQL + upstream hashes
        + source fingerprints) matches the recorded one is SKIPPED
        (``RunResult.skipped``, rows=-1); everything downstream of a real
        change re-materializes. The recorded state updates after every run
        regardless of mode, so a full run primes later incremental ones."""
        from .dialect import register_duckdb_compat

        if state not in (None, "modified"):
            raise ValueError(f"unsupported state mode: {state!r}")
        register_duckdb_compat(spark)  # DuckDB-dialect model SQL runs unchanged
        self.catalog.register_all_views(spark)
        # external source() declarations resolve to views over their lake
        # paths; a temp view is just a named plan, so partition pruning and
        # filter pushdown reach the scan through it unchanged (plan-gated)
        from .sources.readers import read_parquet

        for src in self.external_sources.values():
            read_parquet(spark, src.path).createOrReplaceTempView(
                Relation(self.catalog.database, src.schema, src.table).view_name
            )

        names = self.select_models(select) if select else list(self.models)
        selected = set(names)
        ts = graphlib.TopologicalSorter(
            {n: set(m.refs) & selected for n, m in self.models.items() if n in selected}
        )
        ts.prepare()
        results: dict[str, RunResult] = {}
        current = self._state_hashes(names)
        recorded = self._load_state() if state == "modified" else {}

        # model threads run under a copy of the caller's local properties
        # (job group, scheduler pool), as a JVM child thread would; one copy
        # per model, since a query sets its execution id in its own copy
        jsc = spark.sparkContext._jsc.sc()
        props = jsc.getLocalProperties().clone()

        def execute(name: str) -> RunResult:
            jsc.setLocalProperties(props.clone())
            model = self.models[name]
            rel = self._model_relation(name)
            if (
                state == "modified"
                and recorded.get(name) == current[name]
                and self.catalog.exists(rel)
            ):
                # fresh: keep the table; register_all_views registered it
                return RunResult(model=name, relation=rel, rows=-1, skipped=True)
            if model.schema != DEFAULT_SCHEMA:
                self.catalog.create_schema(model.schema)
            if model.materialized == "versioned":
                from .versioned import write_versioned

                write_versioned(
                    spark, self.catalog, rel, spark.sql(self.compile_sql(model))
                )
            else:
                create_table_as(
                    spark, self.catalog, rel, self.compile_sql(model),
                    single_file=single_file, register=False,
                )
            # one resolve serves the view and the row count: a versioned
            # root's manifest count, else the footers
            snap = self.catalog.snapshot(rel)
            self.catalog.register_view(spark, rel, snap)
            rows = snap.rows if snap.rows is not None else self.catalog.stats(snap).rows
            return RunResult(model=name, relation=rel, rows=rows)

        futures: dict = {}
        with ThreadPoolExecutor(max_workers=threads) as pool:
            while ts.is_active():
                for name in ts.get_ready():
                    futures[pool.submit(execute, name)] = name
                if not futures:
                    continue
                done, _ = wait(futures, return_when=FIRST_COMPLETED)
                for fut in done:
                    name = futures.pop(fut)
                    results[name] = fut.result()
                    ts.done(name)
        # Record state for every model that now matches its current hash
        # (executed this run, or verified-fresh skip). Unselected models
        # keep their previous entries.
        new_state = self._load_state()
        for name in names:
            new_state[name] = current[name]
        self._save_state(new_state)
        return results

    # -- built-in generic tests (dbt unique / not_null shapes) -------------
    def test_unique(self, spark: SparkSession, model: str, column: str) -> int:
        """Violation count, matching dbt's `unique` test SQL shape
        (GROUP BY x HAVING count(*) > 1)."""
        view = self._model_relation(model).view_name
        return spark.sql(
            f"SELECT {column} FROM {view} GROUP BY {column} HAVING COUNT(*) > 1"
        ).count()

    def test_not_null(self, spark: SparkSession, model: str, column: str) -> int:
        """Violation count (WHERE x IS NULL)."""
        view = self._model_relation(model).view_name
        return spark.sql(f"SELECT 1 FROM {view} WHERE {column} IS NULL").count()

    def test_accepted_values(
        self, spark: SparkSession, model: str, column: str, values: list
    ) -> int:
        """Violation count: rows whose value is outside the accepted list
        (dbt's accepted_values test shape)."""
        from pyspark.sql import functions as F

        view = self._model_relation(model).view_name
        return (
            spark.table(view)
            .filter(~F.col(column).isin(*values) | F.col(column).isNull())
            .count()
        )

    def test_relationships(
        self,
        spark: SparkSession,
        model: str,
        column: str,
        to_model: str,
        to_column: str,
    ) -> int:
        """Violation count: FK values with no parent (dbt's relationships
        test — compiled by dbt as the left-join-where-null pattern; here the
        equivalent anti join)."""
        from pyspark.sql import functions as F

        child = spark.table(self._model_relation(model).view_name)
        parent = spark.table(self._model_relation(to_model).view_name).select(
            F.col(to_column).alias(column)
        )
        return (
            child.filter(F.col(column).isNotNull())
            .join(parent, column, "left_anti")
            .count()
        )
