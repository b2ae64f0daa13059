"""CLI — the engine's equivalent of the reference's dbt entry points
(reference lifecycle SURVEY §3: `dbt run` / `dbt seed` / `dbt docs generate`
/ `dbt test`).

    python -m dbt_parquet_spark run   --database DB --models-dir DIR [--threads N] [--single-file]
    python -m dbt_parquet_spark seed  --database DB --csv FILE [--schema S] [--name T]
    python -m dbt_parquet_spark docs  --database DB
    python -m dbt_parquet_spark test  --database DB --models-dir DIR --model M
                                      [--unique COL] [--not-null COL]
                                      [--accepted-values COL=V1,V2] [--relationships COL=MODEL.COL]
    python -m dbt_parquet_spark sql   --database DB "SELECT ..."   (views pre-registered)
    python -m dbt_parquet_spark shell --database DB   (interactive DuckDB escape hatch)
    python -m dbt_parquet_spark maintain --database DB [--stats | --table T (--compact | --cluster-by C1,C2 [--zorder])]
    python -m dbt_parquet_spark snapshot --database DB --from SRC --table T --key K (--updated-col C | --check-cols C1,C2 --as-of TS)
    python -m dbt_parquet_spark versions --database DB --table T [--diff N M]
                                      [--rollback V] [--vacuum KEEP [--retention-s S]]
                                      [--optimize [--cluster-by COLS]] [--clone DST]
                                      [--as-of-ts TS] [--set-constraint NAME SQL]
                                      [--apply-changes SRC KEY FROM_V]
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dbt_parquet_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--database", required=True, help="database root directory")

    run_p = sub.add_parser("run", help="materialize all models in DAG order")
    common(run_p)
    run_p.add_argument("--models-dir", required=True)
    run_p.add_argument("--threads", type=int, default=4)
    run_p.add_argument("--single-file", action="store_true", help="reference-compatible one-file tables")
    run_p.add_argument(
        "--select",
        default=None,
        help="comma-separated models to run (dbt-style; +name includes ancestors)",
    )
    run_p.add_argument(
        "--state",
        choices=["modified"],
        default=None,
        help="'modified': skip models whose compiled SQL, upstreams and "
        "source data are unchanged since the last recorded run",
    )

    seed_p = sub.add_parser("seed", help="load a CSV seed")
    common(seed_p)
    seed_p.add_argument("--csv", required=True)
    seed_p.add_argument("--schema", default="")
    seed_p.add_argument("--name", default=None)

    docs_p = sub.add_parser("docs", help="print the catalog (schema/table/column/type)")
    common(docs_p)
    docs_p.add_argument(
        "--json",
        dest="json_path",
        default=None,
        help="also write a dbt-docs catalog.json artifact to this path",
    )

    test_p = sub.add_parser("test", help="run generic tests against a model")
    common(test_p)
    test_p.add_argument("--models-dir", required=True)
    test_p.add_argument("--model", required=True)
    test_p.add_argument("--unique", default=None)
    test_p.add_argument("--not-null", dest="not_null", default=None)
    test_p.add_argument(
        "--accepted-values",
        dest="accepted_values",
        default=None,
        metavar="COL=V1,V2,...",
        help="accepted_values test: column and its comma-separated allowed values",
    )
    test_p.add_argument(
        "--relationships",
        default=None,
        metavar="COL=MODEL.PARENT_COL",
        help="relationships (FK) test: child column and parent model.column",
    )

    sql_p = sub.add_parser("sql", help="run ad-hoc SQL with all relations as views")
    common(sql_p)
    sql_p.add_argument("query")

    shell_p = sub.add_parser(
        "shell",
        help="interactive DuckDB escape hatch with all relations as views "
        "(reference impl.py:225-249)",
    )
    common(shell_p)

    shard_p = sub.add_parser(
        "shard",
        help="materialize a corpus as deterministic hash shards + additive manifest",
    )
    common(shard_p)
    shard_p.add_argument("--table", required=True, help="output shard table name")
    shard_p.add_argument("--schema", default="")
    shard_p.add_argument(
        "--from-path",
        dest="from_path",
        required=True,
        help="parquet path with doc_id/text/n_chars columns",
    )
    shard_p.add_argument(
        "--hex-width",
        dest="hex_width",
        type=int,
        default=1,
        help="md5-prefix hex chars -> 16^w shards (default 1, i.e. 16 shards)",
    )
    shard_p.add_argument(
        "--append",
        action="store_true",
        help="append rows into existing shards (O(delta) sum-merged manifest)",
    )

    snap_p = sub.add_parser(
        "snapshot",
        help="SCD2 snapshot run (dbt snapshot): timestamp strategy with "
        "--updated-col, check strategy with --check-cols + --as-of",
    )
    common(snap_p)
    snap_p.add_argument("--from", dest="from_path", required=True, help="source parquet path")
    snap_p.add_argument("--table", required=True, help="snapshot table name")
    snap_p.add_argument("--schema", default="")
    snap_p.add_argument("--key", required=True, help="unique key column")
    snap_p.add_argument(
        "--updated-col", default=None, help="timestamp strategy: change = strictly newer value"
    )
    snap_p.add_argument(
        "--check-cols",
        default=None,
        help="check strategy: comma-separated tracked columns (content-hash change)",
    )
    snap_p.add_argument(
        "--as-of", default=None, help="check strategy: validity timestamp for this run (ISO)"
    )
    maint_p = sub.add_parser(
        "maintain",
        help="table maintenance: compact small files or sort-cluster for row-group skipping",
    )
    common(maint_p)
    maint_p.add_argument("--table", default=None, help="target table (not needed for --stats)")
    maint_p.add_argument("--schema", default="")
    maint_p.add_argument(
        "--compact", action="store_true", help="rewrite into ~128MB files"
    )
    maint_p.add_argument(
        "--cluster-by",
        default=None,
        help="comma-separated key columns to sort-cluster by",
    )
    maint_p.add_argument(
        "--zorder",
        action="store_true",
        help="use bit-interleaved (Morton) order over the --cluster-by columns",
    )
    maint_p.add_argument(
        "--stats", action="store_true", help="print footer-only table stats and exit"
    )
    maint_p.add_argument(
        "--cleanup",
        action="store_true",
        help="list orphaned .tmp_*/.old_* publish artifacts (crashed writes/swaps)",
    )
    maint_p.add_argument(
        "--apply", action="store_true", help="with --cleanup: actually remove them"
    )
    maint_p.add_argument(
        "--min-age-seconds",
        dest="min_age_seconds",
        type=float,
        default=3600.0,
        help="with --cleanup: ignore artifacts younger than this (they may "
        "belong to an in-flight write); 0 disables the gate",
    )

    vt_p = sub.add_parser(
        "versions",
        help="versioned-table ops: history, rollback, vacuum (manifest protocol)",
    )
    common(vt_p)
    vt_p.add_argument("--table", required=True)
    vt_p.add_argument("--schema", default="")
    vt_p.add_argument(
        "--rollback", type=int, default=None, metavar="V",
        help="commit a new version pointing back at snapshot V (metadata only)",
    )
    vt_p.add_argument(
        "--vacuum", type=int, default=None, metavar="KEEP",
        help="keep the newest KEEP versions, reap dropped versions' files "
        "and staged orphans",
    )
    vt_p.add_argument(
        "--retention-s", dest="retention_s", type=float, default=None,
        metavar="SECS",
        help="with --vacuum: time floor — versions committed within the "
        "last SECS seconds survive even when KEEP would reap them "
        "(long-running-reader guard)",
    )
    vt_p.add_argument(
        "--orphan-grace-s", dest="orphan_grace_s", type=float, default=None,
        metavar="SECS",
        help="with --vacuum: unreferenced files younger than SECS survive "
        "(in-flight-mutator guard; default 600). Pass 0 only when all "
        "writers are quiescent",
    )
    vt_p.add_argument(
        "--dry-run", dest="dry_run", action="store_true",
        help="with --vacuum: list what would be reaped without committing "
        "or deleting anything",
    )
    vt_p.add_argument(
        "--optimize", action="store_true",
        help="compact the current snapshot into ~128MB files as a new "
        "version (history intact until --vacuum)",
    )
    vt_p.add_argument(
        "--cluster-by", dest="vt_cluster_by", default=None, metavar="COLS",
        help="with --optimize: comma-separated columns to range-cluster the "
        "rewrite by (restores manifest-side data skipping after append "
        "churn; pass the table's stats columns)",
    )
    vt_p.add_argument(
        "--zorder-by", dest="vt_zorder_by", default=None, metavar="COLS",
        help="with --optimize: 2-4 comma-separated columns to Z-order the "
        "rewrite by — every file covers a narrow box on EVERY listed "
        "column, so skipping prunes on any predicate column (declare "
        "them all in stats)",
    )
    vt_p.add_argument(
        "--diff", nargs=2, type=int, default=None, metavar=("N", "M"),
        help="value-level diff of two committed snapshots (row-count "
        "difference + mismatched-row count) — the time-travel debugging "
        "loop: what changed between version N and version M?",
    )
    vt_p.add_argument(
        "--changes", nargs=2, type=int, default=None, metavar=("N", "M"),
        help="change-data-feed between snapshot N and M: per-change-type "
        "row counts plus a row sample — computed from the manifests' "
        "file-set diff, the unchanged data is never scanned",
    )
    vt_p.add_argument(
        "--clone", default=None, metavar="DST",
        help="shallow-clone the current snapshot into table DST (same "
        "schema namespace): metadata-only, zero bytes copied; histories "
        "independent from the clone point",
    )
    vt_p.add_argument(
        "--as-of-ts", dest="as_of_ts", type=float, default=None,
        metavar="POSIX_TS",
        help="resolve + print which version was current at the given POSIX "
        "timestamp (TIMESTAMP AS OF resolution, metadata-only)",
    )
    vt_p.add_argument(
        "--set-constraint", dest="set_constraint", nargs=2, default=None,
        metavar=("NAME", "CHECK_SQL"),
        help="add a table CHECK constraint: validates the current snapshot "
        "first, then gates every future write/merge/apply with "
        "per-constraint violation counts",
    )
    vt_p.add_argument(
        "--drop-constraint", dest="drop_constraint", default=None,
        metavar="NAME", help="remove a CHECK constraint by name",
    )
    vt_p.add_argument(
        "--apply-changes", dest="apply_changes", nargs=3, default=None,
        metavar=("SRC", "KEY", "FROM_V"),
        help="maintain this table as a replica of versioned table SRC: "
        "consume SRC's change feed from version FROM_V to current, net per "
        "KEY, one merge-on-read commit; exactly-once on replays",
    )

    args = p.parse_args(argv)

    from .catalog import FilesystemCatalog

    catalog = FilesystemCatalog(args.database)

    if args.cmd == "shell":
        # Pure-DuckDB path (no Spark session): the escape hatch is embedded
        # analytics over the same parquet files the engine materializes.
        from .duck_bridge import interactive_shell

        return interactive_shell(catalog)

    if args.cmd == "versions":
        # pure metadata + fs ops — no Spark session needed (except --optimize)
        from .versioned import rollback_versioned, vacuum_versions, version_history

        rel = catalog.relation(args.table, args.schema)
        if args.diff is not None:
            from .diff import relations_diff
            from .session import get_spark as _gs
            from .versioned import read_versioned

            spark_ = _gs("dbt_parquet_spark_cli")
            n, m_ = args.diff
            row = relations_diff(
                read_versioned(spark_, catalog, rel, version=n),
                read_versioned(spark_, catalog, rel, version=m_),
            ).collect()[0]
            print(
                f"diff {rel.view_name} v{n} vs v{m_}: "
                f"row_count_difference={row.row_count_difference} "
                f"num_mismatched={row.num_mismatched}"
            )
        if args.changes is not None:
            from pyspark.sql import functions as _F

            from .session import get_spark as _gs
            from .versioned import read_versioned_changes

            spark_ = _gs("dbt_parquet_spark_cli")
            n, m_ = args.changes
            cdf = read_versioned_changes(spark_, catalog, rel, n, m_)
            counts = {
                r["_change_type"]: r["n"]
                for r in cdf.groupBy("_change_type").agg(_F.count("*").alias("n")).collect()
            }
            print(
                f"changes {rel.view_name} v{n} -> v{m_}: "
                f"inserts={counts.get('insert', 0)} deletes={counts.get('delete', 0)}"
            )
            for r in cdf.limit(5).collect():
                print("  ", r.asDict())
        if args.as_of_ts is not None:
            from .versioned import version_at_timestamp

            v = version_at_timestamp(catalog, rel, args.as_of_ts)
            print(f"as-of {rel.view_name} ts={args.as_of_ts}: version {v}")
        if args.clone is not None:
            from .versioned import clone_versioned

            dst = catalog.relation(args.clone, args.schema)
            clone_versioned(catalog, rel, dst)
            print(
                f"OK clone {rel.view_name} -> {dst.view_name} "
                "(shallow, zero bytes copied)"
            )
        if args.set_constraint is not None:
            from .session import get_spark as _gs
            from .versioned import set_check_constraint

            name, check_sql = args.set_constraint
            set_check_constraint(
                _gs("dbt_parquet_spark_cli"), catalog, rel, name, check_sql
            )
            print(f"OK constraint {rel.view_name}.{name}: CHECK ({check_sql})")
        if args.drop_constraint is not None:
            from .versioned import drop_check_constraint

            drop_check_constraint(catalog, rel, args.drop_constraint)
            print(f"OK constraint {rel.view_name}.{args.drop_constraint} dropped")
        if args.apply_changes is not None:
            from .session import get_spark as _gs
            from .versioned import apply_changes_versioned

            src_name, key, from_v = args.apply_changes
            src_rel = catalog.relation(src_name, args.schema)
            v = apply_changes_versioned(
                _gs("dbt_parquet_spark_cli"), catalog, src_rel, rel,
                key, from_version=int(from_v),
            )
            if v is None:
                print(
                    f"OK apply-changes {rel.view_name}: already applied "
                    "(exactly-once skip)"
                )
            else:
                print(
                    f"OK apply-changes {src_rel.view_name} -> "
                    f"{rel.view_name} (version {v})"
                )
        if args.optimize:
            from .session import get_spark as _gs
            from .versioned import optimize_versioned

            cols = (
                tuple(c.strip() for c in args.vt_cluster_by.split(",") if c.strip())
                if args.vt_cluster_by
                else None
            )
            zcols = (
                tuple(c.strip() for c in args.vt_zorder_by.split(",") if c.strip())
                if args.vt_zorder_by
                else None
            )
            v = optimize_versioned(
                _gs("dbt_parquet_spark_cli"), catalog, rel,
                cluster_by=cols, zorder_by=zcols,
            )
            print(f"OK optimize {rel.view_name} (version {v})")
        if args.rollback is not None:
            v = rollback_versioned(catalog, rel, args.rollback)
            print(f"OK rollback {rel.view_name} -> snapshot {args.rollback} (version {v})")
        if args.vacuum is not None:
            vkw = {}
            if args.orphan_grace_s is not None:
                vkw["orphan_grace_s"] = args.orphan_grace_s
            deleted = vacuum_versions(
                catalog, rel, keep_last=args.vacuum,
                retention_s=args.retention_s, dry_run=args.dry_run, **vkw,
            )
            if args.dry_run:
                for d in deleted:
                    print(f"would reap {d}")
                print(f"OK vacuum (dry run) {rel.view_name}: {len(deleted)} file(s) would be reaped")
            else:
                print(f"OK vacuum {rel.view_name}: {len(deleted)} file(s) reaped")
        for h in version_history(catalog, rel):
            cur = " <- current" if h["is_current"] else ""
            print(
                f"v{h['version']}\t{h['op']}\tparent={h['parent']}\t"
                f"rows={h['rows']}\tfiles={h['n_files']}{cur}"
            )
        return 0

    from .session import get_spark

    spark = get_spark("dbt_parquet_spark_cli")

    if args.cmd == "run":
        from .project import Project

        project = Project.from_dir(catalog, args.models_dir)
        results = project.run(
            spark,
            threads=args.threads,
            single_file=args.single_file,
            select=args.select.split(",") if args.select else None,
            state=args.state,
        )
        for name in project.dag_order():
            if name not in results:
                continue  # outside --select
            r = results[name]
            if r.skipped:
                print(f"SKIP {name}: unchanged -> {r.relation.path}")
            else:
                print(f"OK {name}: {r.rows} rows -> {r.relation.path}")
    elif args.cmd == "seed":
        from .materialize import load_seed

        name = args.name or os.path.splitext(os.path.basename(args.csv))[0]
        if args.schema:
            catalog.create_schema(args.schema)
        rel = catalog.relation(name, args.schema)
        load_seed(spark, catalog, args.csv, rel)
        print(f"OK seed {name}: {catalog.stats(catalog.snapshot(rel)).rows} rows")
    elif args.cmd == "docs":
        for row in catalog.catalog_df(spark).collect():
            print(
                f"{row.table_schema or '(default)'}\t{row.table_name}\t"
                f"{row.column_name}\t{row.column_type}"
            )
        if args.json_path:
            catalog.docs_artifact(spark, args.json_path)
            print(f"OK docs artifact -> {args.json_path}")
    elif args.cmd == "test":
        from .project import Project

        project = Project.from_dir(catalog, args.models_dir)
        catalog.register_all_views(spark)
        failures = 0
        if args.unique:
            n = project.test_unique(spark, args.model, args.unique)
            print(f"unique({args.model}.{args.unique}): {'PASS' if n == 0 else f'FAIL ({n})'}")
            failures += n > 0
        if args.not_null:
            n = project.test_not_null(spark, args.model, args.not_null)
            print(f"not_null({args.model}.{args.not_null}): {'PASS' if n == 0 else f'FAIL ({n})'}")
            failures += n > 0
        if args.accepted_values:
            col, _, vals = args.accepted_values.partition("=")
            values = vals.split(",") if vals else []
            n = project.test_accepted_values(spark, args.model, col, values)
            print(
                f"accepted_values({args.model}.{col}): "
                f"{'PASS' if n == 0 else f'FAIL ({n})'}"
            )
            failures += n > 0
        if args.relationships:
            col, _, target = args.relationships.partition("=")
            to_model, _, to_col = target.partition(".")
            n = project.test_relationships(spark, args.model, col, to_model, to_col)
            print(
                f"relationships({args.model}.{col} -> {to_model}.{to_col}): "
                f"{'PASS' if n == 0 else f'FAIL ({n})'}"
            )
            failures += n > 0
        return 1 if failures else 0
    elif args.cmd == "sql":
        catalog.register_all_views(spark)
        spark.sql(args.query).show(50, truncate=False)
    elif args.cmd == "shard":
        from .operators.shards import append_delta_to_shards, write_training_shards
        from .sources.readers import read_parquet

        docs = read_parquet(spark, args.from_path)
        rel = catalog.relation(args.table, args.schema)
        fn = append_delta_to_shards if args.append else write_training_shards
        manifest = fn(spark, catalog, rel, docs, hex_width=args.hex_width)
        rows = manifest.orderBy("shard_id").collect()
        for r in rows:
            print(
                f"shard={r.shard_id}\tdocs={r.n_docs}\tchars={r.total_chars}\t"
                f"hash={r.content_hash}"
            )
        print(f"OK shard {rel.view_name}: {len(rows)} shards")
    elif args.cmd == "snapshot":
        from .snapshots import current_view, snapshot, snapshot_scd2
        from .sources.readers import read_parquet

        src = read_parquet(spark, args.from_path)
        rel = catalog.relation(args.table, args.schema)
        if args.updated_col:
            hist = snapshot_scd2(spark, catalog, rel, src, args.key, args.updated_col)
        elif args.check_cols and args.as_of:
            cols = [c.strip() for c in args.check_cols.split(",") if c.strip()]
            hist = snapshot(spark, catalog, rel, src, args.key, cols, args.as_of)
        else:
            print(
                "snapshot: pass --updated-col (timestamp strategy) or "
                "--check-cols + --as-of (check strategy)",
                file=sys.stderr,
            )
            return 2
        total, open_n = hist.count(), current_view(hist).count()
        print(f"OK snapshot {rel.view_name}: {total} versions ({open_n} open)")
    elif args.cmd == "maintain":
        from .maintenance import cluster_by, compact, table_stats

        if args.cleanup:
            from .maintenance import cleanup_artifacts

            found = cleanup_artifacts(
                catalog,
                args.schema,
                apply=args.apply,
                min_age_seconds=args.min_age_seconds,
            )
            for p in found:
                print(("removed " if args.apply else "orphan ") + p)
            print(f"OK cleanup: {len(found)} artifact(s){' removed' if args.apply else ''}")
            return 0
        if args.stats:
            for r in table_stats(spark, catalog).collect():
                print(
                    f"{r.table_schema or '(default)'}\t{r.table_name}\t"
                    f"rows={r.n_rows}\tfiles={r.n_files}\tbytes={r.total_bytes}\t"
                    f"row_groups={r.n_row_groups}"
                )
            return 0
        if not args.table:
            print("maintain: --table is required for --compact/--cluster-by", file=sys.stderr)
            return 2
        rel = catalog.relation(args.table, args.schema)
        if args.cluster_by:
            cols = [c.strip() for c in args.cluster_by.split(",") if c.strip()]
            cluster_by(spark, catalog, rel, cols, zorder=args.zorder)
            order = "zorder" if args.zorder and len(cols) > 1 else "sorted"
            rows = catalog.stats(catalog.snapshot(rel)).rows
            print(f"OK cluster {rel.view_name} by {','.join(cols)} ({order}): {rows} rows")
        elif args.compact:
            compact(spark, catalog, rel)
            print(f"OK compact {rel.view_name}: {catalog.stats(catalog.snapshot(rel)).rows} rows")
        else:
            print("maintain: pass --stats, --compact, or --cluster-by COLS", file=sys.stderr)
            return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
