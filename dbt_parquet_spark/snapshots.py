"""SCD Type-2 snapshots — dbt's history-tracking materialization, which the
reference explicitly does not support ("snapshots … not supported for
parquet files", reference tests/functional/basic/test_basic.py:94-99).

A snapshot table carries every version of every key with validity bounds:
  (business columns…, dbt_valid_from, dbt_valid_to NULL-when-open)
Both dbt strategies are here:
  - ``snapshot`` — CHECK strategy: change = content hash over tracked
    columns differs; the caller supplies the as_of timestamp; vanished
    keys are closed. Time travel via current_view / as_of_view.
  - ``snapshot_scd2`` — TIMESTAMP strategy: change = the source row's
    updated_col is strictly newer than the open version; idempotent by
    the strictly-newer rule (the property streaming replay relies on —
    see streaming.stream_ops.stream_scd2_to_table).
``q_scd2_history`` states the interval semantics as a driver-verified
query over the events table.

Scale (both strategies): one equi-join of the source against OPEN
versions only (one row per live key); closed history is carried, never
joined — partition the physical table on validity status if history
rewrite dominates. No windows, no corpus-sized driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import FilesystemCatalog, Relation
from .materialize import create_table_as
from .registry import register
from .sources.readers import load_table

VALID_FROM, VALID_TO = "dbt_valid_from", "dbt_valid_to"


def _hashed(df: DataFrame, key: str, tracked: list[str]) -> DataFrame:
    return df.select(
        key, *tracked, F.md5(F.to_json(F.struct(*tracked))).alias("_content_hash")
    )


def snapshot(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    source: DataFrame,
    key: str,
    tracked: list[str],
    as_of: str,
) -> DataFrame:
    """Apply one CHECK-strategy snapshot pass at timestamp ``as_of`` (ISO
    string — caller provides it, keeping runs reproducible). Returns the
    updated history.

    Scale: one join of history-current vs source on the key; history cold
    versions (valid_to set) pass through untouched — with the history
    partitioned by validity status only the current slice is read.
    """
    ts = F.lit(as_of).cast("timestamp")
    src = _hashed(source, key, tracked)

    if not catalog.exists(rel):
        first = src.select(
            key, *tracked, "_content_hash", ts.alias(VALID_FROM), F.lit(None).cast("timestamp").alias(VALID_TO)
        )
        return create_table_as(spark, catalog, rel, first, single_file=False)

    hist = catalog.read(spark, rel)
    closed = hist.filter(F.col(VALID_TO).isNotNull())
    current = hist.filter(F.col(VALID_TO).isNull())

    cur = current.alias("cur")
    new = src.alias("new")
    joined = cur.join(new, F.col(f"cur.{key}") == F.col(f"new.{key}"), "full_outer")

    still_current = joined.filter(
        F.col(f"new.{key}").isNotNull()
        & F.col(f"cur.{key}").isNotNull()
        & (F.col("cur._content_hash") == F.col("new._content_hash"))
    ).select("cur.*")
    newly_closed = joined.filter(
        F.col(f"cur.{key}").isNotNull()
        & (F.col(f"new.{key}").isNull() | (F.col("cur._content_hash") != F.col("new._content_hash")))
    ).select(*[F.col(f"cur.{c}") for c in hist.columns if c != VALID_TO], ts.alias(VALID_TO))
    opened = joined.filter(
        F.col(f"new.{key}").isNotNull()
        & (F.col(f"cur.{key}").isNull() | (F.col("cur._content_hash") != F.col("new._content_hash")))
    ).select(
        *[F.col(f"new.{c}") for c in [key, *tracked, "_content_hash"]],
        ts.alias(VALID_FROM),
        F.lit(None).cast("timestamp").alias(VALID_TO),
    )

    updated = closed.unionByName(newly_closed).unionByName(still_current).unionByName(opened)
    return create_table_as(spark, catalog, rel, updated, single_file=False)


def current_view(history: DataFrame) -> DataFrame:
    return history.filter(F.col(VALID_TO).isNull())


def as_of_view(history: DataFrame, at: str) -> DataFrame:
    """Point-in-time reconstruction: rows valid at ``at``."""
    t = F.lit(at).cast("timestamp")
    return history.filter(
        (F.col(VALID_FROM) <= t) & (F.col(VALID_TO).isNull() | (F.col(VALID_TO) > t))
    )


def snapshot_scd2(
    spark: SparkSession,
    catalog: FilesystemCatalog,
    rel: Relation,
    source_df: DataFrame,
    key_col: str,
    updated_col: str,
) -> DataFrame:
    """Run one TIMESTAMP-strategy snapshot pass: for each source row whose
    ``updated_col`` is strictly newer than the key's open version, close the
    open version (dbt_valid_to = the new timestamp) and insert the new one;
    unknown keys insert as open versions; everything else is carried
    unchanged. Validity bounds take ``updated_col``'s own type (the change
    time comes from the DATA, not the run — which is why this strategy is
    idempotent and replay-safe where ``snapshot``'s as_of is run-supplied).
    Requires ``key_col`` unique in ``source_df`` (the dbt snapshot
    contract)."""
    payload = [c for c in source_df.columns]
    vto_type = source_df.schema[updated_col].dataType

    def _open(df: DataFrame, qual: str = "") -> DataFrame:
        pre = f"{qual}." if qual else ""
        return df.select(
            *[F.col(f"{pre}{c}") for c in payload],
            F.col(f"{pre}{updated_col}").alias(VALID_FROM),
            F.lit(None).cast(vto_type).alias(VALID_TO),
        )

    if not catalog.exists(rel):
        return create_table_as(spark, catalog, rel, _open(source_df))

    old = catalog.read(spark, rel)
    cur = old.filter(F.col(VALID_TO).isNull())
    hist = old.filter(F.col(VALID_TO).isNotNull())

    src = source_df.alias("s")
    match = src.join(cur.alias("c"), F.col(f"s.{key_col}") == F.col(f"c.{key_col}"))
    newer = match.filter(F.col(f"s.{updated_col}") > F.col(f"c.{VALID_FROM}"))
    new_versions = _open(newer, "s")
    closed = newer.select(
        *[F.col(f"c.{c}") for c in payload + [VALID_FROM]],
        F.col(f"s.{updated_col}").alias(VALID_TO),
    )
    changed_keys = newer.select(F.col(f"s.{key_col}").alias(key_col))
    carried_open = cur.join(changed_keys, key_col, "left_anti")
    brand_new = _open(source_df.join(cur.select(key_col), key_col, "left_anti"))
    snap = hist.unionByName(closed).unionByName(carried_open).unionByName(new_versions).unionByName(brand_new)
    return create_table_as(spark, catalog, rel, snap)


# The SCD2 history as DuckDB CTEs — ONE render shared by the q_scd2_history
# and q_pit_join oracles (the frozen-render discipline: two oracles, one
# definition).
_SCD2_HISTORY_CTES = """marked AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN LAG(event_type) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                         IS NOT DISTINCT FROM event_type
                    THEN 0 ELSE 1 END AS chg
        FROM events
    ),
    runs AS (
        SELECT user_id, event_type, ts,
               SUM(chg) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS run_id
        FROM marked
    ),
    versions AS (
        SELECT user_id, event_type, run_id,
               CAST(MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS valid_from_us
        FROM runs GROUP BY user_id, event_type, run_id
    ),
    history AS (
        SELECT user_id, event_type, valid_from_us,
               LEAD(valid_from_us) OVER (PARTITION BY user_id
                                         ORDER BY valid_from_us) AS valid_to_us
        FROM versions
    )"""


@register(
    "q_scd2_history",
    oracle=f"""
    WITH {_SCD2_HISTORY_CTES}
    SELECT user_id, event_type, valid_from_us, valid_to_us FROM history
    """,
    tags=("snapshot", "scd2", "history", "window"),
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 change history derived from an event stream: consecutive equal
    event_type rows per user collapse into one version row with
    [valid_from_us, valid_to_us) validity (open version: NULL valid_to) —
    exactly what snapshot_scd2 accretes across runs, stated as one query so
    the driver value-checks the interval semantics. Timestamps surface as
    BIGINT epoch-micros on both engines (events.ts is parquet
    TIMESTAMP(NANOS); the reader lands it as micro-precision TimestampType,
    and the oracle's CAST(ts AS TIMESTAMP) truncates identically — the
    established batch_windows.py idiom).

    Scale: two user_id-keyed windows (per-entity partitions) and one
    (user, run) aggregate — one shuffle; versions ≈ change points, far
    fewer than events."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = events.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), F.lit(0)
        )
        .otherwise(F.lit(1))
        .alias("chg"),
    ).select(
        "user_id",
        "event_type",
        "ts",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("run_id"),
    )
    versions = marked.groupBy("user_id", "event_type", "run_id").agg(
        F.min(F.unix_micros("ts")).alias("valid_from_us")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from_us")
    return versions.select(
        "user_id",
        "event_type",
        "valid_from_us",
        F.lead("valid_from_us").over(w2).alias("valid_to_us"),
    )


@register(
    "q_pit_join",
    oracle=f"""
    WITH {_SCD2_HISTORY_CTES}
    SELECT e.event_id, e.user_id,
           CAST(epoch_us(CAST(e.ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
           h.event_type AS state_at_event
    FROM events e
    JOIN history h
      ON e.user_id = h.user_id
     AND h.valid_from_us <= epoch_us(CAST(e.ts AS TIMESTAMP))
     AND (h.valid_to_us IS NULL
          OR epoch_us(CAST(e.ts AS TIMESTAMP)) < h.valid_to_us)
    """,
    tags=("snapshot", "scd2", "temporal-join", "point-in-time"),
)
def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join — the query SCD2 history exists FOR: attach to
    every fact (event) the dimension version valid at the fact's own
    timestamp: user_id equality + [valid_from, valid_to) interval
    residual. Every event matches exactly ONE version (intervals partition
    each user's timeline), pinned in tests along with self-consistency:
    the version valid at an event's ts carries that event's own run state.

    Scale: an equi-join on user_id with the interval test as a residual
    predicate — per-user version lists are change-count-sized, so the join
    never expands beyond facts x (versions per user at that instant) = 1
    row per fact. No window over facts, no range-join quadratic."""
    hist = q_scd2_history(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    return (
        ev.alias("e")
        .join(
            hist.alias("h"),
            (F.col("e.user_id") == F.col("h.user_id"))
            & (F.col("h.valid_from_us") <= F.col("e.ts_us"))
            & (F.col("h.valid_to_us").isNull() | (F.col("e.ts_us") < F.col("h.valid_to_us"))),
        )
        .select(
            "e.event_id",
            "e.user_id",
            "e.ts_us",
            F.col("h.event_type").alias("state_at_event"),
        )
    )
