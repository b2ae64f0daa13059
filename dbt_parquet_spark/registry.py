"""Query registry — the contract surface exposed via ``__spark_entry__.py``.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with (where SQL-expressible) an equivalent DuckDB-runnable oracle SQL string.
The driver executes both at sf0.01 and compares row count + schema +
order-insensitive value hash, so:

- every computed column is aliased IDENTICALLY in builder and oracle;
- double aggregations go through exact DECIMAL arithmetic in BOTH engines
  (the testdata's doubles are exact 2-decimal values) and are cast back to
  DOUBLE, making results bit-identical regardless of partitioning /
  summation order — deterministic at any scale factor.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Operator modules that register queries on import.
_OPERATOR_MODULES = (
    "dbt_parquet_spark.operators.relational",
    "dbt_parquet_spark.operators.sql_surface",
    "dbt_parquet_spark.operators.sql_surface2",
    "dbt_parquet_spark.operators.sql_surface3",
    "dbt_parquet_spark.operators.sql_surface4",
    "dbt_parquet_spark.operators.windows",
    "dbt_parquet_spark.operators.lifecycle",
    "dbt_parquet_spark.operators.text",
    "dbt_parquet_spark.operators.dedup",
    "dbt_parquet_spark.operators.similarity",
    "dbt_parquet_spark.operators.multimodal",
    "dbt_parquet_spark.operators.grouped",
    "dbt_parquet_spark.operators.pipeline",
    "dbt_parquet_spark.operators.edge_semantics",
    "dbt_parquet_spark.operators.temporal",
    "dbt_parquet_spark.operators.corpus",
    "dbt_parquet_spark.operators.packing",
    "dbt_parquet_spark.operators.udtf_ops",
    "dbt_parquet_spark.operators.graph",
    "dbt_parquet_spark.operators.sql_surface5",
    "dbt_parquet_spark.operators.sketches",
    "dbt_parquet_spark.streaming.batch_windows",
    "dbt_parquet_spark.streaming.cdf_source",
    "dbt_parquet_spark.operators.subword",
    "dbt_parquet_spark.operators.shards",
    "dbt_parquet_spark.operators.release",
    "dbt_parquet_spark.operators.classifier",
    "dbt_parquet_spark.operators.selection",
    "dbt_parquet_spark.operators.audit",
    "dbt_parquet_spark.operators.layout",
    "dbt_parquet_spark.snapshots",
    "dbt_parquet_spark.operators.serving",
    "dbt_parquet_spark.operators.index_verify",
    "dbt_parquet_spark.operators.gates",
    "dbt_parquet_spark.versioned",
)

# Exposure order for ``queries()`` / ``oracle_sql()``. The driver's
# correctness pass verifies the FIRST 50 registered queries, so the front of
# this list is the verified contract surface. ROTATION POLICY (r12 verdict
# next-round #4): the 18 SURVEY §2C contract queries hold their slots
# permanently; the other 32 slots rotate each round through oracle-backed
# queries the driver has NEVER value-hash-checked, topped up with the least
# recently checked ones once fewer than 32 remain
# (tests/test_registry_window.py machine-checks the rotation against the
# committed CORRECTNESS_r*.json artifacts). Rotated-OUT queries
# stay registered (after the priority block) and stay held to the identical
# bit-exact comparison locally by tests/test_oracle_parity.py — the rotation
# widens the driver's cumulative coverage, it never weakens anything. Every
# name in the first 50 slots carries oracle SQL with scalar output columns —
# asserted by tests/test_registry_window.py — so the checked window contains
# no weaker rows-only or unhashable entries. Names not listed keep
# registration order after these.
_PRIORITY = (
    # SURVEY §2C contract queries (18, permanent)
    "q_scan_project_cast",
    "q_filter_in",
    "q_agg_count_star",
    "q_group_having",
    "q_agg_multi",
    "q_join_using",
    "q_join_multi",
    "q_cross_join",
    "q_left_anti",
    "q_union_all",
    "q_except_diff",
    "q_cte_derived",
    "q_orderby_limit",
    "q_string_split_index",
    "q_timestamp_cast",
    "q_window_rank",
    "q_seed_roundtrip",
    "q_schema_introspect",
    # ---- rotation (32 slots) ----
    # The 30 oracle-backed queries no committed CORRECTNESS_r*.json has
    # value-hash-checked (tests/test_registry_window.py pins them), which
    # include the versioned-lake readers over the shared row-level mutation
    # path (q_row_lineage over the merge-on-read upsert, q_stream_cdc_follow
    # over the change feed), plus the 2 least recently checked scalar
    # queries. Every slot has scalar output columns: a nested column (e.g.
    # q_embedding_quantize's INTEGER[] codes) cannot be hashed by the
    # driver, so such queries stay registered after the window.
    # quality / dedup / sketches
    "q_quality_rules",
    "q_embedding_cosine_dedup_exact",
    "q_sketch_distinct",
    "q_embedding_gram",
    "q_ann_filtered",
    "q_histogram",
    "q_stratified_sample",
    "q_cluster_sample",
    "q_join_size_estimate",
    # multimodal / corpus
    "q_multimodal_meta",
    "q_multimodal_frames",
    "q_media_dedup",
    "q_text_normalize",
    "q_corpus_manifest",
    "q_corpus_mix",
    # training order
    "q_training_shards",
    "q_epoch_order",
    "q_curriculum_order",
    # SQL surface / windows
    "q_salted_join",
    "q_window_ignore_nulls",
    "q_try_casts",
    "q_array_funcs2",
    "q_string_distance",
    "q_window_tumbling",
    "q_window_sliding",
    "q_window_dedup",
    # streaming and the versioned lake
    "q_stream_dedup_ingest",
    "q_stream_expectations",
    "q_stream_cdc_follow",
    "q_row_lineage",
    # least recently checked (r01 only)
    "q_arg_minmax",
    "q_bool_agg",
)


@dataclass
class QuerySpec:
    name: str
    builder: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a query builder, optionally with oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(name=name, builder=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    ordered: dict[str, QuerySpec] = {}
    for name in _PRIORITY:
        if name in REGISTRY:
            ordered[name] = REGISTRY[name]
    for name, spec in REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: spec.builder for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in load_all().items() if spec.oracle is not None}
