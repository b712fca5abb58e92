"""Query registry powering ``__spark_entry__`` and the oracle tests.

Every operator from SURVEY.md §2 (and every north-star operator) is
declared exactly once, as a ``@query``-decorated builder plus (usually)
a DuckDB-runnable oracle SQL string. ``__spark_entry__.queries()`` /
``oracle_sql()`` and the self-check test harness both read this table.

Determinism contract (critical for the driver's value-hash compare):
* Money-column aggregates are computed in DECIMAL(18,2) — exact and
  summation-order-independent — then cast to DOUBLE identically on the
  Spark and DuckDB sides, so both engines emit bit-identical doubles.
* Every computed column is aliased the same on both sides.
* collect_list-style results are sorted (`array_sort`) before emission.
* LIMIT/top-k queries carry a total order (unique-key tiebreak).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # DuckDB SQL; None → driver does rows-only check
    category: str = ""
    doc: str = ""
    tags: tuple = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: Optional[str] = None, category: str = "", tags: tuple = ()):
    """Register a query builder. ``oracle`` is ANSI SQL DuckDB runs on the
    same parquet tables (views pre-registered by the driver)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(
            name=name,
            fn=fn,
            oracle=oracle,
            category=category,
            doc=(fn.__doc__ or "").strip(),
        )
        return fn

    return deco


# The round driver's correctness gate checks the FIRST 50 registry
# entries only (r01 evidence: the window cut mid-aggregates and 93
# queries got no driver row — VERDICT r01 "What's wrong" #3). This
# curated prefix spans every SURVEY §2 family and every north-star
# operator family so one driver pass verifies at least one
# representative of everything; remaining queries follow in module
# order. tests/test_registry.py asserts the coverage property.
#
# r16 ROTATION: window policy stays BODY-CHANGED FIRST, STALENESS
# SECOND (VERDICT r14 #1). The r14/r15 body-changed set was fully
# green in CORRECTNESS_r15.json and leaves the window; the new
# DRIVER_WINDOW_BODY_CHANGED (below — the curated authority;
# tools/rotation_queue.py::body_changed_queries derives an
# over-approximate tripwire from git+AST and the guard asserts every
# changed def has at least one implicated window witness) holds the
# queries whose read path was rewritten to reuse resolved Parquet
# schemas. Then the whole r07 stale tail (24 names, drained in one
# cut), the stalest oracle-backed member of each category still
# uncovered (the every-family property), and the stalest remaining
# oracle-backed names fill the last slots.
#
# DRIVER_WINDOW_ROUND marks which round this window was cut FOR; the
# rotation drift-guard (tests/test_registry.py +
# tools/rotation_queue.py::window_guard_violations) uses it to stay
# green at the round boundary, and as of r09 the boundary arm demands
# FULL green (rows+schema+hash), not merely err-free.
DRIVER_WINDOW_ROUND = 16

# Queries whose EXECUTION changed in r16 with no driver witness on the
# changed body: layer, delete-file, CDF and add_files reads of
# versioned tables through the session schema memo (time travel,
# equality/position deletes, change feed incl. key-set run detection,
# maintenance that drops memo entries), copy-on-write and MV-refresh
# staging reads with the written schema, and fixture reads without the
# per-accessor Tables cache (tpch_q8 scans nation twice).
DRIVER_WINDOW_BODY_CHANGED: tuple[str, ...] = (
    "tpch_q8",
    "ddl_time_travel",
    "ddl_eq_delete_lifecycle",
    "ddl_pos_delete_lifecycle",
    "ddl_change_feed",
    "ddl_add_files",
    "ddl_maintenance_lifecycle",
    "ddl_dml_cow",
    "ddl_materialized_view",
)

DRIVER_WINDOW: tuple[str, ...] = DRIVER_WINDOW_BODY_CHANGED + (
    # -- the r07 stale tail (stalest full-green witness) --
    "agg_stats_builtin",
    "agg_map_entries",
    "agg_min_max_by",
    "agg_filter_clause",
    "agg_bool_bit",
    "agg_having",
    "fn_conditional",
    "fn_uuid_typeof",
    "events_json_agg",
    "events_dedup_exact",
    "ddl_ctas_view",
    "ddl_shallow_clone",
    "ddl_partition_evolution",
    "tpcds_fx_hour_bands",
    "tpcds_fx_cumulative_channels",
    "tpcds_fx_trip_bands",
    "text_fingerprint",
    "text_pii_scan",
    "text_chunking",
    "text_stratified_sample",
    "text_sequence_pack",
    "text_shard_shuffle",
    "text_weighted_sample",
    # -- family coverage: stalest oracle-backed member of each
    # category the names above leave uncovered --
    "source_csv_roundtrip",  # scan, r08
    "dedup_exact",  # dedup, r08
    "range_join_binned",  # join, r08
    "ann_pq_rerank",  # similarity, r08
    "win_pattern_vshape",  # window, r09
    "multimodal_dedup_exact",  # multimodal, r10
    "filter_predicates",  # filter, r11
    "topk_with_ties",  # sort, r12
    "setop_union_all",  # setop, r12
    "streaming_foreachbatch_upsert",  # streaming, r12
    "explode_words",  # unnest, r14
    "proj_case_cast",  # projection (sole member), r15
    # -- stalest remaining (r08) --
    "agg_basic",
    "agg_collect_sorted",
    "fn_datetime",
    "events_interpolate",
    "ddl_introspection",
    "ddl_export_snapshot",
)


def load_all() -> dict[str, Query]:
    """Import every query/operator module so their decorators run."""
    import walden_spark.queries.tpch  # noqa: F401
    import walden_spark.queries.relational  # noqa: F401
    import walden_spark.queries.aggregates  # noqa: F401
    import walden_spark.queries.windows  # noqa: F401
    import walden_spark.queries.setops  # noqa: F401
    import walden_spark.queries.scalar_functions  # noqa: F401
    import walden_spark.queries.events  # noqa: F401
    import walden_spark.queries.ddl  # noqa: F401
    import walden_spark.queries.sources  # noqa: F401
    import walden_spark.queries.tpcds  # noqa: F401
    import walden_spark.functions.udf  # noqa: F401
    import walden_spark.operators.dedup  # noqa: F401
    import walden_spark.operators.rangejoin  # noqa: F401
    import walden_spark.operators.asof  # noqa: F401
    import walden_spark.operators.fuzzyjoin  # noqa: F401
    import walden_spark.operators.rollup  # noqa: F401
    import walden_spark.operators.skew  # noqa: F401
    import walden_spark.operators.sketch  # noqa: F401
    import walden_spark.operators.scd  # noqa: F401
    import walden_spark.operators.similarity  # noqa: F401
    import walden_spark.operators.text  # noqa: F401
    import walden_spark.operators.multimodal  # noqa: F401
    import walden_spark.streaming.windows  # noqa: F401
    import walden_spark.streaming.stateful  # noqa: F401
    import walden_spark.streaming.sinks  # noqa: F401

    # Reorder: DRIVER_WINDOW prefix first, then the rest in module
    # order. Idempotent-pure (VERDICT r11 #8): build and return a NEW
    # ordered dict instead of mutating REGISTRY in place — a second
    # load_all() in one process (e.g. after a partial import) must
    # yield the identical order, and decorator registration order in
    # the global stays untouched as the stable "module order" key.
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"DRIVER_WINDOW names not registered: {missing}")
    ordered = {n: REGISTRY[n] for n in DRIVER_WINDOW}
    ordered.update((n, q) for n, q in REGISTRY.items() if n not in ordered)
    return ordered
