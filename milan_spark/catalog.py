"""Query catalog: every implemented operator exposed as a named query with a
DuckDB oracle.

This is the correctness gate described in the driver contract
(``__spark_entry__.py``): each entry pairs a Spark builder
``(spark, sf_dir) -> DataFrame`` with the equivalent ANSI SQL that DuckDB runs
on the same parquet tables. Column names/aliases match exactly on both sides.

Determinism rules used throughout (so value hashes match bit-for-bit):
- double aggregations go through DECIMAL casts (order-independent exact sums)
  and are cast back to DOUBLE at the end — both engines round the same exact
  decimal to the same double;
- averages are computed as exact decimal sum / count in double arithmetic;
- argmin/argmax ties are broken on an explicit unique column;
- no query relies on row order (the driver compares order-insensitively).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default=())
    plan: Callable[[], Any] | None = None  # the plan function, for twins


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn):
        REGISTRY[name] = QuerySpec(name=name, build=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


def events():
    """The leaf of every twin plan: the ``events`` table, bound at build
    time by :func:`register_twins`."""
    from milan_spark.plans.nodes import Node

    return Node("external_stream", {"stream_id": "events"})


# stateful aggregates emit refinements, so a plan holding one runs in
# complete mode; the other twin plans append
_COMPLETE_OPS = frozenset(
    {"aggregate", "time_window_aggregate", "session_window_aggregate", "last"}
)


def _ops(node) -> set[str]:
    return {node.op}.union(*(_ops(i) for i in node.inputs))


def register_twins(
    plan_fn: Callable[[], Any],
    *,
    oracle: str,
    batch: dict[str, str],
    streaming: dict[str, str],
) -> None:
    """Register one plan under batch and streaming names (``name -> doc``),
    all checked by the one ``oracle``: Milan's one IR, several compilers.

    ``plan_fn()`` returns a ``plans.Node`` whose leaf is :func:`events`; it
    needs no SparkSession. Every name runs ``from_json(to_json(plan))``, so
    the shipped JSON is what runs. A batch name compiles it with
    ``compile_node`` over ``sources.table(…, "events")``; a streaming name
    with ``compile_node_streaming`` over ``sources.events_stream`` and runs
    it to a memory sink, in complete mode when the plan holds a stateful
    aggregate (``_COMPLETE_OPS``), else in append mode.

    Twins that stay hand-built, because their two sides run different
    algorithms:

    - ``zscore_anomaly`` / ``streaming_zscore_anomaly``: batch windows sum
      in decimal(38); the stream folds unbounded Python ints.
    - ``asof_join_purchase_view`` / ``streaming_asof_purchase_view`` and
      ``scd2_temporal_join`` / ``streaming_scd2_temporal_join``: the batch
      side pre-dedups its right side; the stream pairs through the
      enrichment state machine keyed on time.
    - ``partitioned_application_two_part`` /
      ``streaming_partitioned_application`` (and ``application_bundle_run``,
      whose oracle the latter shares): an ``Application`` bundle carries
      its own source bindings and sinks, and runs on either backend itself.
    - the graph pairs (``*_cycle_ir`` against ``operators/graph.py``).
    """

    def plan():
        from milan_spark.plans.nodes import from_json, to_json

        return from_json(to_json(plan_fn()))

    def batch_build(spark: SparkSession, sf_dir: str) -> DataFrame:
        from milan_spark.plans.nodes import compile_node
        from milan_spark.sources import table

        return compile_node(plan(), spark, sources={"events": table(spark, sf_dir, "events")})

    def streaming_build(name: str):
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            from milan_spark.plans.backend_streaming import compile_node_streaming
            from milan_spark.sources import events_stream
            from milan_spark.streaming import run_to_memory

            node = plan()
            sdf = compile_node_streaming(
                node, spark, source_overrides={"events": events_stream(spark, sf_dir)}
            )
            mode = "complete" if _ops(node) & _COMPLETE_OPS else "append"
            return run_to_memory(sdf, name, output_mode=mode)

        return build

    for name, doc in batch.items():
        REGISTRY[name] = QuerySpec(name, batch_build, oracle, doc, plan=plan_fn)
    for name, doc in streaming.items():
        REGISTRY[name] = QuerySpec(name, streaming_build(name), oracle, doc, plan=plan_fn)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {name: spec.build for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


_loaded = False


def _ensure_loaded():
    global _loaded
    if _loaded:
        return
    # Import for registration side effects.
    from milan_spark.queries import core  # noqa: F401

    try:
        from milan_spark.queries import windows  # noqa: F401
    except ImportError:
        pass
    try:
        from milan_spark.queries import scans  # noqa: F401
    except ImportError:
        pass
    try:
        from milan_spark.queries import joins  # noqa: F401
    except ImportError:
        pass
    try:
        from milan_spark.queries import llm_pipeline  # noqa: F401
    except ImportError:
        pass
    try:
        from milan_spark.queries import streaming  # noqa: F401
    except ImportError:
        pass
    try:
        from milan_spark.queries import advanced  # noqa: F401
    except ImportError:
        pass
    try:
        from milan_spark.queries import analytics  # noqa: F401
    except ImportError:
        pass
    try:
        from milan_spark.queries import subqueries  # noqa: F401
    except ImportError:
        pass
    try:
        from milan_spark.queries import mining  # noqa: F401
    except ImportError:
        pass
    _reorder_registry()
    _loaded = True


# The correctness driver checks exactly the FIRST 50 registered queries, and
# each one anchors a SURVEY §2 / LLM-component coverage row — so the first 50
# must hold one verifying query per distinct row, no duplicates. Queries that
# share a row with an earlier one (e.g. tumbling_window_offset with
# tumbling_window_daily) and pure extensions (analytics, subqueries) sit past
# rank 50; they remain registered and are still verified by the local
# tools/check_correctness.py run over all queries.
DRIVER_WINDOW: tuple[str, ...] = (
    # §2.2/§2.4 core relational ops
    "q1_pricing_summary",
    "filter_project_scalar",
    "group_agg_builtins",
    "group_argmax_argmin",
    "union_streams",
    "unique_dedup",
    "semi_anti_join",
    "topk_per_group",
    "add_fields_to_field",
    # §2.5 windows
    "tumbling_window_daily",
    "sliding_window_hourly",
    "record_window_trailing",
    "session_window_gap",
    # §2.6 scans
    "running_sum_by",
    "stream_max_by",
    "last_per_key",
    "scan_threshold",
    "scan_threshold_rewritten",
    # §2.3 joins
    "left_enrichment_join",
    "full_enrichment_join",
    "left_inner_enrichment_join",
    "enrichment_residual_condition",
    "snapshot_join",
    "windowed_join_apply",
    "asof_join_purchase_view",
    # §2.1 formats, §2.4 grouped UDFs, §2.8 UDF escape hatch, free extras
    "grouped_flat_map",
    "tumbling_window_apply",
    "udf_escape_hatch",
    "csv_roundtrip",
    "json_roundtrip",
    "rollup_revenue",
    # §2 streaming twins (keyed value-state machines; applyInPandasWithState by default)
    "streaming_left_enrichment_join",
    "streaming_tumbling_window_daily",
    "streaming_scan_threshold",
    "streaming_full_enrichment_join",
    # LLM-pipeline components (graded first-class)
    "text_quality_features",
    "exact_dedup",
    "ngram_jaccard_dedup",
    "minhash_lsh_dedup",
    "simhash_dedup",
    "embedding_near_dup",
    "dedup_clusters",
    "ann_brute_force",
    "ann_lsh",
    "ann_ivf",
    "multimodal_metadata",
    "multimodal_features",
    "corpus_curation_pipeline",
    "pack_sequences_512",
    "token_budget_mixture_sources",
)


def _reorder_registry() -> None:
    # mutate REGISTRY in place: modules that did `from ... import REGISTRY`
    # hold an alias, and rebinding the global would strand them on the stale
    # pre-reorder dict
    ordered: dict[str, QuerySpec] = {}
    for name in DRIVER_WINDOW:
        if name in REGISTRY:
            ordered[name] = REGISTRY[name]
    for name, spec in REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    REGISTRY.clear()
    REGISTRY.update(ordered)
