"""Logical plan nodes — the engine's analog of Milan's expression IR.

The reference builds a JSON-serializable DAG of ``StreamExpression`` nodes with
ids (``program/StreamExpressions.scala:15-18``), stored dereferenced (children
replaced by ``Ref(nodeId)``) in a ``StreamCollection``
(``graph/StreamCollection.scala:9-33``) and round-tripped through
``TreeParser`` (``program/TreeParser.scala:23-120``). Three compilers consume
that IR.

Here the same idea is one dataclass: ``Node(op, params, inputs, node_id)``.
Scalar expressions are stored as Spark SQL strings (the runtime-Python analog
of Milan's macro-captured expression trees); plans built from SQL-string
expressions serialize to JSON and back. The single compiler target is a
DataFrame — Catalyst replaces the reference's per-backend source codegen
(``flink/generator/FlinkGenerator.scala:63-87``).

``_compile_op`` is the one per-op builder: ``compile_node``, the streaming
backend's shared ops, plan validation and every ``Stream`` DSL method build an
op's DataFrame through it. A node built from live Column/callable objects
holds those values in its ``params`` and is marked non-serializable: it still
compiles (``to_json`` refuses it), mirroring the reference's split between
portable IR and opaque ApplyFunction references.
"""

from __future__ import annotations

import itertools
import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from milan_spark import fixpoint
from milan_spark.streaming import _conf_scope

_ids = itertools.count()


def _next_id(op: str) -> str:
    return f"{op}_{next(_ids)}"


@dataclass
class Node:
    op: str
    params: dict[str, Any] = field(default_factory=dict)
    inputs: list["Node"] = field(default_factory=list)
    node_id: str = ""
    serializable: bool = True

    def __post_init__(self):
        if not self.node_id:
            self.node_id = _next_id(self.op)

    @property
    def is_serializable(self) -> bool:
        return self.serializable and all(i.is_serializable for i in self.inputs)


def to_json(node: Node) -> str:
    """Dereferenced JSON form, like the reference's StreamCollection: nodes
    stored flat, children replaced by id references.

    The order is fixed, not sorted: ``root`` then ``nodes``, the nodes
    inputs-first in walk order, each as ``op``, ``params``, ``inputs``, and
    params in the order they were given. Dict-valued params keep their key
    order, because it is the output column order of ``add_fields``,
    aggregates and ``record_window``."""
    if not node.is_serializable:
        raise ValueError(f"plan contains non-serializable node under {node.node_id}")
    nodes: dict[str, dict] = {}

    def walk(n: Node) -> str:
        if n.node_id not in nodes:
            nodes[n.node_id] = {
                "op": n.op,
                "params": n.params,
                "inputs": [walk(i) for i in n.inputs],
            }
        return n.node_id

    root = walk(node)
    return json.dumps({"root": root, "nodes": nodes}, indent=2)


def from_json(text: str) -> Node:
    doc = json.loads(text)
    built: dict[str, Node] = {}

    def build(nid: str) -> Node:
        if nid not in built:
            spec = doc["nodes"][nid]
            built[nid] = Node(
                op=spec["op"],
                params=spec["params"],
                inputs=[build(i) for i in spec["inputs"]],
                node_id=nid,
            )
        return built[nid]

    return build(doc["root"])


def compile_node(
    node: Node, spark: SparkSession, sources: dict[str, DataFrame] | None = None
) -> DataFrame:
    """Compile a serializable plan to a DataFrame (the batch backend).

    Dispatch-by-op mirrors the reference's GeneratorContext
    (``flink/generator/GeneratorContext.scala:163-198``) but emits a DataFrame
    instead of Scala source; Catalyst then plans the physical execution.
    Memoized per node id like the reference's common-subgraph reuse
    (``GeneratorContext.scala:89-100``).

    ``sources`` binds ``external_stream`` placeholder nodes by stream id —
    the reference's deploy-time source binding
    (``application/ApplicationConfiguration.scala:29-52`` attaches
    DataSources to stream ids, separate from the portable program graph).
    """
    memo: dict[str, DataFrame] = {}
    sources = sources or {}

    def compile_(n: Node) -> DataFrame:
        if n.node_id in memo:
            return memo[n.node_id]
        if n.op == "external_stream":
            sid = n.params["stream_id"]
            if sid not in sources:
                raise ValueError(
                    f"external_stream {sid!r} is unbound; pass sources={{{sid!r}: df}}"
                )
            df = sources[sid]
        elif n.op == "cycle":
            df = _run_cycle(n)
        elif n.op == "cycle_ref":
            raise ValueError(
                f"cycle_ref {n.node_id} outside a cycle body has no meaning; "
                "it must appear under a cycle node's body input"
            )
        else:
            df = _compile_op(n, spark, [compile_(i) for i in n.inputs])
        memo[n.node_id] = df
        return df

    def _run_cycle(n: Node) -> DataFrame:
        """Milan Cycle as an IR node (StreamExpressions.scala:141; the Flink
        compiler builds a feedback edge from the same serialized node,
        GeneratorContext.scala:122-130,349-357). Batch realization = the
        driver-side fixpoint of ``milan_spark.fixpoint``: inputs[0] is the
        initial state, inputs[1] the body plan containing one ``cycle_ref``
        leaf that binds to the previous iteration's result. Subtrees that do
        NOT depend on the cycle_ref (edge tables, lookup sides) compile once
        through the outer memo — wrap them in a ``cache`` node to persist
        them across iterations. ``localCheckpoint`` truncates lineage every
        round so the analyzed plan stays O(body), not O(iterations·body).

        ``max_iterations`` is a truncation, not a cap error: a cycle whose
        ``converge`` rule has not held by then returns its last round's
        state, which is what oracles that replay the same round count
        (``kcore_cycle_ir``, ``bfs_levels_cycle_ir``) compare against."""
        if len(n.inputs) != 2:
            raise ValueError(
                f"cycle {n.node_id} needs exactly [initial, body] inputs"
            )
        # converge="unchanged_count": stop when a round leaves the state's
        # row count unchanged — a termination criterion the plan AUTHOR
        # declares (Flink iterations carry the same concept); valid only
        # for set-monotone bodies (grow-only like BFS/TC closures or
        # shrink-only like peeling), where an unchanged count IS the
        # fixpoint. Numeric cycles (SSSP, PageRank, HITS) improve values at
        # constant cardinality and must NOT set it. The probe rides each
        # round's materialization job as a CollectMetrics observation — no
        # separate count() job per round.
        converge = n.params.get("converge")
        if converge not in (None, "unchanged_count"):
            raise ValueError(
                f"cycle {n.node_id}: unknown converge={converge!r} "
                "(supported: 'unchanged_count')"
            )
        # planner="static" (default "adaptive"): plan the round bodies with
        # AQE off. A declaration by the plan AUTHOR that the body's join
        # strategies and partitioning are fixed by construction (frontier ⋈
        # co-partitioned edge cache, message aggregates back to the same
        # key), so per-round adaptive re-planning buys nothing and costs a
        # driver-synchronized stage-materialization job per exchange —
        # measured 9.97 → 5.85 s on sssp_weighted_cycle_ir at sf0.1.
        # Bodies whose join sides change size data-dependently across
        # rounds (transitive closures, rescale joins against one-row maxes)
        # must keep "adaptive" for runtime broadcast conversion — measured
        # 2× the other way on the SCC closure cycle. Scale-independent: the
        # choice tracks the body's SHAPE, not the data volume.
        planner = n.params.get("planner", "adaptive")
        if planner not in ("adaptive", "static"):
            raise ValueError(
                f"cycle {n.node_id}: unknown planner={planner!r} "
                "(supported: 'adaptive', 'static')"
            )
        # physical planning happens inside localCheckpoint (toRdd), so a conf
        # scope around it pins the round's plan while leaving the rest of the
        # session adaptive
        confs = {"spark.sql.adaptive.enabled": "false"} if planner == "static" else {}

        def step(state: "tuple[DataFrame, int | None]", _r: int) -> "tuple[tuple, bool]":
            it_memo: dict[str, DataFrame] = {}

            def cbody(m: Node) -> DataFrame:
                if m.op == "cycle_ref":
                    return state[0]
                if not _contains_cycle_ref(m):
                    return compile_(m)  # shared subtree: outer memo, one compile
                if m.node_id in it_memo:
                    return it_memo[m.node_id]
                if m.op == "cycle":
                    raise ValueError(
                        f"cycle {m.node_id}: nested cycles are not supported "
                        "(the reference's Flink compiler supports one feedback "
                        "edge per cycle scope)"
                    )
                df = _compile_op(m, spark, [cbody(i) for i in m.inputs])
                it_memo[m.node_id] = df
                return df

            out = cbody(n.inputs[1])
            with _conf_scope(spark, confs):
                if converge is None:
                    # fixed-iteration cycle: no per-round driver decision, so
                    # no per-round barrier — the lazy checkpoint still
                    # truncates lineage (each round's plan is O(body)) and
                    # still computes each round exactly once (the checkpointed
                    # RDD caches on first access), but the result-stage
                    # scan+cache job that an eager checkpoint runs per round
                    # is deferred into the consumer's single final action
                    return (out.localCheckpoint(eager=False), None), False
                # eager round: the driver must see the count to decide
                # whether to continue; the count rides the round's own
                # materialization job (one job per round)
                nxt, c = fixpoint.checkpoint_counted(out)
            return (nxt, c), c == state[1]

        (cur, _), _ = fixpoint.fixpoint(
            step, (compile_(n.inputs[0]), None), int(n.params["max_iterations"]),
            on_cap="return", what=f"cycle {n.node_id} max_iterations",
        )
        return cur

    return compile_(node)


def _contains_cycle_ref(n: Node) -> bool:
    return n.op == "cycle_ref" or any(_contains_cycle_ref(i) for i in n.inputs)


def _resolve_function_ref(ref: str, node_id: str = ""):
    """Resolve a dotted-path function reference (``pkg.module:attr`` or
    ``pkg.module.attr``) — the engine's FunctionReference
    (``program/Expression.scala:407`` carries UDFs in the portable IR as a
    name pair resolved again by each consuming compiler,
    ``ConvertExpressionHost.scala:253-269``). Failures raise
    :class:`~milan_spark.errors.MilanAnalysisError` naming the node, not an
    ImportError from somewhere inside a compile."""
    from milan_spark.errors import MilanAnalysisError

    import importlib

    mod_name, _, attr = ref.partition(":")
    if not attr:
        mod_name, _, attr = ref.rpartition(".")
    if not mod_name or not attr:
        raise MilanAnalysisError(
            f"apply_function [{node_id}]: malformed function reference {ref!r} "
            "(expected 'pkg.module:attr' or 'pkg.module.attr')"
        )
    try:
        obj = importlib.import_module(mod_name)
        for part in attr.split("."):
            obj = getattr(obj, part)
    except (ImportError, AttributeError) as e:
        raise MilanAnalysisError(
            f"apply_function [{node_id}]: cannot resolve function reference "
            f"{ref!r}: {e}"
        ) from None
    if not callable(obj):
        raise MilanAnalysisError(
            f"apply_function [{node_id}]: reference {ref!r} is not callable"
        )
    return obj


def _col(e: str | Column) -> Column:
    """A SQL expression string parsed, or a live Column (non-serializable
    nodes) as is."""
    return F.expr(e) if isinstance(e, str) else e


def _compile_op(n: Node, spark: SparkSession, ins: list[DataFrame]) -> DataFrame:
    p = n.params
    if n.op == "apply_function":
        fn = _resolve_function_ref(p["ref"], n.node_id)
        udf = F.pandas_udf(fn, p["return_type"])
        return ins[0].withColumn(
            p.get("alias", "result"), udf(*[F.col(c) for c in p["cols"]])
        )
    if n.op == "parquet_source":
        from milan_spark.sources import read_parquet

        return read_parquet(spark, p["path"])
    if n.op == "file_source":
        from milan_spark.sources import file_source

        return file_source(spark, p["path"], fmt=p.get("fmt", "parquet"), options=p.get("options"))
    if n.op == "list_source":
        from milan_spark.sources import list_source

        return list_source(spark, p["rows"], schema=p.get("schema"), with_seq=p.get("with_seq", False))
    if n.op == "filter":
        return ins[0].filter(p["condition"])
    if n.op == "map":
        return ins[0].select(*[_col(e) for e in p["exprs"]])
    if n.op == "add_fields":
        df = ins[0]
        for name, expr in p["fields"].items():
            df = df.withColumn(name, _col(expr))
        return df
    if n.op == "to_field":
        df = ins[0]
        return df.select(F.struct(*df.columns).alias(p["name"]))
    if n.op == "aggregate":
        df = ins[0]
        aggs = [_col(e).alias(a) for a, e in p["aggs"].items()]
        if p.get("keys"):
            return df.groupBy(*[F.expr(k) for k in p["keys"]]).agg(*aggs)
        return df.groupBy().agg(*aggs)
    if n.op == "time_window_aggregate":
        from milan_spark.operators.windows import sliding_window

        return sliding_window(
            ins[0],
            p["ts"],
            p["size"],
            p.get("slide", p["size"]),
            offset=p.get("offset"),
            keys=p.get("keys", []),
            aggs=[_col(e).alias(a) for a, e in p["aggs"].items()],
        )
    if n.op == "session_window_aggregate":
        from milan_spark.operators.windows import session_window_agg

        return session_window_agg(
            ins[0],
            p["ts"],
            p["gap"],
            keys=p.get("keys", []),
            aggs=[_col(e).alias(a) for a, e in p["aggs"].items()],
        )
    if n.op == "record_window":
        from milan_spark.operators.windows import record_window

        return record_window(
            ins[0],
            p["n"],
            {a: _col(e) for a, e in p["aggs"].items()},
            keys=p.get("keys", []),
            seq=p.get("seq", "__seq"),
        )
    if n.op == "union":
        return ins[0].unionByName(ins[1])
    if n.op == "intersect":
        return ins[0].intersect(ins[1])
    if n.op == "except":
        return ins[0].exceptAll(ins[1]).dropDuplicates()
    if n.op in ("rollup", "cube"):
        grouped = getattr(ins[0], n.op)(*p["keys"])
        return grouped.agg(*[_col(e).alias(a) for a, e in p.get("aggs", {}).items()])
    if n.op == "grouping_sets":
        grouped = ins[0].groupingSets([list(s) for s in p["sets"]], *p["keys"])
        return grouped.agg(*[_col(e).alias(a) for a, e in p.get("aggs", {}).items()])
    if n.op in ("left_enrichment_join", "full_enrichment_join", "left_inner_enrichment_join"):
        from milan_spark.operators import joins as J

        fn = getattr(J, n.op)
        kwargs = dict(
            left_on=p["left_on"],
            right_on=p["right_on"],
            left_seq=p.get("left_seq", "__seq"),
            right_seq=p.get("right_seq", "__seq"),
            right_prefix=p.get("right_prefix", "r_"),
        )
        res = p.get("residual")
        if n.op != "left_inner_enrichment_join" and res:
            kwargs["residual"] = res if callable(res) else lambda l, r: F.expr(res)
        return fn(ins[0], ins[1], **kwargs)
    if n.op == "relational_join":
        # One node, both backends. Optional params for the stream-stream
        # case (Spark supports watermarked stream-stream joins natively —
        # the reference's TestFlinkGenJoin.scala:31-110 join programs are
        # the semantic anchor):
        #   watermarks: {"left": [ts_col, delay], "right": [ts_col, delay]}
        #     — applied only to streaming inputs (batch ignores them), and
        #     REQUIRED by Spark for outer stream-stream joins / state
        #     eviction on inner ones
        #   time_condition: SQL over l.<col> / r.<col> — the event-time
        #     range predicate that bounds join state (e.g.
        #     "l.ts BETWEEN r.ts AND r.ts + interval 7 days")
        # Batch evaluates the identical predicate, so the two backends agree
        # by construction.
        how = p.get("how", "inner")
        left, right = ins
        wm = p.get("watermarks") or {}
        if wm.get("left") and left.isStreaming:
            left = left.withWatermark(*wm["left"])
        if wm.get("right") and right.isStreaming:
            right = right.withWatermark(*wm["right"])
        tc = p.get("time_condition")
        if tc is None:
            return left.join(right, on=p["on"], how=how)
        from functools import reduce
        from operator import and_

        keys = [p["on"]] if isinstance(p["on"], str) else list(p["on"])
        la, ra = left.alias("l"), right.alias("r")
        cond = reduce(
            and_,
            [F.col(f"l.{c}") == F.col(f"r.{c}") for c in keys] + [F.expr(tc)],
        )
        joined = la.join(ra, on=cond, how=how)
        if how in ("left_semi", "semi", "leftsemi", "left_anti", "anti", "leftanti"):
            # semi/anti keep ONLY left columns — there is no right side to
            # project (Spark supports watermarked stream-stream left-semi
            # natively; matched rows emit without waiting for eviction)
            return joined.select(
                *[F.col(f"l.{c}").alias(c) for c in left.columns]
            )
        prefix = p.get("right_prefix", "r_")
        left_cols = set(left.columns)
        out = []
        for c in keys:
            key = (
                F.coalesce(F.col(f"l.{c}"), F.col(f"r.{c}"))
                if how in ("full", "full_outer", "outer")
                else F.col(f"r.{c}") if how in ("right", "right_outer")
                else F.col(f"l.{c}")
            )
            out.append(key.alias(c))
        out += [F.col(f"l.{c}").alias(c) for c in left.columns if c not in keys]
        out += [
            F.col(f"r.{c}").alias(prefix + c if c in left_cols else c)
            for c in right.columns
            if c not in keys
        ]
        return joined.select(*out)
    if n.op == "left_windowed_join":
        from milan_spark.operators.joins import left_windowed_agg_join

        return left_windowed_agg_join(
            ins[0],
            ins[1],
            left_on=p["left_on"],
            right_on=p["right_on"],
            aggs=p["aggs"],
            left_seq=p.get("left_seq", "__seq"),
            right_seq=p.get("right_seq", "__seq"),
        )
    if n.op == "asof_join":
        from milan_spark.operators.joins import asof_join

        return asof_join(
            ins[0],
            ins[1],
            left_on=p["left_on"],
            right_on=p["right_on"],
            left_ord=p["left_ord"],
            right_ord=p["right_ord"],
            tolerance=p.get("tolerance"),
            direction=p.get("direction", "backward"),
            right_prefix=p.get("right_prefix", "r_"),
        )
    if n.op == "running_sum_by":
        from milan_spark.operators.scans import running_sum_by

        return running_sum_by(
            ins[0], p["arg"], keys=p.get("keys", []), seq=p.get("seq", "__seq"), alias=p.get("alias", "running_sum")
        )
    if n.op in ("stream_max_by", "stream_min_by"):
        from milan_spark.operators import scans as S

        fn = getattr(S, n.op)
        return fn(ins[0], p["arg"], keys=p.get("keys", []), seq=p.get("seq", "__seq"))
    if n.op == "last":
        from milan_spark.operators.scans import last

        return last(ins[0], keys=p.get("keys", []), seq=p.get("seq", "__seq"))
    if n.op == "scan_fold":
        if p.get("fold_ref"):
            # opaque (non-associative) fold carried in the portable IR as a
            # dotted-path FunctionReference — the same mechanism apply_function
            # uses (the reference's Scan holds its step function the same way,
            # program/StreamExpressions.scala:505). Batch realization: the
            # ordered per-key mapInPandas fold.
            from milan_spark.operators.scans import scan as scan_op

            fn = _resolve_function_ref(p["fold_ref"], n.node_id)
            return scan_op(
                ins[0],
                fn,
                initial_state=p.get("initial_state"),
                output_schema=p["output_schema"],
                keys=p.get("keys", []),
                seq=p.get("seq", "__seq"),
            )
        raise ValueError(
            "scan_fold is a logical-only node: run milan_spark.plans.rewrite.optimize() "
            "to lower it to window aggregates before compiling (general non-associative "
            "folds carry a fold_ref FunctionReference, or use Stream.scan, which is "
            "deliberately not plan-serializable)"
        )
    if n.op == "grouped_rank":
        raise ValueError(
            "grouped_rank is a logical-only node: run milan_spark.plans.rewrite.optimize() "
            "to lower it to a row_number() window before compiling (general grouped "
            "transforms use GroupedStream.flat_map, which is deliberately not "
            "plan-serializable)"
        )
    if n.op == "cum_window":
        from milan_spark.operators.scans import cum_fold

        return cum_fold(
            ins[0],
            {name: (s["kind"], s["arg"], s.get("init")) for name, s in p["cols"].items()},
            keys=p.get("keys", []),
            seq=p.get("seq", "__seq"),
        )
    if n.op == "hint":
        return ins[0].hint(p["name"])
    if n.op == "cache":
        # persist a reused subtree (edge tables under a cycle, shared join
        # sides) — MEMORY_AND_DISK so a 100 TB-scale frame spills instead of
        # evicting; a no-op hint on the streaming backend
        from pyspark import StorageLevel

        return ins[0].persist(StorageLevel.MEMORY_AND_DISK)
    if n.op == "checkpoint":
        # lineage truncation as a PLAN op: materialize-once for a subtree that
        # feeds multiple consumers (the blowup plans/validate.
        # audit_shared_subtrees flags — a two-consumer frame inside an
        # iteration re-evaluates its upstream per consumer per round; measured
        # 2^8x on the first HITS draft). Lazy: computes on first access within
        # the enclosing job, reused after. Streaming backend treats it as a
        # pass-through — microbatch execution re-plans per batch and state
        # stores bound lineage, so there is nothing to truncate.
        return ins[0].localCheckpoint(eager=False)
    if n.op == "distinct":
        return ins[0].dropDuplicates(p.get("subset"))
    if n.op == "order_limit":
        df = ins[0]
        if p.get("order"):
            df = df.orderBy(*[_col(e) for e in p["order"]])
        return df if p.get("limit") is None else df.limit(p["limit"])
    raise ValueError(f"unknown op: {n.op}")
