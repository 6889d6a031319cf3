"""Graph typechecking for serialized plans — the analog of the reference's
``typeCheckGraph`` (``graph/package.scala:11-25`` →
``program/TypeChecker.scala:49-75``): validate a (possibly deserialized)
plan BEFORE executing it, and report failures by NODE, not as a deep
Catalyst trace from somewhere inside a composed DataFrame.

Strategy: walk the DAG bottom-up and compile every node against EMPTY
DataFrames carrying the real source schemas — Catalyst's analyzer then IS
the type checker (column resolution, numeric coercion, aggregate typing),
run against zero rows so validation reads no data (source schemas come
from file metadata only). The first
failing node raises :class:`~milan_spark.errors.MilanAnalysisError` naming
its ``node_id``, op, and params; success returns every node's inferred
schema (the engine's TypeDescriptor table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType
from pyspark.sql.utils import AnalysisException

from milan_spark.errors import MilanAnalysisError, _condense
from milan_spark.plans.nodes import Node, _compile_op
from milan_spark.session import SEQ_COL


def _empty(spark: SparkSession, schema: StructType) -> DataFrame:
    return spark.createDataFrame([], schema)


def _source_schema(n: Node, spark: SparkSession) -> StructType:
    from milan_spark.sources import file_schema

    p = n.params
    if n.op == "parquet_source":
        return file_schema(spark, p["path"])
    if n.op == "file_source":
        return file_schema(spark, p["path"], p.get("fmt", "parquet"), p.get("options"))
    if n.op == "list_source":
        if p.get("schema"):
            schema = StructType.fromDDL(p["schema"])
        else:
            schema = spark.createDataFrame(p["rows"]).schema
        # a fresh StructType either way, so add() mutates no cached schema
        return schema.add(SEQ_COL, LongType(), False) if p.get("with_seq") else schema
    raise MilanAnalysisError(f"{n.op} [{n.node_id}]: not a source node")


def validate_plan(
    node: Node,
    spark: SparkSession,
    source_schemas: dict[str, StructType | str] | None = None,
) -> dict[str, StructType]:
    """Typecheck a plan; returns ``{node_id: output schema}`` on success.

    ``source_schemas`` binds ``external_stream`` placeholders by stream id
    (a StructType or a DDL string) — the deploy-time half an Application
    bundle provides. Every other source's schema is read from its own path
    metadata (no data I/O — parquet footers only).
    """
    bindings = {
        sid: (StructType.fromDDL(s) if isinstance(s, str) else s)
        for sid, s in (source_schemas or {}).items()
    }
    schemas: dict[str, StructType] = {}
    frames: dict[str, DataFrame] = {}
    cycle_stack: list[DataFrame] = []

    def _sig(schema: StructType) -> list[tuple[str, str]]:
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    def walk(n: Node) -> DataFrame:
        if n.node_id in frames:
            return frames[n.node_id]
        if n.op == "cycle":
            # typecheck the fixpoint: the body, with cycle_ref bound to the
            # initial state's schema, must reproduce that same schema —
            # otherwise iteration N+1 sees different columns than iteration N
            init = walk(n.inputs[0])
            cycle_stack.append(_empty(spark, init.schema))
            try:
                body = walk(n.inputs[1])
            finally:
                cycle_stack.pop()
            if _sig(body.schema) != _sig(init.schema):
                raise MilanAnalysisError(
                    f"cycle [{n.node_id}]: body schema {_sig(body.schema)} "
                    f"does not match the initial state schema "
                    f"{_sig(init.schema)} — a cycle body must be "
                    "schema-preserving"
                )
            frames[n.node_id] = init
            schemas[n.node_id] = init.schema
            return init
        if n.op == "cycle_ref":
            if not cycle_stack:
                raise MilanAnalysisError(
                    f"cycle_ref [{n.node_id}]: appears outside any cycle body"
                )
            df = cycle_stack[-1]
            schemas[n.node_id] = df.schema
            return df
        if n.op == "external_stream":
            sid = n.params["stream_id"]
            if sid not in bindings:
                raise MilanAnalysisError(
                    f"external_stream [{n.node_id}]: stream id {sid!r} has no "
                    f"schema binding; known ids: {sorted(bindings)}"
                )
            df = _empty(spark, bindings[sid])
        elif n.op in ("parquet_source", "file_source", "list_source"):
            df = _empty(spark, _source_schema(n, spark))
        else:
            ins = [walk(i) for i in n.inputs]
            try:
                df = _compile_op(n, spark, ins)
            except AnalysisException as e:
                in_cols = [list(i.columns) for i in ins]
                raise MilanAnalysisError(
                    f"{n.op} [{n.node_id}]: {_condense(e)}; params={n.params}; "
                    f"input columns: {in_cols}"
                ) from None
        frames[n.node_id] = df
        schemas[n.node_id] = df.schema
        return df

    walk(node)
    return schemas


def audit_shared_subtrees(node: Node) -> list[str]:
    """Advisory lint: name every subtree that feeds TWO OR MORE consumers
    without a ``cache`` boundary between it and them.

    Motivation is a measured failure, not a hypothetical: the first HITS
    draft fed each half-step's raw-score frame into both its max aggregate
    and its rescale projection; with lazy evaluation the doubled subtree
    compounds per round — 4 iterations re-evaluated the upstream chain
    2^8 = 256 times (184 s → 4.9 s at sf0.01 once truncated). The same
    shape sank the first DuckDB oracle (un-MATERIALIZED CTEs referenced
    twice). Spark's optimizer does NOT deduplicate arbitrary repeated
    subplans — only explicit persist/checkpoint/cache boundaries (or AQE
    exchange reuse, which needs identical exchanges) break the blowup.

    Returns one advisory per offending TOP-MOST subtree:
    ``"<op> [<node_id>] feeds N consumers — wrap in a cache node or
    localCheckpoint the compiled frame"``. Structural duplicates (same op,
    params, and inputs under distinct objects/ids) count as ONE subtree:
    serialized plans lose object identity, so a round-tripped plan's
    sharing is re-derived from structure. Descendants of a flagged subtree
    are suppressed (fixing the top fixes the whole chain). Exempt: source
    nodes (a re-read is a scan, not a re-computation — and Spark dedupes
    identical scans), ``cache``/``checkpoint`` nodes (the fixes themselves),
    and ``cycle_ref`` leaves (the cycle compiler rebinds them per round to
    one checkpointed frame).
    """
    import hashlib
    import json as _json

    fp_memo: dict[int, str] = {}

    def fp(n: Node) -> str:
        # children embed as fixed-size DIGESTS, not raw JSON: embedding the
        # child string re-escapes its quotes at every level, so a depth-d
        # plan pays 2^d backslashes per original quote (measured: a 44-node
        # depth-27 plan did not finish fingerprinting)
        if id(n) not in fp_memo:
            doc = _json.dumps(
                {"op": n.op, "p": n.params, "in": [fp(i) for i in n.inputs]},
                sort_keys=True, default=str,
            )
            fp_memo[id(n)] = hashlib.sha1(doc.encode()).hexdigest()
        return fp_memo[id(n)]

    consumers: dict[str, int] = {}
    rep: dict[str, Node] = {}
    visited: set[int] = set()

    def walk(n: Node) -> None:
        if id(n) in visited:
            return
        visited.add(id(n))
        for child in n.inputs:
            if child.op == "cycle_ref":
                continue
            # every input SLOT is a consumer — a parent listing the same
            # child twice (union(x, x)) evaluates it twice
            k = fp(child)
            consumers[k] = consumers.get(k, 0) + 1
            rep[k] = child
            walk(child)

    def descendants(n: Node, acc: set) -> None:
        for child in n.inputs:
            if child.op != "cycle_ref" and fp(child) not in acc:
                acc.add(fp(child))
                descendants(child, acc)

    walk(node)
    # cycle output is eagerly checkpointed by its compiler — materialized once
    exempt = ("cache", "checkpoint", "cycle", "parquet_source", "file_source", "list_source")
    flagged = {
        k for k, cnt in consumers.items() if cnt >= 2 and rep[k].op not in exempt
    }
    # suppress descendants of other flagged subtrees: report the top-most
    covered: set[str] = set()
    for k in flagged:
        d: set = set()
        descendants(rep[k], d)
        covered |= d
    out = []
    for k in flagged - covered:
        n = rep[k]
        out.append(
            f"{n.op} [{n.node_id}] feeds {consumers[k]} consumers — wrap in a "
            "cache node or localCheckpoint the compiled frame"
        )
    return sorted(out)
