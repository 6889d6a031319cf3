"""Streaming compiler for the Node IR — the second backend.

The reference's defining architecture is ONE serialized IR consumed by
multiple compilers: ``FlinkGenerator.scala:63-87`` (streaming job) and
``EventHandlerClassGenerator.scala:36-80`` / ``ScalaStreamCompiler.scala:18-43``
(plain-Scala event handler) both walk the same ``StreamCollection``, and the
reference's tests (``TestFlinkGenJoin.scala:31-110``, ``TestEventApp*.scala``)
run the *same programs* on both. Here the analog: ``plans.nodes.compile_node``
is the batch backend; :func:`compile_node_streaming` compiles the SAME
JSON-round-trippable plan to a Structured Streaming DataFrame, dispatching the
stateful operators to their ``streaming.stateful`` state-machine twins.

Supported (the serializable streaming subset):

- ``parquet_source`` / ``file_source`` → ``sources.stream_files``: a
  ``readStream`` pinned to the schema the ``sources`` read path gives a batch
  read of the same path (a single file is staged as a symlink directory)
- ``filter`` / ``map`` / ``add_fields`` / ``to_field`` / ``union`` — the
  batch compile is already streaming-legal; delegated to ``_compile_op``
- ``aggregate`` — streaming groupBy (caller runs it in complete/update mode)
- ``time_window_aggregate`` → ``streaming.windowed_agg`` (watermark = window
  size, the reference's policy)
- ``left/full/left_inner_enrichment_join`` → the per-record value-state
  machines in ``streaming.stateful``
- ``cum_window`` / ``running_sum_by`` → a keyed ``stateful.scan`` fold whose
  accumulator semantics mirror ``operators.scans.cum_fold`` exactly (SQL
  null-skipping, init folded in post-scan as ``init ⊕ cum``)
- ``stream_max_by`` / ``stream_min_by`` → a per-key best-value state that
  emits on strict improvement (Milan's every-element MaxBy/MinBy trigger)
- ``record_window`` → bounded per-key list state emitting trailing-N
  sum/count/min/max on every arrival (``stateful.record_window_apply``)
- ``last`` → the batch keyed/global max-seq aggregation, run in complete
  mode
- ``distinct`` → Spark's native streaming ``dropDuplicates``
- ``relational_join`` → Spark's NATIVE stream-stream join (shared with the
  batch compiler: the node's ``watermarks`` apply only to streaming inputs
  and its ``time_condition`` range predicate bounds join state — the
  canonical watermarked stream-stream shape)
- ``asof_join`` (backward) → the enrichment state machine keyed on the time
  axis; ``apply_function`` → the same Arrow-vectorized column append as
  batch, resolved from its dotted-path reference
- ``scan_fold`` → lowered through the optimizer's window rewrite to
  ``cum_window`` and run as the keyed value-state scan
- ``left_windowed_join`` → ``stateful.left_windowed_join_apply`` when the
  node carries serializable (SQL-string) aggregates

Everything else (sorts/limits, rollup/cube, cycles) is batch-shaped or
lacks an append-mode streaming realization and raises an error naming the
op — the same explicitness as the batch compiler's logical-only nodes.
"""

from __future__ import annotations

import math
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession, functions as F

from milan_spark.plans.nodes import Node, _compile_op

# ops whose batch DataFrame code is streaming-legal verbatim (distinct →
# dropDuplicates, Spark's native streaming dedup with per-key state;
# apply_function — a stateless Arrow-vectorized column append resolved from
# its dotted-path FunctionReference, legal in any output mode; last — the
# max-seq streaming aggregation, run in complete mode)
_SHARED_OPS = frozenset(
    {"filter", "map", "add_fields", "to_field", "union", "aggregate", "hint",
     "distinct", "apply_function", "relational_join", "last"}
)

_SOURCE_OPS = frozenset({"parquet_source", "file_source", "list_source"})


def _stream_source(n: Node, spark: SparkSession) -> DataFrame:
    from milan_spark.sources import stream_files

    p = n.params
    if n.op == "list_source":
        raise ValueError(
            f"list_source node {n.node_id} has no unbounded realization; pass a "
            "streaming DataFrame for it via source_overrides"
        )
    fmt = p.get("fmt", "parquet") if n.op == "file_source" else "parquet"
    return stream_files(spark, p["path"], fmt, p.get("options"))


def _live(v) -> bool:
    # pandas surfaces NULL numerics as NaN (nullable ints arrive as floats)
    # — skip them per SQL aggregate semantics
    return v is not None and not (isinstance(v, float) and math.isnan(v))


_CUM_COMBINE = {"sum": lambda i, c: i + c, "max": F.greatest, "min": F.least}


def _streaming_cum_fold(
    sdf: DataFrame,
    folds: dict[str, tuple[str, str, str | None]],
    keys: list[str],
    seq: str,
) -> DataFrame:
    """Streaming twin of ``operators.scans.cum_fold``: one keyed value-state
    scan carrying every accumulator; each arrival emits the input row plus
    the running aggregates. NULL arguments are skipped (SQL aggregate
    semantics — the accumulator stays NULL until the first non-null), and a
    non-identity init folds in AFTER the scan as the column expression
    ``init ⊕ cum``, bitwise-matching the batch window realization."""
    from milan_spark.streaming import stateful

    names = list(folds)
    argcols = {name: f"__cumarg_{name}" for name in names}
    pre = sdf
    for name in names:
        pre = pre.withColumn(argcols[name], F.expr(folds[name][1]))

    orig_cols = list(sdf.columns)
    dt = dict(pre.dtypes)
    out_types: dict[str, str] = {}
    for name in names:
        kind = folds[name][0]
        at = dt[argcols[name]]
        if kind == "sum":
            out_types[name] = "double" if at in ("float", "double") else "bigint"
        else:
            out_types[name] = at
    base_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in sdf.schema.fields)
    out_ddl = base_ddl + ", " + ", ".join(f"{n} {out_types[n]}" for n in names)
    int_out = {n for n in names if out_types[n] == "bigint"}
    kinds = {n: folds[n][0] for n in names}
    # itertuples renames underscore-prefixed columns to positional fields —
    # address every column by position instead of name
    pos = {c: i for i, c in enumerate(pre.columns)}
    orig_pos = [(c, pos[c]) for c in orig_cols]
    arg_pos = [pos[argcols[n]] for n in names]

    def fold(state, rec):
        out = {c: rec[i] for c, i in orig_pos}
        new_state = list(state)
        for i, name in enumerate(names):
            v = rec[arg_pos[i]]
            if _live(v):
                if name in int_out:
                    v = int(v)
                cur = new_state[i]
                if cur is None:
                    new_state[i] = v
                elif kinds[name] == "sum":
                    new_state[i] = cur + v
                elif kinds[name] == "max":
                    new_state[i] = max(cur, v)
                else:
                    new_state[i] = min(cur, v)
            out[name] = new_state[i]
        return new_state, out

    out = stateful.scan(
        pre,
        fold,
        initial_state=[None] * len(names),
        output_schema=out_ddl,
        keys=keys,
        seq=seq,
    )
    for name in names:
        init = folds[name][2]
        if init is not None and init.strip() != "0":
            out = out.withColumn(
                name, _CUM_COMBINE[kinds[name]](F.expr(init), F.col(name))
            )
    return out


def _streaming_arg_compare(
    sdf: DataFrame, arg: str, keys: list[str], seq: str, maximize: bool
) -> DataFrame:
    """Streaming twin of ``operators.scans.stream_max_by/min_by`` — Milan's
    emit-on-improvement MaxBy/MinBy (ArgCompareProcessFunctions.scala): a
    per-key value state holds the running best; an arrival emits iff its
    ``arg`` STRICTLY improves it (equal values do not emit). NULL/NaN args
    never improve, per SQL comparison semantics."""
    from milan_spark.streaming import stateful

    pre = sdf.withColumn("__cmparg", F.expr(arg))
    pos = {c: i for i, c in enumerate(pre.columns)}
    orig = list(sdf.columns)
    argi = pos["__cmparg"]
    out_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in sdf.schema.fields)

    def fold(state, rec):
        v = rec[argi]
        if not _live(v):
            return state, None
        if state is None or (v > state if maximize else v < state):
            return v, {c: rec[pos[c]] for c in orig}
        return state, None

    return stateful.scan(
        pre, fold, initial_state=None, output_schema=out_ddl, keys=keys, seq=seq
    )


_RW_FUNCS = ("sum", "count", "min", "max")


def _parse_trailing_agg(expr: str) -> tuple[str, str]:
    """Split a record-window aggregate ``FUNC(inner)`` into (func, inner).
    The serializable subset is the four exactly-replicable folds — sum /
    count / min / max (SQL null-skipping); anything else (avg's
    engine-specific decimal scale rules, UDF-shaped exprs) raises, matching
    the compiler's name-the-op explicitness."""
    import re

    m = re.match(r"^\s*(\w+)\s*\((.*)\)\s*$", expr, re.DOTALL)
    if not m or m.group(1).lower() not in _RW_FUNCS:
        raise ValueError(
            f"record_window aggregate {expr!r} has no streaming realization "
            f"(supported: {', '.join(f + '(...)' for f in _RW_FUNCS)})"
        )
    return m.group(1).lower(), m.group(2).strip()


_INT_TYPES = ("bigint", "int", "smallint", "tinyint")


def _agg_folds(sdf: DataFrame, parsed: dict, out_schema, prefix: str):
    """The state machines' side of sum/count/min/max aggregates: each
    argument is evaluated JVM-side as a ``prefix + alias`` column before the
    rows enter state (exact decimal/int semantics), and the returned
    ``fold(rows) -> {alias: value}`` only combines, NULLs skipped. Integer
    and Decimal sums are exact, floats add in arrival order as the batch
    window does; an integer output column gets an int."""
    out_types = {f.name: f.dataType.simpleString() for f in out_schema.fields}
    args = {}
    for alias, (func, inner) in parsed.items():
        if func == "count" and inner in ("*", "1"):
            args[alias] = (func, "", False)  # row count — no argument column
        else:
            args[alias] = (func, prefix + alias, out_types[alias] in _INT_TYPES)
            sdf = sdf.withColumn(prefix + alias, F.expr(inner))

    def fold(rows: list[dict]) -> dict:
        out = {}
        for alias, (func, col, as_int) in args.items():
            if func == "count":
                out[alias] = len(rows) if not col else sum(1 for r in rows if _live(r[col]))
                continue
            vals = [r[col] for r in rows if _live(r[col])]
            if not vals:
                out[alias] = None
                continue
            v = sum(vals) if func == "sum" else (max(vals) if func == "max" else min(vals))
            out[alias] = int(v) if as_int else v
        return out

    return sdf, fold


def _streaming_record_window(
    sdf: DataFrame, n: int, aggs: dict[str, str], keys: list[str], seq: str
) -> DataFrame:
    """Streaming twin of ``operators.windows.record_window`` — Milan's
    SlidingRecordWindow (bounded per-key list state vs the reference's
    priority-queue ValueState): every arrival emits the input row plus each
    aggregate over the trailing ``n`` records inclusive (``_agg_folds``).
    The output schema is taken from the BATCH operator compiled against a
    zero-row frame, so both backends agree by construction.
    """
    from milan_spark.operators.windows import record_window
    from milan_spark.streaming import stateful

    parsed = {name: _parse_trailing_agg(e) for name, e in aggs.items()}
    # batch-derived output schema (zero-row compile — no jobs run)
    empty = sdf.sparkSession.createDataFrame([], sdf.schema)
    out_schema = record_window(
        empty, n, {a: F.expr(e) for a, e in aggs.items()}, keys=keys, seq=seq
    ).schema
    pre, fold = _agg_folds(sdf, parsed, out_schema, "__rwarg_")
    orig = list(sdf.columns)

    def fn(rows: list[dict]) -> dict:
        return {**{c: rows[-1][c] for c in orig}, **fold(rows)}

    return stateful.record_window_apply(
        pre, n, fn, output_schema=out_schema, keys=keys, seq=seq
    )


def _streaming_left_windowed_join(
    left: DataFrame,
    right: DataFrame,
    aggs: dict[str, str],
    *,
    left_on,
    right_on,
    left_seq: str,
    right_seq: str,
) -> DataFrame:
    """Streaming twin of ``operators.joins.left_windowed_agg_join`` —
    Milan's LeftWindowedJoin + apply (JoinedWindowedStream.scala:16-27) in
    its per-arrival temporal flavor: the right window rides per-key state
    (``stateful.left_windowed_join_apply``), each left arrival emits its row
    plus sum/count/min/max over the rights buffered so far (``_agg_folds``).
    The output schema is the BATCH operator compiled against zero-row
    frames, so both backends agree by construction.
    """
    from milan_spark.operators.joins import _parse_agg, left_windowed_agg_join
    from milan_spark.streaming import stateful

    spark = left.sparkSession
    parsed = {alias: _parse_agg(e) for alias, e in aggs.items()}
    out_schema = left_windowed_agg_join(
        spark.createDataFrame([], left.schema), spark.createDataFrame([], right.schema),
        left_on=left_on, right_on=right_on, aggs=aggs,
        left_seq=left_seq, right_seq=right_seq,
    ).schema
    pre_r, fold = _agg_folds(right, parsed, out_schema, "__wjarg_")
    lcols = list(left.columns)

    def fn(left_row: dict, rights: list[dict]) -> dict:
        return {**{c: left_row[c] for c in lcols}, **fold(rights)}

    return stateful.left_windowed_join_apply(
        left,
        pre_r,
        left_on=left_on,
        right_on=right_on,
        fn=fn,
        output_schema=out_schema,
        left_seq=left_seq,
        right_seq=right_seq,
    )


def compile_node_streaming(
    node: Node,
    spark: SparkSession,
    source_overrides: Mapping[str, DataFrame] | None = None,
) -> DataFrame:
    """Compile a serializable plan to a STREAMING DataFrame.

    ``source_overrides`` maps a source node's ``node_id`` (or its ``path``
    param) to a caller-supplied streaming DataFrame — the analog of the
    reference's ApplicationConfiguration binding sources to stream ids at
    deploy time, separate from the portable plan
    (``ApplicationConfiguration.scala:29-52``). Memoized per node id like the
    batch compiler, so shared subgraphs compile once.
    """
    overrides = dict(source_overrides or {})
    memo: dict[str, DataFrame] = {}

    def compile_(n: Node) -> DataFrame:
        if n.node_id in memo:
            return memo[n.node_id]
        df = _compile_streaming_op(n)
        memo[n.node_id] = df
        return df

    def _compile_streaming_op(n: Node) -> DataFrame:
        if n.node_id in overrides:
            return overrides[n.node_id]
        if n.op == "external_stream":
            sid = n.params["stream_id"]
            if sid not in overrides:
                raise ValueError(
                    f"external_stream {sid!r} is unbound; pass it via source_overrides"
                )
            return overrides[sid]
        if n.op in _SOURCE_OPS:
            by_path = overrides.get(n.params.get("path", ""))
            if by_path is not None:
                return by_path
            return _stream_source(n, spark)
        if n.op == "cycle":
            # the reference's event compiler rejects cycles by name too
            # (EventHandlerClassGenerator.scala:23 "Cycles are not supported");
            # the streaming realization is the sink-to-source feedback
            # emulation in streaming.cycle, which is deployment wiring, not a
            # plan node
            from milan_spark.errors import MilanAnalysisError

            raise MilanAnalysisError(
                f"cycle [{n.node_id}]: cycles are not supported by the "
                "streaming compiler; compile with plans.nodes.compile_node "
                "(batch) or wire the feedback loop with "
                "milan_spark.streaming.cycle.streaming_cycle"
            )
        if n.op == "scan_fold":
            if n.params.get("fold_ref"):
                # opaque fold carried as a dotted-path FunctionReference
                # (plans/nodes.py resolves the same ref for batch): dispatch
                # straight to the keyed value-state scan — the streaming twin
                # of the ordered mapInPandas fold, same (state, rec) contract
                from milan_spark.plans.nodes import _resolve_function_ref
                from milan_spark.streaming import stateful

                p0 = n.params
                fn = _resolve_function_ref(p0["fold_ref"], n.node_id)
                return stateful.scan(
                    compile_(n.inputs[0]),
                    fn,
                    initial_state=p0.get("initial_state"),
                    output_schema=p0["output_schema"],
                    keys=p0.get("keys", []),
                    seq=p0.get("seq", "__seq"),
                )
            # same lowering the batch path requires (SURVEY §4's rewrite):
            # the declarative fold becomes cum_window(+filter+map), and
            # cum_window dispatches to the keyed value-state scan below —
            # so the op is reachable directly from a deserialized plan.
            # Non-associative updates raise ScanRewriteError by name.
            from milan_spark.plans.rewrite import rule_scan_fold_to_window

            return compile_(rule_scan_fold_to_window(n))
        ins = [compile_(i) for i in n.inputs]
        p = n.params
        if n.op == "cache":
            return ins[0]  # persist is a batch hint; meaningless on a stream
        if n.op == "checkpoint":
            # batch lineage truncation; microbatch execution re-plans per
            # batch and state stores bound lineage — pass through
            return ins[0]
        if n.op == "left_windowed_join":
            return _streaming_left_windowed_join(
                ins[0],
                ins[1],
                dict(p["aggs"]),
                left_on=p["left_on"],
                right_on=p["right_on"],
                left_seq=p.get("left_seq", "__seq"),
                right_seq=p.get("right_seq", "__seq"),
            )
        if n.op in _SHARED_OPS:
            return _compile_op(n, spark, ins)
        if n.op == "time_window_aggregate":
            from milan_spark.streaming import windowed_agg

            return windowed_agg(
                ins[0],
                p["ts"],
                p["size"],
                slide=p.get("slide"),
                offset=p.get("offset"),
                keys=p.get("keys", []),
                aggs=[F.expr(e).alias(a) for a, e in p["aggs"].items()],
            )
        if n.op in (
            "left_enrichment_join",
            "full_enrichment_join",
            "left_inner_enrichment_join",
        ):
            from milan_spark.streaming import stateful

            fn = getattr(stateful, n.op)
            kwargs = dict(
                left_on=p["left_on"],
                right_on=p["right_on"],
                left_seq=p.get("left_seq", "__seq"),
                right_seq=p.get("right_seq", "__seq"),
                right_prefix=p.get("right_prefix", "r_"),
            )
            if p.get("residual"):
                if n.op == "left_inner_enrichment_join":
                    raise ValueError(
                        "left_inner_enrichment_join residual is a stateful "
                        "re-match predicate with no serialized form; bind it "
                        "programmatically via streaming.stateful"
                    )
                kwargs["residual"] = lambda l, r: F.expr(p["residual"])
            return fn(ins[0], ins[1], **kwargs)
        if n.op == "cum_window":
            return _streaming_cum_fold(
                ins[0],
                {name: (s["kind"], s["arg"], s.get("init")) for name, s in p["cols"].items()},
                keys=p.get("keys", []),
                seq=p.get("seq", "__seq"),
            )
        if n.op == "running_sum_by":
            return _streaming_cum_fold(
                ins[0],
                {p.get("alias", "running_sum"): ("sum", p["arg"], None)},
                keys=p.get("keys", []),
                seq=p.get("seq", "__seq"),
            )
        if n.op in ("stream_max_by", "stream_min_by"):
            return _streaming_arg_compare(
                ins[0],
                p["arg"],
                keys=p.get("keys", []),
                seq=p.get("seq", "__seq"),
                maximize=(n.op == "stream_max_by"),
            )
        if n.op == "asof_join":
            # backward as-of IS the enrichment state machine keyed on the
            # time axis: rights update per-key state, each left pairs with
            # the latest right at-or-before its ord (the machine's
            # right-before-left tie order gives >=). Forward direction
            # needs future rights — fundamentally not streamable without
            # unbounded buffering; rejected by name. Tolerance applies as a
            # post-join gate nulling the right columns, exactly the batch
            # operator's rule (operators/joins.py:420-423).
            if p.get("direction", "backward") != "backward":
                raise ValueError(
                    "asof_join direction='forward' has no streaming "
                    "realization (future rights are unseen); use the batch "
                    "compiler"
                )
            from milan_spark.streaming import stateful

            left_in, right_in = ins[0], ins[1]
            prefix = p.get("right_prefix", "r_")
            joined = stateful.left_enrichment_join(
                left_in,
                right_in,
                left_on=p["left_on"],
                right_on=p["right_on"],
                left_seq=p["left_ord"],
                right_seq=p["right_ord"],
                right_prefix=prefix,
            )
            tol = p.get("tolerance")
            if tol is not None:
                keys = set(p["right_on"])
                r_ord_col = p["right_ord"]
                # right columns carry the prefix only on collisions — same
                # contract as the batch operator's output
                left_cols = set(left_in.columns)
                def out_name(c: str) -> str:
                    return (prefix + c) if c in left_cols else c
                gap = F.col(p["left_ord"]) - F.col(out_name(r_ord_col))
                ok = gap <= F.lit(tol)
                for c in right_in.columns:
                    if c in keys:
                        continue
                    oc = out_name(c)
                    joined = joined.withColumn(oc, F.when(ok, F.col(oc)))
            return joined
        if n.op == "session_window_aggregate":
            # watermark = gap: the session-window analog of the reference's
            # watermark = window size policy; required to close sessions
            from milan_spark.operators.windows import session_window_agg

            return session_window_agg(
                ins[0].withWatermark(p["ts"], p["gap"]),
                p["ts"],
                p["gap"],
                keys=p.get("keys", []),
                aggs=[F.expr(e).alias(a) for a, e in p["aggs"].items()],
            )
        if n.op == "record_window":
            return _streaming_record_window(
                ins[0],
                p["n"],
                dict(p["aggs"]),
                keys=p.get("keys", []),
                seq=p.get("seq", "__seq"),
            )
        raise ValueError(
            f"op {n.op!r} has no streaming realization; compile with "
            "plans.nodes.compile_node (batch) instead"
        )

    return compile_(node)
