"""User-facing Stream DSL — the engine's analog of Milan's lang package.

Mirrors the reference's stream-kind surface (SURVEY.md §1.1):

| reference                                   | here                      |
|---------------------------------------------|---------------------------|
| ``Stream[T]`` (lang/Stream.scala:19)        | :class:`Stream`           |
| ``GroupedStream`` (lang/GroupedStream.scala:19) | :class:`GroupedStream`|
| ``WindowedStream``/``TimeWindowedStream`` (lang/WindowedStreams.scala:16,47) | :class:`WindowedStream` |
| ``JoinedStream`` + select (lang/JoinedStream.scala:21-43) | join methods return Stream of pair columns |
| ``CycleStream`` (lang/CycleStream.scala:16) | :meth:`Stream.iterate` (batch driver loop; streaming rejects like the scala-event compiler, EventHandlerClassGenerator.scala:23) |

Where Milan captures lambdas with Scala macros (lang/internal/
StreamMacros.scala:31-276), this DSL takes Spark SQL expression strings (the
portable, JSON-serializable path — see milan_spark.plans) or live Column
objects / Python callables (the opaque ApplyFunction path). Every operation
records a logical plan Node and builds its DataFrame from that node through
the plan compiler's one per-op builder (``plans.nodes._compile_op``), so the
eagerly composed frame and a recompiled plan cannot drift apart. A node
built from live Columns or callables holds them in its params and stays
non-serializable. Only the forms the IR has no op for (a callable ``scan``,
Column-aggregate ``left_windowed_join``, ``top_k_per_group``, grouped and
window-apply UDFs, ``with_seq()``, callable ``apply_function``) and
``GroupedStream.ranked`` (its ``grouped_rank`` node is logical-only) build
their frame here directly. Catalyst owns optimization.
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from milan_spark.errors import (
    MilanAnalysisError,
    analysis_scope,
    require_columns,
    require_temporal,
)
from milan_spark.fixpoint import fixpoint
from milan_spark.plans.nodes import Node, _compile_op, compile_node
from milan_spark.session import SEQ_COL


def _is_str(x) -> bool:
    return isinstance(x, str)


def _all_str(xs) -> bool:
    return all(_is_str(x) for x in xs)


def _join_keys(on, left_on, right_on) -> tuple[list, list]:
    lo = [on] if isinstance(on, str) else list(on or left_on)
    ro = [on] if isinstance(on, str) else list(on or right_on)
    return lo, ro


def _compiled(node: Node, spark: SparkSession, inputs: Sequence["Stream"] = ()) -> "Stream":
    return Stream(_compile_op(node, spark, [s.df for s in inputs]), node)


class Stream:
    """A data stream of records — Milan ``Stream[T]`` over a Spark DataFrame."""

    def __init__(self, df: DataFrame, node: Node | None = None, name: str = ""):
        self.df = df
        self.node = node or Node("opaque_source", serializable=False)
        self.name = name or self.node.node_id

    def _then(self, op: str, params: dict, *others: "Stream", serializable: bool = True) -> "Stream":
        """Record ``op`` over this stream (and ``others``) and build its frame
        from the recorded node."""
        node = Node(op, params, [self.node, *(o.node for o in others)], serializable=serializable)
        return _compiled(node, self.df.sparkSession, [self, *others])

    # --- sources (SURVEY §2.1) ---------------------------------------------

    @staticmethod
    def from_parquet(spark: SparkSession, path: str) -> "Stream":
        return _compiled(Node("parquet_source", {"path": path}), spark)

    @staticmethod
    def from_file(spark: SparkSession, path: str, fmt: str = "parquet", options: dict | None = None) -> "Stream":
        return _compiled(Node("file_source", {"path": path, "fmt": fmt, "options": options or {}}), spark)

    @staticmethod
    def from_list(spark: SparkSession, rows: Iterable, schema=None, with_seq: bool = False) -> "Stream":
        params = {"rows": list(rows), "schema": schema}
        if with_seq:
            params["with_seq"] = True
        return _compiled(
            Node("list_source", params, serializable=isinstance(schema, (str, type(None)))), spark
        )

    @staticmethod
    def from_dataframe(df: DataFrame) -> "Stream":
        return Stream(df, Node("opaque_source", serializable=False))

    # --- core ops (SURVEY §2.2) --------------------------------------------

    def where(self, condition: str | Column) -> "Stream":
        """Milan Filter (lang/Stream.scala:155, StreamExpressions.scala:442)."""
        with analysis_scope("where", self.df.columns):
            return self._then("filter", {"condition": condition}, serializable=_is_str(condition))

    filter = where

    def map(self, *exprs: str | Column) -> "Stream":
        """Milan StreamMap / named-fields projection (lang/Stream.scala:164,
        lang/package.scala:8-31). String exprs may use ``expr AS name``."""
        with analysis_scope("map", self.df.columns):
            return self._then("map", {"exprs": list(exprs)}, serializable=_all_str(exprs))

    select = map

    def add_fields(self, **fields: str | Column) -> "Stream":
        """Milan addFields (lang/Stream.scala:187)."""
        with analysis_scope("add_fields", self.df.columns):
            return self._then("add_fields", {"fields": fields}, serializable=_all_str(fields.values()))

    def to_field(self, name: str) -> "Stream":
        """Milan toField (lang/Stream.scala:55-65)."""
        return self._then("to_field", {"name": name})

    def apply_function(self, fn: Callable | str, return_type, *cols, alias: str = "result") -> "Stream":
        """Milan ApplyFunction UDF escape hatch (Expression.scala:407) as a
        pandas-vectorized column append.

        ``fn`` may be a live callable (opaque — the plan stays executable but
        is not serializable) or a dotted-path reference string
        (``pkg.module:attr``) — the portable form, mirroring the reference's
        FunctionReference in the IR (``ConvertExpressionHost.scala:253-269``):
        the node serializes and both compilers re-resolve the function by
        name at compile time. ``return_type`` must then be a DDL string and
        ``cols`` column names."""
        if _is_str(fn) and isinstance(return_type, str) and _all_str(cols):
            return self._then(
                "apply_function",
                {"ref": fn, "return_type": return_type, "cols": list(cols), "alias": alias},
            )
        udf = F.pandas_udf(fn, return_type)
        return Stream(
            self.df.withColumn(alias, udf(*[F.col(c) if _is_str(c) else c for c in cols])),
            Node("apply_function", serializable=False, inputs=[self.node]),
        )

    # --- ordering ----------------------------------------------------------

    def with_seq(self, order_by: str | Column | None = None) -> "Stream":
        """Attach the arrival-order ``__seq`` column that order-sensitive
        operators key on (the reference's RecordWrapper sequence numbers,
        flink/types/RecordWrapper.scala:23). ``order_by`` must be a unique
        expression (e.g. an event id); deriving order from data beats
        zipWithIndex at scale (no barrier)."""
        if order_by is None:
            df = self.df.withColumn(SEQ_COL, F.monotonically_increasing_id())
            return Stream(df, Node("with_seq", serializable=False, inputs=[self.node]))
        if _is_str(order_by):
            return self.add_fields(**{SEQ_COL: f"CAST({order_by} AS LONG)"})
        return self.add_fields(**{SEQ_COL: order_by.cast("long")})

    # --- grouping & windows (SURVEY §2.4, §2.5) ----------------------------

    def group_by(self, *keys: str) -> "GroupedStream":
        """Milan GroupBy (lang/Stream.scala:196, GroupingExpressions.scala:38)."""
        require_columns("group_by", self.df, list(keys))
        return GroupedStream(self, list(keys))

    def tumbling_window(self, ts: str, period: str, offset: str | None = None) -> "WindowedStream":
        """Milan TumblingWindow (lang/Stream.scala:207)."""
        require_temporal("tumbling_window", self.df, ts)
        return WindowedStream(self, ts, period, period, offset, keys=[])

    def sliding_window(self, ts: str, size: str, slide: str, offset: str | None = None) -> "WindowedStream":
        """Milan SlidingWindow (lang/Stream.scala:219)."""
        require_temporal("sliding_window", self.df, ts)
        return WindowedStream(self, ts, size, slide, offset, keys=[])

    def session_window(self, ts: str, gap: str) -> "SessionWindowedStream":
        """Gap-based session windows (exceeds-parity — SURVEY §2.5 'absent
        in the reference, free if exposed'). Serializable node; both
        backends compile it (streaming: watermark = gap)."""
        require_temporal("session_window", self.df, ts)
        return SessionWindowedStream(self, ts, gap, keys=[])

    # --- joins (SURVEY §2.3) -----------------------------------------------

    def _enrichment_join(
        self, op: str, what: str, other: "Stream", on, left_on, right_on,
        left_seq: str, right_seq: str, right_prefix: str, residual=None,
    ) -> "Stream":
        lo, ro = _join_keys(on, left_on, right_on)
        require_columns(f"{what} (left side)", self.df, lo + [left_seq])
        require_columns(f"{what} (right side)", other.df, ro + [right_seq])
        params = {
            "left_on": lo, "right_on": ro, "left_seq": left_seq, "right_seq": right_seq,
            "right_prefix": right_prefix,
        }
        if residual is not None:
            params["residual"] = residual
        return self._then(op, params, other, serializable=residual is None)

    def left_join(
        self,
        other: "Stream",
        on=None,
        *,
        left_on=(),
        right_on=(),
        residual=None,
        right_prefix: str = "r_",
        left_seq: str = SEQ_COL,
        right_seq: str = SEQ_COL,
    ) -> "Stream":
        """Milan LeftJoin — temporal left enrichment (doc/Milan Operations.md:31-39)."""
        return self._enrichment_join(
            "left_enrichment_join", "left_join", other, on, left_on, right_on,
            left_seq, right_seq, right_prefix, residual,
        )

    def full_join(
        self,
        other: "Stream",
        on=None,
        *,
        left_on=(),
        right_on=(),
        residual=None,
        right_prefix: str = "r_",
        left_seq: str = SEQ_COL,
        right_seq: str = SEQ_COL,
    ) -> "Stream":
        """Milan FullJoin — symmetric enrichment (doc/Milan Operations.md:41-46)."""
        return self._enrichment_join(
            "full_enrichment_join", "full_join", other, on, left_on, right_on,
            left_seq, right_seq, right_prefix, residual,
        )

    def left_inner_join(
        self,
        other: "Stream",
        on=None,
        *,
        left_on=(),
        right_on=(),
        right_prefix: str = "r_",
        left_seq: str = SEQ_COL,
        right_seq: str = SEQ_COL,
    ) -> "Stream":
        """Milan LeftInnerJoin — buffered enrichment (doc/Milan Operations.md:48-51)."""
        return self._enrichment_join(
            "left_inner_enrichment_join", "left_inner_join", other, on, left_on, right_on,
            left_seq, right_seq, right_prefix,
        )

    def join(self, other: "Stream", on, how: str = "inner") -> "Stream":
        """Relational join passthrough (inner/left/right/full/semi/anti) —
        beyond the reference's enrichment-only joins; Catalyst picks
        broadcast/SMJ/hash."""
        return self._then(
            "relational_join", {"on": on, "how": how}, other, serializable=not isinstance(on, Column)
        )

    def asof_join(
        self,
        other: "Stream",
        on=None,
        *,
        left_on=(),
        right_on=(),
        left_ord: str,
        right_ord: str,
        tolerance: int | None = None,
        direction: str = "backward",
        right_prefix: str = "r_",
    ) -> "Stream":
        """Time-axis as-of join with tolerance — the enrichment join
        generalized from arrival sequence to any numeric time column."""
        lo, ro = _join_keys(on, left_on, right_on)
        return self._then(
            "asof_join",
            {
                "left_on": lo,
                "right_on": ro,
                "left_ord": left_ord,
                "right_ord": right_ord,
                "tolerance": tolerance,
                "direction": direction,
                "right_prefix": right_prefix,
            },
            other,
        )

    def left_windowed_join(
        self,
        other: "Stream",
        on=None,
        *,
        left_on=(),
        right_on=(),
        aggs: Sequence[Column] = (),
        agg_exprs: dict[str, str] | None = None,
        left_seq: str = SEQ_COL,
        right_seq: str = SEQ_COL,
    ) -> "Stream":
        """Milan LeftWindowedJoin+apply (lang/JoinedWindowedStream.scala:16-27).

        Two forms: ``aggs`` (Column aggregates over the WHOLE right group —
        the batch-window convenience, opaque node) or ``agg_exprs`` (alias →
        ``sum/count/min/max(expr)`` SQL strings, per-arrival TEMPORAL
        semantics — rights that arrived at-or-before each left; the
        reference's streaming runtime's actual behavior). The latter records
        a serializable ``left_windowed_join`` node both backends compile."""
        if agg_exprs is not None:
            lo, ro = _join_keys(on, left_on, right_on)
            return self._then(
                "left_windowed_join",
                {"left_on": lo, "right_on": ro, "aggs": dict(agg_exprs),
                 "left_seq": left_seq, "right_seq": right_seq},
                other,
            )
        from milan_spark.operators.joins import left_windowed_join_apply

        df = left_windowed_join_apply(self.df, other.df, on, left_on=left_on, right_on=right_on, aggs=aggs)
        return Stream(df, Node("left_windowed_join", serializable=False, inputs=[self.node, other.node]))

    # --- scans (SURVEY §2.6) -----------------------------------------------

    def sum_by(self, arg: str | Column, alias: str = "running_sum", keys: Sequence[str] = ()) -> "Stream":
        """Milan SumBy (lang/Stream.scala:251)."""
        return self._then(
            "running_sum_by", {"arg": arg, "keys": list(keys), "alias": alias}, serializable=_is_str(arg)
        )

    def max_by(self, arg: str | Column, keys: Sequence[str] = ()) -> "Stream":
        """Milan MaxBy — emit-on-improvement (lang/Stream.scala:229)."""
        return self._then("stream_max_by", {"arg": arg, "keys": list(keys)}, serializable=_is_str(arg))

    def min_by(self, arg: str | Column, keys: Sequence[str] = ()) -> "Stream":
        """Milan MinBy (lang/Stream.scala:239)."""
        return self._then("stream_min_by", {"arg": arg, "keys": list(keys)}, serializable=_is_str(arg))

    def scan(
        self,
        fold: Callable | str,
        *,
        initial_state,
        output_schema,
        keys: Sequence[str] = (),
        seq: str = SEQ_COL,
    ) -> "Stream":
        """Milan Scan (lang/Stream.scala:176) — general stateful fold.

        Passing a live callable keeps the plan non-serializable (the opaque
        escape hatch). Passing a dotted-path string (``pkg.module:fn``)
        records the fold as a FunctionReference in a serializable
        ``scan_fold`` node — the reference ships Scan step functions in its
        portable IR the same way (StreamExpressions.scala:505) — and BOTH
        plan compilers re-resolve it (batch → ordered mapInPandas fold,
        streaming → keyed value state). ``initial_state`` must then be
        JSON-serializable.
        """
        if isinstance(fold, str):
            return self._then(
                "scan_fold",
                {
                    "fold_ref": fold,
                    "initial_state": initial_state,
                    "output_schema": output_schema,
                    "keys": list(keys),
                    "seq": seq,
                },
            )
        from milan_spark.operators.scans import scan as scan_op

        df = scan_op(
            self.df, fold, initial_state=initial_state,
            output_schema=output_schema, keys=keys, seq=seq,
        )
        return Stream(df, Node("scan", serializable=False, inputs=[self.node]))

    def scan_fold(
        self,
        state: dict[str, str | None],
        update: dict[str, str],
        *,
        output: dict[str, str],
        emit_when: str | None = None,
        keys: Sequence[str] = (),
        seq: str = SEQ_COL,
    ) -> "Stream":
        """Declarative Scan: per-key fold whose state updates are SQL strings.

        ``state`` maps field → init SQL literal (None = aggregate identity);
        ``update`` maps field → its per-record update in the associative
        grammar (``s + expr`` / ``greatest(s, expr)`` / ``least(s, expr)``);
        ``output`` maps output column → SQL over state fields + record
        columns; rows emit only when ``emit_when`` (over the *new* state)
        holds — Milan's Option-output contract.

        Unlike :meth:`scan` this keeps the plan serializable and lets the
        optimizer (``plans.rewrite``) lower it to cumulative window
        aggregates — JVM window exec instead of a Python fold. The frame is
        built from that same lowering, so updates outside the grammar raise
        immediately; use :meth:`scan` for those.
        """
        from milan_spark.plans.rewrite import rule_scan_fold_to_window

        params = {
            "state": dict(state),
            "update": dict(update),
            "output": dict(output),
            "emit_when": emit_when,
            "keys": list(keys),
            "seq": seq,
        }
        # the scan_fold node is logical-only: lower a twin over a bound leaf
        leaf = Node("external_stream", {"stream_id": "input"})
        lowered = rule_scan_fold_to_window(Node("scan_fold", params, [leaf]))
        df = compile_node(lowered, self.df.sparkSession, {"input": self.df})
        return Stream(df, Node("scan_fold", params, [self.node]))

    def last(self, keys: Sequence[str] = ()) -> "Stream":
        """Milan Last (lang/Stream.scala:123)."""
        return self._then("last", {"keys": list(keys)})

    # --- set/flow ops (SURVEY §2.7) ----------------------------------------

    def union(self, other: "Stream") -> "Stream":
        """Milan Union — bag union (lang/Stream.scala:135)."""
        return self._then("union", {}, other)

    def distinct(self, subset: Sequence[str] | None = None) -> "Stream":
        """The documented unique/uniqueBy (doc/Streams in Milan and streaming
        operations.md:73-77) — implemented, unlike the reference."""
        return self._then("distinct", {"subset": list(subset) if subset else None})

    def order_by(self, *exprs: str | Column) -> "Stream":
        """Total ordering (SURVEY §2.7 'sorts/limits: absent — free')."""
        return self._then("order_limit", {"order": list(exprs), "limit": None}, serializable=_all_str(exprs))

    def limit(self, n: int) -> "Stream":
        return self._then("order_limit", {"order": [], "limit": n})

    def top_k_per_group(self, keys: Sequence[str], order_expr: str | Column, k: int, desc: bool = True) -> "Stream":
        """Top-k per key = row_number() <= k over a per-key ordering
        (SURVEY §2.7) — one shuffle+sort, no global ordering."""
        from pyspark.sql import Window as W

        e = F.expr(order_expr) if _is_str(order_expr) else order_expr
        w = W.partitionBy(*keys).orderBy(e.desc() if desc else e.asc())
        df = (
            self.df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .drop("__rk")
        )
        return Stream(df, Node("top_k_per_group", serializable=False, inputs=[self.node]))

    def intersect(self, other: "Stream") -> "Stream":
        """Set intersection (SURVEY §2.7 'absent — free via Spark if exposed')."""
        return self._then("intersect", {}, other)

    def except_(self, other: "Stream") -> "Stream":
        """Set difference (SURVEY §2.7)."""
        return self._then("except", {}, other)

    def rollup(self, *keys: str, **aggs: str | Column) -> "Stream":
        """Hierarchical subtotal aggregation (SURVEY §2.4 'grouping sets /
        cube / rollup: absent — available free in Spark if exposed')."""
        return self._multi_dim_agg("rollup", {"keys": list(keys)}, aggs)

    def cube(self, *keys: str, **aggs: str | Column) -> "Stream":
        """All-combination subtotal aggregation (SURVEY §2.4)."""
        return self._multi_dim_agg("cube", {"keys": list(keys)}, aggs)

    def grouping_sets(
        self, sets: list[list[str]], *keys: str, **aggs: str | Column
    ) -> "Stream":
        """Arbitrary grouping-set aggregation — the general form rollup and
        cube are special cases of (SURVEY §2.4 exceeds-parity). ``sets`` is
        the explicit list of grouping-column subsets; ``keys`` the full
        grouping-column universe. Serializes to a ``grouping_sets`` IR node
        when the aggregate expressions are strings."""
        return self._multi_dim_agg(
            "grouping_sets", {"sets": [list(s) for s in sets], "keys": list(keys)}, aggs
        )

    def _multi_dim_agg(self, op: str, params: dict, aggs) -> "Stream":
        return self._then(op, {**params, "aggs": dict(aggs)}, serializable=_all_str(aggs.values()))

    def to_application(self, app_id: str, sink: dict | None = None, **kwargs):
        """Export this program as a portable Application bundle: concrete
        file sources become ``external_stream`` placeholders bound in the
        bundle's configuration half (define-then-bind — the reference's
        whole lifecycle). Any Application field passes through ``kwargs``
        (metrics, sinks, lineage_sinks, state_store)."""
        from milan_spark.application import Application, externalize_plan

        plan, bindings = externalize_plan(self.node)
        return Application(
            app_id=app_id,
            plan=plan,
            sources=bindings,
            sink=sink or {"kind": "none"},
            **kwargs,
        )

    def iterate(self, body: Callable[["Stream"], "Stream"], max_iterations: int, converged: Callable[[DataFrame, DataFrame], bool] | None = None) -> "Stream":
        """Milan Cycle (beginCycle/closeCycle, lang/Stream.scala:143-147) —
        batch realization as a driver-side fixpoint loop. Each iteration is a
        full distributed plan; ``localCheckpoint`` truncates lineage between
        rounds so plans don't grow unboundedly. The streaming realization is
        ``milan_spark.streaming.cycle.streaming_cycle`` — the sink-to-source
        feedback emulation the reference's Boda sample documents
        (milan-samples/.../bodaboda/BodaApp.scala:60-69; the Flink compiler's
        true feedback edge is GeneratorContext.scala:349-357).

        IR capture: when ``converged`` is None and the body builds a
        serializable plan, the result records a portable ``cycle`` node —
        [initial, body-with-cycle_ref] — so the program JSON round-trips and
        recompiles on the batch backend (the reference serializes cycles in
        its IR too, StreamExpressions.scala:141); a convergence predicate or
        an opaque body keeps today's eager-only behavior.

        Rounds run through ``milan_spark.fixpoint``; a ``converged`` that never
        holds within ``max_iterations`` rounds raises :class:`MilanRoundCapError`."""
        node = Node("cycle", serializable=False, inputs=[self.node])
        if converged is None and self.node.is_serializable:
            # symbolic pass: run the body once against a cycle_ref-rooted
            # twin purely to CAPTURE its plan (DataFrame building is lazy —
            # no jobs); an opaque or failing body falls back to eager-only
            try:
                sym = body(Stream(self.df, Node("cycle_ref")))
                if sym.node.is_serializable:
                    node = Node(
                        "cycle", {"max_iterations": max_iterations}, [self.node, sym.node]
                    )
            except Exception:
                pass
        # a convergence predicate forces a driver decision per round (eager
        # checkpoint so the predicate sees materialized frames); without one
        # there is no per-round decision, so no per-round barrier — the lazy
        # checkpoint still truncates lineage and still computes each round
        # exactly once (the checkpointed RDD caches on first access), but
        # defers the per-round result-stage job into the consumer's single
        # final action
        eager = converged is not None

        def step(cur: "Stream", _r: int) -> "tuple[Stream, bool]":
            nxt = body(cur)
            nxt = Stream(nxt.df.localCheckpoint(eager=eager), nxt.node)
            return nxt, eager and converged(cur.df, nxt.df)

        out, _ = fixpoint(
            step, self, max_iterations, on_cap="raise" if eager else "return",
            what="Stream.iterate max_iterations",
        )
        return Stream(out.df, node)

    # --- sinks (SURVEY §2.1) -----------------------------------------------

    def to_df(self, optimized: bool = True) -> DataFrame:
        """Compile the stream to a DataFrame. By default the recorded logical
        plan runs through the engine's rewrite pipeline
        (``plans.rewrite.optimize`` — scan-fold→window, grouped-rank→
        row_number, filter pushdown into enrichment joins, small-side
        broadcast) whenever the whole plan is serializable, so user programs
        get the rewrites without opting in. Plans holding opaque
        Column/callable nodes — or ``optimized=False``, or a plan no rule
        rewrites — return the frame composed as the stream was built, which
        each op built from its own recorded node, so it is the unoptimized
        plan's compile."""
        if optimized and self.node.is_serializable:
            from milan_spark.plans.rewrite import optimize

            spark = self.df.sparkSession
            opt = optimize(self.node, spark)
            if opt is not self.node:  # a rule fired; compile the better plan
                return compile_node(opt, spark)
        return self.df

    def to_list(self) -> list:
        return self.df.collect()

    def write_parquet(self, path: str, mode: str = "overwrite", partition_by: Sequence[str] = ()) -> None:
        """FileDataSink / S3DataSink analog (sinks/FileDataSink.scala:18,
        S3DataSink.scala:1 — partition-key prefix ≈ partitionBy)."""
        w = self.df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def write_file(self, path: str, fmt: str = "json", mode: str = "overwrite", **options) -> None:
        self.df.write.mode(mode).format(fmt).options(**options).save(path)

    def write_versioned(self, path: str, mode: str = "append", **commit_kw) -> int:
        """Commit this stream's rows into a versioned table
        (``operators.versioned`` — snapshot isolation, time travel, OCC).
        ``mode`` picks the commit kind: "append" or "overwrite";
        ``commit_kw`` passes through (tag, stats_cols, bloom_cols,
        allow_schema_evolution, ...). Returns the committed version."""
        from milan_spark.operators.versioned import (
            commit_append,
            commit_overwrite,
        )

        if mode == "append":
            return commit_append(self.df, path, **commit_kw)
        if mode == "overwrite":
            return commit_overwrite(self.df, path, **commit_kw)
        raise MilanAnalysisError(
            f"write_versioned: mode must be 'append' or 'overwrite', got "
            f"{mode!r} (MERGE/DELETE/UPDATE are table operations — use "
            f"operators.versioned.commit_merge/commit_delete/commit_update)"
        )

    def show(self, n: int = 20) -> None:
        self.df.show(n)


class GroupedStream:
    """Milan GroupedStream (lang/GroupedStream.scala:19): per-key sub-streams.

    ``select`` = the Aggregate operation (lang/GroupOperations.scala:54);
    ``map_group``/``flat_map`` = per-group stream transforms
    (lang/GroupedStream.scala:82, doc/Milan Operations.md:59-97).
    """

    def __init__(self, parent: Stream, keys: list[str]):
        self.parent = parent
        self.keys = keys

    def select(self, **aggs: str | Column) -> Stream:
        """Aggregate over the group; keyword = output column name. String
        values are SQL aggregate expressions; Columns pass through."""
        with analysis_scope("group_by.select", self.parent.df.columns):
            return self.parent._then(
                "aggregate", {"keys": self.keys, "aggs": dict(aggs)}, serializable=_all_str(aggs.values())
            )

    agg = select

    def map_group(self, fn: Callable, output_schema) -> Stream:
        """GroupedStream.map — per-group pandas transform, key preserved
        (doc/Milan Operations.md:59-64)."""
        df = self.parent.df.groupBy(*self.keys).applyInPandas(fn, schema=output_schema)
        return Stream(df, Node("map_group", serializable=False, inputs=[self.parent.node]))

    def flat_map(self, fn: Callable, output_schema) -> Stream:
        """FlatMap on grouped stream — per-group transform, groups merged
        (doc/Milan Operations.md:79-97). Same physical op as map_group; the
        distinction (key dropped vs preserved) is the caller's output schema."""
        return self.map_group(fn, output_schema)

    def ranked(self, order_by, alias: str = "idx") -> Stream:
        """Arrival-index FlatMap — the rank-shaped special case of
        :meth:`flat_map` (doc/Milan Operations.md:79-97): every record gets
        its arrival position within the group's sub-stream.

        Unlike the opaque-callable ``flat_map``, this records a serializable
        ``grouped_rank`` plan node that the optimizer
        (``plans.rewrite.rule_grouped_rank_to_window`` — the second half of
        SURVEY §4's optional rewrite) lowers to a JVM ``row_number()``
        window, replacing the Python grouped-map with whole-stage-codegen
        window exec. The direct realization here is the same
        ``applyInPandas`` fold ``flat_map`` uses. ``order_by`` must be column
        names (the naive fold sorts the pandas frame by them).

        Ties in ``order_by`` within a group would make the window's
        row_number assignment nondeterministic (and potentially disagree with
        the pandas sort), so BOTH realizations append the remaining
        atomic-typed columns as a deterministic tie-break; naive and
        optimized plans then agree row-for-row whenever the full
        (order_by + tie-break) tuple is unique per group.
        """
        from pyspark.sql.types import (
            AtomicType,
            LongType,
            StructField,
            StructType,
        )

        order = [order_by] if isinstance(order_by, str) else list(order_by)
        keys = list(self.keys)
        taken = set(keys) | set(order)
        tie_break = [
            f.name
            for f in self.parent.df.schema.fields
            if f.name not in taken and isinstance(f.dataType, AtomicType)
        ]
        full_order = order + tie_break

        def arrival(pdf):
            pdf = pdf.sort_values(full_order, kind="stable").copy()
            pdf[alias] = range(1, len(pdf) + 1)
            return pdf

        # fresh StructType: .add would MUTATE the DataFrame's cached schema
        out_schema = StructType(
            list(self.parent.df.schema.fields) + [StructField(alias, LongType())]
        )
        df = self.parent.df.groupBy(*keys).applyInPandas(arrival, schema=out_schema)
        node = Node(
            "grouped_rank",
            {"keys": keys, "order_by": full_order, "alias": alias},
            [self.parent.node],
        )
        return Stream(df, node)

    def record_window(self, n: int, aggs: dict[str, Column | str] | None = None, seq: str = SEQ_COL) -> Stream:
        """Milan SlidingRecordWindow on a grouped stream (lang/GroupedStream.scala:46)."""
        aggs = aggs or {}
        return self.parent._then(
            "record_window", {"n": n, "aggs": aggs, "keys": self.keys, "seq": seq},
            serializable=_all_str(aggs.values()),
        )

    def tumbling_window(self, ts: str, period: str, offset: str | None = None) -> "WindowedStream":
        """Keyed time window (lang/GroupedStream.scala:61)."""
        require_temporal("tumbling_window", self.parent.df, ts)
        return WindowedStream(self.parent, ts, period, period, offset, keys=self.keys)

    def sliding_window(self, ts: str, size: str, slide: str, offset: str | None = None) -> "WindowedStream":
        require_temporal("sliding_window", self.parent.df, ts)
        return WindowedStream(self.parent, ts, size, slide, offset, keys=self.keys)

    def session_window(self, ts: str, gap: str) -> "SessionWindowedStream":
        """Keyed gap-based session windows (exceeds-parity, SURVEY §2.5)."""
        require_temporal("session_window", self.parent.df, ts)
        return SessionWindowedStream(self.parent, ts, gap, keys=self.keys)

    def last(self) -> Stream:
        return self.parent.last(keys=self.keys)


class WindowedStream:
    """Milan TimeWindowedStream (lang/WindowedStreams.scala:47): tumbling and
    sliding event-time windows; the aggregate select's group key is the window
    start (doc/Streams in Milan and streaming operations.md:70-71)."""

    def __init__(self, parent: Stream, ts: str, size: str, slide: str, offset: str | None, keys: list[str]):
        self.parent = parent
        self.ts = ts
        self.size = size
        self.slide = slide
        self.offset = offset
        self.keys = keys

    def select(self, **aggs: str | Column) -> Stream:
        return self.parent._then(
            "time_window_aggregate",
            {
                "ts": self.ts,
                "size": self.size,
                "slide": self.slide,
                "offset": self.offset,
                "keys": self.keys,
                "aggs": dict(aggs),
            },
            serializable=_all_str(aggs.values()),
        )

    agg = select

    def apply(self, fn: Callable, output_schema) -> Stream:
        """Milan WindowApply — whole-window UDF (lang/WindowedStreams.scala:37,
        flink/generator/RecordWindowGenerator.scala:19): pandas per (window,
        key) group."""
        win = (
            F.window(F.col(self.ts), self.size, self.slide, self.offset)
            if self.offset
            else F.window(F.col(self.ts), self.size, self.slide)
        )
        df = (
            self.parent.df.withColumn("__w", win)
            .withColumn("window_start", F.col("__w.start"))
            .drop("__w")
            .groupBy("window_start", *self.keys)
            .applyInPandas(fn, schema=output_schema)
        )
        return Stream(df, Node("window_apply", serializable=False, inputs=[self.parent.node]))


class SessionWindowedStream:
    """Gap-based session windows over a (possibly keyed) stream — the
    exceeds-parity window kind SURVEY §2.5 lists as absent in the reference.
    ``select`` emits a serializable ``session_window_aggregate`` node so the
    same program runs on both compilers (streaming: watermark = gap, the
    same policy as the time windows' watermark = window size)."""

    def __init__(self, parent: Stream, ts: str, gap: str, keys: list[str]):
        self.parent = parent
        self.ts = ts
        self.gap = gap
        self.keys = keys

    def select(self, **aggs: str | Column) -> Stream:
        return self.parent._then(
            "session_window_aggregate",
            {"ts": self.ts, "gap": self.gap, "keys": self.keys, "aggs": dict(aggs)},
            serializable=_all_str(aggs.values()),
        )

    agg = select
