"""Application bundle: plan + source bindings + sink + metrics as ONE
portable JSON document — the reference's save/ship/run-elsewhere lifecycle.

Reference anatomy this mirrors (SURVEY.md §3.2):

- ``Application(id, streams, version)`` — the program graph —
  ``application/Application.scala`` via ``graph/StreamCollection.scala:9-33``
- ``ApplicationConfiguration`` — DataSources bound BY STREAM ID, sinks
  attached to streams, metric definitions —
  ``application/ApplicationConfiguration.scala:29-154``
- ``ApplicationInstance.toJsonString`` — the portable JSON —
  ``application/ApplicationInstance.scala:27-30``; round-trip parser
  ``program/TreeParser.scala:23-120``

The split matters: the PLAN references sources only as ``external_stream``
placeholders (stream ids), and the BUNDLE binds those ids to concrete
sources at deploy time — so the same program runs against test fixtures,
production paths, or a live stream by swapping the configuration half, never
editing the plan. ``run_batch``/``run_streaming`` compile the same plan with
the two backends (``plans.nodes.compile_node`` /
``plans.backend_streaming.compile_node_streaming``), the engine's analog of
the reference's multi-compiler ``KnownCompilers.scala:4-10``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from milan_spark.plans.nodes import Node, compile_node, from_json as _plan_from_json, to_json as _plan_to_json
from milan_spark.streaming import _conf_scope, await_finished

BUNDLE_VERSION = 1

_STATE_PROVIDERS = {
    "memory": "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def _provider_confs(choice: str | None) -> dict[str, str]:
    """The session confs that put a query on state store ``choice``
    (None: the session's own). Set around a query's ``start()`` with
    ``streaming._conf_scope``, they scope to that query alone: the Spark
    realization of the reference's per-operation ``stateStores``
    configuration (``ApplicationConfiguration.scala:121-154``)."""
    return {_PROVIDER_KEY: _STATE_PROVIDERS[choice]} if choice else {}


# source spec kinds → how run_* resolves them
#   parquet: {"path": ...}
#   file:    {"path": ..., "fmt": ..., "options": {...}}
#   list:    {"rows": [[...], ...], "schema": "a int, b string"}  (batch only)
_SOURCE_KINDS = ("parquet", "file", "list", "kinesis", "sqs", "dynamodb_stream")

# sink spec kinds
#   memory:  {"name": ..., "output_mode": "append"}  → temp view / memory sink
#   file:    {"path": ..., "fmt": "parquet", "mode": "overwrite"}
#   none:    {}  → just return the DataFrame
_SINK_KINDS = ("memory", "file", "none", "kinesis", "sqs", "dynamodb_table")


@dataclass
class Application:
    """One deployable unit: plan + configuration (sources/sink/metrics).

    ``sources`` maps stream id → source spec dict (see ``_SOURCE_KINDS``);
    every ``external_stream`` node in the plan must have a binding here.
    ``sink`` is a sink spec dict (see ``_SINK_KINDS``). ``metrics`` maps
    alias → SQL aggregate expression, attached to the output via
    ``Dataset.observe`` (ref: MetricDefinition — computed during the action
    that runs anyway, zero extra passes).
    """

    app_id: str
    plan: Node
    sources: dict[str, dict[str, Any]] = field(default_factory=dict)
    sink: dict[str, Any] = field(default_factory=lambda: {"kind": "none"})
    metrics: dict[str, str] = field(default_factory=dict)
    version: int = BUNDLE_VERSION
    #: additional sinks bound BY STREAM (node) ID — the reference holds a
    #: LIST of StreamSink(streamId, sink) pairs and allows sinks on
    #: intermediate streams (ApplicationConfiguration.scala:30,84-94); each
    #: entry is {"stream_id": <node_id in the plan>, **sink spec}. The head
    #: ``sink`` field is the common single-output case.
    sinks: list[dict[str, Any]] = field(default_factory=list)
    #: lineage sinks (ApplicationConfiguration.scala:31 ``lineageSinks``) —
    #: lineage is DATA here (observability.lineage_edges): each entry names
    #: the id columns the plan itself carries and where the edge list goes:
    #: {"stream_id": <node_id>, "out_id": col, "in_ids": [cols], "op": name,
    #:  "kind": "memory"|"file", ...}. Unmatched (null) input ids emit no
    #: edge, matching the reference's absent-pointer behavior.
    lineage_sinks: list[dict[str, Any]] = field(default_factory=list)
    #: state-store choice for the streaming run (the analog of the
    #: reference's ``stateStores`` configuration): "memory" (default
    #: HDFS-backed provider) or "rocksdb" (spill-to-disk state for windows/
    #: joins whose state exceeds executor heap). Applied around query start
    #: only — batch runs ignore it.
    state_store: str | None = None

    # --- serialization (ApplicationInstance.toJsonString analog) ----------

    def to_json(self) -> str:
        self.validate()
        return json.dumps(
            {
                "app_id": self.app_id,
                "version": self.version,
                "plan": json.loads(_plan_to_json(self.plan)),
                "sources": self.sources,
                "sink": self.sink,
                "sinks": self.sinks,
                "lineage_sinks": self.lineage_sinks,
                "state_store": self.state_store,
                "metrics": self.metrics,
            },
            indent=2,
        )

    @classmethod
    def from_json(cls, text: str) -> "Application":
        doc = json.loads(text)
        app = cls(
            app_id=doc["app_id"],
            plan=_plan_from_json(json.dumps(doc["plan"])),
            sources=doc.get("sources", {}),
            sink=doc.get("sink", {"kind": "none"}),
            sinks=doc.get("sinks", []),
            lineage_sinks=doc.get("lineage_sinks", []),
            state_store=doc.get("state_store"),
            metrics=doc.get("metrics", {}),
            version=doc.get("version", BUNDLE_VERSION),
        )
        app.validate()
        return app

    # --- validation (the reference typechecks the graph before compiling) --

    def validate(self) -> None:
        unbound = self.external_stream_ids() - set(self.sources)
        if unbound:
            raise ValueError(
                f"application {self.app_id!r}: unbound external streams {sorted(unbound)}"
            )
        for sid, spec in self.sources.items():
            if spec.get("kind") not in _SOURCE_KINDS:
                raise ValueError(
                    f"source {sid!r}: unknown kind {spec.get('kind')!r} (expected {_SOURCE_KINDS})"
                )
        if self.sink.get("kind", "none") not in _SINK_KINDS:
            raise ValueError(
                f"sink kind {self.sink.get('kind')!r} unknown (expected {_SINK_KINDS})"
            )
        node_ids = self._node_ids()
        for entry in self.sinks:
            sid = entry.get("stream_id")
            if sid not in node_ids:
                raise ValueError(
                    f"application {self.app_id!r}: sink bound to unknown "
                    f"stream id {sid!r} (plan nodes: {sorted(node_ids)})"
                )
            if entry.get("kind") not in ("memory", "file"):
                raise ValueError(
                    f"sink on {sid!r}: unknown kind {entry.get('kind')!r} "
                    "(expected memory|file)"
                )
        for entry in self.lineage_sinks:
            sid = entry.get("stream_id")
            if sid not in node_ids:
                raise ValueError(
                    f"application {self.app_id!r}: lineage sink bound to "
                    f"unknown stream id {sid!r}"
                )
            for key in ("out_id", "in_ids", "op"):
                if key not in entry:
                    raise ValueError(f"lineage sink on {sid!r}: missing {key!r}")
            if entry.get("kind") not in ("memory", "file"):
                raise ValueError(
                    f"lineage sink on {sid!r}: unknown kind {entry.get('kind')!r}"
                )
        stores = [("state_store", self.state_store),
                  ("sink state_store", self.sink.get("state_store"))]
        stores += [(f"sink on {e.get('stream_id')!r}: state_store", e.get("state_store"))
                   for e in self.sinks]
        for where, choice in stores:
            if choice is not None and choice not in _STATE_PROVIDERS:
                raise ValueError(
                    f"{where} {choice!r} unknown (expected {'|'.join(_STATE_PROVIDERS)})"
                )

    def _node_ids(self) -> set[str]:
        ids: set[str] = set()

        def walk(n: Node) -> None:
            ids.add(n.node_id)
            for i in n.inputs:
                walk(i)

        walk(self.plan)
        return ids

    def _find_node(self, node_id: str) -> Node:
        def walk(n: Node) -> Node | None:
            if n.node_id == node_id:
                return n
            for i in n.inputs:
                hit = walk(i)
                if hit is not None:
                    return hit
            return None

        hit = walk(self.plan)
        if hit is None:
            raise ValueError(f"no node {node_id!r} in plan")
        return hit

    def typecheck(self, spark: SparkSession) -> dict:
        """Full graph typecheck (the reference runs typeCheckGraph before any
        compiler, graph/package.scala:11-25): resolve every node against
        empty frames of the bound source schemas — no data I/O, no jobs.
        Returns {node_id: schema}; raises MilanAnalysisError naming the
        failing node."""
        from milan_spark.plans.validate import validate_plan

        self.validate()
        schemas = {}
        for sid in self.external_stream_ids():
            spec = self.sources[sid]
            if spec["kind"] == "list":
                df = self._resolve_batch(spark, sid)
                schemas[sid] = df.schema
            elif spec["kind"] in ("kinesis", "sqs", "dynamodb_stream"):
                # queue descriptors carry their record schema explicitly (the
                # reference's TypeDescriptor generic argument)
                from pyspark.sql.types import StructType as _ST

                schemas[sid] = _ST.fromDDL(spec["schema"])
            else:
                from milan_spark.plans.validate import _source_schema
                from milan_spark.plans.nodes import Node as _N

                kind = "parquet_source" if spec["kind"] == "parquet" else "file_source"
                probe = _N(kind, {k: v for k, v in spec.items() if k != "kind"})
                schemas[sid] = _source_schema(probe, spark)
        return validate_plan(self.plan, spark, source_schemas=schemas)

    def external_stream_ids(self) -> set[str]:
        ids: set[str] = set()

        def walk(n: Node) -> None:
            if n.op == "external_stream":
                ids.add(n.params["stream_id"])
            for i in n.inputs:
                walk(i)

        walk(self.plan)
        return ids

    # --- execution ----------------------------------------------------------

    def _resolve_batch(self, spark: SparkSession, sid: str) -> DataFrame:
        spec = self.sources[sid]
        kind = spec["kind"]
        if kind == "parquet":
            from milan_spark.sources import read_parquet

            return read_parquet(spark, spec["path"])
        if kind == "file":
            from milan_spark.sources import file_source

            return file_source(
                spark, spec["path"], fmt=spec.get("fmt", "parquet"), options=spec.get("options")
            )
        if kind in ("kinesis", "sqs", "dynamodb_stream"):
            from milan_spark.sources.queues import read_queue_batch

            return read_queue_batch(spark, spec)
        rows = [tuple(r) for r in spec["rows"]]
        return spark.createDataFrame(rows, schema=spec.get("schema"))

    def _resolve_streaming(self, spark: SparkSession, sid: str) -> DataFrame:
        spec = self.sources[sid]
        if spec["kind"] == "list":
            raise ValueError(f"source {sid!r}: list sources have no unbounded realization")
        if spec["kind"] in ("kinesis", "sqs", "dynamodb_stream"):
            from milan_spark.sources.queues import open_queue_source

            return open_queue_source(spark, spec)
        from milan_spark.sources import stream_files

        return stream_files(spark, spec["path"], spec.get("fmt", "parquet"), spec.get("options"))

    def _observe(self, df: DataFrame):
        if not self.metrics:
            return df, None
        from milan_spark.observability import observe

        return observe(
            df, f"{self.app_id}_metrics", **{a: F.expr(e) for a, e in self.metrics.items()}
        )

    def run_batch(self, spark: SparkSession):
        """source bindings → batch compile → sink(s). Returns (DataFrame,
        Observation-or-None) for the head; every entry in ``sinks`` also
        fires (the reference drives its whole StreamSink list,
        ApplicationConfiguration.scala:30). Intermediate-stream sinks
        compile the sub-plan rooted at their node id against the same
        source bindings — tap points into the dataflow, the reference's
        addSink-on-any-stream."""
        self.validate()
        bound = {sid: self._resolve_batch(spark, sid) for sid in self.sources}
        for entry in self.lineage_sinks:
            sub = compile_node(self._find_node(entry["stream_id"]), spark, sources=bound)
            self._write_lineage(sub, entry)
        for entry in self.sinks:
            sub = compile_node(self._find_node(entry["stream_id"]), spark, sources=bound)
            if entry["kind"] == "memory":
                sub.createOrReplaceTempView(entry["name"])
            else:
                sub.write.mode(entry.get("mode", "overwrite")).format(
                    entry.get("fmt", "parquet")
                ).save(entry["path"])
        df = compile_node(self.plan, spark, sources=bound)
        df, obs = self._observe(df)
        kind = self.sink.get("kind", "none")
        if kind == "memory":
            df.createOrReplaceTempView(self.sink["name"])
        elif kind == "file":
            df.write.mode(self.sink.get("mode", "overwrite")).format(
                self.sink.get("fmt", "parquet")
            ).save(self.sink["path"])
        elif kind in ("kinesis", "sqs", "dynamodb_table"):
            from milan_spark.sources.queues import publish_batch

            publish_batch(df, self.sink)
        return df, obs

    def _write_lineage(self, df: DataFrame, entry: dict) -> list:
        """Write one lineage edge list; returns started (un-awaited)
        streaming queries so the caller can drain them concurrently."""
        from milan_spark.observability import lineage_edges

        edges = lineage_edges(df, entry["out_id"], entry["in_ids"], entry["op"])
        if edges.isStreaming:
            from milan_spark.streaming import file_sink, run_to_memory

            if entry["kind"] == "memory":
                run_to_memory(edges, entry["name"])
                return []
            return [file_sink(edges, entry["path"], fmt=entry.get("fmt", "parquet"))]
        if entry["kind"] == "memory":
            edges.createOrReplaceTempView(entry["name"])
        else:
            edges.write.mode(entry.get("mode", "overwrite")).format(
                entry.get("fmt", "parquet")
            ).save(entry["path"])
        return []

    def run_streaming(self, spark: SparkSession):
        """source bindings → streaming compile → sink. The memory sink runs
        the bounded stream to completion (availableNow) and returns the sink
        table — the reference's SingletonMemorySink test harness shape; the
        file sink returns the started StreamingQuery."""
        self.validate()
        from milan_spark.plans.backend_streaming import compile_node_streaming

        with _conf_scope(spark, _provider_confs(self.state_store)):
            return self._run_streaming_inner(spark, compile_node_streaming)

    def _run_streaming_inner(self, spark: SparkSession, compile_node_streaming):
        bound = {sid: self._resolve_streaming(spark, sid) for sid in self.sources}
        # file-backed side queries START first and are awaited together at
        # the end — N sinks run concurrently, not serialized (the reference
        # submits one job with all sinks attached); memory sinks stay
        # blocking by design (the bounded test-harness shape)
        started = []
        for entry in self.lineage_sinks:
            sub = compile_node_streaming(
                self._find_node(entry["stream_id"]), spark, source_overrides=bound
            )
            started.extend(self._write_lineage(sub, entry) or [])
        for entry in self.sinks:
            sub = compile_node_streaming(
                self._find_node(entry["stream_id"]), spark, source_overrides=bound
            )
            # per-OPERATION state-store scoping: each StreamingQuery clones
            # the session conf at start(), so setting the provider around a
            # single sink's start scopes its state stores to that query
            # alone — the engine's realization of the reference's
            # per-operation stateStores configuration
            # (ApplicationConfiguration.scala:121-154, which attaches a
            # StateStore choice to individual operation names)
            with _conf_scope(spark, _provider_confs(entry.get("state_store"))):
                if entry["kind"] == "memory":
                    from milan_spark.streaming import run_to_memory

                    run_to_memory(
                        sub, entry["name"], output_mode=entry.get("output_mode", "append")
                    )
                else:
                    from milan_spark.streaming import file_sink

                    started.append(
                        file_sink(
                            sub,
                            entry["path"],
                            fmt=entry.get("fmt", "parquet"),
                            output_mode=entry.get("output_mode", "append"),
                        )
                    )
        for q in started:
            await_finished(q)
        sdf = compile_node_streaming(self.plan, spark, source_overrides=bound)
        if self.metrics:
            # streaming metric attachment: Dataset.observe with a NAME (the
            # Observation object is batch-only); values surface per
            # microbatch in StreamingQueryProgress.observedMetrics, which
            # run_to_memory stashes in streaming._LAST_PROGRESS
            sdf = sdf.observe(
                f"{self.app_id}_metrics",
                *[F.expr(e).alias(a) for a, e in self.metrics.items()],
            )
        kind = self.sink.get("kind", "none")
        if kind == "memory":
            from milan_spark.streaming import run_to_memory

            with _conf_scope(spark, _provider_confs(self.sink.get("state_store"))):
                return run_to_memory(
                    sdf, self.sink["name"], output_mode=self.sink.get("output_mode", "append")
                )
        if kind == "file":
            from milan_spark.streaming import file_sink

            with _conf_scope(spark, _provider_confs(self.sink.get("state_store"))):
                return file_sink(
                    sdf,
                    self.sink["path"],
                    fmt=self.sink.get("fmt", "parquet"),
                    output_mode=self.sink.get("output_mode", "append"),
                )
        if kind in ("kinesis", "sqs", "dynamodb_table"):
            from milan_spark.sources.queues import open_queue_sink

            await_finished(open_queue_sink(sdf, self.sink))
            return sdf
        return sdf


def externalize_plan(node: Node) -> tuple[Node, dict[str, dict]]:
    """Rewrite a plan's concrete file sources into ``external_stream``
    placeholders and return (portable plan, source bindings) — the
    define-then-bind split the reference's lifecycle is built on: a program
    authored against real paths exports as a bundle whose configuration
    half can later point anywhere. Shared sources (same node id) become
    ONE stream id; stream ids derive from the path basename, deduplicated.
    """
    bindings: dict[str, dict] = {}
    sid_by_node: dict[str, str] = {}
    taken: set[str] = set()
    import os as _os

    def stream_id_for(n: Node) -> str:
        base = _os.path.basename(n.params["path"].rstrip("/"))
        base = _os.path.splitext(base)[0] or "source"
        sid, i = base, 1
        while sid in taken:
            i += 1
            sid = f"{base}_{i}"
        taken.add(sid)
        return sid

    def walk(n: Node) -> Node:
        if n.op in ("parquet_source", "file_source"):
            if n.node_id not in sid_by_node:
                sid = stream_id_for(n)
                sid_by_node[n.node_id] = sid
                if n.op == "parquet_source":
                    bindings[sid] = {"kind": "parquet", "path": n.params["path"]}
                else:
                    bindings[sid] = {
                        "kind": "file",
                        "path": n.params["path"],
                        "fmt": n.params.get("fmt", "parquet"),
                        "options": n.params.get("options") or {},
                    }
            return Node("external_stream", {"stream_id": sid_by_node[n.node_id]})
        return Node(n.op, n.params, [walk(i) for i in n.inputs], serializable=n.serializable)

    return walk(node), bindings
