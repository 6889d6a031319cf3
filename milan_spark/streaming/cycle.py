"""Streaming feedback cycle — sink-to-source emulation (SURVEY.md §2.7).

The reference has two streaming realizations of the Cycle operator
(``beginCycle``/``closeCycle``, lang/Stream.scala:143-147):

- the Flink compiler wires a true feedback edge
  (``flink/generator/GeneratorContext.scala:122-130,349-357`` — Flink
  ``iterate()``/``closeWith``);
- the Boda sample documents the portable emulation: write the loop stream to
  a sink location that is *also* registered as a source of the same job
  (``milan-samples/.../bodaboda/BodaApp.scala:60-69``).

Structured Streaming has no feedback edges, so this module implements the
second realization exactly: a file-stream source reads the feedback
directory, each microbatch applies the loop body, and records the body
emits are appended to the same directory — which the *running query itself*
then discovers as new input. ``processAllAvailable`` returns precisely when
a microbatch emits nothing new, i.e. at the fixpoint.

Termination is the caller's contract, as in any feedback topology: the body
must be *productive-finite* (emit only novel records drawn from a finite
space). :func:`streaming_cycle` enforces the novelty half mechanically when
``dedupe=True`` (default) by anti-joining each batch's emissions against the
full feedback history — monotone bodies over a finite lattice (label
propagation, reachability, closure computation) then terminate by
construction. A ``max_batches`` fuse guards against non-monotone bodies.

At scale this is the standard pattern: the feedback directory is object
storage, each hop is one distributed microbatch, and state never
concentrates on the driver.
"""

from __future__ import annotations

import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from milan_spark import fixpoint
from milan_spark.errors import MilanRoundCapError
from milan_spark.streaming import _start


def streaming_cycle(
    spark: SparkSession,
    seed: DataFrame,
    body: Callable[[DataFrame], DataFrame],
    *,
    feedback_dir: str | None = None,
    dedupe: bool = True,
    max_batches: int = 100,
    timeout_sec: int = 300,
    stats: dict | None = None,
    compact_every: int = 8,
) -> DataFrame:
    """Run ``body`` to a fixpoint on the streaming backend; return the full
    feedback stream contents (seed + every emitted record) as a batch
    DataFrame.

    ``body`` maps one microbatch of feedback records to the records to feed
    back next; returning an empty DataFrame ends the loop. With ``dedupe``
    (default) emissions already present in the feedback history are dropped
    before writing (null-safe comparison, so NULL-bearing records dedupe
    too), so monotone bodies terminate by construction.

    Note: a hop past ``max_batches`` raises :class:`MilanRoundCapError` inside
    ``foreachBatch``, so Spark surfaces it to the caller wrapped in a
    ``StreamingQueryException`` — catch that and inspect its message for
    ``max_batches``.

    ``stats``, if given, is filled in place with ``batches`` (hops run),
    ``history_file_reads`` (times the feedback dir was scanned for dedup —
    always ≤1: the seed scan; per-hop dedup runs against block-manager-cached
    deltas, so history I/O does not grow with the feedback directory), and
    ``max_history_frames`` (peak length of the delta list — bounded by
    ``compact_every``).

    ``compact_every`` bounds the anti-join's input shape on long-running
    cycles: whenever the delta list reaches that many frames they fold into
    ONE localCheckpointed frame, so each hop anti-joins against at most
    ``compact_every`` cached frames regardless of hop count — per-hop compute
    stays O(history rows) with a bounded constant instead of a union tree
    that grows a leaf per hop. Compaction reads only cached blocks (no file
    I/O) and costs one pass over the history every ``compact_every`` hops —
    amortized O(rows/compact_every) per hop.
    """
    import functools

    feedback_dir = feedback_dir or tempfile.mkdtemp(prefix="milan_cycle_")
    ckpt = tempfile.mkdtemp(prefix="milan_cycle_ckpt_")
    schema = seed.schema
    cols = seed.columns
    seed.write.mode("overwrite").parquet(feedback_dir)

    batches = {"n": 0}
    if stats is not None:
        stats["history_file_reads"] = 0
    # History lives as a list of localCheckpoint-materialized deltas in the
    # block manager (distributed, lineage-truncated) — the anti-join scans
    # cached blocks, NOT the growing feedback directory. Per-hop file I/O is
    # therefore bounded by the microbatch's own new files; the feedback dir
    # is read exactly once here (the seed) and once at the end (the result).
    deltas: list[DataFrame] = []
    if dedupe:
        init = spark.read.schema(schema).parquet(feedback_dir)
        deltas.append(init.localCheckpoint(eager=True))
        if stats is not None:
            stats["history_file_reads"] = 1

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batches["n"] >= max_batches:
            raise MilanRoundCapError(
                f"streaming_cycle exceeded max_batches={max_batches}; "
                "body is not converging"
            )
        batches["n"] += 1
        out = body(batch_df).select(*cols)
        if dedupe:
            history = functools.reduce(DataFrame.unionByName, deltas)
            # null-safe equality: a plain `on=cols` anti-join never matches
            # NULL-bearing history rows (SQL null semantics), which would
            # re-emit them every microbatch and defeat monotone termination
            o, h = out.alias("o"), history.alias("h")
            cond = None
            for c in cols:
                eq = o[c].eqNullSafe(h[c])
                cond = eq if cond is None else (cond & eq)
            out = o.join(h, on=cond, how="left_anti").distinct()
        # one counted checkpoint decides emptiness and materializes BEFORE the
        # write starts appending (reading the history while appending to it
        # would race); an empty write would still create a part file — a "new
        # file" that would re-trigger the source forever
        rows, n_rows = fixpoint.checkpoint_counted(out)
        if n_rows > 0:
            rows.write.mode("append").parquet(feedback_dir)
            if dedupe:
                deltas.append(rows)
                if len(deltas) >= compact_every:
                    merged = functools.reduce(DataFrame.unionByName, deltas)
                    # the folded frame replaces every delta; the old frames'
                    # checkpoint blocks are reclaimed by the ContextCleaner
                    # once these references drop
                    deltas[:] = [merged.localCheckpoint(eager=True)]
        if stats is not None:
            stats["batches"] = batches["n"]
            stats["max_history_frames"] = max(
                stats.get("max_history_frames", 0), len(deltas)
            )

    src = spark.readStream.schema(schema).parquet(feedback_dir)
    q = _start(src.writeStream.foreachBatch(handle).option("checkpointLocation", ckpt), src)
    try:
        # returns when a microbatch produced no new files — the fixpoint
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(timeout_sec)
    return spark.read.schema(schema).parquet(feedback_dir)


def streaming_min_label_components(
    spark: SparkSession,
    edges: DataFrame,
    *,
    feedback_dir: str | None = None,
    max_batches: int = 100,
) -> DataFrame:
    """Incremental connected components on the streaming backend: the
    canonical cycle workload (same semantics as
    ``operators.graph.connected_components``, realized as a feedback stream
    of (node, label) improvement messages instead of a driver loop).

    Seed = every node labeled with itself; each hop forwards a node's known
    labels to its neighbors; the history anti-join keeps only novel
    (node, label) facts, so the loop drains once no smaller label can reach
    any node. Final answer = min label seen per node.
    """
    from milan_spark.operators.graph import symmetrize

    # static side, reused every hop
    sym = symmetrize(edges, F.col("u"), F.col("v")).localCheckpoint(eager=True)
    seed = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    def hop(msgs: DataFrame) -> DataFrame:
        # forward each incoming (node, label) to the node's neighbors; only
        # labels that improve on the neighbor's own id can matter
        return (
            msgs.join(sym, msgs["node"] == sym["u"])
            .filter(F.col("label") < F.col("v"))
            .select(F.col("v").alias("node"), F.col("label"))
            .distinct()
        )

    hist = streaming_cycle(
        spark, seed, hop, feedback_dir=feedback_dir, max_batches=max_batches
    )
    return hist.groupBy("node").agg(F.min("label").alias("label"))
