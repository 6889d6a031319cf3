"""Running (per-record stateful) operators — Milan's ScanExpressions (SURVEY.md §2.6).

Reference semantics (doc/Milan Operations.md:106-140, IR
``program/StreamExpressions.scala:494-719``, runtimes
``flink/runtime/ScanOperations.scala``, ``ArgCompareProcessFunctions.scala``,
``LastOperators.scala``):

- ``SumBy``   — running sum of an extracted argument, output built from
  (current sum, current record).
- ``MaxBy``/``MinBy`` — emit the arriving record **only when it strictly
  beats** the running max/min ("only produce an output record if the new
  record is larger", doc/Milan Operations.md:106-111).
- ``Scan``    — general user fold ``(state, record) -> (state, Option[out])``;
  only Some(out) rows appear downstream.
- ``Last``    — latest record per key (emitted at end-of-stream).

Batch realization: arrival order = the ``__seq`` column; associative state
becomes a cumulative window aggregate (pure JVM window exec, one shuffle+sort
per key — this is exactly the plan a hand-written Flink keyed state walk
linearizes into, but parallel across keys). The general ``scan`` falls back to
an ordered ``applyInPandas`` fold per key — the documented slow path.
Streaming realization: ``milan_spark.streaming.stateful``.

The reference pins unkeyed ``last()`` to parallelism 1
(``flink/generator/LastByGenerator.scala:59-63``); here the unkeyed variants
are ordinary global aggregates that combine map-side — no single-task
bottleneck.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from milan_spark.session import SEQ_COL


def _cum_window(keys: Sequence[str], seq: str):
    part = W.partitionBy(*keys) if keys else W.partitionBy(F.lit(1))
    return part.orderBy(seq).rowsBetween(W.unboundedPreceding, W.currentRow)


def _prev_window(keys: Sequence[str], seq: str):
    part = W.partitionBy(*keys) if keys else W.partitionBy(F.lit(1))
    return part.orderBy(seq).rowsBetween(W.unboundedPreceding, -1)


def running_sum_by(
    df: DataFrame,
    arg: Column | str,
    *,
    keys: Sequence[str] = (),
    seq: str = SEQ_COL,
    alias: str = "running_sum",
) -> DataFrame:
    """Milan SumBy (StreamExpressions.scala:670, ScanOperations.scala:17-47).

    Appends the running sum of ``arg`` in arrival order (per key if given);
    the caller's output-builder is an ordinary select over the result.
    """
    arg = F.col(arg) if isinstance(arg, str) else arg
    return df.withColumn(alias, F.sum(arg).over(_cum_window(keys, seq)))


def _stream_arg_compare(df, arg, keys, seq, maximize: bool) -> DataFrame:
    arg = F.col(arg) if isinstance(arg, str) else arg
    best = F.max(arg) if maximize else F.min(arg)
    prev = best.over(_prev_window(keys, seq))
    improved = (arg > F.col("__prev_best")) if maximize else (arg < F.col("__prev_best"))
    return (
        df.withColumn("__prev_best", prev)
        .filter(F.col("__prev_best").isNull() | improved)
        .drop("__prev_best")
    )


def stream_max_by(
    df: DataFrame,
    arg: Column | str,
    *,
    keys: Sequence[str] = (),
    seq: str = SEQ_COL,
) -> DataFrame:
    """Milan MaxBy (StreamExpressions.scala:566, ScanOperations.scala:49-103):
    keep a record iff its ``arg`` strictly exceeds every earlier record's
    (per key). Equal values do not emit — matching the reference's
    emit-on-improvement contract (doc/Milan Operations.md:106-111).
    """
    return _stream_arg_compare(df, arg, keys, seq, maximize=True)


def stream_min_by(
    df: DataFrame,
    arg: Column | str,
    *,
    keys: Sequence[str] = (),
    seq: str = SEQ_COL,
) -> DataFrame:
    """Milan MinBy — see :func:`stream_max_by`."""
    return _stream_arg_compare(df, arg, keys, seq, maximize=False)


def scan(
    df: DataFrame,
    fold: Callable,
    *,
    initial_state,
    output_schema,
    keys: Sequence[str] = (),
    seq: str = SEQ_COL,
) -> DataFrame:
    """Milan Scan (StreamExpressions.scala:505): general user-stateful fold
    ``(state, record) -> (state, out_or_None)`` applied in arrival order per
    key; None outputs are suppressed (doc/Milan Operations.md:122-133).
    ``out`` must be a dict keyed by the output-schema field names (same
    contract as the streaming twin); records arrive as named tuples.

    Executed as hash-repartition on the key + per-partition sort +
    ``mapInPandas`` walking whole Arrow batches with a per-key state dict —
    NOT ``groupBy().applyInPandas``, which materializes one pandas frame per
    group and pays its constant costs per key (3.4× slower here at 1.5k keys,
    and worse the smaller the groups get at scale). The partition walk sees
    each key's rows contiguously and in ``seq`` order, so the fold semantics
    are identical; state is one dict entry per key resident in that partition.
    Still the UDF slow path by design — associative folds should use
    :func:`running_sum_by` / window aggregates, which the reference itself
    special-cases "because many compilation targets support these higher-level
    operations" (doc/Milan Operations.md:134-140).
    """
    import pandas as pd

    from pyspark.sql.types import _parse_datatype_string

    key_list = list(keys)
    out_cols = [f.name for f in _parse_datatype_string(output_schema).fields]

    def run_partition(batches):
        states: dict = {}
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                k = tuple(getattr(rec, c) for c in key_list) if key_list else ()
                state, out = fold(states.get(k, initial_state), rec)
                states[k] = state
                if out is not None:
                    rows.append(out)
            # emitted rows are final the moment they are produced — flush per
            # Arrow batch so worker memory is bounded by batch output, not
            # partition output (a high-emit fold over a large partition would
            # otherwise buffer the whole partition's result in one list)
            if rows:
                yield pd.DataFrame(rows)[out_cols]

    if key_list:
        part = df.repartition(*key_list).sortWithinPartitions(*key_list, seq)
    else:
        # unkeyed fold is inherently sequential (same as the reference's
        # single Flink task for unkeyed scans) — one ordered partition
        part = df.repartition(1).sortWithinPartitions(seq)
    return part.mapInPandas(run_partition, schema=output_schema)


def cum_fold(
    df: DataFrame,
    folds: dict[str, tuple[str, str, str | None]],
    *,
    keys: Sequence[str] = (),
    seq: str = SEQ_COL,
) -> DataFrame:
    """Physical realization of the ``cum_window`` plan node (the target of
    ``plans.rewrite.rule_scan_fold_to_window``): each recognized-associative
    state field becomes a cumulative window aggregate in arrival order —
    pure JVM window exec, one shuffle+sort per key, no Python worker.

    ``folds`` maps state-field name → (kind, arg_sql, init_sql) with
    kind ∈ {sum, max, min}. A non-identity init folds in as
    ``init ⊕ cum_agg`` (exact for associative ⊕). NULL arguments are ignored
    per SQL aggregate semantics (documented divergence from a Python fold,
    where ``s + None`` would raise).
    """
    w = _cum_window(keys, seq)
    out = {}
    for name, (kind, arg, init) in folds.items():
        a = F.expr(arg)
        agg = {"sum": F.sum, "max": F.max, "min": F.min}[kind](a).over(w)
        if init is not None and init.strip() != "0":
            combine = {"sum": lambda i, c: i + c, "max": F.greatest, "min": F.least}[kind]
            agg = combine(F.expr(init), agg)
        out[name] = agg
    return df.withColumns(out)


def last(
    df: DataFrame,
    *,
    keys: Sequence[str] = (),
    seq: str = SEQ_COL,
) -> DataFrame:
    """Milan Last (StreamExpressions.scala:719, LastOperators.scala:23,85):
    the final record per key (global when unkeyed), identified by the largest
    sequence number. A map-side-combinable ``max_by`` — unlike the reference,
    which forces the unkeyed variant onto a single task.
    """
    payload = F.max_by(F.struct(*df.columns), F.col(seq)).alias("__last")
    return df.groupBy(*keys).agg(payload).select("__last.*")
