"""Temporal enrichment joins (SURVEY.md §2.3).

The reference's joins are keyed *enrichment* joins, not set-relational joins:
state machines that pair an arriving record with the latest record seen on the
other stream for the same key (doc/Milan Operations.md:27-51):

- LeftJoin   — ``flink/runtime/LeftJoinKeyedCoProcessFunction.scala:41-80``:
  a ValueState holds the last right value per key; each left arrival emits
  ``(left, lastRight)`` (lastRight may be null) gated by the residual
  postCondition.
- FullJoin   — ``flink/runtime/FullJoinKeyedCoProcessFunction.scala:43-88``:
  symmetric, two ValueStates.
- LeftInnerJoin — ``flink/runtime/LeftInnerJoinKeyedCoProcessFunction.scala:40-103``:
  left records buffer until a matching right arrives; each left emits at most
  once.

Batch realization (this module): arrival order is the ``__seq`` column; the
state-machine semantics become **one shuffle + one sort per key** using window
functions (``last(..., ignorenulls)`` over a union of both sides). This is the
plan Catalyst would pick for an as-of join and it scales: no driver loops, no
Python UDFs, AQE handles skew. Streaming realization lives in
``milan_spark.streaming.stateful``.

Join-condition decomposition (per-side pre-filters, equi-keys, residual —
``milan-scala-compiler/.../trees/JoinPreconditionExtractor.scala:7-73``,
``JoinKeyExpressionExtractor.scala:29-77``) is Catalyst-native for relational
joins; for enrichment joins the caller passes pre-filtered inputs, equi-key
column names, and an optional residual Column evaluated on the pair. Residual
uses SQL three-valued logic: a residual referencing a null right side fails →
row dropped, matching the generated null-check-post-join behavior
(``JoinPreconditionExtractor.scala:21-23``).

Non-equi (un-keyed) joins are rejected by the reference
(``ConnectedStreamsGenerator.scala:49``); here plain relational joins —
inner/left/semi/anti/theta — are available directly on DataFrames.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from milan_spark.session import SEQ_COL

_L, _R, _SIDE, _KEY, _ORD = "__l", "__r", "__side", "__key", "__ord"


def _prefixed(df_cols: Sequence[str], other_cols: Sequence[str], prefix: str) -> dict[str, str]:
    """Collision-renaming like the reference's TypeJoiner (typeutil/TypeJoiner.scala)."""
    taken = set(df_cols)
    out = {}
    for c in other_cols:
        name = c if c not in taken else f"{prefix}{c}"
        while name in taken:
            name = f"{prefix}{name}"
        out[c] = name
        taken.add(name)
    return out


def _union_sides(
    left: DataFrame,
    right: DataFrame,
    left_on: Sequence[str],
    right_on: Sequence[str],
    left_seq: str,
    right_seq: str,
    ord_cast: str | None = "long",
) -> tuple[DataFrame, list[str], list[str]]:
    lcols = [c for c in left.columns]
    rcols = [c for c in right.columns]

    def _ord(c):
        # enrichment joins order on an integer arrival sequence (cast pins
        # the type across sides); asof_join passes ord_cast=None to keep
        # fractional time axes exact
        return F.col(c).cast(ord_cast) if ord_cast else F.col(c)

    l = left.select(
        F.struct(*lcols).alias(_L),
        F.lit(None).cast(right.select(F.struct(*rcols).alias("s")).schema["s"].dataType).alias(_R),
        *[F.col(c).alias(f"{_KEY}{i}") for i, c in enumerate(left_on)],
        _ord(left_seq).alias(_ORD),
        F.lit(1).alias(_SIDE),
    )
    r = right.select(
        F.lit(None).cast(left.select(F.struct(*lcols).alias("s")).schema["s"].dataType).alias(_L),
        F.struct(*rcols).alias(_R),
        *[F.col(c).alias(f"{_KEY}{i}") for i, c in enumerate(right_on)],
        _ord(right_seq).alias(_ORD),
        F.lit(0).alias(_SIDE),
    )
    return l.unionByName(r), lcols, rcols


def _normalize_on(on, left_on, right_on):
    if on is not None:
        if isinstance(on, str):
            on = [on]
        return list(on), list(on)
    return list(left_on), list(right_on)


def _pair_output(
    joined: DataFrame,
    lcols: list[str],
    rcols: list[str],
    right_prefix: str,
    left_on: Sequence[str] = (),
    right_on: Sequence[str] = (),
) -> tuple[DataFrame, dict[str, str]]:
    # Key columns come from the state-machine partition key, never from the
    # (possibly null) side structs — the reference emits the key via
    # RecordWrapper.wrap(output, key, ...) regardless of which side is null.
    rename = _prefixed(lcols, rcols, right_prefix)
    lkey = {c: f"{_KEY}{i}" for i, c in enumerate(left_on)}
    rkey = {c: f"{_KEY}{i}" for i, c in enumerate(right_on)}
    cols = [F.col(lkey[c]).alias(c) if c in lkey else F.col(f"{_L}.{c}").alias(c) for c in lcols]
    cols += [
        F.col(rkey[c]).alias(rename[c]) if c in rkey else F.col(f"{_R}.{c}").alias(rename[c]) for c in rcols
    ]
    return joined.select(*cols), rename


def left_enrichment_join(
    left: DataFrame,
    right: DataFrame,
    on=None,
    *,
    left_on: Sequence[str] = (),
    right_on: Sequence[str] = (),
    left_seq: str = SEQ_COL,
    right_seq: str = SEQ_COL,
    residual: Callable[[Column, Column], Column] | None = None,
    right_prefix: str = "r_",
) -> DataFrame:
    """Milan LeftJoin: each left record paired with the latest right record for
    its key that arrived at-or-before it (``right_seq <= left_seq``; ties pair
    the right first), right side null when none has arrived.

    ``residual(left_struct, right_struct)`` is the postCondition: rows where it
    is not true are dropped (LeftJoinKeyedCoProcessFunction.scala:55-56).
    Output = left columns + right columns (collisions prefixed).
    """
    left_on, right_on = _normalize_on(on, left_on, right_on)
    u, lcols, rcols = _union_sides(left, right, left_on, right_on, left_seq, right_seq)
    keys = [f"{_KEY}{i}" for i in range(len(left_on))]
    w = W.partitionBy(*keys).orderBy(_ORD, _SIDE).rowsBetween(W.unboundedPreceding, W.currentRow)
    paired = (
        u.withColumn("__last_r", F.last(_R, ignorenulls=True).over(w))
        .filter(F.col(_SIDE) == 1)
        .drop(_R)
        .withColumnRenamed("__last_r", _R)
    )
    if residual is not None:
        paired = paired.filter(residual(F.col(_L), F.col(_R)))
    out, _ = _pair_output(paired, lcols, rcols, right_prefix, left_on, right_on)
    return out


def full_enrichment_join(
    left: DataFrame,
    right: DataFrame,
    on=None,
    *,
    left_on: Sequence[str] = (),
    right_on: Sequence[str] = (),
    left_seq: str = SEQ_COL,
    right_seq: str = SEQ_COL,
    residual: Callable[[Column, Column], Column] | None = None,
    right_prefix: str = "r_",
) -> DataFrame:
    """Milan FullJoin: symmetric enrichment — every arrival on either side emits
    ``(latestLeft, latestRight)`` where the arriving record is its own side's
    latest (FullJoinKeyedCoProcessFunction.scala:43-88).
    """
    left_on, right_on = _normalize_on(on, left_on, right_on)
    u, lcols, rcols = _union_sides(left, right, left_on, right_on, left_seq, right_seq)
    keys = [f"{_KEY}{i}" for i in range(len(left_on))]
    w = W.partitionBy(*keys).orderBy(_ORD, _SIDE).rowsBetween(W.unboundedPreceding, W.currentRow)
    paired = (
        u.withColumn("__last_l", F.last(_L, ignorenulls=True).over(w))
        .withColumn("__last_r", F.last(_R, ignorenulls=True).over(w))
        .drop(_L, _R)
        .withColumnRenamed("__last_l", _L)
        .withColumnRenamed("__last_r", _R)
    )
    if residual is not None:
        paired = paired.filter(residual(F.col(_L), F.col(_R)))
    out, _ = _pair_output(paired, lcols, rcols, right_prefix, left_on, right_on)
    return out


def left_inner_enrichment_join(
    left: DataFrame,
    right: DataFrame,
    on=None,
    *,
    left_on: Sequence[str] = (),
    right_on: Sequence[str] = (),
    left_seq: str = SEQ_COL,
    right_seq: str = SEQ_COL,
    right_prefix: str = "r_",
) -> DataFrame:
    """Milan LeftInnerJoin: a left record emits exactly once — immediately with
    the latest earlier right record for its key if one exists, otherwise it
    buffers and emits with the *first* later right record; never emits if no
    right ever arrives (LeftInnerJoinKeyedCoProcessFunction.scala:40-103).

    Batch realization: pair = coalesce(latest right with seq<=left_seq,
    earliest right with seq>left_seq); drop pairs with no right.
    (Residual conditions require the streaming backend — the buffered re-match
    on arbitrary pair predicates is inherently stateful; batch callers
    pre-filter sides instead.)
    """
    left_on, right_on = _normalize_on(on, left_on, right_on)
    u, lcols, rcols = _union_sides(left, right, left_on, right_on, left_seq, right_seq)
    keys = [f"{_KEY}{i}" for i in range(len(left_on))]
    w_before = W.partitionBy(*keys).orderBy(_ORD, _SIDE).rowsBetween(W.unboundedPreceding, W.currentRow)
    w_after = W.partitionBy(*keys).orderBy(_ORD, _SIDE).rowsBetween(W.currentRow, W.unboundedFollowing)
    paired = (
        u.withColumn("__r_before", F.last(_R, ignorenulls=True).over(w_before))
        .withColumn("__r_after", F.first(_R, ignorenulls=True).over(w_after))
        .filter(F.col(_SIDE) == 1)
        .withColumn("__pair_r", F.coalesce("__r_before", "__r_after"))
        .filter(F.col("__pair_r").isNotNull())
        .drop(_R)
        .withColumnRenamed("__pair_r", _R)
    )
    out, _ = _pair_output(paired, lcols, rcols, right_prefix, left_on, right_on)
    return out


def snapshot_join(
    left: DataFrame,
    right: DataFrame,
    on=None,
    *,
    left_on: Sequence[str] = (),
    right_on: Sequence[str] = (),
    right_seq: str = SEQ_COL,
    how: str = "left",
    right_prefix: str = "r_",
    broadcast_right: bool | None = None,
) -> DataFrame:
    """Final-state enrichment join: left joined against the last-per-key
    snapshot of the right stream (``max_by(struct, seq)`` per key).

    This is the cheap batch equivalence of LeftJoin when only the final state
    matters: the snapshot is a map-side-combinable aggregate, and the join
    broadcasts when the key cardinality is small — no window sort needed.
    """
    left_on, right_on = _normalize_on(on, left_on, right_on)
    rcols = [c for c in right.columns]
    snap = right.groupBy(*[F.col(c) for c in right_on]).agg(
        F.max_by(F.struct(*[c for c in rcols if c not in right_on]), F.col(right_seq)).alias("__snap")
    )
    rename = _prefixed(left.columns, rcols, right_prefix)
    proj = [F.col(k).alias(rename[k]) for k in right_on]
    proj += [F.col(f"__snap.{c}").alias(rename[c]) for c in rcols if c not in right_on]
    snap = snap.select(*proj)
    if broadcast_right:
        snap = F.broadcast(snap)
    cond = None
    for lc, rc in zip(left_on, right_on):
        c = left[lc] == snap[rename[rc]]
        cond = c if cond is None else (cond & c)
    return left.join(snap, cond, how)


def left_windowed_join_apply(
    left: DataFrame,
    right: DataFrame,
    on=None,
    *,
    left_on: Sequence[str] = (),
    right_on: Sequence[str] = (),
    aggs: Sequence[Column] = (),
    apply_in_pandas=None,
    apply_schema=None,
    how: str = "left",
) -> DataFrame:
    """Milan LeftWindowedJoin + apply: a left record joined against the window
    contents of the right stream for its key, consumed by
    ``f(left, Iterable[right]) => out`` (lang/JoinedWindowedStream.scala:16-27,
    flink/generator/FlatMapGenerator.scala:35).

    Fast path: express ``f`` as aggregate Columns over the right group (stays
    JVM-side, map-side partial aggregation). Escape hatch: a pandas grouped-map
    over the collected right window per key (``apply_in_pandas``).
    """
    left_on, right_on = _normalize_on(on, left_on, right_on)
    if apply_in_pandas is not None:
        grouped = right.groupBy(*right_on).applyInPandas(apply_in_pandas, schema=apply_schema)
    else:
        grouped = right.groupBy(*right_on).agg(*aggs)
    cond = None
    for lc, rc in zip(left_on, right_on):
        c = left[lc] == grouped[rc]
        cond = c if cond is None else (cond & c)
    out = left.join(grouped, cond, how)
    for rc in right_on:
        if rc not in left_on:
            continue
        out = out.drop(grouped[rc])
    return out


_WJ_FUNCS = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}


def _parse_agg(expr: str) -> tuple[str, str]:
    """Split a windowed-join aggregate ``FUNC(inner)`` into (func, inner).
    The serializable subset is the four exactly-replicable cumulative folds
    — sum/count/min/max (SQL null-skipping); anything else raises by name
    (general window functions use the Column-aggs / apply_in_pandas forms)."""
    import re

    m = re.match(r"^\s*(\w+)\s*\((.*)\)\s*$", expr, re.DOTALL)
    if not m or m.group(1).lower() not in _WJ_FUNCS:
        raise ValueError(
            f"left_windowed_join aggregate {expr!r} is not serializable "
            f"(supported: {', '.join(f + '(...)' for f in _WJ_FUNCS)})"
        )
    return m.group(1).lower(), m.group(2).strip()


def left_windowed_agg_join(
    left: DataFrame,
    right: DataFrame,
    on=None,
    *,
    left_on: Sequence[str] = (),
    right_on: Sequence[str] = (),
    aggs: dict[str, str],
    left_seq: str = SEQ_COL,
    right_seq: str = SEQ_COL,
) -> DataFrame:
    """Declarative (IR-serializable) Milan LeftWindowedJoin + apply
    (lang/JoinedWindowedStream.scala:16-27): each LEFT arrival emits its row
    plus SQL aggregates over the RIGHT records for its key that arrived
    at-or-before it (``right_seq <= left_seq``, rights first on ties — the
    same arrival order as the enrichment joins and the streaming twin's
    CoProcessFunction buffer).

    Batch realization: one shuffle + one per-key sort — aggregate arguments
    are evaluated JVM-side on the right rows, NULL on left rows, and each
    aggregate is a cumulative window fold that skips NULLs per SQL
    semantics, so the left rows read off "the aggregate over rights so far"
    with zero Python. ``aggs`` maps output alias → ``func(expr)`` with func
    ∈ sum/count/min/max. Unlike :func:`left_windowed_join_apply` (whole
    right group, Column aggs) this is the per-arrival temporal flavor —
    the one the reference's streaming runtime implements.
    """
    left_on, right_on = _normalize_on(on, left_on, right_on)
    parsed = {alias: _parse_agg(e) for alias, e in aggs.items()}
    lcols = list(left.columns)

    rargs = [
        (F.lit(1) if func == "count" and inner in ("*", "1") else F.expr(inner))
        .alias(f"__wj_{alias}")
        for alias, (func, inner) in parsed.items()
    ]
    arg_types = right.select(*rargs).schema
    largs = [
        F.lit(None).cast(arg_types[f"__wj_{alias}"].dataType).alias(f"__wj_{alias}")
        for alias in parsed
    ]
    l = left.select(
        F.struct(*lcols).alias(_L),
        *[F.col(c).alias(f"{_KEY}{i}") for i, c in enumerate(left_on)],
        F.col(left_seq).cast("long").alias(_ORD),
        F.lit(1).alias(_SIDE),
        *largs,
    )
    r = right.select(
        F.lit(None).cast(l.schema[_L].dataType).alias(_L),
        *[F.col(c).alias(f"{_KEY}{i}") for i, c in enumerate(right_on)],
        F.col(right_seq).cast("long").alias(_ORD),
        F.lit(0).alias(_SIDE),
        *rargs,
    )
    keys = [f"{_KEY}{i}" for i in range(len(left_on))]
    w = (
        W.partitionBy(*keys)
        .orderBy(_ORD, _SIDE)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    u = l.unionByName(r)
    for alias, (func, _inner) in parsed.items():
        u = u.withColumn(alias, _WJ_FUNCS[func](F.col(f"__wj_{alias}")).over(w))
    out_cols = [F.col(f"{_L}.{c}").alias(c) for c in lcols] + [
        F.col(a) for a in parsed
    ]
    return u.filter(F.col(_SIDE) == 1).select(*out_cols)


def range_join(
    facts: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    *,
    bucket_width: float,
    how: str = "inner",
) -> DataFrame:
    """Interval-containment join: each fact row pairs with every range row
    whose ``[lo, hi)`` contains its value (overlapping ranges emit multiple
    pairs). Beyond the reference's equi-key joins — the classic custom
    operator Spark lacks a native physical strategy for.

    Naive Spark plans this as BroadcastNestedLoopJoin (every fact × every
    range) — quadratic, and the usual 100 TB cliff. Here each range explodes
    into the width-``bucket_width`` buckets it overlaps and each fact hashes
    to its one bucket, so Catalyst sees an ordinary hash equi-join on the
    bucket id with the exact containment check as a join-side predicate.
    Shuffle volume is |facts| + Σ(range span / width): pick ``bucket_width``
    near the median range width so each range explodes into O(1) buckets.
    Bucket arithmetic only generates candidates — containment re-checks the
    real bounds, so float bucketing cannot change results.

    Containment rides the JOIN CONDITION, not a post-join filter, so
    ``how='left'`` keeps unmatched facts null-extended (a post-join filter
    would silently turn any outer join back into inner). A fact's matching
    range always shares its bucket, so the equi-key never hides a match.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"range_join supports inner|left, got {how!r}")
    fb = facts.withColumn("__fbucket", F.floor(F.col(value_col) / F.lit(bucket_width)))
    rb = ranges.withColumn(
        "__rbucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bucket_width)),
                F.floor(F.col(hi_col) / F.lit(bucket_width)),
            )
        ),
    )
    cond = (
        (fb["__fbucket"] == rb["__rbucket"])
        & (fb[value_col] >= rb[lo_col])
        & (fb[value_col] < rb[hi_col])
    )
    # ranges are the dimension side; without the hint Catalyst can pick
    # BuildLeft off a locally-built ranges relation's unknown size stats and
    # broadcast the FACT side — exactly backwards at scale
    return fb.join(F.broadcast(rb), cond, how).drop("__fbucket", "__rbucket")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on=None,
    *,
    left_on: Sequence[str] = (),
    right_on: Sequence[str] = (),
    left_ord: str,
    right_ord: str,
    tolerance: int | None = None,
    direction: str = "backward",
    right_prefix: str = "r_",
) -> DataFrame:
    """Time-based as-of join: each left row pairs with the nearest right row
    for its key at-or-before (``backward``) or at-or-after (``forward``) its
    ``left_ord`` position, optionally within ``tolerance`` (same units as the
    ord columns); right side null otherwise. Every left row survives.

    The generalization of :func:`left_enrichment_join` from arrival sequence
    to an arbitrary numeric time axis (callers convert timestamps with
    ``F.unix_micros``). Same scale shape: ONE shuffle + ONE sort per key over
    the tagged union — never a per-row range probe. Ties on the ord pair with
    the right row (both directions). Rights sharing an (key, ord) position
    must be pre-deduplicated for determinism — enforced nowhere, documented
    here, done with ``max_by`` in the catalog query.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    left_on, right_on = _normalize_on(on, left_on, right_on)
    # ord_cast=None: fractional time axes stay exact (both ord columns must
    # share one numeric type; a long cast here would silently collapse
    # sub-integer ordering and mis-pair matches)
    u, lcols, rcols = _union_sides(
        left, right, left_on, right_on, left_ord, right_ord, ord_cast=None
    )
    keys = [f"{_KEY}{i}" for i in range(len(left_on))]
    r_ord = F.when(F.col(_SIDE) == 0, F.col(_ORD))
    if direction == "backward":
        # right sorts before left at equal ord -> equal-ts right is in frame
        w = W.partitionBy(*keys).orderBy(_ORD, _SIDE).rowsBetween(W.unboundedPreceding, W.currentRow)
        pick_r, pick_o = F.last(_R, ignorenulls=True), F.last(r_ord, ignorenulls=True)
        gap = F.col(_ORD) - F.col("__r_ord")
    else:
        w = (
            W.partitionBy(*keys)
            .orderBy(_ORD, F.desc(_SIDE))
            .rowsBetween(W.currentRow, W.unboundedFollowing)
        )
        pick_r, pick_o = F.first(_R, ignorenulls=True), F.first(r_ord, ignorenulls=True)
        gap = F.col("__r_ord") - F.col(_ORD)
    paired = (
        u.withColumn("__m_r", pick_r.over(w))
        .withColumn("__r_ord", pick_o.over(w))
        .filter(F.col(_SIDE) == 1)
        .drop(_R)
        .withColumnRenamed("__m_r", _R)
    )
    if tolerance is not None:
        paired = paired.withColumn(
            _R, F.when(gap <= F.lit(tolerance), F.col(_R))
        )
    out, _ = _pair_output(paired.drop("__r_ord"), lcols, rcols, right_prefix, left_on, right_on)
    return out
