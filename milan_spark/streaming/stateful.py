"""Stateful per-record streaming operators (SURVEY.md §2.3, §2.6).

These are the operators whose reference implementations are Flink keyed
CoProcessFunctions / ProcessFunctions — the part of the engine Catalyst has no
built-in for. Each becomes an ``applyInPandasWithState`` state machine over a
key-grouped stream:

- :func:`left_enrichment_join`  — ``flink/runtime/LeftJoinKeyedCoProcessFunction.scala:41-80``
  (ValueState lastRightValue; left arrival emits (left, lastRight)).
- :func:`full_enrichment_join`  — ``flink/runtime/FullJoinKeyedCoProcessFunction.scala:43-88``
  (two ValueStates; either arrival emits (lastLeft, lastRight)).
- :func:`left_inner_enrichment_join` — ``flink/runtime/LeftInnerJoinKeyedCoProcessFunction.scala:40-103``
  (ListState buffers lefts until the first right arrives; each left emits once).
- :func:`scan` — general user fold, ``flink/runtime/ScanProcessFunction.scala:17,66``.
- :func:`windowed_agg_per_record` — the every-element window trigger,
  ``flink/runtime/RecordWrapperEveryElementTrigger.scala:15-19``.

Design: both sides are tagged and unioned into one keyed stream (the analog of
Flink ``connect().keyBy()``). Each side's rows cross into the state machine as
JSON strings (``to_json``/``from_json`` with :data:`_JSON_OPTS`), so one
machine handles arbitrary schemas. The payload stays JSON because a typed
struct payload does not survive the Arrow boundary: the other side's null
struct puts nulls in every field, pandas receives long fields as floats, and
``GroupState.update`` then stores them as null without an error. Within a
microbatch records are processed in ``(seq, side)`` order (right-before-left on
ties, matching the batch realization in ``operators.joins``); across
microbatches, arrival order *is* the order — which is precisely the reference's
contract (processing order = arrival order, doc/Milan Operations.md:27-51).

Emission is append-mode and genuinely per-record — these operators reproduce
the reference's every-element cadence exactly (not the microbatch relaxation
that windowed aggregates use).

Scale: state is partitioned by join key across executors (RocksDB/HDFS state
store), identical to the reference's keyed state distribution; the JSON
encode/decode is Arrow-batched per microbatch. At 100 TB the bottleneck is the
state store, not this wrapper — same as Flink.

State: every operator here runs as an ``applyInPandasWithState`` state
machine through one driver (:func:`_drive`) with ``GroupStateTimeout.NoTimeout``
— the ``mapGroupsWithState`` model of the Structured Streaming paper
(SIGMOD'18). A key's state is one pickled value in one binary field, the
analog of the reference's serialized ``ValueState``/``ListState``, so a
machine may hold any picklable value (decimals, timestamps and tuples come
back exact). The enrichment joins and :func:`scan` take an optional
``state_ttl_ms``: per-key state older than that reads as absent (see
:func:`_drive`).
"""

from __future__ import annotations

import json
import pickle
from typing import Callable, Iterator, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

from milan_spark.operators.joins import _normalize_on, _prefixed
from milan_spark.session import SEQ_COL


def _drive(
    df: DataFrame,
    group_cols: Sequence[str],
    process,
    out_schema: StructType | str,
    *,
    init,
    sort_by: Sequence[str],
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Run ``process(key, pdf, state) -> (state, rows)`` as a keyed
    value-state machine (``applyInPandasWithState``), append mode.

    ``pdf`` arrives sorted by ``sort_by``. ``state`` is the value the key's
    last call returned, or a fresh copy of ``init`` for a key with none; the
    returned value is pickled into the key's one binary state field. ``rows``
    (tuples or dicts, in ``out_schema`` order) are emitted. With no
    ``group_cols`` the stream is one group over a constant ``__g`` column;
    ``out_schema`` may be a DDL string.

    ``state_ttl_ms`` puts a processing-time TTL on the per-key state: the
    state carries the batch time it was last written at (an extra
    ``__written_ms`` field), and a key whose state was written more than
    that many milliseconds before the current batch reads as absent. A key
    that never arrives again keeps its entry in the store: reclaiming it
    needs a processing-time timeout, and a timeout keeps an ``availableNow``
    query running empty microbatches forever.
    """
    import pandas as pd

    if isinstance(out_schema, str):
        out_schema = StructType.fromDDL(out_schema)
    columns = out_schema.fieldNames()
    if not group_cols:
        df, group_cols = df.withColumn("__g", F.lit(1)), ["__g"]
    state_fields = [StructField("state", BinaryType(), True)]
    if state_ttl_ms is not None:
        state_fields.append(StructField("__written_ms", LongType(), True))
    init_blob = pickle.dumps(init)

    def fn(key, pdf_iter: Iterator["pd.DataFrame"], state: GroupState):
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        if sort_by:
            pdf = pdf.sort_values(list(sort_by), kind="stable")
        blob = state.get[0] if state.exists else init_blob
        if state_ttl_ms is not None:
            now = state.getCurrentProcessingTimeMs()
            if state.exists and now - state.get[1] > state_ttl_ms:
                blob = init_blob
        st, rows = process(key, pdf, pickle.loads(blob))
        blob = pickle.dumps(st)
        state.update((blob,) if state_ttl_ms is None else (blob, now))
        if rows:
            yield pd.DataFrame(rows, columns=columns)

    return df.groupBy(*group_cols).applyInPandasWithState(
        fn, out_schema, StructType(state_fields), "append", GroupStateTimeout.NoTimeout
    )


# the payload JSON both ways: Spark's default timestamp formats stop at
# milliseconds, so a side's microseconds would not survive the round trip
_JSON_OPTS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def _tagged_union(
    left: DataFrame,
    right: DataFrame,
    left_on: Sequence[str],
    right_on: Sequence[str],
    left_seq: str,
    right_seq: str,
) -> DataFrame:
    """Union both sides as (key…, ord, side, payload-JSON) — the Structured
    Streaming analog of Flink ``left.connect(right).keyBy(lk, rk)``."""
    l = left.select(
        *[F.col(c).alias(f"__key{i}") for i, c in enumerate(left_on)],
        F.col(left_seq).cast("long").alias("__ord"),
        F.lit(1).alias("__side"),
        F.to_json(F.struct(*left.columns), _JSON_OPTS).alias("__payload"),
    )
    r = right.select(
        *[F.col(c).alias(f"__key{i}") for i, c in enumerate(right_on)],
        F.col(right_seq).cast("long").alias("__ord"),
        F.lit(0).alias("__side"),
        F.to_json(F.struct(*right.columns), _JSON_OPTS).alias("__payload"),
    )
    return l.unionByName(r)


def _pair_project(
    paired: DataFrame,
    left: DataFrame,
    right: DataFrame,
    left_on: Sequence[str],
    right_on: Sequence[str],
    right_prefix: str,
    residual: Callable[[Column, Column], Column] | None,
) -> DataFrame:
    """JSON pair → flat output columns; key columns come from the partition
    key (never the possibly-null side), mirroring ``operators.joins._pair_output``."""
    lcols, rcols = list(left.columns), list(right.columns)
    lstruct = F.from_json("__l", left.schema, _JSON_OPTS)
    rstruct = F.from_json("__r", right.schema, _JSON_OPTS)
    out = paired.withColumn("__ls", lstruct).withColumn("__rs", rstruct)
    if residual is not None:
        out = out.filter(residual(F.col("__ls"), F.col("__rs")))
    rename = _prefixed(lcols, rcols, right_prefix)
    lkey = {c: f"__key{i}" for i, c in enumerate(left_on)}
    rkey = {c: f"__key{i}" for i, c in enumerate(right_on)}
    cols = [
        (F.col(lkey[c]) if c in lkey else F.col(f"__ls.{c}")).alias(c) for c in lcols
    ]
    cols += [
        (F.col(rkey[c]) if c in rkey else F.col(f"__rs.{c}")).alias(rename[c])
        for c in rcols
    ]
    return out.select(*cols)


def _run_state_machine(
    union_df: DataFrame,
    n_keys: int,
    step,
    init,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Group by key and drive ``step(state, side, payload) -> (state,
    [emitted (l_json, r_json)])`` over records in order; emits rows
    ``(key…, __l, __r)``."""
    key_cols = [f"__key{i}" for i in range(n_keys)]
    schema = union_df.schema
    out_schema = StructType(
        [schema[c] for c in key_cols]
        + [StructField("__l", StringType(), True), StructField("__r", StringType(), True)]
    )

    # right (side=0) before left on seq ties — same order as the batch
    # window realization orderBy(__ord, __side)
    def process(key, pdf, st):
        rows = []
        for side, payload in zip(pdf["__side"], pdf["__payload"]):
            st, emitted = step(st, int(side), payload)
            rows += [(*key, l, r) for l, r in emitted]
        return st, rows

    return _drive(
        union_df, key_cols, process, out_schema, init=init,
        sort_by=["__ord", "__side"], state_ttl_ms=state_ttl_ms,
    )


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
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming Milan LeftJoin: right arrivals update per-key state, each left
    arrival emits (left, lastRight-or-null), residual-gated
    (LeftJoinKeyedCoProcessFunction.scala:41-80)."""
    left_on, right_on = _normalize_on(on, left_on, right_on)
    u = _tagged_union(left, right, left_on, right_on, left_seq, right_seq)

    def step(last_r, side, payload):
        if side == 0:
            return payload, []
        return last_r, [(payload, last_r)]

    paired = _run_state_machine(u, len(left_on), step, None, state_ttl_ms)
    return _pair_project(paired, left, right, left_on, right_on, right_prefix, residual)


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
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming Milan FullJoin: either-side arrival emits
    (lastLeft, lastRight) with the arriver as its own side's latest
    (FullJoinKeyedCoProcessFunction.scala:43-88)."""
    left_on, right_on = _normalize_on(on, left_on, right_on)
    u = _tagged_union(left, right, left_on, right_on, left_seq, right_seq)

    def step(st, side, payload):
        last_l, last_r = st
        if side == 1:
            last_l = payload
        else:
            last_r = payload
        return (last_l, last_r), [(last_l, last_r)]

    paired = _run_state_machine(u, len(left_on), step, (None, None), state_ttl_ms)
    return _pair_project(paired, left, right, left_on, right_on, right_prefix, residual)


def left_inner_enrichment_join(
    left: DataFrame,
    right: DataFrame,
    on=None,
    *,
    left_on: Sequence[str] = (),
    right_on: Sequence[str] = (),
    left_seq: str = SEQ_COL,
    right_seq: str = SEQ_COL,
    residual: Callable[[dict, dict], bool] | None = None,
    right_prefix: str = "r_",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming Milan LeftInnerJoin: lefts buffer (a list in the key's value
    state, the reference's ListState) until the first matching right;
    afterwards lefts pair immediately with the latest right. Each left emits
    at most once (LeftInnerJoinKeyedCoProcessFunction.scala:40-103).

    Unlike the batch realization, a ``residual`` is supported here — a Python
    predicate ``(left_dict, right_dict) -> bool`` evaluated inside the state
    machine (the reference's postCondition hook,
    LeftInnerJoinKeyedCoProcessFunction.scala:55-60): a left that fails it
    against a right *stays buffered* for the next right — the genuinely
    stateful re-match semantics a post-join filter cannot express.
    """
    left_on, right_on = _normalize_on(on, left_on, right_on)
    u = _tagged_union(left, right, left_on, right_on, left_seq, right_seq)
    # payloads stay JSON strings in state; only the residual decodes them
    decode = json.loads if residual is not None else (lambda p: None)

    def fits(l, r) -> bool:
        return residual is None or bool(residual(json.loads(l), r))

    def step(st, side, payload):
        last_r, buf = st
        if side == 1:
            if last_r is not None and fits(payload, decode(last_r)):
                return st, [(payload, last_r)]
            buf.append(payload)
            return st, []
        # one residual call per buffered left: it is either emitted or kept
        r = decode(payload)
        emitted, kept = [], []
        for l in buf:
            (emitted if fits(l, r) else kept).append(l)
        return (payload, kept), [(l, payload) for l in emitted]

    paired = _run_state_machine(u, len(left_on), step, (None, []), state_ttl_ms)
    return _pair_project(paired, left, right, left_on, right_on, right_prefix, None)


def scan(
    sdf: DataFrame,
    fold: Callable,
    *,
    initial_state,
    output_schema,
    keys: Sequence[str] = (),
    seq: str = SEQ_COL,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming Milan Scan (ScanProcessFunction.scala:17,66): general user
    fold ``(state, record) -> (state, out_dict_or_None)`` in arrival order per
    key; state persists across microbatches (per-key pickled value state,
    the analog of the reference's serialized ValueState).

    Contract matches the batch ``operators.scans.scan``: records arrive as
    named tuples, state must be picklable, and each key starts from its own
    copy of ``initial_state``.
    """
    payload_cols = list(sdf.columns)

    def process(key, pdf, st):
        rows = []
        for rec in pdf[payload_cols].itertuples(index=False):
            st, out = fold(st, rec)
            if out is not None:
                rows.append(out)
        return st, rows

    return _drive(
        sdf, list(keys), process, output_schema, init=initial_state,
        sort_by=[seq], state_ttl_ms=state_ttl_ms,
    )


def record_window_apply(
    sdf: DataFrame,
    n: int,
    fn: Callable,
    *,
    output_schema,
    keys: Sequence[str] = (),
    seq: str = SEQ_COL,
) -> DataFrame:
    """Streaming Milan SlidingRecordWindow + apply (GroupingExpressions.scala:104,
    RecordWindowGenerator.scala:19): per key, hold the last ``n`` records
    (bounded list state — the reference uses a priority-queue ValueState,
    flink/types/PriorityQueueTypeInformation.scala:1) and on every arrival
    emit ``fn(window_rows)`` over the trailing window including the arrival.

    ``fn(rows: list[dict]) -> dict | None`` — rows oldest-first; None emits
    nothing for that arrival. State is bounded at n rows per key by
    construction, the property that makes record windows safe at scale. The
    buffer is pickled state, so decimal and timestamp values reach ``fn``
    exactly.
    """
    payload_cols = list(sdf.columns)

    def process(key, pdf, buf):
        rows = []
        for rec in pdf[payload_cols].to_dict("records"):
            buf.append(rec)
            if len(buf) > n:
                buf.pop(0)
            out = fn(list(buf))
            if out is not None:
                rows.append(out)
        return buf, rows

    return _drive(sdf, list(keys), process, output_schema, init=[], sort_by=[seq])


def windowed_agg_per_record(
    sdf: DataFrame,
    ts: str,
    size: str,
    aggs: dict[str, tuple[str, str]],
    *,
    keys: Sequence[str] = (),
    seq: str = SEQ_COL,
) -> DataFrame:
    """Per-record emission for windowed aggregates — the reference's
    every-element trigger (``flink/runtime/RecordWrapperEveryElementTrigger.scala:15-19``):
    instead of the per-microbatch relaxation ``streaming.windowed_agg``
    documents, EVERY arriving record updates its (window, key) aggregate
    state and emits the refined aggregate immediately, tagged with the
    record's arrival seq.

    ``aggs`` maps output column → (kind, sql_expr), kind ∈ sum|count|min|max.
    The argument expression evaluates JVM-side (whole-stage codegen) before
    the state machine and must be integer-valued: the fold is then exact,
    and the full emission history is ANSI-SQL expressible — a cumulative
    window over (window, arrival order) — so even the refinement stream is
    oracle-checkable. A null argument is skipped, as SQL aggregates skip it:
    a count stays where it was, and a sum, min or max stays null until the
    first non-null argument.

    State per (window, key) is the fixed-width aggregate struct (the same
    size the reference's window ValueState holds); emission volume is one
    row per record — exactly the reference's cadence.
    """
    import pandas as pd

    kinds = {kind for kind, _ in aggs.values()}
    if not kinds <= {"sum", "count", "min", "max"}:
        raise ValueError(f"unsupported agg kinds: {kinds - {'sum', 'count', 'min', 'max'}}")
    key_list = list(keys)
    win = F.window(F.col(ts), size)
    base = sdf.select(
        win.start.alias("window_start"),
        *[F.col(k) for k in key_list],
        F.col(seq).cast("long").alias("__seq_out"),
        *[
            F.expr(arg).cast("long").alias(f"__a_{name}")
            for name, (_kind, arg) in aggs.items()
        ],
    )
    out_schema = StructType(
        [base.schema["window_start"]]
        + [base.schema[k] for k in key_list]
        + [StructField("seq", LongType())]
        + [StructField(name, LongType()) for name in aggs]
    )

    def process(key, pdf, st):
        rows = []
        for rec in pdf.to_dict("records"):
            for name, (kind, _arg) in aggs.items():
                a, cur = rec[f"__a_{name}"], st[name]
                if pd.isna(a):  # SQL aggregates skip a null argument
                    continue
                if kind == "count":
                    st[name] = cur + 1
                elif cur is None:
                    st[name] = int(a)
                elif kind == "sum":
                    st[name] = cur + int(a)
                else:
                    st[name] = (min if kind == "min" else max)(cur, int(a))
            rows.append((*key, rec["__seq_out"], *st.values()))
        return st, rows

    init = {name: 0 if kind == "count" else None for name, (kind, _arg) in aggs.items()}
    return _drive(
        base, ["window_start", *key_list], process, out_schema, init=init,
        sort_by=["__seq_out"],
    )


def left_windowed_join_apply(
    left: DataFrame,
    right: DataFrame,
    on=None,
    *,
    fn: Callable,
    output_schema,
    window_n: int | None = None,
    left_on: Sequence[str] = (),
    right_on: Sequence[str] = (),
    left_seq: str = SEQ_COL,
    right_seq: str = SEQ_COL,
) -> DataFrame:
    """Streaming Milan LeftWindowedJoin + apply (JoinExpressions.scala:210,
    lang/JoinedWindowedStream.scala:27, FlatMapGenerator.scala:35): the right
    stream's window contents are held as per-key state; each left arrival
    emits ``fn(left_row, right_window_rows)``.

    ``fn(left: dict, rights: list[dict]) -> dict | None`` — rights
    oldest-first, only those that arrived before the left (temporal
    semantics, exactly the reference's CoProcessFunction + right-window
    state). ``window_n`` bounds the buffer to the last N right records
    (record-window flavor); None keeps the full group (the reference's
    group-window flavor — bounded instead by the keyspace, which is why the
    record-window variant is the scale path).
    """
    left_on, right_on = _normalize_on(on, left_on, right_on)
    u = _tagged_union(left, right, left_on, right_on, left_seq, right_seq)
    key_cols = [f"__key{i}" for i in range(len(left_on))]

    def process(key, pdf, buf):
        rows = []
        for side, payload in zip(pdf["__side"], pdf["__payload"]):
            if side == 0:
                buf.append(json.loads(payload))
                if window_n is not None and len(buf) > window_n:
                    buf.pop(0)
            else:
                out = fn(json.loads(payload), list(buf))
                if out is not None:
                    rows.append(out)
        return buf, rows

    return _drive(u, key_cols, process, output_schema, init=[], sort_by=["__ord", "__side"])


def streaming_heavy_hitters(
    sdf: DataFrame,
    item: str,
    *,
    capacity: int,
    n_buckets: int = 16,
) -> DataFrame:
    """Streaming hot-key detection: mergeable Misra-Gries summaries as an
    ``applyInPandasWithState`` state machine — the streaming twin of
    ``operators.heavyhitters`` (same batched-decrement kernel, same
    completeness argument).

    Items hash-partition into ``n_buckets`` state groups; each group's state
    is its MG summary (≤ ``capacity`` counters) plus the group's cumulative
    row count. Every microbatch folds the batch's value counts into the
    summary and emits a *versioned full snapshot* of the group (≤ capacity
    rows), so the latest version per bucket is always the complete current
    answer and any sink — memory, file, the MERGE upsert sink — can
    reconstruct global candidates with ``SELECT ... WHERE version = max``.

    Guarantees (per bucket b, N_b rows so far): every stored bound ``lb``
    satisfies ``true_count - N_b/(capacity+1) <= lb <= true_count``, and any
    item with GLOBAL share >= num/den survives whenever
    ``capacity + 1 > den/num`` — an item's occurrences all land in one
    bucket, so its bucket-local count equals its global count while
    N_b <= N shrinks the bound. State is O(n_buckets × capacity) total,
    independent of stream length and item cardinality — this runs forever at
    100 TB/day where a streaming groupBy(item).count() accretes state per
    distinct key.

    Output: ``bucket int, version long, item string, lb long, bucket_rows
    long`` (one row set per bucket per microbatch that touched it).
    """
    keyed = sdf.select(
        F.pmod(F.xxhash64(F.col(item).cast("string")), F.lit(n_buckets))
        .cast("int")
        .alias("__bucket"),
        F.col(item).cast("string").alias("__item"),
    ).where(F.col("__item").isNotNull())

    def process(key, pdf, st):
        version, n, counters = st
        for item, c in pdf["__item"].value_counts().items():
            counters[item] = counters.get(item, 0) + int(c)
        if len(counters) > capacity:
            delta = sorted(counters.values(), reverse=True)[capacity]
            counters = {k: c - delta for k, c in counters.items() if c > delta}
        version, n = version + 1, n + len(pdf)
        rows = [(key[0], version, item, lb, n) for item, lb in counters.items()]
        return (version, n, counters), rows

    return _drive(
        keyed, ["__bucket"], process,
        "bucket int, version long, item string, lb long, bucket_rows long",
        init=(0, 0, {}), sort_by=[],
    )


def streaming_cms(
    sdf: DataFrame,
    value_col: str,
    *,
    depth: int = 4,
    width: int = 512,
    weight: str | None = None,
) -> DataFrame:
    """Streaming count-min sketch: the point-query twin of
    :func:`streaming_heavy_hitters`, same versioned-snapshot contract. One
    state group per hash ROW (``depth`` groups); each holds its row's
    ``width`` counters. Cell indices are computed JVM-side before the state
    machine (the same affine row hashes as ``operators.sketch.cms_build``,
    so the streamed sketch equals the batch sketch of the same multiset —
    asserted in tests). Every microbatch folds the batch's cell sums in and
    emits a versioned full snapshot (≤ width rows per row-group); the latest
    version per row IS the complete current sketch, reconstructible by any
    sink. State is O(depth·width) — independent of stream length and value
    cardinality, so this runs forever at 100 TB/day.

    Output: ``r int, version long, i int, c long``.
    """
    from milan_spark.operators.sketch import _cms_fold, _cms_row_idx

    w_col = F.lit(1).cast("long") if weight is None else F.col(weight).cast("long")
    base = sdf.filter(F.col(value_col).isNotNull()).select(
        _cms_fold(F.col(value_col).cast("string")).alias("__s"), w_col.alias("__w")
    )
    cells = base.select(
        "__w",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("r"), _cms_row_idx(F.col("__s"), r, width).alias("i")
                )
                for r in range(depth)
            ])
        ).alias("__cell"),
    ).select(F.col("__cell.r").alias("__r"), F.col("__cell.i").alias("__i"), "__w")

    def process(key, pdf, st):
        version, counters = st
        for i, w in pdf.groupby("__i")["__w"].sum().items():
            counters[int(i)] = counters.get(int(i), 0) + int(w)
        version += 1
        return (version, counters), [(key[0], version, i, c) for i, c in counters.items()]

    return _drive(
        cells, ["__r"], process, "r int, version long, i int, c long",
        init=(0, {}), sort_by=[],
    )


def streaming_hll(sdf: DataFrame, value_col: str) -> DataFrame:
    """Streaming HyperLogLog: the cardinality twin of :func:`streaming_cms`,
    same versioned-snapshot contract. Register index and leading-zero rank
    are computed JVM-side (``operators.sketch.hll_registers`` expressions),
    so the state machine only max-merges: one state group per register,
    each holding a single int — state is O(m) = 64 ints FOREVER, the
    smallest state footprint of any sketch here, and the streamed register
    table equals the batch construction of the same value set (max is
    idempotent/commutative, so replays and reorderings cannot change it).

    Output: ``reg int, version long, m int`` — latest version per reg is
    the complete sketch; fold with ``operators.sketch.hll_estimate``.
    """
    from milan_spark.operators.sketch import _HLL_M, _hll_rho, _kmv_hash

    h = _kmv_hash(F.col(value_col).cast("string")) - 1
    regs = sdf.filter(F.col(value_col).isNotNull()).select(
        (h % _HLL_M).cast("int").alias("__reg"),
        _hll_rho(F.floor(h / _HLL_M).cast("long")).cast("int").alias("__rho"),
    )
    def process(key, pdf, st):
        version, m = st[0] + 1, max(st[1], int(pdf["__rho"].max()))
        return (version, m), [(key[0], version, m)]

    return _drive(
        regs, ["__reg"], process, "reg int, version long, m int", init=(0, 0), sort_by=[]
    )
