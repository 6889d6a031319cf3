"""In-process per-record event backend — the THIRD compiler over the Node IR.

The reference compiles the same serialized program three ways: a Flink job,
an AWS deployment, and a plain in-process event handler used for embedding
and fast tests (``milan-scala-compiler/.../event/EventHandlerClassGenerator
.scala:36-80`` generates a class whose ``processRecord`` methods walk the
graph one record at a time; ``ScalaStreamCompiler.scala:18-43`` drives it).
This module is that third target for the engine's IR: :func:`compile_event`
turns a serializable plan into an :class:`EventHandler` — call
``handler.process(record)`` and get the records the plan's root emits, no
SparkSession, no job, microsecond latency.

Scalar expressions are evaluated by ``milan_spark.expr`` (the documented SQL
subset, parsed once at compile time); stateful operators replicate the
``streaming.stateful`` state machines exactly — per-key value state for
enrichment joins, accumulators for cumulative folds, strict-improvement
emission for MaxBy/MinBy — so the three backends agree on the same JSON
plan (``tests/test_event_backend.py`` pins this three-way).

Supported ops: ``external_stream`` / sources (entry points; leaf schemas
supplied by the caller), ``filter``, ``map``, ``add_fields``, ``union``,
``left/full/left_inner_enrichment_join``, ``cum_window``,
``running_sum_by``, ``stream_max_by`` / ``stream_min_by``, ``scan_fold``
(associative form lowered through the optimizer rule; opaque form resolved
from its ``fold_ref`` FunctionReference), and — the round-9 widening to the
reference event compiler's full aggregate surface — ``aggregate``,
``time_window_aggregate`` (tumbling/sliding, per-record refinement
emission), ``distinct``, ``last``, ``record_window``, ``asof_join``
(backward; forward rejected by name like the streaming compiler),
``relational_join`` (inner / left_semi; outer needs end-of-stream),
``left_windowed_join``, plus ``cache`` / ``checkpoint`` / ``hint`` as
pass-throughs (no lineage in-process). The aggregate set is the
reference's sum/min/max/mean/any/count/argmin/argmax
(doc/Milan Operations.md:102-118). Everything else raises a
:class:`~milan_spark.errors.MilanAnalysisError` naming the op — cycles are
rejected by name exactly like the reference's event compiler
(``EventHandlerClassGenerator.scala:23`` "Cycles are not supported").

Ordering contract: the caller's call order IS the arrival order (the
reference's processing-order-equals-arrival-order rule,
``doc/Milan Operations.md:27-51``). To reproduce the batch/streaming
backends' results, feed records in ``(seq, right-before-left)`` order — the
tie rule their state machines sort by.

Scale note: this backend is deliberately NOT the 100 TB path — it exists so
a pipeline can be embedded (a sidecar scoring one record, a unit test
running without a JVM). The same JSON plan deploys unchanged to the batch or
streaming compiler when the data outgrows one process.
"""

from __future__ import annotations

from types import SimpleNamespace
from typing import Callable, Mapping, Sequence

from milan_spark.errors import MilanAnalysisError
from milan_spark.expr import compile_expr, compile_projection
from milan_spark.operators.joins import _prefixed
from milan_spark.plans.nodes import Node, _resolve_function_ref
from milan_spark.session import SEQ_COL

_SOURCE_OPS = frozenset({"external_stream", "parquet_source", "file_source", "list_source"})

_JOIN_OPS = frozenset(
    {"left_enrichment_join", "full_enrichment_join", "left_inner_enrichment_join"}
)


def _schema_cols(spec) -> list[str]:
    if isinstance(spec, str):
        # DDL string: "a bigint, b string" (struct nesting unsupported here)
        return [part.strip().split()[0] for part in spec.split(",") if part.strip()]
    return list(spec)


class _Op:
    """One compiled operator: ``step(input_idx, record_dict) -> [records]``."""

    def __init__(self, columns: list[str], step: Callable[[int, dict], list[dict]]):
        self.columns = columns
        self.step = step


def _identity_op(columns: list[str]) -> _Op:
    return _Op(columns, lambda idx, rec: [rec])


def _compile_filter(n: Node, ins: list[_Op]) -> _Op:
    cond = compile_expr(n.params["condition"])
    return _Op(ins[0].columns, lambda idx, rec: [rec] if cond(rec) is True else [])


def _compile_map(n: Node, ins: list[_Op]) -> _Op:
    in_cols = ins[0].columns
    items: list[tuple[str, Callable]] = []
    for text in n.params["exprs"]:
        if text.strip() == "*":
            items.extend((c, (lambda env, c=c: env[c])) for c in in_cols)
            continue
        alias, fn = compile_projection(text)
        if alias is None:
            raise MilanAnalysisError(
                f"map [{n.node_id}]: computed column {text!r} needs an "
                "explicit AS alias on the event backend"
            )
        items.append((alias, fn))
    cols = [a for a, _ in items]
    return _Op(cols, lambda idx, rec: [{a: fn(rec) for a, fn in items}])


def _compile_add_fields(n: Node, ins: list[_Op]) -> _Op:
    in_cols = ins[0].columns
    fields = [(name, compile_expr(e)) for name, e in n.params["fields"].items()]
    cols = list(in_cols)
    for name, _ in fields:
        if name not in cols:
            cols.append(name)

    def step(idx, rec):
        out = dict(rec)
        for name, fn in fields:
            out[name] = fn(out)  # withColumn semantics: later fields see earlier
        return [out]

    return _Op(cols, step)


def _null_or_nan(v) -> bool:
    return v is None or (isinstance(v, float) and v != v)


def _compile_join(n: Node, ins: list[_Op]) -> _Op:
    p = n.params
    if p.get("residual"):
        raise MilanAnalysisError(
            f"{n.op} [{n.node_id}]: residual conditions have no event-backend "
            "realization; evaluate on the batch/streaming compilers"
        )
    left_on = list(p["left_on"])
    right_on = list(p["right_on"])
    lcols, rcols = ins[0].columns, ins[1].columns
    rename = _prefixed(lcols, rcols, p.get("right_prefix", "r_"))
    out_cols = list(lcols) + [rename[c] for c in rcols]
    lkey, rkey = set(left_on), set(right_on)

    def emit(key: tuple, l: dict | None, r: dict | None) -> dict:
        out = {}
        for c in lcols:
            if c in lkey:
                out[c] = key[left_on.index(c)]
            else:
                out[c] = None if l is None else l[c]
        for c in rcols:
            name = rename[c]
            if c in rkey:
                out[name] = key[right_on.index(c)]
            else:
                out[name] = None if r is None else r[c]
        return out

    state: dict[tuple, list] = {}

    if n.op == "left_enrichment_join":
        def step(idx, rec):
            key = (
                tuple(rec[c] for c in left_on) if idx == 0
                else tuple(rec[c] for c in right_on)
            )
            if idx == 1:  # right arrival updates state, emits nothing
                state[key] = [rec]
                return []
            st = state.get(key)
            return [emit(key, rec, st[0] if st else None)]
    elif n.op == "full_enrichment_join":
        def step(idx, rec):
            key = (
                tuple(rec[c] for c in left_on) if idx == 0
                else tuple(rec[c] for c in right_on)
            )
            st = state.setdefault(key, [None, None])
            st[idx] = rec
            return [emit(key, st[0], st[1])]
    else:  # left_inner_enrichment_join: buffer lefts until the first right
        def step(idx, rec):
            if idx == 0:
                key = tuple(rec[c] for c in left_on)
                st = state.setdefault(key, [None, []])
                if st[0] is not None:
                    return [emit(key, rec, st[0])]
                st[1].append(rec)
                return []
            key = tuple(rec[c] for c in right_on)
            st = state.setdefault(key, [None, []])
            st[0] = rec
            buffered, st[1] = st[1], []
            return [emit(key, l, rec) for l in buffered]

    return _Op(out_cols, step)


# init ⊕ cum, matching the batch realization (operators.scans.cum_fold):
# SQL + propagates NULL; greatest/least SKIP NULLs
_CUM_INIT_COMBINE = {
    "sum": lambda i, c: None if i is None or c is None else i + c,
    "max": lambda i, c: c if i is None else (i if c is None else max(i, c)),
    "min": lambda i, c: c if i is None else (i if c is None else min(i, c)),
}


def _compile_cum(n: Node, ins: list[_Op], folds: dict[str, tuple[str, str, str | None]], keys: list[str]) -> _Op:
    """Shared core of cum_window / running_sum_by: per-key accumulators with
    SQL null-skipping; a non-identity init folds in post-scan as init ⊕ cum
    (bit-matching the batch window realization and the streaming fold)."""
    in_cols = ins[0].columns
    names = list(folds)
    compiled = {
        # identity init ("0"/None) skips the combine entirely — the same
        # COMPILE-time test the batch realization applies to the init SQL
        name: (
            kind,
            compile_expr(arg),
            compile_expr(init) if (init is not None and init.strip() != "0") else None,
        )
        for name, (kind, arg, init) in folds.items()
    }
    cols = list(in_cols) + [nm for nm in names if nm not in in_cols]
    state: dict[tuple, list] = {}

    def step(idx, rec):
        key = tuple(rec[c] for c in keys)
        acc = state.setdefault(key, [None] * len(names))
        out = dict(rec)
        for i, name in enumerate(names):
            kind, argfn, initfn = compiled[name]
            v = argfn(rec)
            if not _null_or_nan(v):
                cur = acc[i]
                if cur is None:
                    acc[i] = v
                elif kind == "sum":
                    acc[i] = cur + v
                elif kind == "max":
                    acc[i] = max(cur, v)
                else:
                    acc[i] = min(cur, v)
            val = acc[i]
            if initfn is not None:
                val = _CUM_INIT_COMBINE[kind](initfn(rec), val)
            out[name] = val
        return [out]

    return _Op(cols, step)


def _compile_arg_compare(n: Node, ins: list[_Op], maximize: bool) -> _Op:
    argfn = compile_expr(n.params["arg"])
    keys = list(n.params.get("keys", []))
    best: dict[tuple, object] = {}

    def step(idx, rec):
        v = argfn(rec)
        if _null_or_nan(v):
            return []
        key = tuple(rec[c] for c in keys)
        cur = best.get(key)
        if cur is None or (v > cur if maximize else v < cur):
            best[key] = v
            return [dict(rec)]
        return []

    return _Op(ins[0].columns, step)


# ---------------------------------------------------------------------------
# Aggregate machinery shared by aggregate / time windows / record windows.
# The reference's event handler evaluates its aggregate set (sum/min/max/
# mean/any/count/argmin/argmax — doc/Milan Operations.md:102-118) per record;
# these accumulators replicate the matching Spark functions' null discipline
# (nulls skipped, count(*) counts all, avg = exact-sum double division,
# min_by/max_by skip null ordering keys, first max wins).


def _split_top_level(text: str) -> list[str]:
    parts, depth, buf, quote = [], 0, [], None
    for ch in text:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    if buf:
        parts.append("".join(buf))
    return [p.strip() for p in parts]


def _ord_lt(a, b) -> bool:
    """Spark ordering for aggregate comparisons: NaN sorts ABOVE every
    value (TypeUtils.getInterpretedOrdering), so min skips past it and max
    prefers it — unlike raw Python float compares where NaN is unordered."""
    a_nan = isinstance(a, float) and a != a
    b_nan = isinstance(b, float) and b != b
    if a_nan:
        return False
    if b_nan:
        return True
    return a < b


class _Acc:
    """One aggregate accumulator; update(rec) then value()."""

    __slots__ = ("kind", "fns", "state", "n", "seen")

    def __init__(self, kind: str, fns):
        self.kind = kind
        self.fns = fns
        self.state = None
        self.n = 0
        self.seen = False

    def update(self, rec) -> None:
        kind = self.kind
        if kind == "count_star":
            self.n += 1
            return
        v = self.fns[0](rec)
        if kind in ("min_by", "max_by"):
            o = self.fns[1](rec)
            if o is None:
                return
            if not self.seen or (
                _ord_lt(self.state[0], o) if kind == "max_by" else _ord_lt(o, self.state[0])
            ):
                self.state = (o, v)
                self.seen = True
            return
        if v is None:
            return
        if kind == "count":
            self.n += 1
        elif kind == "sum":
            self.state = v if not self.seen else self.state + v
            self.seen = True
        elif kind == "avg":
            self.state = v if not self.seen else self.state + v
            self.n += 1
            self.seen = True
        elif kind == "min":
            if not self.seen or _ord_lt(v, self.state):
                self.state = v
            self.seen = True
        elif kind == "max":
            if not self.seen or _ord_lt(self.state, v):
                self.state = v
            self.seen = True
        elif kind == "any":
            self.state = bool(v) if not self.seen else (self.state or bool(v))
            self.seen = True

    def value(self):
        if self.kind in ("count", "count_star"):
            return self.n
        if self.kind == "avg":
            return None if not self.seen else self.state / self.n
        if self.kind in ("min_by", "max_by"):
            return self.state[1] if self.seen else None
        return self.state if self.seen else None


_AGG_KINDS = {
    "sum": ("sum", 1), "count": ("count", 1), "min": ("min", 1),
    "max": ("max", 1), "avg": ("avg", 1), "mean": ("avg", 1),
    "any": ("any", 1), "bool_or": ("any", 1),
    "min_by": ("min_by", 2), "max_by": ("max_by", 2),
}


def _parse_agg(text: str, node_id: str):
    """``sum(expr)``-style aggregate → factory producing fresh :class:`_Acc`."""
    t = text.strip()
    lp = t.find("(")
    name = t[:lp].strip().lower() if lp > 0 else ""
    if lp <= 0 or not t.endswith(")") or name not in _AGG_KINDS:
        raise MilanAnalysisError(
            f"aggregate [{node_id}]: {text!r} is not in the event backend's "
            f"aggregate subset (supported: {sorted(_AGG_KINDS)}, count(*))"
        )
    kind, arity = _AGG_KINDS[name]
    inner = t[lp + 1 : -1].strip()
    if name == "count" and inner == "*":
        return lambda: _Acc("count_star", ())
    args = _split_top_level(inner)
    if len(args) != arity:
        raise MilanAnalysisError(
            f"aggregate [{node_id}]: {text!r} takes {arity} argument(s)"
        )
    fns = tuple(compile_expr(a) for a in args)
    return lambda: _Acc(kind, fns)


_IDENT_RE = None


def _key_items(keys, node_id: str):
    """Group-key exprs → (output name, fn). Bare identifiers and ``expr AS
    alias`` only — a computed key without an alias would silently take
    Spark's auto-generated name, so it is rejected by name instead."""
    global _IDENT_RE
    if _IDENT_RE is None:
        import re

        _IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
    items = []
    for k in keys:
        alias, fn = compile_projection(k)
        if alias is None and not _IDENT_RE.match(k.strip()):
            raise MilanAnalysisError(
                f"aggregate [{node_id}]: computed group key {k!r} needs an "
                "explicit AS alias on the event backend"
            )
        items.append((alias or k.strip(), fn))
    return items


def _compile_aggregate(n: Node, ins: list[_Op]) -> _Op:
    """Milan Aggregate: emit the group's refined row on EVERY record — the
    reference event handler's cadence (doc/Milan Operations.md:96-100; the
    streaming backend's update mode is the per-microbatch relaxation of the
    same semantics). The final emission per group equals the batch result."""
    p = n.params
    key_items = _key_items(list(p.get("keys", [])), n.node_id)
    agg_items = [(a, _parse_agg(e, n.node_id)) for a, e in p["aggs"].items()]
    cols = [name for name, _ in key_items] + [a for a, _ in agg_items]
    state: dict[tuple, list] = {}

    def step(idx, rec):
        kv = tuple(fn(rec) for _, fn in key_items)
        accs = state.get(kv)
        if accs is None:
            accs = state[kv] = [mk() for _, mk in agg_items]
        out = {name: v for (name, _), v in zip(key_items, kv)}
        for (alias, _), acc in zip(agg_items, accs):
            acc.update(rec)
            out[alias] = acc.value()
        return [out]

    return _Op(cols, step)


def _interval_us(text: str, node_id: str) -> int:
    """Fixed-length interval string → microseconds (month/year intervals
    have no fixed length; rejected by name like the streaming backend's
    unsupported ops)."""
    units = {
        "microsecond": 1, "millisecond": 1_000, "second": 1_000_000,
        "minute": 60_000_000, "hour": 3_600_000_000, "day": 86_400_000_000,
        "week": 604_800_000_000,
    }
    total, matched = 0, False
    parts = text.strip().lower().replace("interval", "").split()
    i = 0
    while i < len(parts):
        try:
            qty = int(parts[i])
            unit = parts[i + 1].rstrip("s")
        except (ValueError, IndexError):
            raise MilanAnalysisError(
                f"time window [{node_id}]: cannot parse interval {text!r}"
            ) from None
        if unit not in units:
            raise MilanAnalysisError(
                f"time window [{node_id}]: unit {unit!r} is not fixed-length "
                f"(supported: {sorted(units)})"
            )
        total += qty * units[unit]
        matched = True
        i += 2
    if not matched or total <= 0:
        raise MilanAnalysisError(
            f"time window [{node_id}]: interval {text!r} must be positive"
        )
    return total


_EPOCH = None


def _ts_us(dt) -> int:
    global _EPOCH
    if _EPOCH is None:
        from datetime import datetime

        _EPOCH = datetime(1970, 1, 1)
    d = dt.replace(tzinfo=None) if getattr(dt, "tzinfo", None) is not None else dt
    delta = d - _EPOCH
    return (delta.days * 86_400_000_000 + delta.seconds * 1_000_000 + delta.microseconds)


def _us_ts(us: int):
    from datetime import timedelta

    return _EPOCH + timedelta(microseconds=us)


def _compile_time_window(n: Node, ins: list[_Op]) -> _Op:
    """Tumbling/sliding window aggregate with per-record refinement emission
    (the reference's Aggregate-over-TumblingWindow cadence). Window
    assignment replicates Catalyst's TimeWindowing rule exactly:
    lastStart = t − ((t − offset + slide) mod slide), a record belongs to
    every window with start ≤ t < start + size — so the session-UTC
    datetimes round-trip bit-identically against the batch plan."""
    p = n.params
    ts_col = p["ts"]
    size = _interval_us(p["size"], n.node_id)
    slide = _interval_us(p.get("slide") or p["size"], n.node_id)
    offset = _interval_us(p["offset"], n.node_id) if p.get("offset") else 0
    key_items = _key_items(list(p.get("keys", [])), n.node_id)
    agg_items = [(a, _parse_agg(e, n.node_id)) for a, e in p["aggs"].items()]
    cols = ["window_start"] + [name for name, _ in key_items] + [a for a, _ in agg_items]
    state: dict[tuple, list] = {}
    n_windows = -(-size // slide)  # ceil

    def step(idx, rec):
        dt = rec.get(ts_col)
        if dt is None:
            return []  # null window group: unobservable refinement, skip
        t = _ts_us(dt)
        kv = tuple(fn(rec) for _, fn in key_items)
        last_start = t - ((t - offset + slide) % slide)
        out = []
        for i in range(n_windows):
            start = last_start - i * slide
            if not (start <= t < start + size):
                continue
            gkey = (start, *kv)
            accs = state.get(gkey)
            if accs is None:
                accs = state[gkey] = [mk() for _, mk in agg_items]
            row = {"window_start": _us_ts(start)}
            row.update({name: v for (name, _), v in zip(key_items, kv)})
            for (alias, _), acc in zip(agg_items, accs):
                acc.update(rec)
                row[alias] = acc.value()
            out.append(row)
        return out

    return _Op(cols, step)


def _compile_distinct(n: Node, ins: list[_Op]) -> _Op:
    """First arrival per (subset-)key survives — the streaming
    DropDuplicates rule; with subset=None it is order-insensitive and equals
    the batch distinct exactly."""
    cols = ins[0].columns
    key_cols = list(n.params.get("subset") or cols)
    seen: set = set()

    def step(idx, rec):
        key = tuple(rec[c] for c in key_cols)
        if key in seen:
            return []
        seen.add(key)
        return [dict(rec)]

    return _Op(list(cols), step)


def _compile_last(n: Node, ins: list[_Op]) -> _Op:
    """Milan Last: per-key latest record by seq; emits the replacement as it
    happens (update cadence), so the final emission per key IS the batch
    result. Arrival-order tie rule: a later arrival with an equal seq wins,
    matching the streaming complete-mode snapshot."""
    p = n.params
    keys = list(p.get("keys", []))
    seq = p.get("seq", "__seq")
    state: dict[tuple, object] = {}

    def step(idx, rec):
        key = tuple(rec[c] for c in keys)
        cur = state.get(key)
        if cur is not None and _ord_lt(rec[seq], cur[seq]):
            return []
        state[key] = dict(rec)
        return [dict(rec)]

    return _Op(list(ins[0].columns), step)


def _compile_record_window(n: Node, ins: list[_Op]) -> _Op:
    """SlidingRecordWindow: trailing-N per-key frame — the reference keeps a
    per-key priority queue (RecordWindowGenerator.scala:19); here a plain
    bounded deque, aggregates re-folded over ≤ N rows per record."""
    from collections import deque

    p = n.params
    keys = list(p.get("keys", []))
    size = int(p["n"])
    agg_items = [(a, _parse_agg(e, n.node_id)) for a, e in p["aggs"].items()]
    in_cols = ins[0].columns
    cols = list(in_cols) + [a for a, _ in agg_items if a not in in_cols]
    state: dict[tuple, deque] = {}

    def step(idx, rec):
        key = tuple(rec[c] for c in keys)
        buf = state.get(key)
        if buf is None:
            buf = state[key] = deque(maxlen=size)
        buf.append(dict(rec))
        out = dict(rec)
        for alias, mk in agg_items:
            acc = mk()
            for r in buf:
                acc.update(r)
            out[alias] = acc.value()
        return [out]

    return _Op(cols, step)


def _compile_relational_join(n: Node, ins: list[_Op]) -> _Op:
    """Stream-stream equi-join, per-record: both sides buffer by key; each
    arrival pairs with everything buffered on the other side, so the
    emission multiset equals the batch join. left_semi emits each left
    exactly once when its key is (or becomes) matched — the streaming
    backend's no-eviction-staging rule. Outer joins need end-of-stream
    knowledge and are rejected by name."""
    p = n.params
    if p.get("time_condition"):
        raise MilanAnalysisError(
            f"relational_join [{n.node_id}]: time_condition has no "
            "event-backend realization; use the batch/streaming compilers"
        )
    how = p.get("how", "inner")
    on = list(p["on"])
    lcols, rcols = ins[0].columns, ins[1].columns
    if how == "inner":
        l_rest = [c for c in lcols if c not in on]
        r_rest = [c for c in rcols if c not in on]
        dup = set(l_rest) & set(r_rest)
        if dup:
            raise MilanAnalysisError(
                f"relational_join [{n.node_id}]: ambiguous non-key columns "
                f"{sorted(dup)} on both sides; project/rename first"
            )
        out_cols = on + l_rest + r_rest
        lefts: dict[tuple, list] = {}
        rights: dict[tuple, list] = {}

        def emit(key, l, r):
            out = dict(zip(on, key))
            out.update({c: l[c] for c in l_rest})
            out.update({c: r[c] for c in r_rest})
            return out

        def step(idx, rec):
            key = tuple(rec[c] for c in on)
            if idx == 0:
                lefts.setdefault(key, []).append(dict(rec))
                return [emit(key, rec, r) for r in rights.get(key, ())]
            rights.setdefault(key, []).append(dict(rec))
            return [emit(key, l, rec) for l in lefts.get(key, ())]

        return _Op(out_cols, step)
    if how == "left_semi":
        matched: set = set()
        pending: dict[tuple, list] = {}

        def step(idx, rec):
            key = tuple(rec[c] for c in on)
            if idx == 0:
                if key in matched:
                    return [dict(rec)]
                pending.setdefault(key, []).append(dict(rec))
                return []
            if key in matched:
                return []
            matched.add(key)
            return pending.pop(key, [])

        return _Op(list(lcols), step)
    raise MilanAnalysisError(
        f"relational_join [{n.node_id}]: how={how!r} has no event-backend "
        "realization (supported: inner, left_semi — outer joins need "
        "end-of-stream knowledge)"
    )


def _compile_asof(n: Node, ins: list[_Op]) -> _Op:
    """Backward as-of: rights update per-key latest state, each left pairs
    with the latest right at-or-before it (the caller feeds in ord order,
    rights first on ties — the documented arrival contract); tolerance
    nulls the right payload, key columns stay populated from the key, the
    batch _pair_output rule. Forward needs future rights; rejected by name
    exactly like the streaming compiler."""
    p = n.params
    if p.get("direction", "backward") != "backward":
        raise MilanAnalysisError(
            f"asof_join [{n.node_id}]: direction='forward' has no "
            "event-backend realization (future rights are unseen); use the "
            "batch compiler"
        )
    left_on, right_on = list(p["left_on"]), list(p["right_on"])
    left_ord, right_ord = p["left_ord"], p["right_ord"]
    tol = p.get("tolerance")
    lcols, rcols = ins[0].columns, ins[1].columns
    rename = _prefixed(lcols, rcols, p.get("right_prefix", "r_"))
    out_cols = list(lcols) + [rename[c] for c in rcols]
    rkey = set(right_on)
    state: dict[tuple, dict] = {}

    def step(idx, rec):
        if idx == 1:
            state[tuple(rec[c] for c in right_on)] = dict(rec)
            return []
        key = tuple(rec[c] for c in left_on)
        r = state.get(key)
        if r is not None and tol is not None and (rec[left_ord] - r[right_ord]) > tol:
            r = None
        out = dict(rec)
        for c in rcols:
            if c in rkey:
                out[rename[c]] = key[right_on.index(c)]
            else:
                out[rename[c]] = None if r is None else r[c]
        return [out]

    return _Op(out_cols, step)


_WJ_KINDS = frozenset({"sum", "count", "count_star", "min", "max"})


def _compile_left_windowed(n: Node, ins: list[_Op]) -> _Op:
    """LeftWindowedJoin + apply, per-record: rights fold into per-key
    cumulative accumulators; each left emits its row plus the aggregates
    over rights arrived at-or-before it (rights first on seq ties — the
    arrival contract shared with the other two backends)."""
    p = n.params
    keys = list(p["left_on"])
    right_on = list(p["right_on"])
    agg_items = []
    for alias, e in p["aggs"].items():
        mk = _parse_agg(e, n.node_id)
        if mk().kind not in _WJ_KINDS:
            raise MilanAnalysisError(
                f"left_windowed_join [{n.node_id}]: aggregate {e!r} outside "
                "the serializable subset (sum/count/min/max)"
            )
        agg_items.append((alias, mk))
    lcols = ins[0].columns
    out_cols = list(lcols) + [a for a, _ in agg_items if a not in lcols]
    state: dict[tuple, list] = {}

    def step(idx, rec):
        if idx == 1:
            key = tuple(rec[c] for c in right_on)
            accs = state.get(key)
            if accs is None:
                accs = state[key] = [mk() for _, mk in agg_items]
            for acc in accs:
                acc.update(rec)
            return []
        key = tuple(rec[c] for c in keys)
        accs = state.get(key)
        out = dict(rec)
        for i, (alias, mk) in enumerate(agg_items):
            out[alias] = accs[i].value() if accs is not None else mk().value()
        return [out]

    return _Op(out_cols, step)


def _compile_scan_ref(n: Node, ins: list[_Op]) -> _Op:
    p = n.params
    fold = _resolve_function_ref(p["fold_ref"], n.node_id)
    keys = list(p.get("keys", []))
    out_cols = _schema_cols(p["output_schema"])
    init = p.get("initial_state")
    state: dict[tuple, object] = {}

    def step(idx, rec):
        key = tuple(rec[c] for c in keys)
        st, out = fold(state.get(key, init), SimpleNamespace(**rec))
        state[key] = st
        return [dict(out)] if out is not None else []

    return _Op(out_cols, step)


class EventHandler:
    """Push-based per-record executor over a compiled plan.

    ``process(record, stream=None)`` injects one record (a mapping of column
    name → value) at the named entry stream and returns the list of records
    the plan root emits for it, as dicts in ``columns`` order. ``stream`` may
    be an ``external_stream`` id, a source node's id, or a source path; it is
    optional when the plan has exactly one entry.
    """

    def __init__(self, root_op: _Op, entries: dict[str, str],
                 parents: dict[str, list[tuple[str, int]]],
                 ops: dict[str, _Op], root_id: str):
        self._root = root_op
        self._entries = entries
        self._parents = parents
        self._ops = ops
        self._root_id = root_id

    @property
    def columns(self) -> list[str]:
        return list(self._root.columns)

    def entry_streams(self) -> list[str]:
        return sorted(self._entries)

    def process(self, record: Mapping, stream: str | None = None) -> list[dict]:
        if stream is None:
            ids = set(self._entries.values())
            if len(ids) != 1:
                raise MilanAnalysisError(
                    f"plan has {len(ids)} entry streams {self.entry_streams()}; "
                    "pass stream=..."
                )
            nid = next(iter(ids))
        else:
            try:
                nid = self._entries[stream]
            except KeyError:
                raise MilanAnalysisError(
                    f"unknown entry stream {stream!r}; plan entries: "
                    f"{self.entry_streams()}"
                ) from None
        out: list[dict] = []
        self._pump(nid, dict(record), out)
        return out

    def process_many(self, records) -> list[dict]:
        """Drive ``(stream, record)`` pairs (or bare records for single-entry
        plans) in order; returns all emitted records."""
        out: list[dict] = []
        for item in records:
            if isinstance(item, tuple) and len(item) == 2 and isinstance(item[0], str):
                out.extend(self.process(item[1], stream=item[0]))
            else:
                out.extend(self.process(item))
        return out

    def _pump(self, nid: str, rec: dict, out: list[dict]) -> None:
        if nid == self._root_id:
            out.append(rec)
        for parent_id, idx in self._parents.get(nid, ()):
            for emitted in self._ops[parent_id].step(idx, rec):
                self._pump(parent_id, emitted, out)


def compile_event(
    node: Node,
    *,
    schemas: Mapping[str, Sequence[str] | str] | None = None,
) -> EventHandler:
    """Compile a serializable plan to an :class:`EventHandler`.

    ``schemas`` provides each entry point's column list (or DDL string),
    keyed by ``external_stream`` id, source node id, or source path — the
    caller-supplied half the other two backends read from file metadata.
    """
    schemas = dict(schemas or {})
    ops: dict[str, _Op] = {}
    parents: dict[str, list[tuple[str, int]]] = {}
    entries: dict[str, str] = {}

    def leaf_schema(n: Node) -> list[str]:
        for key in (
            n.params.get("stream_id"), n.node_id, n.params.get("path"),
        ):
            if key is not None and key in schemas:
                return _schema_cols(schemas[key])
        if n.op == "list_source" and n.params.get("schema"):
            seq = [SEQ_COL] if n.params.get("with_seq") else []
            return _schema_cols(n.params["schema"]) + seq
        raise MilanAnalysisError(
            f"{n.op} [{n.node_id}]: no schema provided for this entry; pass "
            "schemas={stream_id_or_node_id_or_path: [columns...]}"
        )

    def build(n: Node) -> _Op:
        if n.node_id in ops:
            return ops[n.node_id]
        if n.op in _SOURCE_OPS:
            op = _identity_op(leaf_schema(n))
            for label in (n.params.get("stream_id"), n.node_id, n.params.get("path")):
                if label is not None:
                    entries[label] = n.node_id
        elif n.op == "cycle" or n.op == "cycle_ref":
            # the reference's event compiler rejects cycles by name too
            # (EventHandlerClassGenerator.scala:23)
            raise MilanAnalysisError(
                f"{n.op} [{n.node_id}]: cycles are not supported by the event "
                "backend; compile with plans.nodes.compile_node (batch)"
            )
        else:
            ins = [build(i) for i in n.inputs]
            for idx, child in enumerate(n.inputs):
                parents.setdefault(child.node_id, []).append((n.node_id, idx))
            op = _build_op(n, ins)
        ops[n.node_id] = op
        return op

    def _build_op(n: Node, ins: list[_Op]) -> _Op:
        p = n.params
        if n.op == "filter":
            return _compile_filter(n, ins)
        if n.op == "map":
            return _compile_map(n, ins)
        if n.op == "add_fields":
            return _compile_add_fields(n, ins)
        if n.op == "union":
            cols = ins[0].columns
            return _Op(list(cols), lambda idx, rec: [{c: rec[c] for c in cols}])
        if n.op in _JOIN_OPS:
            return _compile_join(n, ins)
        if n.op == "cum_window":
            return _compile_cum(
                n, ins,
                {name: (s["kind"], s["arg"], s.get("init")) for name, s in p["cols"].items()},
                list(p.get("keys", [])),
            )
        if n.op == "running_sum_by":
            return _compile_cum(
                n, ins,
                {p.get("alias", "running_sum"): ("sum", p["arg"], None)},
                list(p.get("keys", [])),
            )
        if n.op in ("stream_max_by", "stream_min_by"):
            return _compile_arg_compare(n, ins, maximize=(n.op == "stream_max_by"))
        if n.op == "aggregate":
            return _compile_aggregate(n, ins)
        if n.op == "time_window_aggregate":
            return _compile_time_window(n, ins)
        if n.op == "distinct":
            return _compile_distinct(n, ins)
        if n.op == "last":
            return _compile_last(n, ins)
        if n.op == "record_window":
            return _compile_record_window(n, ins)
        if n.op in ("cache", "checkpoint", "hint"):
            # in-process: no lineage, no state store — pass through
            return _identity_op(list(ins[0].columns))
        if n.op == "relational_join":
            return _compile_relational_join(n, ins)
        if n.op == "asof_join":
            return _compile_asof(n, ins)
        if n.op == "left_windowed_join":
            return _compile_left_windowed(n, ins)
        if n.op == "scan_fold":
            if p.get("fold_ref"):
                return _compile_scan_ref(n, ins)
            from milan_spark.plans.rewrite import rule_scan_fold_to_window

            # associative form: same lowering the other two backends use
            # (map? -> filter? -> cum_window over the ORIGINAL input node);
            # the chain bottoms out at the already-compiled input op, found
            # by object identity
            lowered = rule_scan_fold_to_window(n)
            orig_input = n.inputs[0]
            chain: list[Node] = []
            m = lowered
            while m is not orig_input:
                chain.append(m)
                m = m.inputs[0]
            chain.reverse()  # bottom-up: cum_window, then filter/map if any
            sub_ops: list[_Op] = []
            cur = ins[0]
            for m in chain:
                cur = _build_op(m, [cur])
                sub_ops.append(cur)

            def step(idx, rec, _subs=sub_ops):
                recs = [rec]
                for op in _subs:
                    recs = [r2 for r in recs for r2 in op.step(0, r)]
                return recs

            return _Op(cur.columns, step)
        raise MilanAnalysisError(
            f"op {n.op!r} [{n.node_id}] has no event-backend realization; "
            "compile with the batch or streaming compiler"
        )

    root_op = build(node)
    return EventHandler(root_op, entries, parents, ops, node.node_id)
