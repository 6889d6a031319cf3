"""Three compilers, one IR — the event backend completes the reference's
architecture (EventHandlerClassGenerator.scala:36-80 / ScalaStreamCompiler.
scala:18-43 compile the same StreamCollection an in-process event handler;
TestEventApp*.scala run the same programs there and on Flink). Each test
serializes ONE plan and asserts the batch compiler, the streaming compiler,
and the per-record EventHandler produce identical results from that same
JSON text."""

from __future__ import annotations

import pytest

from milan_spark import Stream
from milan_spark.errors import MilanAnalysisError
from milan_spark.expr import MilanExprError, compile_expr
from milan_spark.plans import compile_node, compile_node_streaming, from_json, to_json
from milan_spark.plans.backend_event import compile_event
from milan_spark.plans.nodes import Node
from milan_spark.streaming import run_to_memory

EV = "/root/testdata/sf0.001/events.parquet"
EV_COLS = ["event_id", "user_id", "ts", "event_type", "value"]


def _rows(spark, order_by="event_id"):
    return [r.asDict() for r in
            spark.read.parquet(EV).orderBy(order_by).collect()]


def _key(t):
    # None-safe, type-stable total order so equal multisets sort identically
    return tuple((v is None, type(v).__name__, str(v)) for v in t)


def _as_tuples(dicts, cols):
    return sorted((tuple(d[c] for c in cols) for d in dicts), key=_key)


def _batch(spark, text, cols):
    df = compile_node(from_json(text), spark)
    assert df.columns == cols
    return sorted((tuple(r[c] for c in cols) for r in df.collect()), key=_key)


def _stream(spark, text, name, cols, output_mode="append"):
    mem = run_to_memory(compile_node_streaming(from_json(text), spark), name,
                        output_mode=output_mode)
    return sorted((tuple(r[c] for c in cols) for r in mem.collect()), key=_key)


def test_filter_map_three_backends(spark):
    s = (
        Stream.from_parquet(spark, EV)
        .where("event_type = 'purchase'")
        .map("event_id", "user_id",
             "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
    )
    text = to_json(s.node)
    handler = compile_event(from_json(text), schemas={EV: EV_COLS})
    ev = handler.process_many(_rows(spark))
    cols = handler.columns
    assert cols == ["event_id", "user_id", "cents"]
    got = _as_tuples(ev, cols)
    assert got == _batch(spark, text, cols)
    assert got == _stream(spark, text, "ev3_filter_map", cols)
    assert len(got) > 0


def test_add_fields_three_backends(spark):
    s = (
        Stream.from_parquet(spark, EV)
        .map("event_id", "value")
        .add_fields(doubled="value * 2", flag="CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END")
    )
    text = to_json(s.node)
    handler = compile_event(from_json(text), schemas={EV: EV_COLS})
    ev = handler.process_many(_rows(spark))
    cols = handler.columns
    got = _as_tuples(ev, cols)
    assert got == _batch(spark, text, cols)
    assert got == _stream(spark, text, "ev3_add_fields", cols)


def _join_plan(spark):
    left = (
        Stream.from_parquet(spark, EV)
        .where("event_type = 'purchase'")
        .map("user_id", "event_id", "value", "event_id AS __seq")
    )
    right = (
        Stream.from_parquet(spark, EV)
        .where("event_type = 'signup'")
        .map("user_id", "event_id AS signup_event_id",
             "value AS signup_value", "event_id AS __seq")
    )
    return left, right


def _feed_join(spark, handler, left_node_path_order):
    """Feed the ORIGINAL source rows in (event_id, right-before-left) order —
    the state machines' sort rule; both sides share one source here so one
    ordered pass feeding BOTH entry labels reproduces it."""
    rows = _rows(spark)
    out = []
    for r in rows:
        # right side first on seq ties (same event can only be one type, but
        # keep the canonical order anyway)
        out.extend(handler.process(r, stream=left_node_path_order[1]))
        out.extend(handler.process(r, stream=left_node_path_order[0]))
    return out


def test_left_enrichment_join_three_backends(spark):
    left, right = _join_plan(spark)
    joined = left.left_join(right, on="user_id")
    text = to_json(joined.node)
    plan = from_json(text)
    # two entries, same path — address them by source node id
    join_node = plan
    lsrc = join_node.inputs[0]
    while lsrc.inputs:
        lsrc = lsrc.inputs[0]
    rsrc = join_node.inputs[1]
    while rsrc.inputs:
        rsrc = rsrc.inputs[0]
    handler = compile_event(
        plan, schemas={lsrc.node_id: EV_COLS, rsrc.node_id: EV_COLS}
    )
    ev = handler.process_many(
        (sid, r)
        for r in _rows(spark)
        for sid in (rsrc.node_id, lsrc.node_id)  # right before left
    )
    cols = handler.columns
    got = _as_tuples(ev, cols)
    assert got == _batch(spark, text, cols)
    assert got == _stream(spark, text, "ev3_left_join", cols)
    assert len(got) > 0


def test_full_join_event_matches_batch(spark):
    left, right = _join_plan(spark)
    joined = left.full_join(right, on="user_id")
    text = to_json(joined.node)
    plan = from_json(text)
    lsrc, rsrc = plan.inputs[0], plan.inputs[1]
    while lsrc.inputs:
        lsrc = lsrc.inputs[0]
    while rsrc.inputs:
        rsrc = rsrc.inputs[0]
    handler = compile_event(plan, schemas={lsrc.node_id: EV_COLS, rsrc.node_id: EV_COLS})
    ev = handler.process_many(
        (sid, r) for r in _rows(spark) for sid in (rsrc.node_id, lsrc.node_id)
    )
    cols = handler.columns
    assert _as_tuples(ev, cols) == _batch(spark, text, cols)


def test_scan_fold_lowered_three_backends(spark):
    s = (
        Stream.from_parquet(spark, EV)
        .map("event_id", "user_id",
             "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
        .scan_fold(
            state={"acc": None},
            update={"acc": "acc + cents"},
            output={"event_id": "event_id", "user_id": "user_id", "acc_cents": "acc"},
            emit_when="acc > 50000",
            keys=["user_id"],
            seq="event_id",
        )
    )
    # the event backend lowers the raw scan_fold itself; batch requires the
    # optimizer pass first (its documented logical-only contract)
    from milan_spark.plans.rewrite import optimize

    text = to_json(s.node)
    lowered = to_json(optimize(from_json(text)))
    handler = compile_event(from_json(text), schemas={EV: EV_COLS})
    ev = handler.process_many(_rows(spark))
    cols = handler.columns
    got = _as_tuples(ev, cols)
    assert got == _batch(spark, lowered, cols)
    assert got == _stream(spark, lowered, "ev3_scan_lowered", cols)
    assert len(got) > 0


def test_opaque_scan_fold_three_backends(spark):
    s = (
        Stream.from_parquet(spark, EV)
        .map("event_id", "user_id", "value")
        .scan(
            "milan_spark.functions.folds:ewma_cents_fold",
            initial_state=None,
            output_schema="event_id long, user_id long, ewma_cents long",
            keys=["user_id"],
            seq="event_id",
        )
    )
    text = to_json(s.node)
    handler = compile_event(from_json(text), schemas={EV: EV_COLS})
    ev = handler.process_many(_rows(spark))
    cols = handler.columns
    got = _as_tuples(ev, cols)
    assert got == _batch(spark, text, cols)
    assert got == _stream(spark, text, "ev3_opaque_scan", cols)


def _append_rank_fold(state, rec):
    # mutates its list state in place: a key that shared another key's
    # initial list would count that key's records too
    state.append(rec.event_id)
    return state, {"event_id": rec.event_id, "user_id": rec.user_id, "rank": len(state)}


def test_mutating_scan_fold_state_per_key_three_backends(spark):
    """Each key folds from its own copy of ``initial_state`` on the batch,
    streaming and event backends, even when the fold mutates it."""
    s = (
        Stream.from_parquet(spark, EV)
        .map("event_id", "user_id")
        .scan(
            "tests.test_event_backend:_append_rank_fold",
            initial_state=[],
            output_schema="event_id long, user_id long, rank long",
            keys=["user_id"],
            seq="event_id",
        )
    )
    text = to_json(s.node)
    rows = _rows(spark)
    ranks: dict = {}
    want = []
    for r in rows:
        ranks[r["user_id"]] = ranks.get(r["user_id"], 0) + 1
        want.append((r["event_id"], r["user_id"], ranks[r["user_id"]]))
    want = sorted(want, key=_key)
    assert len(ranks) > 1
    handler = compile_event(from_json(text), schemas={EV: EV_COLS})
    cols = handler.columns
    assert _as_tuples(handler.process_many(rows), cols) == want
    assert _batch(spark, text, cols) == want
    assert _stream(spark, text, "ev3_mutating_scan", cols) == want


def test_stream_max_by_three_backends(spark):
    s = (
        Stream.from_parquet(spark, EV)
        .where("event_type = 'purchase'")
        .map("event_id", "user_id", "value", "event_id AS __seq")
        .max_by("value", keys=["user_id"])
    )
    text = to_json(s.node)
    handler = compile_event(from_json(text), schemas={EV: EV_COLS})
    ev = handler.process_many(_rows(spark))
    cols = handler.columns
    got = _as_tuples(ev, cols)
    assert got == _batch(spark, text, cols)
    assert got == _stream(spark, text, "ev3_max_by", cols)


def test_unsupported_ops_named_errors(spark):
    sess = Node(
        "session_window_aggregate",
        {"ts": "ts", "gap": "30 minutes", "keys": ["user_id"], "aggs": {"n": "count(*)"}},
        [Node("external_stream", {"stream_id": "ev"})],
    )
    with pytest.raises(MilanAnalysisError, match="session_window_aggregate"):
        compile_event(sess, schemas={"ev": EV_COLS})
    cyc = Node(
        "cycle", {"max_iterations": 2},
        [Node("external_stream", {"stream_id": "ev"}),
         Node("filter", {"condition": "user_id > 0"}, [Node("cycle_ref")])],
    )
    with pytest.raises(MilanAnalysisError, match="[Cc]ycle"):
        compile_event(cyc, schemas={"ev": EV_COLS})
    with pytest.raises(MilanAnalysisError, match="no schema"):
        compile_event(Node("filter", {"condition": "x > 0"},
                           [Node("external_stream", {"stream_id": "mystery"})]))


def test_expr_sql_semantics():
    env = {"a": 7, "b": None, "s": "Hi", "f": 2.5}
    e = compile_expr
    assert e("a + 1")(env) == 8
    assert e("b + 1")(env) is None                    # NULL propagation
    assert e("a > 5 AND b > 5")(env) is None          # 3VL: TRUE AND NULL
    assert e("a < 5 AND b > 5")(env) is False         # FALSE AND NULL
    assert e("a > 5 OR b > 5")(env) is True           # TRUE OR NULL
    assert e("NOT (b > 5)")(env) is None
    assert e("b IS NULL")(env) is True
    assert e("a IS NOT NULL")(env) is True
    assert e("a IN (1, 7, 9)")(env) is True
    assert e("a IN (1, b)")(env) is None              # miss + NULL member
    assert e("a BETWEEN 5 AND 9")(env) is True
    assert e("a NOT BETWEEN 5 AND 9")(env) is False
    assert e("round(f)")(env) == 3.0                  # HALF_UP, not banker's
    assert e("round(-2.5)")(env) == -3                # away from zero
    assert e("-7 % 3")(env) == -1                     # Java sign rule
    assert e("7 / 2")(env) == 3.5                     # / is double division
    assert e("7 DIV 2")(env) == 3
    assert e("CAST(f AS BIGINT)")(env) == 2
    assert e("CASE WHEN a > 5 THEN 'big' ELSE 'small' END")(env) == "big"
    assert e("CASE a WHEN 7 THEN 1 ELSE 0 END")(env) == 1
    assert e("upper(s)")(env) == "HI"
    assert e("coalesce(b, a)")(env) == 7
    assert e("greatest(b, a, 3)")(env) == 7           # greatest skips NULLs
    assert e("substring('hello', 2, 3)")(env) == "ell"
    assert e("concat(s, '!')")(env) == "Hi!"
    with pytest.raises(MilanExprError, match="regexp_extract"):
        e("regexp_extract(s, '.', 0)")
    with pytest.raises(MilanExprError, match="trailing"):
        e("a + 1 extra")


def test_left_inner_join_event_matches_batch(spark):
    left, right = _join_plan(spark)
    joined = left.left_inner_join(right, on="user_id")
    text = to_json(joined.node)
    plan = from_json(text)
    lsrc, rsrc = plan.inputs[0], plan.inputs[1]
    while lsrc.inputs:
        lsrc = lsrc.inputs[0]
    while rsrc.inputs:
        rsrc = rsrc.inputs[0]
    handler = compile_event(plan, schemas={lsrc.node_id: EV_COLS, rsrc.node_id: EV_COLS})
    ev = handler.process_many(
        (sid, r) for r in _rows(spark) for sid in (rsrc.node_id, lsrc.node_id)
    )
    cols = handler.columns
    assert _as_tuples(ev, cols) == _batch(spark, text, cols)


# --- round-9 widening: the reference event compiler's aggregate surface ----


def _final_per(dicts, cols, n_keys):
    """Per-record refinement emissions → final snapshot per group (the last
    emission per key tuple), as sorted tuples — what batch computes once."""
    last = {}
    for d in dicts:
        t = tuple(d[c] for c in cols)
        last[t[:n_keys]] = t
    return sorted(last.values(), key=_key)


def test_grouped_aggregate_three_backends(spark):
    s = (
        Stream.from_parquet(spark, EV)
        .map("event_type", "user_id",
             "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
        .group_by("event_type")
        .select(n="count(*)", total="sum(cents)", hi="max(cents)", lo="min(cents)")
    )
    text = to_json(s.node)
    handler = compile_event(from_json(text), schemas={EV: EV_COLS})
    ev = handler.process_many(_rows(spark))
    cols = handler.columns
    # agg columns keep their given order through the JSON round trip
    assert cols == ["event_type", "n", "total", "hi", "lo"]
    got = _final_per(ev, cols, 1)
    assert got == _batch(spark, text, cols)
    assert got == _stream(spark, text, "ev3_group_agg", cols, output_mode="complete")
    assert len(got) > 0


def test_aggregate_avg_and_argmax_match_batch(spark):
    # avg = exact int sum / count double division; max_by ordered on the
    # unique event_id so the tie rule never fires
    s = (
        Stream.from_parquet(spark, EV)
        .map("event_type", "event_id",
             "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
        .group_by("event_type")
        .select(mean_cents="avg(cents)", latest_cents="max_by(cents, event_id)",
                first_cents="min_by(cents, event_id)")
    )
    text = to_json(s.node)
    handler = compile_event(from_json(text), schemas={EV: EV_COLS})
    ev = handler.process_many(_rows(spark))
    cols = handler.columns
    assert _final_per(ev, cols, 1) == _batch(spark, text, cols)


def test_tumbling_window_three_backends(spark):
    s = (
        Stream.from_parquet(spark, EV)
        .map("event_type", "CAST(ts AS TIMESTAMP) AS ts",
             "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
        .group_by("event_type")
        .tumbling_window("ts", "1 day")
        .select(n="count(*)", total_cents="sum(cents)")
    )
    text = to_json(s.node)
    handler = compile_event(from_json(text), schemas={EV: EV_COLS})
    ev = handler.process_many(_rows(spark))
    cols = handler.columns
    assert cols == ["window_start", "event_type", "n", "total_cents"]
    got = _final_per(ev, cols, 2)
    assert got == _batch(spark, text, cols)
    assert got == _stream(spark, text, "ev3_tumbling", cols, output_mode="complete")
    assert len(got) > 0


def test_sliding_window_with_offset_event_matches_batch(spark):
    # size 2 days / slide 1 day / 6h offset: every record lands in TWO
    # windows and the offset shifts boundaries — the full TimeWindowing rule
    s = (
        Stream.from_parquet(spark, EV)
        .map("CAST(ts AS TIMESTAMP) AS ts",
             "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
        .sliding_window("ts", "2 days", "1 day", offset="6 hours")
        .select(n="count(*)", total="sum(cents)")
    )
    text = to_json(s.node)
    handler = compile_event(from_json(text), schemas={EV: EV_COLS})
    ev = handler.process_many(_rows(spark))
    cols = handler.columns
    got = _final_per(ev, cols, 1)
    assert got == _batch(spark, text, cols)
    # sliding: refinement emissions per record = windows containing it (2)
    assert len(ev) == 2 * len(_rows(spark))


def test_distinct_three_backends(spark):
    s = Stream.from_parquet(spark, EV).map("user_id", "event_type").distinct()
    text = to_json(s.node)
    handler = compile_event(from_json(text), schemas={EV: EV_COLS})
    ev = handler.process_many(_rows(spark))
    cols = handler.columns
    got = _as_tuples(ev, cols)  # emits first occurrence only: already final
    assert got == _batch(spark, text, cols)
    assert got == _stream(spark, text, "ev3_distinct", cols)


def test_last_event_matches_batch(spark):
    s = (
        Stream.from_parquet(spark, EV)
        .map("event_id", "user_id", "event_type", "event_id AS __seq")
        .group_by("user_id")
        .last()
    )
    text = to_json(s.node)
    handler = compile_event(from_json(text), schemas={EV: EV_COLS})
    ev = handler.process_many(_rows(spark))
    cols = handler.columns
    # last emits each replacement; key position = user_id (col 1)
    finals = {}
    for d in ev:
        finals[d["user_id"]] = tuple(d[c] for c in cols)
    assert sorted(finals.values(), key=_key) == _batch(spark, text, cols)


def test_record_window_three_backends(spark):
    s = (
        Stream.from_parquet(spark, EV)
        .where("event_type = 'click'")
        .map("event_id", "user_id",
             "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
             "event_id AS __seq")
        .group_by("user_id")
        .record_window(
            3,
            {"t_sum": "sum(cents)", "t_n": "count(*)",
             "t_min": "min(cents)", "t_max": "max(cents)"},
        )
    )
    text = to_json(s.node)
    handler = compile_event(from_json(text), schemas={EV: EV_COLS})
    ev = handler.process_many(_rows(spark))
    cols = handler.columns
    got = _as_tuples(ev, cols)  # one emission per record on ALL backends
    assert got == _batch(spark, text, cols)
    assert got == _stream(spark, text, "ev3_recwin", cols)
    assert len(got) > 0


def test_event_aggregate_rejects_unsupported_shapes(spark):
    bad = Node(
        "aggregate", {"keys": ["user_id"], "aggs": {"s": "stddev(value)"}},
        [Node("external_stream", {"stream_id": "ev"})],
    )
    with pytest.raises(MilanAnalysisError, match="stddev|subset"):
        compile_event(bad, schemas={"ev": EV_COLS})
    computed_key = Node(
        "aggregate", {"keys": ["user_id % 2"], "aggs": {"n": "count(*)"}},
        [Node("external_stream", {"stream_id": "ev"})],
    )
    with pytest.raises(MilanAnalysisError, match="AS alias"):
        compile_event(computed_key, schemas={"ev": EV_COLS})
    months = Node(
        "time_window_aggregate",
        {"ts": "ts", "size": "1 month", "aggs": {"n": "count(*)"}, "keys": []},
        [Node("external_stream", {"stream_id": "ev"})],
    )
    with pytest.raises(MilanAnalysisError, match="fixed-length"):
        compile_event(months, schemas={"ev": EV_COLS})


# --- round-9 widening, part 2: joins on the event backend ----


def _leaf_ids(plan):
    """(left-source-id, right-source-id) of a binary plan's two subtrees."""
    out = []
    for side in plan.inputs:
        n = side
        while n.inputs:
            n = n.inputs[0]
        out.append(n.node_id)
    return out


def test_relational_join_inner_event_matches_batch(spark):
    from milan_spark.plans import Node

    src = Node("parquet_source", {"path": EV})
    left = Node(
        "map", {"exprs": ["user_id", "event_id AS pid"]},
        [Node("filter", {"condition": "event_type = 'purchase'"}, [src])],
    )
    right = Node(
        "map", {"exprs": ["user_id", "event_id AS sid"]},
        [Node("filter", {"condition": "event_type = 'signup'"}, [src])],
    )
    join = Node("relational_join", {"on": ["user_id"], "how": "inner"}, [left, right])
    text = to_json(join)
    plan = from_json(text)
    # ONE shared source: each record pumps through both branches
    handler = compile_event(plan, schemas={EV: EV_COLS})
    ev = handler.process_many(_rows(spark))
    cols = handler.columns
    assert cols == ["user_id", "pid", "sid"]
    assert _as_tuples(ev, cols) == _batch(spark, text, cols)
    assert len(ev) > 0


def test_relational_join_left_semi_event_matches_batch(spark):
    from milan_spark.plans import Node

    src = Node("parquet_source", {"path": EV})
    left = Node(
        "map", {"exprs": ["user_id", "event_id AS pid"]},
        [Node("filter", {"condition": "event_type = 'purchase'"}, [src])],
    )
    right = Node(
        "map", {"exprs": ["user_id", "event_id AS sid"]},
        [Node("filter", {"condition": "event_type = 'error'"}, [src])],
    )
    join = Node("relational_join", {"on": ["user_id"], "how": "left_semi"}, [left, right])
    text = to_json(join)
    handler = compile_event(from_json(text), schemas={EV: EV_COLS})
    # feed in REVERSED event order too: semi emission is once-per-left
    # whichever side arrives first, so the multiset is order-independent
    ev = handler.process_many(reversed(_rows(spark)))
    cols = handler.columns
    assert cols == ["user_id", "pid"]
    assert _as_tuples(ev, cols) == _batch(spark, text, cols)
    assert len(ev) > 0


def test_asof_join_event_matches_batch(spark):
    purch = (
        Stream.from_parquet(spark, EV)
        .where("event_type = 'purchase'")
        .map("event_id", "user_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us")
    )
    views = (
        Stream.from_parquet(spark, EV)
        .where("event_type = 'view'")
        .map("user_id", "event_id AS view_event_id",
             "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us")
    )
    joined = purch.asof_join(
        views, on="user_id", left_ord="ts_us", right_ord="ts_us",
        tolerance=3 * 86_400 * 10**6,
    )
    text = to_json(joined.node)
    plan = from_json(text)
    lsrc, rsrc = _leaf_ids(plan)
    handler = compile_event(plan, schemas={lsrc: EV_COLS, rsrc: EV_COLS})
    # arrival contract: ord (ts) order, rights (views) before lefts on ties
    rows = sorted(
        _rows(spark),
        key=lambda r: (r["ts"], 0 if r["event_type"] == "view" else 1, r["event_id"]),
    )
    ev = handler.process_many(
        (sid, r) for r in rows for sid in (rsrc, lsrc)
    )
    cols = handler.columns
    assert _as_tuples(ev, cols) == _batch(spark, text, cols)
    assert len(ev) > 0


def test_left_windowed_join_event_matches_batch(spark):
    purchases = (
        Stream.from_parquet(spark, EV).where("event_type = 'purchase'")
        .map("user_id", "event_id", "event_id AS __seq")
    )
    views = (
        Stream.from_parquet(spark, EV).where("event_type = 'view'")
        .map("user_id", "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
             "event_id AS __seq")
    )
    joined = purchases.left_windowed_join(
        views, on="user_id",
        agg_exprs={"n_views": "count(cents)", "mx": "max(cents)"},
    )
    text = to_json(joined.node)
    plan = from_json(text)
    lsrc, rsrc = _leaf_ids(plan)
    handler = compile_event(plan, schemas={lsrc: EV_COLS, rsrc: EV_COLS})
    ev = handler.process_many(
        (sid, r) for r in _rows(spark) for sid in (rsrc, lsrc)
    )
    cols = handler.columns
    # agg columns keep their given order through the JSON round trip
    assert cols == ["user_id", "event_id", "__seq", "n_views", "mx"]
    assert _as_tuples(ev, cols) == _batch(spark, text, cols)
    assert len(ev) > 0


def test_event_join_rejections_named(spark):
    from milan_spark.plans import Node

    src = Node("external_stream", {"stream_id": "ev"})
    outer = Node("relational_join", {"on": ["user_id"], "how": "left_outer"},
                 [src, Node("external_stream", {"stream_id": "ev2"})])
    with pytest.raises(MilanAnalysisError, match="left_outer"):
        compile_event(outer, schemas={"ev": EV_COLS, "ev2": EV_COLS})
    timed = Node(
        "relational_join",
        {"on": ["user_id"], "how": "inner", "time_condition": "l.ts >= r.ts"},
        [src, Node("external_stream", {"stream_id": "ev2"})],
    )
    with pytest.raises(MilanAnalysisError, match="time_condition"):
        compile_event(timed, schemas={"ev": EV_COLS, "ev2": EV_COLS})
    fwd = Node(
        "asof_join",
        {"left_on": ["user_id"], "right_on": ["user_id"], "left_ord": "ts",
         "right_ord": "ts", "direction": "forward"},
        [src, Node("external_stream", {"stream_id": "ev2"})],
    )
    with pytest.raises(MilanAnalysisError, match="forward"):
        compile_event(fwd, schemas={"ev": EV_COLS, "ev2": EV_COLS})
