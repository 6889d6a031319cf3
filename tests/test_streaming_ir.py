"""One IR, two backends — the engine analog of the reference's multi-compiler
architecture (FlinkGenerator.scala:63-87 and EventHandlerClassGenerator.scala:
36-80 consume the same StreamCollection; TestFlinkGenJoin.scala:31-110 runs
the same programs on both). Each test serializes ONE plan with to_json and
asserts the batch compiler and the streaming compiler produce identical
results from that same JSON text."""

from __future__ import annotations

import pytest

from milan_spark import Stream
from milan_spark.plans import (
    compile_node,
    compile_node_streaming,
    from_json,
    to_json,
)
from milan_spark.plans.rewrite import optimize
from milan_spark.streaming import run_to_memory

EV = "/root/testdata/sf0.001/events.parquet"


def _both(spark, text, name, output_mode="append"):
    batch = compile_node(from_json(text), spark)
    stream = compile_node_streaming(from_json(text), spark)
    mem = run_to_memory(stream, name, output_mode=output_mode)
    return (
        sorted(tuple(r) for r in batch.collect()),
        sorted(tuple(r) for r in mem.collect()),
    )


def test_window_aggregate_same_json_both_backends(spark):
    # the plan itself normalizes the NTZ timestamp and integerizes the
    # aggregate — fully serializable, bit-identical on both backends
    s = (
        Stream.from_parquet(spark, EV)
        .map(
            "event_type",
            "CAST(ts AS TIMESTAMP) AS ts",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .group_by("event_type")
        .tumbling_window("ts", "1 day")
        .select(n="count(*)", total_cents="sum(cents)")
    )
    text = to_json(s.node)
    b, st = _both(spark, text, "ir_window_both", output_mode="complete")
    assert b == st and len(b) > 0


@pytest.mark.slow
def test_enrichment_join_same_json_both_backends(spark):
    left = (
        Stream.from_parquet(spark, EV)
        .where("event_type = 'purchase'")
        .map("user_id", "event_id", "value", "event_id AS __seq")
    )
    right = (
        Stream.from_parquet(spark, EV)
        .where("event_type = 'signup'")
        .map(
            "user_id",
            "event_id AS signup_event_id",
            "value AS signup_value",
            "event_id AS __seq",
        )
    )
    joined = left.left_join(right, on="user_id")
    text = to_json(joined.node)
    b, st = _both(spark, text, "ir_leftjoin_both")
    assert b == st and len(b) > 0


def test_scan_fold_lowered_plan_same_json_both_backends(spark):
    """scan_fold → optimize() → cum_window/filter/map: the optimized plan
    runs on both backends — batch as a JVM cumulative window, streaming as a
    keyed value-state fold — with identical per-record emissions."""
    s = (
        Stream.from_parquet(spark, EV)
        .map("event_id", "user_id", "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
        .scan_fold(
            state={"acc": None},
            update={"acc": "acc + cents"},
            output={"event_id": "event_id", "user_id": "user_id", "acc_cents": "acc"},
            emit_when="acc > 50000",
            keys=["user_id"],
            seq="event_id",
        )
    )
    text = to_json(optimize(s.node, spark))
    b, st = _both(spark, text, "ir_scan_both")
    assert b == st and len(b) > 0


def test_running_sum_same_json_both_backends(spark):
    s = (
        Stream.from_parquet(spark, EV)
        .where("event_type = 'purchase'")
        .map("event_id", "user_id", "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents", "event_id AS __seq")
        .sum_by("cents", alias="running_cents", keys=["user_id"])
    )
    text = to_json(s.node)
    b, st = _both(spark, text, "ir_runsum_both")
    assert b == st and len(b) > 0


def test_stream_max_by_same_json_both_backends(spark):
    s = (
        Stream.from_parquet(spark, EV)
        .where("event_type = 'purchase'")
        .map("event_id", "user_id", "value", "event_id AS __seq")
        .max_by("value", keys=["user_id"])
    )
    text = to_json(s.node)
    b, st = _both(spark, text, "ir_maxby_both")
    assert b == st and len(b) > 0


def test_streaming_compiler_rejects_batch_only_ops(spark):
    s = Stream.from_parquet(spark, EV).map("event_id").limit(5)
    text = to_json(s.node)
    with pytest.raises(ValueError, match="no streaming realization"):
        compile_node_streaming(from_json(text), spark)


def test_source_overrides_bind_by_node_id_and_path(spark):
    s = Stream.from_parquet(spark, EV).where("event_type = 'purchase'").map("event_id")
    node = from_json(to_json(s.node))
    src = node
    while src.inputs:
        src = src.inputs[0]
    # override by path: point the plan at a rate-limited readStream twin
    from milan_spark.sources import stream_files

    sdf = stream_files(spark, EV)
    out = compile_node_streaming(node, spark, source_overrides={src.node_id: sdf})
    mem = run_to_memory(out, "ir_override_both")
    batch = compile_node(node, spark)
    assert sorted(r[0] for r in mem.collect()) == sorted(r[0] for r in batch.collect())


def test_record_window_same_json_both_backends(spark):
    # trailing-3 per-user sum/count/min/max over integer cents — the four
    # exactly-replicable folds; schema and values must agree bit-for-bit
    s = (
        Stream.from_parquet(spark, EV)
        .where("event_type = 'click'")
        .map(
            "event_id",
            "user_id",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
            "event_id AS __seq",
        )
        .group_by("user_id")
        .record_window(
            3,
            {
                "t_sum": "sum(cents)",
                "t_n": "count(*)",
                "t_min": "min(cents)",
                "t_max": "max(cents)",
            },
        )
    )
    text = to_json(s.node)
    b, st = _both(spark, text, "ir_recwin_both")
    assert b == st and len(b) > 0


def test_last_same_json_both_backends(spark):
    s = (
        Stream.from_parquet(spark, EV)
        .map("event_id", "user_id", "event_type", "event_id AS __seq")
        .group_by("user_id")
        .last()
    )
    text = to_json(s.node)
    b, st = _both(spark, text, "ir_last_both", output_mode="complete")
    assert b == st and len(b) > 0


def test_distinct_same_json_both_backends(spark):
    s = (
        Stream.from_parquet(spark, EV)
        .map("user_id", "event_type")
        .distinct()
    )
    text = to_json(s.node)
    b, st = _both(spark, text, "ir_distinct_both")
    assert b == st and len(b) > 0


def test_record_window_rejects_unsupported_aggregate(spark):
    s = (
        Stream.from_parquet(spark, EV)
        .map("event_id", "user_id", "value", "event_id AS __seq")
        .group_by("user_id")
        .record_window(3, {"t_avg": "avg(value)"})
    )
    with pytest.raises(ValueError, match="no streaming realization"):
        compile_node_streaming(from_json(to_json(s.node)), spark)


def test_session_window_same_json_both_backends(spark):
    s = (
        Stream.from_parquet(spark, EV)
        .map(
            "user_id",
            "CAST(ts AS TIMESTAMP) AS ts",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .group_by("user_id")
        .session_window("ts", "30 minutes")
        .select(n_events="count(*)", total_cents="sum(cents)")
    )
    text = to_json(s.node)
    b, st = _both(spark, text, "ir_session_both", output_mode="complete")
    assert b == st and len(b) > 0


def test_asof_join_same_json_both_backends(spark):
    # backward as-of with tolerance: the streaming realization is the
    # enrichment state machine keyed on the time axis, tolerance applied as
    # the same post-join null gate as the batch operator
    purch = (
        Stream.from_parquet(spark, EV)
        .where("event_type = 'purchase'")
        .map("event_id", "user_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us")
    )
    # rights are unique per (user, ts) at this SF (checked), so no pre-dedup
    # stage is needed — a streaming aggregate cannot feed an append-mode
    # stateful join anyway (the determinism contract stays the author's job)
    views = (
        Stream.from_parquet(spark, EV)
        .where("event_type = 'view'")
        .map("user_id", "event_id AS view_event_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us")
    )
    joined = purch.asof_join(
        views, on="user_id", left_ord="ts_us", right_ord="ts_us",
        tolerance=3 * 86_400 * 10**6,
    )
    text = to_json(joined.node)
    b, st = _both(spark, text, "ir_asof_both")
    assert b == st and len(b) > 0


def test_asof_join_forward_rejected_streaming(spark):
    purch = (
        Stream.from_parquet(spark, EV)
        .map("event_id", "user_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us")
    )
    j = purch.asof_join(
        purch, on="user_id", left_ord="ts_us", right_ord="ts_us", direction="forward"
    )
    with pytest.raises(ValueError, match="forward"):
        compile_node_streaming(from_json(to_json(j.node)), spark)


@pytest.mark.slow
def test_stream_stream_join_same_json_both_backends(spark):
    """relational_join with watermarks + time-range condition: Spark's
    native stream-stream join on the streaming backend, the identical
    predicate on batch (watermarks are streaming-only no-ops)."""
    from milan_spark.plans import Node

    src = Node("parquet_source", {"path": EV})
    norm = Node(
        "map",
        {"exprs": ["user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type"]},
        [src],
    )
    left = Node(
        "map", {"exprs": ["user_id", "event_id AS pid", "ts AS p_ts"]},
        [Node("filter", {"condition": "event_type = 'purchase'"}, [norm])],
    )
    right = Node(
        "map", {"exprs": ["user_id", "event_id AS sid", "ts AS s_ts"]},
        [Node("filter", {"condition": "event_type = 'signup'"}, [norm])],
    )
    join = Node(
        "relational_join",
        {
            "on": ["user_id"], "how": "inner",
            "watermarks": {"left": ["p_ts", "1 hour"], "right": ["s_ts", "1 hour"]},
            "time_condition": "l.p_ts >= r.s_ts AND l.p_ts <= r.s_ts + INTERVAL 7 DAY",
        },
        [left, right],
    )
    out = Node(
        "map",
        {"exprs": ["pid", "user_id", "sid", "unix_micros(p_ts) AS pus", "unix_micros(s_ts) AS sus"]},
        [join],
    )
    b, st = _both(spark, to_json(out), "ir_ss_join_both")
    assert b == st and len(b) > 0


def test_scan_fold_direct_dispatch_same_json_both_backends(spark):
    """scan_fold straight from the deserialized plan: the STREAMING compiler
    lowers it internally (no caller-side optimize()); batch needs the
    explicit optimize pass (its documented logical-only contract)."""
    from milan_spark.plans import Node

    pre = Node(
        "map",
        {"exprs": ["user_id", "event_id",
                   "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
                   "event_id AS __seq"]},
        [Node("filter", {"condition": "event_type = 'purchase'"},
              [Node("parquet_source", {"path": EV})])],
    )
    fold = Node(
        "scan_fold",
        {"state": {"rc": None}, "update": {"rc": "rc + cents"},
         "output": {"user_id": "user_id", "event_id": "event_id", "rc": "rc"},
         "emit_when": "rc > 1000", "keys": ["user_id"], "seq": "__seq"},
        [pre],
    )
    text = to_json(fold)
    batch = compile_node(optimize(from_json(text)), spark)
    stream = compile_node_streaming(from_json(text), spark)  # direct dispatch
    mem = run_to_memory(stream, "ir_scan_fold_direct")
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, mem.collect()))


def test_left_windowed_join_same_json_both_backends(spark):
    """left_windowed_join (temporal agg flavor) dispatches on both backends
    from one JSON; the DSL's agg_exprs form records the node."""
    ss = __import__("milan_spark").Stream
    purchases = (
        ss.from_parquet(spark, EV).where("event_type = 'purchase'")
        .map("user_id", "event_id", "event_id AS __seq")
    )
    views = (
        ss.from_parquet(spark, EV).where("event_type = 'view'")
        .map("user_id", "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
             "event_id AS __seq")
    )
    joined = purchases.left_windowed_join(
        views, on="user_id",
        agg_exprs={"n_views": "count(cents)", "mx": "max(cents)"},
    )
    assert joined.node.is_serializable
    b, st = _both(spark, to_json(joined.node), "ir_lwj_both")
    assert b == st and len(b) > 0


@pytest.mark.slow
def test_left_outer_stream_stream_join_same_json_both_backends(spark, tmp_path):
    """relational_join how=left_outer from ONE JSON: streaming runs Spark's
    native watermarked outer join (mtime-ordered staged slices guarantee
    unmatched-cohort eviction before the stream drains); batch evaluates the
    identical predicate with watermarks as no-ops. The post-join cohort
    filter makes both answers the textbook LEFT JOIN of the cohort."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from milan_spark.plans import Node
    from milan_spark.sources import table

    ev = table(spark, os.path.dirname(EV), "events")
    t = lambda d: F.lit(d).cast("timestamp")  # noqa: E731
    bounds = [(None, "2024-01-10"), ("2024-01-20", "2024-01-24"),
              ("2024-01-24", "2024-01-27"), ("2024-01-27", None)]

    def stage(etype, cols, tag):
        d = str(tmp_path / tag)
        os.makedirs(d)
        side = ev.filter(F.col("event_type") == etype)
        for i, (lo, hi) in enumerate(bounds):
            pred = F.lit(True)
            if lo:
                pred = pred & (F.col("ts") >= t(lo))
            if hi:
                pred = pred & (F.col("ts") < t(hi))
            tmp = os.path.join(d, f"__tmp_{i}")
            side.filter(pred).select(*cols).coalesce(1).write.parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = os.path.join(d, f"batch{i}.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        return d

    p_dir = stage("purchase", ["user_id", F.col("event_id").alias("pid"),
                               F.col("ts").alias("p_ts")], "p")
    s_dir = stage("signup", ["user_id", F.col("event_id").alias("sid"),
                             F.col("ts").alias("s_ts")], "s")
    opts = {"maxFilesPerTrigger": "1"}
    join = Node(
        "relational_join",
        {
            "on": ["user_id"], "how": "left_outer",
            "watermarks": {"left": ["p_ts", "1 hour"], "right": ["s_ts", "1 hour"]},
            "time_condition": "l.p_ts >= r.s_ts AND l.p_ts <= r.s_ts + INTERVAL 7 DAY",
        },
        [Node("file_source", {"path": p_dir, "options": opts}),
         Node("file_source", {"path": s_dir, "options": opts})],
    )
    out = Node(
        "map",
        {"exprs": ["pid", "user_id", "sid",
                   "unix_micros(p_ts) AS pus", "unix_micros(s_ts) AS sus"]},
        [Node("filter", {"condition": "p_ts < TIMESTAMP '2024-01-10'"}, [join])],
    )
    b, st = _both(spark, to_json(out), "ir_ss_left_outer_both")
    assert b == st and len(b) > 0
    assert any(r[2] is None for r in b)  # null-padded unmatched lefts exist


@pytest.mark.slow
def test_stream_stream_semi_join_same_json_both_backends(spark):
    """relational_join how=left_semi: matched left rows emit exactly once
    on the streaming backend (no eviction dependency), and the batch
    backend compiles the identical node to a batch semi join — only left
    columns survive on both."""
    from milan_spark.plans import Node

    src = Node("parquet_source", {"path": EV})
    norm = Node(
        "map",
        {"exprs": ["user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type"]},
        [src],
    )
    left = Node(
        "map", {"exprs": ["user_id", "event_id AS sid", "ts AS s_ts"]},
        [Node("filter", {"condition": "event_type = 'signup'"}, [norm])],
    )
    right = Node(
        "map", {"exprs": ["user_id", "event_id AS pid", "ts AS p_ts"]},
        [Node("filter", {"condition": "event_type = 'purchase'"}, [norm])],
    )
    join = Node(
        "relational_join",
        {
            "on": ["user_id"], "how": "left_semi",
            "watermarks": {"left": ["s_ts", "1 hour"], "right": ["p_ts", "1 hour"]},
            "time_condition": "r.p_ts >= l.s_ts AND r.p_ts <= l.s_ts + INTERVAL 7 DAY",
        },
        [left, right],
    )
    out = Node(
        "map",
        {"exprs": ["sid", "user_id", "unix_micros(s_ts) AS sus"]},
        [join],
    )
    b, st = _both(spark, to_json(out), "ir_ss_semi_join_both")
    assert b == st and len(b) > 0
    # at-most-once per left row
    assert len(b) == len(set(b))


@pytest.mark.slow
def test_opaque_scan_fold_ref_same_json_both_backends(spark):
    """scan_fold carrying a dotted-path fold_ref (the FunctionReference
    mechanism): the SAME serialized plan runs the non-associative EWMA fold
    on the batch backend (ordered mapInPandas) and the streaming backend
    (keyed value state) with identical per-record emissions."""
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
    text = to_json(s.node)  # would raise if the node were non-serializable
    # optimize() must leave the opaque fold alone (no window lowering)
    assert optimize(from_json(text), spark).op == "scan_fold"
    b, st = _both(spark, text, "ir_opaque_scan_both")
    assert b == st and len(b) > 0


def test_opaque_scan_fold_bad_ref_named_error(spark):
    from milan_spark.errors import MilanAnalysisError
    from milan_spark.plans.nodes import Node

    plan = Node(
        "scan_fold",
        {
            "fold_ref": "milan_spark.functions.folds:no_such_fold",
            "initial_state": None,
            "output_schema": "event_id long",
            "keys": [],
        },
        [Node("parquet_source", {"path": EV})],
    )
    with pytest.raises(MilanAnalysisError, match="no_such_fold"):
        compile_node(from_json(to_json(plan)), spark)
