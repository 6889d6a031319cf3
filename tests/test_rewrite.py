"""Optimizer rewrite rules (milan_spark.plans.rewrite).

Covers: scan_fold → cumulative-window lowering (recognition grammar, init
folding, equivalence with the general Python fold), predicate pushdown
through the opaque left enrichment join (positive, right-column negative,
and result-equivalence cases), and the cost-based broadcast hint rule.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from milan_spark.plans.nodes import Node, compile_node, from_json, to_json
from milan_spark.plans import rewrite as R
from milan_spark.stream import Stream
from tests.conftest import SF_SMOKE


def _ops(node: Node) -> list[str]:
    out = []

    def walk(n):
        out.append(n.op)
        for i in n.inputs:
            walk(i)

    walk(node)
    return out


# --- recognition grammar ----------------------------------------------------


def test_recognize_sum_max_min():
    assert R.recognize_update("s", {"s"}, "s + value") == ("sum", "value")
    assert R.recognize_update("s", {"s"}, "CAST(v AS BIGINT) + s") == ("sum", "CAST(v AS BIGINT)")
    assert R.recognize_update("s", {"s"}, "greatest(s, value * 2)") == ("max", "value * 2")
    assert R.recognize_update("s", {"s"}, "least(s, f(x))") == ("min", "f(x)")


def test_recognize_rejects_non_associative():
    for bad in ("s * 2 + value", "s + s", "value - s", "greatest(t, value)", "concat(s, v)"):
        with pytest.raises(R.ScanRewriteError):
            R.recognize_update("s", {"s", "t"}, bad)


def test_identifier_extraction():
    ids = R.extract_identifiers("user_id > 5 AND upper(event_type) = 'VIEW' AND value IS NOT NULL")
    assert ids == {"user_id", "event_type", "value"}


# --- scan_fold lowering -----------------------------------------------------


def _scan_fold_plan(sf_dir: str) -> Node:
    return Node(
        "scan_fold",
        {
            "state": {"acc": "CAST(0 AS BIGINT)", "hi": None},
            "update": {
                "acc": "acc + CAST(floor(value * 100 + 0.5) AS BIGINT)",
                "hi": "greatest(hi, CAST(floor(value * 100 + 0.5) AS BIGINT))",
            },
            "output": {"event_id": "event_id", "user_id": "user_id", "acc_cents": "acc", "hi_cents": "hi"},
            "emit_when": "acc > 100000",
            "keys": ["user_id"],
            "seq": "event_id",
        },
        [
            Node(
                "map",
                {"exprs": ["event_id", "user_id", "value"]},
                [Node("parquet_source", {"path": f"{sf_dir}/events.parquet"})],
            )
        ],
    )


def test_scan_fold_is_logical_only(spark):
    with pytest.raises(ValueError, match="logical-only"):
        compile_node(_scan_fold_plan(SF_SMOKE), spark)


def test_scan_fold_lowered_structure():
    plan = R.optimize(_scan_fold_plan(SF_SMOKE))  # no spark needed for this rule
    assert _ops(plan) == ["map", "filter", "cum_window", "map", "parquet_source"]


def test_scan_fold_matches_python_fold(spark):
    import math

    plan = from_json(to_json(_scan_fold_plan(SF_SMOKE)))
    fast = compile_node(R.optimize(plan, spark), spark)

    from milan_spark.operators.scans import scan
    from milan_spark.sources import table

    ev = table(spark, SF_SMOKE, "events").select("event_id", "user_id", "value")

    def fold(state, rec):
        acc, hi = state
        cents = int(math.floor(rec.value * 100 + 0.5))
        acc += cents
        hi = cents if hi is None else max(hi, cents)
        if acc > 100000:
            return (acc, hi), {"event_id": rec.event_id, "user_id": rec.user_id, "acc_cents": acc, "hi_cents": hi}
        return (acc, hi), None

    slow = scan(
        ev,
        fold,
        initial_state=(0, None),
        output_schema="event_id long, user_id long, acc_cents long, hi_cents long",
        keys=["user_id"],
        seq="event_id",
    )
    cols = ["event_id", "user_id", "acc_cents", "hi_cents"]
    # the output dict's order survives the JSON round trip
    assert fast.columns == cols
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.select(cols).collect()))


def test_stream_scan_fold_dsl(spark):
    from milan_spark.sources import table

    ev = table(spark, SF_SMOKE, "events").select("event_id", "user_id", "value")
    s = Stream.from_dataframe(ev).scan_fold(
        state={"n": None},
        update={"n": "n + 1"},
        output={"event_id": "event_id", "nth": "n"},
        emit_when="n >= 3",
        keys=["user_id"],
        seq="event_id",
    )
    rows = s.to_df().collect()
    assert rows and all(r.nth >= 3 for r in rows)
    assert s.node.op == "scan_fold"  # the logical plan keeps the declarative node

    with pytest.raises(R.ScanRewriteError):
        Stream.from_dataframe(ev).scan_fold(
            state={"n": "0"},
            update={"n": "n * 2"},
            output={"n": "n"},
            seq="event_id",
        )


# --- grouped_rank lowering ---------------------------------------------------


def _grouped_rank_plan(sf_dir: str) -> Node:
    return Node(
        "grouped_rank",
        {"keys": ["user_id"], "order_by": ["event_id"], "alias": "idx"},
        [
            Node(
                "map",
                {"exprs": ["user_id", "event_id"]},
                [Node("parquet_source", {"path": f"{sf_dir}/events.parquet"})],
            )
        ],
    )


def test_grouped_rank_is_logical_only(spark):
    with pytest.raises(ValueError, match="logical-only"):
        compile_node(_grouped_rank_plan(SF_SMOKE), spark)


def test_grouped_rank_lowered_structure():
    plan = R.optimize(_grouped_rank_plan(SF_SMOKE))  # pure plan rule
    assert _ops(plan) == ["map", "map", "parquet_source"]


def test_grouped_rank_matches_python_flat_map(spark):
    from milan_spark.sources import table

    plan = from_json(to_json(_grouped_rank_plan(SF_SMOKE)))
    fast = compile_node(R.optimize(plan, spark), spark)
    # the naive realization on the Stream itself is the applyInPandas fold
    ev = table(spark, SF_SMOKE, "events").select("user_id", "event_id")
    slow = Stream.from_dataframe(ev).group_by("user_id").ranked("event_id", alias="idx").to_df()
    cols = ["user_id", "event_id", "idx"]
    assert sorted(map(tuple, fast.select(cols).collect())) == sorted(
        map(tuple, slow.select(cols).collect())
    )
    # the optimized physical plan must not contain a Python grouped-map
    assert "FlatMapGroupsInPandas" not in fast._jdf.queryExecution().executedPlan().toString()


# --- predicate pushdown through the enrichment join -------------------------


def _join_filter_plan(sf_dir: str, condition: str) -> Node:
    left = Node(
        "map",
        {"exprs": ["event_id", "user_id", "value", "event_id AS __seq"]},
        [Node("parquet_source", {"path": f"{sf_dir}/events.parquet"})],
    )
    right = Node(
        "map",
        {"exprs": ["c_custkey AS user_id", "c_name", "c_custkey AS __seq"]},
        [Node("parquet_source", {"path": f"{sf_dir}/customer.parquet"})],
    )
    join = Node(
        "left_enrichment_join",
        {"left_on": ["user_id"], "right_on": ["user_id"], "right_prefix": "r_"},
        [left, right],
    )
    return Node("filter", {"condition": condition}, [join])


def test_pushdown_left_only_predicate(spark):
    plan = R.optimize(_join_filter_plan(SF_SMOKE, "value > 100 AND event_id % 2 = 0"), spark)
    # filter moved below the join, onto the left input
    assert plan.op == "left_enrichment_join"
    assert plan.inputs[0].op == "filter"

    before = compile_node(_join_filter_plan(SF_SMOKE, "value > 100 AND event_id % 2 = 0"), spark)
    after = compile_node(plan, spark)
    assert sorted(map(tuple, before.collect())) == sorted(map(tuple, after.collect()))


def test_no_pushdown_for_right_side_predicate(spark):
    plan = R.optimize(_join_filter_plan(SF_SMOKE, "r_c_name IS NOT NULL"), spark)
    assert plan.op == "filter"  # untouched: predicate reads enriched columns


# --- cost-based broadcast hint ----------------------------------------------


def test_broadcast_hint_on_small_side(spark, tmp_path):
    big = f"{SF_SMOKE}/lineitem.parquet"
    small = f"{SF_SMOKE}/nation.parquet"
    plan = Node(
        "relational_join",
        {"on": "n_nationkey", "how": "inner"},
        [
            Node(
                "map",
                {"exprs": ["l_orderkey", "l_suppkey % 25 AS n_nationkey"]},
                [Node("parquet_source", {"path": big})],
            ),
            Node("parquet_source", {"path": small}),
        ],
    )
    import functools

    # sf0.001 is tiny, so pick a threshold between the two sides' Catalyst sizes
    rule = functools.partial(R.rule_broadcast_small_join_side, threshold=10_000)
    opt = R.optimize(plan, spark, rules=[rule])
    assert "hint" in _ops(opt)
    physical = compile_node(opt, spark)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in physical
    # idempotent: a second pass does not stack hints
    assert _ops(R.optimize(opt, spark, rules=[rule])).count("hint") == 1


def test_no_broadcast_hint_when_both_small(spark):
    plan = Node(
        "relational_join",
        {"on": "n_regionkey", "how": "inner"},
        [
            Node("parquet_source", {"path": f"{SF_SMOKE}/nation.parquet"}),
            Node("parquet_source", {"path": f"{SF_SMOKE}/region.parquet"}),
        ],
    )
    opt = R.optimize(plan, spark, rules=[R.rule_broadcast_small_join_side])
    assert "hint" not in _ops(opt)


def test_to_df_optimizes_by_default(spark):
    # Stream.group_by().ranked() on a serializable plan lowers to the
    # row_number() window automatically — no opt-in optimize() call
    s = Stream.from_file(spark, f"{SF_SMOKE}/events.parquet").map("user_id", "event_id")
    ranked = s.group_by("user_id").ranked("event_id", alias="idx")
    fast = ranked.to_df()
    phys = fast._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in phys
    # escape hatch and opaque plans keep the direct realization
    naive = ranked.to_df(optimized=False)
    naive_phys = naive._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in naive_phys
    cols = ["user_id", "event_id", "idx"]
    assert sorted(map(tuple, fast.select(cols).collect())) == sorted(
        map(tuple, naive.select(cols).collect())
    )
