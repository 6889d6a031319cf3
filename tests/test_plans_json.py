"""Plan IR JSON round-trip — the engine analog of the reference's
TreeParser round-trip tests (program/TestTreeParser.scala, SURVEY.md §5 tier 1)."""

from __future__ import annotations

import pytest

from milan_spark import Stream
from milan_spark.plans import compile_node, from_json, to_json


def test_roundtrip_filter_aggregate(spark):
    s = (
        Stream.from_parquet(spark, "/root/testdata/sf0.001/lineitem.parquet")
        .where("l_quantity > 25")
        .group_by("l_returnflag")
        .select(n="count(*)", total="sum(l_quantity)")
    )
    text = to_json(s.node)
    rebuilt = from_json(text)
    df2 = compile_node(rebuilt, spark)
    orig = {tuple(r) for r in s.to_list()}
    again = {tuple(r) for r in df2.collect()}
    assert orig == again
    assert to_json(rebuilt) == text


def test_roundtrip_enrichment_join(spark):
    ev = "/root/testdata/sf0.001/events.parquet"
    # events.ts is nanos in parquet; use event_id/value only for this plan test
    left = Stream.from_parquet(spark, ev).where("event_type = 'purchase'").map(
        "user_id", "event_id", "value", "event_id AS __seq"
    )
    right = Stream.from_parquet(spark, ev).where("event_type = 'signup'").map(
        "user_id", "event_id", "value", "event_id AS __seq"
    )
    joined = left.left_join(right, on="user_id")
    text = to_json(joined.node)
    df2 = compile_node(from_json(text), spark)
    assert {tuple(r) for r in df2.collect()} == {tuple(r) for r in joined.to_list()}


def test_non_serializable_plan_rejected(spark):
    from pyspark.sql import functions as F

    import pytest

    s = Stream.from_list(spark, [(1,)], "i int").where(F.col("i") > 0)
    assert not s.node.is_serializable
    with pytest.raises(ValueError):
        to_json(s.node)


def test_roundtrip_asof_join(spark):
    ev = "/root/testdata/sf0.001/events.parquet"
    left = Stream.from_parquet(spark, ev).where("event_type = 'purchase'").map(
        "user_id", "event_id", "event_id * 10 AS t"
    )
    right = Stream.from_parquet(spark, ev).where("event_type = 'view'").map(
        "user_id", "event_id", "event_id * 10 AS t"
    )
    joined = left.asof_join(right, on="user_id", left_ord="t", right_ord="t", tolerance=500)
    text = to_json(joined.node)
    df2 = compile_node(from_json(text), spark)
    assert {tuple(r) for r in df2.collect()} == {tuple(r) for r in joined.to_list()}
    assert to_json(from_json(text)) == text


# --- one builder per op ------------------------------------------------------
#
# Every serializable DSL op builds its frame from its recorded node, so a plan
# recompiled from its JSON must collect what the stream itself collects. The
# filter/aggregate, left enrichment and as-of plans are covered above.

LINEITEM = "/root/testdata/sf0.001/lineitem.parquet"
ROWS = [(i % 3, (i * 7) % 11, f"2024-01-01 00:{i * 2:02d}:00") for i in range(12)]


def _base(spark):
    return Stream.from_list(spark, ROWS, "k int, v int, ts string", with_seq=True)


def _timed(spark):
    return _base(spark).add_fields(t="CAST(ts AS TIMESTAMP)")


def _right(spark):
    return _base(spark).where("v > 4").map("k", "v AS rv", "__seq")


PLANS = {
    "list_source": _base,
    "parquet_source": lambda spark: Stream.from_parquet(spark, LINEITEM).map("l_orderkey", "l_linenumber").limit(5),
    "file_source": lambda spark: Stream.from_file(spark, LINEITEM).where("l_quantity > 49").map("l_orderkey"),
    "map": lambda spark: _base(spark).map("k", "v * 2 AS v2", "__seq"),
    "add_fields": lambda spark: _base(spark).add_fields(v1="v + 1", kv="k * 100 + v"),
    "to_field": lambda spark: _base(spark).to_field("rec"),
    "with_seq": lambda spark: _base(spark).map("k", "v").with_seq("v * 10 + k"),
    "apply_function": lambda spark: _base(spark)
    .add_fields(vd="CAST(v AS DOUBLE) / 3")
    .apply_function("milan_spark.functions.udfs:cents", "bigint", "vd", alias="c"),
    "full_join": lambda spark: _base(spark).full_join(_right(spark), on="k"),
    "left_inner_join": lambda spark: _base(spark).left_inner_join(_right(spark), on="k"),
    "relational_join": lambda spark: _base(spark).map("k", "v").join(_right(spark).map("k", "rv"), on="k", how="left"),
    "left_windowed_join": lambda spark: _base(spark).left_windowed_join(
        _right(spark), on="k", agg_exprs={"n": "count(*)", "s": "sum(rv)"}
    ),
    "sum_by": lambda spark: _base(spark).sum_by("v", keys=["k"]),
    "max_by": lambda spark: _base(spark).max_by("v", keys=["k"]),
    "min_by": lambda spark: _base(spark).min_by("v"),
    "last": lambda spark: _base(spark).last(keys=["k"]),
    "scan_fold_ref": lambda spark: _base(spark)
    .map("__seq AS event_id", "k AS user_id", "CAST(v AS DOUBLE) * 1.5 AS value", "__seq")
    .scan(
        "milan_spark.functions.folds:ewma_cents_fold",
        initial_state=None,
        output_schema="event_id long, user_id long, ewma_cents long",
        keys=["user_id"],
    ),
    "union": lambda spark: _base(spark).union(_base(spark).where("v > 5")),
    "distinct": lambda spark: _base(spark).map("k", "v % 2 AS odd").distinct(),
    "order_by_limit": lambda spark: _base(spark).order_by("v DESC", "__seq").limit(4),
    "limit_zero": lambda spark: _base(spark).limit(0),
    "intersect": lambda spark: _base(spark).map("v").intersect(_right(spark).map("rv AS v")),
    "except": lambda spark: _base(spark).map("v").except_(_right(spark).map("rv AS v")),
    "rollup": lambda spark: _base(spark).rollup("k", n="count(*)", s="sum(v)"),
    "cube": lambda spark: _base(spark).cube("k", n="count(*)"),
    "grouping_sets": lambda spark: _base(spark)
    .add_fields(odd="v % 2")
    .grouping_sets([["k"], ["odd"], []], "k", "odd", s="sum(v)"),
    "tumbling_window": lambda spark: _timed(spark)
    .group_by("k")
    .tumbling_window("t", "6 minutes")
    .select(n="count(*)", s="sum(v)"),
    "sliding_window": lambda spark: _timed(spark).sliding_window("t", "10 minutes", "5 minutes").select(m="max(v)"),
    "session_window": lambda spark: _timed(spark).group_by("k").session_window("t", "5 minutes").select(n="count(*)"),
    "record_window": lambda spark: _base(spark).group_by("k").record_window(2, {"s": "sum(v)", "n": "count(*)"}),
}


@pytest.mark.parametrize("name", sorted(PLANS))
def test_roundtrip_every_dsl_op(spark, name):
    from collections import Counter

    s = PLANS[name](spark)
    text = to_json(s.node)
    rebuilt = from_json(text)
    assert to_json(rebuilt) == text
    df = compile_node(rebuilt, spark)
    # dict-valued params keep their key order through JSON, so columns that
    # follow it (add_fields, named aggregates) come back in order
    assert df.columns == s.df.columns
    got = df.collect()
    assert Counter(map(tuple, got)) == Counter(map(tuple, s.to_list()))
    if name not in ("limit_zero", "intersect", "except"):
        assert got, f"{name}: plan collects no rows, so the comparison shows nothing"


def test_list_source_with_seq_survives_the_plan(spark):
    from milan_spark.plans.backend_event import compile_event
    from milan_spark.plans.validate import validate_plan

    s = _base(spark)
    assert "__seq" in compile_node(from_json(to_json(s.node)), spark).columns
    assert "__seq" in validate_plan(s.node, spark)[s.node.node_id].fieldNames()
    assert "__seq" in compile_event(s.node).columns
    folded = s.scan_fold(
        state={"n": None, "tot": None},
        update={"n": "n + 1", "tot": "tot + v"},
        output={"k": "k", "seq": "__seq", "n": "n", "tot": "tot"},
        emit_when="n >= 2",
        keys=["k"],
    )
    fast = folded.to_df().collect()
    assert fast and sorted(fast) == sorted(folded.to_df(optimized=False).collect())
