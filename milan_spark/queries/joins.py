"""Enrichment-join queries (SURVEY.md §2.3) with exact DuckDB oracles.

The oracles replicate the temporal state-machine semantics with window
functions over a union of both sides — the same algebra the Spark operators
compile to, written independently in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from milan_spark.catalog import events, register, register_twins
from milan_spark.operators.joins import left_enrichment_join, snapshot_join
from milan_spark.plans.nodes import Node
from milan_spark.sources import table

DEC = "decimal(18,6)"


def _events_side(spark, sf_dir, event_type, cols):
    ev = table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == event_type).select(*cols, F.col("event_id").alias("__seq"))


def _side(ev: Node, event_type: str, *exprs: str) -> Node:
    """One event type of ``ev`` as a join side, sequenced by ``event_id``.
    Both sides read the one ``ev`` node, so a stream reads one source."""
    return Node(
        "map", {"exprs": [*exprs, "event_id AS __seq"]},
        [Node("filter", {"condition": f"event_type = '{event_type}'"}, [ev])],
    )


def _enrichment_plan(op: str, left: tuple, right: tuple, out: list[str]) -> Node:
    """``op`` on ``user_id`` between two event types, each given as
    ``(event_type, *exprs)``, then projected to ``out``."""
    ev = events()
    join = Node(op, {"left_on": ["user_id"], "right_on": ["user_id"]},
                [_side(ev, *left), _side(ev, *right)])
    return Node("map", {"exprs": out}, [join])


def left_enrichment_join_plan() -> Node:
    return _enrichment_plan(
        "left_enrichment_join",
        ("purchase", "event_id", "user_id", "value"),
        ("signup", "user_id", "event_id AS signup_event_id", "value AS signup_value"),
        ["event_id", "user_id", "value", "signup_event_id", "signup_value"],
    )


register_twins(
    left_enrichment_join_plan,
    oracle="""
WITH u AS (
  SELECT user_id, event_id AS ord, 1 AS side, event_id, value,
         CAST(NULL AS BIGINT) AS signup_event_id, CAST(NULL AS DOUBLE) AS signup_value
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, event_id, 0, NULL, NULL, event_id, value
  FROM events WHERE event_type = 'signup'
), w AS (
  SELECT *,
    last_value(signup_event_id IGNORE NULLS) OVER win AS l_signup_event_id,
    last_value(signup_value IGNORE NULLS) OVER win AS l_signup_value
  FROM u
  WINDOW win AS (PARTITION BY user_id ORDER BY ord, side ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, value,
       l_signup_event_id AS signup_event_id, l_signup_value AS signup_value
FROM w WHERE side = 1
""",
    batch={
        "left_enrichment_join": "Milan LeftJoin (LeftJoinKeyedCoProcessFunction.scala:41-80): "
        "each purchase paired with the user's latest at-or-earlier signup; null if none.",
    },
    streaming={
        "streaming_left_enrichment_join": "Milan LeftJoin executed as its true streaming "
        "state machine (applyInPandasWithState value-state machine ≈ "
        "LeftJoinKeyedCoProcessFunction.scala:41-80): purchases enriched with the "
        "user's latest at-or-earlier signup. Same plan and oracle as the batch twin.",
        "streaming_from_ir": "One IR, two compilers (the reference's defining "
        "architecture: FlinkGenerator.scala:63-87 and EventHandlerClassGenerator."
        "scala:36-80 consume the same StreamCollection): the left_enrichment_join "
        "plan — filter/map sides, per-arrival LeftJoin, projection — JSON round-"
        "tripped and compiled to Structured Streaming by plans.backend_streaming."
        "compile_node_streaming, run to completion, and hash-matched against the "
        "same DuckDB oracle as the batch LeftJoin.",
    },
)


def full_enrichment_join_plan() -> Node:
    return _enrichment_plan(
        "full_enrichment_join",
        ("purchase", "user_id", "event_id AS p_event_id", "value AS p_value"),
        ("error", "user_id", "event_id AS e_event_id", "value AS e_value"),
        ["user_id", "p_event_id", "p_value", "e_event_id", "e_value"],
    )


register_twins(
    full_enrichment_join_plan,
    oracle="""
WITH u AS (
  SELECT user_id, event_id AS ord, 1 AS side,
         event_id AS p_event_id, value AS p_value,
         CAST(NULL AS BIGINT) AS e_event_id, CAST(NULL AS DOUBLE) AS e_value
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, event_id, 0, NULL, NULL, event_id, value
  FROM events WHERE event_type = 'error'
), w AS (
  SELECT user_id,
    last_value(p_event_id IGNORE NULLS) OVER win AS p_event_id,
    last_value(p_value IGNORE NULLS) OVER win AS p_value,
    last_value(e_event_id IGNORE NULLS) OVER win AS e_event_id,
    last_value(e_value IGNORE NULLS) OVER win AS e_value
  FROM u
  WINDOW win AS (PARTITION BY user_id ORDER BY ord, side ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, p_event_id, p_value, e_event_id, e_value FROM w
""",
    batch={
        "full_enrichment_join": "Milan FullJoin (FullJoinKeyedCoProcessFunction.scala:43-88): "
        "every purchase OR error arrival emits (latest purchase, latest error) for the user.",
    },
    streaming={
        "streaming_full_enrichment_join": "Milan FullJoin as its streaming state "
        "machine (two ValueStates, FullJoinKeyedCoProcessFunction.scala:43-88): every "
        "purchase OR error arrival emits (latest purchase, latest error). Same plan "
        "and oracle as the batch twin.",
    },
)


def left_inner_enrichment_join_plan() -> Node:
    return _enrichment_plan(
        "left_inner_enrichment_join",
        ("click", "event_id", "user_id", "value"),
        ("view", "user_id", "event_id AS view_event_id"),
        ["event_id", "user_id", "value", "view_event_id"],
    )


register_twins(
    left_inner_enrichment_join_plan,
    oracle="""
WITH u AS (
  SELECT user_id, event_id AS ord, 1 AS side, event_id, value,
         CAST(NULL AS BIGINT) AS view_event_id
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, event_id, 0, NULL, NULL, event_id
  FROM events WHERE event_type = 'view'
), w AS (
  SELECT *,
    last_value(view_event_id IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY ord, side ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_before,
    first_value(view_event_id IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY ord, side ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_after
  FROM u
)
SELECT event_id, user_id, value, COALESCE(v_before, v_after) AS view_event_id
FROM w WHERE side = 1 AND COALESCE(v_before, v_after) IS NOT NULL
""",
    batch={
        "left_inner_enrichment_join": "Milan LeftInnerJoin "
        "(LeftInnerJoinKeyedCoProcessFunction.scala:40-103): clicks pair with the "
        "latest earlier view, else buffer for the first later view; unmatched clicks "
        "never emit.",
    },
    streaming={
        "streaming_left_inner_enrichment_join": "Milan LeftInnerJoin as its streaming "
        "state machine (ListState buffer, LeftInnerJoinKeyedCoProcessFunction.scala:"
        "40-103): clicks buffer until the user's first view, then pair with the "
        "latest view. Same plan and oracle as the batch twin.",
    },
)


@register(
    "enrichment_residual_condition",
    doc="Join-condition decomposition (JoinPreconditionExtractor.scala:7-73, "
    "ConnectedStreamsGenerator.scala:69-73): equi-key + residual postCondition "
    "on the pair — purchases enriched with latest signup, kept only when the "
    "purchase exceeds the signup value (null signup fails the residual).",
    oracle="""
WITH u AS (
  SELECT user_id, event_id AS ord, 1 AS side, event_id, value,
         CAST(NULL AS DOUBLE) AS signup_value
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, event_id, 0, NULL, NULL, value
  FROM events WHERE event_type = 'signup'
), w AS (
  SELECT *,
    last_value(signup_value IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY ord, side ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv
  FROM u
)
SELECT event_id, user_id, value, sv AS signup_value
FROM w WHERE side = 1 AND value > sv
""",
)
def enrichment_residual_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    left = _events_side(spark, sf_dir, "purchase", ["event_id", "user_id", "value"])
    right = _events_side(spark, sf_dir, "signup", ["user_id", F.col("value").alias("signup_value")])
    out = left_enrichment_join(
        left, right, on="user_id", residual=lambda l, r: l["value"] > r["signup_value"]
    )
    return out.select("event_id", "user_id", "value", "signup_value")


@register(
    "snapshot_join",
    doc="Final-state enrichment (batch LeftJoin equivalence, SURVEY §2.3): "
    "customers enriched with their last order via max_by snapshot + broadcast "
    "join.",
    oracle="""
WITH snap AS (
  SELECT o_custkey,
         MAX(o_orderkey) AS last_orderkey,
         arg_max(o_totalprice, o_orderkey) AS last_totalprice
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, c_name, last_orderkey, last_totalprice
FROM customer LEFT JOIN snap ON c_custkey = o_custkey
""",
)
def snapshot_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderkey").alias("last_orderkey"), F.col("o_totalprice").alias("last_totalprice")
    )
    out = snapshot_join(
        cust, orders, left_on=["c_custkey"], right_on=["o_custkey"], right_seq="last_orderkey", broadcast_right=True
    )
    return out.select("c_custkey", "c_name", "last_orderkey", "last_totalprice")


@register(
    "star_join_revenue",
    doc="Relational equi-join passthrough (SURVEY §2.3 'leave join strategy to "
    "Catalyst'): customer->nation->region star join with broadcast dims, "
    "revenue per region.",
    oracle="""
SELECT r_name,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def star_join_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "windowed_join_apply",
    doc="Milan LeftWindowedJoin+apply (lang/JoinedWindowedStream.scala:16-27): "
    "each purchase joined with an aggregate over the user's error-event window "
    "(count + exact sum), aggregates expressed as JVM-side Columns.",
    oracle="""
WITH errs AS (
  SELECT user_id, COUNT(*) AS n_errors,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS error_sum
  FROM events WHERE event_type = 'error' GROUP BY user_id
)
SELECT event_id, user_id, value,
       COALESCE(n_errors, 0) AS n_errors, error_sum
FROM (SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase')
LEFT JOIN errs USING (user_id)
""",
)
def windowed_join_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.joins import left_windowed_join_apply

    ev = table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "value")
    right = ev.filter(F.col("event_type") == "error").select("user_id", "value")
    out = left_windowed_join_apply(
        left,
        right,
        on="user_id",
        aggs=[
            F.count(F.lit(1)).alias("n_errors"),
            F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("error_sum"),
        ],
    )
    return out.select(
        "event_id", "user_id", "value", F.coalesce("n_errors", F.lit(0)).alias("n_errors"), "error_sum"
    )


@register(
    "asof_join_purchase_view",
    doc="Time-axis as-of join with tolerance (operators.joins.asof_join): "
    "each purchase pairs with the user's latest view at-or-before it and "
    "within 3 days, else null — one shuffle + one sort per key over the "
    "tagged union, never a per-row range probe. Views pre-deduplicated per "
    "(user, ts) with max_by for determinism.",
    oracle="""
WITH base AS (
  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us FROM events
), p AS (
  SELECT event_id, user_id, ts_us FROM base WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, ts_us, MAX(event_id) AS event_id
  FROM base WHERE event_type = 'view' GROUP BY 1, 2
), m AS (
  SELECT p.event_id, p.user_id, p.ts_us,
         (SELECT MAX(v.ts_us) FROM v
          WHERE v.user_id = p.user_id AND v.ts_us <= p.ts_us
            AND v.ts_us >= p.ts_us - 259200000000) AS mts
  FROM p
)
SELECT m.event_id, m.user_id,
       v.event_id AS view_event_id,
       m.ts_us - m.mts AS gap_us
FROM m LEFT JOIN v ON v.user_id = m.user_id AND v.ts_us = m.mts
""",
)
def asof_join_purchase_view_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.joins import asof_join

    base = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    purch = base.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts_us")
    views = (
        base.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts_us")
        .agg(F.max("event_id").alias("event_id"))
        .select("event_id", "user_id", "ts_us")
    )
    out = asof_join(
        purch,
        views,
        on="user_id",
        left_ord="ts_us",
        right_ord="ts_us",
        tolerance=3 * 86_400 * 10**6,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("r_event_id").alias("view_event_id"),
        (F.col("ts_us") - F.col("r_ts_us")).alias("gap_us"),
    )


def left_windowed_join_temporal_plan() -> Node:
    ev = events()
    join = Node(
        "left_windowed_join",
        {
            "left_on": ["user_id"],
            "right_on": ["user_id"],
            "aggs": {"n_views": "count(cents)", "view_cents": "sum(cents)"},
            "left_seq": "__seq",
            "right_seq": "__seq",
        },
        [
            _side(ev, "purchase", "user_id", "event_id"),
            _side(ev, "view", "user_id", "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents"),
        ],
    )
    return Node("map", {"exprs": ["event_id", "user_id", "n_views", "view_cents"]}, [join])


register_twins(
    left_windowed_join_temporal_plan,
    oracle="""
WITH u AS (
  SELECT user_id, event_id AS ord, 1 AS side, event_id,
         CAST(NULL AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, event_id, 0, event_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
  FROM events WHERE event_type = 'view'
), c AS (
  SELECT *,
         COUNT(cents) OVER w AS n_views,
         SUM(cents) OVER w AS view_cents
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ord, side
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, n_views,
       CAST(view_cents AS BIGINT) AS view_cents
FROM c WHERE side = 1
""",
    batch={
        "left_windowed_join_temporal": "Milan LeftWindowedJoin + apply in its "
        "per-arrival TEMPORAL flavor (lang/JoinedWindowedStream.scala:16-27 - the "
        "semantics the reference's streaming runtime actually implements, vs "
        "windowed_join_apply's whole-group batch-window convenience): each purchase "
        "emits count/sum over the VIEW events for its user that arrived at-or-before "
        "it. Batch plan = one shuffle + one per-key sort: aggregate args evaluated "
        "JVM-side on right rows (NULL on left rows), cumulative null-skipping window "
        "folds, zero Python.",
    },
    streaming={
        "streaming_left_windowed_join_ir": "The left_windowed_join_temporal plan "
        "(alias -> sum/count/min/max(expr) over the per-arrival right window) JSON "
        "round-tripped and compiled by the streaming backend to the per-key "
        "right-window state machine (stateful.left_windowed_join_apply); aggregate "
        "args are evaluated JVM-side before entering state, and the output schema "
        "comes from the batch operator compiled on zero rows, so the backends agree "
        "by construction. Same oracle as the batch twin.",
    },
)
