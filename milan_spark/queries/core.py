"""Core relational queries: projections, filters, scalar exprs, group-by
aggregates, set ops (SURVEY.md §2.2, §2.4, §2.7).

Each query exercises a Milan operator through the milan_spark library and has
a value-identical DuckDB oracle. DECIMAL-cast discipline keeps double
aggregation order-independent (see milan_spark.catalog docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from milan_spark import functions as mf
from milan_spark.catalog import events, register, register_twins
from milan_spark.plans.nodes import Node
from milan_spark.sources import table

DEC = "decimal(18,6)"


@register(
    "q1_pricing_summary",
    doc="Flagship: Milan GroupBy+Aggregate (StreamExpressions.scala:206) over "
    "lineitem — TPC-H Q1 shape; sum/mean/count built-ins "
    "(AggregateExpressions.scala:22-173).",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) / COUNT(*) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # ROUND(dec, 2) before the double cast keeps the scaled integer
            # under 2^53 so Spark and DuckDB produce bit-identical doubles
            F.round(mf.agg_sum(qty), 2).cast("double").alias("sum_qty"),
            F.round(mf.agg_sum(price), 2).cast("double").alias("sum_base_price"),
            F.round(mf.agg_sum(price * (F.lit(1) - disc)), 2).cast("double").alias("sum_disc_price"),
            (F.round(mf.agg_sum(qty), 2).cast("double") / mf.agg_count()).alias("avg_qty"),
            (F.round(mf.agg_sum(price), 2).cast("double") / mf.agg_count()).alias("avg_price"),
            mf.agg_count().alias("count_order"),
        )
    )


@register(
    "filter_project_scalar",
    doc="Milan Filter (StreamExpressions.scala:442) + StreamMap named-fields "
    "projection (lang/package.scala:8-31) + the full built-in scalar algebra: "
    "comparisons, and/or, +/-, IfThenElse, IsNull, ConvertType "
    "(program/Expression.scala:137-724).",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_quantity + l_tax AS qty_plus_tax,
       l_quantity - l_tax AS qty_minus_tax,
       CASE WHEN l_discount > 0.05 THEN 'HIGH' ELSE 'LOW' END AS disc_band,
       CAST(l_quantity AS INTEGER) AS qty_int,
       CAST(l_quantity AS VARCHAR) AS qty_str,
       (l_returnflag = 'A' AND l_linestatus = 'F') AS af_flag,
       (l_returnflag IS NULL) AS rf_null
FROM lineitem
WHERE (l_quantity >= 25 AND l_quantity <= 30) OR l_discount = 0.0
""",
)
def filter_project_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.filter(((q >= 25) & (q <= 30)) | (F.col("l_discount") == 0.0)).select(
        "l_orderkey",
        "l_linenumber",
        (q + F.col("l_tax")).alias("qty_plus_tax"),
        (q - F.col("l_tax")).alias("qty_minus_tax"),
        mf.if_then_else(F.col("l_discount") > 0.05, F.lit("HIGH"), F.lit("LOW")).alias("disc_band"),
        mf.convert_type(q, "int").alias("qty_int"),
        mf.convert_type(q, "string").alias("qty_str"),
        ((F.col("l_returnflag") == "A") & (F.col("l_linestatus") == "F")).alias("af_flag"),
        F.col("l_returnflag").isNull().alias("rf_null"),
    )


@register(
    "group_agg_builtins",
    doc="Milan built-in aggregates sum/min/max/mean/count "
    "(lang/aggregation.scala:29-49, BuiltinAggregateFunctions.scala:63-218) "
    "keyed by event user.",
    oracle="""
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_value,
       COUNT(*) AS n_events
FROM events
GROUP BY user_id
""",
)
def group_agg_builtins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = F.col("value").cast(DEC)
    return ev.groupBy("user_id").agg(
        mf.agg_sum(v).cast("double").alias("sum_value"),
        mf.agg_min("value").alias("min_value"),
        mf.agg_max("value").alias("max_value"),
        (mf.agg_sum(v).cast("double") / mf.agg_count()).alias("mean_value"),
        mf.agg_count().alias("n_events"),
    )


@register(
    "group_argmax_argmin",
    doc="Milan argmax/argmin (AggregateExpressions.scala:91,111; runtime "
    "ArgMin/ArgMax BuiltinAggregateFunctions.scala:167-177) via F.max_by/"
    "F.min_by; arrival-order ties broken on event_id like the reference's "
    "sequence numbers.",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rk_max,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value ASC, event_id ASC) AS rk_min
  FROM events
)
SELECT user_id,
       MAX(CASE WHEN rk_max = 1 THEN event_type END) AS top_event_type,
       MAX(CASE WHEN rk_max = 1 THEN event_id END) AS top_event_id,
       MAX(CASE WHEN rk_min = 1 THEN event_type END) AS bottom_event_type,
       MAX(value) AS max_value
FROM ranked
GROUP BY user_id
""",
)
def group_argmax_argmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # earliest arrival wins ties: maximize (value, -event_id), minimize (value, event_id)
    max_key = F.struct(F.col("value"), (-F.col("event_id")).alias("neg_id"))
    min_key = F.struct(F.col("value"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        mf.arg_max(max_key, "event_type").alias("top_event_type"),
        mf.arg_max(max_key, "event_id").alias("top_event_id"),
        mf.arg_min(min_key, "event_type").alias("bottom_event_type"),
        mf.agg_max("value").alias("max_value"),
    )


@register(
    "union_streams",
    doc="Milan Union — bag union of same-typed streams, no dedup "
    "(StreamExpressions.scala:764, lang/Stream.scala:135).",
    oracle="""
SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'
UNION ALL
SELECT event_id, user_id, value FROM events WHERE event_type = 'signup'
""",
)
def union_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "value")
    b = ev.filter(F.col("event_type") == "signup").select("event_id", "user_id", "value")
    return a.unionByName(b)


def unique_dedup_plan() -> Node:
    return Node(
        "aggregate",
        {
            "keys": ["user_id", "event_type"],
            "aggs": {"last_event_id": "max(event_id)", "last_value": "max_by(value, event_id)"},
        },
        [events()],
    )


register_twins(
    unique_dedup_plan,
    oracle="""
SELECT user_id, event_type,
       MAX(event_id) AS last_event_id,
       arg_max(value, event_id) AS last_value
FROM events
GROUP BY user_id, event_type
""",
    batch={
        "unique_dedup": "Milan's documented-but-unimplemented unique/uniqueBy "
        "(doc/Streams in Milan and streaming operations.md:73-77) — dropDuplicates "
        "with deterministic survivor via last-per-key (max event_id), the "
        "streaming-consistent choice.",
    },
    streaming={
        "streaming_unique_dedup": "unique/uniqueBy on the streaming backend: "
        "streaming aggregation in complete mode keeping the last record per "
        "(user_id, event_type) — the survivor choice that is consistent under "
        "arrival order. Same plan and oracle as the batch twin.",
    },
)


@register(
    "semi_anti_join",
    doc="Semi/anti joins (absent in the reference — SURVEY §2.3 'free if "
    "exposed'): customers with any high-value order but no low-priority order.",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
""",
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    low = orders.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return (
        cust.join(hi, cust.c_custkey == hi.o_custkey, "left_semi")
        .join(low, cust.c_custkey == low.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


@register(
    "topk_per_group",
    doc="Top-K per key (absent as a reference operator; ordering exists only "
    "inside argmax/record windows — SURVEY §2.7): top 3 orders per customer "
    "by totalprice, orderkey tiebreak.",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
)
WHERE rk <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


@register(
    "order_limit",
    doc="Global orderBy + limit (absent in the reference; SURVEY §2.7). "
    "Deterministic via orderkey tiebreak. Spark's TakeOrderedAndProject keeps "
    "this a per-partition top-N + driver merge — no global sort at scale.",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
)
def order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


@register(
    "add_fields_to_field",
    doc="Milan addFields (lang/Stream.scala:187) and toField "
    "(lang/Stream.scala:55-65): append computed columns, then wrap/unwrap the "
    "record as a named struct field.",
    oracle="""
SELECT s_suppkey, s_name, s_acctbal,
       s_acctbal * 2 AS double_bal,
       s_suppkey + 1000000 AS shifted_key
FROM supplier
""",
)
def add_fields_to_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = table(spark, sf_dir, "supplier")
    widened = sup.withColumn("double_bal", F.col("s_acctbal") * 2).withColumn(
        "shifted_key", F.col("s_suppkey") + 1000000
    )
    # toField round-trip: wrap whole record as one struct column, then unwrap
    wrapped = widened.select(F.struct(*widened.columns).alias("record"))
    return wrapped.select(
        *[F.col(f"record.{c}").alias(c) for c in ["s_suppkey", "s_name", "s_acctbal", "double_bal", "shifted_key"]]
    )
