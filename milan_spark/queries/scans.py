"""Running-scan queries (SURVEY.md §2.6) with DuckDB oracles.

Arrival order = ``event_id`` (the driver data's monotonic id), mirroring the
reference's per-record sequence numbers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from milan_spark.catalog import REGISTRY, events, register, register_twins
from milan_spark.operators.scans import running_sum_by, stream_min_by
from milan_spark.plans.nodes import Node
from milan_spark.sources import read_parquet, table

DEC = "decimal(18,6)"


@register(
    "running_sum_by",
    doc="Milan SumBy (StreamExpressions.scala:670, ScanOperations.scala:17-47): "
    "per-user running sum of value in arrival order; cumulative window "
    "aggregate instead of the reference's sequential keyed fold.",
    oracle="""
SELECT event_id, user_id, value,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) OVER
         (PARTITION BY user_id ORDER BY event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_sum
FROM events
""",
)
def running_sum_by_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").withColumn("__dec_value", F.col("value").cast(DEC))
    out = running_sum_by(ev, "__dec_value", keys=["user_id"], seq="event_id", alias="__rs")
    return out.select(
        "event_id", "user_id", "value", F.round(F.col("__rs"), 2).cast("double").alias("running_sum")
    )


def stream_max_by_plan() -> Node:
    return Node(
        "stream_max_by",
        {"arg": "value", "keys": ["user_id"], "seq": "event_id"},
        [Node("map", {"exprs": ["event_id", "user_id", "value"]}, [events()])],
    )


register_twins(
    stream_max_by_plan,
    oracle="""
SELECT event_id, user_id, value
FROM (
  SELECT event_id, user_id, value,
         MAX(value) OVER (PARTITION BY user_id ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best
  FROM events
)
WHERE prev_best IS NULL OR value > prev_best
""",
    batch={
        "stream_max_by": "Milan MaxBy emit-on-improvement (doc/Milan "
        "Operations.md:106-111, ScanOperations.scala:49-103): per-user, emit an event "
        "only when its value strictly beats every earlier value.",
    },
    streaming={
        "streaming_stream_max_by": "Milan MaxBy emit-on-improvement on the streaming "
        "backend (ArgCompareProcessFunctions.scala): per-user value state holds the "
        "running max; an arrival is emitted only when it strictly beats it - the "
        "reference's every-element trigger, literally. Same plan and oracle as the "
        "batch twin.",
    },
)


@register(
    "stream_min_by_global",
    doc="Milan MinBy, unkeyed: global running minimum improvements. The "
    "reference would pin this to one task; here the prev-window scan still "
    "parallelizes the pre-aggregation.",
    oracle="""
SELECT event_id, user_id, value
FROM (
  SELECT event_id, user_id, value,
         MIN(value) OVER (ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best
  FROM events
)
WHERE prev_best IS NULL OR value < prev_best
""",
)
def stream_min_by_global_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return stream_min_by(ev, "value", seq="event_id").select("event_id", "user_id", "value")


def last_per_key_plan() -> Node:
    return Node(
        "last",
        {"keys": ["user_id"], "seq": "event_id"},
        [Node("map", {"exprs": ["user_id", "event_id", "event_type", "value"]}, [events()])],
    )


register_twins(
    last_per_key_plan,
    oracle="""
SELECT user_id,
       MAX(event_id) AS event_id,
       arg_max(event_type, event_id) AS event_type,
       arg_max(value, event_id) AS value
FROM events
GROUP BY user_id
""",
    batch={
        "last_per_key": "Milan Last keyed (LastOperators.scala:85): final event per "
        "user by sequence number — map-side-combinable max_by.",
    },
    streaming={
        "streaming_last_per_key": "Milan Last keyed on the streaming backend "
        "(LastOperators.scala:85): complete-mode aggregation keeping the "
        "highest-sequence record per user - parallel across keys, unlike the "
        "reference's parallelism-1 unkeyed variant. Same plan and oracle as the "
        "batch twin.",
    },
)


def _scan_plan(fold: str, initial_state, output_schema: str) -> Node:
    """A per-user Scan in event_id order over (event_id, user_id, value),
    its fold carried as a ``functions.folds`` reference."""
    return Node(
        "scan_fold",
        {
            "fold_ref": f"milan_spark.functions.folds:{fold}",
            "initial_state": initial_state,
            "output_schema": output_schema,
            "keys": ["user_id"],
            "seq": "event_id",
        },
        [Node("map", {"exprs": ["event_id", "user_id", "value"]}, [events()])],
    )


def scan_threshold_plan() -> Node:
    return _scan_plan(
        "threshold_cents_fold", 0, "event_id long, user_id long, acc_cents long"
    )


register_twins(
    scan_threshold_plan,
    oracle="""
SELECT event_id, user_id, CAST(acc_cents AS BIGINT) AS acc_cents
FROM (
  SELECT event_id, user_id,
         SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER
           (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acc_cents
  FROM events
)
WHERE acc_cents > 500000
""",
    batch={
        "scan_threshold": "Milan Scan — general stateful fold with Option output "
        "(doc/Milan Operations.md:122-133): per-user cents accumulator emitting once the "
        "running total crosses 5000.00; executed as an ordered applyInPandas fold (the "
        "UDF slow path the Scan op is specified to be).",
    },
    streaming={
        "streaming_scan_threshold": "Milan Scan on the streaming backend "
        "(ScanProcessFunction.scala:17,66): per-user cents accumulator in per-key "
        "value state, emitting past 5000.00. Same plan and oracle as the batch twin.",
    },
)


@register(
    "scan_threshold_rewritten",
    doc="The optimizer's scan-to-window rule end-to-end (SURVEY §4 'optional "
    "Rule[LogicalPlan]'): the same threshold fold as scan_threshold, declared "
    "as a serializable scan_fold plan node, JSON round-tripped, then lowered "
    "by plans.rewrite.optimize to cumulative window aggregates — no Python "
    "fold in the physical plan. Same oracle as the applyInPandas version.",
    oracle="""
SELECT event_id, user_id, CAST(acc_cents AS BIGINT) AS acc_cents
FROM (
  SELECT event_id, user_id,
         SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER
           (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acc_cents
  FROM events
)
WHERE acc_cents > 500000
""",
)
def scan_threshold_rewritten_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.plans.nodes import Node, compile_node, from_json, to_json
    from milan_spark.plans.rewrite import optimize

    plan = Node(
        "scan_fold",
        {
            "state": {"acc": "CAST(0 AS BIGINT)"},
            "update": {"acc": "acc + CAST(floor(value * 100 + 0.5) AS BIGINT)"},
            "output": {"event_id": "event_id", "user_id": "user_id", "acc_cents": "acc"},
            "emit_when": "acc > 500000",
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
    plan = from_json(to_json(plan))  # portability: the logical plan survives serialization
    return compile_node(optimize(plan, spark), spark)


@register(
    "running_mean_by",
    doc="Milan's documented-but-unimplemented MeanBy "
    "(doc/Milan Operations.md:134-140) via the declarative scan_fold DSL: "
    "two associative state fields (cents sum + count) lowered by the "
    "optimizer to one cumulative window; the mean is floor(acc/n) on exact "
    "integers (engine-independent, same argument as the k-means centroids).",
    oracle="""
SELECT event_id, user_id, n,
       CAST(floor(CAST(acc AS DOUBLE) / n) AS BIGINT) AS mean_cents
FROM (
  SELECT event_id, user_id,
         SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER
           (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acc,
         COUNT(*) OVER
           (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
  FROM events
)
""",
)
def running_mean_by_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.stream import Stream

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return (
        Stream.from_dataframe(ev)
        .scan_fold(
            state={"acc": None, "n": None},
            update={"acc": "acc + CAST(floor(value * 100 + 0.5) AS BIGINT)", "n": "n + 1"},
            output={
                "event_id": "event_id",
                "user_id": "user_id",
                "n": "n",
                "mean_cents": "CAST(floor(CAST(acc AS DOUBLE) / n) AS BIGINT)",
            },
            keys=["user_id"],
            seq="event_id",
        )
        .to_df()
    )


def ewma_smoothing_plan() -> Node:
    return _scan_plan("ewma_cents_fold", None, "event_id long, user_id long, ewma_cents long")


register_twins(
    ewma_smoothing_plan,
    oracle="""
WITH RECURSIVE ev AS (
  SELECT event_id, user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
), rec(user_id, rn, event_id, s) AS (
  SELECT user_id, rn, event_id, x FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, e.event_id,
         r.s + CAST(floor((e.x - r.s) / 8.0) AS BIGINT)
  FROM rec r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT event_id, user_id, s AS ewma_cents FROM rec
""",
    batch={
        "ewma_smoothing": "Per-user EWMA time-series smoothing as a Milan Scan (the "
        "genuinely sequential fold the Scan op exists for — EWMA is NOT associative, "
        "so no window rewrite applies): alpha = 1/8 realized as the integer update "
        "s += floor((x - s) / 8) over exact cents, so the trajectory is "
        "bit-identical across engines and partitionings. Executed as the ordered "
        "per-key mapInPandas fold; the oracle replays the recurrence with a DuckDB "
        "recursive CTE.",
        "ewma_smoothing_from_ir": "The EWMA fold carried THROUGH the portable JSON IR "
        "as a dotted-path FunctionReference (scan_fold.fold_ref — the reference "
        "ships Scan step functions in its serialized programs the same way, "
        "StreamExpressions.scala:505 / Expression.scala:407): an opaque fold "
        "survives the define/ship/run-elsewhere lifecycle. Every twin runs the "
        "round-tripped plan; this name keeps the lifecycle's entry in the catalog.",
    },
    streaming={
        "streaming_ewma_smoothing": "Per-user EWMA smoothing on the streaming "
        "backend: the same non-associative integer recurrence (s += floor((x - s)/8), "
        "exact cents) in per-key value state — the anomaly-baseline shape a "
        "monitoring pipeline runs on live events. Same plan and oracle as the batch "
        "twin (DuckDB recursive CTE).",
    },
)


@register(
    "ewma_smoothing_event_backend",
    doc="The SAME serialized EWMA plan on the THIRD compiler: the in-process "
    "per-record EventHandler (plans.backend_event — the analog of the "
    "reference's EventHandlerClassGenerator.scala:36-80 embedding target). "
    "Deliberately driver-side: this backend exists to embed a pipeline as "
    "a plain function (a sidecar scoring one record at a time); the "
    "bounded collect IS the point, not a distributed-path defect — the "
    "same JSON plan deploys unchanged to the batch/streaming compilers "
    "when data outgrows one process. The demo runs on a BOUNDED slice "
    "(event_id <= 100000 — every row at the correctness/bench scale "
    "factors, a fixed slice beyond) because an embedded handler's cost is "
    "per-record single-process BY DESIGN: benching it on an unbounded "
    "corpus measures the collect, not the handler; production routes bulk "
    "volume to the distributed backends. Fed in event_id order (arrival "
    "order = processing order, doc/Milan Operations.md:27-51); same "
    "recursive-CTE shape as the other backends' twins, slice-filtered.",
    oracle=REGISTRY["ewma_smoothing"].oracle.replace(
        "FROM events", "FROM events WHERE event_id <= 100000"
    ),
)
def ewma_smoothing_event_backend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.plans.backend_event import compile_event
    from milan_spark.plans.nodes import from_json, to_json

    handler = compile_event(
        from_json(to_json(ewma_smoothing_plan())),
        schemas={"events": ["event_id", "user_id", "ts", "event_type", "value"]},
    )
    rows = (
        read_parquet(spark, f"{sf_dir}/events.parquet")
        .filter("event_id <= 100000")  # the bounded demo slice (see doc)
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
        .collect()
    )
    out = handler.process_many(r.asDict() for r in rows)
    return spark.createDataFrame(
        [(d["event_id"], d["user_id"], d["ewma_cents"]) for d in out],
        schema="event_id long, user_id long, ewma_cents long",
    )
