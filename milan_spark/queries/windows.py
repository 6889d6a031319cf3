"""Time/record/session window queries (SURVEY.md §2.5) with DuckDB oracles.

Window-start semantics: Spark's ``F.window`` is epoch-aligned with optional
offset — the oracles reproduce the assignment with date_trunc / epoch
arithmetic. The window start is the output key, matching the reference's
"group key = window start" rule (doc/Streams in Milan and streaming
operations.md:70-71).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from milan_spark.catalog import events, register, register_twins
from milan_spark.operators.windows import tumbling_window
from milan_spark.plans.nodes import Node
from milan_spark.sources import table

DEC = "decimal(18,6)"


# count and exact decimal sum, rounded back to double (the catalog's rule)
_N_TOTAL = {"n": "count(1)", "total": f"CAST(round(sum(CAST(value AS {DEC})), 2) AS DOUBLE)"}


def tumbling_window_daily_plan() -> Node:
    return Node(
        "time_window_aggregate",
        {"ts": "ts", "size": "1 day", "keys": ["event_type"], "aggs": _N_TOTAL},
        [events()],
    )


register_twins(
    tumbling_window_daily_plan,
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
FROM events
GROUP BY 1, 2
""",
    batch={
        "tumbling_window_daily": "Milan TumblingWindow (GroupingExpressions.scala:173): "
        "daily event counts and exact sums per event_type.",
    },
    streaming={
        "streaming_tumbling_window_daily": "Milan TumblingWindow on the streaming "
        "backend: watermarked daily windows (watermark = window size, "
        "WindowedStreamsGenerator.scala:129-130), complete-mode emission. Same plan "
        "and oracle as the batch twin.",
    },
)


@register(
    "tumbling_window_offset",
    doc="TumblingWindow with offset (GroupingExpressions.scala:173 'offset "
    "allows one to shift windows in time'): 1-day windows shifted by 6h.",
    oracle="""
SELECT to_timestamp(CAST(floor((epoch(ts) - 21600) / 86400) AS BIGINT) * 86400 + 21600) AT TIME ZONE 'UTC' AS window_start,
       COUNT(*) AS n
FROM events
GROUP BY 1
""",
)
def tumbling_window_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return tumbling_window(ev, "ts", "1 day", offset="6 hours", aggs=[F.count(F.lit(1)).alias("n")])


def sliding_window_hourly_plan() -> Node:
    return Node(
        "time_window_aggregate",
        {"ts": "ts", "size": "2 hours", "slide": "1 hour", "aggs": _N_TOTAL},
        [events()],
    )


register_twins(
    sliding_window_hourly_plan,
    oracle="""
WITH assigned AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) - k * INTERVAL 1 HOUR AS window_start, value
  FROM events, UNNEST([0, 1]) AS t(k)
)
SELECT window_start,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
FROM assigned
GROUP BY 1
""",
    batch={
        "sliding_window_hourly": "Milan SlidingWindow (GroupingExpressions.scala:245, doc/Milan "
        "Operations.md:18-25): 2-hour windows sliding hourly; each record lands in 2 windows.",
    },
    streaming={
        "streaming_sliding_window_hourly": "Milan SlidingWindow on the streaming "
        "backend: 2-hour windows sliding hourly, watermarked, complete-mode. Same "
        "plan and oracle as the batch twin.",
    },
)


def record_window_trailing_plan() -> Node:
    trail = Node(
        "record_window",
        {
            "n": 5,
            "aggs": {"__trail_sum_dec": f"sum(CAST(value AS {DEC}))", "trail_n": "count(1)"},
            "keys": ["user_id"],
            "seq": "event_id",
        },
        [Node("map", {"exprs": ["event_id", "user_id", "value"]}, [events()])],
    )
    return Node(
        "map",
        {"exprs": ["event_id", "user_id",
                   "CAST(round(__trail_sum_dec, 2) AS DOUBLE) AS trail_sum", "trail_n"]},
        [trail],
    )


register_twins(
    record_window_trailing_plan,
    oracle="""
SELECT event_id, user_id,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) OVER
         (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS trail_sum,
       COUNT(*) OVER
         (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS trail_n
FROM events
""",
    batch={
        "record_window_trailing": "Milan SlidingRecordWindow (GroupingExpressions.scala:104, "
        "RecordWindowGenerator.scala:19): per-user trailing-5-event aggregate on every "
        "arrival, arrival order = event_id.",
    },
    streaming={
        "streaming_record_window_trailing": "Milan SlidingRecordWindow on the "
        "streaming backend (bounded per-key list state ≈ the reference's "
        "priority-queue state): per-user trailing-5 aggregate on every arrival. The "
        "state fold sums the JVM-cast decimals exactly; the rounding map runs in the "
        "JVM as in batch. Same plan and oracle as the batch twin.",
    },
)


def session_window_gap_plan() -> Node:
    sessions = Node(
        "session_window_aggregate",
        {"ts": "ts", "gap": "30 minutes", "keys": ["user_id"], "aggs": {"n_events": "count(1)"}},
        [events()],
    )
    return Node(
        "map", {"exprs": ["user_id", "session_start", "session_end", "n_events"]}, [sessions]
    )


register_twins(
    session_window_gap_plan,
    oracle="""
WITH e AS (
  -- truncate TIMESTAMP_NS to Spark's microsecond timestamps
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
), d AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM d
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM s
GROUP BY user_id, sid
""",
    batch={
        "session_window_gap": "Session windows (exceeds-parity, SURVEY §2.5 'absent — free if "
        "exposed'): per-user sessions with a 30-minute inactivity gap.",
    },
    streaming={
        "streaming_session_window_gap": "Session windows on the streaming backend "
        "(session_window + watermark = gap, complete mode): per-user 30-minute-gap "
        "sessions. Same plan and oracle as the batch twin.",
    },
)


@register(
    "tumbling_window_event_backend",
    doc="The round-9 event-backend widening exercised end-to-end: a "
    "serialized tumbling-window aggregate plan (group_by(event_type)."
    "tumbling_window(ts, 1 day).select(count, sum)) compiled by the "
    "in-process per-record EventHandler, which replays Catalyst's "
    "TimeWindowing assignment per record and emits refinements; the final "
    "snapshot per (window_start, event_type) is returned and hash-matched "
    "against plain GROUP BY SQL — training emission cadence AND window "
    "math pinned at once. Deliberately driver-side on the bounded demo "
    "slice (event_id <= 100000), like ewma_smoothing_event_backend: this "
    "backend embeds a pipeline as a plain function; bulk volume routes to "
    "the batch/streaming compilers from the SAME JSON.",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
WHERE event_id <= 100000
GROUP BY 1, 2
""",
)
def tumbling_window_event_backend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.plans.backend_event import compile_event
    from milan_spark.plans.nodes import from_json, to_json
    from milan_spark.stream import Stream

    path = f"{sf_dir}/events.parquet"
    s = (
        Stream.from_parquet(spark, path)
        .map(
            "event_type",
            "CAST(ts AS TIMESTAMP) AS ts",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .group_by("event_type")
        .tumbling_window("ts", "1 day")
        .select(n="count(*)", total_cents="sum(cents)")
    )
    handler = compile_event(
        from_json(to_json(s.node)),
        schemas={path: ["event_id", "user_id", "ts", "event_type", "value"]},
    )
    rows = (
        table(spark, sf_dir, "events")  # nanos-safe ts read
        .filter("event_id <= 100000")  # the bounded demo slice (see doc)
        .select("event_id", "ts", "event_type", "value")
        .orderBy("event_id")
        .collect()
    )
    # per-record refinement emissions; the LAST per group is the answer
    final: dict[tuple, dict] = {}
    for d in handler.process_many(r.asDict() for r in rows):
        final[(d["window_start"], d["event_type"])] = d
    return spark.createDataFrame(
        [
            (d["window_start"], d["event_type"], d["n"], d["total_cents"])
            for d in final.values()
        ],
        schema="window_start timestamp, event_type string, n long, total_cents long",
    )
