"""Streaming-backend queries: Structured Streaming runs (readStream →
stateful op / windowed agg → memory sink), each a bounded stream
(availableNow trigger) run to completion, returning the sink table —
final-state equivalence, which for per-record operators (joins, scans) is
exact per-record equivalence.

This is the reference's primary execution mode (IR → Flink streaming job,
``flink/generator/FlinkGenerator.scala:63-87``). A streaming twin of a batch
query is not written here: ``catalog.register_twins`` registers both names
from one plan, which ``compile_node`` and ``compile_node_streaming`` each
compile (``streaming_left_enrichment_join``, the window, scan, dedup and
EWMA twins, ``streaming_from_ir``, ``streaming_left_windowed_join_ir``).
What stays here are the streams with their own oracle, and the twins whose
stream runs a different algorithm from the batch side (the list is in
``register_twins``'s docstring).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from milan_spark.catalog import REGISTRY, register

# imported for registration side effects — this module shares their oracles
from milan_spark.queries import advanced as _advanced  # noqa: F401
from milan_spark.queries import analytics as _analytics  # noqa: F401
from milan_spark.queries import joins as _joins  # noqa: F401
from milan_spark.sources import events_stream
from milan_spark.streaming import _start, await_finished, run_to_memory, windowed_agg
from milan_spark.streaming import stateful


@register(
    "streaming_asof_purchase_view",
    doc="As-of join on the streaming backend: the event stream arrives in "
    "timestamp order (verified: zero ts inversions in the corpus), so the "
    "per-key last-right value state IS the backward as-of match; the 3-day "
    "tolerance nulls stale matches at emission. Equal-ts ties would pair "
    "only an earlier-arrived right (no such ties exist in the corpus). Same "
    "oracle as the batch twin.",
    oracle=REGISTRY["asof_join_purchase_view"].oracle,
)
def streaming_asof_purchase_view_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", F.col("event_id").alias("__seq")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts_us", F.col("event_id").alias("__seq")
    )
    joined = stateful.left_enrichment_join(purch, views, on="user_id")
    tol = 3 * 86_400 * 10**6
    gap = F.col("ts_us") - F.col("r_ts_us")
    out = joined.select(
        "event_id",
        "user_id",
        F.when(gap <= tol, F.col("r_event_id")).alias("view_event_id"),
        F.when(gap <= tol, gap).alias("gap_us"),
    )
    return run_to_memory(out, "streaming_asof_purchase_view")


@register(
    "streaming_tumbling_window_per_record",
    doc="Per-record emission for windowed aggregates — the reference's "
    "every-element trigger (RecordWrapperEveryElementTrigger.scala:15-19), "
    "which the plain streaming windowed agg relaxes to per-microbatch: a "
    "(window) value-state machine emits the refined daily count/total on "
    "EVERY event. The oracle checks the full refinement history (cumulative "
    "window per day in arrival order), not just final window states.",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_id AS seq,
       CAST(COUNT(*) OVER w AS BIGINT) AS n,
       CAST(SUM(cents) OVER w AS BIGINT) AS total_cents
FROM (SELECT ts, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
WINDOW w AS (PARTITION BY date_trunc('day', ts) ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def streaming_tumbling_window_per_record_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    out = stateful.windowed_agg_per_record(
        ev,
        "ts",
        "1 day",
        {
            "n": ("count", "1"),
            "total_cents": ("sum", "cast(floor(value * 100 + 0.5) as bigint)"),
        },
        seq="event_id",
    )
    return run_to_memory(out, "streaming_tumbling_window_per_record")


def _t(d: str):
    return F.lit(d).cast("timestamp")


def _sliced_stream(frame: DataFrame, preds: list, prefix: str) -> DataFrame:
    """``frame`` as a stream of one microbatch per predicate, in order: each
    slice is staged as one parquet file with a pinned, increasing mtime
    (FileStreamSource orders new files by it) and read back with
    ``maxFilesPerTrigger=1``.

    ONE source pass: the slice id is a CASE column and the write is
    partitioned on it (each slice's rows land in one task, so one file per
    slice), not one filtered scan and ``coalesce(1)`` job per slice; scan
    count is the staging cost that matters when the source is 100 TB. An
    empty slice is staged as an empty file, so the microbatch count (which
    watermark choreography depends on) holds. The stream is pinned to the
    schema written, so no job infers it back; the file stream reader makes
    every field nullable, as a parquet read does."""
    import os
    import shutil
    import tempfile

    stage = tempfile.mkdtemp(prefix=prefix)
    sl = F.lit(None).cast("int")
    for i, pred in enumerate(preds):
        sl = F.when(pred, F.lit(i)).otherwise(sl)
    tmp = os.path.join(stage, "__tmp")
    (
        frame.withColumn("__slice", sl)
        # a null slice (null ts) would otherwise shuffle into the
        # __HIVE_DEFAULT_PARTITION__ dir only to be discarded by the rmtree
        .filter(F.col("__slice").isNotNull())
        .repartition(len(preds), "__slice")
        .write.partitionBy("__slice")
        .parquet(tmp)
    )
    for i in range(len(preds)):
        src_dir = os.path.join(tmp, f"__slice={i}")
        dst = os.path.join(stage, f"batch{i}.parquet")
        if not os.path.isdir(src_dir):
            frame.limit(0).coalesce(1).write.parquet(src_dir)
        parts = [f for f in os.listdir(src_dir) if f.endswith(".parquet")]
        # one file per slice is what repartition-on-slice guarantees; a
        # config that splits files (maxRecordsPerFile) would silently drop
        # microbatch rows here, so fail loudly instead
        assert len(parts) == 1, f"expected 1 part in {src_dir}, found {parts}"
        shutil.move(os.path.join(src_dir, parts[0]), dst)
        os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
    shutil.rmtree(tmp)
    return (
        frame.sparkSession.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


@register(
    "streaming_watermark_late_drop",
    doc="Watermark LATE-DATA semantics, oracle-checked end to end: the events "
    "table arrives as four deterministic microbatches (FileStreamSource "
    "with maxFilesPerTrigger=1 over staged files ordered by mtime): the "
    "pre-Jan-10 slice, two post-Jan-20 slices (advancing the watermark), "
    "and LAST the middle Jan-10..20 slice, by then entirely behind the "
    "watermark. Two late-period batches are needed, not one: Spark's "
    "late-row filter uses the watermark as of the START of the previous "
    "batch (one batch behind the eviction watermark — verified from the "
    "StateStoreSave plan's two watermark values), so data that advances "
    "the watermark must land TWO batches before the late slice for the "
    "drop to fire. Append-mode daily windows with a 1-day watermark then "
    "(a) DROP every middle-slice row (numRowsDroppedByWatermark = its full "
    "count), and (b) withhold the still-open final days. The oracle "
    "derives exactly that set: accepted rows only, windows whose end ≤ "
    "max(ts) − 1 day. "
    "This is the semantics contract Structured Streaming gives a 100 TB "
    "out-of-order ingest — state is bounded by the watermark horizon, not "
    "by stream length.",
    oracle="""
WITH accepted AS (
  SELECT * FROM events
  WHERE ts < TIMESTAMP '2024-01-10' OR ts >= TIMESTAMP '2024-01-20'
),
wm AS (SELECT MAX(ts) - INTERVAL 1 DAY AS w FROM accepted)
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM accepted, wm
WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm.w
GROUP BY 1, 2
""",
)
def streaming_watermark_late_drop_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.sources import table

    ts = F.col("ts")
    sdf = _sliced_stream(
        table(spark, sf_dir, "events"),
        [
            ts < _t("2024-01-10"),
            (ts >= _t("2024-01-20")) & (ts < _t("2024-01-25")),
            ts >= _t("2024-01-25"),
            (ts >= _t("2024-01-10")) & (ts < _t("2024-01-20")),
        ],
        "milan_late_",
    )
    out = windowed_agg(
        sdf,
        "ts",
        "1 day",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("cents"),
        ],
        watermark="1 day",
    )
    return run_to_memory(out, "streaming_watermark_late_drop", output_mode="append")


@register(
    "streaming_interval_join",
    doc="Native stream-stream interval join (StreamingSymmetricHashJoin): "
    "each purchase joins the same user's views from the trailing day — "
    "both sides watermarked 1 day, the time-range condition bounds state "
    "retention to the interval width. This is the JVM join path the "
    "engine prefers over the Python state machines when the "
    "semantics fit Spark's native operator: state is keyed and "
    "watermark-evicted on both sides, no Python in the plan, and at "
    "100 TB each side shuffles once on user_id into co-located state "
    "stores. Oracle: the identical interval join in SQL.",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id, p.value AS purchase_value,
       v.event_id AS view_id, v.value AS view_value
FROM events p, events v
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
  AND p.user_id = v.user_id
  AND v.ts >= p.ts - INTERVAL 1 DAY AND v.ts <= p.ts
""",
)
def streaming_interval_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)  # both sides: one source per microbatch
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("value").alias("purchase_value"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 day")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("value").alias("view_value"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 day")
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 DAY"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", "user_id", "purchase_value", "view_id", "view_value")
    return run_to_memory(joined, "streaming_interval_join")


@register(
    "streaming_drop_duplicates",
    doc="Native streaming deduplication (DropDuplicatesExec with keyed "
    "state): the events stream unioned with itself — every record arrives "
    "twice — then dropDuplicates on event_id; the audit aggregate proves "
    "the duplicate copies vanished exactly. The streaming twin of "
    "exact_dedup for the ingest path: at 100 TB the state store holds one "
    "key per live event_id (bounded by a watermark TTL in production "
    "ingest), and the union never materializes — both legs stream through "
    "one keyed exchange. Oracle: the same aggregate over the naturally "
    "distinct base table.",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY 1
""",
)
def streaming_drop_duplicates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    b = events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    deduped = a.unionByName(b).dropDuplicates(["event_id"])
    out = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("cents"),
    )
    return run_to_memory(out, "streaming_drop_duplicates", output_mode="complete")


@register(
    "streaming_hot_event_types",
    doc="Streaming hot-key detection (stateful.streaming_heavy_hitters): "
    "mergeable Misra-Gries summaries in keyed value state "
    "(applyInPandasWithState), "
    "O(buckets × capacity) state regardless of stream length or key "
    "cardinality. With capacity 64 ≥ the 5-value event_type domain no "
    "eviction fires, so the final snapshot's lower bounds ARE the exact "
    "counts and the oracle is plain GROUP BY + share threshold (the "
    "eviction/bound regime — 20k-item vocab vs capacity 60 — is asserted "
    "in tests/test_streaming_heavyhitters.py). Latest-version-per-bucket "
    "reconstruction mirrors how any downstream sink consumes the versioned "
    "snapshots.",
    oracle="""
WITH c AS (SELECT event_type AS item, COUNT(*) AS n FROM events WHERE event_type IS NOT NULL GROUP BY event_type),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM c)
SELECT item, n, (SELECT n_total FROM tot) AS n_total
FROM c WHERE n * 10 >= (SELECT n_total FROM tot)
""",
)
def streaming_hot_event_types_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = events_stream(spark, sf_dir).select("event_type")
    snaps = stateful.streaming_heavy_hitters(ev, "event_type", capacity=64, n_buckets=4)
    table = run_to_memory(snaps, "streaming_hot_event_types")
    w = W.partitionBy("bucket")
    cur = table.withColumn("__maxv", F.max("version").over(w)).where(
        F.col("version") == F.col("__maxv")
    )
    tot = (
        cur.select("bucket", "bucket_rows")
        .distinct()
        .agg(F.sum("bucket_rows").cast("long").alias("n_total"))
    )
    return (
        cur.crossJoin(F.broadcast(tot))
        .where(F.col("lb") * 10 >= F.col("n_total"))
        .select("item", F.col("lb").alias("n"), "n_total")
    )


@register(
    "streaming_cms_user_counts",
    doc="Streaming count-min sketch (stateful.streaming_cms, depth 4 x "
    "width 64 — below the ~1.5k-user domain so collisions exercise the "
    "min-over-rows recovery): cell indices computed JVM-side, one state "
    "group per hash row holding its 64 counters (O(depth*width) state "
    "forever), versioned snapshots reconstructed latest-per-row, then "
    "user_id < 20 point-queried against the final sketch. The streamed "
    "sketch equals the batch construction of the same multiset, so the "
    "oracle replicates it cell-for-cell.",
    oracle="""
WITH u AS (
  SELECT user_id, COUNT(*) AS n_true FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
f AS (
  SELECT user_id, n_true,
         (list_reduce(list_transform(regexp_extract_all(CAST(user_id AS VARCHAR), '.'),
          c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 31 + c) % 2147483647)
          * 2654435761) % 2147483647 AS s
  FROM u
),
sk AS (
  SELECT r.i AS r, ((2 * r.i + 1) * s + r.i * r.i + 17) % 2147483647 % 64 AS i,
         SUM(n_true) AS c
  FROM f, range(4) r(i) GROUP BY 1, 2
),
probe AS (
  SELECT user_id, n_true, r.i AS r,
         ((2 * r.i + 1) * s + r.i * r.i + 17) % 2147483647 % 64 AS i
  FROM f, range(4) r(i) WHERE user_id < 20
)
SELECT p.user_id, p.n_true, CAST(MIN(sk.c) AS BIGINT) AS est
FROM probe p JOIN sk ON sk.r = p.r AND sk.i = p.i
GROUP BY 1, 2
""",
)
def streaming_cms_user_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from milan_spark.operators.sketch import _cms_fold, _cms_row_idx
    from milan_spark.sources import table as batch_table

    ev = events_stream(spark, sf_dir).select("user_id")
    snaps = stateful.streaming_cms(ev, "user_id", depth=4, width=64)
    t = run_to_memory(snaps, "streaming_cms_user_counts_snaps")
    w = W.partitionBy("r")
    cur = (
        t.withColumn("__mv", F.max("version").over(w))
        .where(F.col("version") == F.col("__mv"))
        .select("r", "i", "c")
    )
    evb = batch_table(spark, sf_dir, "events")
    truth = (
        evb.where(F.col("user_id").isNotNull() & (F.col("user_id") < 20))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    probes = truth.select(
        "user_id", "n_true", _cms_fold(F.col("user_id").cast("string")).alias("__s")
    )
    pcells = probes.select(
        "user_id",
        "n_true",
        F.explode(
            F.array(*[
                F.struct(F.lit(r).alias("r"), _cms_row_idx(F.col("__s"), r, 64).alias("i"))
                for r in range(4)
            ])
        ).alias("__cell"),
    ).select("user_id", "n_true", F.col("__cell.r").alias("r"), F.col("__cell.i").alias("i"))
    return (
        pcells.join(F.broadcast(cur), ["r", "i"], "left")
        .groupBy("user_id", "n_true")
        .agg(F.min(F.coalesce("c", F.lit(0))).cast("long").alias("est"))
    )


@register(
    "streaming_static_enrichment",
    doc="Stream-static dimension enrichment — the deployment-default join "
    "topology for streams at 100 TB/day: the fact STREAMS, the dimension "
    "is a batch table broadcast into every microbatch (re-resolved per "
    "batch, so a slowly-changing dim picks up updates between batches); "
    "no state store, no watermark, no stream-stream buffering. Spark "
    "executes this natively (stream-static equi-join → BroadcastHashJoin "
    "inside each microbatch). Oracle: the identical join + aggregate as "
    "one batch SQL.",
    oracle="""
SELECT c.c_nationkey AS nationkey, COUNT(*) AS n,
       CAST(SUM(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM events e, customer c
WHERE c.c_custkey = e.user_id
GROUP BY c.c_nationkey
""",
)
def streaming_static_enrichment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.sources import table

    ev = events_stream(spark, sf_dir).select("user_id", "value")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    out = joined.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("cents"),
    )
    return run_to_memory(out, "streaming_static_enrichment", output_mode="complete")


@register(
    "streaming_hll_distinct_users",
    doc="Streaming HyperLogLog (stateful.streaming_hll, m=64 registers "
    "over the portable scrambled char-fold): register index + leading-zero "
    "rank computed JVM-side, one max-merging state group per register — "
    "O(64 ints) state forever, idempotent under replay. Latest snapshot "
    "per register folded through operators.sketch.hll_estimate; equals the "
    "batch sketch of the same value set, so the oracle replicates it "
    "register-for-register.",
    oracle="""
WITH h AS (
  SELECT (list_reduce(list_transform(regexp_extract_all(CAST(user_id AS VARCHAR), '.'),
          c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 31 + c) % 2147483647)
          * 2654435761) % 2147483647 AS h0
  FROM events WHERE user_id IS NOT NULL
), reg AS (
  SELECT h0 % 64 AS reg,
         CASE WHEN h0 // 64 = 0 THEN 26
              ELSE 26 - length(bin(CAST(h0 // 64 AS BIGINT))) END AS rho
  FROM h
), mx AS (
  SELECT reg, MAX(rho) AS m FROM reg GROUP BY 1
), agg AS (
  SELECT COUNT(*) AS n_regs,
         CAST(SUM(CAST(round(67108864.0 / 2.0 ** m, 0) AS BIGINT)) AS BIGINT)
           AS present_scaled
  FROM mx
), folded AS (
  SELECT n_regs, 64 - n_regs AS v_zero,
         present_scaled + (64 - n_regs) * 67108864 AS sum_scaled
  FROM agg
)
SELECT n_regs, v_zero, sum_scaled,
       round(CASE WHEN 0.7093409548395029e0 * 4096.0 * 67108864.0
                       / CAST(sum_scaled AS DOUBLE) <= 160.0 AND v_zero > 0
                  THEN 64.0 * ln(64.0 / CAST(v_zero AS DOUBLE))
                  ELSE 0.7093409548395029e0 * 4096.0 * 67108864.0
                       / CAST(sum_scaled AS DOUBLE) END, 4) AS distinct_est
FROM folded
""",
)
def streaming_hll_distinct_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from milan_spark.operators.sketch import hll_estimate

    ev = events_stream(spark, sf_dir).select("user_id")
    snaps = stateful.streaming_hll(ev, "user_id")
    t = run_to_memory(snaps, "streaming_hll_distinct_users_snaps")
    w = W.partitionBy("reg")
    cur = (
        t.withColumn("__mv", F.max("version").over(w))
        .where(F.col("version") == F.col("__mv"))
        .select("reg", "m")
    )
    return hll_estimate(cur)


@register(
    "application_bundle_run",
    doc="ApplicationInstance lifecycle end-to-end (ApplicationInstance.scala:"
    "27-30, ApplicationConfiguration.scala:29-154, TreeParser.scala:23-120): "
    "an Application bundle — external_stream plan + source binding by stream "
    "id + memory sink + metrics — is serialized to its portable JSON, "
    "deserialized, and run on the STREAMING backend (source -> plan -> "
    "memory sink); the result is hash-matched against the oracle.",
    oracle="""
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
""",
)
def application_bundle_run_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.application import Application
    from milan_spark.plans import Node

    plan = Node(
        "aggregate",
        {"keys": ["user_id"], "aggs": {"n": "count(*)", "total_cents": "sum(cents)"}},
        [
            Node(
                "map",
                {"exprs": ["user_id", "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents"]},
                [
                    Node(
                        "filter",
                        {"condition": "event_type = 'purchase'"},
                        [Node("external_stream", {"stream_id": "events"})],
                    )
                ],
            )
        ],
    )
    app = Application(
        app_id="bundle_purchase_rollup",
        plan=plan,
        sources={"events": {"kind": "parquet", "path": f"{sf_dir}/events.parquet"}},
        sink={"kind": "memory", "name": "application_bundle_out", "output_mode": "complete"},
        metrics={"n_groups": "count(*)"},
    )
    shipped = Application.from_json(app.to_json())  # the portable JSON is what runs
    return shipped.run_streaming(spark)


@register(
    "streaming_scd2_temporal_join",
    doc="SCD-2 temporal dimension join on the streaming backend: facts pair "
    "with the dimension version valid at their event time via the "
    "enrichment-join state machine keyed on ts_us as the sequence — the "
    "state machine's right-before-left tie order gives the exact >= as-of "
    "semantics (signup versions are unique per (user, ts) in this corpus, "
    "so no pre-dedup stage is needed). Same oracle as the batch twin "
    "(DuckDB's native ASOF JOIN).",
    oracle=REGISTRY["scd2_temporal_join"].oracle,
)
def streaming_scd2_temporal_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", "value", F.col("ts_us").alias("__seq")
    )
    dim = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("value").alias("signup_value"),
        F.col("ts_us").alias("valid_from_us"),
        F.col("ts_us").alias("__seq"),
    )
    joined = stateful.left_enrichment_join(facts, dim, on="user_id")
    out = joined.select(
        "event_id", "user_id", "ts_us", "value", "signup_value",
        F.col("valid_from_us"),
    )
    return run_to_memory(out, "streaming_scd2_temporal_join")


@register(
    "streaming_stream_stream_join",
    doc="NATIVE stream-stream join from the IR (the reference's "
    "TestFlinkGenJoin.scala:31-110 join programs are the semantic anchor; "
    "Spark's watermarked stream-stream join is the physical realization): "
    "a relational_join node carrying watermarks for both sides and an "
    "event-time range condition (purchase within 7 days at-or-after the "
    "signup) is serialized to JSON, deserialized, and compiled by the "
    "STREAMING backend - state for both sides is bounded by the watermark "
    "+ range condition, the canonical production shape. The batch backend "
    "evaluates the identical predicate (watermarks are streaming-only "
    "no-ops), so one JSON document means one answer on both compilers.",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id, p.value,
       s.event_id AS signup_id,
       epoch_ns(p.ts) // 1000 AS p_ts_us,
       epoch_ns(s.ts) // 1000 AS s_ts_us
FROM events p JOIN events s
  ON p.user_id = s.user_id
 AND p.event_type = 'purchase' AND s.event_type = 'signup'
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY
""",
)
def streaming_stream_stream_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.plans import Node, compile_node_streaming, from_json, to_json

    src = Node("parquet_source", {"path": f"{sf_dir}/events.parquet"})
    norm = Node(
        "map",
        {"exprs": ["user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "value", "event_type"]},
        [src],
    )
    left = Node(
        "map",
        {"exprs": ["user_id", "event_id AS purchase_id", "ts AS p_ts", "value"]},
        [Node("filter", {"condition": "event_type = 'purchase'"}, [norm])],
    )
    right = Node(
        "map",
        {"exprs": ["user_id", "event_id AS signup_id", "ts AS s_ts"]},
        [Node("filter", {"condition": "event_type = 'signup'"}, [norm])],
    )
    join = Node(
        "relational_join",
        {
            "on": ["user_id"],
            "how": "inner",
            "watermarks": {"left": ["p_ts", "1 hour"], "right": ["s_ts", "1 hour"]},
            "time_condition": "l.p_ts >= r.s_ts AND l.p_ts <= r.s_ts + INTERVAL 7 DAY",
        },
        [left, right],
    )
    out = Node(
        "map",
        {
            "exprs": [
                "purchase_id", "user_id", "value", "signup_id",
                "unix_micros(p_ts) AS p_ts_us", "unix_micros(s_ts) AS s_ts_us",
            ]
        },
        [join],
    )
    sdf = compile_node_streaming(from_json(to_json(out)), spark)
    return run_to_memory(sdf, "streaming_stream_stream_join")


@register(
    "streaming_scan_fold_from_ir",
    doc="scan_fold reachable FROM A DESERIALIZED PLAN on the streaming "
    "backend (round-7 gap: the state machine existed, only IR dispatch was "
    "missing): the declarative per-key fold node is lowered in the "
    "compiler by the same SURVEY-4 rewrite the batch path uses "
    "(scan_fold -> cum_window + filter + map) and runs as the keyed "
    "value-state scan - running purchase-cents total per user, emitting "
    "once the total clears 5000 cents. Oracle = the cumulative window "
    "restatement.",
    oracle="""
WITH c AS (
  SELECT user_id, event_id,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS run_cents
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id, event_id, run_cents FROM c WHERE run_cents > 5000
""",
)
def streaming_scan_fold_from_ir_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.plans import Node, compile_node_streaming, from_json, to_json

    src = Node("parquet_source", {"path": f"{sf_dir}/events.parquet"})
    pre = Node(
        "map",
        {
            "exprs": [
                "user_id", "event_id",
                "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
                "event_id AS __seq",
            ]
        },
        [Node("filter", {"condition": "event_type = 'purchase'"}, [src])],
    )
    fold = Node(
        "scan_fold",
        {
            "state": {"run_cents": None},
            "update": {"run_cents": "run_cents + cents"},
            "output": {"user_id": "user_id", "event_id": "event_id", "run_cents": "run_cents"},
            "emit_when": "run_cents > 5000",
            "keys": ["user_id"],
            "seq": "__seq",
        },
        [pre],
    )
    sdf = compile_node_streaming(from_json(to_json(fold)), spark)
    return run_to_memory(sdf, "streaming_scan_fold_from_ir")



# outer stream-stream join staging: the cohort slice first, then TWO
# far-future slices whose only job is to advance BOTH watermarks past the
# cohort (eviction uses min(left, right) watermark and fires one batch
# behind: batch1 advances the watermark past cohort+7d, batch2 evicts and
# null-pads every unmatched cohort row — exactly the two trailing batches
# the eviction rule requires; round 9 shipped a third, a pure ~0.7 s/batch
# /side floor that the oracle shows is dead weight). mtime pins FIFO
# arrival order. The slices partition the same event set, so the join's
# MATCHED pairs are unchanged by the regrouping; only eviction timing moves.
_COHORT_BOUNDS = [(None, "2024-01-10"), ("2024-01-20", "2024-01-24"),
                  ("2024-01-24", None)]


def _cohort_stream(ev: DataFrame, etype: str, cols, ts: str, prefix: str) -> DataFrame:
    """One side of an outer-join stream: the ``etype`` events projected to
    ``cols``, as one microbatch per ``_COHORT_BOUNDS`` slice of ``ts``."""
    preds = []
    for lo, hi in _COHORT_BOUNDS:
        pred = F.lit(True)
        if lo:
            pred = pred & (F.col(ts) >= _t(lo))
        if hi:
            pred = pred & (F.col(ts) < _t(hi))
        preds.append(pred)
    side = ev.filter(F.col("event_type") == etype).select(*cols)
    return _sliced_stream(side, preds, f"{prefix}{etype}_")


@register(
    "streaming_stream_stream_left_join",
    doc="NATIVE stream-stream LEFT OUTER join with watermark-bounded state "
    "and oracle-checked null-padding (exceeds the reference, whose "
    "relational joins are inner-only enrichment shapes): purchases from "
    "the pre-Jan-10 cohort left-join signups within the preceding 7 days. "
    "The recipe that makes outer results EXACT under Spark's eviction "
    "rules (late_drop's mtime-ordered FileStreamSource staging, "
    "maxFilesPerTrigger=1): both sides arrive as 4 deterministic "
    "microbatches - the cohort slice first, then three far-future slices "
    "whose only job is to advance BOTH watermarks ~2 weeks past the "
    "cohort (eviction uses min(left wm, right wm) and fires one batch "
    "behind, so two trailing batches guarantee every unmatched cohort "
    "purchase is evicted and null-padded before the stream drains). A "
    "post-join filter keeps cohort rows only, so the oracle is the "
    "TEXTBOOK SQL LEFT JOIN - zero watermark arithmetic leaks into it. "
    "State is bounded by the watermark horizon; at 100 TB each side "
    "shuffles once on user_id into co-located state stores.",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id,
       epoch_ns(p.ts) // 1000 AS p_ts_us,
       s.event_id AS signup_id,
       epoch_ns(s.ts) // 1000 AS s_ts_us
FROM (SELECT * FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-10') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY
""",
)
def streaming_stream_stream_left_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.sources import table

    ev = table(spark, sf_dir, "events")
    left = _cohort_stream(
        ev, "purchase",
        ["user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")],
        "p_ts", "milan_sslj_").withWatermark("p_ts", "1 hour")
    right = _cohort_stream(
        ev, "signup",
        [F.col("user_id").alias("s_user_id"), F.col("event_id").alias("signup_id"),
         F.col("ts").alias("s_ts")],
        "s_ts", "milan_sslj_").withWatermark("s_ts", "1 hour")
    cond = (
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 7 DAY"))
    )
    out = (
        left.join(right, cond, "left_outer")
        .filter(F.col("p_ts") < _t("2024-01-10"))
        .select(
            "purchase_id", "user_id",
            F.unix_micros("p_ts").alias("p_ts_us"),
            "signup_id",
            F.unix_micros("s_ts").alias("s_ts_us"),
        )
    )
    return run_to_memory(out, "streaming_stream_stream_left_join")


@register(
    "streaming_stream_stream_full_join",
    doc="NATIVE stream-stream FULL OUTER join, oracle-checked on BOTH "
    "null-padded sides (same staging recipe as the left-outer twin: "
    "cohort slice first, three far-future watermark-driver slices, "
    "maxFilesPerTrigger=1, eviction fires one batch behind min(left, "
    "right) watermark). The data gap [Jan-10, Jan-20) proves matched "
    "pairs are cohort-cohort: an old signup (s < Jan-10) cannot match a "
    "future purchase (p >= Jan-20 > s + 7d), so the post-join filter "
    "coalesce(p_ts, s_ts) < Jan-10 keeps exactly the cohort's matched "
    "pairs plus BOTH unmatched sides, and the oracle is the textbook SQL "
    "FULL JOIN of the two cohort slices - no watermark arithmetic in it.",
    oracle="""
SELECT p.event_id AS purchase_id,
       COALESCE(p.user_id, s.user_id) AS user_id,
       epoch_ns(p.ts) // 1000 AS p_ts_us,
       s.event_id AS signup_id,
       epoch_ns(s.ts) // 1000 AS s_ts_us
FROM (SELECT * FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-10') p
FULL JOIN (SELECT * FROM events
           WHERE event_type = 'signup' AND ts < TIMESTAMP '2024-01-10') s
  ON p.user_id = s.user_id
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY
""",
)
def streaming_stream_stream_full_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.sources import table

    ev = table(spark, sf_dir, "events")
    left = _cohort_stream(
        ev, "purchase",
        [F.col("user_id").alias("p_user_id"), F.col("event_id").alias("purchase_id"),
         F.col("ts").alias("p_ts")],
        "p_ts", "milan_ssfj_").withWatermark("p_ts", "1 hour")
    right = _cohort_stream(
        ev, "signup",
        [F.col("user_id").alias("s_user_id"), F.col("event_id").alias("signup_id"),
         F.col("ts").alias("s_ts")],
        "s_ts", "milan_ssfj_").withWatermark("s_ts", "1 hour")
    cond = (
        (F.col("p_user_id") == F.col("s_user_id"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 7 DAY"))
    )
    out = (
        left.join(right, cond, "full_outer")
        .filter(F.coalesce(F.col("p_ts"), F.col("s_ts")) < _t("2024-01-10"))
        .select(
            "purchase_id",
            F.coalesce(F.col("p_user_id"), F.col("s_user_id")).alias("user_id"),
            F.unix_micros("p_ts").alias("p_ts_us"),
            "signup_id",
            F.unix_micros("s_ts").alias("s_ts_us"),
        )
    )
    return run_to_memory(out, "streaming_stream_stream_full_join")


@register(
    "streaming_kinesis_emulated_roundtrip",
    doc="Queue connector lifecycle end to end (sources/queues.py - the "
    "engine twin of KinesisDataSink.scala:19 + KinesisDataSource.scala:35, "
    "declarative descriptors bound at analysis time): the purchase stream "
    "publishes through the emulated Kinesis SINK (one JSON message file "
    "per chunk, queue_limit=2000 bounding the producer buffer, mtime-"
    "ordered FIFO), then the emulated Kinesis SOURCE replays the queue as "
    "a second streaming query (mtime-ordered FIFO listing; many message "
    "files drain per microbatch) into a per-user rollup. Oracle = the "
    "direct SQL "
    "aggregate; equality proves the queue transport is lossless and "
    "exactly-once end to end. Remote coordinates bind real connectors or "
    "raise MilanConnectorError naming the package at analysis time.",
    oracle="""
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events WHERE event_type = 'purchase' GROUP BY user_id
""",
)
def streaming_kinesis_emulated_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.sources.queues import (
        KinesisDataSink,
        KinesisDataSource,
        local_queue,
        open_queue_sink,
        open_queue_source,
    )

    q = local_queue("kinesis_rt_")
    s = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase").select(
        "user_id", F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents")
    )
    sink = KinesisDataSink("rollup_feed", q, "local", queue_limit=2000)
    await_finished(open_queue_sink(s, sink.to_spec()))

    src = KinesisDataSource(q, "local", "user_id long, cents long")
    feed = open_queue_source(spark, src.to_spec())
    out = feed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total_cents")
    )
    return run_to_memory(
        out, "streaming_kinesis_emulated_roundtrip", output_mode="complete"
    )


@register(
    "streaming_psi_value_drift_daily",
    doc="PSI distribution-drift monitoring AS A STREAM (the production "
    "deployment shape of psi_value_drift / operators.diff.psi_drift): the "
    "base distribution is a static reference - view-value bucket counts, "
    "10 fixed-width buckets from the base min/max, a 10-row broadcast - "
    "and the purchase stream bucketizes row-locally against it (stream-"
    "static join BEFORE aggregation, the allowed shape), then one "
    "watermarked DAILY windowed count per (window, bucket) in complete "
    "mode. The PSI decoration (add-one-smoothed exact-int rationals, one "
    "ln per bucket, round(.,6)) is a batch epilogue over the O(windows x "
    "10) sink table - at 100 TB the stateful work is the windowed count; "
    "the epilogue never touches row-level data. Output: one row per "
    "(day, bucket) with its psi_contrib - sum within a day for that day's "
    "drift number, exactly the batch operator's discipline per window.",
    oracle="""
WITH stats AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi
  FROM events WHERE event_type = 'view' AND value IS NOT NULL
),
base AS (
  SELECT CASE WHEN s.hi = s.lo THEN 0
              ELSE LEAST(9, GREATEST(0,
                CAST(FLOOR((e.value - s.lo) * 10 / (s.hi - s.lo)) AS INT))) END AS bucket,
         COUNT(*) AS n
  FROM events e, stats s WHERE e.event_type = 'view' AND e.value IS NOT NULL
  GROUP BY 1
),
bgrid AS (
  SELECT r.bucket, CAST(COALESCE(base.n, 0) AS BIGINT) AS base_n
  FROM (SELECT unnest(range(10)) AS bucket) r LEFT JOIN base USING (bucket)
),
qt AS (SELECT SUM(base_n) AS q FROM bgrid),
p AS (
  SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS window_start,
         CASE WHEN s.hi = s.lo THEN 0
              ELSE LEAST(9, GREATEST(0,
                CAST(FLOOR((e.value - s.lo) * 10 / (s.hi - s.lo)) AS INT))) END AS bucket,
         COUNT(*) AS n
  FROM events e, stats s WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
  GROUP BY 1, 2
),
wgrid AS (
  SELECT w.window_start, r.bucket, CAST(COALESCE(p.n, 0) AS BIGINT) AS new_n
  FROM (SELECT DISTINCT window_start FROM p) w
  CROSS JOIN (SELECT unnest(range(10)) AS bucket) r
  LEFT JOIN p USING (window_start, bucket)
),
pt AS (SELECT window_start, SUM(new_n) AS t FROM wgrid GROUP BY 1)
SELECT g.window_start, g.bucket, b.base_n, g.new_n,
       ROUND(
         (CAST(g.new_n + 1 AS DOUBLE) / CAST(pt.t + 10 AS DOUBLE)
          - CAST(b.base_n + 1 AS DOUBLE) / CAST(qt.q + 10 AS DOUBLE))
         * ln((CAST(g.new_n + 1 AS DOUBLE) / CAST(pt.t + 10 AS DOUBLE))
              / (CAST(b.base_n + 1 AS DOUBLE) / CAST(qt.q + 10 AS DOUBLE))), 6
       ) AS psi_contrib
FROM wgrid g JOIN bgrid b USING (bucket) JOIN pt USING (window_start), qt
""",
)
def streaming_psi_value_drift_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.sources import table

    buckets = 10
    base = (
        table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "view") & F.col("value").isNotNull())
    )
    stats = base.agg(
        F.min("value").cast("double").alias("__lo"),
        F.max("value").cast("double").alias("__hi"),
    )

    def bucket_idx():
        return F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
            F.least(
                F.lit(buckets - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("value").cast("double") - F.col("__lo"))
                        * buckets
                        / (F.col("__hi") - F.col("__lo"))
                    ).cast("int"),
                ),
            )
        )

    bcounts = (
        base.crossJoin(F.broadcast(stats))
        .select(bucket_idx().alias("bucket"))
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    )
    bgrid = (
        spark.range(buckets).select(F.col("id").cast("int").alias("bucket"))
        .join(bcounts, "bucket", "left")
        .select("bucket", F.coalesce("n", F.lit(0)).alias("base_n"))
        .persist()
    )

    ev = events_stream(spark, sf_dir)
    new = (
        ev.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .crossJoin(F.broadcast(stats))
        .select("ts", bucket_idx().alias("bucket"))
        .withWatermark("ts", "1 day")
    )
    counts = (
        new.groupBy(F.window("ts", "1 day").alias("w"), "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "bucket", "n")
    )
    sink = run_to_memory(
        counts, "streaming_psi_value_drift_daily", output_mode="complete"
    )
    # re-materialize the O(windows x buckets) sink rows as a fresh frame:
    # the memory-sink VIEW cannot self-join (conflicting-attribute
    # resolution on the shared MemoryPlan), and the epilogue needs it twice
    sink = spark.createDataFrame(sink.collect(), sink.schema)

    # batch epilogue on the O(windows x buckets) sink table only
    wgrid = (
        sink.select("window_start").distinct()
        .crossJoin(spark.range(buckets).select(F.col("id").cast("int").alias("bucket")))
        .join(sink, ["window_start", "bucket"], "left")
        .select("window_start", "bucket", F.coalesce("n", F.lit(0)).alias("new_n"))
    )
    pt = wgrid.groupBy("window_start").agg(F.sum("new_n").alias("__pt"))
    qt = bgrid.agg(F.sum("base_n").alias("__qt"))
    sm = (
        wgrid.join(F.broadcast(bgrid), "bucket")
        .join(F.broadcast(pt), "window_start")
        .crossJoin(F.broadcast(qt))
    )
    p = (F.col("new_n") + 1).cast("double") / (F.col("__pt") + buckets).cast("double")
    q = (F.col("base_n") + 1).cast("double") / (F.col("__qt") + buckets).cast("double")
    return sm.select(
        "window_start", "bucket", "base_n", "new_n",
        F.round((p - q) * F.log(p / q), 6).alias("psi_contrib"),
    )


@register(
    "streaming_stream_stream_semi_join",
    doc="NATIVE stream-stream LEFT SEMI join from the IR, completing the "
    "stream-stream family (inner/left/full/semi — the reference's "
    "relational joins are inner-only enrichment shapes, TestFlinkGenJoin."
    "scala:31-110): signups that CONVERTED (a purchase within 7 days) as "
    "one relational_join node with how=left_semi, watermarks on both "
    "sides, and the event-time range condition bounding join state. Semi "
    "matches emit WITHOUT waiting for watermark eviction (each left row "
    "at most once), so no outer-join staging recipe is needed — the "
    "whole events file streams as one source. The batch backend compiles "
    "the identical node to a batch semi join, so one JSON document means "
    "one answer on both compilers; oracle is the textbook EXISTS.",
    oracle="""
SELECT s.event_id AS signup_id, s.user_id,
       epoch_ns(s.ts) // 1000 AS s_ts_us
FROM events s
WHERE s.event_type = 'signup' AND EXISTS (
  SELECT 1 FROM events p
  WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
    AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY)
""",
)
def streaming_stream_stream_semi_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.plans import Node, compile_node_streaming, from_json, to_json

    src = Node("parquet_source", {"path": f"{sf_dir}/events.parquet"})
    norm = Node(
        "map",
        {"exprs": ["user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type"]},
        [src],
    )
    left = Node(
        "map",
        {"exprs": ["user_id", "event_id AS signup_id", "ts AS s_ts"]},
        [Node("filter", {"condition": "event_type = 'signup'"}, [norm])],
    )
    right = Node(
        "map",
        {"exprs": ["user_id", "event_id AS purchase_id", "ts AS p_ts"]},
        [Node("filter", {"condition": "event_type = 'purchase'"}, [norm])],
    )
    join = Node(
        "relational_join",
        {
            "on": ["user_id"],
            "how": "left_semi",
            "watermarks": {"left": ["s_ts", "1 hour"], "right": ["p_ts", "1 hour"]},
            "time_condition": "r.p_ts >= l.s_ts AND r.p_ts <= l.s_ts + INTERVAL 7 DAY",
        },
        [left, right],
    )
    out = Node(
        "map",
        {"exprs": ["signup_id", "user_id", "unix_micros(s_ts) AS s_ts_us"]},
        [join],
    )
    sdf = compile_node_streaming(from_json(to_json(out)), spark)
    return run_to_memory(sdf, "streaming_stream_stream_semi_join")


@register(
    "streaming_zscore_anomaly",
    doc="Per-key running z-score anomaly flags on the streaming backend: the "
    "batch twin's cross-multiplied integer test — (v·n − s)² > 9·(n·s2 − "
    "s²) over PRIOR events, n_prior ≥ 8 — evaluated in per-key value "
    "state holding exact (n, Σv, Σv²) as arbitrary-precision ints (the "
    "Python state machine cannot overflow where fixed-width SQL sums "
    "must widen). Same Scan state shape as ScanProcessFunction.scala:17; "
    "same oracle as the batch twin.",
    oracle=REGISTRY["zscore_anomaly"].oracle,
)
def streaming_zscore_anomaly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir).select("event_id", "user_id", "value")

    def fold(state, rec):
        n, s, s2 = state
        v = int(math.floor(rec.value * 100 + 0.5))
        out = None
        if n >= 8 and (v * n - s) ** 2 > 9 * (n * s2 - s * s):
            out = {
                "event_id": int(rec.event_id),
                "user_id": int(rec.user_id),
                "value_cents": v,
                "n_prior": n,
            }
        return [n + 1, s + v, s2 + v * v], out

    out = stateful.scan(
        ev,
        fold,
        initial_state=[0, 0, 0],
        output_schema="event_id long, user_id long, value_cents long, n_prior long",
        keys=["user_id"],
        seq="event_id",
    )
    return run_to_memory(out, "streaming_zscore_anomaly")


@register(
    "streaming_conversion_funnel",
    doc="Streaming 3-step conversion funnel: per-user stage machine "
    "(view -> click within 30d -> purchase within 30d) in keyed value "
    "state, emitting a row the moment a stage completes — the live "
    "product-analytics shape (the batch conversion_funnel re-derives the "
    "same funnel as array algebra over event-TIME order; the streaming "
    "contract is ARRIVAL order, so this query carries its own oracle: "
    "chained per-step MIN-event_id joins with the same microsecond "
    "windows). State is 3 ints per user forever.",
    oracle="""
WITH base AS (
  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
  FROM events WHERE user_id IS NOT NULL
), v AS (
  SELECT user_id, MIN(event_id) AS v_eid FROM base
  WHERE event_type = 'view' GROUP BY 1
), vts AS (
  SELECT b.user_id, v.v_eid, b.ts_us AS v_us
  FROM v JOIN base b ON b.event_id = v.v_eid
), c AS (
  SELECT b.user_id, MIN(b.event_id) AS c_eid FROM base b JOIN vts USING (user_id)
  WHERE b.event_type = 'click' AND b.event_id > vts.v_eid
    AND b.ts_us > vts.v_us AND b.ts_us <= vts.v_us + 2592000000000
  GROUP BY 1
), cts AS (
  SELECT b.user_id, c.c_eid, b.ts_us AS c_us
  FROM c JOIN base b ON b.event_id = c.c_eid
), p AS (
  SELECT b.user_id, MIN(b.event_id) AS p_eid FROM base b JOIN cts USING (user_id)
  WHERE b.event_type = 'purchase' AND b.event_id > cts.c_eid
    AND b.ts_us > cts.c_us AND b.ts_us <= cts.c_us + 2592000000000
  GROUP BY 1
), pts AS (
  SELECT b.user_id, b.ts_us AS p_us FROM p JOIN base b ON b.event_id = p.p_eid
)
SELECT user_id, CAST(1 AS INT) AS stage_idx, v_us AS ts_us FROM vts
UNION ALL
SELECT user_id, CAST(2 AS INT), c_us FROM cts
UNION ALL
SELECT user_id, CAST(3 AS INT), p_us FROM pts
""",
)
def streaming_conversion_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    day30_us = 30 * 86400 * 1_000_000
    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select("event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us"))
    )

    def fold(state, rec):
        stage, v_us, c_us = state if state is not None else (0, 0, 0)
        if stage == 0 and rec.event_type == "view":
            return (1, rec.ts_us, 0), {"user_id": rec.user_id, "stage_idx": 1, "ts_us": rec.ts_us}
        if stage == 1 and rec.event_type == "click" and v_us < rec.ts_us <= v_us + day30_us:
            return (2, v_us, rec.ts_us), {"user_id": rec.user_id, "stage_idx": 2, "ts_us": rec.ts_us}
        if stage == 2 and rec.event_type == "purchase" and c_us < rec.ts_us <= c_us + day30_us:
            return (3, v_us, c_us), {"user_id": rec.user_id, "stage_idx": 3, "ts_us": rec.ts_us}
        return (stage, v_us, c_us), None

    out = stateful.scan(
        ev,
        fold,
        initial_state=None,
        output_schema="user_id long, stage_idx int, ts_us long",
        keys=["user_id"],
        seq="event_id",
    )
    return run_to_memory(out, "streaming_conversion_funnel")


@register(
    "streaming_weighted_sample",
    doc="Streaming weighted reservoir sampling WITHOUT replacement "
    "(Efraimidis-Spirakis A-ES — the actual reservoir algorithm the batch "
    "weighted_sample linearizes): top-10 events per type by exponential "
    "key -ln(u)/value, where u is the record's deterministic content hash "
    "(computed JVM-side on the stream — the Python state machine only "
    "maintains the 10-row reservoir per key). Because the ES key is a "
    "property of the record, the streamed reservoir's final snapshot is "
    "BIT-IDENTICAL to the batch two-phase top-n — the oracle is the plain "
    "ranked formulation. Snapshots are versioned; the query reconstructs "
    "latest-per-stratum, the versioned-sink contract every stateful "
    "summary here follows. State: 10 (es, id) pairs per stratum, forever.",
    oracle=f"""
WITH es AS (
  SELECT event_id, event_type,
         round(-ln(CAST(({_analytics._BUCKET.format(s="CAST(event_id AS VARCHAR)", n=1073741824)}
                         * 2654435761) % 2147483647 + 1 AS DOUBLE) / 2147483648e0)
               / CAST(value AS DOUBLE), 9) AS es_key
  FROM events WHERE value > 0 AND event_type IS NOT NULL
)
SELECT event_id, event_type, es_key, sample_rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY es_key, event_id) AS sample_rank
  FROM es
) WHERE sample_rank <= 10
""",
)
def streaming_weighted_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from milan_spark.operators.sampling import hash_bucket

    p31 = 2_147_483_647
    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("value").isNotNull() & (F.col("value") > 0) & F.col("event_type").isNotNull())
        .select("event_id", "event_type", "value")
    )
    h = hash_bucket(F.col("event_id"), 1 << 30).cast("long")
    u = ((h * F.lit(2_654_435_761) % F.lit(p31)) + F.lit(1)).cast("double") / F.lit(float(p31 + 1))
    ev = ev.select(
        "event_id", "event_type",
        F.round(-F.log(u) / F.col("value").cast("double"), 9).alias("es_key"),
    )

    def fold(state, rec):
        version, items = state if state is not None else (0, [])
        cand = [rec.es_key, rec.event_id]
        if len(items) < 10:
            items = sorted(items + [cand])
        elif cand < items[-1]:
            items = sorted(items[:-1] + [cand])
        else:
            return (version, items), None
        version += 1
        return (version, items), {
            "event_type": rec.event_type,
            "version": version,
            "items": [{"es_key": e, "event_id": i} for e, i in items],
        }

    snaps = stateful.scan(
        ev,
        fold,
        initial_state=None,
        output_schema="event_type string, version long, "
        "items array<struct<es_key double, event_id long>>",
        keys=["event_type"],
        seq="event_id",
    )
    tbl = run_to_memory(snaps, "streaming_weighted_sample")
    w = W.partitionBy("event_type")
    cur = tbl.withColumn("__maxv", F.max("version").over(w)).where(
        F.col("version") == F.col("__maxv")
    )
    return cur.select(
        "event_type", F.posexplode("items").alias("pos", "it")
    ).select(
        F.col("it.event_id").alias("event_id"),
        "event_type",
        F.col("it.es_key").alias("es_key"),
        (F.col("pos") + 1).cast("int").alias("sample_rank"),
    )


@register(
    "streaming_twap_user_value",
    doc="Streaming time-weighted average: each arrival closes the previous "
    "observation's holding interval (state = last (ts, cents) per user), "
    "the closed interval emits as a row, and the versioned-sink "
    "post-aggregate applies the same DECIMAL(38) exact-sum TWAP formula "
    "as the batch twin. The streaming contract is ARRIVAL order, so the "
    "oracle is the batch formulation with LEAD ordered by event_id.",
    oracle="""
WITH base AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE user_id IS NOT NULL
), iv AS (
  SELECT user_id, cents,
         LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY event_id) - ts_us AS dur_us
  FROM base
)
SELECT user_id,
       COUNT(*) AS n_intervals,
       CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
       round(CAST(SUM(CAST(cents AS DECIMAL(38,0)) * CAST(dur_us AS DECIMAL(38,0))) AS DOUBLE)
             / CAST(SUM(dur_us) AS DOUBLE), 4) AS twap_cents
FROM iv WHERE dur_us IS NOT NULL AND dur_us > 0
GROUP BY 1
""",
)
def streaming_twap_user_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        )
    )

    def fold(state, rec):
        out = None
        if state is not None:
            prev_ts, prev_cents = state
            dur = rec.ts_us - prev_ts
            if dur > 0:
                out = {"user_id": rec.user_id, "cents": prev_cents, "dur_us": dur}
        return (rec.ts_us, rec.cents), out

    intervals = stateful.scan(
        ev,
        fold,
        initial_state=None,
        output_schema="user_id long, cents long, dur_us long",
        keys=["user_id"],
        seq="event_id",
    )
    tbl = run_to_memory(intervals, "streaming_twap_user_value")
    d38 = "decimal(38,0)"
    return tbl.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dur_us").cast("long").alias("total_dur_us"),
        F.round(
            F.sum(F.col("cents").cast(d38) * F.col("dur_us").cast(d38)).cast("double")
            / F.sum("dur_us").cast("double"),
            4,
        ).alias("twap_cents"),
    )


@register(
    "streaming_sequence_dfa",
    doc="Streaming sequential-pattern matching as a per-key DFA in value "
    "state (the MATCH_RECOGNIZE-lite, live): the view->click->purchase "
    "motif compiles to a 3-state machine (reset-on-mismatch is exact for "
    "a borderless pattern — identical to non-overlapping left-to-right "
    "REPLACE counting); each completed match emits the user's running "
    "count, the post-aggregate keeps the max. O(2 ints) state per user "
    "forever. Oracle: arrival-order string_agg + REPLACE arithmetic, "
    "matches > 0.",
    oracle="""
WITH base AS (
  SELECT user_id, event_id,
         CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
              WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' ELSE 'e' END AS letter
  FROM events WHERE user_id IS NOT NULL
), seqs AS (
  SELECT user_id, string_agg(letter, '' ORDER BY event_id) AS s FROM base GROUP BY 1
)
SELECT user_id,
       CAST((length(s) - length(replace(s, 'vcp', ''))) // 3 AS BIGINT) AS n_vcp
FROM seqs
WHERE length(s) - length(replace(s, 'vcp', '')) > 0
""",
)
def streaming_sequence_dfa_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.when(F.col("event_type") == "view", "v")
            .when(F.col("event_type") == "click", "c")
            .when(F.col("event_type") == "purchase", "p")
            .when(F.col("event_type") == "signup", "s")
            .otherwise("e")
            .alias("letter"),
        )
    )
    # DFA for 'vcp' (no proper border, so mismatch resets clean — except a
    # fresh 'v' restarts at state 1 from ANY state)
    def fold(state, rec):
        dfa, n = state if state is not None else (0, 0)
        ch = rec.letter
        if dfa == 0:
            dfa = 1 if ch == "v" else 0
        elif dfa == 1:
            dfa = 2 if ch == "c" else (1 if ch == "v" else 0)
        else:  # dfa == 2
            if ch == "p":
                n += 1
                return (0, n), {"user_id": rec.user_id, "n_vcp": n}
            dfa = 1 if ch == "v" else 0
        return (dfa, n), None

    matches = stateful.scan(
        ev,
        fold,
        initial_state=None,
        output_schema="user_id long, n_vcp long",
        keys=["user_id"],
        seq="event_id",
    )
    tbl = run_to_memory(matches, "streaming_sequence_dfa")
    return tbl.groupBy("user_id").agg(F.max("n_vcp").alias("n_vcp"))


def _purchase_rollup_app(sf_dir: str, sink: dict):
    """Shared 3-stage program for the partitioned-application queries:
    filter purchases -> cents projection -> per-user rollup -> derived
    average. Returns (Application, cut-candidate node ids by name)."""
    from milan_spark.application import Application
    from milan_spark.plans import Node

    proj = Node(
        "map",
        {"exprs": ["user_id", "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents"]},
        [
            Node(
                "filter",
                {"condition": "event_type = 'purchase'"},
                [Node("external_stream", {"stream_id": "events"})],
            )
        ],
    )
    agg = Node(
        "aggregate",
        {"keys": ["user_id"], "aggs": {"total_cents": "sum(cents)", "n": "count(*)"}},
        [proj],
    )
    final = Node(
        "map",
        {
            "exprs": [
                "user_id", "total_cents", "n",
                "CAST(floor(total_cents / n) AS BIGINT) AS avg_cents",
            ]
        },
        [agg],
    )
    app = Application(
        app_id="purchase_rollup",
        plan=final,
        sources={"events": {"kind": "parquet", "path": f"{sf_dir}/events.parquet"}},
        sink=sink,
    )
    return app, {"proj": proj.node_id, "agg": agg.node_id}


@register(
    "partitioned_application_two_part",
    doc="The reference's application partitioner end-to-end (graph/partition/"
    "package.scala:17-86, ApplicationPartitioner.scala:1): ONE program is "
    "split at its rollup node into two sub-applications — the upstream "
    "part's head becomes a queue sink, the terminal part binds the cut as "
    "an external_stream over the matching queue source (emulated Kinesis), "
    "with the cut edge's schema derived by the graph typechecker. The "
    "runner executes each part in its OWN Spark session; the terminal "
    "output hash-matches the unpartitioned program's oracle. The cut sits "
    "on the REDUCED edge (per-user rollup, not raw events) — where a real "
    "100 TB pipeline puts its deployment boundary.",
    oracle="""
WITH agg AS (
  SELECT user_id,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
         COUNT(*) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT user_id, total_cents, n,
       CAST(FLOOR(total_cents / n) AS BIGINT) AS avg_cents
FROM agg
""",
)
def partitioned_application_two_part_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from milan_spark.application import Application
    from milan_spark.partition import partition_application, run_partitioned

    app, cut_at = _purchase_rollup_app(sf_dir, sink={"kind": "none"})
    app = Application.from_json(app.to_json())  # the portable JSON is what ships
    parts = partition_application(
        app, [cut_at["agg"]], spark,
        transport=tempfile.mkdtemp(prefix="milan_cut_"),
    )
    assert len(parts) == 2
    return run_partitioned(parts, spark, mode="batch")


@register(
    "streaming_partitioned_application",
    doc="The same partitioner on the STREAMING backend: the upstream part "
    "runs as a StreamingQuery publishing its (stateless) head to the "
    "emulated Kinesis spool; the terminal part's session reads the queue "
    "as a stream and completes the per-user rollup to a memory sink — two "
    "Spark sessions connected only by queue transport, the reference's "
    "deploy-each-partition-separately shape (LambdaHandlerGenerator."
    "scala:1). Cut at the stateless projection so append-mode publish is "
    "exact. Same oracle as application_bundle_run.",
    oracle=REGISTRY["application_bundle_run"].oracle,
)
def streaming_partitioned_application_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from milan_spark.partition import partition_application, run_partitioned
    from milan_spark.plans import Node

    from milan_spark.application import Application

    app, cut_at = _purchase_rollup_app(sf_dir, sink={"kind": "none"})
    # streaming flavor: terminal = the rollup itself, run in complete mode
    agg = Node(
        "aggregate",
        {"keys": ["user_id"], "aggs": {"n": "count(*)", "total_cents": "sum(cents)"}},
        app._find_node(cut_at["agg"]).inputs,  # over the same projection
    )
    app = Application(
        app_id="purchase_rollup_live",
        plan=agg,
        sources=app.sources,
        sink={"kind": "memory", "name": "streaming_partitioned_application",
              "output_mode": "complete"},
    )
    parts = partition_application(
        app, [cut_at["proj"]], spark,
        transport=tempfile.mkdtemp(prefix="milan_cut_"),
    )
    # the terminal part's memory sink runs to completion and is returned
    # as its table (bound to that part's own session — same JVM)
    return run_partitioned(parts, spark, mode="streaming")


@register(
    "partitioned_by_stateful_auto",
    doc="The reference partitioner's AUTOMATIC policy (ApplicationPartitioner."
    "scala:44-70: at most one stateful operation per deployable — the "
    "Lambda model): a program with TWO stateful stages (per-user rollup, "
    "then distinct over the derived tier column) is split with NO "
    "user-supplied cut set — partition_by_stateful derives the boundary "
    "from the ops' statefulness — into two queue-connected parts whose "
    "composed output hash-matches the unpartitioned SQL.",
    oracle="""
WITH agg AS (
  SELECT user_id,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
         COUNT(*) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT DISTINCT CAST(FLOOR(total_cents / (n * 1000)) AS BIGINT) AS spend_tier
FROM agg
""",
)
def partitioned_by_stateful_auto_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from milan_spark.application import Application
    from milan_spark.partition import (
        STATEFUL_OPS,
        partition_by_stateful,
        run_partitioned,
        _walk as _walk_nodes,
    )
    from milan_spark.plans import Node

    app, cut_at = _purchase_rollup_app(sf_dir, sink={"kind": "none"})
    tiers = Node(
        "distinct",
        {},
        [
            Node(
                "map",
                {"exprs": ["CAST(floor(total_cents / (n * 1000)) AS BIGINT) AS spend_tier"]},
                [app._find_node(cut_at["agg"])],
            )
        ],
    )
    app = Application(
        app_id="rollup_tiers_auto",
        plan=tiers,
        sources=app.sources,
        sink={"kind": "none"},
    )
    parts = partition_by_stateful(
        app, spark, transport=tempfile.mkdtemp(prefix="milan_cut_")
    )
    assert len(parts) == 2
    for p in parts:
        assert sum(1 for n in _walk_nodes(p.plan) if n.op in STATEFUL_OPS) <= 1
    return run_partitioned(parts, spark, mode="batch")


@register(
    "streaming_versioned_sink",
    doc="EXACTLY-ONCE streaming commits into the versioned table layout "
    "(operators.versioned.versioned_sink): each microbatch appends one "
    "immutable data directory under tag batch=<queryId>:<batchId>, the "
    "manifest chain doubling as the transaction log, and the pointer flips "
    "last — so a "
    "restart that replays a microbatch (Spark re-runs the last one when "
    "its checkpoint trails the sink) commits NOTHING twice; the query "
    "DEMONSTRATES the replay by re-invoking the writer with batch id 0 "
    "after the stream drains, then reads the latest snapshot back and "
    "rolls it up. maxFilesPerTrigger=1 over the staged events directory "
    "gives deterministic microbatch boundaries; the oracle derives the "
    "same rollup from the raw events table, so the hash pins that replay "
    "added nothing and every batch landed exactly once.",
    oracle="""
SELECT CAST(user_id % 8 AS BIGINT) AS bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def streaming_versioned_sink_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from milan_spark.operators.versioned import (
        read_version,
        versioned_sink,
        versions,
    )

    path = tempfile.mkdtemp(prefix="milan_vsink_")
    ev = events_stream(spark, sf_dir).filter("event_type = 'purchase'").select(
        (F.col("user_id") % 8).alias("bucket"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    writer = versioned_sink(path)
    q = _start(
        ev.writeStream.foreachBatch(writer)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="milan_vsink_ck_"))
        .trigger(availableNow=True),
        ev,
    )
    await_finished(q)
    committed = versions(path)
    assert committed, "versioned sink committed no batches (empty stream?)"
    # simulated restart replay: batch 0 of the same query again, with the
    # full batch content — the manifest tag makes it a no-op, which the
    # oracle hash then proves
    replay = read_version(spark, path, 1)
    sc = spark.sparkContext
    sc.setLocalProperty("sql.streaming.queryId", str(q.id))
    try:
        writer(replay, 0)
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)
    return (
        read_version(spark, path)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total_cents"))
    )


@register(
    "streaming_versioned_tail",
    doc="The versioned table as a STREAMING SOURCE "
    "(operators.versioned.stream_appends): events land in three append "
    "commits, publish_appends hard-links each commit's files into a "
    "staging area a checkpointed file source tails — so the stream sees "
    "exactly the committed files, never an in-flight writer's or a "
    "race-loser's orphan directory, and each commit's rows arrive exactly "
    "once. Closes the lakehouse loop with versioned_sink (streams in -> "
    "commits; commits -> streams out). The aggregate is per-type count + "
    "cents in complete mode; the oracle is the same rollup over raw "
    "events, pinning that tailing the table loses and duplicates nothing.",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY event_type
""",
)
def streaming_versioned_tail_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from milan_spark.operators.versioned import (
        commit_append,
        publish_appends,
        stream_appends,
    )
    from milan_spark.sources import table

    ev = table(spark, sf_dir, "events").select(
        "event_type", "ts",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents_v"),
    )
    path = tempfile.mkdtemp(prefix="milan_svt_tbl_")
    staging = tempfile.mkdtemp(prefix="milan_svt_stage_")
    commit_append(ev.filter("ts < TIMESTAMP '2024-01-10'"), path)
    commit_append(
        ev.filter("ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'"),
        path,
    )
    commit_append(ev.filter("ts >= TIMESTAMP '2024-01-20'"), path)
    publish_appends(path, staging)
    sdf = stream_appends(spark, path, staging, max_files_per_trigger=4)
    out = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents_v").alias("cents"),
    )
    return run_to_memory(
        out, "streaming_versioned_tail", output_mode="complete"
    )
