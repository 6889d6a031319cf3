"""Queue connector descriptors + the file-backed local emulation
(sources/queues.py) — the engine twin of the reference's declarative
connector descriptors (KinesisDataSource.scala:35, SqsDataSource.scala:17,
DynamoDbStreamSource.scala:16; sinks KinesisDataSink.scala:19,
SqsDataSink.scala:17, DynamoDbTableSink.scala:17)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from milan_spark.application import Application
from milan_spark.plans import Node
from milan_spark.sources.queues import (
    DynamoDbStreamSource,
    DynamoDbTableSink,
    KinesisDataSink,
    KinesisDataSource,
    MilanConnectorError,
    SqsDataSink,
    SqsDataSource,
    local_queue,
    open_queue_sink,
    open_queue_source,
    publish_batch,
    read_queue_batch,
    read_table_state,
)
from milan_spark.streaming import await_finished, run_to_memory

EV = "/root/testdata/sf0.001/events.parquet"


def _purchases_stream(spark):
    schema = spark.read.parquet(EV).schema
    import hashlib
    import tempfile

    tag = hashlib.sha1(EV.encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"milan_stream_src_{tag}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(EV, link)
    return (
        spark.readStream.schema(schema).parquet(stage)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id",
                F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"))
    )


SCHEMA = "event_id long, user_id long, cents long"


def test_sqs_roundtrip_stream_and_batch_replay(spark):
    q = local_queue("sqs_rt_")
    sink = SqsDataSink("s1", q)
    src = SqsDataSource(q, SCHEMA)
    await_finished(open_queue_sink(_purchases_stream(spark), sink.to_spec()), 120)

    expected = sorted(
        tuple(r)
        for r in spark.read.parquet(EV)
        .filter("event_type = 'purchase'")
        .select("event_id", "user_id",
                F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"))
        .collect()
    )
    replay = sorted(tuple(r) for r in read_queue_batch(spark, src.to_spec())
                    .select("event_id", "user_id", "cents").collect())
    assert replay == expected and len(replay) > 0

    sdf = open_queue_source(spark, src.to_spec())
    mem = run_to_memory(sdf.select("event_id", "user_id", "cents"), "sqs_rt_mem")
    assert sorted(tuple(r) for r in mem.collect()) == expected


def test_kinesis_emulation_honors_queue_limit_chunking(spark):
    q = local_queue("kin_lim_")
    sink = KinesisDataSink("k1", q, "us-east-1", queue_limit=5)
    await_finished(open_queue_sink(_purchases_stream(spark), sink.to_spec()), 120)
    d = q[len("local:"):]
    files = sorted(f for f in os.listdir(d) if f.endswith(".json"))
    assert len(files) > 1  # chunked: the bounded producer buffer
    for f in files:
        with open(os.path.join(d, f)) as fh:
            assert len(fh.readlines()) <= 5
    src = KinesisDataSource(q, "us-east-1", SCHEMA)
    replay = read_queue_batch(spark, src.to_spec())
    n = spark.read.parquet(EV).filter("event_type = 'purchase'").count()
    assert replay.count() == n


def test_dynamodb_table_sink_state_and_change_stream(spark):
    t = local_queue("ddb_")
    sink = DynamoDbTableSink("d1", t, key_cols=["user_id"])
    # one row per key per batch (the table's primary-key contract): latest
    # purchase per user within the bounded stream
    s = (
        _purchases_stream(spark)
        .groupBy("user_id")
        .agg(F.max_by(F.struct("event_id", "cents"), F.col("event_id")).alias("r"))
        .select("user_id", "r.event_id", "r.cents")
    )
    await_finished(
        open_queue_sink(s, sink.to_spec(), output_mode="complete", available_now=True), 120
    )

    state = read_table_state(spark, t)
    expected = (
        spark.read.parquet(EV).filter("event_type = 'purchase'")
        .select("event_id", "user_id",
                F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"))
        .groupBy("user_id")
        .agg(F.max_by(F.struct("event_id", "cents"), F.col("event_id")).alias("r"))
        .select("user_id", "r.event_id", "r.cents")
    )
    assert sorted(map(tuple, state.collect())) == sorted(map(tuple, expected.collect()))

    # the change stream replays every upsert the sink wrote (here: complete
    # mode emits the final aggregate state per key once per batch)
    stream_src = DynamoDbStreamSource(t, "user_id long, event_id long, cents long")
    changes = read_queue_batch(spark, stream_src.to_spec())
    assert changes.count() >= state.count()
    last = (
        changes.groupBy("user_id")
        .agg(F.max_by(F.struct("event_id", "cents"), F.col("event_id")).alias("r"))
        .select("user_id", "r.event_id", "r.cents")
    )
    assert sorted(map(tuple, last.collect())) == sorted(map(tuple, expected.collect()))


def test_publish_batch_to_dynamodb_table_lands_every_call(spark):
    t = local_queue("ddb_pub_")
    spec = DynamoDbTableSink("d1", t, key_cols=["k"]).to_spec()
    publish_batch(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), spec)
    publish_batch(spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"), spec)
    got = {tuple(r) for r in read_table_state(spark, t).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_dynamodb_table_sink_second_run_lands(spark, tmp_path):
    """Each run of the streaming table sink has a private checkpoint, so
    its batch ids restart at 0; a second run into the same table must
    merge, not be skipped as a replay of the first run's batches."""
    t = local_queue("ddb_rerun_")
    spec = DynamoDbTableSink("d1", t, key_cols=["k"]).to_spec()
    for i, rows in enumerate(([(1, "a"), (2, "b")], [(2, "B"), (3, "c")])):
        src = str(tmp_path / f"src{i}")
        spark.createDataFrame(rows, "k long, v string").coalesce(1).write.parquet(src)
        sdf = spark.readStream.schema("k long, v string").parquet(src)
        await_finished(open_queue_sink(sdf, spec), 120)
    got = {tuple(r) for r in read_table_state(spark, t).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_remote_coordinates_raise_named_connector_errors(spark):
    with pytest.raises(MilanConnectorError, match="kinesis"):
        open_queue_source(
            spark, KinesisDataSource("prod-stream", "us-east-1", SCHEMA).to_spec()
        )
    with pytest.raises(MilanConnectorError, match="SQS|sqs"):
        open_queue_source(
            spark,
            SqsDataSource("https://sqs.us-east-1.amazonaws.com/1/q", SCHEMA).to_spec(),
        )
    with pytest.raises(MilanConnectorError, match="key_cols"):
        open_queue_sink(
            _purchases_stream(spark),
            DynamoDbTableSink("d", local_queue("ddb_err_")).to_spec(),
        )
    with pytest.raises(MilanConnectorError, match="not bound"):
        open_queue_source(spark, SqsDataSource(None, SCHEMA).to_spec())


def test_bundle_with_sqs_source_and_sink_both_lifecycles(spark):
    """An Application bundle whose source AND sink are queue descriptors
    runs from deserialized JSON: streaming consumes the spool through the
    emulated source and publishes to the emulated sink; batch replays the
    same spool. The define-then-bind lifecycle with queue transport."""
    in_q, out_q = local_queue("bundle_in_"), local_queue("bundle_out_")
    # seed the input queue from the events table
    seed = (
        spark.read.parquet(EV).filter("event_type = 'purchase'")
        .select("event_id", "user_id",
                F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"))
    )
    from milan_spark.sources.queues import _local_dir, _spool

    docs = [r.asDict() for r in seed.collect()]
    _spool(_local_dir(in_q), docs, chunk=200)

    plan = Node(
        "aggregate",
        {"keys": ["user_id"], "aggs": {"n": "count(*)", "total": "sum(cents)"}},
        [Node("external_stream", {"stream_id": "purchases"})],
    )
    app = Application.from_json(
        Application(
            app_id="queue_bundle",
            plan=plan,
            sources={"purchases": SqsDataSource(in_q, SCHEMA).to_spec()},
            sink={"kind": "memory", "name": "queue_bundle_out",
                  "output_mode": "complete"},
        ).to_json()
    )
    bdf, _ = app.run_batch(spark)
    batch = {r["user_id"]: (r["n"], r["total"]) for r in bdf.collect()}
    sdf = app.run_streaming(spark)
    final = (
        sdf.groupBy("user_id")
        .agg(F.max_by(F.struct("n", "total"), F.col("n")).alias("r"))
        .select("user_id", "r.n", "r.total")
    )
    stream = {r["user_id"]: (r["n"], r["total"]) for r in final.collect()}
    assert stream == batch and len(batch) > 0

    # and a queue SINK bundle: republish the per-user rollup to out_q
    app2 = Application.from_json(
        Application(
            app_id="queue_sink_bundle",
            plan=plan,
            sources={"purchases": SqsDataSource(in_q, SCHEMA).to_spec()},
            sink={**SqsDataSink("out", out_q).to_spec(), "output_mode": "complete"},
        ).to_json()
    )
    app2.run_streaming(spark)
    out = read_queue_batch(
        spark, SqsDataSource(out_q, "user_id long, n long, total long").to_spec()
    )
    last = (
        out.groupBy("user_id")
        .agg(F.max_by(F.struct("n", "total"), F.col("n")).alias("r"))
        .select("user_id", "r.n", "r.total")
    )
    assert {r["user_id"]: (r["n"], r["total"]) for r in last.collect()} == batch


def test_queue_consumer_checkpoint_recovery(spark, tmp_path):
    """Exactly-once queue consumption across a restart: consume the spool
    into a parquet sink with a fixed checkpoint, stop, publish MORE
    messages, rebuild the whole query from scratch (new lineage, same
    checkpoint) and run again. The combined sink must hold every message
    exactly once — FileStreamSource's commit log covers the emulated queue
    the same way it covers any directory source."""
    from milan_spark.sources.queues import _local_dir, _spool
    from milan_spark.streaming import file_sink

    q = local_queue("recov_")
    _spool(_local_dir(q), [{"k": 1, "v": 10}, {"k": 2, "v": 1}], chunk=1)
    spec = SqsDataSource(q, "k long, v long").to_spec()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        sdf = open_queue_source(spark, spec)
        await_finished(file_sink(sdf, out, checkpoint=ckpt), 120)

    run_once()
    assert spark.read.parquet(out).count() == 2
    _spool(_local_dir(q), [{"k": 1, "v": 5}, {"k": 3, "v": 7}], chunk=1)
    run_once()
    rows = sorted(map(tuple, spark.read.parquet(out).select("k", "v").collect()))
    assert rows == [(1, 5), (1, 10), (2, 1), (3, 7)]
