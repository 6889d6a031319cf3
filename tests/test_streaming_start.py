"""How every streaming sink starts (``streaming._start``): state stores sized
to the session's task slots, an explicit ``state_partitions`` honoured, a
private checkpoint written through the FileSystem checkpoint manager while a
named one keeps FileContext, a timed-out bounded run (or any query that
cannot finish) stopped and reported by name, a progress record that fails
to parse surfaced as such, and the tagged-union enrichment joins and the
interval self-join reading the events stream once per microbatch."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from milan_spark import streaming
from milan_spark.catalog import queries as _load_catalog
from milan_spark.errors import MilanStreamTimeoutError
from milan_spark.streaming import (
    file_sink,
    foreach_batch_sink,
    last_progress,
    run_to_memory,
)
from milan_spark.streaming.cycle import streaming_cycle

QS = _load_catalog()  # queries.streaming needs the full registry import order

SF = "/root/testdata/sf0.001"


def _events(spark):
    from milan_spark.sources import events_stream

    return events_stream(spark, SF)


def _keyed_count(spark):
    return _events(spark).groupBy("user_id").count()


def _state_partitions(progress: list[dict]) -> set[int]:
    return {op["numShufflePartitions"] for p in progress for op in p["stateOperators"]}


MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def _managers(q: StreamingQuery) -> set[str]:
    """Checkpoint file manager classes of ``q``'s offset and commit logs."""
    ex = q._jsq.streamingQuery()
    logs = (ex.offsetLog(), ex.commitLog())
    return {log.fileManager().getClass().getSimpleName() for log in logs}


@pytest.fixture
def started(monkeypatch) -> list[StreamingQuery]:
    """Every query started through ``streaming._start``, in start order."""
    import milan_spark.queries.streaming as catalog_streaming
    import milan_spark.streaming.cycle as cycle

    seen: list[StreamingQuery] = []
    real = streaming._start

    def spy(*args, **kwargs):
        seen.append(real(*args, **kwargs))
        return seen[-1]

    # a module that starts its query some other way records nothing
    for module in (streaming, cycle, catalog_streaming):
        monkeypatch.setattr(module, "_start", spy, raising=False)
    return seen


def test_state_partitions_follow_session_slots(spark):
    slots = min(8, spark.sparkContext.defaultParallelism)
    batch_width = spark.conf.get("spark.sql.shuffle.partitions")

    run_to_memory(_keyed_count(spark), "start_slots_memory", output_mode="complete")
    assert _state_partitions(last_progress()) == {slots}

    q = foreach_batch_sink(_keyed_count(spark), lambda df, i: df.count(), output_mode="complete")
    assert q.awaitTermination(120)
    assert _state_partitions([json.loads(p.json) for p in q.recentProgress]) == {slots}

    # the batch shuffle width is restored right after each start
    assert spark.conf.get("spark.sql.shuffle.partitions") == batch_width


def test_explicit_state_partitions_honoured(spark):
    run_to_memory(
        _keyed_count(spark), "start_explicit_2", output_mode="complete", state_partitions=2
    )
    assert _state_partitions(last_progress()) == {2}


def test_private_checkpoints_use_filesystem_manager(spark, started, tmp_path):
    run_to_memory(_keyed_count(spark), "start_private_memory", output_mode="complete")
    assert spark.conf.get(MANAGER_CONF, None) is None

    q = foreach_batch_sink(_keyed_count(spark), lambda df, i: df.count(), output_mode="complete")
    assert q.awaitTermination(120)
    assert spark.conf.get(MANAGER_CONF, None) is None

    q = file_sink(_events(spark), str(tmp_path / "out"))
    assert q.awaitTermination(120)
    assert spark.conf.get(MANAGER_CONF, None) is None

    assert [_managers(q) for q in started] == [{"FileSystemBasedCheckpointFileManager"}] * 3


def test_named_checkpoint_keeps_filecontext_manager(spark, started, tmp_path):
    q = file_sink(_events(spark), str(tmp_path / "out"), checkpoint=str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    assert spark.conf.get(MANAGER_CONF, None) is None
    assert started == [q]
    assert _managers(q) == {"FileContextBasedCheckpointFileManager"}


def test_direct_starts_route_through_start(spark, started, tmp_path):
    seed = spark.createDataFrame([(0, 2)], "id long, n long")
    streaming_cycle(
        spark,
        seed,
        lambda b: b.filter(F.col("n") > 0).select("id", (F.col("n") - 1).alias("n")),
        feedback_dir=str(tmp_path / "fb"),
        max_batches=10,
    )
    assert QS["streaming_versioned_sink"](spark, SF).count() > 0
    assert [_managers(q) for q in started] == [{"FileSystemBasedCheckpointFileManager"}] * 2


def test_run_to_memory_surfaces_progress_parse_failure(spark, monkeypatch):
    class Garbled:
        json = "not json"

    monkeypatch.setattr(StreamingQuery, "recentProgress", property(lambda self: [Garbled()]))
    with pytest.raises(json.JSONDecodeError):
        run_to_memory(_keyed_count(spark), "start_garbled_progress", output_mode="complete")


def test_run_to_memory_timeout_stops_query_and_raises(spark):
    with pytest.raises(MilanStreamTimeoutError, match="start_timeout"):
        run_to_memory(
            _keyed_count(spark), "start_timeout", output_mode="complete", timeout_sec=0.001
        )
    assert spark.streams.active == []


def test_await_finished_stops_an_unbounded_query_and_raises(spark):
    # a rate source on a processing-time trigger never finishes
    sdf = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    w = (
        sdf.writeStream.format("noop")
        .queryName("start_unbounded")
        .trigger(processingTime="1 second")
    )
    q = streaming._start(w, sdf)
    with pytest.raises(MilanStreamTimeoutError, match="start_unbounded"):
        streaming.await_finished(q, timeout_sec=2)
    assert spark.streams.active == []


@pytest.mark.parametrize(
    "name",
    [
        "streaming_left_enrichment_join",
        "streaming_full_enrichment_join",
        "streaming_left_inner_enrichment_join",
        "streaming_interval_join",
    ],
)
def test_join_reads_events_stream_once(spark, name):
    assert QS[name](spark, SF).count() > 0
    progress = last_progress()
    assert progress
    assert [len(p["sources"]) for p in progress] == [1] * len(progress)
