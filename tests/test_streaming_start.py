"""How every streaming sink starts (``streaming._start``): state stores sized
to the session's task slots, an explicit ``state_partitions`` honoured, a
timed-out bounded run stopped and reported by name, and the tagged-union
enrichment joins reading the events stream once per microbatch."""

from __future__ import annotations

import json

import pytest

from milan_spark.catalog import queries as _load_catalog
from milan_spark.errors import MilanStreamTimeoutError
from milan_spark.streaming import foreach_batch_sink, last_progress, run_to_memory

QS = _load_catalog()  # queries.streaming needs the full registry import order

SF = "/root/testdata/sf0.001"


def _keyed_count(spark):
    from milan_spark.queries.streaming import _events_stream

    return _events_stream(spark, SF).groupBy("user_id").count()


def _state_partitions(progress: list[dict]) -> set[int]:
    return {op["numShufflePartitions"] for p in progress for op in p["stateOperators"]}


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


def test_run_to_memory_timeout_stops_query_and_raises(spark):
    with pytest.raises(MilanStreamTimeoutError, match="start_timeout"):
        run_to_memory(
            _keyed_count(spark), "start_timeout", output_mode="complete", timeout_sec=0.001
        )
    assert spark.streams.active == []


@pytest.mark.parametrize(
    "name",
    [
        "streaming_left_enrichment_join",
        "streaming_full_enrichment_join",
        "streaming_left_inner_enrichment_join",
    ],
)
def test_enrichment_join_reads_events_stream_once(spark, name):
    assert QS[name](spark, SF).count() > 0
    progress = last_progress()
    assert progress
    assert [len(p["sources"]) for p in progress] == [1] * len(progress)
