"""The empty-stream tripwire (the round-5–8 sf1 regression class): a
streaming query whose SOURCE read zero rows must fail by name instead of
"passing" on zero rows, and directory-shaped event tables must actually
stream."""

from __future__ import annotations

import os

import pytest

from milan_spark.catalog import queries as _load_catalog
from milan_spark.errors import MilanEmptyStreamError
from milan_spark.streaming import run_to_memory

_load_catalog()  # queries.streaming needs the full registry import order

EV = "/root/testdata/sf0.001/events.parquet"


def test_empty_staged_source_raises_by_name(spark, tmp_path):
    # an empty directory IS a valid FileStreamSource — the bug class this
    # guards: a mis-staged path that yields zero files
    schema = spark.read.parquet(EV).schema
    empty_dir = tmp_path / "nothing_here"
    empty_dir.mkdir()
    sdf = spark.readStream.schema(schema).parquet(str(empty_dir))
    with pytest.raises(MilanEmptyStreamError, match="empty or mis-staged"):
        run_to_memory(sdf.select("event_id"), "guard_empty_src")


def test_empty_source_opt_out_for_deliberate_fixtures(spark, tmp_path):
    schema = spark.read.parquet(EV).schema
    empty_dir = tmp_path / "deliberate_empty"
    empty_dir.mkdir()
    sdf = spark.readStream.schema(schema).parquet(str(empty_dir))
    out = run_to_memory(sdf.select("event_id"), "guard_optout", require_input=False)
    assert out.count() == 0


def test_filter_dropping_all_rows_is_not_flagged(spark):
    # distinct failure modes: a filter removing every row is a RESULT, not a
    # source problem — numInputRows > 0, so the guard stays quiet
    from milan_spark.sources import events_stream

    sdf = events_stream(spark, os.path.dirname(EV)).filter(
        "event_type = 'no_such_type'"
    )
    out = run_to_memory(sdf.select("event_id"), "guard_all_filtered")
    assert out.count() == 0


def test_directory_shaped_events_table_streams(spark, tmp_path):
    # regression for the sf1 staging bug: a DIRECTORY events.parquet (multi-
    # part dataset) must stream all rows, not silently zero
    from milan_spark.sources import events_stream

    sf_dir = tmp_path / "sfdir"
    os.makedirs(sf_dir)
    spark.read.parquet(EV).repartition(3).write.parquet(str(sf_dir / "events.parquet"))
    sdf = events_stream(spark, str(sf_dir))
    out = run_to_memory(sdf.select("event_id"), "guard_dir_events")
    want = spark.read.parquet(EV).count()
    assert out.count() == want > 0
