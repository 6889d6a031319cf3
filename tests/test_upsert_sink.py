"""Streaming MERGE sink: microbatch upserts equal the sequential batch
merge, within-batch duplicates resolve by seq, ambiguity raises, and a
crash before the commit point replays exactly once."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from milan_spark.operators.versioned import read_version
from milan_spark.streaming import await_finished, upsert_sink


def _rows(df):
    return {(r.k, r.v) for r in df.collect()}


def _stage_batches(spark, batches):
    """Write each batch as one file with pinned mtime so FileStreamSource
    delivers them as ordered microbatches."""
    import shutil

    stage = tempfile.mkdtemp(prefix="ups_src_")
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "k long, v string, seq long")
        tmp = os.path.join(stage, f"__tmp{i}")
        df.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(stage, f"b{i}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
    return stage


def test_upsert_sink_matches_sequential_merge(spark):
    batches = [
        [(1, "a", 1), (2, "b", 2)],
        [(2, "B", 3), (3, "c", 4)],
        [(1, "A", 5), (4, "d", 6)],
    ]
    stage = _stage_batches(spark, batches)
    sdf = (
        spark.readStream.schema("k long, v string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    out = tempfile.mkdtemp(prefix="ups_out_") + "/t"
    q = upsert_sink(sdf, out, ["k"])
    await_finished(q, 120)
    got = _rows(read_version(spark, out))
    assert got == {(1, "A"), (2, "B"), (3, "c"), (4, "d")}


def test_upsert_sink_seq_resolves_in_batch_duplicates(spark):
    batches = [[(1, "x", 1), (1, "y", 9), (2, "b", 2)]]
    stage = _stage_batches(spark, batches)
    sdf = (
        spark.readStream.schema("k long, v string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    out = tempfile.mkdtemp(prefix="ups_out_") + "/t"
    q = upsert_sink(sdf, out, ["k"], seq_col="seq")
    await_finished(q, 120)
    got = _rows(read_version(spark, out))
    assert got == {(1, "y"), (2, "b")}


def test_upsert_sink_reruns_with_private_checkpoints_all_land(spark):
    """Batch ids restart at 0 under a private checkpoint, so a second run
    into the same table merges its batch 0 instead of skipping it as a
    replay of the first run's."""
    out = tempfile.mkdtemp(prefix="ups_out_") + "/t"
    for batches in ([[(1, "a", 1), (2, "b", 2)]], [[(2, "B", 3), (3, "c", 4)]]):
        sdf = spark.readStream.schema("k long, v string, seq long").parquet(
            _stage_batches(spark, batches)
        )
        await_finished(upsert_sink(sdf, out, ["k"]), 120)
    assert _rows(read_version(spark, out)) == {(1, "a"), (2, "B"), (3, "c")}


def test_merge_sink_crash_before_manifest_link_replays_once(spark, monkeypatch):
    """Crash window of the one commit protocol: a merge that dies before
    its manifest link leaves the head as it was; the replayed batch id then
    merges exactly once against the full prior table, a second replay
    commits nothing, and only the head's and its parent's data directories
    stay on disk (the crashed attempt's orphan included, none remain)."""
    import milan_spark.operators.versioned as V

    def df(rows):
        return spark.createDataFrame(rows, "k long, v string, seq long")

    out = tempfile.mkdtemp(prefix="ups_crash_")
    write = V.merge_sink(out, ["k"])
    write(df([(1, "a", 1), (2, "b", 2)]), 0)
    write(df([(4, "d", 3)]), 1)
    head = V.current_version(out)
    batch = df([(2, "B", 4), (3, "c", 5)])

    def crash(src, dst):
        raise OSError("crash before manifest link")

    with monkeypatch.context() as m:
        m.setattr(V.os, "link", crash)
        with pytest.raises(OSError, match="crash before manifest link"):
            write(batch, 2)
    assert V.current_version(out) == head
    assert _rows(V.read_version(spark, out)) == {(1, "a"), (2, "b"), (4, "d")}
    write(batch, 2)  # the checkpoint's replay of the crashed batch
    write(batch, 2)  # a second replay commits nothing
    assert V.current_version(out) == head + 1
    assert _rows(V.read_version(spark, out)) == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    assert len(os.listdir(os.path.join(out, "data"))) == 2


def test_upsert_sink_ambiguous_batch_raises(spark):
    batches = [[(1, "x", 1), (1, "y", 2)]]
    stage = _stage_batches(spark, batches)
    sdf = (
        spark.readStream.schema("k long, v string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    out = tempfile.mkdtemp(prefix="ups_out_") + "/t"
    q = upsert_sink(sdf, out, ["k"])
    # the failed batch surfaces as the query's exception; a query still
    # running at the deadline raises MilanStreamTimeoutError instead
    with pytest.raises(StreamingQueryException):
        await_finished(q, 120)
