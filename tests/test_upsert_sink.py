"""Streaming MERGE sink: microbatch upserts equal the sequential batch
merge, within-batch duplicates resolve by seq, ambiguity raises."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from milan_spark.streaming import await_finished, upsert_sink


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


@pytest.mark.slow
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
    got = {(r.k, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "A"), (2, "B"), (3, "c"), (4, "d")}


@pytest.mark.slow
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
    got = {(r.k, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "y"), (2, "b")}


@pytest.mark.slow
def test_upsert_sink_recovers_stranded_old_dir(spark):
    """Crash window between the two renames: if a previous run died after
    os.rename(path, old) but before os.rename(tmp, path), the table lives
    only in path.__old_<id>. A replayed batch must restore it before
    merging instead of rewriting the table with only its own rows."""
    import shutil

    out_root = tempfile.mkdtemp(prefix="ups_crash_")
    out = os.path.join(out_root, "t")
    # prior table, as the crashed run left it: renamed away, not yet replaced
    spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2)], "k long, v string, seq long"
    ).write.parquet(os.path.join(out_root, "t.__old_0"))
    # stray tmp dir from the same crashed batch should not confuse recovery
    spark.createDataFrame(
        [(3, "c", 3)], "k long, v string, seq long"
    ).write.parquet(os.path.join(out_root, "t.__tmp_0"))

    batches = [[(2, "B", 3), (3, "c", 4)]]  # replay of the crashed batch
    stage = _stage_batches(spark, batches)
    sdf = (
        spark.readStream.schema("k long, v string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = upsert_sink(sdf, out, ["k"])
    await_finished(q, 120)
    got = {(r.k, r.v) for r in spark.read.parquet(out).collect()}
    # key 1 survives from the stranded prior table; 2 is updated; 3 inserted
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    assert not [d for d in os.listdir(out_root) if d.startswith("t.__old_")]
    shutil.rmtree(out_root, ignore_errors=True)


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
