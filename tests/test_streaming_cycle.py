"""Streaming Cycle (milan_spark.streaming.cycle) — the sink-to-source
feedback emulation: fixpoint reached, history complete, and the canonical
incremental-label-propagation workload matching the batch Cycle result."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from milan_spark.errors import MilanRoundCapError
from milan_spark.streaming.cycle import (
    streaming_cycle,
    streaming_min_label_components,
)


def test_streaming_cycle_countdown(spark, tmp_path):
    seed = spark.createDataFrame([(10, 3), (20, 2)], "id long, n long")

    def body(batch):
        return batch.filter(F.col("n") > 0).select("id", (F.col("n") - 1).alias("n"))

    hist = streaming_cycle(
        spark, seed, body, feedback_dir=str(tmp_path / "fb"), max_batches=20
    )
    rows = sorted(map(tuple, hist.collect()))
    assert rows == sorted(
        [(10, 3), (10, 2), (10, 1), (10, 0), (20, 2), (20, 1), (20, 0)]
    )


def test_streaming_cycle_diverging_body_trips_fuse(spark, tmp_path):
    seed = spark.createDataFrame([(0,)], "x long")

    def body(batch):  # always novel → never converges
        return batch.select((F.col("x") + 1).alias("x"))

    with pytest.raises(Exception) as ei:
        streaming_cycle(
            spark, seed, body, feedback_dir=str(tmp_path / "fb"), max_batches=5
        )
    assert "max_batches" in str(ei.value) or isinstance(ei.value, MilanRoundCapError)


def test_streaming_components_match_batch_cycle(spark, tmp_path):
    # two chains and a singleton-free triangle: {1-2-3-4}, {10-11}, {20-21-22}
    pair_rows = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)]
    edges = spark.createDataFrame(pair_rows, "u long, v long")

    out = streaming_min_label_components(
        spark, edges, feedback_dir=str(tmp_path / "fb")
    )
    got = {r["node"]: r["label"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    # agrees with the batch Cycle realization on the same pairs
    from milan_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(pair_rows, "id_a long, id_b long")
    batch = {
        r["node"]: r["label"] for r in connected_components(pairs).collect()
    }
    assert got == batch


def test_streaming_cycle_history_io_bounded(spark, tmp_path):
    # per-hop dedup must NOT re-read the growing feedback dir: history file
    # scans stay at 1 (the seed) no matter how many hops run
    seed = spark.createDataFrame([(1, 5)], "id long, n long")

    def body(batch):
        return batch.filter(F.col("n") > 0).select("id", (F.col("n") - 1).alias("n"))

    stats = {}
    hist = streaming_cycle(
        spark, seed, body, feedback_dir=str(tmp_path / "fb"),
        max_batches=20, stats=stats,
    )
    assert hist.count() == 6
    assert stats["batches"] >= 5
    assert stats["history_file_reads"] == 1


def test_streaming_cycle_history_frames_bounded(spark, tmp_path):
    """Long cycles must compact: the delta list folds into one frame every
    compact_every hops, so the per-hop anti-join input is a bounded number of
    cached frames regardless of hop count — and the answer is unchanged."""
    seed = spark.createDataFrame([(1, 12)], "id long, n long")

    def body(batch):
        return batch.filter(F.col("n") > 0).select("id", (F.col("n") - 1).alias("n"))

    stats = {}
    hist = streaming_cycle(
        spark, seed, body, feedback_dir=str(tmp_path / "fb"),
        max_batches=40, stats=stats, compact_every=3,
    )
    assert sorted(r.n for r in hist.collect()) == list(range(13))
    assert stats["batches"] >= 12  # enough hops to have compacted ≥ 4 times
    assert stats["max_history_frames"] <= 3


def test_streaming_cycle_null_rows_dedupe(spark, tmp_path):
    # NULL-bearing records must dedupe against history (null-safe equality);
    # with plain equality this body re-emits (1, NULL) forever and trips the
    # fuse instead of converging in 2 hops
    seed = spark.createDataFrame([(1, "a")], "id long, tag string")

    def body(batch):
        return batch.filter(F.col("tag").isNotNull()).select(
            "id", F.lit(None).cast("string").alias("tag")
        )

    hist = streaming_cycle(
        spark, seed, body, feedback_dir=str(tmp_path / "fb"), max_batches=6
    )
    rows = sorted(hist.collect(), key=lambda r: (r["id"], r["tag"] or ""))
    assert [(r["id"], r["tag"]) for r in rows] == [(1, None), (1, "a")]
