"""streaming_heavy_hitters: bounded-state hot-key detection across
microbatches — candidates must be complete (no heavy hitter missed), bounds
must bracket the true counts, and state must stay O(buckets × capacity)."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pytest

from milan_spark.streaming import run_to_memory
from milan_spark.streaming.stateful import streaming_heavy_hitters

CAPACITY = 60
N_BUCKETS = 4


@pytest.fixture(scope="module")
def snapshots(spark, tmp_path_factory):
    rng = np.random.default_rng(11)
    draws = rng.zipf(1.4, size=40_000)
    draws = draws[draws <= 20_000]
    items = [f"tok{int(v)}" for v in draws]
    root = tmp_path_factory.mktemp("hh_stream")
    chunk = len(items) // 4
    for i in range(4):
        pd.DataFrame({"item": items[i * chunk : (i + 1) * chunk]}).to_parquet(
            root / f"{i:02d}.parquet"
        )
    sdf = (
        spark.readStream.schema("item string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(root))
    )
    out = streaming_heavy_hitters(sdf, "item", capacity=CAPACITY, n_buckets=N_BUCKETS)
    table = run_to_memory(out, "hh_snapshots")
    return table.toPandas(), Counter(items[: chunk * 4])


def latest(snaps: pd.DataFrame) -> pd.DataFrame:
    last_v = snaps.groupby("bucket")["version"].transform("max")
    return snaps[snaps["version"] == last_v]


def test_four_microbatches_per_bucket(snapshots):
    snaps, _ = snapshots
    assert set(snaps.groupby("bucket")["version"].max()) == {4}


def test_candidates_complete_and_bounds_bracket(snapshots):
    snaps, truth = snapshots
    cur = latest(snaps)
    n_total = int(cur.groupby("bucket")["bucket_rows"].first().sum())
    assert n_total == sum(truth.values())
    # completeness: share >= 1/50 implies survival since capacity+1 > 50
    hh = {k for k, c in truth.items() if c * 50 >= n_total}
    got = set(cur["item"])
    assert hh <= got
    # bounds: true - N_b/(cap+1) <= lb <= true
    for r in cur.itertuples(index=False):
        t = truth[r.item]
        assert r.lb <= t
        assert r.lb >= t - r.bucket_rows / (CAPACITY + 1)


def test_state_is_bounded(snapshots):
    snaps, _ = snapshots
    cur = latest(snaps)
    assert len(cur) <= N_BUCKETS * CAPACITY


def test_streaming_cms_equals_batch_sketch(spark, tmp_path):
    """The streamed CMS folded across 3 microbatches must equal the batch
    cms_build of the full multiset, cell for cell — the mergeable-state
    claim, end to end."""
    import pandas as pd

    from pyspark.sql import functions as F

    from milan_spark.operators.sketch import cms_build
    from milan_spark.streaming import run_to_memory
    from milan_spark.streaming.stateful import streaming_cms

    chunks = [
        [(f"u{i % 7}",) for i in range(40)],
        [("hot",)] * 25 + [("u1",)] * 5,
        [(f"u{i % 11}",) for i in range(30)],
    ]
    (tmp_path / "src").mkdir()
    for i, rows in enumerate(chunks):
        pd.DataFrame(rows, columns=["x"]).to_parquet(tmp_path / "src" / f"{i:02d}.parquet")
    sdf = (
        spark.readStream.schema("x string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    snaps = run_to_memory(streaming_cms(sdf, "x", depth=3, width=8), "cms_snaps")
    from pyspark.sql import Window as W

    w = W.partitionBy("r")
    final = {
        (r.r, r.i): r.c
        for r in snaps.withColumn("__mv", F.max("version").over(w))
        .where(F.col("version") == F.col("__mv"))
        .collect()
    }
    assert snaps.agg(F.max("version")).first()[0] == 3  # state crossed batches
    batch = spark.createDataFrame([r for c in chunks for r in c], "x string")
    want = {(r.r, r.i): r.c for r in cms_build(batch, "x", depth=3, width=8).collect()}
    assert final == want
