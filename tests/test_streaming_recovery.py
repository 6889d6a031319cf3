"""Checkpoint recovery: a stateful streaming operator stopped and RESTARTED
from its checkpoint must (a) not reprocess already-committed input and (b)
resume per-key state where it left off — the durability property every
production streaming deployment depends on (driver loss, deploys, rescale).

Recipe: run the streaming scan (running sum per key, emit per record) over
two files into a parquet sink with a fixed checkpoint; stop; drop two MORE
files into the source; build the WHOLE query again from scratch (new
DataFrame lineage, same checkpoint) and run it. The combined sink contents
must equal the batch scan over all four files — totals continuous across the
restart boundary, every record exactly once."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from milan_spark.operators import scans as batch_scans
from milan_spark.streaming import await_finished, file_sink
from milan_spark.streaming import stateful

SCHEMA = "k long, v long, __seq long"
OUT_SCHEMA = "k long, total long, __seq long"

FILES = [
    [(1, 10, 0), (2, 1, 1)],
    [(1, 5, 2), (2, 2, 3)],
    # --- restart boundary ---
    [(1, 7, 4), (3, 100, 5)],
    [(2, 4, 6), (1, 1, 7)],
]


def _fold(state, rec):
    # rec is an itertuples row; "__seq" is positional (underscore names are
    # renamed), so address it by column position (k, v, __seq)
    total = state + rec.v
    return total, {"k": rec.k, "total": total, "__seq": rec[2]}


def _run_once(spark, src, out, ckpt):
    sdf = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    scanned = stateful.scan(
        sdf, _fold, initial_state=0, output_schema=OUT_SCHEMA, keys=["k"]
    )
    q = file_sink(scanned, str(out), checkpoint=str(ckpt))
    await_finished(q, 300)


def test_restart_resumes_state_no_reprocessing(spark, tmp_path):
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()
    for i, rows in enumerate(FILES[:2]):
        pd.DataFrame(rows, columns=["k", "v", "__seq"]).to_parquet(src / f"{i:02d}.parquet")
    _run_once(spark, src, out, ckpt)
    first = spark.read.parquet(str(out)).collect()
    assert {(r["k"], r["total"]) for r in first} == {(1, 10), (2, 1), (1, 15), (2, 3)}

    for i, rows in enumerate(FILES[2:], start=2):
        pd.DataFrame(rows, columns=["k", "v", "__seq"]).to_parquet(src / f"{i:02d}.parquet")
    _run_once(spark, src, out, ckpt)  # fresh lineage, same checkpoint

    got = {
        (r["k"], r["total"], r["__seq"])
        for r in spark.read.parquet(str(out)).collect()
    }
    # batch realization over ALL records is the oracle: state must have
    # crossed the restart (k=1 resumes from 15, k=2 from 3), and the first
    # two files must not have been re-emitted (exactly-once => no dupes in
    # the set AND cardinality matches)
    all_rows = [r for f in FILES for r in f]
    batch = batch_scans.scan(
        spark.createDataFrame(all_rows, SCHEMA),
        _fold,
        initial_state=0,
        output_schema=OUT_SCHEMA,
        keys=["k"],
    ).collect()
    want = {(r["k"], r["total"], r["__seq"]) for r in batch}
    assert got == want
    assert len(spark.read.parquet(str(out)).collect()) == len(all_rows)
