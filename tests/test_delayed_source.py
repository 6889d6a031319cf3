"""DelayedListDataSource emulation (sources.DelayedListSourceBuilder): the
delay-separated segments must arrive as distinct microbatches, in list order,
with the arrival-order seq capturing the global list position."""

from __future__ import annotations

import tempfile

from milan_spark.sources import delayed_list_source
from milan_spark.streaming import await_finished


def test_delayed_segments_arrive_as_ordered_batches(spark, tmp_path):
    src = (
        delayed_list_source()
        .add((1, "a"))
        .add((2, "b"))
        .wait(0.5)
        .add((3, "c"))
        .wait(0.5)
        .add((4, "d"))
        .add((5, "e"))
    )
    sdf = src.build(
        spark, "id long, v string", staging_dir=str(tmp_path / "src"), with_seq=True
    )
    seen: list[tuple[int, list[tuple]]] = []

    def collect(batch_df, batch_id):
        rows = [tuple(r) for r in batch_df.collect()]
        if rows:
            seen.append((batch_id, sorted(rows)))

    q = (
        sdf.writeStream.foreachBatch(collect)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="milan_dls_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q, 120)

    batches = [rows for _bid, rows in sorted(seen)]
    assert batches == [
        [(1, "a", 0), (2, "b", 1)],
        [(3, "c", 2)],
        [(4, "d", 3), (5, "e", 4)],
    ]
