"""Structured Streaming backend tests (SURVEY.md §5 tier 3 — behavioral
execute-and-assert, modeled on the reference's TestApplicationExecutor runs:
feed sources, run the app, assert on collected sink output).

Each stateful test chunks its input into multiple files and streams with
maxFilesPerTrigger=1, so state must survive across microbatches — the
streaming analog of the reference feeding records one at a time through a
Flink keyed process function. Equivalence oracle: the batch realization of the
same operator on the same records (final-state/per-record equality, SURVEY §4).
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from milan_spark.operators import joins as batch_joins
from milan_spark.operators import scans as batch_scans
from milan_spark.sources import table
from milan_spark.streaming import (
    await_finished,
    file_sink,
    foreach_batch_sink,
    run_to_memory,
    windowed_agg,
)
from milan_spark.streaming import stateful

LEFT_SCHEMA = "id long, k long, v double, __seq long"
RIGHT_SCHEMA = "k long, name string, w double, __seq long"

# interleaved arrivals across 3 chunks; seqs globally ordered by chunk
LEFT_ROWS = [
    # (id, k, v, __seq)
    [(1, 10, 1.5, 0), (2, 20, 2.5, 2), (3, 10, 3.5, 4)],
    [(4, 30, 4.5, 10), (5, 20, 5.5, 12), (6, 10, 6.5, 14)],
    [(7, 40, 7.5, 20), (8, 20, 8.5, 22), (9, 10, 9.5, 24)],
]
RIGHT_ROWS = [
    # (k, name, w, __seq)
    [(10, "a0", 0.1, 1), (20, "b0", 0.2, 3)],
    [(10, "a1", 0.3, 11), (40, "d0", 0.4, 13)],
    [(20, "b1", 0.5, 21), (50, "e0", 0.6, 23)],
]


def _write_chunks(dirpath, chunks, columns):
    dirpath.mkdir(parents=True, exist_ok=True)
    for i, rows in enumerate(chunks):
        pd.DataFrame(rows, columns=columns).to_parquet(dirpath / f"{i:02d}.parquet")


@pytest.fixture(scope="module")
def sides(spark, tmp_path_factory):
    """(left_stream, right_stream, left_batch, right_batch) over chunked files."""
    root = tmp_path_factory.mktemp("stream_sides")
    _write_chunks(root / "left", LEFT_ROWS, ["id", "k", "v", "__seq"])
    _write_chunks(root / "right", RIGHT_ROWS, ["k", "name", "w", "__seq"])

    def stream(sub, schema):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(root / sub))
        )

    lb = spark.createDataFrame([r for c in LEFT_ROWS for r in c], LEFT_SCHEMA)
    rb = spark.createDataFrame([r for c in RIGHT_ROWS for r in c], RIGHT_SCHEMA)
    return stream("left", LEFT_SCHEMA), stream("right", RIGHT_SCHEMA), lb, rb


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_streaming_left_enrichment_matches_batch(spark, sides):
    ls, rs, lb, rb = sides
    got = run_to_memory(stateful.left_enrichment_join(ls, rs, on="k"), "s_left_enrich")
    want = batch_joins.left_enrichment_join(lb, rb, on="k")
    cols = ["id", "k", "v", "name", "w"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert got.count() == lb.count()  # one output per left arrival


def test_streaming_full_enrichment_matches_batch(spark, sides):
    ls, rs, lb, rb = sides
    got = run_to_memory(stateful.full_enrichment_join(ls, rs, on="k"), "s_full_enrich")
    want = batch_joins.full_enrichment_join(lb, rb, on="k")
    cols = ["id", "k", "v", "name", "w"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert got.count() == lb.count() + rb.count()  # every arrival emits


def test_streaming_left_inner_matches_batch(spark, sides):
    ls, rs, lb, rb = sides
    got = run_to_memory(stateful.left_inner_enrichment_join(ls, rs, on="k"), "s_li_enrich")
    want = batch_joins.left_inner_enrichment_join(lb, rb, on="k")
    cols = ["id", "k", "v", "name", "w"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_streaming_left_inner_residual_rematch(spark, sides):
    """A buffered left failing the residual stays buffered for the next right
    — the stateful re-match the batch realization cannot express."""
    ls, rs, _, _ = sides
    residual = lambda l, r: r["w"] > 0.25  # noqa: E731
    got = run_to_memory(
        stateful.left_inner_enrichment_join(ls, rs, on="k", residual=residual),
        "s_li_resid",
    )
    rows = _sorted_rows(got, ["id", "name", "w"])
    # k=10: left id=1,3 buffered past a0 (w=.1 fails), emit with a1 (w=.3)
    assert (1, "a1", 0.3) in rows and (3, "a1", 0.3) in rows
    # k=20: b0 (w=.2) fails residual → id=2,5 wait for b1 (w=.5)
    assert (2, "b1", 0.5) in rows and (5, "b1", 0.5) in rows
    # k=30: no right ever arrives → id=4 never emits
    assert not any(r[0] == 4 for r in rows)


def _side_streams(spark, root):
    """(left, right) streams over the parquet files in ``root``/left and
    ``root``/right."""
    return tuple(
        spark.readStream.schema(schema).parquet(str(root / sub))
        for sub, schema in (("left", LEFT_SCHEMA), ("right", RIGHT_SCHEMA))
    )


def test_left_inner_residual_judges_each_buffered_left_once(spark, tmp_path):
    """A right decides each buffered left with ONE residual call: emitted or
    kept, never both. An alternating residual, asked twice per left, would
    emit the left with both rights (or drop it unemitted)."""
    import itertools

    counter = itertools.count()
    _write_chunks(tmp_path / "left", [[(1, 10, 1.5, 0)]], ["id", "k", "v", "__seq"])
    _write_chunks(
        tmp_path / "right", [[(10, "a", 0.1, 1), (10, "b", 0.2, 2)]], ["k", "name", "w", "__seq"]
    )
    ls, rs = _side_streams(spark, tmp_path)
    got = run_to_memory(
        stateful.left_inner_enrichment_join(
            ls, rs, on="k", residual=lambda l, r: next(counter) % 2 == 0
        ),
        "s_li_alternating",
    )
    rows = [tuple(r) for r in got.select("id", "name").collect()]
    assert len(rows) == 1 and rows[0][0] == 1, rows


def test_scan_without_keys(spark, tmp_path):
    """A keyless scan folds the whole stream as one group (a synthetic
    constant group column) across microbatches."""
    _write_chunks(tmp_path / "s", [[(0, 1)], [(1, 2)], [(2, 3)]], ["__seq", "x"])
    sdf = (
        spark.readStream.schema("__seq long, x long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "s"))
    )

    def fold(st, rec):
        st = st + rec.x
        return st, {"running": st}

    out = stateful.scan(sdf, fold, initial_state=0, output_schema="running long")
    got = sorted(r.running for r in run_to_memory(out, "s_scan_keyless").collect())
    assert got == [1, 3, 6]


def test_state_ttl_expires_idle_keys(spark, tmp_path):
    """Processing-time state TTL: a right written in one run reads as ABSENT
    once the TTL has passed by a later run on the same checkpoint, so a
    left arriving then enriches to null; without a TTL the right is kept.
    Both runs of each scenario must finish: a TTL adds no timer that would
    keep an availableNow query scheduling empty microbatches."""
    import time

    def scenario(tag, ttl):
        root = tmp_path / tag
        out, ck = str(root / "out"), str(root / "ck")

        def run():
            ls, rs = _side_streams(spark, root)
            joined = stateful.left_enrichment_join(ls, rs, on="k", state_ttl_ms=ttl)
            assert file_sink(joined, out, checkpoint=ck).awaitTermination(120)

        # run 1: only the right arrives, and its value lands in state
        _write_chunks(root / "right", [[(10, "a0", 0.1, 1)]], ["k", "name", "w", "__seq"])
        (root / "left").mkdir()
        run()
        time.sleep(1.5)  # > the TTL of the ttl scenario
        # run 2 (same checkpoint): a left arrives and reads the state
        _write_chunks(root / "left", [[(1, 10, 1.5, 2)]], ["id", "k", "v", "__seq"])
        run()
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 1
        return rows[0]

    assert scenario("ttl", 300).name is None, "state older than the TTL must read as absent"
    assert scenario("nottl", None).name == "a0", "without a TTL the right must be retained"



def _typed_stream(spark, dirpath, schema, casts):
    """A one-file-per-microbatch stream over ``dirpath`` with typed columns
    made from string ones (``casts``: name -> SQL), so no parquet timestamp
    encoding is involved."""
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(dirpath))
    return sdf.selectExpr(*[f"{e} AS {c}" for c, e in casts.items()])


@pytest.mark.parametrize(
    "join", ["left_enrichment_join", "full_enrichment_join", "left_inner_enrichment_join"]
)
def test_enrichment_joins_keep_microseconds(spark, tmp_path, join):
    """Rows cross the state machine as JSON; both sides' timestamp and
    timestamp_ntz values (pre-1970 too) must come out to the microsecond."""
    _write_chunks(
        tmp_path / "right",
        [[(10, "2024-03-01 12:00:05.123456", 1)], [(20, "1969-07-20 20:17:40.000007", 3)]],
        ["k", "s", "__seq"],
    )
    _write_chunks(
        tmp_path / "left",
        [[(1, 10, "2024-03-01 12:00:06.654321", 2)], [(2, 20, "1960-01-01 00:00:00.999999", 4)]],
        ["id", "k", "s", "__seq"],
    )
    typed = {"ts": "CAST(s AS TIMESTAMP)", "tn": "CAST(s AS TIMESTAMP_NTZ)"}
    ls = _typed_stream(
        spark, tmp_path / "left", "id long, k long, s string, __seq long",
        {"id": "id", "k": "k", **typed, "__seq": "__seq"},
    )
    rs = _typed_stream(
        spark, tmp_path / "right", "k long, s string, __seq long", {"k": "k", **typed, "__seq": "__seq"}
    )
    rows = run_to_memory(getattr(stateful, join)(ls, rs, on="k"), f"s_us_{join}").collect()

    def stamps(sub, ts, tn):
        b = spark.read.parquet(str(tmp_path / sub)).selectExpr(*[f"{e} AS {c}" for c, e in typed.items()])
        return {(r.ts, r.tn) for r in b.collect()}, {(r[ts], r[tn]) for r in rows if r[ts] is not None}

    for sub, ts, tn in (("left", "ts", "tn"), ("right", "r_ts", "r_tn")):
        want, got = stamps(sub, ts, tn)
        assert got and got <= want, (sub, got, want)
        assert any(t.microsecond % 1000 for t, _ in got)



def test_record_window_apply_decimal_and_timestamp(spark, tmp_path):
    """The record-window buffer survives microbatches with exact Decimal and
    microsecond timestamp values (JSON state could hold neither)."""
    from decimal import Decimal

    _write_chunks(
        tmp_path / "s",
        [
            [(1, "0.000001", "2024-03-01 12:00:05.123456", 0), (2, "5.5", "2024-03-01 12:00:06.000001", 1)],
            [(1, "123456789012.000002", "1969-07-20 20:17:40.000007", 2)],
        ],
        ["k", "d", "t", "__seq"],
    )
    sdf = _typed_stream(
        spark, tmp_path / "s", "k long, d string, t string, __seq long",
        {"k": "k", "d": "CAST(d AS DECIMAL(18,6))", "t": "CAST(t AS TIMESTAMP)", "__seq": "__seq"},
    )

    def fn(rows):
        return {"k": rows[-1]["k"], "s": sum(r["d"] for r in rows), "first_t": rows[0]["t"], "seq": rows[-1]["__seq"]}

    out = stateful.record_window_apply(
        sdf, 2, fn, output_schema="k long, s decimal(18,6), first_t timestamp, seq long", keys=["k"]
    )
    got = {r.seq: (r.s, r.first_t) for r in run_to_memory(out, "s_rw_decimal_ts").collect()}
    t0 = spark.sql("SELECT CAST('2024-03-01 12:00:05.123456' AS TIMESTAMP) AS t").first().t
    assert got[0] == (Decimal("0.000001"), t0)
    assert got[2] == (Decimal("123456789012.000003"), t0)  # from the first microbatch's state
    assert got[1][0] == Decimal("5.500000")


def test_scan_state_keeps_decimal_datetime_and_tuple(spark, tmp_path):
    """A scan's state is pickled between microbatches, so a Decimal, a
    datetime and a tuple come back as they went in."""
    from decimal import Decimal

    _write_chunks(
        tmp_path / "s",
        [
            [(1, "0.000001", "2024-03-01 12:00:05.123456", 0), (2, "5.5", "2024-03-01 12:00:06", 1)],
            [(1, "123456789012.000002", "1969-07-20 20:17:40.000007", 2)],
        ],
        ["k", "d", "t", "s"],
    )
    sdf = _typed_stream(
        spark, tmp_path / "s", "k long, d string, t string, s long",
        {"k": "k", "d": "CAST(d AS DECIMAL(18,6))", "t": "CAST(t AS TIMESTAMP)", "s": "s"},
    )

    def fold(st, rec):
        total, first_t, seen = st
        assert isinstance(seen, tuple)
        st = (total + rec.d, first_t if first_t is not None else rec.t, seen + (rec.s,))
        return st, {"k": rec.k, "total": st[0], "first_t": st[1], "seqs": ",".join(map(str, st[2]))}

    out = stateful.scan(
        sdf, fold, initial_state=(Decimal(0), None, ()),
        output_schema="k long, total decimal(18,6), first_t timestamp, seqs string",
        keys=["k"], seq="s",
    )
    got = {r.seqs: (r.k, r.total, r.first_t) for r in run_to_memory(out, "s_scan_codec").collect()}
    t0 = spark.sql("SELECT CAST('2024-03-01 12:00:05.123456' AS TIMESTAMP) AS t").first().t
    assert got["0,2"] == (1, Decimal("123456789012.000003"), t0)  # second microbatch
    assert got["0"] == (1, Decimal("0.000001"), t0)
    assert got["1"][:2] == (2, Decimal("5.500000"))


def test_windowed_agg_per_record_skips_null_arguments(spark, tmp_path):
    """A null argument leaves count, sum, min and max where they were, as a
    SQL aggregate skips it, across two microbatches."""
    _write_chunks(
        tmp_path / "s",
        [
            [("2024-03-01 00:00:01", None, 0), ("2024-03-01 00:00:02", "5", 1)],
            [("2024-03-01 00:00:03", None, 2), ("2024-03-01 00:00:04", "3", 3)],
        ],
        ["t", "x", "s"],
    )
    sdf = _typed_stream(
        spark, tmp_path / "s", "t string, x string, s long",
        {"ts": "CAST(t AS TIMESTAMP)", "x": "CAST(x AS BIGINT)", "s": "s"},
    )
    aggs = {"n": ("count", "x"), "total": ("sum", "x"), "lo": ("min", "x"), "hi": ("max", "x")}
    out = stateful.windowed_agg_per_record(sdf, "ts", "1 day", aggs, seq="s")
    got = sorted(
        (r.seq, r.n, r.total, r.lo, r.hi)
        for r in run_to_memory(out, "s_wapr_nulls").collect()
    )
    assert got == [
        (0, 0, None, None, None),
        (1, 1, 5, 5, 5),
        (2, 1, 5, 5, 5),
        (3, 2, 8, 3, 5),
    ]


def test_streaming_scan_matches_batch(spark, sides):
    ls, _, lb, _ = sides

    def fold(state, rec):
        total = state["total"] + rec.v
        out = {"id": rec.id, "k": rec.k, "total": total} if total > 5 else None
        return {"total": total}, out

    schema = "id long, k long, total double"
    got = run_to_memory(
        stateful.scan(ls, fold, initial_state={"total": 0.0}, output_schema=schema, keys=["k"]),
        "s_scan",
    )
    want = batch_scans.scan(
        lb, lambda s, r: fold(s, r), initial_state={"total": 0.0}, output_schema=schema, keys=["k"]
    )
    cols = ["id", "k", "total"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_streaming_windowed_agg_matches_batch(spark, tmp_path):
    ev = table(spark, "/root/testdata/sf0.001", "events")
    ev.write.parquet(str(tmp_path / "events"))
    sdf = spark.readStream.schema(ev.schema).parquet(str(tmp_path / "events"))
    got = run_to_memory(
        windowed_agg(
            sdf,
            "ts",
            "1 day",
            keys=["event_type"],
            aggs=[F.count(F.lit(1)).alias("n")],
        ),
        "s_window",
        output_mode="complete",
    )
    want = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    cols = ["window_start", "event_type", "n"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_file_sink_roundtrip(spark, tmp_path):
    ev = table(spark, "/root/testdata/sf0.001", "events")
    ev.write.parquet(str(tmp_path / "in"))
    sdf = spark.readStream.schema(ev.schema).parquet(str(tmp_path / "in"))
    q = file_sink(
        sdf.filter(F.col("event_type") == "purchase"),
        str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    await_finished(q, 300)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == ev.filter(F.col("event_type") == "purchase").count()


def test_foreach_batch_sink(spark, tmp_path):
    ev = table(spark, "/root/testdata/sf0.001", "events")
    ev.limit(50).write.parquet(str(tmp_path / "in"))
    sdf = spark.readStream.schema(ev.schema).parquet(str(tmp_path / "in"))
    seen = []
    q = foreach_batch_sink(sdf, lambda df, epoch: seen.append(df.count()))
    await_finished(q, 300)
    assert sum(seen) == 50


def test_streaming_left_windowed_join_apply(spark, sides):
    """Each left pairs with the rights that arrived before it (temporal
    window state), bounded to the trailing window_n."""
    ls, rs, lb, rb = sides

    def sum_w(left, rights):
        return {"id": left["id"], "k": left["k"], "n_right": len(rights),
                "w_sum": sum(r["w"] for r in rights)}

    got = run_to_memory(
        stateful.left_windowed_join_apply(
            ls, rs, on="k", fn=sum_w,
            output_schema="id long, k long, n_right long, w_sum double", window_n=1,
        ),
        "s_lwj",
    )
    # hand-fold the same temporal semantics over the interleaved arrival order
    rights_by_k: dict = {}
    expect = {}
    events = sorted(
        [(r[3], 1, r) for c in LEFT_ROWS for r in c]
        + [(r[3], 0, r) for c in RIGHT_ROWS for r in c]
    )
    for _, side, r in events:
        if side == 0:
            rights_by_k.setdefault(r[0], []).append(r)
            rights_by_k[r[0]] = rights_by_k[r[0]][-1:]  # window_n=1
        else:
            w = rights_by_k.get(r[1], [])
            expect[r[0]] = (r[1], len(w), sum(x[2] for x in w))
    rows = {r["id"]: (r["k"], r["n_right"], r["w_sum"]) for r in got.collect()}
    assert rows == expect


def test_rate_source_delayed_emission(spark):
    """DelayedListDataSource analog (testing/DelayedListDataSource.scala:1):
    a rate-limited source emitting records over time; verify rows accumulate
    across multiple timed microbatches."""
    sdf = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 20)
        .load()
        .select(F.col("value").alias("n"))
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("s_rate")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    import time as _t

    deadline = _t.time() + 30
    while _t.time() < deadline and spark.table("s_rate").count() < 10:
        _t.sleep(0.3)
    q.stop()
    got = [r["n"] for r in spark.table("s_rate").orderBy("n").collect()]
    assert len(got) >= 10 and got[:3] == [0, 1, 2]  # monotone sequence, no gaps
