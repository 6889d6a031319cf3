"""Tests of the benchmark's own logic; no Spark session is started.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import datagen  # noqa: E402
import measure  # noqa: E402
from tools.check_correctness import compare  # noqa: E402
from workload import PASS_S, timed_passes  # noqa: E402


def _progress(batch_id, rows, trigger, add_batch, planning, state_ops=(), run_id="r1"):
    return {
        "runId": run_id,
        "batchId": batch_id,
        "timestamp": "2024-01-01T00:00:00.000Z",
        "numInputRows": rows,
        "durationMs": {
            "triggerExecution": trigger,
            "addBatch": add_batch,
            "queryPlanning": planning,
            "walCommit": 5,
            "commitOffsets": 4,
            "latestOffset": 3,
            "getBatch": 2,
        },
        "stateOperators": [
            {"numRowsTotal": r, "memoryUsedBytes": b, "commitTimeMs": c} for r, b, c in state_ops
        ],
    }


def test_median_and_quartile_spread_match_statistics():
    values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    assert measure.median(values) == statistics.median(values)
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert measure.quartile_spread(values) == pytest.approx((q3 - q1) / q2)
    assert measure.quartile_spread([2.0] * 10) == 0.0


def test_geomean():
    assert measure.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert measure.geomean([0.5, 2.0, 8.0]) == pytest.approx(2.0)
    assert measure.geomean([3.7]) == pytest.approx(3.7)
    with pytest.raises(ValueError):
        measure.geomean([1.0, 0.0])


def test_fold_progress_sums_phases_and_keeps_state_peaks():
    batches = [
        _progress(0, 1000, 900, 700, 100, [(10, 4000, 7), (5, 1000, 3)]),
        _progress(1, 0, 300, 200, 50, [(12, 4500, 2), (1, 100, 1)]),
    ]
    out = measure.fold_progress(batches)
    assert out["microbatches"] == 2
    assert out["input_rows"] == 1000
    assert out["trigger_ms"] == 1200
    assert out["add_batch_ms"] == 900
    assert out["query_planning_ms"] == 150
    assert out["wal_commit_ms"] == 10
    assert out["commit_ms"] == 8
    assert out["latest_offset_ms"] == 6
    assert out["get_batch_ms"] == 4
    # gauges: the largest per-batch total, not a sum over batches
    assert out["state_rows"] == 15
    assert out["state_bytes"] == 5000
    assert out["state_commit_ms"] == 13
    assert measure.fold_progress([])["microbatches"] == 0


def test_fold_runs_sums_state_gauges_across_queries():
    # two streaming queries in one build phase, e.g. two run_to_memory slices
    progress = {
        "r1": [_progress(0, 100, 900, 700, 100, [(10, 4000, 7)], "r1"),
               _progress(1, 50, 300, 200, 50, [(12, 4500, 2)], "r1")],
        "r2": [_progress(0, 30, 400, 300, 20, [(5, 1000, 1)], "r2")],
    }
    started = {"r1": 100.0, "r2": 102.0}
    ended = {"r1": 101.5, "r2": 102.5}
    out = measure.fold_runs(progress, started, ended)
    assert out["microbatches"] == 3
    assert out["input_rows"] == 180
    assert out["trigger_ms"] == 1600
    # each query's peak, summed over the queries
    assert out["state_rows"] == 12 + 5
    assert out["state_bytes"] == 4500 + 1000
    assert out["state_commit_ms"] == 10
    # (1500 ms - 1200 ms) + (500 ms - 400 ms)
    assert out["overhead_ms"] == pytest.approx(400.0)
    # a query whose end event never came adds no overhead
    assert measure.fold_runs(progress, started, {"r1": 101.5})["overhead_ms"] == pytest.approx(300.0)
    assert measure.fold_runs({}, {}, {}) == {**measure.fold_progress([]), "overhead_ms": 0.0}


def test_fold_stages_skips_skipped_stages():
    stages = [
        {"status": "COMPLETE", "numTasks": 8, "executorRunTime": 400, "shuffleWriteBytes": 10,
         "shuffleReadBytes": 0, "memoryBytesSpilled": 1, "diskBytesSpilled": 2, "numFailedTasks": 1},
        {"status": "SKIPPED", "numTasks": 8, "executorRunTime": 0},
        {"status": "COMPLETE", "numTasks": 1, "executorRunTime": 100, "shuffleReadBytes": 10},
    ]
    out = measure.fold_stages(stages)
    assert out == {
        "stages": 2, "tasks": 9, "busy_ms": 500, "shuffle_write_bytes": 10,
        "shuffle_read_bytes": 10, "spill_bytes": 3, "tasks_failed": 1,
    }


def test_busy_share():
    # 6 task-seconds on 4 cores over 3 s of wall: half the slots were busy
    assert measure.busy_share(6.0, 3.0, 4) == pytest.approx(0.5)
    assert measure.busy_share(1.0, 0.0, 4) == 0.0


def test_seeded_order_is_deterministic_and_a_permutation():
    names = [f"q{i}" for i in range(8)]
    a, b = random.Random(7), random.Random(7)
    orders_a = [measure.seeded_order(names, a) for _ in range(5)]
    orders_b = [measure.seeded_order(names, b) for _ in range(5)]
    assert orders_a == orders_b
    assert all(sorted(o) == sorted(names) for o in orders_a)
    other = [measure.seeded_order(names, random.Random(8)) for _ in range(5)]
    assert other != orders_a


def test_timed_passes_depend_only_on_arguments():
    assert timed_passes(0) == 3
    assert timed_passes(12) == max(3, int(12 // PASS_S))
    assert timed_passes(100 * PASS_S) == 100


def test_steal_share():
    # 40 ticks of steal in 2 s on 4 CPUs at 100 ticks per second
    assert measure.steal_share(40, 2.0, 4, 100) == pytest.approx(0.05)
    assert measure.steal_share(5, 0.0, 4, 100) == 0.0


def test_quiet_passes_keep_the_least_stolen_half():
    steal = [0.01, 0.25, 0.0, 0.20, 0.02, 0.0]
    recs = [{"kind": "pass", "pass": p, "wall_s": 3.0, "steal_share": s}
            for p, s in enumerate(steal, start=1)]
    assert [r["pass"] for r in measure.quiet_passes(recs)] == [1, 3, 6]
    # among equally quiet passes, the later ones
    quiet = [{**r, "steal_share": 0.0} for r in recs]
    assert [r["pass"] for r in measure.quiet_passes(quiet)] == [4, 5, 6]
    # a tick or two of steal counts as none
    ticks = [{**r, "steal_share": s} for r, s in zip(recs, [0.0, 0.0, 0.0, 0.002, 0.004, 0.003])]
    assert [r["pass"] for r in measure.quiet_passes(ticks)] == [4, 5, 6]
    assert [r["pass"] for r in measure.quiet_passes(recs[:3])] == [1, 3]
    assert measure.quiet_passes(recs[:1]) == recs[:1]


def test_stolen_passes_do_not_move_the_times():
    planned = ["a"]
    recs = _ok_run(planned, passes=4)
    for r in recs:
        if r.get("pass") in (1, 3):  # the host took the CPUs: twice as slow
            if r["kind"] == "pass":
                r.update(wall_s=2 * r["wall_s"], steal_share=0.2, peak_rss_mb=900.0)
            elif r["kind"] == "query":
                r["build_s"] *= 2
    out = measure.summarize(recs, planned, cores=4, traced=False)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["pass_s"] == pytest.approx(6.0)  # passes 2 and 4: 5.0 and 7.0
    assert m["query_geomean_s"] == pytest.approx(1.0)
    # memory is not a time: the peak of every pass counts
    assert m["peak_rss_mb"] == 900.0


def test_times_are_scaled_by_the_speed_probed_while_they_ran():
    planned = ["a"]
    ref = measure.REFERENCE_PROBE_S
    recs = _ok_run(planned, passes=3)
    setup = next(r for r in recs if r["kind"] == "setup")
    setup.update(t0=0.0, t1=10.0)
    for r in recs:
        if r["kind"] == "pass":  # pass p runs from 10p to 10p + 5
            r.update(t0=10.0 * r["pass"], t1=10.0 * r["pass"] + 5)
    # the host ran at half speed during set-up and pass 3, at full speed
    # during pass 2; a probe between passes counts for none of them
    recs += [{"kind": "speed", "t": t, "s": s} for t, s in [
        (1.0, 2 * ref), (9.0, 2 * ref), (12.0, ref), (13.0, ref), (18.0, 9 * ref),
        (31.0, 2 * ref), (34.0, 2 * ref), (35.0, 3 * ref),
    ]]
    assert measure.speed_at(recs, 0.0, 10.0) == pytest.approx(0.5)
    assert measure.speed_at(recs, 20.0, 25.0) == 1.0  # no probe: unscaled
    m = {k: v["value"] for k, v in measure.summarize(recs, planned, cores=4, traced=False)["metrics"].items()}
    assert m["setup_s"] == pytest.approx(5.0)
    # passes 2 and 3 kept: 5.0 s at full speed, 6.0 s at half
    assert m["pass_s"] == pytest.approx((5.0 + 0.5 * 6.0) / 2)
    assert m["query_geomean_s"] == pytest.approx((1.0 + 0.5 * 1.0) / 2)
    assert m["success_rate"] == 1.0 and m["peak_rss_mb"] == 300.0
    layers = measure.summarize(_traced(recs), planned, cores=4, traced=True)["metrics"]
    assert layers["stream.add_batch_ms"]["value"] == pytest.approx((600 + 0.5 * 600) / 2)
    assert layers["session.start_s"]["value"] == pytest.approx(2.5)
    assert layers["build.jobs"]["value"] == 2 and layers["build.share"]["value"] == 0.5
    assert measure.probe_s() > 0


def _ok_run(planned, passes=2, extra=()):
    """Records of an untraced run in which every query succeeded."""
    recs = []
    for q in planned:
        recs += [{"kind": "start", "pass": 0, "query": q},
                 {"kind": "warmup", "pass": 0, "query": q, "error": None, "mismatch": []}]
    recs.append({"kind": "setup", "session_s": 5.0, "catalog_s": 0.5, "warmup_s": 4.5, "spark": "x"})
    for p in range(1, passes + 1):
        for i, q in enumerate(planned):
            recs += [{"kind": "start", "pass": p, "query": q},
                     {"kind": "query", "pass": p, "query": q, "build_s": 0.5 * (i + 1),
                      "action_s": 0.5 * (i + 1), "release_s": 0.1}]
        recs.append({"kind": "pass", "pass": p, "wall_s": 3.0 + p, "peak_rss_mb": 100.0 * p})
    return recs + list(extra)


def test_summarize_end_to_end():
    planned = ["a", "b"]
    out = measure.summarize(_ok_run(planned), planned, cores=4, traced=False)
    assert out["correct"] is True
    assert (out["attempted"], out["failed"]) == (6, 0)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert set(m) == set(measure.END_TO_END)
    assert m["setup_s"] == pytest.approx(10.0)
    # two passes without steal: the later one is kept
    assert m["pass_s"] == pytest.approx(5.0)
    assert m["query_geomean_s"] == pytest.approx(math.sqrt(1.0 * 2.0))
    assert m["success_rate"] == 1.0
    assert m["peak_rss_mb"] == 200.0


def test_raising_query_counts_as_failed():
    planned = ["a", "b"]
    recs = _ok_run(planned)
    recs[1] = {"kind": "warmup", "pass": 0, "query": "a", "error": "ValueError: boom", "mismatch": []}
    out = measure.summarize(recs, planned, cores=4, traced=False)
    assert out["correct"] is False
    assert (out["attempted"], out["failed"]) == (6, 1)
    assert out["metrics"]["success_rate"]["value"] == pytest.approx(5 / 6)
    # an untimed settle pass (negative pass number) that raises counts too
    settle = [{"kind": "start", "pass": -1, "query": "b"},
              {"kind": "query", "pass": -1, "query": "b", "error": "RuntimeError: x"}]
    out = measure.summarize(_ok_run(planned, extra=settle), planned, cores=4, traced=False)
    assert (out["attempted"], out["failed"]) == (7, 1)
    assert out["metrics"]["pass_s"]["value"] == pytest.approx(5.0)


def test_injected_wrong_result_is_a_mismatch_and_an_error():
    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [10.0, 20.0, 30.0]})
    assert compare("q", oracle.iloc[::-1].copy(), oracle) == []
    wrong = oracle.assign(v=[10.0, 20.0, 31.0])
    problems = compare("q", wrong, oracle)
    assert problems and "col v" in problems[0]
    assert compare("q", oracle.iloc[:2], oracle)  # a lost row

    planned = ["a", "b"]
    recs = _ok_run(planned)
    recs[3] = {"kind": "warmup", "pass": 0, "query": "b", "error": None, "mismatch": problems}
    out = measure.summarize(recs, planned, cores=4, traced=False)
    assert out["correct"] is False and out["failed"] == 1
    assert out["metrics"]["success_rate"]["value"] < 1.0
    traced = measure.summarize(_traced(recs), planned, cores=4, traced=True)
    assert traced["metrics"]["oracle.mismatches"]["value"] == 1


def test_cut_run_counts_unfinished_and_unreached_queries():
    planned = ["a", "b", "c"]
    # cut during the warm-up of "b": "b" started, "c" never did
    recs = [{"kind": "start", "pass": 0, "query": "a"},
            {"kind": "warmup", "pass": 0, "query": "a", "error": None, "mismatch": []},
            {"kind": "start", "pass": 0, "query": "b"}]
    assert measure.count_failures(recs, planned) == (3, 2, 0)
    out = measure.summarize(recs, planned, cores=4, traced=False)
    assert out["correct"] is False and out["metrics"] == {}
    # cut in the second timed pass: the query in flight failed
    recs = _ok_run(planned, passes=1) + [{"kind": "start", "pass": 2, "query": "c"}]
    assert measure.count_failures(recs, planned) == (7, 1, 0)
    out = measure.summarize(recs, planned, cores=4, traced=False)
    assert out["correct"] is False
    assert out["metrics"]["pass_s"]["value"] == pytest.approx(4.0)


def _traced(recs):
    jobs = {"jobs": 2, "stages": 3.0, "tasks": 8.0, "busy_ms": 2000.0, "shuffle_write_bytes": 5.0,
            "shuffle_read_bytes": 5.0, "spill_bytes": 0.0, "tasks_failed": 0.0}
    stream = {**measure.fold_progress([_progress(0, 10, 900, 600, 100, [(3, 30, 5)])]),
              "overhead_ms": 40.0}
    out = []
    for r in recs:
        if r["kind"] == "query":
            r = {**r, "build": jobs, "action": {**jobs, "jobs": 1}, "stream": stream}
        out.append(r)
    return out


def test_summarize_traced_layers():
    planned = ["a", "b"]
    out = measure.summarize(_traced(_ok_run(planned)), planned, cores=4, traced=True)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert set(m) == set(measure.LAYER_UNITS)
    # per pass: two queries, walls 1.0 + 2.0 s, builds 0.5 + 1.0 s
    assert m["build.wall_s"] == pytest.approx(1.5)
    assert m["build.share"] == pytest.approx(0.5)
    assert m["build.jobs"] == 4 and m["action.jobs"] == 2
    # 4 phases x 2 s of task time over 3 s x 4 cores
    assert m["exec.busy_s"] == pytest.approx(8.0)
    assert m["exec.busy_share"] == pytest.approx(8.0 / 12.0)
    assert m["stream.microbatches"] == 2
    assert m["stream.add_batch_ms"] == 1200
    assert m["stream.overhead_ms"] == 80
    assert m["session.release_s"] == pytest.approx(0.2)
    assert m["session.start_s"] == 5.0
    assert m["trace.pass_s"] == pytest.approx(5.0)
    assert m["oracle.mismatches"] == 0


def test_datagen_is_seeded():
    a, b = datagen.build_tables(3, 0.001), datagen.build_tables(3, 0.001)
    c = datagen.build_tables(4, 0.001)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["events"].num_rows == 1000
    ts = a["events"].column("ts").to_pylist()
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
