"""Benchmark harness: runs every catalog query at $SPARK_GRAFT_SF_DIR and
prints ONE JSON line with per-query wall times.

Usage: python bench.py  (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)

Materialization uses the noop sink — full execution, no driver collect — so
the measured time is the distributed plan, not result transfer.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _warm_streaming_child(sf_dir: str, names: list[str]) -> None:
    """Child mode: measure the named queries in THIS fresh session — one
    untimed warmup then SPARK_GRAFT_BENCH_PASSES timed passes each — and
    print one JSON map {name: median}. Exists because streaming state
    queries measured at the tail of a 240-query session carry
    session-accumulation noise (GC state, checkpoint blocks, worker pools):
    their code didn't change across rounds 7→8 yet cold medians drifted up
    to 1.6×. The warm-isolated number is the comparable one."""
    import time as _t

    from milan_spark.catalog import queries
    from milan_spark.session import get_spark, release_cached

    spark = get_spark("milan_bench_warm_streaming")
    qs = queries()
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    out: dict[str, float] = {}
    for name in names:
        samples = []
        for p in range(n_passes + 1):  # pass 0 = untimed warmup
            start = _t.perf_counter()
            try:
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:
                print(f"warm-streaming error in {name}: {e}", file=sys.stderr)
                break
            if p > 0:
                samples.append(round(_t.perf_counter() - start, 4))
            release_cached(spark)
        if samples:
            out[name] = round(statistics.median(samples), 4)
    print(json.dumps(out))


#: most entries the printed ``queries`` map holds: the stdout tail keeps
#: ~2000 chars, and a longer line would truncate (the round-1 lesson)
_TRACKED_CAP = 40


def _newest(here: str, prefix: str) -> str | None:
    """The newest ``<prefix>_rNN*.json`` artifact in ``here``: highest round,
    then the plain file before its variants (``BENCH_r10.json`` before
    ``BENCH_r10_c8.json``)."""
    found = []
    for name in os.listdir(here):
        m = re.fullmatch(rf"{prefix}_r(\d+)(.*)\.json", name)
        if m:
            found.append((int(m.group(1)), -len(m.group(2)), name))
    return max(found)[2] if found else None


def _prev_tracked_names(here: str) -> set[str]:
    """Query names the newest previous-round artifacts (``PERF_r*``,
    ``BENCH_r*``) track per-query. Keeping them in the printed ``queries``
    map (even when they are no longer among the slowest) prevents a
    membership change from reading as ``dropped_from_bench``
    round-over-round (the round-9 artifact)."""
    names: set[str] = set()
    for prefix, extract in (
        ("PERF", lambda d: (d.get("per_query") or {}).keys()),
        ("BENCH", lambda d: ((d.get("parsed") or {}).get("queries") or {}).keys()),
    ):
        fname = _newest(here, prefix)
        if fname is None:
            continue
        try:
            with open(os.path.join(here, fname)) as f:
                names.update(extract(json.load(f)))
        except (OSError, json.JSONDecodeError, AttributeError):
            pass
    return names


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--warm-streaming-child":
        _warm_streaming_child(sys.argv[2], sys.argv[3:])
        return
    # Wall-clock budget for the WHOLE bench invocation (round-9 lesson: at
    # 262 queries the fixed warmup + 3 passes + warm-streaming tier overran
    # the driver's window and the one-line JSON was never printed — rc=124,
    # no measurement at all). The budget adapts the number of timed passes
    # (always >= 1) and gates the optional warm-streaming tier, so the
    # summary line ALWAYS prints. Methodology is otherwise unchanged:
    # untimed warmup pass, per-query median over the timed passes, noop sink.
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "2000"))
    t0 = time.perf_counter()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from milan_spark.catalog import queries
    from milan_spark.session import get_spark, release_cached

    spark = get_spark("milan_spark_bench")
    qs = queries()

    # warm the JVM + parquet footers once with the flagship query, and the
    # Python worker pool (spark.python.worker.reuse is on — a long-lived
    # cluster pays daemon fork + Arrow init once, not per query)
    try:
        qs["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()
        from pyspark.sql.functions import col, pandas_udf

        # no type hints: under PEP 563 a stringified `pd.Series` annotation
        # would fail to resolve inside this function scope and kill the warmup
        _warm = pandas_udf(lambda s: s, "long")
        ncpu = spark.sparkContext.defaultParallelism
        spark.range(0, ncpu * 4, 1, ncpu).select(_warm(col("id"))).write.format(
            "noop"
        ).mode("overwrite").save()
    except Exception as e:
        print(f"bench warmup error: {e}", file=sys.stderr)

    # an untimed per-query warmup pass, then three timed passes reporting the
    # per-query MEDIAN with the full per-pass spread in the detail file. The
    # first-ever execution of a query pays its plan-specific codegen/JIT +
    # Arrow kernel warmup (measured 2-4x steady state on the heavy dedup
    # queries) that a long-lived cluster amortizes; excluding it makes the
    # median measure steady state and collapses the spread to machine jitter
    # (round-2/3 lesson: apparent multi-second regressions were warmup+load,
    # indistinguishable without a spread over warm passes)
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    warmup_pass = os.environ.get("SPARK_GRAFT_BENCH_WARMUP_PASS", "1") != "0"
    pass_walls: list[float] = []
    stream_wall = 0.0
    if warmup_pass:
        w0 = time.perf_counter()
        for name, build in qs.items():
            try:
                build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:
                print(f"bench warmup error in {name}: {e}", file=sys.stderr)
            release_cached(spark)
        pass_walls.append(time.perf_counter() - w0)
    samples: dict[str, list[float]] = {}
    passes_run = 0
    for _pass in range(n_passes):
        # budget check: pass 1 always runs; later passes only when they (plus
        # the warm tier, whose numbers the cross-round comparison prefers)
        # still fit. Estimate = the most recent full-pass wall clock.
        if _pass >= 1 and pass_walls:
            est_warm = 60.0 + stream_wall * (n_passes + 1)
            if time.perf_counter() - t0 + pass_walls[-1] + est_warm > budget:
                print(
                    f"bench budget: stopping after {_pass} timed passes "
                    f"({time.perf_counter() - t0:.0f}s elapsed of {budget:.0f}s)",
                    file=sys.stderr,
                )
                break
        p0 = time.perf_counter()
        stream_wall = 0.0
        for name, build in qs.items():
            start = time.perf_counter()
            try:
                build(spark, sf_dir).write.format("noop").mode("overwrite").save()
                took = time.perf_counter() - start
                samples.setdefault(name, []).append(round(took, 4))
                if name.startswith("streaming_"):
                    stream_wall += took
            except Exception as e:  # a failing query must not hide the others
                samples.setdefault(name, [])
                print(f"bench error in {name}: {e}", file=sys.stderr)
            # multi-pass operators persist intermediates internally; drop them
            # so later queries aren't measured under accumulated heap pressure
            release_cached(spark)
        pass_walls.append(time.perf_counter() - p0)
        passes_run += 1

    timings = {k: (round(statistics.median(v), 4) if v else -1.0) for k, v in samples.items()}
    total = round(sum(t for t in timings.values() if t >= 0), 4)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Full per-query map + regression ratios vs the round-1 bench go to a
    # file; the driver's stdout capture keeps only the last 2000 chars, so the
    # FINAL line must be a short JSON (round 1 lost its bench to a truncated
    # 84-entry line). The short line carries the slowest 15 queries so the
    # hot set is visible even without the detail file.
    here = os.path.dirname(os.path.abspath(__file__))
    detail: dict = {
        "metric": "total_catalog_query_wall_time",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_passes": passes_run,
        "budget_sec": budget,
        "queries": timings,
        # per-query raw pass times: spread = (max-min) distinguishes real
        # regressions from machine jitter when comparing rounds
        "passes": samples,
        "spread": {
            k: round(max(v) - min(v), 4) for k, v in samples.items() if v
        },
    }
    # standing warm-isolated tier for streaming state queries (round-8
    # verdict: their end-of-session cold medians drift with catalog LENGTH,
    # not code — re-measure them in one fresh subprocess session with per-
    # query warmup and record BOTH numbers; "warm" is the cross-round
    # comparable, "queries" stays the in-session number the totals use)
    est_warm = 60.0 + stream_wall * (n_passes + 1)
    if (
        os.environ.get("SPARK_GRAFT_BENCH_WARM_STREAMING", "1") != "0"
        and time.perf_counter() - t0 + est_warm <= budget
    ):
        import subprocess

        stream_names = sorted(k for k in timings if k.startswith("streaming_"))
        if stream_names:
            # the child gets what is left of the budget, so the JSON line
            # still prints when a warm query hangs
            remaining = budget - (time.perf_counter() - t0)
            try:
                r = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--warm-streaming-child", sf_dir, *stream_names],
                    capture_output=True, text=True, timeout=remaining,
                    env={**os.environ, "PYTHONPATH": here},
                )
            except subprocess.TimeoutExpired as e:
                detail["warm_error"] = f"timed out after {e.timeout:.0f} s"
            else:
                line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
                try:
                    detail["warm"] = json.loads(line)
                except json.JSONDecodeError:
                    detail["warm_error"] = r.stderr[-1500:]
    elif os.environ.get("SPARK_GRAFT_BENCH_WARM_STREAMING", "1") != "0":
        detail["warm_skipped"] = (
            f"budget: {time.perf_counter() - t0:.0f}s elapsed + ~{est_warm:.0f}s "
            f"estimated warm tier > {budget:.0f}s"
        )

    baseline_path = os.path.join(here, "BENCH_r01.json")
    try:
        with open(baseline_path) as f:
            tail = json.load(f).get("tail", "")
        prev = {
            k: float(v)
            for k, v in re.findall(r'"([a-z0-9_]+)": ([0-9.]+)', tail)
            if k not in ("metric", "value", "sf")
        }
        detail["vs_r01"] = {
            k: {"r01": prev[k], "now": t, "ratio": round(t / prev[k], 2)}
            for k, t in timings.items()
            if k in prev and prev[k] > 0 and t >= 0
        }
    except (OSError, json.JSONDecodeError, KeyError, ValueError) as e:
        # a missing/renamed baseline must be visible, not silently dropped
        detail["vs_r01_error"] = str(e)
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    slowest = dict(
        sorted(((k, v) for k, v in timings.items() if v >= 0), key=lambda kv: -kv[1])[:15]
    )
    # the printed map = slowest 15 ∪ the names the newest per-query artifacts
    # track, slowest first up to _TRACKED_CAP entries, so a query leaving the
    # slowest-15 set never reads as "dropped_from_bench"
    tracked = dict(slowest)
    prev = sorted(
        (k for k in _prev_tracked_names(here) if k not in tracked and timings.get(k, -1) >= 0),
        key=lambda k: (-timings[k], k),
    )
    for k in prev[: _TRACKED_CAP - len(tracked)]:
        tracked[k] = timings[k]
    failed = sorted(k for k, v in timings.items() if v < 0)
    summary = {
        "metric": "total_catalog_query_wall_time",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_failed": len(failed),
        # "queries" kept for the driver contract; "slowest" is the honest
        # name — it is the 15 slowest only, NOT all timings (sum != value);
        # the full map lives in BENCH_DETAIL.json
        "queries": tracked,
        "slowest": slowest,
        "detail": "BENCH_DETAIL.json",
    }
    if failed:
        summary["failed"] = failed[:10]
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
