"""Arithmetic of the benchmark: order, medians, folds and the final metrics.

Everything here is pure Python over plain dicts and lists, so it is tested
without Spark (``perfbench/tests``). ``workload.py`` writes one JSON record per
event while it runs; ``summarize`` turns those records into the metrics that
``run.py`` prints.
"""

from __future__ import annotations

import math
import random
import statistics
import time
from collections.abc import Iterable, Sequence

# progress-event ``durationMs`` keys, folded into ``stream.<name>`` sums
STREAM_PHASES = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
}

# Spark stage-total fields summed into the job counters of each phase
STAGE_FIELDS = {
    "tasks": "numTasks",
    "busy_ms": "executorRunTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
    "tasks_failed": "numFailedTasks",
}

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
}


def seeded_order(names: Sequence[str], rng: random.Random) -> list[str]:
    """A fresh shuffle of ``names``; the same rng state gives the same order."""
    order = list(names)
    rng.shuffle(order)
    return order


def median(values: Iterable[float]) -> float:
    return float(statistics.median(list(values)))


def quartile_spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median: ``statistics.quantiles(values, n=4)``, the exclusive method."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def geomean(values: Sequence[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def fold_progress(progress: Iterable[dict]) -> dict[str, float]:
    """Fold StreamingQueryProgress dicts of ONE streaming query into the
    ``stream.*`` counters. Times and input rows are summed over microbatches;
    state rows and bytes are gauges, so their largest value is kept."""
    out = dict.fromkeys(
        ["microbatches", "input_rows", "state_rows", "state_bytes", "state_commit_ms"], 0.0
    )
    out.update(dict.fromkeys(STREAM_PHASES, 0.0))
    for p in progress:
        out["microbatches"] += 1
        out["input_rows"] += p.get("numInputRows") or 0
        durations = p.get("durationMs") or {}
        for metric, key in STREAM_PHASES.items():
            out[metric] += durations.get(key) or 0
        ops = p.get("stateOperators") or []
        out["state_rows"] = max(out["state_rows"], sum(o.get("numRowsTotal") or 0 for o in ops))
        out["state_bytes"] = max(
            out["state_bytes"], sum(o.get("memoryUsedBytes") or 0 for o in ops)
        )
        out["state_commit_ms"] += sum(o.get("commitTimeMs") or 0 for o in ops)
    return out


def fold_runs(
    progress: dict[str, list[dict]], started: dict[str, float], ended: dict[str, float]
) -> dict[str, float]:
    """``stream.*`` totals over several streaming queries, keyed by ``runId``:
    each query folded on its own (``fold_progress``), then summed, so state
    gauges add up across queries. ``overhead_ms`` is each query's wall from
    its start to its end event (epoch seconds) minus its Σ triggerExecution."""
    out = {**fold_progress([]), "overhead_ms": 0.0}
    for run_id, batches in progress.items():
        for k, v in fold_progress(batches).items():
            out[k] += v
        if started.get(run_id) is not None and ended.get(run_id) is not None:
            trigger = sum((p.get("durationMs") or {}).get("triggerExecution") or 0 for p in batches)
            out["overhead_ms"] += (ended[run_id] - started[run_id]) * 1000.0 - trigger
    return out


def fold_stages(stages: Iterable[dict]) -> dict[str, float]:
    """Sum Spark StageData dicts (status-store JSON) into job counters."""
    out = dict.fromkeys(["stages", *STAGE_FIELDS], 0.0)
    for s in stages:
        if s.get("status") == "SKIPPED":
            continue
        out["stages"] += 1
        for metric, field in STAGE_FIELDS.items():
            fields = field if isinstance(field, tuple) else (field,)
            out[metric] += sum(s.get(f) or 0 for f in fields)
    return out


def busy_share(busy_s: float, wall_s: float, cores: int) -> float:
    """Executor busy time over the task slots the wall time offered."""
    return busy_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0


def steal_share(steal_ticks: float, wall_s: float, cpus: int, ticks_per_s: int) -> float:
    """CPU time the hypervisor gave to other guests during ``wall_s``, as a
    share of the time all of the machine's CPUs had."""
    offered = wall_s * cpus * ticks_per_s
    return steal_ticks / offered if offered > 0 else 0.0


# The speed probe: a fixed pure-Python loop that runs no code of the
# repository. run.py times it every PROBE_EVERY_S while the workload runs,
# in its own process, so only the speed the host gives the machine moves
# it. REFERENCE_PROBE_S is its time on the machine that reported seconds
# refer to: about its median on a 4-core Xeon guest at 2.1 GHz when the
# host ran quietest.
PROBE_LOOPS = 100_000
PROBE_EVERY_S = 0.1
REFERENCE_PROBE_S = 0.005


def probe_s() -> float:
    """Time one run of the speed-probe loop."""
    t = time.perf_counter()
    x = 0
    for i in range(PROBE_LOOPS):
        x += i * i % 7
    return time.perf_counter() - t


def speed_at(records: Sequence[dict], t0: float, t1: float) -> float:
    """Reference over measured probe time, the median over the ``speed``
    records that ended between ``t0`` and ``t1`` (1.0 with none). A time
    from that interval multiplied by it reads as if the machine had run at
    the reference speed. On a shared host the speed a guest gets moves by
    2x and more within minutes, with little or no trace in the guest's own
    counters, and the same code's pass walls move with it."""
    probes = [r["s"] for r in records if r["kind"] == "speed" and t0 <= r["t"] <= t1]
    return REFERENCE_PROBE_S / median(probes) if probes else 1.0


def quiet_passes(pass_recs: Sequence[dict]) -> list[dict]:
    """The half of the timed passes (rounded up) with the least CPU steal,
    in pass order; among equally quiet passes the later ones, which the JIT
    has had longer to settle. Steal is compared in whole percent: a pass of
    1.3 s on four CPUs spans 520 ticks of /proc/stat, and a tick or two of
    steal is noise. Both workloads are bound by thread hand-offs, so a few
    percent of steal slows a pass by tens of percent: passes taken while the
    host was busy measure the host, not the program."""
    keep = (len(pass_recs) + 1) // 2
    ranked = sorted(pass_recs, key=lambda r: (round(r.get("steal_share", 0.0), 2), -r["pass"]))
    return sorted(ranked[:keep], key=lambda r: r["pass"])


def count_failures(records: Sequence[dict], planned: Sequence[str]) -> tuple[int, int, int]:
    """``(attempted, failed, mismatches)`` over the run's query records.

    Every ``start`` is an attempt. A query fails when it raised, when the
    oracle disagreed with its warm-up result, or when it started and never
    finished because the run was cut. When the run was cut before the
    warm-up pass reached every planned query, the queries it never reached
    count as attempted and failed too.
    """
    started: dict[tuple[int, str], bool] = {}
    mismatches = 0
    for r in records:
        key = (r.get("pass", -1), r.get("query", ""))
        if r["kind"] == "start":
            started[key] = False
        elif r["kind"] in ("warmup", "query"):
            ok = r.get("error") is None and not r.get("mismatch")
            started[key] = ok
            mismatches += bool(r.get("mismatch"))
    warmed = {q for (p, q) in started if p == 0}
    unreached = [q for q in planned if q not in warmed]
    attempted = len(started) + len(unreached)
    failed = sum(1 for ok in started.values() if not ok) + len(unreached)
    return attempted, failed, mismatches


def summarize(records: Sequence[dict], planned: Sequence[str], cores: int, traced: bool) -> dict:
    """Turn a run's records into ``{"correct", "attempted", "failed",
    "metrics"}``. End-to-end metrics with ``traced`` False, per-layer metrics
    with it True. Times are medians over the quiet half of the timed passes
    (``quiet_passes``), each scaled by the speed probed while it ran
    (``speed_at``); ``peak_rss_mb`` is the peak over all timed passes."""
    attempted, failed, mismatches = count_failures(records, planned)
    setup = next((r for r in records if r["kind"] == "setup"), None)
    pass_recs = [r for r in records if r["kind"] == "pass"]
    kept = quiet_passes(pass_recs)
    speed = {r["pass"]: speed_at(records, r.get("t0", 0), r.get("t1", 0)) for r in kept}
    pass_walls = [r["wall_s"] * speed[r["pass"]] for r in kept]
    timed = [
        r for r in records
        if r["kind"] == "query" and r["pass"] in speed and r.get("error") is None
    ]
    complete = setup is not None and bool(pass_recs)
    result = {
        "correct": complete and failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {},
    }
    if not complete:
        return result
    setup_speed = speed_at(records, setup.get("t0", 0), setup.get("t1", 0))
    if not traced:
        per_query: dict[str, list[float]] = {}
        for r in timed:
            per_query.setdefault(r["query"], []).append((r["build_s"] + r["action_s"]) * speed[r["pass"]])
        values = {
            "setup_s": (setup["session_s"] + setup["catalog_s"] + setup["warmup_s"]) * setup_speed,
            "pass_s": median(pass_walls),
            "query_geomean_s": geomean([median(v) for v in per_query.values()]),
            "success_rate": 1.0 - result["failed"] / result["attempted"],
            "peak_rss_mb": max(r["peak_rss_mb"] for r in pass_recs),
        }
        result["metrics"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        return result
    per_pass = [
        _scaled(_layers_of_pass([r for r in timed if r["pass"] == p], cores), speed[p]) for p in speed
    ]
    layers = {k: median(d[k] for d in per_pass) for k in per_pass[0]}
    layers["session.start_s"] = setup["session_s"] * setup_speed
    layers["oracle.mismatches"] = float(mismatches)
    layers["trace.pass_s"] = median(pass_walls)
    result["metrics"] = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in sorted(layers.items())}
    return result


def _scaled(layers: dict[str, float], speed: float) -> dict[str, float]:
    """Times (``_s``, ``_ms``) multiplied by ``speed``; counts, bytes and
    shares as they are."""
    return {k: v * speed if LAYER_UNITS[k] in ("s", "ms") else v for k, v in layers.items()}


LAYER_UNITS = {
    "session.start_s": "s",
    "session.release_s": "s",
    "build.wall_s": "s",
    "build.share": "ratio",
    "build.jobs": "count",
    "build.stages": "count",
    "build.tasks": "count",
    "action.wall_s": "s",
    "action.jobs": "count",
    "action.stages": "count",
    "action.tasks": "count",
    "exec.busy_s": "s",
    "exec.busy_share": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.tasks_failed": "count",
    "stream.microbatches": "count",
    "stream.input_rows": "count",
    "stream.state_rows": "count",
    "stream.state_bytes": "bytes",
    "stream.state_commit_ms": "ms",
    "stream.overhead_ms": "ms",
    **{f"stream.{k}": "ms" for k in STREAM_PHASES},
    "oracle.mismatches": "count",
    "trace.pass_s": "s",
}
# layer metrics that are not per-pass totals: summarize() sets them per run
_PER_RUN = ("session.start_s", "oracle.mismatches", "trace.pass_s")


def _layers_of_pass(rows: Sequence[dict], cores: int) -> dict[str, float]:
    """Per-layer totals of one timed pass from its traced query records."""
    out = dict.fromkeys((k for k in LAYER_UNITS if k not in _PER_RUN), 0.0)
    wall = 0.0
    for r in rows:
        wall += r["build_s"] + r["action_s"]
        out["session.release_s"] += r["release_s"]
        for phase in ("build", "action"):
            jobs = r[phase]
            out[f"{phase}.wall_s"] += r[f"{phase}_s"]
            out[f"{phase}.jobs"] += jobs["jobs"]
            out[f"{phase}.stages"] += jobs["stages"]
            out[f"{phase}.tasks"] += jobs["tasks"]
            out["exec.busy_s"] += jobs["busy_ms"] / 1000.0
            for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "tasks_failed"):
                out[f"exec.{k}"] += jobs[k]
        stream = r.get("stream") or {}
        for k, v in stream.items():
            out[f"stream.{k}"] += v
    out["build.share"] = out["build.wall_s"] / wall if wall > 0 else 0.0
    out["exec.busy_share"] = busy_share(out["exec.busy_s"], wall, cores)
    return out
