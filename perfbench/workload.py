"""One workload in one process: the part of the benchmark that drives Spark.

``run.py`` starts this module as a child process with the environment pinned
and a hard timeout. It appends one JSON record per event to ``--records``
while it runs, so a run that is cut still leaves every finished query behind:

- ``start`` before each query, ``warmup`` / ``query`` after it;
- ``setup`` after the warm-up pass and the untimed settle passes;
- ``pass`` after each timed pass, with the share of CPU time the hypervisor
  took during it (steal) and the peak resident memory since the timed
  passes began.

``setup`` and ``pass`` carry their start and end (``t0``, ``t1``, epoch
seconds), so that ``run.py``'s speed probes can be matched to them.

The warm-up pass collects every result and compares it with the catalog's
DuckDB oracle; the timed passes write to the noop sink. With ``--trace 1``
the timed passes also record job groups, status-store totals, streaming
progress and spans (see ``Tracer``).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import threading
import time
import traceback
from datetime import datetime
from typing import NamedTuple

from measure import fold_runs, fold_stages, seeded_order, steal_share


class Workload(NamedTuple):
    scale: float  # of the generated tables; sf=0.001 has 6,000 lineitems
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    # an iterative fixpoint: operators/graph.py's k-truss loop, with its
    # checkpoint and convergence probe, 30 jobs on every seed. At sf=0.001
    # the co-order part graph is so dense that the first round peels no edge
    # and the loop stops there; at sf=0.01 all four rounds peel, but a pass
    # takes 6-13 s and was still speeding up after four passes.
    # Left out: luby_mis_coparts, whose job count ranged from 36 to 63 with
    # the seed, and sssp_weighted_cycle_ir, which added 20 s to every run.
    "graph_fixpoint": Workload(0.001, ("ktruss_coparts",)),
    # streaming/: the keyed state machine of an enrichment join and a
    # complete-mode aggregation, both run as availableNow microbatches. At
    # sf=0.01 pass walls were the same (the per-batch floor sets them) and
    # the warm-up pass took 13 s longer.
    "streaming_stateful": Workload(
        0.001, ("streaming_left_enrichment_join", "streaming_last_per_key")
    ),
}

# nominal length of one timed pass of either workload, to turn seconds into
# a pass count
PASS_S = 3.0
# at least this many timed passes, so a median rejects one outlier pass
MIN_PASSES = 3
# untimed noop passes between the warm-up pass and the timed ones. A fresh
# JVM keeps getting faster for several passes as the JIT compiles the hot
# paths (pass walls fell 25-40% over the first eight passes); timing from
# the fourth pass on instead of the first halved the spread between runs.
SETTLE_PASSES = 3


def timed_passes(seconds: float) -> int:
    """Whole passes of nominal length that fit in ``seconds``, at least
    ``MIN_PASSES``. The count depends only on the arguments, never on how
    fast a run happens to be: queries still speed up over the first passes
    of a process (JIT), so a time-bounded loop would let the speed of a run
    change its own sample count and with it the medians."""
    return max(MIN_PASSES, int(seconds // PASS_S))


class Recorder:
    """Appends JSON records to a file, one per line, flushed as written."""

    def __init__(self, path: str):
        self._f = open(path, "a", encoding="utf-8")

    def __call__(self, kind: str, **fields) -> None:
        self._f.write(json.dumps({"kind": kind, **fields}) + "\n")
        self._f.flush()

    def close(self) -> None:
        self._f.close()


def _epoch(iso: str) -> float:
    """Epoch seconds of a StreamingQueryProgress timestamp (ISO 8601, UTC)."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Tracer:
    """Layer counters and spans for traced passes, read from outside the
    engine: job groups around each phase, the status store for job and
    stage totals, and a StreamingQueryListener for microbatches.

    Microbatch jobs run under their streaming query's ``runId`` job group,
    so the jobs of a build phase are those of its own group plus those of
    every streaming query that started during it."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = self.sc._jvm
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala, "MODULE$"))
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._started: dict[str, float] = {}
        self._ended: dict[str, float] = {}
        self._progress: dict[str, list[dict]] = {}
        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with tracer._lock:
                    tracer._started[str(event.runId)] = time.time()

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with tracer._lock:
                    tracer._progress.setdefault(p["runId"], []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with tracer._lock:
                    tracer._ended[str(event.runId)] = time.time()

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def group(self, name: str | None) -> None:
        if name is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(name, name)

    def run_ids_since(self, t0: float) -> list[str]:
        with self._lock:
            return [rid for rid, t in self._started.items() if t >= t0]

    def _get(self, obj) -> dict:
        return json.loads(self._json.writeValueAsString(obj))

    def jobs(self, groups: list[str]) -> tuple[dict, list[dict]]:
        """Job/stage totals over ``groups`` and the job records themselves."""
        self._bus.waitUntilEmpty()
        jobs, stage_ids = [], set()
        for g in groups:
            for jid in self.sc.statusTracker().getJobIdsForGroup(g):
                job = self._get(self._store.job(jid))
                jobs.append(job)
                stage_ids.update(job.get("stageIds") or [])
        stages = [self._get(self._store.lastStageAttempt(s)) for s in sorted(stage_ids)]
        totals = fold_stages(stages)
        totals["jobs"] = len(jobs)
        return totals, jobs

    def stream(self, run_ids: list[str]) -> tuple[dict, list[dict]]:
        """``stream.*`` totals over the given streaming queries."""
        with self._lock:
            progress = {r: list(self._progress.get(r, [])) for r in run_ids}
            started = {r: self._started.get(r) for r in run_ids}
            ended = {r: self._ended.get(r) for r in run_ids}
        batches = [p for r in run_ids for p in progress[r]]
        return fold_runs(progress, started, ended), batches

    def span(self, name: str, parent: int | None, start: float, end: float, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "name": name, "start": start, "end": end, **attrs}
        )
        return len(self.spans) - 1

    def close(self, spark) -> None:
        spark.streams.removeListener(self._listener)


def run_query(spark, build, data_dir, name, pass_no, tracer: Tracer | None) -> dict:
    """Build, write to noop, release. Returns the ``query`` record."""
    from milan_spark.session import release_cached

    tag = f"perfbench:{pass_no}:{name}"
    w0 = time.time()
    t0 = time.perf_counter()
    if tracer:
        tracer.group(f"{tag}:build")
    df = build(spark, data_dir)
    t1 = time.perf_counter()
    if tracer:
        tracer.group(f"{tag}:action")
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    if tracer:
        tracer.group(None)
    release_cached(spark)
    t3 = time.perf_counter()
    rec = {"pass": pass_no, "query": name, "build_s": t1 - t0, "action_s": t2 - t1, "release_s": t3 - t2}
    if tracer:
        run_ids = tracer.run_ids_since(w0)
        rec["build"], build_jobs = tracer.jobs([f"{tag}:build", *run_ids])
        rec["action"], _ = tracer.jobs([f"{tag}:action"])
        rec["stream"], batches = tracer.stream(run_ids)
        _record_spans(tracer, rec, w0, build_jobs, batches)
    return rec


def run_pass(spark, builders, data_dir, workload, pass_no, rng, record, tracer) -> float:
    """One pass over the workload in a seeded order; returns its wall time."""
    p0 = time.perf_counter()
    for name in seeded_order(workload.queries, rng):
        record("start", **{"pass": pass_no, "query": name})
        try:
            rec = run_query(spark, builders[name], data_dir, name, pass_no, tracer)
        except Exception as e:  # a failing query must not hide the others
            traceback.print_exc()
            rec = {"pass": pass_no, "query": name, "error": f"{type(e).__name__}: {e}"}
        record("query", **rec)
    return time.perf_counter() - p0


def _record_spans(tracer: Tracer, rec: dict, w0: float, build_jobs, batches) -> None:
    b, a, r = rec["build_s"], rec["action_s"], rec["release_s"]
    tot = {k: rec["build"][k] + rec["action"][k] for k in ("jobs", "stages")}
    q = tracer.span("query", None, w0, w0 + b + a + r, query=rec["query"], pass_no=rec["pass"], **tot)
    bid = tracer.span("build", q, w0, w0 + b, jobs=rec["build"]["jobs"], stages=rec["build"]["stages"])
    tracer.span("action", q, w0 + b, w0 + b + a, jobs=rec["action"]["jobs"], stages=rec["action"]["stages"])
    tracer.span("release", q, w0 + b + a, w0 + b + a + r, jobs=0, stages=0)
    for p in batches:
        start = _epoch(p["timestamp"])
        end = start + (p.get("durationMs") or {}).get("triggerExecution", 0) / 1000.0
        # a microbatch's jobs run under its query's runId group and were
        # submitted while the batch ran
        mine = [
            j for j in build_jobs
            if j.get("jobGroup") == p["runId"]
            and start <= (j.get("submissionTime") or 0) / 1000.0 <= end
        ]
        tracer.span(
            "microbatch", bid, start, end,
            batch_id=p.get("batchId"), rows=p.get("numInputRows", 0),
            jobs=len(mine), stages=sum(len(j.get("stageIds") or []) for j in mine),
        )


def _oracle(data_dir: str):
    """A DuckDB connection with one view per generated table."""
    import duckdb

    from datagen import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def check_with_oracle(con, name: str, sql: str, result) -> list[str]:
    """Run the oracle SQL on DuckDB and compare; an oracle that fails to run
    is reported as a problem of the query, not as a crash of the run."""
    import duckdb

    from tools.check_correctness import compare

    try:
        oracle_df = con.execute(sql).fetchdf()
    except duckdb.Error as e:
        return [f"oracle error: {e}"]
    return compare(name, result, oracle_df)


def steal_ticks() -> int:
    """Clock ticks the hypervisor gave to other guests, summed over the
    machine's CPUs (the ``steal`` column of /proc/stat); 0 where there is
    no such column."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def _driver_pids(spark) -> tuple[int, int]:
    return spark._jvm.java.lang.ProcessHandle.current().pid(), os.getpid()


def reset_peak_rss(spark) -> None:
    """Restart the high-water marks of the driver JVM and this process at
    their current resident size, so the warm-up collect and the oracle
    comparison before the timed passes do not set the peak."""
    for pid in _driver_pids(spark):
        with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
            f.write("5")


def peak_rss_mb(spark) -> float:
    """High-water resident memory of the driver JVM plus this process."""
    kb = 0
    for pid in _driver_pids(spark):
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--records", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args(argv)

    record = Recorder(args.records)
    workload = WORKLOADS[args.workload]
    rng = random.Random(args.seed)

    setup_t0 = time.time()
    t0 = time.perf_counter()
    from milan_spark.session import get_spark, release_cached

    spark = get_spark(f"perfbench_{args.workload}")
    t1 = time.perf_counter()
    from milan_spark.catalog import oracle_sql, queries

    builders, oracles = queries(), oracle_sql()
    t2 = time.perf_counter()
    con = _oracle(args.data)

    warmup_s = 0.0
    for name in seeded_order(workload.queries, rng):
        record("start", **{"pass": 0, "query": name})
        s = time.perf_counter()
        error, problems = None, []
        try:
            result = builders[name](spark, args.data).toPandas()
        except Exception as e:  # a failing query must not hide the others
            traceback.print_exc()
            error = f"{type(e).__name__}: {e}"
        release_cached(spark)
        warmup_s += time.perf_counter() - s
        if error is None:
            problems = check_with_oracle(con, name, oracles[name], result)
        if problems:
            print(f"oracle mismatch in {name}: {'; '.join(problems)}", file=sys.stderr)
        record("warmup", **{"pass": 0, "query": name, "error": error, "mismatch": problems})
    s = time.perf_counter()
    for settle_no in range(-SETTLE_PASSES, 0):
        run_pass(spark, builders, args.data, workload, settle_no, rng, record, None)
    warmup_s += time.perf_counter() - s
    record(
        "setup", session_s=t1 - t0, catalog_s=t2 - t1, warmup_s=warmup_s, spark=spark.version,
        t0=setup_t0, t1=time.time(),
    )

    tracer = Tracer(spark) if args.trace else None
    reset_peak_rss(spark)
    cpus, ticks_per_s = os.cpu_count() or 1, os.sysconf("SC_CLK_TCK")
    for pass_no in range(1, timed_passes(args.seconds) + 1):
        steal0, pass_t0 = steal_ticks(), time.time()
        wall = run_pass(spark, builders, args.data, workload, pass_no, rng, record, tracer)
        stolen = steal_share(steal_ticks() - steal0, wall, cpus, ticks_per_s)
        record("pass", **{
            "pass": pass_no, "wall_s": wall, "steal_share": stolen, "t0": pass_t0, "t1": time.time(),
            "peak_rss_mb": peak_rss_mb(spark),
        })
    if tracer:
        tracer.close(spark)
        with open(args.spans, "w", encoding="utf-8") as f:
            json.dump(tracer.spans, f)
    record.close()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
