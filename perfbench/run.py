"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload graph_fixpoint --seed 1 --seconds 18 --trace 0

Run from the root of a checkout of this repository. The command generates the
inputs from ``--seed``, starts ``workload.py`` in a child process with a pinned
environment and a hard timeout, times a speed probe while it waits (see
``measure.speed_at``), and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer ones. A run that is cut or
crashes after its Spark session started still prints its metrics (those it
can compute), with the queries it never finished counted as failed, and exits
with code 1. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from measure import PROBE_EVERY_S, probe_s, quiet_passes, speed_at, summarize  # noqa: E402
from workload import WORKLOADS  # noqa: E402

# hard limit for the workload process; the whole command must end within 180 s
CHILD_TIMEOUT_S = 165.0
# the driver JVM's heap, fixed at this size from the start (-Xms): ample for
# these inputs. When G1 was left to grow it, how far it grew depended on the
# run's timing, and the quartile spread of peak_rss_mb over ten seeds was
# 0.2 with 3g and 0.06-0.14 with 1g; with a fixed 1g heap, five seeds of
# streaming_stateful spanned 3%
DRIVER_MEM = "1g"
MAX_CORES = 4


def _env(root: str, run_dir: str, cores: int) -> dict[str, str]:
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_SUBMIT_ARGS=f'--driver-java-options "-Xms{DRIVER_MEM}" pyspark-shell',
        MALLOC_ARENA_MAX="2",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        MILAN_STREAM_STATE_API=env.get("MILAN_STREAM_STATE_API", "auto"),
    )
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the child's process group (the driver JVM and
    Python workers) and wait until the group is empty."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _probe_until_exit(proc: subprocess.Popen, timeout: float) -> tuple[int | None, list[dict]]:
    """Wait for the child, timing the speed probe every ``PROBE_EVERY_S``
    meanwhile. Returns its exit code (None if it outlived ``timeout``) and
    one ``speed`` record per probe: its end (epoch seconds) and its time."""
    deadline = time.monotonic() + timeout
    probes = []
    while proc.poll() is None:
        if time.monotonic() > deadline:
            return None, probes
        took = probe_s()
        probes.append({"kind": "speed", "t": time.time(), "s": took})
        time.sleep(PROBE_EVERY_S)
    return proc.returncode, probes


def _read_records(path: str) -> list[dict]:
    out = []
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    out.append(json.loads(line))
                except json.JSONDecodeError:  # a line cut by the kill
                    break
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="read the tables from this directory instead of generating them")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "milan_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout (no milan_spark/ here)", file=sys.stderr)
        return 2
    t_start = time.monotonic()
    cores = min(os.cpu_count() or 1, MAX_CORES)
    out_dir = os.path.join(root, ".perfbench")
    run_dir = os.path.join(out_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    records_path = os.path.join(run_dir, "records.jsonl")
    spans_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    try:
        import datagen

        workload = WORKLOADS[args.workload]
        data_dir = args.data and os.path.abspath(args.data)
        if not data_dir:
            data_dir = datagen.write_tables(os.path.join(run_dir, "data"), args.seed, workload.scale)
        env = _env(root, run_dir, cores)
        cmd = [
            sys.executable, os.path.join(HERE, "workload.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data_dir, "--records", records_path, "--spans", spans_path,
        ]
        timeout = CHILD_TIMEOUT_S - (time.monotonic() - t_start)
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True)
        try:
            rc, probes = _probe_until_exit(proc, timeout)
            if rc is None:
                print(f"perfbench: workload cut after {timeout:.0f} s", file=sys.stderr)
        finally:
            _stop_group(proc)
        records = _read_records(records_path) + probes
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if not any(r["kind"] in ("warmup", "setup") for r in records):
        print(f"perfbench: the workload ended (code {rc}) before its first query", file=sys.stderr)
        return 1
    result = summarize(records, workload.queries, cores, traced=bool(args.trace))
    pass_recs = [r for r in records if r["kind"] == "pass"]
    setup = next((r for r in records if r["kind"] == "setup"), {})
    run_env = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "driver_mem": DRIVER_MEM,
        "scale": workload.scale,
        "data": args.data or "generated",
        "stream_state_api": env["MILAN_STREAM_STATE_API"],
        "spark": setup.get("spark"),
        "setup_speed": speed_at(records, setup.get("t0", 0), setup.get("t1", 0)),
        "pass_speed": [round(speed_at(records, r["t0"], r["t1"]), 4) for r in pass_recs],
        "pass_walls_s": [round(r["wall_s"], 4) for r in pass_recs],
        "steal_share": [round(r["steal_share"], 4) for r in pass_recs],
        "kept_passes": [r["pass"] for r in quiet_passes(pass_recs)],
    }
    for r in records:
        if r["kind"] in ("warmup", "query", "pass", "setup"):
            print("perfbench:", json.dumps(r)[:300], file=sys.stderr)
    ok = rc == 0 and result["correct"]
    print(json.dumps({"env": run_env}))
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
