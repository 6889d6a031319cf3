"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --seeds 1-10 [--workload NAME ...] [--trace 0|1]

Run from the root of a checkout. For every workload (all of BENCHMARK.json's
by default) it runs ``perfbench/run.py`` once per seed, one run at a time,
and prints per metric the median, the quartiles from
``statistics.quantiles(values, n=4)`` and the quartile distance as a share of
the median, next to the metric's bound; ``unscaled.pass_s`` is ``pass_s``
before scaling to the reference speed. The last line is a JSON object with
the same numbers and the wall time of every run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from measure import quartile_spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open("BENCHMARK.json", encoding="utf-8") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--workload", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    report: dict = {}
    for workload in args.workload:
        values: dict[str, list[float]] = {}
        walls, failures = [], 0
        for seed in _seeds(args.seeds):
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                "--trace", str(args.trace),
            ]
            t0 = time.monotonic()
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            walls.append(round(time.monotonic() - t0, 1))
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            if result is None or not result["correct"]:
                failures += 1
                print(f"{workload} seed {seed}: failed (exit {proc.returncode})", file=sys.stderr)
                continue
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            # the pass time before scaling to the reference speed
            env = json.loads(lines[-2])["env"]
            kept = [env["pass_walls_s"][p - 1] for p in env["kept_passes"]]
            values.setdefault("unscaled.pass_s", []).append(statistics.median(kept))
        rows = {}
        for name, vs in sorted(values.items()):
            spread = quartile_spread(vs) if len(vs) >= 2 else None
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) >= 2 else (vs[0], 0, vs[0])
            rows[name] = {
                "median": statistics.median(vs), "q1": q1, "q3": q3,
                "spread": spread, "bound": bounds.get(name), "values": vs,
            }
            bound = bounds.get(name)
            print(
                f"{workload:20s} {name:26s} median {statistics.median(vs):14.4f} "
                f"q1 {q1:14.4f} q3 {q3:14.4f} spread {spread if spread is not None else float('nan'):7.3f}"
                + (f" bound {bound}" if bound is not None else ""),
                file=sys.stderr,
            )
        report[workload] = {"metrics": rows, "run_walls_s": walls, "failed_runs": failures}
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
