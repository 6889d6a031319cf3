"""Targeted subset bench: same methodology as bench.py (noop sink, untimed
warmup, median of N timed passes) over just the named queries — the tool for
per-optimization before/after A/Bs without paying a full catalog pass.

Usage: python tools/subset_bench.py <query> [<query> ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
     SPARK_GRAFT_BENCH_PASSES (default 3).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: subset_bench.py <query> [<query> ...]", file=sys.stderr)
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    from milan_spark.catalog import queries
    from milan_spark.session import get_spark, release_cached

    spark = get_spark("milan_subset_bench")
    qs = queries()
    missing = [n for n in names if n not in qs]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        sys.exit(2)
    samples: dict[str, list[float]] = {n: [] for n in names}
    for p in range(n_passes + 1):  # pass 0 = untimed warmup
        for name in names:
            start = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            if p > 0:
                samples[name].append(round(time.perf_counter() - start, 4))
            release_cached(spark)

    out = {
        n: {
            "median": round(statistics.median(v), 4),
            "passes": v,
            "spread": round(max(v) - min(v), 4),
        }
        for n, v in samples.items()
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
