"""Compare the generated tables with a reference copy of the test data.

    python3 perfbench/fidelity.py --reference DIR --sf 0.001 [--seed 1]

``DIR`` holds the eight tables as ``<table>.parquet``, the layout
``datagen.py`` writes. The command prints, for the reference and for the
tables ``datagen`` makes from ``--seed`` at ``--sf``, the figures that set
the workloads' load: whether column names and types agree, row counts,
distinct users and the event-type mix (the keyed state of the streaming
queries), lineitems per order (which sets the co-order part graph), and that
graph's edge count after each k-truss round of ``ktruss_coparts`` (k=12, 4
rounds). The last line is the same as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from itertools import combinations

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402

# ktruss_coparts: drop edges in fewer than k - 2 triangles, a fixed 4 rounds
TRUSS_K, TRUSS_ROUNDS = 12, 4


def truss_cascade(edges: set[tuple[int, int]], k: int, rounds: int) -> list[int]:
    """Edge counts before and after each peeling round."""
    counts = [len(edges)]
    for _ in range(rounds):
        adj: dict[int, set[int]] = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        edges = {(u, v) for u, v in edges if len(adj[u] & adj[v]) >= k - 2}
        counts.append(len(edges))
    return counts


def profile(tables: dict[str, pa.Table]) -> dict:
    ev = tables["events"].select(["user_id", "event_type"]).to_pandas()
    li = tables["lineitem"].select(["l_orderkey", "l_partkey"]).to_pandas()
    parts = li.groupby("l_orderkey")["l_partkey"].agg(lambda s: sorted(set(s)))
    edges = {pair for ps in parts for pair in combinations(ps, 2)}
    per_order = li.groupby("l_orderkey").size()
    per_user = ev.groupby("user_id").size()
    return {
        "rows": {t: tables[t].num_rows for t in datagen.TABLES},
        "users": int(ev["user_id"].nunique()),
        "events_per_user_max": int(per_user.max()),
        "event_type_share": {
            k: round(v, 3) for k, v in sorted(ev["event_type"].value_counts(normalize=True).items())
        },
        "lines_per_order_mean": round(float(per_order.mean()), 3),
        "lines_per_order_max": int(per_order.max()),
        "truss_edges": truss_cascade(edges, TRUSS_K, TRUSS_ROUNDS),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--reference", required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    ref = {t: pq.read_table(os.path.join(args.reference, f"{t}.parquet")) for t in datagen.TABLES}
    gen = datagen.build_tables(args.seed, args.sf)
    out = {"reference": profile(ref), "generated": profile(gen)}
    out["same_schemas"] = all(ref[t].schema.equals(gen[t].schema) for t in datagen.TABLES)
    print(f"{'same_schemas':22s} {out['same_schemas']}")
    for key in out["reference"]:
        print(f"{key:22s} {json.dumps(out['reference'][key]):>60s}  {json.dumps(out['generated'][key])}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
