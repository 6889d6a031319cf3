"""Dump .explain("formatted") for named queries into plans/<tag>/<q>_<suffix>.txt.

Usage: python tools/dump_plans.py <tag> <suffix> <query> [<query> ...]
e.g.:  python tools/dump_plans.py r10 before ann_ivfpq_residual random_walk_corpus
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.001 — plan SHAPE, not perf).

Iterative/multi-action operators (cycle fixpoints, persisted indexes) execute
their rounds while BUILDING the frame; the dumped plan is the final frame's —
still the artifact that shows retained partitioning/exchange placement.

An operator that materializes its rounds through ``fixpoint.checkpoint_counted``
(k-truss, BFS, CC-star, ``converge`` cycle-IR plans, ...) leaves only a
checkpoint scan in its final plan, so the dump also lists the executed
(adaptive final) plan of every frame ``checkpoint_counted`` materialized while
the query was built, each headed by its tree node and exchange counts. The tool
wraps it for the duration of the build; the engine is unchanged.

A query that ran a streaming query through ``streaming.run_to_memory`` returns
its memory table, whose plan says nothing about the stream; for those the dump
also lists each microbatch's ``sources`` and ``stateOperators``
(``numShufflePartitions``, ``commitTimeMs``) from ``streaming.last_progress()``.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import contextmanager, redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def progress_summary(progress: list[dict]) -> str:
    """One block per microbatch: its sources and its state operators."""
    lines = []
    for p in progress:
        lines.append(f"batch {p.get('batchId')}:")
        for s in p.get("sources") or []:
            kind = str(s.get("description")).split("[")[0]  # drop the local path
            lines.append(f"  source {kind} numInputRows={s.get('numInputRows')}")
        for op in p.get("stateOperators") or []:
            lines.append(
                f"  state {op.get('operatorName')} "
                f"numShufflePartitions={op.get('numShufflePartitions')} "
                f"commitTimeMs={op.get('commitTimeMs')}"
            )
    return "\n".join(lines) + "\n"


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def tree_counts(plan: str) -> tuple[int, int]:
    """(nodes, exchange nodes) in the tree of a formatted plan: its final
    plan when adaptive execution ran, else the whole tree. Exchange nodes are
    those named ``*Exchange*`` (``Exchange``, ``BroadcastExchange``,
    ``ReusedExchange``); query-stage wrappers count as plain nodes."""
    tree = plan.split("\n\n\n")[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    names = re.findall(r"^[\s:+\-*]*([A-Z]\w*)[^\n]*?\(\d+\)", tree, re.M)
    return len(names), sum("Exchange" in n for n in names)


@contextmanager
def materialized_plans():
    """Yield a list that collects, in order, the formatted executed plan of
    every frame ``fixpoint.checkpoint_counted`` materializes inside the
    block."""
    from milan_spark import fixpoint

    plans: list[str] = []
    real_ckpt = fixpoint.checkpoint_counted

    def ckpt(df):
        cls = type(df)  # the concrete (classic) DataFrame class
        real_lc = cls.localCheckpoint

        def lc(self, *args, **kwargs):
            out = real_lc(self, *args, **kwargs)
            plans.append(formatted(self))  # the query execution that just ran
            return out

        cls.localCheckpoint = lc
        try:
            return real_ckpt(df)
        finally:
            cls.localCheckpoint = real_lc

    fixpoint.checkpoint_counted = ckpt
    try:
        yield plans
    finally:
        fixpoint.checkpoint_counted = real_ckpt


def main() -> None:
    if len(sys.argv) < 4:
        print("usage: dump_plans.py <tag> <suffix> <query> [...]", file=sys.stderr)
        sys.exit(2)
    tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    from milan_spark import streaming
    from milan_spark.catalog import queries
    from milan_spark.session import get_spark

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("milan_dump_plans")
    qs = queries()
    for name in names:
        streaming._LAST_PROGRESS.clear()
        with materialized_plans() as rounds:
            df = qs[name](spark, sf_dir)
        progress = streaming.last_progress()
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(
                f"# {name} ({suffix}) — {os.path.basename(sf_dir)}, "
                "captured by tools/dump_plans.py\n"
            )
            data_parent = os.path.dirname(os.path.abspath(sf_dir)) + "/"
            f.write(formatted(df).replace(data_parent, ""))  # like the header
            for i, plan in enumerate(rounds, 1):
                nodes, exchanges = tree_counts(plan)
                f.write(
                    f"\n# materialized frame {i} of {len(rounds)} (checkpoint_counted): "
                    f"{nodes} nodes, {exchanges} exchanges\n"
                )
                f.write(plan.replace(data_parent, ""))
            if progress:
                f.write("\n# streaming progress (streaming.last_progress())\n")
                f.write(progress_summary(progress))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
