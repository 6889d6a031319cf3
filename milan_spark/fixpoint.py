"""The one driver for loops with a stop rule (Milan's feedback Cycle,
lang/Stream.scala:143-147): ``Stream.iterate``, the cycle IR node and the
iterative graph operators run their rounds through :func:`fixpoint`. Callers
reach :func:`checkpoint_counted` through this module's attribute, so
``tools/dump_plans.py`` wraps one name to capture every counted round."""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, functions as F

from milan_spark.errors import MilanRoundCapError


def checkpoint_counted(df: DataFrame) -> "tuple[DataFrame, int]":
    """Materialize ``df`` once (eager ``localCheckpoint``) with its row count
    riding the same job as a ``CollectMetrics`` observation — the house
    convergence-probe pattern generalized: ONE job per round, never a
    separate ``count()``/``isEmpty()``/``first()`` pass over a frame the
    round materializes anyway. ``count()`` costs a full two-stage aggregate
    on top of the materialization (measured ~6× a bounded probe at sf0.1);
    the observation is map-side accumulator metrics, free at any scale.
    Returns ``(checkpointed_df, row_count)``."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return out, int(obs.get["n"] or 0)


def fixpoint(
    step: Callable[[Any, int], "tuple[Any, bool]"], state: Any, cap: int, *, on_cap: str, what: str
) -> "tuple[Any, bool]":
    """Run ``state, done = step(state, r)`` for rounds ``r < cap`` until one
    is ``done``; return ``(state, converged)``. ``what`` names the loop and its
    cap parameter. On a cap hit, ``on_cap="raise"`` raises
    :class:`MilanRoundCapError` (the last state is a partial answer);
    ``on_cap="return"`` returns it, for loops whose round count is a
    documented truncation that the oracle replays."""
    for r in range(cap):
        state, done = step(state, r)
        if done:
            return state, True
    if on_cap == "raise":
        raise MilanRoundCapError(f"{what}={cap} ran out before the fixpoint")
    return state, False
