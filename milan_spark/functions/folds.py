"""Named scan folds addressable by dotted-path reference.

The reference's Scan operator carries an arbitrary user fold inside the
portable IR as a FunctionReference (``program/StreamExpressions.scala:505``
holds the step function as an expression tree / function reference that each
consuming compiler re-resolves — the same mechanism ``ApplyFunction`` uses,
``Expression.scala:407``). The Python analog: a ``scan_fold`` node may carry
``fold_ref`` — a dotted import path to a function with the engine's scan
contract::

    fold(state, record) -> (new_state, out_dict_or_None)

``record`` arrives as a named tuple (both backends use ``itertuples``;
address columns as ``rec.col``), ``state`` must be JSON-serializable (it is
persisted as the per-key value state on the streaming backend), and ``out``
is a dict keyed by the node's ``output_schema`` field names — ``None``
suppresses emission (Milan's Option-output contract).

This module is the stable home for the engine's built-in folds plus the
test/catalog anchors; user code can point a plan at any importable function
with the same shape.
"""

from __future__ import annotations

import math


def ewma_cents_fold(state, rec):
    """Per-key EWMA over half-up cents with alpha = 1/8, realized as the
    integer recurrence ``s += floor((x - s) / 8)`` — exact integer state, so
    the trajectory is bit-identical across engines, backends, and
    partitionings (the floating EWMA would drift under reordering; the
    integer one cannot). Requires record columns ``event_id``, ``user_id``,
    ``value``.

    Oracle shape (DuckDB): the recursive-CTE replay in the
    ``ewma_smoothing`` catalog entry.
    """
    x = int(math.floor(rec.value * 100 + 0.5))
    state = x if state is None else state + (x - state) // 8
    return state, {"event_id": rec.event_id, "user_id": rec.user_id, "ewma_cents": state}


def threshold_cents_fold(state, rec):
    """Per-key running total of half-up cents, emitted once it passes
    500000 (5000.00): the ``scan_threshold`` Scan. Requires record columns
    ``event_id``, ``user_id``, ``value``; the initial state is 0."""
    state = state + int(math.floor(rec.value * 100 + 0.5))
    if state > 500000:
        return state, {"event_id": rec.event_id, "user_id": rec.user_id, "acc_cents": state}
    return state, None
