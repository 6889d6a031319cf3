"""bfs_levels unit semantics: known topology, exact levels, unreachable
nodes absent, fixed-depth truncation."""

from __future__ import annotations

from milan_spark.operators.graph import bfs_levels


def _levels(spark, edges, source, iterations=6):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = bfs_levels(df, source, iterations=iterations)
    return {r["n"]: r["dist"] for r in out.collect()}


def test_path_cycle_and_disconnected(spark):
    # path 1-2-3-4, cycle 4-5-6-4, island 9-10
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 4), (9, 10)]
    got = _levels(spark, edges, source=1)
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 4}
    # islands unreachable -> absent, not infinite


def test_depth_truncation_and_shortcut(spark):
    # two routes to 5: 1-2-3-4-5 and 1-5 — BFS must take the 1-hop route
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 5)]
    got = _levels(spark, edges, source=1, iterations=2)
    assert got == {1: 0, 2: 1, 5: 1, 3: 2, 4: 2}


def test_star_cc_matches_min_label_on_adversarial_graphs(spark):
    """large/small-star alternation and min-label propagation are two
    physical algorithms for the same function: component-min labeling.
    Chain (worst case for min-label), two cliques joined by a bridge,
    isolated edge, and a random union — identical labels on all."""
    import random

    from milan_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(8)
    chain = [(i, i + 1) for i in range(40)]
    cliques = [(a, b) for a in range(100, 106) for b in range(a + 1, 106)]
    cliques += [(c, d) for c in range(200, 206) for d in range(c + 1, 206)]
    bridge = [(105, 200)]
    iso = [(900, 901)]
    rand = [(rng.randrange(300, 360), rng.randrange(300, 360)) for _ in range(80)]
    pairs = [(a, b) for a, b in chain + cliques + bridge + iso + rand if a != b]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")

    lab1 = {r["node"]: r["label"] for r in connected_components(df, max_iterations=100).collect()}
    lab2 = {r["node"]: r["label"] for r in connected_components_star(df).collect()}
    assert lab1 == lab2
    assert lab2[40] == 0            # chain fully collapsed to its min
    assert lab2[205] == 100         # bridged cliques share one component
    assert lab2[901] == 900


def test_cc_round_cap_raises_on_long_path(spark):
    """A round cap that ends the loop before its fixpoint raises instead of
    returning labels that are not component minima."""
    import pytest

    from milan_spark.errors import MilanRoundCapError
    from milan_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    df = spark.createDataFrame([(i, i + 1) for i in range(24)], "id_a long, id_b long")
    with pytest.raises(MilanRoundCapError, match="max_iterations=3"):
        connected_components(df, max_iterations=3)
    with pytest.raises(MilanRoundCapError, match="max_rounds=1"):
        connected_components_star(df, max_rounds=1)
    # Stream.iterate whose ``converged`` never holds
    from milan_spark.stream import Stream

    with pytest.raises(MilanRoundCapError, match="max_iterations=2"):
        Stream.from_dataframe(df).iterate(lambda s: s, 2, converged=lambda old, new: False)
    # enough rounds: both reach the fixpoint and agree
    lab = {r["node"]: r["label"] for r in connected_components_star(df).collect()}
    assert lab == {r["node"]: r["label"] for r in connected_components(df).collect()}
    assert set(lab.values()) == {0}
