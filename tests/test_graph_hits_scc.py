"""HITS (hits_scaled) and strongly-connected components vs hand-computed and
pure-Python references — exact integer equality, the test tier every
iterative graph operator here uses. A closure that hits its round cap
raises."""

from __future__ import annotations

import pytest

from milan_spark.errors import MilanRoundCapError
from milan_spark.operators.graph import hits_scaled


def _py_hits(edges, iterations=4, scale=1_000_000):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    hub = {n: scale for n in nodes}
    auth = {}
    for _ in range(iterations):
        raw = {}
        for u, v in edges:
            if u in hub:
                raw[v] = raw.get(v, 0) + hub[u]
        mx = max(raw.values())
        auth = {n: (s * scale) // mx for n, s in raw.items()}
        raw = {}
        for u, v in edges:
            if v in auth:
                raw[u] = raw.get(u, 0) + auth[v]
        mx = max(raw.values())
        hub = {n: (s * scale) // mx for n, s in raw.items()}
    return {n: (hub.get(n, 0), auth.get(n, 0)) for n in nodes}


def test_hits_matches_python_reference(spark):
    # small bipartite-ish digraph with an off-bipartite edge (4 -> 1) so the
    # test exercises nodes playing both roles
    edges = [(1, 10), (1, 11), (2, 10), (3, 11), (3, 12), (4, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["hub"], r["auth"])
        for r in hits_scaled(df, iterations=3).collect()
    }
    assert got == _py_hits(edges, iterations=3)


def test_hits_broadcast_scores_bit_identical(spark):
    edges = [(1, 10), (2, 10), (2, 11), (3, 12), (3, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    plain = sorted(map(tuple, hits_scaled(df, iterations=4).collect()))
    hinted = sorted(
        map(tuple, hits_scaled(df, iterations=4, broadcast_scores=True).collect())
    )
    assert plain == hinted


def test_hits_star_graph_ranking(spark):
    # hub 1 points at everything; authority 99 is pointed at by everyone
    edges = [(1, 99), (2, 99), (3, 99), (1, 50), (1, 51)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r["node"]: r for r in hits_scaled(df, iterations=4).collect()}
    scale = 1_000_000
    assert rows[1]["hub"] == scale  # max-normalized leader
    assert rows[99]["auth"] == scale
    assert rows[2]["hub"] < scale and rows[2]["hub"] > 0
    assert rows[50]["auth"] < rows[99]["auth"]
    # pure sinks/sources score zero in the role they never play
    assert rows[99]["hub"] == 0 and rows[1]["auth"] == 0


from hypothesis import HealthCheck, given, settings, strategies as st

from milan_spark.operators.graph import strongly_connected_components

digraphs = st.sets(
    st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=18,
).map(sorted)


def _py_scc(edges):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    adj = {n: set() for n in nodes}
    for u, v in edges:
        adj[u].add(v)

    def reach(s):
        seen, stack = {s}, [s]
        while stack:
            for w in adj[stack.pop()]:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        return seen

    fwd = {n: reach(n) for n in nodes}
    return {
        n: min([n] + [m for m in nodes if m in fwd[n] and n in fwd[m] and m != n])
        for n in nodes
    }


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(digraphs)
def test_scc_matches_python_reference(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["scc_id"] for r in strongly_connected_components(df).collect()}
    assert got == _py_scc(edges)


def test_scc_two_cycles_and_bridge(spark):
    # 1<->2<->3 cycle, 10<->11 cycle, one-way bridge 3 -> 10, dangling 99
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10), (3, 10), (10, 99)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["scc_id"] for r in strongly_connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


hits_digraphs = st.sets(
    st.tuples(st.integers(0, 5), st.integers(0, 5)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=14,
).map(sorted)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(hits_digraphs)
def test_hits_property_matches_python_model(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["hub"], r["auth"])
        for r in hits_scaled(df, iterations=2).collect()
    }
    assert got == _py_hits(edges, iterations=2)


from milan_spark.operators.graph import scc_trim_contract


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(digraphs)
def test_scc_trim_contract_matches_python_reference(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["scc_id"] for r in scc_trim_contract(df).collect()}
    assert got == _py_scc(edges)


def test_scc_trim_contract_knob_independent(spark):
    # a 4-deep acyclic tail into a 3-cycle with a reciprocal appendage:
    # trim_rounds too small to finish peeling must NOT change the answer
    # (leftover tail nodes are resolved exactly by the closure)
    edges = [(100, 101), (101, 102), (102, 103), (103, 1),
             (1, 2), (2, 3), (3, 1), (3, 7), (7, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _py_scc(edges)
    for rounds in (0, 1, 8):
        got = {r["node"]: r["scc_id"]
               for r in scc_trim_contract(df, trim_rounds=rounds).collect()}
        assert got == want, f"trim_rounds={rounds}"


def test_scc_trim_contract_fully_contracted_core(spark):
    # the whole cyclic core is one reciprocal clique -> contraction leaves
    # ZERO edges for the closure; ids must still be component minima
    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (5, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["scc_id"] for r in scc_trim_contract(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5}


def test_scc_closure_cap_raises(spark):
    # a 10-node directed cycle: the closure needs 8 rounds that add pairs
    cycle = [(i, (i + 1) % 10) for i in range(10)]
    df = spark.createDataFrame(cycle, "src long, dst long")
    with pytest.raises(MilanRoundCapError, match="max_rounds=2"):
        strongly_connected_components(df, max_rounds=2)
    got = {r["node"]: r["scc_id"] for r in strongly_connected_components(df).collect()}
    assert got == {i: 0 for i in range(10)}
