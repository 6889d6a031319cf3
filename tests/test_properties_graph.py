"""Property tests for the round-8 graph/retrieval/sketch operators vs
pure-Python reference implementations on random inputs (same tier as
tests/test_properties.py — the definitional semantics re-derived
sequentially, exact integer equality)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from milan_spark.operators.graph import kcore, ktruss

SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# small random undirected graphs as canonical edge sets over 8 nodes
edge_sets = st.sets(
    st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
).map(lambda es: sorted({(min(a, b), max(a, b)) for a, b in es}))


def _py_kcore(edges, k, rounds):
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    alive = set(adj)
    cur = {(u, v) for u, v in edges}
    for _ in range(rounds):
        deg = {}
        for u, v in cur:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        alive = {n for n, d in deg.items() if d >= k}
        cur = {(u, v) for u, v in cur if u in alive and v in alive}
    deg = {}
    for u, v in cur:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    return deg


def _py_support(cur):
    nodes = set()
    for u, v in cur:
        nodes.update((u, v))
    es = set(cur)
    sup = {e: 0 for e in cur}
    ns = sorted(nodes)
    for i, x in enumerate(ns):
        for y in ns[i + 1:]:
            for z in ns:
                if z <= y:
                    continue
                if (x, y) in es and (y, z) in es and (x, z) in es:
                    sup[(x, y)] += 1
                    sup[(y, z)] += 1
                    sup[(x, z)] += 1
    return sup


def _py_ktruss(edges, k, rounds):
    cur = set(edges)
    for _ in range(rounds):
        sup = _py_support(cur)
        cur = {e for e in cur if sup.get(e, 0) >= k - 2}
    return {e: s for e, s in _py_support(cur).items()}


@given(edge_sets, st.integers(2, 4), st.integers(1, 3))
@settings(**SETTINGS)
def test_kcore_matches_python_peeling(spark, edges, k, rounds):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["core_deg"] for r in kcore(df, k=k, rounds=rounds).collect()}
    assert got == _py_kcore(edges, k, rounds)


# raw pair lists with duplicates, both orientations and self-loops: ktruss
# counts (and stops against) the canonical u < v set, never the raw rows
raw_pairs = st.lists(st.tuples(st.integers(0, 7), st.integers(0, 7)), min_size=1, max_size=24)


@given(raw_pairs, st.integers(3, 4), st.integers(1, 3))
@settings(**SETTINGS)
def test_ktruss_matches_python_peeling(spark, pairs, k, rounds):
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {(r["u"], r["v"]): r["support"] for r in ktruss(df, k=k, rounds=rounds).collect()}
    canonical = sorted({(min(a, b), max(a, b)) for a, b in pairs if a != b})
    assert got == _py_ktruss(canonical, k, rounds)


ranked_lists = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 9)), min_size=1, max_size=12
)


@given(ranked_lists, ranked_lists)
@settings(**SETTINGS)
def test_rrf_matches_python_fold(spark, a_items, b_items):
    from milan_spark.operators.retrieval import rrf_fuse

    def ranked(items):
        # dedupe per (query, item), assign ranks by list order
        seen, rows = set(), []
        counters = {}
        for q, it in items:
            if (q, it) in seen:
                continue
            seen.add((q, it))
            counters[q] = counters.get(q, 0) + 1
            rows.append((q, it, counters[q]))
        return rows

    ra, rb = ranked(a_items), ranked(b_items)
    sa = spark.createDataFrame(ra or [(0, 0, 1)], "query_id long, item_id long, rank int")
    sb = spark.createDataFrame(rb or [(0, 0, 1)], "query_id long, item_id long, rank int")
    if not ra:
        sa = sa.filter("rank < 0")
    if not rb:
        sb = sb.filter("rank < 0")
    got = {
        (r["query_id"], r["item_id"]): (r["rrf_score"], r["fused_rank"])
        for r in rrf_fuse({"a": sa, "b": sb}, k=60, top_n=100).collect()
    }
    # reference fold
    score = {}
    for q, it, rk in ra:
        score[(q, it)] = score.get((q, it), 0.0) + 1.0 / (60.0 + rk)
    for q, it, rk in rb:
        score[(q, it)] = score.get((q, it), 0.0) + 1.0 / (60.0 + rk)
    exp = {}
    by_q = {}
    for (q, it), s in score.items():
        by_q.setdefault(q, []).append((it, s))
    for q, items in by_q.items():
        items.sort(key=lambda t: (-t[1], t[0]))
        for rank, (it, s) in enumerate(items, 1):
            exp[(q, it)] = (round(s, 6), rank)
    assert got == exp


@given(
    st.lists(st.integers(0, 500), min_size=3, max_size=60),
    st.sampled_from([50, 95]),
)
@settings(**SETTINGS)
def test_histogram_quantile_error_bound(spark, values, p):
    """Estimate must land within one bucket width of the true lower
    quantile — the documented equi-width guarantee."""
    from milan_spark.operators.sketch import histogram_quantiles

    df = spark.createDataFrame([(v,) for v in values], "x long")
    row = histogram_quantiles(df, "x", keys=(), bins=64, percents=(p,)).collect()[0]
    n, mn, mx = row["n"], row["mn"], row["mx"]
    width = (mx - mn + 1) / 64.0
    svals = sorted(values)
    t = -(-(p * n) // 100)  # ceil
    true_q = svals[t - 1]
    assert abs(row[f"p{p}_est"] - true_q) <= width + 1e-9


def _py_random_walks(edges, walks_per_node=2, walk_length=4,
                     a=1_000_003, b=10_007, c=31, m=2_147_483_647):
    """Definitional replay of operators.graph.random_walks: indexed adjacency
    (neighbors sorted), next hop H(walk_id, step, cur) mod degree."""
    adj = {}
    for u, v in set(edges):
        adj.setdefault(u, set()).add(v)
    adj = {u: sorted(vs) for u, vs in adj.items()}
    rows = set()
    for node in sorted(adj):
        for w in range(walks_per_node):
            wid = node * walks_per_node + w
            cur = node
            rows.add((wid, 0, node))
            for s in range(walk_length):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                h = (wid * a + s * b + cur * c) % m
                cur = nbrs[h % len(nbrs)]
                rows.add((wid, s + 1, cur))
    return rows


directed_edge_sets = st.sets(
    st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
).map(sorted)


@given(edges=directed_edge_sets, wpn=st.integers(1, 3), length=st.integers(1, 5))
@settings(**SETTINGS)
def test_random_walks_match_python_model(spark, edges, wpn, length):
    from milan_spark.operators.graph import random_walks

    df = spark.createDataFrame(edges, "src long, dst long").repartition(5)
    got = {
        (r.walk_id, r.step, r.node)
        for r in random_walks(df, walks_per_node=wpn, walk_length=length).collect()
    }
    assert got == _py_random_walks(edges, walks_per_node=wpn, walk_length=length)


def _py_luby_mis(edges, rounds=8, a=1_000_003, b=10_007, m=2_147_483_647):
    big = 1 << 31
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    alive = set(adj)
    status = {}
    for r in range(rounds):
        if not alive:
            break
        pr = {v: ((v * a + r * b) % m) * big + v for v in alive}
        winners = {v for v in alive if all(pr[v] < pr[u] for u in adj[v] & alive)}
        for w in winners:
            status[w] = True
            for u in adj[w] & alive:
                status.setdefault(u, False)
        alive -= winners | {u for w in winners for u in adj[w]}
    for v in alive:
        status[v] = None
    return status


@given(edges=edge_sets)
@settings(**SETTINGS)
def test_luby_mis_matches_python_and_is_valid(spark, edges):
    from milan_spark.operators.graph import maximal_independent_set

    df = spark.createDataFrame(edges, "src long, dst long").repartition(4)
    got = {r.node: r.in_mis for r in maximal_independent_set(df, rounds=8).collect()}
    assert got == _py_luby_mis(edges)
    # validity on converged runs: independence + maximality
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    mis = {v for v, s in got.items() if s is True}
    for u, v in edges:
        assert not (u in mis and v in mis)  # independent
    for v, s in got.items():
        if s is False:
            assert adj[v] & mis  # dominated nodes really have a MIS neighbor
