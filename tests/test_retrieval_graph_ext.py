"""Unit semantics for the round-8 additions: k-core peeling, Jaccard
sparse retrieval, RRF fusion, and the grouping_sets DSL/IR node."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from milan_spark.operators.graph import kcore
from milan_spark.operators.retrieval import jaccard_topk, rrf_fuse


def _kcore(spark, edges, k, rounds=8):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["core_deg"] for r in kcore(df, k=k, rounds=rounds).collect()}


def test_kcore_triangle_with_pendant(spark):
    # triangle 1-2-3 plus pendant 3-4: 2-core is exactly the triangle
    got = _kcore(spark, [(1, 2), (2, 3), (1, 3), (3, 4)], k=2)
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_cascading_peel(spark):
    # chain 1-2-3-4-5: every node ends below degree 2 once ends peel -> empty
    got = _kcore(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], k=2)
    assert got == {}


def test_kcore_round_truncation(spark):
    # chain of 6: peeling needs 3 rounds to empty; 1 round only removes
    # the two endpoints' edges (degree recomputed synchronously)
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    one_round = _kcore(spark, edges, k=2, rounds=1)
    assert set(one_round) == {2, 3, 4, 5}
    assert _kcore(spark, edges, k=2, rounds=8) == {}


def _build_jobs(spark, group, build):
    """Run ``build()`` under its own job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_kcore_no_peel_stops_after_round_1(spark):
    """The round that peels nothing ends the loop: K4 at k=3 keeps every
    edge in round 1, so building with 8 rounds runs exactly the jobs of
    building with 1 (an unseeded probe would also run round 2). The pendant
    control peels in round 1 and needs round 2 to see the fixpoint."""
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    for name, edges, stops_after_1 in (("k4", k4, True), ("k4_pendant", k4 + [(4, 5)], False)):
        df = spark.createDataFrame(edges, "src long, dst long")
        _, one = _build_jobs(spark, f"kcore_{name}_r1", lambda: kcore(df, k=3, rounds=1))
        out, eight = _build_jobs(spark, f"kcore_{name}_r8", lambda: kcore(df, k=3, rounds=8))
        assert one > 0
        assert (eight == one) is stops_after_1, (name, one, eight)
        assert {r["node"]: r["core_deg"] for r in out.collect()} == {1: 3, 2: 3, 3: 3, 4: 3}


def test_jaccard_topk_exact_scores(spark):
    docs = spark.createDataFrame(
        [
            (0, "apple banana cherry"),
            (1, "apple banana durian"),
            (2, "apple fig grape"),
            (3, "kiwi lemon mango"),
        ],
        "doc_id long, text string",
    )
    out = jaccard_topk(docs, [0], top_n=10).collect()
    by_item = {r["item_id"]: (r["jaccard"], r["rank"]) for r in out}
    assert by_item[1] == (0.5, 1)  # {apple,banana} / 4
    assert by_item[2] == (0.2, 2)  # {apple} / 5
    assert 3 not in by_item  # zero overlap never materializes
    assert 0 not in by_item  # self excluded


def test_rrf_fuse_missing_membership_and_ties(spark):
    sparse = spark.createDataFrame(
        [(0, 11, 1), (0, 10, 2)], "query_id long, item_id long, rank int"
    )
    dense = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], "query_id long, item_id long, rank int"
    )
    out = rrf_fuse({"sparse": sparse, "dense": dense}, k=60, top_n=10).collect()
    rows = {r["item_id"]: r for r in out}
    # item 11 in both lists wins; 10 and 12 tie on score -> item_id break
    assert rows[11]["fused_rank"] == 1
    assert rows[11]["rrf_score"] == round(1 / 61 + 1 / 61, 6)
    assert rows[10]["fused_rank"] == 2 and rows[10]["dense_rank"] is None
    assert rows[12]["fused_rank"] == 3 and rows[12]["sparse_rank"] is None
    assert rows[10]["rrf_score"] == rows[12]["rrf_score"] == round(1 / 62, 6)


def test_grouping_sets_ir_roundtrip(spark, tmp_path):
    from milan_spark.plans.nodes import compile_node, from_json, to_json
    from milan_spark.stream import Stream

    path = str(tmp_path / "gs.parquet")
    spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)], "g string, h string, v int"
    ).write.parquet(path)
    s = Stream.from_parquet(spark, path).grouping_sets(
        [["g"], ["h"]], "g", "h", n="count(1)", total="sum(v)"
    )
    direct = {(r["g"], r["h"]): (r["n"], r["total"]) for r in s.to_df().collect()}
    assert direct[("a", None)] == (2, 3)
    assert direct[(None, "x")] == (2, 4)
    # the IR node round-trips through JSON and compiles to the same result
    assert s.node.is_serializable
    replayed = compile_node(from_json(to_json(s.node)), spark)
    got = {(r["g"], r["h"]): (r["n"], r["total"]) for r in replayed.collect()}
    assert got == direct


def _h(s: str, base: int) -> int:
    h = 0
    for c in s:
        h = (h * base + ord(c)) % 2_147_483_647
    return h


def test_feature_hash_bow_known_tokens(spark):
    from milan_spark.operators.text import feature_hash_bow

    docs = spark.createDataFrame(
        [(0, "apple apple banana")], "doc_id long, text string"
    )
    rows = feature_hash_bow(docs, n_buckets=64).collect()
    exp = {}
    for tok, cnt in (("apple", 2), ("banana", 1)):
        b = (_h(tok, 31) ^ (_h(tok, 131) * 65537 % 2_147_483_647)) % 64
        s = 1 if _h(tok, 131) % 2 == 0 else -1
        exp[b] = exp.get(b, 0) + s * cnt
    assert {r["bucket"]: r["weight"] for r in rows} == exp


def test_weighted_sample_structure(spark):
    from milan_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", float(i % 5)) for i in range(1, 101)],
        "id long, stratum string, w double",
    )
    out = weighted_sample(df, ["stratum"], 7, "id", "w").collect()
    by_s = {}
    for r in out:
        by_s.setdefault(r["stratum"], []).append(r)
    assert sorted(len(v) for v in by_s.values()) == [7, 7]
    # zero-weight rows (i % 5 == 0) can never be drawn
    assert all(r["w"] > 0 for r in out)
    # ranks are 1..7 ordered by the rounded ES key
    for rows in by_s.values():
        rows.sort(key=lambda r: r["sample_rank"])
        assert [r["sample_rank"] for r in rows] == list(range(1, 8))
        assert all(
            rows[i]["es_key"] <= rows[i + 1]["es_key"] for i in range(len(rows) - 1)
        )
    # partitioning-independence: same result at a different parallelism
    again = weighted_sample(df.repartition(13), ["stratum"], 7, "id", "w").collect()
    assert sorted((r["id"], r["sample_rank"]) for r in again) == sorted(
        (r["id"], r["sample_rank"]) for r in out
    )


def test_random_projection_exact_ints(spark):
    from milan_spark.operators.similarity import random_projection

    vec = [0.5] * 4
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    row = random_projection(df, "vec_id", "embedding", out_dim=3, in_dim=4).collect()[0]
    qx = [int((0.5 * (1 << 20)) + 0.5)] * 4

    def sgn(p, d):
        return 1 if ((p + 1) * 73856093 + (d + 1) * 19349663) % 2000003 - 1000001 >= 0 else -1

    exp = [sum(qx[d] * sgn(p, d) for d in range(4)) for p in range(3)]
    assert list(row["proj"]) == exp


def test_conversion_funnel_ordering_and_horizon(spark, tmp_path):
    from datetime import datetime as dt

    from milan_spark.catalog import queries

    rows = [
        # user 1: full ordered funnel within horizons
        (1, 1, dt(2024, 1, 1), "view", 1.0, ""),
        (2, 1, dt(2024, 1, 2), "click", 1.0, ""),
        (3, 1, dt(2024, 1, 3), "purchase", 1.0, ""),
        # user 2: purchase BEFORE click — reaches click stage only
        (4, 2, dt(2024, 1, 1), "view", 1.0, ""),
        (5, 2, dt(2024, 1, 2), "purchase", 1.0, ""),
        (6, 2, dt(2024, 1, 3), "click", 1.0, ""),
        # user 3: click with no view — reaches nothing
        (7, 3, dt(2024, 1, 2), "click", 1.0, ""),
        # user 4: click 31 days after view — outside the 30d horizon
        (8, 4, dt(2024, 1, 1), "view", 1.0, ""),
        (9, 4, dt(2024, 2, 2), "click", 1.0, ""),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double, props string"
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = queries()["conversion_funnel"](spark, str(tmp_path)).collect()
    got = {r["stage"]: r["users"] for r in out}
    # user 2's purchase@Jan2 is not after their click@Jan3; user 4 misses horizon
    assert got == {"view": 3, "click": 2, "purchase": 1}


def test_ktruss_k4_clique_survives_pendant_triangle_peels(spark):
    from milan_spark.operators.graph import ktruss

    # K4 on 1-4 (every edge in 2 triangles) + triangle 4-5-6 (support 1)
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    pend = [(4, 5), (4, 6), (5, 6)]
    df = spark.createDataFrame(k4 + pend, "src long, dst long")
    out = {(r["u"], r["v"]): r["support"] for r in ktruss(df, k=4, rounds=4).collect()}
    assert out == {e: 2 for e in k4}


def test_ktruss_round_truncation(spark):
    from milan_spark.operators.graph import ktruss

    # two triangles sharing edge (2,3): that edge alone has support 2
    tris = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)]
    df = spark.createDataFrame(tris, "src long, dst long")
    # k=4 round 1 keeps only (2,3); its FINAL support (alone) is 0 — the
    # truncation artifact the docstring documents
    got1 = {(r["u"], r["v"]): r["support"] for r in ktruss(df, k=4, rounds=1).collect()}
    assert got1 == {(2, 3): 0}
    # round 2 peels it (0 < 2): the true 4-truss is empty
    assert ktruss(df, k=4, rounds=2).count() == 0
    # k=3 (support>=1): edges (2,3),(1,3),(1,2) and (3,4),(2,4),(2,3) each
    # have a triangle; everything survives with its own support
    got = {(r["u"], r["v"]): r["support"] for r in ktruss(df, k=3, rounds=2).collect()}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 2, (2, 4): 1, (3, 4): 1}


def test_ktruss_no_peel_returns_checkpoint_scan(spark):
    """A round that peels nothing ends the operator and returns its own
    checkpoint, support included, so the final action is one scan job."""
    from milan_spark.operators.graph import ktruss

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    out = ktruss(spark.createDataFrame(k4, "src long, dst long"), k=4, rounds=4)
    rows, jobs = _build_jobs(spark, "ktruss_no_peel_action", out.collect)
    assert {(r["u"], r["v"]): r["support"] for r in rows} == {e: 2 for e in k4}
    assert jobs == 1


def test_ktruss_rejects_k_below_3(spark):
    from milan_spark.errors import MilanAnalysisError
    from milan_spark.operators.graph import ktruss

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(MilanAnalysisError, match="k=2"):
        ktruss(df, k=2)
