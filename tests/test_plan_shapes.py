"""Physical-plan audits: the scale claims in SCALE.md, asserted.

Correctness tests prove the small-SF answer; these prove the PLAN is the one
that survives a 100× scale-up — filters reach the parquet scan, projections
prune columns, dimensions broadcast, aggregates combine map-side, and the
relational core stays inside whole-stage codegen (no Python in the path).
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from milan_spark.catalog import queries
from milan_spark.sources import table

SF_DIR = "/root/testdata/sf0.001"


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def q(name: str, spark):
    return queries()[name](spark, SF_DIR)


def n_nodes(p: str, name: str) -> int:
    """Count physical nodes in a formatted explain (each node appears once in
    the tree and once as a '(N) Name' detail header — count the headers)."""
    import re

    return len(re.findall(rf"\(\d+\) {name}\b", p))


def test_q1_filter_pushdown_and_partial_agg(spark):
    p = plan(q("q1_pricing_summary", spark))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # one partial + one final hash aggregate around a single exchange
    assert n_nodes(p, "HashAggregate") == 2
    assert "Functions [partial_" in p or "partial_sum" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the whole pipeline compiles into fused codegen stages
    assert "WholeStageCodegen subtrees" in plan(q("q1_pricing_summary", spark), "codegen")


def test_q1_column_pruning(spark):
    p = plan(q("q1_pricing_summary", spark))
    # ReadSchema carries only the referenced lineitem columns — never l_comment
    assert "l_comment" not in p
    assert "l_quantity" in p


def test_star_join_broadcasts_every_dimension(spark):
    p = plan(q("star_join_revenue", spark))
    assert n_nodes(p, "BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p
    # the fact table is filtered at the scan, not post-join
    assert "PushedFilters" in p


def test_projection_prunes_parquet_scan(spark):
    df = table(spark, SF_DIR, "documents").select("doc_id", "lang")
    p = plan(df)
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in p
    assert "text" not in p.split("ReadSchema")[1].splitlines()[0]


def test_window_queries_shuffle_once_per_key(spark):
    # running_sum_by: one Exchange (hash by key) + one Sort feeding the Window
    p = plan(q("running_sum_by", spark))
    assert n_nodes(p, "Exchange") == 1
    assert "Window" in p


def test_enrichment_join_no_python(spark):
    # batch enrichment join is pure JVM: union + window, no Python eval nodes
    p = plan(q("left_enrichment_join", spark))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" in p


def test_rewritten_scan_has_no_python_worker(spark):
    slow = plan(q("scan_threshold", spark))
    fast = plan(q("scan_threshold_rewritten", spark))
    assert "MapInPandas" in slow  # the general fold is the documented UDF path
    assert "Pandas" not in fast and "Python" not in fast  # rewrite removed it


def test_exact_dedup_partial_aggregates(spark):
    p = plan(q("exact_dedup", spark))
    assert "partial_min" in p or "Functions [partial_" in p
    assert n_nodes(p, "Exchange") == 1


def test_q3_broadcasts_dims_fact_never_preshuffled(spark):
    p = plan(q("q3_shipping_priority", spark))
    # both dimension joins are broadcasts; lineitem reaches the aggregate
    # without a join shuffle
    assert n_nodes(p, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in p
    # date filters push to every scan
    assert p.count("PushedFilters: [IsNotNull") >= 2
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q6_single_scan_all_predicates_pushed(spark):
    p = plan(q("q6_revenue_forecast", spark))
    for pushed in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_quantity,24", "GreaterThanOrEqual(l_discount"):
        assert pushed in p, pushed
    # global agg: partial + final, single exchange
    assert n_nodes(p, "HashAggregate") == 2
    assert n_nodes(p, "Exchange") == 1


def test_lag_lead_rank_share_one_partitioning(spark):
    # both window specs partition by o_custkey; only the sort differs, so the
    # plan needs exactly one hash exchange
    p = plan(q("order_gap_lag_lead", spark))
    assert n_nodes(p, "Exchange") == 1
    assert n_nodes(p, "Window") == 2


def test_hash_split_is_narrow(spark):
    # split labeling is a pure projection: no shuffle, no Python
    p = plan(q("hash_split_train_test", spark))
    assert n_nodes(p, "Exchange") == 0
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_tfidf_df_and_ndocs_broadcast(spark):
    p = plan(q("tfidf_top_terms", spark))
    # vocabulary (df) and the 1-row corpus count join as broadcasts; the only
    # sort-merge-free shuffles are the two aggregations + the top-k window
    assert n_nodes(p, "BroadcastHashJoin") >= 1
    assert n_nodes(p, "BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in p


def test_curation_pipeline_two_shuffles_filters_first(spark):
    # the whole curation flow is scan -> filter -> dedup exchange -> split
    # projection -> 3-row aggregate exchange; quality/lang gates never cross
    # a shuffle, and nothing runs in Python
    p = plan(q("corpus_curation_pipeline", spark))
    assert n_nodes(p, "Exchange") == 2
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the quality gate sits below both shuffles: formatted-plan node ids are
    # assigned bottom-up, so the Filter's id must be smaller than every
    # Exchange's id
    import re

    filter_ids = [int(n) for n in re.findall(r"\((\d+)\) Filter\b", p)]
    exchange_ids = [int(n) for n in re.findall(r"\((\d+)\) Exchange\b", p)]
    assert filter_ids and exchange_ids
    assert min(filter_ids) < min(exchange_ids)


def test_q4_exists_is_semi_join_no_python(spark):
    p = plan(q("q4_priority_exists", spark))
    assert "LeftSemi" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q17_correlated_avg_broadcasts_both_sides(spark):
    # the brand dim and the per-part aggregate both broadcast, and the
    # per-part average branch is semi-join-pruned to brand part keys
    # (third broadcast); the fact table never shuffles for the join
    p = plan(q("q17_small_quantity_revenue", spark))
    assert n_nodes(p, "BroadcastHashJoin") == 3
    assert "LeftSemi" in p
    assert "SortMergeJoin" not in p


def test_q18_having_subquery_broadcasts(spark):
    p = plan(q("q18_large_volume_orders", spark))
    assert n_nodes(p, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p


def test_q22_anti_join_narrow_and_pushed(spark):
    p = plan(q("q22_idle_rich_customers", spark))
    assert "LeftAnti" in p
    # the >300k filter reaches the orders parquet scan, which reads only
    # the custkey + totalprice columns
    assert "GreaterThan(o_totalprice,300000" in p
    assert "o_orderdate" not in p


def test_q7_two_nation_chains_broadcast(spark):
    # both nation lookup chains broadcast; the fact side never broadcasts
    p = plan(q("q7_nation_trade_flows", spark))
    assert n_nodes(p, "BroadcastHashJoin") >= 2
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q10_returnflag_pushed_topk_no_global_sort(spark):
    p = plan(q("q10_returned_items", spark))
    # the returned-lines filter reaches the parquet scan
    assert "EqualTo(l_returnflag,R)" in p
    # global top-20 is TakeOrderedAndProject, never a full Sort+Exchange
    assert "TakeOrderedAndProject" in p


def test_q14_single_aggregate_pass(spark):
    # numerator and denominator come from ONE aggregate: one partial + one
    # final HashAggregate pair, part broadcasts
    p = plan(q("q14_promo_revenue", spark))
    assert n_nodes(p, "HashAggregate") == 2
    assert n_nodes(p, "BroadcastHashJoin") == 1


def test_q15_scalar_max_broadcasts(spark):
    p = plan(q("q15_top_supplier", spark))
    # the 1-row max and the supplier dim broadcast; the ship-window filter
    # reaches the lineitem scan
    assert "BroadcastNestedLoopJoin" in p or n_nodes(p, "BroadcastHashJoin") >= 1
    assert "GreaterThanOrEqual(l_shipdate" in p


def test_q21_single_pass_no_semi_anti(spark):
    # both EXISTS correlations decorrelate into one per-order conditional
    # aggregate: no semi/anti joins, no DISTINCT shuffles, and the only
    # full-size data movement is the (orderkey, suppkey) pair aggregate
    p = plan(q("q21_sole_late_supplier", spark))
    assert "LeftSemi" not in p and "LeftAnti" not in p
    assert n_nodes(p, "Exchange hashpartitioning") <= 3
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_video_features_single_python_stage(spark):
    # synth + decode are mapInPandas stages over a narrow pipeline: no
    # shuffle at all in the whole plan
    p = plan(q("video_avi_features", spark))
    assert "Exchange" not in p


def test_q8_one_aggregate_pass_dims_broadcast(spark):
    p = plan(q("q8_market_share", spark))
    # numerator + denominator in ONE aggregate: exactly one partial+final pair
    assert n_nodes(p, "HashAggregate") == 2
    # part/supplier-nation/customer-region all broadcast
    assert n_nodes(p, "BroadcastHashJoin") >= 3


def test_q9_part_filter_prunes_before_broadcast(spark):
    p = plan(q("q9_product_type_profit", spark))
    # the name-family LIKE reaches the part parquet scan
    assert "StringContains(p_name,red)" in p
    assert n_nodes(p, "BroadcastHashJoin") >= 2


def test_q19_common_conjuncts_pushed(spark):
    p = plan(q("q19_disjunctive_predicate", spark))
    # Catalyst extracts per-side bounds from the OR-of-ANDs and pushes them
    # to both parquet scans; the cross-side residual stays on the join
    assert "l_quantity" in p.split("PushedFilters")[1][:400] or "GreaterThanOrEqual(l_quantity" in p
    assert "p_brand" in p
    assert n_nodes(p, "BroadcastHashJoin") == 1


def test_training_shuffle_no_single_partition_data_window(spark):
    # the global hash-order rank must come from per-bucket windows on a hash
    # exchange; the only SinglePartition window is the O(buckets) offset
    # cumsum over the tiny per-bucket totals aggregate
    p = plan(q("training_shuffle_order", spark))
    assert n_nodes(p, "Window") == 2
    assert p.count("SinglePartition") == 1


def test_q2_pair_agg_pruned_by_both_semi_joins(spark):
    p = plan(q("q2_min_cost_supplier", spark))
    # both dim prunes reach the pair aggregate as broadcast semi joins
    # BEFORE the groupBy (LeftSemi variants of the broadcast join)
    assert p.count("BroadcastHashJoin") >= 4  # 2 semi prunes + best/part/supp attach
    assert "LeftSemi" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_q11_per_part_aggregate_cached_not_rescanned(spark):
    df = q("q11_important_part_value", spark)
    p = plan(df)
    # the persisted per-part aggregate appears as InMemoryRelation; the
    # 1-row total rides a broadcast into the compare
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_q12_narrow_projections_into_orderkey_exchange(spark):
    p = plan(q("q12_late_priority_lines", spark))
    # orders side carries only the 3 referenced columns to the join
    assert "o_totalprice" not in p and "o_custkey" not in p
    # the conditional aggregation combines map-side
    assert "partial_sum" in p


def test_q13_orders_aggregated_before_outer_join(spark):
    p = plan(q("q13_customer_order_distribution", spark), "formatted")
    # the count-per-customer aggregate sits BELOW (= deeper than, printed
    # after) the outer join — orders are pre-aggregated, never fanned out
    # through the join; the aggregated side is small enough to broadcast
    tree = p.split("\n\n")[0]
    join_pos = tree.find("BroadcastHashJoin LeftOuter")
    assert join_pos != -1
    assert tree.rfind("HashAggregate") > join_pos


def test_q20_share_compare_stays_jvm_side(spark):
    p = plan(q("q20_excess_share_suppliers", spark))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # name+date prune pushed to the lineitem scan
    assert "PushedFilters" in p and "l_shipdate" in p
    assert "LeftSemi" in p


def test_doc_chunking_zero_exchanges(spark):
    p = plan(q("doc_chunking", spark))
    assert n_nodes(p, "Exchange") == 0
    assert "Generate" in p  # the bounded explode


def test_bloom_probe_is_broadcast_only(spark):
    p = plan(q("bloom_prefilter_join", spark))
    # the 1-row bloom map and the exact key set both broadcast; the fact
    # side never shuffles before the audit aggregate
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_partitioned_write_prunes_partitions(spark):
    p = plan(q("partitioned_write_prune", spark))
    # the event_type predicate lands in PartitionFilters (directory prune),
    # not in PushedFilters (row-group prune) — only 1/5 of bytes are read
    assert "PartitionFilters" in p
    import re

    m = re.search(r"PartitionFilters: \[(.*?)\]", p)
    assert m and "event_type" in m.group(1)


def test_scd2_single_entity_shuffle(spark):
    p = plan(q("scd2_intervals", spark))
    assert n_nodes(p, "Exchange") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pagerank_broadcast_mode_edges_never_shuffle(spark):
    """Broadcast-mode PageRank's scale contract: the EDGE list feeds only
    broadcast joins, so per-iteration data movement is (a) one Exchange of
    node-scale partial sums (map-side combined groupBy) and (b) broadcasts
    of the O(nodes) rank/message vectors. Growing the iteration count must
    add exactly {1 Exchange, 2 broadcast joins, 0 sort-merge joins} per
    round — a plan where edges re-shuffle each round would grow SMJ or
    per-round Exchange counts and fail here (this is the regression that
    made the round-4 PLANS.md row stale)."""
    from pyspark.sql import functions as F

    from milan_spark.operators.graph import pagerank_scaled
    from milan_spark.session import release_cached
    from milan_spark.sources import table

    release_cached(spark)  # leftover caches from earlier tests change plans
    li = table(spark, SF_DIR, "lineitem")
    orders = table(spark, SF_DIR, "orders")
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst")
    )

    def stats(iters):
        p = plan(
            pagerank_scaled(edges, "src", "dst", iterations=iters, broadcast_ranks=True)
        )
        release_cached(spark)
        return (
            n_nodes(p, "Exchange"),
            n_nodes(p, "BroadcastHashJoin"),
            n_nodes(p, "SortMergeJoin"),
            p,
        )

    e1, b1, s1, _ = stats(1)
    e5, b5, s5, p5 = stats(5)
    assert s5 == s1, "sort-merge joins must not grow with iterations"
    assert e5 - e1 == 4, f"expected 1 Exchange/round (partial-sum combine), got {e5 - e1} over 4 rounds"
    assert b5 - b1 == 8, f"expected 2 broadcast joins/round, got {b5 - b1} over 4 rounds"
    # every shuffle Exchange combines aggregate partials — the edge list's
    # join output itself never enters an Exchange
    lines = p5.splitlines()
    tree_end = next(i for i, l in enumerate(lines) if l.startswith("(1)"))
    for i, line in enumerate(lines[:tree_end]):
        if "Exchange hashpartitioning" in line or "Exchange SinglePartition" in line:
            assert "HashAggregate" in lines[i + 1], (
                "Exchange input is not an aggregate partial:\n" + "\n".join(lines[i : i + 2])
            )


def test_plans_md_not_stale(spark):
    """The committed PLANS.md inventory must match the live plan of the
    heaviest catalog query (the round-4 defect: PageRank's row predated
    broadcast mode by two commits). Compiles pagerank_supplier_customer
    fresh and diffs its row — a plan-affecting commit that skips
    `tools/plan_report.py` fails here instead of shipping a lying audit."""
    import os
    import re

    from milan_spark.session import release_cached

    here = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(here) as f:
        rows = {
            m.group(1): [int(x) for x in m.group(2).split("|")[:3]]
            for m in (
                re.match(r"\|(\w+)\|(.+)\|$", line.replace(" ", ""))
                for line in f
            )
            if m and m.group(2).split("|")[0].isdigit()
        }
    assert "pagerank_supplier_customer" in rows, "PLANS.md missing the sentinel row"
    release_cached(spark)  # hermetic compile — cached frames change the plan
    p = plan(q("pagerank_supplier_customer", spark))
    release_cached(spark)
    live = [n_nodes(p, "Exchange"),
            n_nodes(p, "BroadcastHashJoin") + n_nodes(p, "BroadcastNestedLoopJoin"),
            n_nodes(p, "SortMergeJoin")]
    assert rows["pagerank_supplier_customer"] == live, (
        f"PLANS.md row {rows['pagerank_supplier_customer']} != live plan {live} "
        "(shuffles, bcast joins, SMJ) — rerun tools/plan_report.py"
    )


def test_cms_domain_never_shuffles(spark):
    """The count-min build/estimate plan: three combinable-aggregate
    exchanges (sketch cells, truth counts, final min) and broadcast joins —
    no sort-merge join, no Python, no sort of the token domain."""
    p = plan(q("cms_token_counts", spark))
    assert n_nodes(p, "Exchange") == 3
    assert "SortMergeJoin" not in p
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p


def test_quantile_selection_no_sort_merge(spark):
    """Distributed selection quantiles: per-key stats and located targets
    broadcast; the only sorts feed the tiny cumulative-histogram window and
    the boundary-bucket rank — never a sort-merge join of the fact table."""
    p = plan(q("quantile_selection_prices", spark))
    assert "SortMergeJoin" not in p
    assert n_nodes(p, "BroadcastHashJoin") >= 3
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p


def test_semantic_dedup_centroids_broadcast(spark):
    """SemDeDup: centroid assignment is a broadcast nested-loop against the
    tiny cell table (the corpus never shuffles for assignment); all work is
    JVM-side column algebra."""
    p = plan(q("semantic_dedup", spark))
    assert n_nodes(p, "BroadcastNestedLoopJoin") == 1
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p


def test_quality_classifier_zero_shuffle(spark):
    """The linear quality gate is a pure row-local map: no Exchange, no
    join, no Python anywhere — the 100 TB shape of a fasttext-style gate."""
    p = plan(q("quality_classifier_gate", spark))
    assert n_nodes(p, "Exchange") == 0
    assert "Join" not in p
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p


def test_bm25_corpus_tokens_never_shuffle_unfiltered(spark):
    """BM25: the query-vocabulary filter sits under the tf aggregate, the
    small sides (df, corpus stats) broadcast, and the top-k is
    TakeOrderedAndProject — no global sort of the matched set. dl rides
    the exploded token rows, so there is NO corpus-sized dl join: every
    join in the plan must be broadcast, never sort-merge/shuffle-hash."""
    p = plan(q("bm25_search", spark))
    assert "TakeOrderedAndProject" in p
    assert n_nodes(p, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p


def test_hll_register_aggregate_combines_map_side(spark):
    """HLL: exactly two exchanges (register groupBy + per-key fold), both
    fed by partial aggregates — the user-id domain never crosses a shuffle
    un-aggregated."""
    p = plan(q("hll_distinct_users", spark))
    assert n_nodes(p, "Exchange") == 2
    assert "SortMergeJoin" not in p
    assert n_nodes(p, "HashAggregate") >= 4  # partial+final for both levels


def test_triangle_small_graph_mode_broadcasts(spark):
    """Degree-ordered triangle counting in small_graph mode: every
    degree/adjacency join is broadcast (the O(m)-row edge stream never
    shuffles for orientation or intersection) and the intersections are
    JVM expressions, not Python."""
    p = plan(q("triangle_count_coparts", spark))
    assert n_nodes(p, "BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in p
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p


def test_kmeans_assignment_broadcasts_centroids(spark):
    """Fixed-point k-means: every per-round centroid table reaches the
    points by broadcast (BroadcastNestedLoopJoin for the crossJoin) — the
    point set is never exchange-partitioned for assignment."""
    p = plan(q("kmeans_embedding_clusters", spark))
    assert n_nodes(p, "BroadcastNestedLoopJoin") >= 3  # one per assignment round
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_maybe_broadcast_gates_on_catalyst_estimate(spark):
    """The size gate hints only frames whose Catalyst estimate fits: a
    scan-backed frame (reliable parquet-size stats) gets the hint under the
    default threshold and loses it at threshold=1; a join-derived frame
    (estimate = product of inputs, astronomically overestimated) is never
    force-broadcast — the decision is left to AQE's runtime statistics."""
    from milan_spark.operators.similarity import maybe_broadcast

    emb = table(spark, SF_DIR, "embeddings").select("vec_id")
    docs = table(spark, SF_DIR, "documents").select("doc_id")
    assert "ResolvedHint" in _analyzed(maybe_broadcast(emb))
    assert "ResolvedHint" not in _analyzed(maybe_broadcast(emb, threshold=1))
    derived = emb.crossJoin(docs)  # no column stats -> garbage-large estimate
    assert "ResolvedHint" not in _analyzed(maybe_broadcast(derived))


def test_ivfpq_candidate_join_left_to_aqe(spark):
    """ann_ivfpq no longer force-broadcasts the data-dependent candidate
    frame: its analyzed plan carries exactly the same hints whether the
    threshold is default or 1 byte (the candidate frame is unhinted either
    way — AQE converts the join to broadcast at runtime when the ACTUAL
    size fits, and keeps the shuffle join at billion-vector scale), and
    results are identical."""
    from milan_spark.operators import similarity as S

    emb = table(spark, SF_DIR, "embeddings")
    default = S.ann_ivfpq(emb, "vec_id", "embedding", query_ids=range(10), k=5, dim=64)
    gated = S.ann_ivfpq(
        emb, "vec_id", "embedding", query_ids=range(10), k=5, dim=64,
        broadcast_threshold=1,
    )
    n_default = _analyzed(default).count("ResolvedHint")
    n_gated = _analyzed(gated).count("ResolvedHint")
    assert n_default == n_gated > 0  # only the genuinely tiny frames hint
    assert "AdaptiveSparkPlan" in plan(default)
    assert sorted(tuple(r) for r in default.collect()) == sorted(
        tuple(r) for r in gated.collect()
    )


def test_ivfpq_residual_lut_probe_broadcasts_gated(spark):
    """The residual-PQ query path no longer force-broadcasts the ADC LUT and
    probe frames (they grow linearly with the query-batch size — O(queries ·
    n_probe · m_subs · codebook) rows at a bulk batch): with threshold=1
    every data-dependent hint is refused, leaving only the config-bounded
    coarse/books hints, and results are bit-identical — the gate changes the
    physical strategy, never the answer."""
    from milan_spark.operators import similarity as S

    emb = table(spark, SF_DIR, "embeddings")
    kwargs = dict(query_ids=range(10), k=5, dim=64, n_probe=4)
    default = S.ann_ivfpq_residual(emb, "vec_id", "embedding", **kwargs)
    gated = S.ann_ivfpq_residual(
        emb, "vec_id", "embedding", broadcast_threshold=1, **kwargs
    )
    n_default = _analyzed(default).count("ResolvedHint")
    n_gated = _analyzed(gated).count("ResolvedHint")
    # gated keeps only the unconditional coarse/books hints; default may add
    # LUT/probe hints when (and only when) the Catalyst estimate fits
    assert n_gated > 0
    assert n_default >= n_gated
    assert sorted(tuple(r) for r in default.collect()) == sorted(
        tuple(r) for r in gated.collect()
    )


def test_bfs_edge_cache_partitioning_reused_by_frontier_join(spark):
    """BFS mechanism guard: an edge list persisted hash-partitioned on the
    probe key satisfies the frontier join's distribution requirement from
    cache — no fresh exchange may sit above the InMemoryTableScan (without
    the repartition-before-persist, every BFS level re-exchanges all m
    edges)."""
    import re

    from pyspark.sql import functions as F

    edges = (
        spark.createDataFrame([(i, i + 1) for i in range(1000)], "u long, v long")
        .repartition("u")
        .persist()
    )
    edges.count()  # materialize the cache
    frontier = spark.createDataFrame([(0,)], "n long")
    j = frontier.join(edges, frontier.n == edges.u).select(F.col("v").alias("n"))
    p = plan(j, mode="simple")
    assert "InMemoryTableScan" in p
    assert not re.search(
        r"Exchange hashpartitioning\(u#\d+L[^\n]*\n[^\n]*InMemoryTableScan", p
    ), p
    edges.unpersist()


def test_jaccard_topk_broadcasts_query_tokens(spark):
    """The sparse retrieval leg's only join must be a broadcast of the
    (tiny) query-token side — the corpus token stream meeting it in one
    BHJ is what keeps corpus-sized rows out of any shuffle until the
    query-vocabulary filter has run. No sort-merge join, no Python."""
    from milan_spark.operators.retrieval import jaccard_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan(jaccard_topk(docs, range(5), top_n=20), mode="simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "Python" not in p


def test_feature_hash_bow_single_combinable_shuffle(spark):
    """The hashing-trick vectorizer is one explode + ONE map-side-combinable
    (doc, bucket) aggregation: exactly one exchange, partial aggregation
    below it, and no join of any kind (no vocabulary ever exists)."""
    import re

    from milan_spark.operators.text import feature_hash_bow

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan(feature_hash_bow(docs, n_buckets=64), mode="simple")
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    assert "partial_sum" in p or "partial sum" in p.lower()
    assert "Join" not in p


def test_read_pruned_pushes_residual_filter_to_scan(spark, tmp_path):
    """Manifest pruning composes with engine pushdown: the exact predicate
    read_pruned re-applies must reach the parquet scan as PushedFilters
    (row-group pruning inside the surviving files), with no extra
    exchange before the filter."""
    from pyspark.sql import functions as F

    from milan_spark.operators.versioned import commit_append, read_pruned

    tbl = str(tmp_path / "vt")
    df = spark.range(0, 10_000).select(F.col("id").alias("k"))
    commit_append(
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        tbl, stats_cols=["k"],
    )
    out = read_pruned(spark, tbl, [("k", "between", (2_000, 3_000))])
    p = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PushedFilters" in p and "GreaterThanOrEqual(k,2000)" in p
    assert n_nodes(p, "Exchange") == 0  # narrow scan+filter, no shuffle


def test_dump_plans_captures_each_materialized_round(spark):
    """tools/dump_plans.py records the executed plan of every frame
    ``fixpoint.checkpoint_counted`` materializes (an iterative operator's
    final plan is a checkpoint scan), graph operators and counted cycle-IR
    rounds alike, and leaves the engine unwrapped afterwards."""
    import importlib.util
    import os

    from milan_spark import fixpoint
    from milan_spark.operators import graph
    from milan_spark.plans.nodes import compile_node
    from tests.test_cycle_ir import _growing_cycle

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "dump_plans.py")
    spec = importlib.util.spec_from_file_location("dump_plans", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    real = fixpoint.checkpoint_counted
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    with tool.materialized_plans() as rounds:
        graph.ktruss(spark.createDataFrame(k4, "src long, dst long"), k=4)
    assert fixpoint.checkpoint_counted is real
    assert len(rounds) == 2  # the canonical edge set, then the no-op round 1
    assert all("== Final Plan ==" in p for p in rounds)
    nodes, exchanges = tool.tree_counts(rounds[1])
    assert nodes > exchanges > 0

    # a converge="unchanged_count" cycle counts every round it runs: {1} grows
    # to {1..5} in 4 rounds, and round 5 sees the count unchanged
    with tool.materialized_plans() as rounds:
        out = compile_node(_growing_cycle(25, converge="unchanged_count"), spark)
    assert fixpoint.checkpoint_counted is real
    assert sorted(r["n"] for r in out.collect()) == [1, 2, 3, 4, 5]
    assert len(rounds) == 5
    assert all("== Final Plan ==" in p for p in rounds)
