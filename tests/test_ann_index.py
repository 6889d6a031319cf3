"""IVF+residual-PQ index lifecycle: build once → save → load → query must
equal the one-shot query bit-for-bit (everything is exact-int64, so a
loaded index has no legitimate reason to differ)."""

from __future__ import annotations

from milan_spark.operators.similarity import (
    ann_ivfpq_residual,
    build_ivfpq_residual_index,
    load_ivfpq_residual_index,
    query_ivfpq_residual_index,
    save_ivfpq_residual_index,
)

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def test_saved_and_loaded_index_queries_identically(spark, tmp_path):
    emb = spark.read.parquet(EMB)
    qids = list(range(5))

    direct = sorted(
        tuple(r)
        for r in ann_ivfpq_residual(
            emb, "vec_id", "embedding", query_ids=qids, k=5, dim=64
        ).collect()
    )

    index = build_ivfpq_residual_index(emb, "vec_id", "embedding", dim=64)
    save_ivfpq_residual_index(index, str(tmp_path / "idx"))
    loaded = load_ivfpq_residual_index(spark, str(tmp_path / "idx"))
    assert loaded["meta"] == {"n_cells": 8, "m_subs": 4, "dim": 64}

    queries = emb.filter(emb.vec_id.isin(qids))
    via_disk = sorted(
        tuple(r)
        for r in query_ivfpq_residual_index(
            loaded, queries, "vec_id", "embedding", k=5, n_probe=2
        ).collect()
    )
    assert via_disk == direct and len(direct) > 0


def test_query_plan_over_loaded_index_reads_no_raw_vectors(spark, tmp_path):
    # the lifecycle's point: query cost touches codes + tiny broadcasts,
    # never the corpus embedding column
    emb = spark.read.parquet(EMB)
    index = build_ivfpq_residual_index(emb, "vec_id", "embedding", dim=64)
    save_ivfpq_residual_index(index, str(tmp_path / "idx"))
    loaded = load_ivfpq_residual_index(spark, str(tmp_path / "idx"))
    # query vectors arrive from their own (external) table — the corpus
    # parquet must not appear anywhere in the query plan
    emb.filter(emb.vec_id.isin([0, 1])).write.parquet(str(tmp_path / "q"))
    queries = spark.read.parquet(str(tmp_path / "q"))
    out = query_ivfpq_residual_index(loaded, queries, "vec_id", "embedding")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "embeddings.parquet" not in plan
    # plan Location strings truncate long paths — the index dir prefix is
    # enough to prove the scans read the persisted artifact
    assert "/idx" in plan
