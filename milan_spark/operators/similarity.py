"""Embedding similarity search for LLM data pipelines (SURVEY.md §7 phase 6).

Cosine similarity is computed on **quantized integer** vectors: each float32
component maps to round(x · 2^20) as int64. Integer dot products and norms
are order-independent exact sums (64 dims × (2^20·0.53)² products stay well
under 2^63), so a cosine is one double division of exact integers — identical
across engines, partitionings, and SQL oracles; no float-accumulation drift.

- :func:`ann_brute_force` — exact top-k per query: broadcast the (small)
  query set against the corpus, JVM-side zip_with/aggregate dot products,
  per-query top-k via window rank (no global sort).
- :func:`ann_lsh`       — the scale path: 16 deterministic random-hyperplane
  signs bucket the corpus (2^16 buckets); a query only scores its own bucket.
  Hyperplane components derive from an integer hash formula, so the bucketing
  (and therefore the result set) is fully deterministic and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from milan_spark.session import sql

QUANT = 1 << 20  # quantization grid: float -> round(x * 2^20) as int64


def maybe_broadcast(df: DataFrame, threshold: int | None = None) -> DataFrame:
    """Size-gated broadcast hint: hint only when Catalyst's optimized-plan
    estimate fits under ``threshold`` bytes; otherwise return the frame
    unhinted so Catalyst/AQE plans a shuffle join. An unconditional
    ``F.broadcast`` on a data-dependent frame (e.g. IVF probe candidates —
    O(queries × probed-cell members)) forces tens of millions of rows
    through the driver at billion-vector scale; the gate keeps the
    small-case plan and degrades to the distributed one automatically.
    Estimate unavailable → no hint (the conservative side)."""
    from milan_spark.plans.rewrite import DEFAULT_BROADCAST_THRESHOLD, _catalyst_size

    if threshold is None:
        threshold = DEFAULT_BROADCAST_THRESHOLD
    size = _catalyst_size(df)
    if size is not None and size <= threshold:
        return F.broadcast(df)
    return df


def quantize(vec) -> Column:
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(vec, lambda x: F.floor(x.cast("double") * QUANT + F.lit(0.5)).cast("long"))


def int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v)


def int_norm2(a: Column) -> Column:
    return F.aggregate(F.transform(a, lambda x: x * x), F.lit(0).cast("long"), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    """Exact-integer cosine: dot/(|a||b|) as one double division."""
    return int_dot(a, b).cast("double") / (
        F.sqrt(int_norm2(a).cast("double")) * F.sqrt(int_norm2(b).cast("double"))
    )


def cosine_prenormed(a: Column, b: Column, a_n2: Column, b_n2: Column) -> Column:
    """:func:`cosine` with the squared norms PRECOMPUTED per row: identical
    expression values (same exact-int dot, same double division), but the
    two norm aggregates run once per vector instead of once per PAIR — in a
    k-query scoring pass the corpus norm was recomputed k times and the
    query norm N times. Cuts per-pair array work from 3 folds to 1."""
    return int_dot(a, b).cast("double") / (
        F.sqrt(a_n2.cast("double")) * F.sqrt(b_n2.cast("double"))
    )


def ann_brute_force(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (self excluded).

    The query side is tiny by construction → broadcast; the corpus streams
    through one narrow stage. Ties break on neighbor id ascending.
    Output: query_id, neighbor_id, rank, cosine (rounded to 6).
    """
    q = (
        corpus.filter(F.col(id_col).isin(list(query_ids)))
        .select(F.col(id_col).alias("query_id"), quantize(vec_col).alias("__qv"))
        .withColumn("__qn2", int_norm2(F.col("__qv")))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("__cv")
    ).withColumn("__cn2", int_norm2(F.col("__cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            cosine_prenormed(
                F.col("__qv"), F.col("__cv"), F.col("__qn2"), F.col("__cn2")
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def lsh_bucket(vec_int: Column, planes: int = 16) -> Column:
    """Random-hyperplane LSH bucket of a quantized vector.

    Plane p's component for dimension d is the deterministic integer
    ``((p+1)·73856093 + (d+1)·19349663) mod 2000003 - 1000001`` — a fixed
    pseudo-random integer grid, identical in any engine. Bucket bit p =
    sign of the integer dot product (≥0 → 1).
    """
    def bit(p: int) -> Column:
        plane = F.transform(
            F.sequence(F.lit(0), F.array_size(vec_int) - 1),
            lambda d: ((F.lit(p + 1) * 73856093 + (d + 1) * 19349663) % 2000003) - 1000001,
        )
        return F.when(int_dot(vec_int, plane) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))

    out = F.lit(0).cast("long")
    for p in range(planes):
        out = out + bit(p) * F.lit(1 << p).cast("long")
    return out


def ann_lsh(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids,
    k: int = 5,
    planes: int = 8,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH bucket.

    The scale path for ANN: bucketing replaces the cross join with an
    equi-join on bucket id (2^planes partitions), trading recall for a
    ~2^planes reduction in scored pairs. Deterministic by construction.
    """
    withb = (
        corpus.select(
            F.col(id_col).alias("__vid"),
            quantize(vec_col).alias("__v"),
        )
        .withColumn("__bucket", lsh_bucket(F.col("__v"), planes))
        .withColumn("__n2", int_norm2(F.col("__v")))
    )
    q = withb.filter(F.col("__vid").isin(list(query_ids))).select(
        F.col("__vid").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__n2").alias("__qn2"),
        "__bucket",
    )
    scored = (
        withb.join(F.broadcast(q), "__bucket")
        .filter(F.col("__vid") != F.col("query_id"))
        .withColumn(
            "cosine",
            cosine_prenormed(F.col("__qv"), F.col("__v"), F.col("__qn2"), F.col("__n2")),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("__vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("__vid").alias("neighbor_id"), "rank", F.round("cosine", 6).alias("cosine"))
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    n_blocks: int = 8,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-duplicate dedup).

    Executed as a **distributed block-nested-loop** — nothing ever collects
    to the driver and nothing broadcasts:

    1. every row gets a deterministic id-hash block in [0, n_blocks);
    2. each row is replicated to every unordered block pair it belongs to
       (``n_blocks`` copies through ONE shuffle on the (ba, bb) pair key);
    3. each of the n_blocks·(n_blocks+1)/2 pair-groups computes its two
       blocks' cosines in one vectorized int64 matmul and keeps only
       above-threshold pairs, so only results leave the task.

    Exactness is preserved: int64 dot products are exact, and every
    |dot| < 2^53 converts to float64 exactly, so cosines are bit-identical
    to the SQL formulation regardless of blocking (the result is independent
    of ``n_blocks``).

    At scale, size ``n_blocks`` so one block (N/n_blocks × dim × 8 B) fits a
    task: memory per task is two blocks, shuffle volume is n_blocks × corpus.
    All-pairs is inherently O(N²) compute; when that is the binding cost,
    generate candidates through :func:`ann_lsh` buckets and exact-verify
    instead — this operator is the exact small/medium-corpus path.
    """
    import numpy as np

    B = int(n_blocks)
    q = corpus.select(F.col(id_col).alias("__vid"), quantize(vec_col).alias("__v"))
    rep = (
        q.withColumn("__blk", F.pmod(F.xxhash64(F.col("__vid")), F.lit(B)))
        .withColumn("__j", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
        .withColumn("__ba", F.least("__blk", "__j"))
        .withColumn("__bb", F.greatest("__blk", "__j"))
        .drop("__j")
    )

    def pair_block(key, pdf):
        import pandas as pd

        ba, bb = int(key[0]), int(key[1])

        def to_mat(sub):
            ids = sub["__vid"].to_numpy(np.int64)
            m = np.asarray([np.asarray(v, np.int64) for v in sub["__v"]])
            return ids, m, np.sqrt((m * m).sum(axis=1).astype(np.float64))

        if ba == bb:
            ids, m, nrm = to_mat(pdf)
            # exact int64 dots; < 2^53 so the float64 conversion is exact
            cos = (m @ m.T).astype(np.float64) / (nrm[:, None] * nrm[None, :])
            li, ri = np.nonzero((cos >= threshold) & (ids[:, None] < ids[None, :]))
            return pd.DataFrame({"id_a": ids[li], "id_b": ids[ri], "__cos": cos[li, ri]})
        a_sub, b_sub = pdf[pdf["__blk"] == ba], pdf[pdf["__blk"] == bb]
        if a_sub.empty or b_sub.empty:  # one block of the pair may be empty
            return pd.DataFrame({"id_a": [], "id_b": [], "__cos": []}).astype(
                {"id_a": np.int64, "id_b": np.int64, "__cos": np.float64}
            )
        a_ids, a_m, a_n = to_mat(a_sub)
        b_ids, b_m, b_n = to_mat(b_sub)
        cos = (a_m @ b_m.T).astype(np.float64) / (a_n[:, None] * b_n[None, :])
        li, ri = np.nonzero(cos >= threshold)
        ia, ib = a_ids[li], b_ids[ri]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "__cos": cos[li, ri],
            }
        )

    out = rep.groupBy("__ba", "__bb").applyInPandas(
        pair_block, schema="id_a long, id_b long, __cos double"
    )
    # round in Spark SQL (HALF_UP, matching the SQL oracle) rather than numpy
    return out.select("id_a", "id_b", F.round("__cos", 6).alias("cosine"))


# --- IVF (inverted-file) ANN -------------------------------------------------


def _l2_int(a: Column, b: Column) -> Column:
    """Exact-integer squared L2 distance (components ≤ 2^21 → sums < 2^48)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def _argmin_struct(arr: Column, vec: Column, id_field: str) -> Column:
    """min over ``arr`` (array<struct<{id_field}, __cent>>) of
    struct(L2²(vec, __cent), {id_field}) — struct comparison is
    lexicographic, so ties break on the id ascending, exactly the
    ``min(struct(__d, id))`` convention every oracle unrolls."""
    return F.array_min(
        F.transform(
            arr,
            lambda c: F.struct(
                _l2_int(vec, c["__cent"]).alias("__d"), c[id_field].alias(id_field)
            ),
        )
    )


def _best_cell(corpus_int: DataFrame, cells: DataFrame) -> DataFrame:
    """Nearest-centroid assignment as a NARROW per-row map — zero shuffle of
    the corpus: the centroid set (n_cells rows, model-sized by construction)
    is folded into ONE array row, broadcast, and each corpus row computes its
    argmin cell locally (ties break on cell ascending via struct order —
    identical to the previous min(struct(__d, cell)) aggregate). The old
    shape (crossJoin × n_cells → groupBy(__vid) min-struct) shuffled the
    whole corpus once per assignment — per Lloyd ROUND — purely to compute a
    per-row function; at 100 TB that is the difference between k narrow
    passes and k corpus shuffles. Returns (__vid, cell, __v)."""
    arr = cells.agg(F.collect_list(F.struct("cell", "__cent")).alias("__cells"))
    best = _argmin_struct(F.col("__cells"), F.col("__v"), "cell")
    return (
        corpus_int.crossJoin(F.broadcast(arr))
        .select("__vid", best["cell"].alias("cell"), "__v")
    )


def assign_cells(corpus_int: DataFrame, cells: DataFrame) -> DataFrame:
    """Nearest-centroid assignment → (__vid, cell); see :func:`_best_cell`."""
    return _best_cell(corpus_int, cells).select("__vid", "cell")


def _dim_of(corpus_int: DataFrame, vec_col: str = "__v") -> int:
    row = corpus_int.select(F.array_size(vec_col).alias("d")).first()
    return int(row["d"])


def kmeans_cells(corpus_int: DataFrame, n_cells: int, iters: int, dim: int | None = None) -> DataFrame:
    """Deterministic Lloyd k-means over quantized vectors, driven by the
    Cycle operator (``Stream.iterate`` — Milan beginCycle/closeCycle,
    lang/Stream.scala:143-147): the centroid set is the loop-carried stream.

    Everything is exact-integer so any engine converges identically:
    seeds = the first ``n_cells`` vector ids; the updated centroid component
    is ``floor(sum/count)`` — the double quotient of exact integers is
    correctly rounded and never within an ulp of a boundary (spacing ≥
    1/count), so its floor is engine-independent. Returns (cell, __cent).

    Each Lloyd round is exactly two map-side-combinable shuffles: the
    min-struct assignment (:func:`_best_cell`) and a fixed-width per-dimension
    sum (``dim`` scalar aggregates — the embedding dimension is a plan-time
    constant, so no posexplode row blowup and no second collect pass).
    """
    from milan_spark.stream import Stream

    if dim is None:
        dim = _dim_of(corpus_int)
    cent0 = corpus_int.filter(F.col("__vid") < n_cells).select(
        F.col("__vid").alias("cell"), F.col("__v").alias("__cent")
    )

    # one SQL string instead of `dim` Column objects: building 64 F.sum/F.floor
    # columns costs hundreds of driver py4j round trips (~1 s/round measured);
    # a single parameterized-SQL parse is JVM-side and keeps the partial agg
    comps = ", ".join(
        f"cast(floor(cast(sum(__v[{i}]) as double) / count(1)) as bigint)" for i in range(dim)
    )
    update_sql = f"SELECT cell, array({comps}) AS __cent FROM {{best}} GROUP BY cell"

    def lloyd_step(s: "Stream") -> "Stream":
        best = _best_cell(corpus_int, s.to_df())
        new_cent = best.sparkSession.sql(update_sql, best=best)
        return Stream.from_dataframe(new_cent)

    return Stream.from_dataframe(cent0).iterate(lloyd_step, max_iterations=iters).to_df()


def ann_ivf(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    iters: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer + nprobe cell search.

    The second scale path for ANN (alongside :func:`ann_lsh`): train
    ``n_cells`` centroids (:func:`kmeans_cells`), invert the corpus by
    nearest cell, and let each query score only the members of its
    ``n_probe`` nearest cells — a data-adaptive partition pruning that LSH's
    fixed hyperplanes can't give. Centroids are tiny and broadcast; the
    corpus never shuffles except the one groupBy per Lloyd iteration. At
    real scale the corpus should be persisted by the caller (multi-pass) and
    ``n_cells`` set ~sqrt(N) so each cell fits a task.

    Fully deterministic (exact-integer distances, floor-mean centroids,
    id-ascending tie-breaks) → oracle-checkable. Output: query_id,
    neighbor_id, rank, cosine — same contract as the other ANN operators.
    """
    ci = corpus.select(F.col(id_col).alias("__vid"), quantize(vec_col).alias("__v")).persist()
    # dim is a table property — callers that know it skip the probe job
    # (`_dim_of` is a separate Spark action per invocation otherwise)
    if dim is None:
        dim = _dim_of(ci)
    cells = kmeans_cells(ci, n_cells, iters, dim=dim)

    # corpus inversion: one min-struct shuffle carrying the vector (the
    # window-rank formulation would sort N×n_cells rows; only the tiny query
    # side needs ranks beyond 1 for its n_probe cells)
    members = _best_cell(ci, cells).select(
        "cell",
        F.col("__vid").alias("neighbor_id"),
        F.col("__v").alias("__cv"),
        int_norm2(F.col("__v")).alias("__cn2"),
    )
    dist_q = (
        ci.filter(F.col("__vid").isin(list(query_ids)))
        .crossJoin(F.broadcast(cells))
        .withColumn("__d", _l2_int(F.col("__v"), F.col("__cent")))
    )
    w = W.partitionBy("__vid").orderBy("__d", "cell")
    probes = (
        dist_q.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_probe)
        .select(F.col("__vid").alias("query_id"), "cell")
    )

    queries = ci.filter(F.col("__vid").isin(list(query_ids))).select(
        F.col("__vid").alias("query_id"),
        F.col("__v").alias("__qv"),
        int_norm2(F.col("__v")).alias("__qn2"),
    )
    scored = (
        members.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(queries), "query_id")
        .withColumn(
            "cosine",
            cosine_prenormed(
                F.col("__qv"), F.col("__cv"), F.col("__qn2"), F.col("__cn2")
            ),
        )
    )
    wk = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    n_cells: int = 8,
    iters: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., arXiv:2303.09540):
    k-means-cluster the embeddings, then prune near-duplicates WITHIN each
    cluster only — the clustering turns the quadratic all-pairs problem into
    per-cluster blocks (Σ|cell|² work instead of N²; with n_cells ~ N/C the
    per-cluster cost is bounded by the target cluster size C, the paper's
    regime). Contract (exactly what the SQL oracle states): an item is a
    duplicate iff some SMALLER-id member of ITS cluster has cosine ≥
    ``threshold`` — greedy keep-lowest-id, non-transitive. Returns survivors
    as (id, cell).

    Deterministic end to end: 2^20-quantized integer vectors, the
    exact-integer Lloyd k-means of :func:`kmeans_cells` (floor-mean
    centroids, (d, cell) tie-break), and a cosine whose double rounding is
    identical on any engine. Plan: centroids are tiny and broadcast
    (assignment is one min-struct combine); the within-cluster self-join
    shuffles on cell — at scale pick ``n_cells`` ~ N/1000 so every cell is a
    bounded block, and skewed giant cells fall out of k-means itself rather
    than a hash. The reference has no similarity operators at all
    (Expression.scala scalar library only); this is LLM-pipeline surface.
    """
    ci = corpus.select(F.col(id_col).alias("__vid"), quantize(vec_col).alias("__v")).persist()
    if dim is None:
        dim = _dim_of(ci)
    cells = kmeans_cells(ci, n_cells, iters, dim=dim)
    # referenced three times in one action (both pair sides + survivor base):
    # persist so the assignment computes once per materialization; the norm
    # is stored per vector so the pair filter folds one array instead of 3
    assign = _best_cell(ci, cells).withColumn("__n2", int_norm2(F.col("__v"))).persist()
    a = assign.select(
        F.col("__vid").alias("id_a"), "cell", F.col("__v").alias("__va"),
        F.col("__n2").alias("__na"),
    )
    b = assign.select(
        F.col("__vid").alias("id_b"), "cell", F.col("__v").alias("__vb"),
        F.col("__n2").alias("__nb"),
    )
    dups = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            cosine_prenormed(
                F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
            )
            >= F.lit(threshold)
        )
        .select(F.col("id_b").alias("__vid"))
        .distinct()
    )
    return assign.join(dups, "__vid", "left_anti").select(
        F.col("__vid").alias(id_col), "cell"
    )


def pq_codebooks(
    corpus_int: DataFrame,
    m_subs: int,
    n_cells: int,
    iters: int,
    dim: int,
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al., TPAMI 2011): split the
    vector into ``m_subs`` contiguous subspaces and train an independent
    deterministic Lloyd codebook (:func:`kmeans_cells`) in each. Returns
    (sub, cell, __cent) with ``__cent`` of length dim/m_subs. Codebooks are
    m·n_cells tiny rows — always broadcastable."""
    if dim % m_subs:
        raise ValueError(f"dim {dim} not divisible by m_subs {m_subs}")
    d_sub = dim // m_subs
    # all subspaces as ONE long-form frame — a single grouped Lloyd keyed by
    # sub replaces m_subs sequential Lloyd chains (identical arithmetic per
    # sub: vec_id < n_cells seeds, floor-mean updates, (d, cell) tie-breaks)
    spark = corpus_int.sparkSession
    sliced = _subspace_long(corpus_int, m_subs, d_sub)
    cents = sliced.filter(F.col("__vid") < n_cells).select(
        "sub", F.col("__vid").alias("cell"), F.col("__v").alias("__cent")
    )
    comps = ", ".join(
        f"cast(floor(cast(sum(__v[{i}]) as double) / count(1)) as bigint)"
        for i in range(d_sub)
    )
    update_sql = (
        f"SELECT sub, cell, array({comps}) AS __cent FROM {{best}} GROUP BY sub, cell"
    )
    for _ in range(iters):
        barr = cents.groupBy("sub").agg(
            F.collect_list(F.struct("cell", "__cent")).alias("__bk")
        )
        pick = _argmin_struct(F.col("__bk"), F.col("__v"), "cell")
        best = sliced.join(F.broadcast(barr), "sub").select(
            "sub", pick["cell"].alias("cell"), "__v"
        )
        cents = sql(spark, update_sql, best=best).localCheckpoint(eager=False)
    return cents.select("sub", "cell", "__cent")


def _subspace_long(corpus_int: DataFrame, m_subs: int, d_sub: int) -> DataFrame:
    """(__vid, __v[dim]) → long form (sub, __vid, __v[d_sub]) in one narrow
    explode — the frame every fused per-subspace PQ pass runs over."""
    return corpus_int.select(
        "__vid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice("__v", s * d_sub + 1, d_sub).alias("__v"),
                    )
                    for s in range(m_subs)
                ]
            )
        ).alias("__e"),
    ).select(F.col("__e.sub").alias("sub"), "__vid", F.col("__e.__v").alias("__v"))


def _assign_grouped(frame: DataFrame, cents: DataFrame, gid_cols: list[str]) -> DataFrame:
    """Per-group nearest-codebook assignment as ONE equi-join + a narrow
    per-row argmin: the all-group codebook table (model-sized) folds into
    one array row per group, broadcasts, and each member row scans only its
    OWN group's array (ties break (d, code) — the oracle convention). The
    member frame never shuffles. Returns (gid..., __vid, code, __v)."""
    barr = cents.groupBy(*gid_cols).agg(
        F.collect_list(F.struct("code", "__cent")).alias("__bk")
    )
    best = _argmin_struct(F.col("__bk"), F.col("__v"), "code")
    return frame.join(F.broadcast(barr), gid_cols).select(
        *gid_cols, "__vid", best["code"].alias("code"), "__v"
    )


def kmeans_cells_grouped(
    frame: DataFrame, n_codes: int, iters: int, dim: int, gid: "str | list[str]" = "cell"
) -> DataFrame:
    """Deterministic Lloyd k-means PER GROUP in one set of jobs: ``frame``
    is (gid..., __vid, __v); every group trains its own ``n_codes``-centroid
    codebook simultaneously (seeds = the group's ``n_codes`` smallest-id
    vectors; floor-mean updates; (d, code) tie-breaks — the exact grouped
    twin of :func:`kmeans_cells`). ``gid`` may be a composite key (e.g.
    ``["cell", "sub"]`` trains every coarse-cell × subspace codebook in ONE
    chain of jobs — residual PQ's m_subs × n_cells codebooks without m_subs
    sequential loops). Returns (gid..., code, __cent).

    Per iteration the member frame never shuffles: assignment is the
    broadcast array-argmin of :func:`_assign_grouped`; only the combinable
    centroid update (≤ groups × n_codes × dim cells) exchanges. Total jobs
    stay O(iters), independent of group count."""
    gid_cols = [gid] if isinstance(gid, str) else list(gid)
    spark = frame.sparkSession
    wseed = W.partitionBy(*gid_cols).orderBy("__vid")
    cents = (
        frame.withColumn("__rn", F.row_number().over(wseed))
        .filter(F.col("__rn") <= n_codes)
        .select(*gid_cols, (F.col("__rn") - 1).alias("code"), F.col("__v").alias("__cent"))
    )
    gid_sql = ", ".join(gid_cols)
    comps = ", ".join(
        f"cast(floor(cast(sum(__v[{i}]) as double) / count(1)) as bigint)" for i in range(dim)
    )
    update_sql = (
        f"SELECT {gid_sql}, code, array({comps}) AS __cent FROM {{best}} "
        f"GROUP BY {gid_sql}, code"
    )
    for _ in range(iters):
        best = _assign_grouped(frame, cents, gid_cols)
        cents = sql(spark, update_sql, best=best).localCheckpoint(eager=False)
    return cents


def build_ivfpq_residual_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_cells: int = 8,
    coarse_iters: int = 2,
    m_subs: int = 4,
    pq_iters: int = 1,
    dim: int | None = None,
) -> dict:
    """BUILD phase of the IVF+residual-PQ lifecycle: train the coarse
    quantizer and per-cell residual codebooks, encode every corpus vector
    to ``m_subs`` small ints. Returns ``{"coarse", "books", "codes",
    "meta"}`` — three DataFrames plus the hyperparameters. This is the
    expensive pass over raw vectors; it runs ONCE, and the artifact is
    what :func:`save_ivfpq_residual_index` persists so a billion-vector
    index is built once and queried many times (the production ANN
    lifecycle — query cost never touches raw vectors again).

    Everything is exact-int64 and deterministic, so a rebuilt index is
    bit-identical to a loaded one.
    """
    ci = corpus.select(F.col(id_col).alias("__vid"), quantize(vec_col).alias("__v")).persist()
    if dim is None:
        dim = _dim_of(ci)
    d_sub = dim // m_subs
    if dim % m_subs:
        raise ValueError(f"dim {dim} not divisible by m_subs {m_subs}")

    coarse = kmeans_cells(ci, n_cells, coarse_iters, dim=dim).persist()
    assign = _best_cell(ci, coarse)
    res = assign.join(F.broadcast(coarse), "cell").select(
        "__vid",
        "cell",
        F.zip_with("__v", "__cent", lambda x, c: x - c).alias("__r"),
    ).persist()

    # all m_subs subspaces as ONE long-form frame (cell, sub, __vid, __v):
    # a single grouped Lloyd keyed (cell, sub) trains every per-cell
    # per-subspace codebook in O(pq_iters) jobs, and encoding is one
    # broadcast array-argmin pass — the previous per-subspace loop ran
    # m_subs sequential Lloyd chains + m_subs encode shuffles for the
    # identical arithmetic (same seeds, updates, and (d, code) tie-breaks
    # per group, so the trained codebooks and codes are bit-identical).
    res_all = res.select(
        "cell",
        "__vid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice("__r", s * d_sub + 1, d_sub).alias("__v"),
                    )
                    for s in range(m_subs)
                ]
            )
        ).alias("__e"),
    ).select("cell", F.col("__e.sub").alias("sub"), "__vid", F.col("__e.__v").alias("__v"))
    books = kmeans_cells_grouped(res_all, n_cells, pq_iters, dim=d_sub, gid=["cell", "sub"])
    codes = _assign_grouped(res_all, books, ["cell", "sub"]).select(
        "cell", "__vid", "sub", "code"
    )
    return {
        "coarse": coarse,
        "books": books,
        "codes": codes,
        "meta": {"n_cells": n_cells, "m_subs": m_subs, "dim": dim},
    }


def save_ivfpq_residual_index(index: dict, path: str) -> None:
    """Persist the index artifact: three parquet tables + a meta JSON.
    Codes are the corpus compressed to m ints/vector; coarse/books are
    model-sized."""
    import json as _json
    import os as _os

    for name in ("coarse", "books", "codes"):
        index[name].write.mode("overwrite").parquet(_os.path.join(path, name))
    with open(_os.path.join(path, "meta.json"), "w") as f:
        _json.dump(index["meta"], f)


def load_ivfpq_residual_index(spark: SparkSession, path: str) -> dict:
    import json as _json
    import os as _os

    with open(_os.path.join(path, "meta.json")) as f:
        meta = _json.load(f)
    return {
        name: spark.read.parquet(_os.path.join(path, name))
        for name in ("coarse", "books", "codes")
    } | {"meta": meta}


def query_ivfpq_residual_index(
    index: dict,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_probe: int = 2,
    broadcast_threshold: int | None = None,
) -> DataFrame:
    """QUERY phase: probe the ``n_probe`` nearest coarse cells per query,
    residualize against each probed centroid, score that cell's members by
    ADC over their codes. Touches only the code table plus small broadcasts
    — never a raw corpus vector. Works identically on a just-built or a
    loaded index (exact-int64 end to end).

    Broadcast policy: ``coarse`` and ``books`` are index-side frames bounded
    by configuration (n_cells × dim and n_cells × m_subs × codebook rows) —
    unconditional hints. The PROBE and ADC-LUT frames grow linearly with the
    query-batch size (O(queries · n_probe) and O(queries · n_probe · m_subs
    · codebook) rows — a 1M-query bulk batch makes the LUT ~10^10 rows), so
    they route through :func:`maybe_broadcast`: hinted only when the
    Catalyst estimate fits ``broadcast_threshold``, otherwise left to AQE's
    runtime statistics. Nothing is forced through the driver on a guess."""
    coarse, books, codes = index["coarse"], index["books"], index["codes"]
    m_subs, dim = index["meta"]["m_subs"], index["meta"]["dim"]
    d_sub = dim // m_subs

    qi = queries.select(F.col(id_col).alias("__vid"), quantize(vec_col).alias("__v"))
    dist_q = qi.crossJoin(F.broadcast(coarse)).withColumn(
        "__d", _l2_int(F.col("__v"), F.col("__cent"))
    )
    wp = W.partitionBy("__vid").orderBy("__d", "cell")
    probes = (
        dist_q.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= n_probe)
        .select(F.col("__vid").alias("query_id"), "cell", F.col("__v").alias("__qv"))
    )
    rq = probes.join(F.broadcast(coarse), "cell").select(
        "query_id", "cell", F.zip_with("__qv", "__cent", lambda x, c: x - c).alias("__rq")
    )
    lut = None
    for s in range(m_subs):
        rq_s = rq.select("query_id", "cell", F.slice("__rq", s * d_sub + 1, d_sub).alias("__q"))
        l = (
            rq_s.join(F.broadcast(books.filter(F.col("sub") == s)), "cell")
            .withColumn("__d", _l2_int(F.col("__q"), F.col("__cent")))
            .select("query_id", "cell", "sub", "code", "__d")
        )
        lut = l if lut is None else lut.unionByName(l)

    est = (
        codes.join(
            maybe_broadcast(probes.select("query_id", "cell"), broadcast_threshold),
            "cell",
        )
        .join(maybe_broadcast(lut, broadcast_threshold), ["query_id", "cell", "sub", "code"])
        .filter(F.col("__vid") != F.col("query_id"))
        .groupBy("query_id", F.col("__vid").alias("neighbor_id"))
        .agg(F.sum("__d").alias("approx_d2"))
    )
    wk = W.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    return (
        est.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "approx_d2")
    )


def ann_ivfpq_residual(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    coarse_iters: int = 2,
    m_subs: int = 4,
    pq_iters: int = 1,
    dim: int | None = None,
    broadcast_threshold: int | None = None,
) -> DataFrame:
    """IVF + RESIDUAL PQ (Jégou et al., TPAMI 2011 §III.C — the standard
    recall upgrade over :func:`ann_ivfpq`'s flat codebooks): PQ codebooks
    are trained per coarse cell on the RESIDUALS ``v − centroid(cell)``,
    whose spread is much tighter than the raw vectors', so the same code
    budget quantizes finer. Queries residualize against each PROBED cell's
    centroid and look up that cell's own codebook.

    Plan shape (better than flat IVFPQ): there is no materialized candidate
    frame at all — the probed-cell membership IS the ``codes ⋈ probes``
    equi-join on cell, with probes and the LUT size-gated via
    :func:`maybe_broadcast` (they scale with the query-batch size); the grouped
    Lloyd (:func:`kmeans_cells_grouped`) trains all n_cells × m_subs
    codebooks in O(iters) jobs. Exact-int64 throughout (integer residuals,
    floor-means, (d, code)/(d, cell) struct tie-breaks) → full value
    oracle. Output: query_id, neighbor_id, rank, approx_d2.

    Composed from the build/query lifecycle halves
    (:func:`build_ivfpq_residual_index` / :func:`query_ivfpq_residual_index`)
    — identical arithmetic, so the one-shot form and a saved-then-loaded
    index return bit-identical results.
    """
    index = build_ivfpq_residual_index(
        corpus,
        id_col,
        vec_col,
        n_cells=n_cells,
        coarse_iters=coarse_iters,
        m_subs=m_subs,
        pq_iters=pq_iters,
        dim=dim,
    )
    queries = corpus.filter(F.col(id_col).isin(list(query_ids)))
    return query_ivfpq_residual_index(
        index, queries, id_col, vec_col, k=k, n_probe=n_probe,
        broadcast_threshold=broadcast_threshold,
    )


def pq_encode(corpus_int: DataFrame, books: DataFrame, m_subs: int, dim: int) -> DataFrame:
    """Encode every vector as its nearest codebook cell per subspace —
    long form (``__vid``, sub, code): the whole corpus compresses to
    m_subs small ints per vector (the 8–64× memory reduction that makes
    billion-vector ANN fit a cluster). One broadcast min-struct assignment
    per subspace; the corpus never shuffles."""
    d_sub = dim // m_subs
    # one broadcast array-argmin pass over the long-form frame: the corpus
    # never shuffles AND never unions m_subs separate assignment subplans
    sliced = _subspace_long(corpus_int, m_subs, d_sub)
    barr = books.select("sub", F.col("cell").alias("code"), "__cent").groupBy("sub").agg(
        F.collect_list(F.struct("code", "__cent")).alias("__bk")
    )
    pick = _argmin_struct(F.col("__bk"), F.col("__v"), "code")
    return sliced.join(F.broadcast(barr), "sub").select(
        "__vid", "sub", pick["code"].alias("code")
    )


def ann_pq(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids,
    k: int = 5,
    m_subs: int = 4,
    n_cells: int = 8,
    iters: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC): the
    corpus lives as ``m_subs`` codes per vector; each query computes ONE
    lookup table of exact squared distances from its raw subvectors to every
    codebook centroid (m·n_cells integers — KBs), and a corpus vector's
    estimated distance is the sum of its codes' LUT entries.

    The scale contract: query-time cost touches only the CODE table (ints)
    plus a broadcast LUT — raw corpus vectors are read once at encode time
    and never again; at a billion vectors that is the difference between
    scanning 8 GB of codes and 256 GB of floats. The LUT-sum is a combinable
    aggregate; per-query top-k is one small window. Compose IVF in front
    (:func:`ann_ivf`'s cells) for candidate pruning when even the code scan
    is too wide. All arithmetic exact-int64 (deterministic, oracle-checked);
    ties break on neighbor id. Output: query_id, neighbor_id, rank,
    approx_d2.
    """
    ci = corpus.select(F.col(id_col).alias("__vid"), quantize(vec_col).alias("__v")).persist()
    if dim is None:
        dim = _dim_of(ci)
    d_sub = dim // m_subs
    books = pq_codebooks(ci, m_subs, n_cells, iters, dim).persist()
    codes = pq_encode(ci, books, m_subs, dim)

    qs = ci.filter(F.col("__vid").isin(list(query_ids)))
    lut = None
    for s in range(m_subs):
        q_s = qs.select(
            F.col("__vid").alias("query_id"), F.slice("__v", s * d_sub + 1, d_sub).alias("__qv")
        )
        l = (
            q_s.crossJoin(F.broadcast(books.filter(F.col("sub") == s)))
            .withColumn("__d", _l2_int(F.col("__qv"), F.col("__cent")))
            .select("query_id", "sub", F.col("cell").alias("code"), "__d")
        )
        lut = l if lut is None else lut.unionByName(l)

    est = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("__vid") != F.col("query_id"))
        .groupBy("query_id", F.col("__vid").alias("neighbor_id"))
        .agg(F.sum("__d").alias("approx_d2"))
    )
    wk = W.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    return (
        est.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "approx_d2")
    )


def ann_ivfpq(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    coarse_iters: int = 2,
    m_subs: int = 4,
    pq_iters: int = 1,
    dim: int | None = None,
    broadcast_threshold: int | None = None,
) -> DataFrame:
    """IVF + PQ — the standard billion-vector ANN composition: the IVF
    coarse quantizer (:func:`kmeans_cells`) prunes the corpus to the
    query's ``n_probe`` cells, and only those members are scored, by ADC
    over their PQ codes (:func:`ann_pq`'s machinery). Query-time cost is
    O(probed members) rows of m small ints each — neither the full code
    table (flat PQ) nor any raw corpus vector is touched.

    Flat-PQ variant: codebooks are trained on the vectors themselves, not
    per-cell residuals (:func:`ann_ivfpq_residual` adds the per-cell
    residual codebooks). All exact-int64 and deterministic → full value
    oracle. Output: query_id, neighbor_id, rank, approx_d2.

    Broadcast policy: the LUT and probe frames are tiny by construction and
    carry hints; the CANDIDATE frame is data-dependent (queries ×
    probed-cell members — tens of millions of rows at a billion vectors),
    so it goes through :func:`maybe_broadcast`: hinted only when the
    Catalyst estimate fits ``broadcast_threshold``, otherwise left to AQE's
    runtime statistics (broadcast when actually small, shuffle join when
    not). Nothing is ever forced through the driver on an estimate.
    """
    ci = corpus.select(F.col(id_col).alias("__vid"), quantize(vec_col).alias("__v")).persist()
    if dim is None:
        dim = _dim_of(ci)
    d_sub = dim // m_subs

    coarse = kmeans_cells(ci, n_cells, coarse_iters, dim=dim)
    members = _best_cell(ci, coarse).select("__vid", "cell")
    dist_q = (
        ci.filter(F.col("__vid").isin(list(query_ids)))
        .crossJoin(F.broadcast(coarse))
        .withColumn("__d", _l2_int(F.col("__v"), F.col("__cent")))
    )
    wp = W.partitionBy("__vid").orderBy("__d", "cell")
    probes = (
        dist_q.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= n_probe)
        .select(F.col("__vid").alias("query_id"), "cell")
    )
    cand = members.join(F.broadcast(probes), "cell").select(
        "query_id", F.col("__vid").alias("neighbor_id")
    )

    books = pq_codebooks(ci, m_subs, n_cells, pq_iters, dim).persist()
    codes = pq_encode(ci, books, m_subs, dim)
    qs = ci.filter(F.col("__vid").isin(list(query_ids)))
    lut = None
    for s in range(m_subs):
        q_s = qs.select(
            F.col("__vid").alias("query_id"), F.slice("__v", s * d_sub + 1, d_sub).alias("__qv")
        )
        l = (
            q_s.crossJoin(F.broadcast(books.filter(F.col("sub") == s)))
            .withColumn("__d", _l2_int(F.col("__qv"), F.col("__cent")))
            .select("query_id", "sub", F.col("cell").alias("code"), "__d")
        )
        lut = l if lut is None else lut.unionByName(l)

    # the candidate frame is data-dependent (queries × probed-cell members):
    # broadcast only when the Catalyst estimate says it fits, else join on
    # __vid as a shuffle join (degrades gracefully at billion-vector scale)
    est = (
        codes.join(
            maybe_broadcast(
                cand.withColumnRenamed("neighbor_id", "__vid"), broadcast_threshold
            ),
            "__vid",
        )
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .filter(F.col("__vid") != F.col("query_id"))
        .groupBy("query_id", F.col("__vid").alias("neighbor_id"))
        .agg(F.sum("__d").alias("approx_d2"))
    )
    wk = W.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    return (
        est.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "approx_d2")
    )


def random_projection(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    out_dim: int = 16,
    in_dim: int = 64,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a DETERMINISTIC
    ±1 sign matrix (Achlioptas JCSS 2003 — database-friendly projections):
    ``y_p = Σ_d qx_d · s(p, d)`` over the quantized integer vector, where
    ``s(p, d)`` is the sign of the same fixed integer grid the LSH planes
    use (``(p+1)·73856093 + (d+1)·19349663 mod 2000003 − 1000001``).

    Everything stays exact int64: |y_p| ≤ in_dim · 2^20 · max|x|, so dots
    and norms of projected vectors are still order-independent integer
    sums — the projection is engine-exact and oracle-checkable, unlike a
    Gaussian matrix. At 100 TB this is the standard pre-ANN shrink: a
    narrow per-row map (no shuffle, no model broadcast — the matrix is a
    formula), cutting downstream index memory ``in_dim/out_dim``-fold.

    Output: (id_col, proj array<long> of length out_dim).
    """
    # quantize ONCE in a prior projection — as a shared subexpression of all
    # out_dim components it was re-evaluated per component (measured in the
    # plan: 16 copies of the transform), and the out_dim folds read the one
    # materialized array. The sign matrix is one literal array(array(...))
    # in the one expression: a single py4j call to build (a column per sign
    # was 21k), folded to a constant, so no sign is computed per row. zip_with
    # pads a vector of the wrong length with NULL, so its components are NULL.
    q = corpus.select(F.col(id_col), quantize(vec_col).alias("__q"))
    rows = (
        ", ".join(
            "1" if ((p + 1) * 73856093 + (d + 1) * 19349663) % 2000003 - 1000001 >= 0 else "-1"
            for d in range(in_dim)
        )
        for p in range(out_dim)
    )
    signs = "array(" + ", ".join(f"array({r})" for r in rows) + ")"
    proj = f"transform({signs}, s -> aggregate(zip_with(__q, s, (x, y) -> x * y), 0L, (acc, v) -> acc + v))"
    return q.select(F.col(id_col), F.expr(proj).alias("proj"))


def hard_negatives(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    query_ids,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query vector,
    the top-``k`` most-similar corpus vectors with a DIFFERENT label — the
    negatives a triplet/InfoNCE objective learns most from (the "hardest"
    ones, by cosine).

    Same topology as :func:`ann_brute_force` — the query batch broadcasts,
    the corpus streams through one narrow stage, and the label-mismatch
    predicate rides the broadcast join so mined negatives never shuffle.
    For corpus-scale mining batches, swap the exact scorer for the IVF path
    and apply the same label filter to its candidate frame; the mining
    semantics (rank among label-mismatched neighbors) are unchanged.
    Exact-integer dot products → deterministic doubles; ties break on
    neighbor id ascending.

    Output: query_id, neighbor_id, neg_label, rank, cosine (rounded to 6).
    """
    q = corpus.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("__qlabel"),
        quantize(vec_col).alias("__qv"),
    ).withColumn("__qn2", int_norm2(F.col("__qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neg_label"),
        quantize(vec_col).alias("__cv"),
    ).withColumn("__cn2", int_norm2(F.col("__cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neg_label") != F.col("__qlabel"))
        )
        .withColumn(
            "cosine",
            cosine_prenormed(
                F.col("__qv"), F.col("__cv"), F.col("__qn2"), F.col("__cn2")
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "neg_label",
            "rank",
            F.round("cosine", 6).alias("cosine"),
        )
    )
