"""Corpus-mining tier: retrieval scoring, HyperLogLog cardinality, and
graph structure mining — training-data-pipeline operators past the
reference's own surface (its closest constructs are keyed aggregation and
Cycle, lang/StreamExpressions.scala; everything here is oracle-checked
bit-for-bit like the rest of the catalog).

Registered after the frozen DRIVER_WINDOW (catalog.py) — the driver's
50-query window stays diff-free; these run in the full local
tools/check_correctness.py sweep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from milan_spark.catalog import register
from milan_spark.sources import table

# the portable scrambled char-fold every sketch shares (operators/sketch.py)
_SQL_HASH01 = (
    "(list_reduce(list_transform(regexp_extract_all(CAST({s} AS VARCHAR), '.'),"
    " c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 31 + c) % 2147483647)"
    " * 2654435761) % 2147483647"
)

# same 2^20 integer quantization grid the similarity oracles pin
# (llm_pipeline._SQL_QUANT; operators/similarity.py QUANT)
_SQL_QUANT_MINING = (
    "[CAST(floor(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT) FOR x IN embedding]"
)

# the exploded-quantized-vector CTE prefix (llm_pipeline._SQL_VEC_EX twin)
_SQL_VEC_EX_MINING = f"""
WITH q AS (
  SELECT vec_id, {_SQL_QUANT_MINING} AS v FROM embeddings
), ex AS (
  SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM q
), norms AS (
  SELECT vec_id, SUM(x * x) AS nn FROM ex GROUP BY 1
)
"""

_BM25_TERMS = ["join", "filter", "window", "sort", "dup"]
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "bm25_search",
    doc="BM25 top-20 retrieval (operators.retrieval.bm25_topk, k1=1.2 "
    "b=0.75) for a 5-term query over documents: query-vocabulary filter at "
    "the scan so the corpus-sized token stream never shuffles; corpus "
    "stats and df broadcast; TakeOrderedAndProject top-k. Ranked on the "
    "ROUNDED score with doc_id tie-break, so ordering is engine-exact.",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents
), dl AS (
  SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS dl
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks
  WHERE token IN ({", ".join("'" + t + "'" for t in _BM25_TERMS)})
  GROUP BY 1, 2
), dft AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id,
         ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
           * CAST(tf AS DOUBLE) * {_BM25_K1 + 1.0}
           / (CAST(tf AS DOUBLE) + {_BM25_K1} * ({1.0 - _BM25_B} + {_BM25_B}
              * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
           AS term_score
  FROM tf JOIN dft USING (token) JOIN dl USING (doc_id), stats
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_terms_hit, round(SUM(term_score), 4) AS bm25
  FROM scored GROUP BY 1
)
SELECT doc_id, n_terms_hit, bm25,
       ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
FROM per_doc
ORDER BY rank LIMIT 20
""",
)
def bm25_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.retrieval import bm25_topk

    docs = table(spark, sf_dir, "documents")
    return bm25_topk(
        docs, _BM25_TERMS, k1=_BM25_K1, b=_BM25_B, top_n=20
    )


@register(
    "hll_distinct_users",
    doc="HyperLogLog distinct-count sketch (operators.sketch.hll_distinct, "
    "m=64 registers over the portable scrambled char-fold): one map-side-"
    "combinable groupBy(event_type, register) max — the user domain never "
    "shuffles — then a 64-row-per-group fold whose indicator sum stays an "
    "exact scaled int64. Small-range linear-counting correction included; "
    "registers are a pure function of the value set, so the oracle "
    "replicates them register-for-register (the standard-HLL determinism "
    "caveat the KMV docstring raises, resolved by pinning the hash).",
    oracle=f"""
WITH h AS (
  SELECT event_type,
         ({_SQL_HASH01.format(s='user_id')}) AS h0
  FROM events WHERE user_id IS NOT NULL
), reg AS (
  SELECT event_type, h0 % 64 AS reg,
         CASE WHEN h0 // 64 = 0 THEN 26
              ELSE 26 - length(bin(CAST(h0 // 64 AS BIGINT))) END AS rho
  FROM h
), mx AS (
  SELECT event_type, reg, MAX(rho) AS m FROM reg GROUP BY 1, 2
), agg AS (
  SELECT event_type, COUNT(*) AS n_regs,
         CAST(SUM(CAST(round(67108864.0 / 2.0 ** m, 0) AS BIGINT)) AS BIGINT)
           AS present_scaled
  FROM mx GROUP BY 1
), folded AS (
  SELECT event_type, n_regs, 64 - n_regs AS v_zero,
         present_scaled + (64 - n_regs) * 67108864 AS sum_scaled
  FROM agg
)
SELECT event_type, n_regs, v_zero, sum_scaled,
       round(CASE WHEN {0.7213 / (1.0 + 1.079 / 64)!r}e0 * 4096.0 * 67108864.0
                       / CAST(sum_scaled AS DOUBLE) <= 160.0 AND v_zero > 0
                  THEN 64.0 * ln(64.0 / CAST(v_zero AS DOUBLE))
                  ELSE {0.7213 / (1.0 + 1.079 / 64)!r}e0 * 4096.0 * 67108864.0
                       / CAST(sum_scaled AS DOUBLE) END, 4) AS distinct_est
FROM folded
""",
)
def hll_distinct_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.sketch import hll_distinct

    ev = table(spark, sf_dir, "events")
    return hll_distinct(ev, "user_id", keys=["event_type"])




def _copart_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-order part pairs WITHOUT the lineitem self-join: group each
    order's parts into a set (one combinable shuffle, no SMJ sort of both
    join sides) and emit the canonical pairs in-row from the <=13-element
    arrays — measured 2.5 -> 1.7 s at sf0.1 for the identical pair set.
    Per-order fan-out is C(|parts|, 2), bounded by the order schema, so the
    explode cannot skew."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    grp = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("ps"))
    pairs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.array_size(F.col("ps"))),
                lambda y: F.struct(
                    F.least(x, y).alias("src"), F.greatest(x, y).alias("dst")
                ),
            ),
        )
    )
    return grp.select(F.explode(pairs).alias("p")).select("p.src", "p.dst")


@register(
    "triangle_count_coparts",
    doc="Exact triangle count by degree-ordered wedge checking "
    "(operators.graph.triangle_count; Schank/Wagner 2005, Suri/"
    "Vassilvitskii WWW'11) on the co-order part graph (parts sharing an "
    "order). Orientation bounds wedge fan-out at O(m^1.5) regardless of "
    "hubs — the 100 TB shape for power-law co-occurrence graphs. All "
    "outputs exact integers.",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
         greatest(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT n, COUNT(*) AS deg FROM (
    SELECT u AS n FROM pairs UNION ALL SELECT v FROM pairs
  ) GROUP BY 1
), oriented AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND p.u < p.v)
              THEN p.u ELSE p.v END AS lo,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND p.u < p.v)
              THEN p.v ELSE p.u END AS hi
  FROM pairs p JOIN deg du ON du.n = p.u JOIN deg dv ON dv.n = p.v
), wedges AS (
  SELECT l1.lo, l1.hi AS x, l2.hi AS y
  FROM oriented l1 JOIN oriented l2 ON l1.lo = l2.lo AND l1.hi < l2.hi
), closed AS (
  SELECT 1 FROM wedges w WHERE EXISTS (
    SELECT 1 FROM pairs e WHERE e.u = w.x AND e.v = w.y
  )
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM pairs) AS n_edges,
       (SELECT COUNT(*) FROM wedges) AS n_wedges,
       (SELECT COUNT(*) FROM closed) AS n_triangles
""",
)
def triangle_count_coparts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.graph import triangle_count

    return triangle_count(_copart_pairs(spark, sf_dir), small_graph=True)


_SQL_BUCKET = (
    "(list_reduce(list_transform(regexp_extract_all({s}, '.'),"
    " c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 31 + c) % 2147483647)"
    " * 2654435761) % 2147483647 % 256"
)
_SQL_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"


@register(
    "dsir_selection",
    doc="DSIR importance resampling (operators.mixing.dsir_scores/"
    "dsir_select; Xie et al. 2023): hashed-unigram bucket distributions "
    "fitted for the en-language target domain vs the whole corpus (two "
    "map-side-combinable 256-bucket aggregates — the token domain never "
    "shuffles), log-ratio weights quantized to integer micro-nats so the "
    "per-document score is an exact int64 and the resampling rank is "
    "ulp-proof; top-100 via TakeOrderedAndProject.",
    oracle=f"""
WITH raw_toks AS (
  SELECT doc_id, {_SQL_BUCKET.format(s="unnest(" + _SQL_TOKS + ")")} AS b
  FROM documents
), tgt_toks AS (
  SELECT {_SQL_BUCKET.format(s="unnest(" + _SQL_TOKS + ")")} AS b
  FROM documents WHERE lang = 'en'
), rc AS (SELECT b, COUNT(*) AS r FROM raw_toks GROUP BY 1),
tc AS (SELECT b, COUNT(*) AS t FROM tgt_toks GROUP BY 1),
tot AS (SELECT (SELECT SUM(r) FROM rc) AS R_tot, (SELECT SUM(t) FROM tc) AS T_tot),
w AS (
  SELECT b,
         CAST(floor(1000000.0e0 * (
            ln(CAST(coalesce(t, 0) + 1 AS DOUBLE) / CAST(T_tot + 256 AS DOUBLE))
          - ln(CAST(coalesce(r, 0) + 1 AS DOUBLE) / CAST(R_tot + 256 AS DOUBLE))
         )) AS BIGINT) AS w
  FROM rc FULL JOIN tc USING (b), tot
), scores AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(w) AS BIGINT) AS score_micronat
  FROM raw_toks JOIN w USING (b) GROUP BY 1
)
SELECT doc_id, n_tokens, score_micronat,
       ROW_NUMBER() OVER (ORDER BY score_micronat DESC, doc_id) AS rank
FROM scores
ORDER BY rank LIMIT 100
""",
)
def dsir_selection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.mixing import dsir_scores, dsir_select

    docs = table(spark, sf_dir, "documents")
    scores = dsir_scores(docs, docs.filter(F.col("lang") == "en"))
    return dsir_select(scores, top_n=100)


@register(
    "quality_classifier_gate",
    doc="Linear quality classifier with cleared-denominator exact decisions "
    "(operators.mixing.quality_classifier): z = a*meanlen + b*stopratio + "
    "c*distinctratio + e*n/N0 + f evaluated as the integer "
    "Z = N0*(aL + bs + cu) + e*n^2 + f*N0*n, so the keep/drop label is an "
    "exact int64 comparison — no float in the decision path. Row-local, "
    "zero shuffles: the shape a fasttext-style gate has at 100 TB.",
    oracle="""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), f AS (
  SELECT doc_id,
         len(toks) AS n,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS L,
         len(list_filter(toks, x -> x IN ('and', 'das', 'de', 'der', 'des',
           'die', 'el', 'et', 'ein', 'in', 'is', 'ist', 'la', 'le', 'les',
           'los', 'of', 'que', 'the', 'to', 'und', 'y'))) AS s,
         len(list_distinct(toks)) AS u
  FROM t
)
SELECT doc_id, n AS n_tokens,
       CASE WHEN n > 0 THEN 64 * (180 * L + 950 * s + 620 * u)
            + 14 * n * n - 1140 * 64 * n END AS z_num,
       CASE WHEN n > 0 THEN (64 * (180 * L + 950 * s + 620 * u)
            + 14 * n * n - 1140 * 64 * n) > 0 ELSE FALSE END AS keep,
       CASE WHEN n > 0 THEN round(CAST(64 * (180 * L + 950 * s + 620 * u)
            + 14 * n * n - 1140 * 64 * n AS DOUBLE) / (64.0 * n), 4) END
         AS z_millis
FROM f
""",
)
def quality_classifier_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.mixing import quality_classifier

    docs = table(spark, sf_dir, "documents")
    return quality_classifier(docs)


def _kmeans_chain(k: int = 8, iters: int = 2, dim: int = 64, scale: int = 1_000_000) -> str:
    """The unrolled-CTE replica of kmeans_fixed up to the FINAL assignment
    a{iters+1} — shared by the cluster-profile oracle and every downstream
    oracle that consumes kmeans assignments (e.g. cluster labeling)."""
    sql = [
        f"""
WITH pts AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS q
  FROM embeddings
), seeds AS (
  SELECT vec_id, q,
         ROW_NUMBER() OVER (ORDER BY (vec_id * 2654435761) % 2147483647, vec_id) - 1 AS cid
  FROM pts
), c0 AS (
  SELECT cid, q AS c FROM seeds WHERE cid < {k}
)"""
    ]
    for r in range(1, iters + 2):  # iters updates + 1 final assignment
        sql.append(
            f""", d{r} AS (
  SELECT p.vec_id, c.cid,
         CAST(list_sum(list_transform(range({dim}),
           i -> (p.q[i+1] - c.c[i+1]) * (p.q[i+1] - c.c[i+1]))) AS BIGINT) AS d
  FROM pts p CROSS JOIN c{r - 1} c
), a{r} AS (
  SELECT vec_id, cid, d FROM (
    SELECT vec_id, cid, d,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
    FROM d{r}
  ) WHERE rk = 1
)"""
        )
        if r <= iters:
            sql.append(
                f""", cell{r} AS (
  SELECT a.cid, r.i AS pos, CAST(SUM(p.q[r.i + 1]) AS BIGINT) AS s, COUNT(*) AS n
  FROM a{r} a JOIN pts p USING (vec_id) CROSS JOIN range({dim}) r(i)
  GROUP BY 1, 2
), c{r} AS (
  SELECT cid, list(CAST((s - s % n) / n AS BIGINT) ORDER BY pos) AS c
  FROM cell{r} GROUP BY cid
)"""
            )
    return "".join(sql)


def _kmeans_oracle(k: int = 8, iters: int = 2, dim: int = 64, scale: int = 1_000_000) -> str:
    """Unrolled-CTE DuckDB replica of kmeans_fixed (the pagerank_scaled
    oracle pattern): one assignment+update block per round, then a final
    assignment and the per-cluster profile. Every value int64-exact."""
    f = iters + 1
    return (
        _kmeans_chain(k, iters, dim, scale)
        + f""", cstat AS (
  SELECT cid,
         CAST(list_sum(list_transform(c, x -> abs(x))) AS BIGINT) AS centroid_l1,
         CAST(list_sum(list_transform(range({dim}), i -> c[i+1] * (i+1))) AS BIGINT)
           AS centroid_checksum
  FROM c{iters}
)
SELECT a.cid, COUNT(*) AS size, CAST(SUM(a.d) AS BIGINT) AS inertia,
       cs.centroid_l1, cs.centroid_checksum
FROM a{f} a JOIN cstat cs ON cs.cid = a.cid
GROUP BY a.cid, cs.centroid_l1, cs.centroid_checksum
ORDER BY a.cid"""
    )


@register(
    "kmeans_embedding_clusters",
    doc="Fixed-point Lloyd's k-means (operators.clustering.kmeans_fixed, "
    "k=8, 2 update rounds + final assignment, scale 1e6): coordinates "
    "quantized once to int64, integer distances, truncating exact-division "
    "centroid updates, argmin ties on cid — bit-identical on any engine "
    "and partitioning, like pagerank_scaled. Per round: one k*dim-row "
    "broadcast for a map-side assignment (points never shuffle for "
    "assignment) + one (k*dim)-cell combinable sum. Oracle is the unrolled "
    "CTE replica. The corpus partitioner under SemDeDup-style dedup and "
    "cluster-balanced mixing.",
    oracle=_kmeans_oracle(),
)
def kmeans_embedding_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.clustering import kmeans_cluster_profile

    emb = table(spark, sf_dir, "embeddings")
    return kmeans_cluster_profile(emb, dim=64, k=8, iters=2)


def _mmr_oracle(k: int = 8, num: int = 7, den: int = 10, dim: int = 64, scale: int = 1_000_000) -> str:
    """Unrolled greedy MMR trajectory — one winner CTE per round, integer
    cleared-denominator criterion, ties on id (replicates mmr_select)."""
    g = den - num
    dot = (
        f"CAST(list_sum(list_transform(range({dim}), "
        "i -> {a}[i+1] * {b}[i+1])) AS BIGINT)"
    )
    sql = [
        f"""
WITH pts AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS q
  FROM embeddings
), seed AS (
  SELECT vec_id AS qid, q AS qv FROM (
    SELECT vec_id, q,
           ROW_NUMBER() OVER (ORDER BY (vec_id * 2654435761) % 2147483647, vec_id) AS rn
    FROM pts
  ) WHERE rn = 1
), cand AS MATERIALIZED (
  SELECT p.vec_id AS id, p.q,
         {dot.format(a='p.q', b='s.qv')} AS rel
  FROM pts p CROSS JOIN seed s WHERE p.vec_id <> s.qid
), w1 AS MATERIALIZED (
  SELECT id, rel, {num} * rel AS score FROM cand ORDER BY score DESC, id LIMIT 1
)"""
    ]
    for r in range(2, k + 1):
        prev = " UNION ALL ".join(f"SELECT id FROM w{i}" for i in range(1, r))
        sql.append(
            f""", sel{r} AS MATERIALIZED ({prev}), sc{r} AS (
  SELECT c.id, c.rel,
         {num} * c.rel - {g} * MAX({dot.format(a='c.q', b='s.q')}) AS score
  FROM cand c CROSS JOIN cand s
  WHERE s.id IN (SELECT id FROM sel{r}) AND c.id NOT IN (SELECT id FROM sel{r})
  GROUP BY c.id, c.rel
), w{r} AS MATERIALIZED (
  SELECT id, rel, score FROM sc{r} ORDER BY score DESC, id LIMIT 1
)"""
        )
    finals = " UNION ALL ".join(
        f"SELECT {r} AS rank, id AS vec_id, rel, CAST(score AS BIGINT) AS score FROM w{r}"
        for r in range(1, k + 1)
    )
    sql.append(f"\n{finals}\nORDER BY rank")
    return "".join(sql)


@register(
    "mmr_diverse_selection",
    doc="Maximal Marginal Relevance top-8 (operators.clustering.mmr_select; "
    "Carbonell/Goldstein SIGIR'98, lambda=0.7): greedy diversity-aware "
    "subset pick with integer dot-product rel/sim and the denominator "
    "cleared (7*rel - 3*maxsim), so the whole greedy trajectory is exact "
    "and engine-independent. Selected set is O(k) broadcast; candidates "
    "never shuffle; one TakeOrderedAndProject argmax per round. Oracle is "
    "the unrolled 8-round trajectory.",
    oracle=_mmr_oracle(),
)
def mmr_diverse_selection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.clustering import mmr_select

    emb = table(spark, sf_dir, "embeddings")
    return mmr_select(emb, dim=64, k=8, lam=(7, 10))


def _bpe_trajectory(merges: int) -> list[str]:
    """The unrolled BPE training trajectory CTEs (replicates
    operators.bpe.bpe_train): one pair-count + argmax + vocabulary-rewrite
    block per round, ending at v{merges}/best{merges}. Shared by the
    induction oracle and the encode oracle. Reused CTEs materialized
    (see _mmr_oracle)."""
    sql = [
        r"""
WITH v0 AS MATERIALIZED (
  SELECT regexp_replace(w, '(.)', '~\1', 'g') AS sym, CAST(cnt AS BIGINT) AS freq
  FROM (
    SELECT w, COUNT(*) AS cnt FROM (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      FROM documents
    ) GROUP BY 1
  )
)"""
    ]
    for r in range(1, merges + 1):
        sql.append(
            f""", pc{r} AS (
  SELECT a[i + 1] AS pl, a[i + 2] AS pr, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (
    SELECT a, freq, unnest(range(len(a) - 1)) AS i FROM (
      SELECT list_filter(string_split(sym, '~'), s -> s <> '') AS a, freq
      FROM v{r - 1}
    )
  ) GROUP BY 1, 2
), best{r} AS MATERIALIZED (
  SELECT pl, pr, cnt FROM pc{r} ORDER BY cnt DESC, pl, pr LIMIT 1
), v{r} AS MATERIALIZED (
  SELECT replace(sym, '~' || b.pl || '~' || b.pr, '~' || b.pl || b.pr) AS sym, freq
  FROM v{r - 1} CROSS JOIN best{r} b
)"""
        )
    return sql


def _bpe_oracle(merges: int = 6) -> str:
    sql = _bpe_trajectory(merges)
    finals = " UNION ALL ".join(
        f"SELECT {r} AS merge_rank, pl AS left_sym, pr AS right_sym, "
        f"pl || pr AS merged, cnt AS pair_count FROM best{r}"
        for r in range(1, merges + 1)
    )
    sql.append(f"\n{finals}\nORDER BY merge_rank")
    return "".join(sql)


def _bpe_encode_oracle(merges: int = 6) -> str:
    """Training trajectory, then APPLICATION: a parallel rewrite chain that
    carries the original word, so each word maps to its post-merge symbol
    count; per-document counts come from the (doc, word, count) table
    joined on the word (replicates operators.bpe.bpe_encode_counts)."""
    sql = _bpe_trajectory(merges)
    sql.append(
        r""", e0 AS MATERIALIZED (
  SELECT w, regexp_replace(w, '(.)', '~\1', 'g') AS sym FROM (
    SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
    FROM documents
  )
)"""
    )
    for r in range(1, merges + 1):
        sql.append(
            f""", e{r} AS MATERIALIZED (
  SELECT w, replace(sym, '~' || b.pl || '~' || b.pr, '~' || b.pl || b.pr) AS sym
  FROM e{r - 1} CROSS JOIN best{r} b
)"""
        )
    sql.append(
        f"""
, enc AS (
  SELECT w, len(list_filter(string_split(sym, '~'), s -> s <> '')) AS n_sym
  FROM e{merges}
),
dwc AS (
  SELECT doc_id, w, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
    FROM documents
  ) GROUP BY 1, 2
)
SELECT d.doc_id,
       CAST(SUM(d.c) AS BIGINT) AS n_words,
       CAST(SUM(d.c * e.n_sym) AS BIGINT) AS n_bpe_tokens
FROM dwc d JOIN enc e USING (w)
GROUP BY d.doc_id"""
    )
    return "".join(sql)


@register(
    "bpe_merge_induction",
    doc="BPE tokenizer-vocabulary induction (operators.bpe.bpe_train, 6 "
    "merges; Sennrich ACL'16): corpus folded ONCE into the (word, freq) "
    "table, then every round is a combinable pair-count aggregate over the "
    "DISTINCT-WORD vocabulary + a 1-row argmax + a row-local marked-string "
    "merge rewrite — round cost independent of corpus row count, the "
    "word-freq-dict formulation that makes BPE tractable at 100 TB. "
    "Left-to-right non-overlapping replace on the marker representation "
    "IS the greedy merge, identically in Spark and SQL; ties break "
    "lexicographically so the trajectory is exact.",
    oracle=_bpe_oracle(),
)
def bpe_merge_induction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.bpe import bpe_train

    docs = table(spark, sf_dir, "documents")
    return bpe_train(docs, merges=6)


@register(
    "image_dhash_near_dup",
    doc="Perceptual image near-dup via difference hash (operators."
    "multimodal.image_dhash/dhash_dup_groups): deterministic 24-bit BMP "
    "payloads per document — a per-group base pattern plus per-DOCUMENT "
    "byte noise on every pixel OFF the 8x8 sample lattice — decoded "
    "through the real codec, integer-luma dHashed (56 bits), grouped by "
    "hash. Byte-distinct payloads in the same pattern group collide "
    "exactly (the noise invariance that makes dHash a NEAR-dup key, "
    "demonstrated, not asserted); dedup is one combinable hash groupBy — "
    "payloads never shuffle. Oracle recomputes the lattice luma and bit "
    "weights from the same integer formulas.",
    oracle="""
WITH d AS (
  SELECT doc_id, doc_id % 37 AS g,
         16 + (doc_id % 37) % 5 AS w, 16 + (doc_id % 37) % 3 AS h
  FROM documents
), lat AS (
  SELECT doc_id, g, jj.i AS j, ii.i AS i,
         (jj.i * h) // 8 AS ys, (ii.i * w) // 8 AS xs
  FROM d CROSS JOIN range(8) jj(i) CROSS JOIN range(8) ii(i)
), lum AS (
  SELECT doc_id, j, i,
         (g * 11 + ys * 31 + xs * 5) % 256
         + 2 * ((g * 11 + ys * 31 + xs * 5 + 3) % 256)
         + ((g * 11 + ys * 31 + xs * 5 + 6) % 256) AS l
  FROM lat
), bits AS (
  SELECT a.doc_id, a.j, a.i,
         CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS bit
  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
  WHERE a.i < 7
), hashes AS (
  SELECT doc_id,
         CAST(SUM(CAST(bit AS BIGINT) << (j * 7 + i)) AS BIGINT) AS dhash
  FROM bits GROUP BY 1
)
SELECT dhash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM hashes GROUP BY 1
""",
)
def image_dhash_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from milan_spark.operators.multimodal import (
        dhash_dup_groups,
        encode_bmp,
        image_dhash,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                g = did % 37
                w, h = 16 + g % 5, 16 + g % 3
                y = np.arange(h).reshape(h, 1, 1)
                x = np.arange(w).reshape(1, w, 1)
                c = np.arange(3).reshape(1, 1, 3)
                base = (g * 11 + y * 31 + x * 5 + c * 3) % 256
                noise = (did * 13 + y * 7 + x + c) % 256
                # per-document noise everywhere OFF the 8x8 sample lattice:
                # payloads differ byte-for-byte per doc, dHash cannot see it
                on_lat_y = np.isin(np.arange(h), (np.arange(8) * h) // 8)
                on_lat_x = np.isin(np.arange(w), (np.arange(8) * w) // 8)
                lattice = on_lat_y.reshape(h, 1, 1) & on_lat_x.reshape(1, w, 1)
                px = np.where(lattice, base, noise).astype(np.uint8)
                payloads.append(encode_bmp(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    bmp = docs.mapInPandas(synth, "doc_id long, payload binary")
    return dhash_dup_groups(image_dhash(bmp))


def _lpa_oracle(iterations: int = 3) -> str:
    """Unrolled synchronous-LPA replica of operators.graph.label_propagation
    on the co-order part graph (deterministic ties: count desc, label asc)."""
    sql = [
        """
WITH und AS MATERIALIZED (
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
         greatest(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), directed AS MATERIALIZED (
  SELECT u AS n, v AS m FROM und UNION ALL SELECT v AS n, u AS m FROM und
), l0 AS (
  SELECT DISTINCT n, n AS label FROM directed
)"""
    ]
    for r in range(1, iterations + 1):
        sql.append(
            f""", f{r} AS (
  SELECT d.n, l.label, COUNT(*) AS cnt
  FROM directed d JOIN l{r - 1} l ON l.n = d.m
  GROUP BY 1, 2
), l{r} AS MATERIALIZED (
  SELECT n, label FROM (
    SELECT n, label,
           ROW_NUMBER() OVER (PARTITION BY n ORDER BY cnt DESC, label) AS rk
    FROM f{r}
  ) WHERE rk = 1
)"""
        )
    sql.append(f"\nSELECT n AS node, label FROM l{iterations}")
    return "".join(sql)


@register(
    "lpa_communities_coparts",
    doc="Synchronous label-propagation communities (operators.graph."
    "label_propagation, 3 rounds; Raghavan et al. 2007) on the co-order "
    "part graph, with DETERMINISTIC ties (count desc, label asc) so the "
    "trajectory is engine- and partition-exact — the pagerank_scaled/"
    "kmeans_fixed determinism trade. Per round: edge list joins the O(n) "
    "label table (broadcast here via small_graph) + one combinable "
    "(node,label) count + struct-min argmax; the edge list never "
    "re-shuffles. Completes the graph tier: components, PageRank, "
    "triangles, communities.",
    oracle=_lpa_oracle(),
)
def lpa_communities_coparts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.graph import label_propagation

    return label_propagation(_copart_pairs(spark, sf_dir), iterations=3, small_graph=True)


@register(
    "bpe_encode_tokens",
    doc="BPE tokenizer APPLICATION (operators.bpe.bpe_encode_counts): train "
    "6 merges, then encode the corpus — per-document word and BPE-token "
    "counts, the numbers a token budget is planned with. The distinct-word "
    "vocabulary is encoded once through the O(M) replace chain (model-"
    "sized, row-local), then joins the combinable (doc, word, count) "
    "table keyed on the word; integer-exact end to end. The oracle "
    "replays the same trajectory with a word-carrying rewrite chain.",
    oracle=_bpe_encode_oracle(),
)
def bpe_encode_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.bpe import bpe_encode_counts, bpe_train

    docs = table(spark, sf_dir, "documents")
    rules = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_train(docs, merges=6).collect()
    ]
    return bpe_encode_counts(docs, rules)


@register(
    "bfs_hops_coparts",
    doc="Frontier BFS (operators.graph.bfs_levels): hop distance from the "
    "smallest part in the co-order part graph, 6 levels. Each round joins "
    "ONLY the newly-reached frontier against the persisted edge list "
    "(O(frontier-adjacent edges) per level, never a full-table "
    "propagation), admits first-time nodes via one anti-join, and "
    "truncates lineage. Levels are exact ints — deterministic under any "
    "partitioning. Oracle: DuckDB WITH RECURSIVE, an independent "
    "implementation of shortest-hop search.",
    oracle="""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
         greatest(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), e AS (
  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
), src AS (SELECT MIN(u) AS s FROM e),
bfs(n, d) AS (
  SELECT s, 0 FROM src
  UNION
  SELECT e.v, bfs.d + 1 FROM bfs JOIN e ON e.u = bfs.n WHERE bfs.d < 6
)
SELECT CAST(n AS BIGINT) AS node, CAST(MIN(d) AS INT) AS dist
FROM bfs GROUP BY n
""",
)
def bfs_hops_coparts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.graph import bfs_levels

    pairs = _copart_pairs(spark, sf_dir).persist()
    source = pairs.agg(F.min(F.least("src", "dst"))).first()[0]
    return bfs_levels(pairs, source, a_col="src", b_col="dst", iterations=6).select(
        F.col("n").alias("node"), "dist"
    )


@register(
    "bfs_levels_cycle_ir",
    doc="Iteration as a PORTABLE PLAN NODE (the reference serializes cycles "
    "in its IR and the Flink compiler builds the feedback edge from the "
    "deserialized node - StreamExpressions.scala:141, GeneratorContext."
    "scala:349-357, TestFlinkGenCycle.scala): BFS hop levels on the "
    "co-order part graph expressed as a cycle(initial, body) node - body = "
    "state >< cached edges -> level+1 -> union -> min(level) - built as raw "
    "IR, round-tripped through JSON, and compiled by the batch backend's "
    "driver fixpoint (localCheckpoint per round; the edge subtree sits "
    "under a cache node so it materializes once, and AQE broadcasts the "
    "O(reached)-row state side of each round's join at runtime). The "
    "hand-tuned frontier-delta bfs_hops_coparts remains the 100 TB shape; "
    "this is the IR-portability twin: same answer FROM A JSON DOCUMENT. "
    "The streaming compiler rejects the same node by name, matching the "
    "reference's event compiler (EventHandlerClassGenerator.scala:23).",
    oracle="""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
         greatest(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), e AS (
  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
), src AS (SELECT MIN(u) AS s FROM e),
bfs(n, d) AS (
  SELECT s, 0 FROM src
  UNION
  SELECT e.v, bfs.d + 1 FROM bfs JOIN e ON e.u = bfs.n WHERE bfs.d < 6
)
SELECT CAST(n AS BIGINT) AS node, CAST(MIN(d) AS INT) AS level
FROM bfs GROUP BY n
""",
)
def bfs_levels_cycle_ir_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.plans.nodes import Node, compile_node, from_json, to_json

    pair_expr = (
        "explode(flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps)), "
        "y -> struct(least(x, y) AS u, greatest(x, y) AS v))))) AS p"
    )
    li = Node(
        "map",
        {"exprs": ["l_orderkey", "l_partkey"]},
        [Node("parquet_source", {"path": f"{sf_dir}/lineitem.parquet"})],
    )
    grouped = Node(
        "aggregate",
        {"keys": ["l_orderkey"], "aggs": {"ps": "collect_set(l_partkey)"}},
        [li],
    )
    pairs = Node(
        "distinct",
        {"subset": None},
        [Node("map", {"exprs": ["p.u AS u", "p.v AS v"]},
              [Node("map", {"exprs": [pair_expr]}, [grouped])])],
    )
    edges = Node(
        "cache",
        {},
        [Node("union", {}, [
            Node("map", {"exprs": ["u", "v"]}, [pairs]),
            Node("map", {"exprs": ["v AS u", "u AS v"]}, [pairs]),
        ])],
    )
    seed = Node(
        "map",
        {"exprs": ["node", "CAST(0 AS INT) AS level"]},
        [Node("aggregate", {"keys": [], "aggs": {"node": "min(u)"}}, [edges])],
    )
    by_node = Node("map", {"exprs": ["u AS node", "v"]}, [edges])
    state = Node("cycle_ref")
    body = Node(
        "aggregate",
        {"keys": ["node"], "aggs": {"level": "min(level)"}},
        [Node("union", {}, [
            state,
            Node("map", {"exprs": ["v AS node", "level + 1 AS level"]},
                 [Node("relational_join", {"on": ["node"], "how": "inner"},
                       [state, by_node])]),
        ])],
    )
    # grow-only state (union + min-agg): unchanged count IS the fixpoint
    plan = Node("cycle", {"max_iterations": 6, "converge": "unchanged_count"}, [seed, body])
    return compile_node(from_json(to_json(plan)), spark)


@register(
    "hybrid_rrf_retrieval",
    doc="Hybrid retrieval via reciprocal-rank fusion (operators.retrieval."
    "jaccard_topk + operators.similarity.ann_brute_force fused by "
    "operators.retrieval.rrf_fuse, k=60; Cormack et al. SIGIR'09): for 5 "
    "query documents, the sparse leg ranks by distinct-token Jaccard "
    "(doc length rides each token row — no corpus-sized length join; "
    "query vocabulary broadcast so only matches shuffle) and the dense "
    "leg by exact-integer cosine over the embeddings; fusion is a "
    "full-outer join of the two top-20 lists — O(queries x rank budget) "
    "however large the corpus — scored 1/(60+rank) per list. Exact-int "
    "ratios and fixed tie-breaks make every rank engine-exact.",
    oracle=f"""
WITH tok_base AS (
  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ts
  FROM documents
), toks AS (
  SELECT doc_id, len(ts) AS sz, unnest(ts) AS token FROM tok_base
), inter AS (
  SELECT q.doc_id AS query_id, c.doc_id AS item_id, COUNT(*) AS inter,
         MIN(q.sz) AS q_sz, MIN(c.sz) AS c_sz
  FROM toks q JOIN toks c ON q.token = c.token AND q.doc_id < 5 AND c.doc_id <> q.doc_id
  GROUP BY 1, 2
), sparse AS (
  SELECT query_id, item_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY CAST(inter AS DOUBLE) / (q_sz + c_sz - inter) DESC, item_id) AS INT)
           AS sparse_rank
  FROM inter
  QUALIFY sparse_rank <= 20
), qv AS (
  SELECT vec_id, {_SQL_QUANT_MINING} AS v FROM embeddings
), ex AS (
  SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM qv
), norms AS (
  SELECT vec_id, SUM(x * x) AS nn FROM ex GROUP BY 1
), pairs AS (
  SELECT qa.vec_id AS query_id, ca.vec_id AS item_id, SUM(qa.x * ca.x) AS dot
  FROM ex qa JOIN ex ca ON qa.i = ca.i AND qa.vec_id < 5 AND ca.vec_id != qa.vec_id
  GROUP BY 1, 2
), dense AS (
  SELECT query_id, item_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY dot / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nc.nn AS DOUBLE))) DESC,
                    item_id) AS INT) AS dense_rank
  FROM pairs JOIN norms nq ON query_id = nq.vec_id JOIN norms nc ON item_id = nc.vec_id
  QUALIFY dense_rank <= 20
), fused AS (
  SELECT coalesce(s.query_id, d.query_id) AS query_id,
         coalesce(s.item_id, d.item_id) AS item_id,
         s.sparse_rank, d.dense_rank,
         coalesce(1.0e0 / (60e0 + s.sparse_rank), 0.0e0)
           + coalesce(1.0e0 / (60e0 + d.dense_rank), 0.0e0) AS rrf
  FROM sparse s FULL JOIN dense d ON s.query_id = d.query_id AND s.item_id = d.item_id
)
SELECT query_id, item_id, sparse_rank, dense_rank, round(rrf, 6) AS rrf_score,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, item_id) AS INT)
         AS fused_rank
FROM fused
QUALIFY fused_rank <= 10
""",
)
def hybrid_rrf_retrieval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.retrieval import jaccard_topk, rrf_fuse
    from milan_spark.operators.similarity import ann_brute_force

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    sparse = jaccard_topk(docs, range(5), top_n=20)
    dense = ann_brute_force(
        emb, "vec_id", "embedding", query_ids=range(5), k=20
    ).select("query_id", F.col("neighbor_id").alias("item_id"), "rank")
    return rrf_fuse({"sparse": sparse, "dense": dense}, k=60, top_n=10)


def _sssp_oracle(rounds: int) -> str:
    """Unrolled Bellman-Ford (AS MATERIALIZED so DuckDB evaluates each
    relaxation round once — inlined CTEs re-evaluate exponentially)."""
    sql = [
        """
WITH ord_pairs AS MATERIALIZED (
  SELECT DISTINCT a.l_orderkey AS ok, least(a.l_partkey, b.l_partkey) AS u,
         greatest(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), wpairs AS MATERIALIZED (
  SELECT u, v, COUNT(*) AS w FROM ord_pairs GROUP BY 1, 2
), e AS MATERIALIZED (
  SELECT u, v, w FROM wpairs UNION ALL SELECT v AS u, u AS v, w FROM wpairs
), d0 AS MATERIALIZED (
  SELECT MIN(u) AS node, CAST(0 AS BIGINT) AS dist FROM e
)"""
    ]
    for r in range(1, rounds + 1):
        sql.append(
            f""", d{r} AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{r - 1}
    UNION ALL
    SELECT e.v AS node, d.dist + e.w AS dist
    FROM d{r - 1} d JOIN e ON e.u = d.node
  ) GROUP BY 1
)"""
        )
    sql.append(f"\nSELECT node, dist FROM d{rounds}")
    return "".join(sql)


@register(
    "sssp_weighted_cycle_ir",
    doc="Weighted single-source shortest paths (Bellman-Ford, 6 relaxation "
    "rounds) expressed AS A PORTABLE CYCLE NODE like bfs_levels_cycle_ir "
    "(the reference serializes cycles in its IR - StreamExpressions.scala"
    ":141, GeneratorContext.scala:349-357): edge weight = co-order count "
    "of the part pair (exact int), state = (node, best dist), body = "
    "state >< cached weighted edges -> dist+w -> union -> min. Built as "
    "raw IR, JSON round-tripped, compiled by the batch backend's driver "
    "fixpoint (localCheckpoint per round, edges cached once). Fixed "
    "round-count truncation on BOTH sides makes the trajectory exact: "
    "integer distances, min-fold determinism under any partitioning. "
    "The body is the FRONTIER-DELTA form, in the IR itself: state carries "
    "a changed flag, only changed nodes join the edge cache each round "
    "(round r relaxation is a no-op for nodes whose dist round r-1 kept), "
    "and the flag is recomputed by one min(struct(dist, flag)) aggregate "
    "whose tie-break prefers the OLD row — so after R rounds the dists "
    "equal plain Bellman-Ford's (both explore exactly <=R-edge paths) and "
    "the oracle stays the simple unrolled relaxation. Measured 1.2x at "
    "sf0.1 (9.1 -> 7.3 s warm; this graph reaches ~everything by round 2, "
    "so the min-aggregate still carries full state — the delta join-side "
    "saving is what grows with diameter and scale; see SCALE.md).",
    oracle=_sssp_oracle(6),
)
def sssp_weighted_cycle_ir_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.plans.nodes import Node, compile_node, from_json, to_json

    pair_expr = (
        "explode(flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps)), "
        "y -> struct(least(x, y) AS u, greatest(x, y) AS v))))) AS p"
    )
    li = Node(
        "map",
        {"exprs": ["l_orderkey", "l_partkey"]},
        [Node("parquet_source", {"path": f"{sf_dir}/lineitem.parquet"})],
    )
    grouped = Node(
        "aggregate",
        {"keys": ["l_orderkey"], "aggs": {"ps": "collect_set(l_partkey)"}},
        [li],
    )
    wpairs = Node(
        "aggregate",
        {"keys": ["p.u AS u", "p.v AS v"], "aggs": {"w": "count(1)"}},
        [Node("map", {"exprs": [pair_expr]}, [grouped])],
    )
    edges = Node(
        "cache",
        {},
        [Node("union", {}, [
            Node("map", {"exprs": ["u", "v", "w"]}, [wpairs]),
            Node("map", {"exprs": ["v AS u", "u AS v", "w"]}, [wpairs]),
        ])],
    )
    seed = Node(
        "map",
        {"exprs": ["node", "CAST(0 AS BIGINT) AS dist", "CAST(1 AS INT) AS changed"]},
        [Node("aggregate", {"keys": [], "aggs": {"node": "min(u)"}}, [edges])],
    )
    by_node = Node("map", {"exprs": ["u AS node", "v", "w"]}, [edges])
    state = Node("cycle_ref")
    # delta relaxation: only last round's improved nodes probe the edges
    relax = Node(
        "map",
        {"exprs": ["v AS node", "dist + w AS dist", "CAST(1 AS INT) AS flag"]},
        [Node("relational_join", {"on": ["node"], "how": "inner"}, [
            Node("map", {"exprs": ["node", "dist"]},
                 [Node("filter", {"condition": "changed = 1"}, [state])]),
            by_node,
        ])],
    )
    old = Node("map", {"exprs": ["node", "dist", "CAST(0 AS INT) AS flag"]}, [state])
    # min(struct(dist, flag)): smallest dist wins; a TIE keeps flag=0 (the
    # old row), so changed=1 exactly when a candidate strictly improved —
    # the Bellman-Ford delta invariant
    body = Node(
        "map",
        {"exprs": ["node", "s.dist AS dist", "s.flag AS changed"]},
        [Node(
            "aggregate",
            {"keys": ["node"], "aggs": {"s": "min(struct(dist, flag))"}},
            [Node("union", {}, [old, relax])],
        )],
    )
    plan = Node(
        "map",
        {"exprs": ["node", "dist"]},
        [Node("cycle", {"max_iterations": 6, "planner": "static"}, [seed, body])],
    )
    return compile_node(from_json(to_json(plan)), spark)


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled synchronous k-core peeling (AS MATERIALIZED per round —
    inlined CTEs re-evaluate exponentially, see the LPA/SSSP oracles)."""
    sql = [
        """
WITH ord_pairs AS MATERIALIZED (
  SELECT DISTINCT a.l_orderkey AS ok, least(a.l_partkey, b.l_partkey) AS u,
         greatest(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), wpairs AS MATERIALIZED (
  SELECT u, v FROM ord_pairs GROUP BY u, v HAVING COUNT(*) >= 2
), e0 AS MATERIALIZED (
  SELECT u, v FROM wpairs UNION ALL SELECT v AS u, u AS v FROM wpairs
)"""
    ]
    for r in range(1, rounds + 1):
        sql.append(
            f""", dg{r} AS (
  SELECT u, COUNT(*) AS deg FROM e{r - 1} GROUP BY 1
), a{r} AS MATERIALIZED (
  SELECT u FROM dg{r} WHERE deg >= {k}
), e{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r - 1} e
  JOIN a{r} x ON e.u = x.u JOIN a{r} y ON e.v = y.u
)"""
        )
    sql.append(
        f"\nSELECT u AS node, COUNT(*) AS core_deg FROM e{rounds} GROUP BY 1"
    )
    return "".join(sql)


@register(
    "kcore_strong_coparts",
    doc="k-core decomposition by bounded synchronous peeling (operators."
    "graph.kcore, k=3, 8 rounds; Matula/Beck 1983) over the STRONG co-order "
    "part graph (pairs co-ordered >= 2 times — the raw copart graph is "
    "denser than any interesting core, so the weight threshold plays the "
    "role edge significance filters play in production co-occurrence "
    "mining). Per round: one combinable degree aggregate + two semi-joins "
    "of the monotonically-shrinking edge list against the survivors; "
    "lineage truncated per round. Fixed round-count truncation on BOTH "
    "sides makes the trajectory engine-exact (peeling is a pure set "
    "function of the previous round; the first round that removes no edge "
    "ends the loop, since every later round would be a no-op). "
    "Output: surviving nodes with their in-core degree, exact ints.",
    oracle=_kcore_oracle(3, 8),
)
def kcore_strong_coparts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.graph import kcore

    strong = (
        _copart_pairs(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    return kcore(strong, k=3, rounds=8)


@register(
    "feature_hash_bow",
    doc="Hashing-trick bag-of-words vectorizer (operators.text."
    "feature_hash_bow, 64 signed buckets; Weinberger et al. ICML'09): "
    "per-document sparse feature vectors with NO vocabulary build — "
    "bucket from the XOR-mixed char folds, ±1 sign from the second "
    "fold's parity keeping collision noise zero-mean. One narrow "
    "explode + one combinable (doc, bucket) sum; nothing "
    "vocabulary-sized ever exists, the property that matters when the "
    "corpus vocabulary is unbounded at 100 TB. Integer-exact.",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents
), hashed AS (
  SELECT doc_id,
         CAST(xor(
           list_reduce(list_transform(regexp_extract_all(token, '.'),
             c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 31 + c) % 2147483647),
           (list_reduce(list_transform(regexp_extract_all(token, '.'),
             c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 131 + c) % 2147483647)
            * 65537) % 2147483647
         ) % 64 AS INT) AS bucket,
         CASE WHEN list_reduce(list_transform(regexp_extract_all(token, '.'),
             c -> CAST(ascii(c) AS BIGINT)), (a, c) -> (a * 131 + c) % 2147483647)
             % 2 = 0 THEN 1 ELSE -1 END AS sign
  FROM toks
)
SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS weight
FROM hashed GROUP BY 1, 2
""",
)
def feature_hash_bow_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.text import feature_hash_bow

    return feature_hash_bow(table(spark, sf_dir, "documents"), n_buckets=64)


@register(
    "jl_projection_neighbors",
    doc="Dimensionality-reduced neighbor search (operators.similarity."
    "random_projection, 64 -> 16 dims; Achlioptas JCSS 2003 sign-JL): "
    "exact top-5 cosine in the PROJECTED space for 10 queries — the "
    "standard pre-ANN shrink that cuts index memory 4x. The ±1 matrix is "
    "a fixed integer-grid formula (no model to broadcast, the projection "
    "is a narrow per-row map), and projected vectors stay exact int64, "
    "so dots/norms/ranks are engine-exact like every similarity oracle.",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_SQL_QUANT_MINING} AS v FROM embeddings
), ex AS (
  SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM q
), planes AS (
  SELECT p.p AS p, d.d AS d,
         CASE WHEN ((p.p + 1) * 73856093 + (d.d + 1) * 19349663) % 2000003
                   - 1000001 >= 0 THEN 1 ELSE -1 END AS s
  FROM range(16) p(p), range(64) d(d)
), proj AS (
  SELECT e.vec_id, pl.p, SUM(e.x * pl.s) AS y
  FROM ex e JOIN planes pl ON e.i = pl.d + 1
  GROUP BY 1, 2
), norms AS (
  SELECT vec_id, SUM(y * y) AS nn FROM proj GROUP BY 1
), pairs AS (
  SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id, SUM(qa.y * ca.y) AS dot
  FROM proj qa JOIN proj ca ON qa.p = ca.p AND qa.vec_id < 10 AND ca.vec_id != qa.vec_id
  GROUP BY 1, 2
), scored AS (
  SELECT query_id, neighbor_id,
         dot / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nc.nn AS DOUBLE))) AS pcos
  FROM pairs JOIN norms nq ON query_id = nq.vec_id JOIN norms nc ON neighbor_id = nc.vec_id
)
SELECT query_id, neighbor_id, rank, round(pcos, 6) AS pcos
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pcos DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= 5
""",
)
def jl_projection_neighbors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from milan_spark.operators.similarity import (
        cosine_prenormed,
        int_norm2,
        random_projection,
    )

    emb = table(spark, sf_dir, "embeddings")
    proj = random_projection(emb, "vec_id", "embedding", out_dim=16, in_dim=64)
    # squared norm once per PROJECTED vector: the per-pair cosine then folds
    # one 16-wide dot instead of dot + two norms (the corpus norm was
    # recomputed once per query, the query norm once per corpus row)
    pn = proj.withColumn("__n2", int_norm2(F.col("proj")))
    q = pn.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("proj").alias("__qv"),
        F.col("__n2").alias("__qn2"),
    )
    c = pn.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("proj").alias("__cv"),
        F.col("__n2").alias("__cn2"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "pcos",
            cosine_prenormed(
                F.col("__qv"), F.col("__cv"), F.col("__qn2"), F.col("__cn2")
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("pcos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", F.round("pcos", 6).alias("pcos"))
    )


def _ktruss_oracle(k: int, rounds: int) -> str:
    """Unrolled k-truss peeling over the raw co-order part graph (AS
    MATERIALIZED per round). The oracle enumerates triangles by canonical
    id order (x<y<z triple join) — the engine enumerates degree-ordered;
    the triangle SET and per-edge support are orientation-independent, so
    the two formulations must agree exactly."""
    sql = [
        """
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
         greatest(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""
    ]
    for r in range(1, rounds + 1):
        sql.append(
            f""", tri{r} AS (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM e{r - 1} a JOIN e{r - 1} b ON b.u = a.v
  JOIN e{r - 1} c ON c.u = a.u AND c.v = b.v
), sup{r} AS MATERIALIZED (
  SELECT u, v, COUNT(*) AS sup FROM (
    SELECT x AS u, y AS v FROM tri{r}
    UNION ALL SELECT y AS u, z AS v FROM tri{r}
    UNION ALL SELECT x AS u, z AS v FROM tri{r}
  ) GROUP BY 1, 2
), e{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r - 1} e
  JOIN sup{r} s ON e.u = s.u AND e.v = s.v AND s.sup >= {k - 2}
)"""
        )
    R = rounds
    sql.append(
        f""", trif AS (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM e{R} a JOIN e{R} b ON b.u = a.v
  JOIN e{R} c ON c.u = a.u AND c.v = b.v
), supf AS (
  SELECT u, v, COUNT(*) AS sup FROM (
    SELECT x AS u, y AS v FROM trif
    UNION ALL SELECT y AS u, z AS v FROM trif
    UNION ALL SELECT x AS u, z AS v FROM trif
  ) GROUP BY 1, 2
)
SELECT e.u, e.v, CAST(coalesce(s.sup, 0) AS BIGINT) AS support
FROM e{R} e LEFT JOIN supf s ON e.u = s.u AND e.v = s.v"""
    )
    return "".join(sql)


@register(
    "ktruss_coparts",
    doc="Bounded 12-truss peeling (operators.graph.ktruss, 4 rounds; Cohen "
    "2008) on the raw co-order part graph: each round deletes edges in "
    "fewer than 10 triangles — the edge-cohesion analog of kcore_strong_"
    "coparts, completing the dense-subgraph family (components, "
    "PageRank, triangles, communities, BFS/SSSP, core, truss). Support "
    "enumeration reuses triangle_count's degree-ordered O(m^1.5) shape "
    "with row-local array_intersect, exploded only to O(triangles) "
    "credit rows -> one combinable (u, v) count. A round that peels no "
    "edge ends the loop and returns its own checkpointed support, so the "
    "final action is a scan: at sf0.001 (8,899 edges, none peeled) that "
    "is round 1. At sf0.01 the cascade is 115,729 -> 69,588 -> 22,275 -> "
    "2,565 -> 1,127 edges, so all 4 rounds peel and the round cap "
    "recomputes support on the last edge set; that set is the true "
    "12-truss (a 5th round would be a no-op). Oracle enumerates triangles "
    "by id order instead of degree order — support is orientation-"
    "independent, two formulations, one answer.",
    oracle=_ktruss_oracle(12, 4),
)
def ktruss_coparts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.graph import ktruss

    return ktruss(_copart_pairs(spark, sf_dir), k=12, rounds=4)


@register(
    "kcore_cycle_ir",
    doc="k-core peeling AS A PORTABLE PLAN (the third cycle-node program, "
    "after BFS and delta-SSSP, and the first whose body references the "
    "state THREE times and uses the IR's semi-join dispatch): state = the "
    "directed strong-copart edge set; body = degree aggregate -> filter "
    ">= k -> two left_semi relational_joins of the state against the "
    "survivors (one per endpoint). Built as raw IR, JSON round-tripped, "
    "compiled by the batch backend's driver fixpoint. Same k=3 / 8-round "
    "truncation and SAME ORACLE as kcore_strong_coparts (operators.graph."
    "kcore) — the DSL operator and the deserialized plan must produce "
    "identical cores, the portability property the reference's serialized "
    "cycles guarantee (StreamExpressions.scala:141).",
    oracle=_kcore_oracle(3, 8),
)
def kcore_cycle_ir_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.plans.nodes import Node, compile_node, from_json, to_json

    pair_expr = (
        "explode(flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps)), "
        "y -> struct(least(x, y) AS u, greatest(x, y) AS v))))) AS p"
    )
    li = Node(
        "map",
        {"exprs": ["l_orderkey", "l_partkey"]},
        [Node("parquet_source", {"path": f"{sf_dir}/lineitem.parquet"})],
    )
    grouped = Node(
        "aggregate",
        {"keys": ["l_orderkey"], "aggs": {"ps": "collect_set(l_partkey)"}},
        [li],
    )
    strong = Node(
        "filter",
        {"condition": "w >= 2"},
        [Node(
            "aggregate",
            {"keys": ["p.u AS u", "p.v AS v"], "aggs": {"w": "count(1)"}},
            [Node("map", {"exprs": [pair_expr]}, [grouped])],
        )],
    )
    seed = Node("union", {}, [
        Node("map", {"exprs": ["u", "v"]}, [strong]),
        Node("map", {"exprs": ["v AS u", "u AS v"]}, [strong]),
    ])
    state = Node("cycle_ref")
    alive = Node(
        "filter",
        {"condition": "deg >= 3"},
        [Node("aggregate", {"keys": ["u"], "aggs": {"deg": "count(1)"}}, [state])],
    )
    alive_u = Node("map", {"exprs": ["u"]}, [alive])
    alive_v = Node("map", {"exprs": ["u AS v"]}, [alive])
    body = Node(
        "relational_join",
        {"on": ["v"], "how": "left_semi"},
        [Node("relational_join", {"on": ["u"], "how": "left_semi"},
              [state, alive_u]),
         alive_v],
    )
    plan = Node(
        "aggregate",
        {"keys": ["u AS node"], "aggs": {"core_deg": "count(1)"}},
        # shrink-only peel: an unchanged edge count means no node fell below k
        [Node("cycle", {"max_iterations": 8, "converge": "unchanged_count"}, [seed, body])],
    )
    return compile_node(from_json(to_json(plan)), spark)


@register(
    "scc_cycle_ir",
    doc="Strongly connected components AS A PORTABLE PLAN — the fourth "
    "cycle-node program (after BFS, delta-SSSP, k-core): state = the "
    "reachability pair set seeded with the thinned nation-trade edges; "
    "body = distinct(state ∪ project(state ⋈ edges)) — naive transitive "
    "closure, one hop per round (the semi-naive delta form is the DSL "
    "operator's optimization; the IR program trades it for a body with a "
    "single state reference). The edge subtree sits under a cache node so "
    "it compiles once outside the loop. Post-cycle: mutual reach is one "
    "left_semi join of the closure against its own transpose, then a "
    "combinable min. Built as raw IR, JSON round-tripped, compiled by the "
    "batch backend's driver fixpoint — SAME ORACLE as scc_nation_trade "
    "(the DSL twin): a deserialized plan must produce identical "
    "components, the portability property the reference's serialized "
    "cycles guarantee (StreamExpressions.scala:141).",
    oracle=None,  # set below: shares scc_nation_trade's oracle verbatim
)
def scc_cycle_ir_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.plans.nodes import Node, compile_node, from_json, to_json

    def src(t, exprs):
        return Node(
            "map",
            {"exprs": exprs},
            [Node("parquet_source", {"path": f"{sf_dir}/{t}.parquet"})],
        )

    li = src("lineitem", ["l_orderkey", "l_suppkey"])
    orders = src("orders", ["o_orderkey AS l_orderkey", "o_custkey"])
    cust = src("customer", ["c_custkey AS o_custkey", "c_nationkey"])
    supp = src("supplier", ["s_suppkey AS l_suppkey", "s_nationkey"])
    joined = Node(
        "relational_join",
        {"on": ["l_suppkey"]},
        [
            Node(
                "relational_join",
                {"on": ["o_custkey"]},
                [Node("relational_join", {"on": ["l_orderkey"]}, [li, orders]), cust],
            ),
            supp,
        ],
    )
    pairs = Node(
        "aggregate",
        {
            "keys": [
                "CAST(s_nationkey AS BIGINT) AS u",
                "CAST(c_nationkey AS BIGINT) AS v",
            ],
            "aggs": {"cnt": "count(1)"},
        },
        [Node("filter", {"condition": "s_nationkey <> c_nationkey"}, [joined])],
    )
    tot = Node(
        "map",
        {"exprs": ["k", "CAST(t AS BIGINT) AS t", "ne"]},
        [Node(
            "aggregate",
            {"keys": ["1 AS k"], "aggs": {"t": "sum(cnt)", "ne": "count(1)"}},
            [pairs],
        )],
    )
    edges = Node("cache", {}, [Node(
        "map",
        {"exprs": ["u", "v"]},
        [Node(
            "filter",
            {"condition": "cnt * ne * 100 > t * 125"},
            [Node(
                "relational_join",
                {"on": ["k"]},
                [Node("map", {"exprs": ["u", "v", "cnt", "1 AS k"]}, [pairs]), tot],
            )],
        )],
    )])
    state = Node("cycle_ref")
    step = Node(
        "map",
        {"exprs": ["u", "v"]},
        [Node(
            "filter",
            {"condition": "u <> v"},
            [Node(
                "relational_join",
                {"on": ["m"]},
                [
                    Node("map", {"exprs": ["u", "v AS m"]}, [state]),
                    Node("map", {"exprs": ["u AS m", "v"]}, [edges]),
                ],
            )],
        )],
    )
    body = Node("distinct", {}, [Node("union", {}, [state, step])])
    # grow-only distinct pair closure: unchanged count = transitive fixpoint
    reach = Node("cycle", {"max_iterations": 12, "converge": "unchanged_count"}, [edges, body])
    transpose = Node("map", {"exprs": ["v AS u", "u AS v"]}, [reach])
    mutual = Node(
        "map",
        {"exprs": ["u AS node", "v AS peer"]},
        [Node("relational_join", {"on": ["u", "v"], "how": "left_semi"},
              [reach, transpose])],
    )
    nodes = Node("distinct", {}, [Node("union", {}, [
        Node("map", {"exprs": ["u AS node"]}, [edges]),
        Node("map", {"exprs": ["v AS node"]}, [edges]),
    ])])
    plan = Node(
        "aggregate",
        {"keys": ["node"], "aggs": {
            "scc_id": "CAST(min(least(node, coalesce(peer, node))) AS BIGINT)"
        }},
        [Node("relational_join", {"on": ["node"], "how": "left"}, [nodes, mutual])],
    )
    return compile_node(from_json(to_json(plan)), spark)


def _borrow_scc_oracle():
    from milan_spark.catalog import REGISTRY
    from milan_spark.queries import advanced as _advanced  # noqa: F401 — registers the DSL twin

    REGISTRY["scc_cycle_ir"].oracle = REGISTRY["scc_nation_trade"].oracle


_borrow_scc_oracle()


@register(
    "negative_edge_samples",
    doc="Negative sampling for link-prediction training (the graph-ML twin "
    "of hard_negative_mining): for every supplier, k=4 pseudo-random "
    "customer candidates generated by a deterministic integer hash — "
    "(u·2654435761 + i·40503) mod 1000003 mod n_cust, exploiting the "
    "contiguous 0..n-1 customer key space — then one left_anti join "
    "removes true fulfillment edges. Generation is O(nodes·k) fan-out, "
    "NEVER the O(N²) non-edge universe; the anti-join is the only "
    "shuffle. Collisions (a sampled pair that IS an edge) are dropped, "
    "not resampled — the standard negative-sampling simplification, "
    "stated so the oracle matches by definition.",
    oracle="""
WITH n_c AS (SELECT COUNT(*) AS n FROM customer),
gen AS (
  SELECT s.s_suppkey AS src,
         ((s.s_suppkey * 2654435761 + i.i * 40503) % 1000003) % (SELECT n FROM n_c) AS dst,
         i.i AS sample_i
  FROM supplier s, range(4) i(i)
), e AS (
  SELECT DISTINCT l.l_suppkey AS src, o.o_custkey AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT g.src, CAST(g.dst AS BIGINT) AS dst, CAST(g.sample_i AS BIGINT) AS sample_i
FROM gen g LEFT JOIN e ON g.src = e.src AND g.dst = e.dst
WHERE e.src IS NULL
""",
)
def negative_edge_samples_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    supp = table(spark, sf_dir, "supplier")
    cust = table(spark, sf_dir, "customer")
    n_c = cust.agg(F.count(F.lit(1)).alias("n"))
    gen = (
        supp.select(F.col("s_suppkey").alias("src"))
        .crossJoin(F.broadcast(n_c))
        .select(
            "src",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("sample_i"),
            "n",
        )
        .select(
            "src",
            (
                (F.col("src") * F.lit(2654435761) + F.col("sample_i") * F.lit(40503))
                % F.lit(1000003)
                % F.col("n")
            )
            .cast("long")
            .alias("dst"),
            F.col("sample_i").cast("long").alias("sample_i"),
        )
    )
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst")
    )
    return gen.join(edges, ["src", "dst"], "left_anti")


@register(
    "random_walk_corpus",
    doc="DeepWalk-style random-walk corpus (operators.graph.random_walks, "
    "Perozzi KDD'14): 2 walks x 4 steps from every node of the symmetric "
    "supplier<->customer fulfillment graph (customer ids offset by 10^6 to "
    "keep the entity spaces disjoint), emitted as (walk_id, step, node) "
    "skip-gram training rows. Next hop = H(walk_id, step, cur) mod "
    "out-degree over a row_number-indexed adjacency list — deterministic "
    "int64 algebra, so the corpus is bit-identical under any partitioning "
    "and the oracle (DuckDB WITH RECURSIVE) replays it exactly. Plan: the "
    "neighbor index is built once (one window exchange, persisted); each "
    "step shuffles only the O(#walks) frontier through two equi-joins "
    "(position computed BEFORE the adjacency join — no neighbor fan-out).",
    oracle="""
WITH RECURSIVE fwd AS (
  SELECT DISTINCT l.l_suppkey AS src, o.o_custkey + 1000000 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), e AS (
  SELECT src, dst FROM fwd UNION SELECT dst AS src, src AS dst FROM fwd
), adj AS (
  SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS pos FROM e
), deg AS (
  SELECT src, COUNT(*) AS deg FROM e GROUP BY src
), walks(walk_id, step, node) AS (
  SELECT CAST(src * 2 + w AS BIGINT), CAST(0 AS INTEGER), CAST(src AS BIGINT)
  FROM deg, (SELECT UNNEST([0, 1]) AS w)
  UNION ALL
  SELECT walks.walk_id, CAST(walks.step + 1 AS INTEGER), CAST(a.dst AS BIGINT)
  FROM walks
  JOIN deg d ON d.src = walks.node
  JOIN adj a ON a.src = walks.node
   AND a.pos = ((walks.walk_id * 1000003 + walks.step * 10007 + walks.node * 31)
                % 2147483647) % d.deg
  WHERE walks.step < 4
)
SELECT walk_id, step, node FROM walks
""",
)
def random_walk_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.graph import random_walks

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    fwd = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("o_custkey") + 1_000_000).cast("long").alias("dst"),
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return random_walks(edges, walks_per_node=2, walk_length=4)


@register(
    "market_basket_rules",
    doc="Association-rule mining at the pair level (operators.association."
    "association_rules — the item-to-item collaborative-filtering input, "
    "Linden IEEE IC'03): parts co-ordered in the same order, support >= 3 "
    "and lift > 3/2 (rational threshold multiplied through in "
    "DECIMAL(38,0) — the filter never touches a float). Pair expansion is "
    "row-local (sorted basket array + slice-past-position explode, work "
    "bounded by basket-size cap, never corpus-squared); supports attach by "
    "catalog-bounded item joins; confidence/lift are single IEEE divisions "
    "over exact counts. The oracle derives pairs by txn self-join — an "
    "independent formulation of the same set.",
    oracle="""
WITH ti AS (
  SELECT DISTINCT l_orderkey AS txn, l_partkey AS item FROM lineitem
), n AS (SELECT COUNT(DISTINCT txn) AS n_txn FROM ti),
supports AS (SELECT item, COUNT(*) AS n_item FROM ti GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_pair
  FROM ti a JOIN ti b ON a.txn = b.txn AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
rules AS (
  SELECT item_a AS ante, item_b AS cons, n_pair FROM pairs
  UNION ALL
  SELECT item_b AS ante, item_a AS cons, n_pair FROM pairs
)
SELECT r.ante, r.cons, r.n_pair, x.n_item AS n_ante, y.n_item AS n_cons, n.n_txn,
       CAST(r.n_pair AS DOUBLE) / CAST(x.n_item AS DOUBLE) AS confidence,
       (CAST(r.n_pair AS DOUBLE) * CAST(n.n_txn AS DOUBLE))
         / (CAST(x.n_item AS DOUBLE) * CAST(y.n_item AS DOUBLE)) AS lift
FROM rules r JOIN supports x ON x.item = r.ante JOIN supports y ON y.item = r.cons, n
WHERE 2 * CAST(r.n_pair AS HUGEINT) * CAST(n.n_txn AS HUGEINT)
      > 3 * CAST(x.n_item AS HUGEINT) * CAST(y.n_item AS HUGEINT)
""",
)
def market_basket_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.association import association_rules

    li = table(spark, sf_dir, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_count=3, min_lift=(3, 2)
    )


@register(
    "skipgram_pairs_from_walks",
    doc="Skip-gram training-pair generation from the deterministic walk "
    "corpus (the second half of DeepWalk: walks -> (center, context) "
    "pairs within window 2): the walk table materializes ONCE (persisted "
    "— it feeds both sides of the pair join; the shared-subtree lesson), "
    "then one equi-join on walk_id with a row-local step-distance "
    "predicate and a combinable pair count. Pair volume is "
    "O(walks · length · window), independent of graph size. Oracle: the "
    "same recursive-CTE walk replay self-joined.",
    oracle="""
WITH RECURSIVE fwd AS (
  SELECT DISTINCT l.l_suppkey AS src, o.o_custkey + 1000000 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), e AS (
  SELECT src, dst FROM fwd UNION SELECT dst AS src, src AS dst FROM fwd
), adj AS (
  SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS pos FROM e
), deg AS (
  SELECT src, COUNT(*) AS deg FROM e GROUP BY src
), walks(walk_id, step, node) AS (
  SELECT CAST(src * 2 + w AS BIGINT), CAST(0 AS INTEGER), CAST(src AS BIGINT)
  FROM deg, (SELECT UNNEST([0, 1]) AS w)
  UNION ALL
  SELECT walks.walk_id, CAST(walks.step + 1 AS INTEGER), CAST(a.dst AS BIGINT)
  FROM walks
  JOIN deg d ON d.src = walks.node
  JOIN adj a ON a.src = walks.node
   AND a.pos = ((walks.walk_id * 1000003 + walks.step * 10007 + walks.node * 31)
                % 2147483647) % d.deg
  WHERE walks.step < 4
)
SELECT a.node AS center, b.node AS context, COUNT(*) AS n_pairs
FROM walks a JOIN walks b
  ON a.walk_id = b.walk_id AND a.step <> b.step AND abs(a.step - b.step) <= 2
GROUP BY 1, 2
""",
)
def skipgram_pairs_from_walks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.graph import random_walks

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    fwd = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("o_custkey") + 1_000_000).cast("long").alias("dst"),
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    walks = random_walks(edges, walks_per_node=2, walk_length=4).persist()
    a = walks.select("walk_id", F.col("step").alias("sa"), F.col("node").alias("center"))
    b = walks.select("walk_id", F.col("step").alias("sb"), F.col("node").alias("context"))
    return (
        a.join(b, "walk_id")
        .filter((F.col("sa") != F.col("sb")) & (F.abs(F.col("sa") - F.col("sb")) <= 2))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _mis_oracle(rounds: int = 8, a: int = 1_000_003, b: int = 10_007, m: int = 2_147_483_647) -> str:
    """Unrolled Luby rounds as chained CTEs — the recursion-free mirror of
    operators.graph.maximal_independent_set, constant-for-constant."""
    big = 1 << 31
    ctes = []
    for r in range(rounds):
        ctes.append(f"""p{r} AS MATERIALIZED (
  SELECT node, ((node * {a} + {r * b}) % {m}) * {big} + node AS pr FROM a{r}
), m{r} AS MATERIALIZED (
  SELECT p.node FROM p{r} p WHERE NOT EXISTS (
    SELECT 1 FROM e JOIN p{r} q ON e.u = p.node AND e.v = q.node AND q.pr < p.pr)
), rm{r} AS MATERIALIZED (
  SELECT node FROM m{r}
  UNION
  SELECT e.v AS node FROM e JOIN m{r} ON e.u = m{r}.node
), a{r + 1} AS MATERIALIZED (
  SELECT node FROM a{r} WHERE node NOT IN (SELECT node FROM rm{r})
)""")
    mis_union = "\nUNION ALL\n".join(f"SELECT node FROM m{r}" for r in range(rounds))
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS u,
         greatest(x.l_partkey, y.l_partkey) AS v
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
), e AS MATERIALIZED (
  SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
), a0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM e),
{', '.join(ctes)},
mis AS ({mis_union})
SELECT n.node AS node,
       CASE WHEN mis.node IS NOT NULL THEN TRUE
            WHEN a{rounds}.node IS NOT NULL THEN CAST(NULL AS BOOLEAN)
            ELSE FALSE END AS in_mis
FROM a0 n
LEFT JOIN (SELECT DISTINCT node FROM mis) mis ON mis.node = n.node
LEFT JOIN a{rounds} ON a{rounds}.node = n.node
"""


@register(
    "luby_mis_coparts",
    doc="Maximal independent set by Luby's algorithm (operators.graph."
    "maximal_independent_set, Luby SICOMP'86) on the co-order part graph "
    "— the symmetry-breaking primitive distributed coloring and matching "
    "build on. Deterministic per-round hash priorities make every round "
    "a pure function of the input: the oracle unrolls the rounds as "
    "chained CTEs with NOT EXISTS dominance tests, constant-for-constant "
    "with the operator. Per round: one combinable neighbor-MIN + one "
    "anti-join + two edge semi-joins over MONOTONICALLY shrinking "
    "frames (the k-core shape).",
    oracle=_mis_oracle(),
)
def luby_mis_coparts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.graph import maximal_independent_set

    return maximal_independent_set(_copart_pairs(spark, sf_dir), rounds=8)


@register(
    "also_bought_top3",
    doc="Item-to-item recommendation serving table ('customers also "
    "bought', Linden IEEE IC'03): top-3 counterpart items per antecedent "
    "by lift (support >= 3, lift > 1), ranked on the exact integer "
    "cross-product comparison n_pair*n_txn*... via the rounded lift with "
    "(n_pair desc, cons) tie-breaks so ordering is engine-exact. One "
    "row_number window over the catalog-bounded rules table — the serving "
    "artifact a recommender materializes nightly.",
    oracle="""
WITH ti AS (
  SELECT DISTINCT l_orderkey AS txn, l_partkey AS item FROM lineitem
), n AS (SELECT COUNT(DISTINCT txn) AS n_txn FROM ti),
supports AS (SELECT item, COUNT(*) AS n_item FROM ti GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_pair
  FROM ti a JOIN ti b ON a.txn = b.txn AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
rules AS (
  SELECT item_a AS ante, item_b AS cons, n_pair FROM pairs
  UNION ALL
  SELECT item_b AS ante, item_a AS cons, n_pair FROM pairs
),
scored AS (
  SELECT r.ante, r.cons, r.n_pair,
         round((CAST(r.n_pair AS DOUBLE) * CAST(n.n_txn AS DOUBLE))
               / (CAST(x.n_item AS DOUBLE) * CAST(y.n_item AS DOUBLE)), 9) AS lift
  FROM rules r JOIN supports x ON x.item = r.ante JOIN supports y ON y.item = r.cons, n
  WHERE CAST(r.n_pair AS HUGEINT) * CAST(n.n_txn AS HUGEINT)
        > CAST(x.n_item AS HUGEINT) * CAST(y.n_item AS HUGEINT)
)
SELECT ante, cons, n_pair, lift,
       ROW_NUMBER() OVER (PARTITION BY ante ORDER BY lift DESC, n_pair DESC, cons) AS rec_rank
FROM scored
QUALIFY rec_rank <= 3
""",
)
def also_bought_top3_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from milan_spark.operators.association import association_rules

    li = table(spark, sf_dir, "lineitem")
    rules = association_rules(li, "l_orderkey", "l_partkey", min_count=3, min_lift=(1, 1))
    scored = rules.select(
        "ante", "cons", "n_pair", F.round(F.col("lift"), 9).alias("lift")
    )
    w = W.partitionBy("ante").orderBy(
        F.col("lift").desc(), F.col("n_pair").desc(), F.col("cons")
    )
    return (
        scored.withColumn("rec_rank", F.row_number().over(w))
        .filter(F.col("rec_rank") <= 3)
    )


@register(
    "cluster_top_terms",
    doc="Cluster LABELING — the human-readable handle on an embedding "
    "clustering: documents join their kmeans_fixed cluster (bit-identical "
    "integer Lloyd, the kmeans_embedding_clusters substrate), then each "
    "cluster's top-3 characteristic terms rank by term LIFT (tf_in_cluster "
    "x total_tokens / (cluster_tokens x term_total) — PMI-without-the-log, "
    "the collocations discipline: the FILTER and tie-breaks never touch "
    "a float beyond one rounded division). tf >= 5 floors noise terms. "
    "Shape: one token-count aggregate over cluster-joined docs, two "
    "vocabulary-bounded marginal joins, one per-cluster top-k window.",
    oracle=_kmeans_chain()
    + """
, toks AS (
  SELECT a.cid, unnest(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS token
  FROM a3 a JOIN documents d ON d.doc_id = a.vec_id
), tf AS (
  SELECT cid, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), ct AS (SELECT cid, SUM(tf) AS cluster_toks FROM tf GROUP BY 1),
tt AS (SELECT token, SUM(tf) AS term_total FROM tf GROUP BY 1),
tot AS (SELECT SUM(tf) AS n_total FROM tf),
scored AS (
  SELECT tf.cid, tf.token, tf.tf,
         round((CAST(tf.tf AS DOUBLE) * CAST(tot.n_total AS DOUBLE))
               / (CAST(ct.cluster_toks AS DOUBLE) * CAST(tt.term_total AS DOUBLE)), 9)
           AS lift
  FROM tf JOIN ct USING (cid) JOIN tt USING (token), tot
  WHERE tf.tf >= 5
)
SELECT cid, token, tf, lift,
       ROW_NUMBER() OVER (PARTITION BY cid ORDER BY lift DESC, tf DESC, token)
         AS term_rank
FROM scored
QUALIFY term_rank <= 3
""",
)
def cluster_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from milan_spark.operators.clustering import kmeans_fixed
    from milan_spark.operators.text import tokenize

    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents")
    assign, _ = kmeans_fixed(emb, dim=64, k=8, iters=2)
    toks = (
        docs.join(assign.select(F.col("vec_id").alias("doc_id"), "cid"), "doc_id")
        .select("cid", F.explode(tokenize("text")).alias("token"))
    )
    tf = toks.groupBy("cid", "token").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.persist()  # feeds all three marginals + the scored join
    ct = tf.groupBy("cid").agg(F.sum("tf").alias("cluster_toks"))
    tt = tf.groupBy("token").agg(F.sum("tf").alias("term_total"))
    tot = tf.agg(F.sum("tf").alias("n_total"))
    scored = (
        tf.filter(F.col("tf") >= 5)
        .join(F.broadcast(ct), "cid")
        .join(tt, "token")
        .crossJoin(F.broadcast(tot))
        .select(
            "cid",
            "token",
            "tf",
            F.round(
                (F.col("tf").cast("double") * F.col("n_total").cast("double"))
                / (F.col("cluster_toks").cast("double") * F.col("term_total").cast("double")),
                9,
            ).alias("lift"),
        )
    )
    w = W.partitionBy("cid").orderBy(F.col("lift").desc(), F.col("tf").desc(), F.col("token"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 3)
    )


@register(
    "knn_label_agreement",
    doc="Embedding-quality evaluation by kNN label agreement (the standard "
    "intrinsic metric for a two-tower/encoder checkpoint): for 50 query "
    "vectors, the 5 exact cosine neighbors vote on the label (majority, "
    "count-desc + smallest-label ties), and per-class accuracy is one "
    "rounded division over exact counts. Composes the broadcast-query "
    "brute-force ANN (the recall baseline every approximate index in this "
    "repo is A/B'd against) with a label join and two combinable "
    "aggregates.",
    oracle=_SQL_VEC_EX_MINING
    + """
, pairs AS (
  SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id, SUM(qa.x * ca.x) AS dot
  FROM ex qa JOIN ex ca ON qa.i = ca.i AND qa.vec_id < 50 AND ca.vec_id != qa.vec_id
  GROUP BY 1, 2
), scored AS (
  SELECT query_id, neighbor_id,
         dot / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nc.nn AS DOUBLE))) AS cosine
  FROM pairs JOIN norms nq ON query_id = nq.vec_id JOIN norms nc ON neighbor_id = nc.vec_id
), topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= 5
), votes AS (
  SELECT t.query_id, e.label AS nlabel, COUNT(*) AS c
  FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id GROUP BY 1, 2
), pred AS (
  SELECT query_id, nlabel FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, nlabel) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT e.label, COUNT(*) AS n_queries,
       CAST(SUM(CASE WHEN p.nlabel = e.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(CAST(SUM(CASE WHEN p.nlabel = e.label THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS accuracy
FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
GROUP BY 1
""",
)
def knn_label_agreement_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from milan_spark.operators.similarity import ann_brute_force

    emb = table(spark, sf_dir, "embeddings")
    nn = ann_brute_force(emb, "vec_id", "embedding", query_ids=range(50), k=5)
    lab = emb.select("vec_id", "label")
    votes = (
        nn.join(
            lab.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")),
            "neighbor_id",
        )
        .groupBy("query_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("c").desc(), F.col("nlabel"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "nlabel")
    )
    truth = lab.select(F.col("vec_id").alias("query_id"), "label")
    return (
        pred.join(truth, "query_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum((F.col("nlabel") == F.col("label")).cast("long")).alias("n_correct"),
            F.round(
                F.sum((F.col("nlabel") == F.col("label")).cast("long")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("accuracy"),
        )
    )


@register(
    "graph_diameter_double_sweep",
    doc="Graph diameter lower bound by DOUBLE-SWEEP BFS (Magnien et al. "
    "JEA'09 — the standard cheap diameter estimator, exact on trees): "
    "frontier BFS from the smallest node, hop to the farthest reached "
    "node (dist desc, id tie-break), BFS again; the second eccentricity "
    "is the bound. Two O(frontier-adjacent-edges)-per-level sweeps over "
    "the persisted co-order part graph (operators.graph.bfs_levels); the "
    "two scalar hops between sweeps are one-row driver decision probes, "
    "the bfs_hops_coparts house pattern. Scope: the start node's "
    "component (stated; production runs it per-component after CC).",
    oracle="""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS u,
         greatest(x.l_partkey, y.l_partkey) AS v
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
), e AS MATERIALIZED (
  SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
), src AS (SELECT MIN(u) AS s FROM e),
b1(n, d) AS (
  SELECT s, 0 FROM src
  UNION
  SELECT e.v, b1.d + 1 FROM b1 JOIN e ON e.u = b1.n WHERE b1.d < 8
), d1 AS MATERIALIZED (SELECT n, MIN(d) AS d FROM b1 GROUP BY n),
far AS MATERIALIZED (SELECT n FROM d1 ORDER BY d DESC, n LIMIT 1),
b2(n, d) AS (
  SELECT n, 0 FROM far
  UNION
  SELECT e.v, b2.d + 1 FROM b2 JOIN e ON e.u = b2.n WHERE b2.d < 8
), d2 AS MATERIALIZED (SELECT n, MIN(d) AS d FROM b2 GROUP BY n)
SELECT CAST((SELECT s FROM src) AS BIGINT) AS start_node,
       CAST((SELECT n FROM far) AS BIGINT) AS far_node,
       CAST((SELECT MAX(d) FROM d1) AS INT) AS ecc_start,
       CAST((SELECT MAX(d) FROM d2) AS INT) AS diameter_lb
""",
)
def graph_diameter_double_sweep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.graph import bfs_levels, bfs_prepared_edges

    pairs = _copart_pairs(spark, sf_dir)
    # ONE doubled/partitioned/persisted edge cache feeds both sweeps (and
    # the source probe) — the per-sweep rebuild was the query's top cost
    edges = bfs_prepared_edges(pairs, a_col="src", b_col="dst")
    source = int(edges.agg(F.min("u")).first()[0])
    l1 = bfs_levels(pairs, source, a_col="src", b_col="dst", iterations=8, edges=edges)
    far_row = l1.orderBy(F.col("dist").desc(), F.col("n")).first()
    far_node, ecc_start = int(far_row["n"]), int(far_row["dist"])
    l2 = bfs_levels(pairs, far_node, a_col="src", b_col="dst", iterations=8, edges=edges)
    return l2.agg(F.max("dist").alias("__m")).select(
        F.lit(source).cast("long").alias("start_node"),
        F.lit(far_node).cast("long").alias("far_node"),
        F.lit(ecc_start).cast("int").alias("ecc_start"),
        F.col("__m").cast("int").alias("diameter_lb"),
    )


@register(
    "int8_quantization_audit",
    doc="Scalar int8 quantization audit — the compression step a vector "
    "store applies before PQ is even considered: per-dimension affine "
    "codes code = (q-lo)*255 div (hi-lo) over the shared 2^20 integer "
    "grid, reconstruction kept as the EXACT 255-denominator rational "
    "(recon*255 = 255*lo + code*(hi-lo)), so max-abs error is pure int64 "
    "and SSE accumulates in DECIMAL(38) before one deterministic "
    "double conversion. Shape: one posexplode scan, one combinable "
    "per-dim min/max, one broadcast join back, one combinable error "
    "rollup — no shuffle of the vector corpus beyond the dim key.",
    oracle="""
WITH q AS (
  SELECT vec_id,
         [CAST(floor(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT) FOR x IN embedding] AS v
  FROM embeddings
), ex AS (
  SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) - 1 AS dim FROM q
), bounds AS (
  SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM ex GROUP BY 1
), coded AS (
  SELECT e.dim, b.lo, b.hi,
         CASE WHEN b.hi > b.lo
              THEN 255 * e.x - (255 * b.lo + ((e.x - b.lo) * 255 // (b.hi - b.lo)) * (b.hi - b.lo))
              ELSE 0 END AS err255
  FROM ex e JOIN bounds b USING (dim)
)
SELECT CAST(dim AS INT) AS dim, lo, hi,
       MAX(abs(err255)) AS max_abs_err_255,
       round(sqrt(CAST(SUM(CAST(err255 AS DECIMAL(38,0)) * CAST(err255 AS DECIMAL(38,0)))
                       AS DOUBLE) / COUNT(*)) / 255.0, 6) AS rmse_grid
FROM coded GROUP BY 1, 2, 3
""",
)
def int8_quantization_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1048576 + 0.5).cast("long"),
            )
        ).alias("dim", "x"),
    )
    bounds = ex.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    coded = ex.join(F.broadcast(bounds), "dim").select(
        "dim",
        "lo",
        "hi",
        F.when(
            F.col("hi") > F.col("lo"),
            255 * F.col("x")
            - (
                255 * F.col("lo")
                + F.expr("((x - lo) * 255) div (hi - lo)") * (F.col("hi") - F.col("lo"))
            ),
        )
        .otherwise(F.lit(0))
        .alias("err255"),
    )
    d38 = "decimal(38,0)"
    return coded.groupBy("dim", "lo", "hi").agg(
        F.max(F.abs("err255")).alias("max_abs_err_255"),
        F.round(
            F.sqrt(
                F.sum(F.col("err255").cast(d38) * F.col("err255").cast(d38)).cast("double")
                / F.count(F.lit(1))
            )
            / 255.0,
            6,
        ).alias("rmse_grid"),
    ).select("dim", "lo", "hi", "max_abs_err_255", "rmse_grid")


def _perceptron_chain(rounds: int) -> str:
    """Unrolled-CTE replay of operators.learning.perceptron_train: feature
    frame f(doc_id, y, x1..x4), then per round ONE misclassified-set
    aggregate and the truncating mean-gradient update — the same
    (g − g mod m)/m integer division the driver computes, CASE-guarded so a
    clean round is a no-op exactly like the operator."""
    stop = ("'and', 'das', 'de', 'der', 'des', 'die', 'el', 'et', 'ein', "
            "'in', 'is', 'ist', 'la', 'le', 'les', 'los', 'of', 'que', "
            "'the', 'to', 'und', 'y'")
    parts = [f"""
WITH t AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), f AS (
  SELECT doc_id,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
         CAST(len(toks) AS BIGINT) AS x1,
         CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
              AS BIGINT) AS x2,
         CAST(len(list_filter(toks, x -> x IN ({stop}))) AS BIGINT) AS x3,
         CAST(len(list_distinct(toks)) AS BIGINT) AS x4
  FROM t
), r0 AS (
  SELECT CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS c1,
         CAST(0 AS BIGINT) AS c2, CAST(0 AS BIGINT) AS c3,
         CAST(0 AS BIGINT) AS c4
)"""]
    for r in range(1, rounds + 1):
        prev = f"r{r-1}"
        margin = "(b + c1*x1 + c2*x2 + c3*x3 + c4*x4)"
        upd = ", ".join(
            f"{w} + CASE WHEN m > 0 THEN CAST((g{j} - g{j} % m) / m AS BIGINT) "
            f"ELSE 0 END AS {w}"
            for j, w in enumerate(["b", "c1", "c2", "c3", "c4"])
        )
        parts.append(f""", g{r} AS (
  SELECT COUNT(*) AS m,
         CAST(COALESCE(SUM(y), 0) AS BIGINT) AS g0,
         CAST(COALESCE(SUM(y * x1), 0) AS BIGINT) AS g1,
         CAST(COALESCE(SUM(y * x2), 0) AS BIGINT) AS g2,
         CAST(COALESCE(SUM(y * x3), 0) AS BIGINT) AS g3,
         CAST(COALESCE(SUM(y * x4), 0) AS BIGINT) AS g4
  FROM f, {prev} WHERE y * {margin} <= 0
), r{r} AS (
  SELECT {upd} FROM g{r}, {prev}
)""")
    parts.append(f"""
SELECT f.doc_id, f.y,
       CAST(b + c1*x1 + c2*x2 + c3*x3 + c4*x4 AS BIGINT) AS margin,
       (b + c1*x1 + c2*x2 + c3*x3 + c4*x4) > 0 AS keep,
       ((f.y > 0) = ((b + c1*x1 + c2*x2 + c3*x3 + c4*x4) > 0)) AS correct
FROM f, r{rounds}
""")
    return "".join(parts)


_PERCEPTRON_ROUNDS = 4
_PERCEPTRON_FEATURES = ["n_tokens", "len_sum", "n_stop", "n_uniq"]


@register(
    "perceptron_quality_gate",
    doc="TRAINED quality gate (operators.learning.perceptron_train): a batch "
    "mean-gradient perceptron learns to separate English documents from "
    "integer surface features (token/char/stopword/distinct counts), then "
    "gates on the learned margin — the trainable tier FineWeb-edu-style "
    "pipelines put in front of the corpus, where the fixed-weight "
    "quality_classifier_gate is the inference-only tier. Every round is ONE "
    "map-side-combinable aggregate with the weights riding in as literal "
    "ints (the MMR winner-literal pattern); the oracle replays the whole "
    "4-round trajectory in unrolled CTEs, so the value hash pins training, "
    "not just inference. |w| is row-count-independent (mean gradient), so "
    "the int64 envelope holds at any corpus size.",
    oracle=_perceptron_chain(_PERCEPTRON_ROUNDS),
)
def perceptron_quality_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milan_spark.operators.learning import perceptron_margins, perceptron_train
    from milan_spark.operators.text import STOPWORDS, tokenize

    docs = table(spark, sf_dir, "documents")
    toks = tokenize("text")
    feats = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1)).cast("long").alias("y"),
        F.array_size(toks).cast("long").alias("n_tokens"),
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, tk: acc + F.length(tk)).alias("len_sum"),
        F.size(F.filter(toks, lambda tk: tk.isin(*STOPWORDS))).cast("long").alias("n_stop"),
        F.array_size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
    ).persist()
    traj = perceptron_train(
        feats, _PERCEPTRON_FEATURES, "y", rounds=_PERCEPTRON_ROUNDS
    )
    out = perceptron_margins(
        feats, traj[-1], _PERCEPTRON_FEATURES, label_col="y"
    )
    return out.select("doc_id", "y", "margin", "keep", "correct")
