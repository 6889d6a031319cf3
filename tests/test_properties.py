"""Property tests (Hypothesis): operator semantics vs pure-Python reference
folds on randomized inputs — the tier the reference lacks (SURVEY §5
'no property-based testing'; we add it on top of its three tiers).

Each property drives the batch operator with an arbitrary interleaving of
keyed arrivals and compares against a direct sequential state-machine fold —
the definitional semantics from doc/Milan Operations.md. Integer values only,
so equality is exact. Examples are capped: every example is a Spark job.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from milan_spark.operators.joins import full_enrichment_join, left_enrichment_join
from milan_spark.operators.scans import running_sum_by, stream_max_by
from milan_spark.operators.windows import record_window

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# an arrival: (is_left, key, value); seq = position in the list
arrivals = st.lists(
    st.tuples(st.booleans(), st.integers(0, 3), st.integers(-5, 5)), min_size=1, max_size=24
)
keyed_values = st.lists(
    st.tuples(st.integers(0, 2), st.integers(-9, 9)), min_size=1, max_size=24
)


def _sides(spark, evs):
    left = [(i, k, v) for i, (is_l, k, v) in enumerate(evs) if is_l]
    right = [(i, k, v) for i, (is_l, k, v) in enumerate(evs) if not is_l]
    schema = "__seq long, k long, v long"
    ldf = spark.createDataFrame(left or [(-1, -1, 0)], schema)
    rdf = spark.createDataFrame(right or [(-1, -1, 0)], schema)
    if not left:
        ldf = ldf.filter("k >= 0")
    if not right:
        rdf = rdf.filter("k >= 0")
    return left, right, ldf, rdf


@given(arrivals)
@settings(**SETTINGS)
def test_left_enrichment_join_is_last_right_fold(spark, evs):
    left, right, ldf, rdf = _sides(spark, evs)
    out = left_enrichment_join(ldf, rdf, on="k", right_prefix="r_")
    got = {r["__seq"]: r["r_v"] for r in out.collect()}
    last_right: dict = {}
    want = {}
    for i, (is_l, k, v) in enumerate(evs):
        if is_l:
            want[i] = last_right.get(k)
        else:
            last_right[k] = v
    assert got == want  # one output per left arrival, paired with last right


@given(arrivals)
@settings(**SETTINGS)
def test_full_enrichment_join_emits_every_arrival(spark, evs):
    left, right, ldf, rdf = _sides(spark, evs)
    out = full_enrichment_join(ldf, rdf, on="k", right_prefix="r_")
    rows = [(r["v"], r["r_v"]) for r in out.collect()]
    state: dict = {}
    want = []
    for is_l, k, v in evs:
        l_last, r_last = state.get(k, (None, None))
        state[k] = (v, r_last) if is_l else (l_last, v)
        want.append(state[k])
    assert sorted(rows, key=str) == sorted(want, key=str)


@given(keyed_values)
@settings(**SETTINGS)
def test_running_sum_is_prefix_sum(spark, rows):
    df = spark.createDataFrame([(i, k, v) for i, (k, v) in enumerate(rows)], "__seq long, k long, v long")
    out = running_sum_by(df, "v", keys=["k"], alias="rs")
    got = {r["__seq"]: r["rs"] for r in out.collect()}
    acc: dict = {}
    for i, (k, v) in enumerate(rows):
        acc[k] = acc.get(k, 0) + v
        assert got[i] == acc[k]


@given(keyed_values)
@settings(**SETTINGS)
def test_stream_max_by_emits_strict_improvements_only(spark, rows):
    df = spark.createDataFrame([(i, k, v) for i, (k, v) in enumerate(rows)], "__seq long, k long, v long")
    got = sorted(r["__seq"] for r in stream_max_by(df, "v", keys=["k"]).collect())
    best: dict = {}
    want = []
    for i, (k, v) in enumerate(rows):
        if k not in best or v > best[k]:
            best[k] = v
            want.append(i)
    assert got == want


@given(keyed_values, st.integers(1, 4))
@settings(**SETTINGS)
def test_record_window_is_trailing_n_sum(spark, rows, n):
    df = spark.createDataFrame([(i, k, v) for i, (k, v) in enumerate(rows)], "__seq long, k long, v long")
    out = record_window(df, n, {"t": F.sum("v")}, keys=["k"])
    got = {r["__seq"]: r["t"] for r in out.collect()}
    hist: dict = {}
    for i, (k, v) in enumerate(rows):
        hist.setdefault(k, []).append(v)
        assert got[i] == sum(hist[k][-n:])


@given(arrivals)
@settings(**SETTINGS)
def test_left_inner_join_buffers_until_first_right(spark, evs):
    from milan_spark.operators.joins import left_inner_enrichment_join

    left, right, ldf, rdf = _sides(spark, evs)
    out = left_inner_enrichment_join(ldf, rdf, on="k", right_prefix="r_")
    got = {r["__seq"]: r["r_v"] for r in out.collect()}
    # model: pair with latest earlier right, else the FIRST later right;
    # never emit if no right for the key ever arrives
    want = {}
    for i, (is_l, k, v) in enumerate(evs):
        if not is_l:
            continue
        before = [w for j, (l2, k2, w) in enumerate(evs) if not l2 and k2 == k and j < i]
        after = [w for j, (l2, k2, w) in enumerate(evs) if not l2 and k2 == k and j > i]
        if before:
            want[i] = before[-1]
        elif after:
            want[i] = after[0]
    assert got == want


# documents: 1-8 docs of 0-10 words over a 6-word vocabulary — adversarially
# collision-heavy (many identical/near-identical shingle sets, many docs
# below the bigram minimum)
docs_corpus = st.lists(
    st.lists(st.sampled_from("red blue green gold lazy dog".split()), max_size=10),
    min_size=1,
    max_size=8,
)


@given(docs_corpus, st.sampled_from([0.4, 0.6, 0.8]))
@settings(**SETTINGS)
def test_ngram_jaccard_both_regimes_match_model(spark, corpus, thr):
    """Prefix-filtered inverted index (sparse) and broadcast matmul (dense)
    both equal the definitional per-pair Jaccard on random corpora."""
    from milan_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpus)], "doc_id long, text string"
    )
    def model():
        sets = {i: {(ws[j], ws[j + 1]) for j in range(len(ws) - 1)} for i, ws in enumerate(corpus) if len(ws) >= 2}
        out = set()
        for a in sets:
            for b in sets:
                if a < b and sets[a] | sets[b]:
                    j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                    if j >= thr:
                        out.add((a, b, round(j, 6)))
        return out

    want = model()
    for cells in (0, 10**9):  # force sparse, then dense
        got = {tuple(r) for r in ngram_jaccard_pairs(df, "doc_id", "text", threshold=thr, dense_max_cells=cells).collect()}
        assert got == want


token_texts = st.lists(
    st.text(alphabet="ab1 .,", min_size=0, max_size=30), min_size=1, max_size=8
)


@given(texts=token_texts)
@settings(**SETTINGS)
def test_word_ngrams_matches_python_model(spark, texts):
    import re

    from milan_spark.operators.text import word_ngrams

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    for n in (2, 3):
        got = {
            r["doc_id"]: r["g"]
            for r in df.select("doc_id", word_ngrams("text", n).alias("g")).collect()
        }
        for i, t in enumerate(texts):
            toks = re.findall(r"[a-z0-9]+", t.lower())
            want = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
            assert got[i] == want, (t, n)


@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 100)), min_size=1, max_size=40),
    st.integers(1, 4),
    st.integers(1, 5),
)
@settings(**SETTINGS)
def test_top_fraction_matches_naive_selection(spark, rows, num, den):
    """top_fraction_by_score == the definitional per-stratum top-⌊n·frac⌋ by
    (score desc, key) under arbitrary score collisions and stratum skew."""
    from milan_spark.operators.sampling import top_fraction_by_score

    if num > den:
        num, den = den, num
    data = [(i, f"s{srv}", sc / 100.0) for i, (srv, sc) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, source string, score double")
    got = {
        r.doc_id
        for r in top_fraction_by_score(
            df, ["source"], "score", frac=(num, den), key="doc_id"
        ).collect()
    }
    # pure-Python reference
    want = set()
    by_src: dict = {}
    for i, (srv, sc) in enumerate(rows):
        by_src.setdefault(srv, []).append((sc / 100.0, i))
    for srv, items in by_src.items():
        items.sort(key=lambda t: (-t[0], t[1]))
        quota = len(items) * num // den
        want.update(i for _, i in items[:quota])
    assert got == want


@given(
    st.lists(st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=6),
    st.integers(1, 5),
    st.integers(1, 5),
)
@settings(**SETTINGS)
def test_chunk_tokens_matches_python_model(spark, texts, window, stride):
    """chunk_tokens == the definitional stride/window slicing on arbitrary
    whitespace-noisy text."""
    import re

    from milan_spark.operators.chunking import chunk_tokens

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_idx, r.chunk_text, r.n_chunk_tokens)
        for r in chunk_tokens(df, window=window, stride=stride).collect()
    }
    want = set()
    for i, t in enumerate(texts):
        toks = re.findall("[a-z0-9]+", t.lower())
        for ci, s in enumerate(range(0, len(toks), stride)):
            chunk = toks[s : s + window]
            want.add((i, ci, " ".join(chunk), len(chunk)))
    assert got == want


# --- exact_heavy_hitters vs brute force on arbitrary small multisets --------

hh_items = st.lists(st.integers(0, 12), min_size=1, max_size=60)


@given(items=hh_items, den=st.integers(2, 10), capacity=st.integers(1, 8))
@settings(**SETTINGS)
def test_exact_heavy_hitters_property(spark, items, den, capacity):
    """For ANY multiset, threshold, and capacity — even capacities far below
    the guarantee bound — the two-pass operator must return exactly the
    brute-force heavy-hitter set whenever capacity respects the completeness
    bound capacity+1 > den; below the bound the result may legally miss items,
    so we assert only when the precondition holds (and assert the subset
    relation always: pass 2 never fabricates or over-counts)."""
    from collections import Counter

    from milan_spark.operators.heavyhitters import exact_heavy_hitters

    df = spark.createDataFrame([(str(v),) for v in items], "item string").repartition(3)
    got = {
        (r["item"], r["n"], r["n_total"])
        for r in exact_heavy_hitters(df, "item", (1, den), capacity=capacity).collect()
    }
    truth = Counter(str(v) for v in items)
    n = len(items)
    want = {(k, c, n) for k, c in truth.items() if c * den >= n}
    assert got <= want  # exact verify: no false positives, counts exact
    if capacity + 1 > den:
        assert got == want  # completeness bound satisfied -> nothing missed
