"""Property tests (Hypothesis): zone-map/Bloom pruning and manifest count
pushdown are EXACT under arbitrary data layouts and predicates — pruning
may only shrink the scan, never change an answer. Each example commits a
random frame in random chunks (with stats + blooms) and compares
read_pruned / count_where against a pure driver-side reference over the
same rows. Examples are capped: every example is several Spark jobs."""

from __future__ import annotations

import tempfile

from hypothesis import HealthCheck, given, settings, strategies as st

from milan_spark.operators.versioned import (
    commit_append,
    count_where,
    read_pruned,
)

SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)

rows_st = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(-20, 20)),
        st.integers(0, 5),
    ),
    min_size=1,
    max_size=40,
)
ops_st = st.sampled_from(["=", "<", "<=", ">", ">=", "between", "in"])
preds_st = st.lists(
    st.tuples(
        st.sampled_from(["k", "m"]),
        ops_st,
        st.integers(-22, 22),
        st.integers(-22, 22),
    ),
    min_size=1,
    max_size=3,
)


def _norm_preds(raw):
    out = []
    for col, op, a, b in raw:
        if op == "between":
            out.append((col, op, (min(a, b), max(a, b))))
        elif op == "in":
            out.append((col, op, (a, b)))
        else:
            out.append((col, op, a))
    return out


def _matches(row, preds):
    for col, op, val in preds:
        x = row[0] if col == "k" else row[1]
        if x is None:
            return False
        if op == "between":
            if not (val[0] <= x <= val[1]):
                return False
        elif op == "in":
            if x not in val:
                return False
        elif op == "=":
            if x != val:
                return False
        elif op == "<":
            if not x < val:
                return False
        elif op == "<=":
            if not x <= val:
                return False
        elif op == ">":
            if not x > val:
                return False
        elif op == ">=":
            if not x >= val:
                return False
    return True


@given(rows_st, preds_st, st.integers(1, 4))
@settings(**SETTINGS)
def test_pruned_read_and_count_match_reference(spark, rows, raw_preds, chunks):
    preds = _norm_preds(raw_preds)
    path = tempfile.mkdtemp(prefix="milan_prop_vt_")
    per = max(1, len(rows) // chunks)
    for i in range(0, len(rows), per):
        df = spark.createDataFrame(rows[i:i + per], "k long, m long")
        commit_append(
            df.coalesce(1), path, stats_cols=["k", "m"], bloom_cols=["k"]
        )
    expect = sorted(
        (r for r in rows if _matches(r, preds)), key=lambda t: (str(t[0]), t[1])
    )
    got = sorted(
        ((r["k"], r["m"]) for r in read_pruned(spark, path, preds).collect()),
        key=lambda t: (str(t[0]), t[1]),
    )
    assert got == expect
    assert count_where(spark, path, preds)["count"] == len(expect)
    # no-predicate count is pure metadata AND exact
    all_rep = count_where(spark, path)
    assert all_rep["count"] == len(rows)
    assert all_rep["files_scanned"] == 0
