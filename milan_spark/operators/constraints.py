"""Declarative data-quality constraints with quarantine splitting (beyond
the reference — Milan validates TYPES at graph build time via its
TypeChecker; nothing validates VALUES at run time. A 100 TB ingest needs
both: a malformed 0.001% of rows silently poisoning a join key column is
the classic pipeline postmortem).

Rules are named boolean Columns (TRUE = pass). Everything is one JVM
aggregate or one projection — no UDF, no second scan per rule:

- ``constraint_report``: ONE aggregate pass computes every rule's violation
  count (sum of inverted conditions), so 50 rules still cost a single scan
  with map-side partial aggregation.
- ``quarantine``: ONE projection computes the array of failed rule names
  per row and splits pass/fail. The fail side carries ``failed_rules`` so
  triage can group by failure signature instead of re-deriving it.

NULL discipline: a rule whose condition evaluates to NULL (any comparison
touching a NULL operand) counts as a VIOLATION — "we could not prove the
row valid" — via coalesce(cond, FALSE). The alternative (NULL passes)
is how null poisoning sneaks through; callers who want to allow NULLs say
so in the rule (``col.isNull() | cond``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from milan_spark.errors import MilanAnalysisError


def _strict(cond: Column) -> Column:
    return F.coalesce(cond, F.lit(False))


def constraint_report(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Per-rule violation counts in ONE aggregate pass: columns ``rule``,
    ``n_violations``, ``n_rows``. A rule name must not collide with input
    columns' semantics — names are labels only."""
    if not rules:
        raise MilanAnalysisError("constraint_report: no rules given")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, cond in rules.items():
        aggs.append(
            F.sum(F.when(~_strict(cond), 1).otherwise(0)).alias(name)
        )
    row = df.agg(*aggs)
    # unpivot to (rule, n_violations, n_rows) — stack is pure projection
    pairs = ", ".join(f"'{n}', `{n}`" for n in rules)
    return row.selectExpr(
        f"stack({len(rules)}, {pairs}) AS (rule, n_violations)", "__n AS n_rows"
    )


def failed_rules_column(rules: dict[str, Column]) -> Column:
    """Array of the rule names a row violates (empty = clean row)."""
    return F.array_compact(
        F.array(
            *[
                F.when(~_strict(cond), F.lit(name))
                for name, cond in rules.items()
            ]
        )
    )


def quarantine(
    df: DataFrame, rules: dict[str, Column], *, reason_col: str = "failed_rules"
) -> tuple[DataFrame, DataFrame]:
    """Split into (valid, invalid): valid rows pass EVERY rule; invalid rows
    carry ``reason_col`` — the array of failed rule names, so downstream
    triage groups by failure signature. One projection; the two sides are
    complementary filters over the same scan (Spark reuses the exchange
    when both are consumed in one job)."""
    tagged = df.withColumn(reason_col, failed_rules_column(rules))
    valid = tagged.filter(F.size(reason_col) == 0).drop(reason_col)
    invalid = tagged.filter(F.size(reason_col) > 0)
    return valid, invalid


def audited_append(
    df: DataFrame,
    path: str,
    rules: dict[str, Column],
    *,
    quarantine_path: str | None = None,
    require_clean: bool = False,
    **commit_kw,
) -> dict:
    """Write-audit-publish ingest: rows are checked against ``rules``
    BEFORE anything becomes visible — clean rows commit to the versioned
    table at ``path``; violating rows (with their ``failed_rules``
    signature) commit to the ``quarantine_path`` table for triage, so bad
    data lands somewhere inspectable instead of in the product table or
    nowhere. ``require_clean=True`` turns the gate absolute: ANY violation
    aborts with a named error and NOTHING commits (the snapshot-isolated
    table guarantees readers never saw a partial ingest). The tagged frame
    is persisted so audit + both writes are one source scan. Returns
    {"version", "n_valid", "n_invalid", "quarantine_version"}."""
    from milan_spark.operators.versioned import commit_append

    tagged = df.withColumn("__failed", failed_rules_column(rules)).persist()
    try:
        invalid = tagged.filter(F.size("__failed") > 0)
        n_invalid = invalid.count()
        if require_clean and n_invalid:
            sample = invalid.select(
                F.explode("__failed").alias("rule")
            ).groupBy("rule").count().collect()
            raise MilanAnalysisError(
                f"audited_append: {n_invalid} row(s) violate "
                f"{ {r['rule']: r['count'] for r in sample} }; "
                f"require_clean=True aborted the ingest — nothing committed"
            )
        valid = tagged.filter(F.size("__failed") == 0).drop("__failed")
        n_valid = valid.count()
        version = commit_append(valid, path, **commit_kw)
        qv = None
        if quarantine_path is not None and n_invalid:
            qv = commit_append(
                invalid.withColumnRenamed("__failed", "failed_rules"),
                quarantine_path,
                tag=f"audit-of={path}@{version}",
            )
        return {"version": version, "n_valid": n_valid,
                "n_invalid": n_invalid, "quarantine_version": qv}
    finally:
        tagged.unpersist()


def audited_versioned_sink(
    path: str,
    rules: dict[str, Column],
    *,
    quarantine_path: str | None = None,
):
    """Streaming write-audit-publish: a ``foreachBatch`` writer that runs
    :func:`audited_append` on every microbatch with EXACTLY-ONCE commits —
    batch-id-idempotent like ``versioned_sink`` (a replayed batch id whose
    tag the manifest already records publishes nothing again, on BOTH the
    product and quarantine tables). Bad records never stall the stream and
    never ship: they land in the quarantine table with their failure
    signatures, microbatch by microbatch."""
    from milan_spark.operators.versioned import once_per_batch

    return once_per_batch(path, lambda df, tag: audited_append(
        df, path, rules, quarantine_path=quarantine_path, tag=tag))
