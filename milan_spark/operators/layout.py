"""Multi-dimensional data layout: Z-order (Morton) clustering for
row-group pruning (the lakehouse table-organization technique; no reference
analog — Milan has no storage layout control at all).

A table range-partitioned and sorted by a single key prunes scans on THAT
key only; a 100 TB fact table queried by boxes over two keys (part ×
supplier, time × entity) wants both dimensions clustered. Interleaving the
key bits (Morton order) makes each parquet row group cover a small
axis-aligned box in key space, so each column's min/max row-group
statistics — all any engine's scan consults — prune 2-d box predicates on
EITHER OR BOTH dimensions.

Everything is static int64 bit algebra (Python loop builds the expression,
literal shift amounts → whole-stage codegen; no UDF). The layout write is
one range exchange + per-partition sort — the same cost as any sorted
write.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def z_value(x, y, *, bits: int = 16) -> Column:
    """Morton interleave of two non-negative int columns' low ``bits`` bits:
    z = Σ_b ((x>>b)&1)<<2b | ((y>>b)&1)<<(2b+1). 2·bits ≤ 62 keeps the
    result in non-negative int64."""
    if bits < 1 or bits > 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    xc = (F.col(x) if isinstance(x, str) else x).cast("long")
    yc = (F.col(y) if isinstance(y, str) else y).cast("long")
    z = F.lit(0).cast("long")
    for b in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(xc, b).bitwiseAND(F.lit(1)), 2 * b)
            + F.shiftleft(F.shiftright(yc, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    *,
    bits: int = 16,
    partitions: int = 8,
    row_group_bytes: int = 64 * 1024,
) -> None:
    """Write ``df`` as parquet clustered in Morton order over (x, y): one
    range exchange on the z-value, per-partition sort, small row groups so
    min/max statistics stay tight. Readers need nothing special — standard
    row-group stats pruning sees clustered ranges on BOTH columns."""
    zc = z_value(x, y, bits=bits).alias("__z")
    (
        df.withColumn("__z", zc)
        .repartitionByRange(partitions, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .option("parquet.block.size", str(row_group_bytes))
        .parquet(path)
    )


def compact_files(
    spark,
    path: str,
    target_mb: int = 128,
    fmt: str = "parquet",
    sort_by: list[str] | None = None,
) -> dict:
    """Small-file compaction — the maintenance pass every long-running
    pipeline sink needs: streaming/incremental writers leave a directory of
    tiny files whose per-file open/footer cost eventually dominates scans.
    Rewrites ``path`` into ⌈total_bytes / target_mb⌉ files (optionally
    sorted, which restores row-group pruning after the rewrite) with a
    two-rename directory swap. Readers see the old or the new directory,
    never a partial one, except between the two renames, when ``path`` is
    missing. A crash there leaves the old data whole in
    ``path.__old_compact``; the next call restores it (and drops a stale
    ``path.__tmp_compact``) before compacting again.

    Returns {"files_before", "files_after", "bytes"}. One read + one
    shuffle-free coalesce write (or one range sort when ``sort_by`` — the
    pruning-preserving variant).
    """
    import math
    import os
    import shutil

    tmp, old = f"{path}.__tmp_compact", f"{path}.__old_compact"
    if os.path.isdir(old):
        if os.path.exists(path):
            shutil.rmtree(old)  # crashed after the swap: old is stale
        else:
            os.rename(old, path)  # crashed between the renames
    shutil.rmtree(tmp, ignore_errors=True)
    before = [
        f for f in os.listdir(path)
        if not f.startswith(("_", ".")) and not f.endswith(".crc")
    ]
    total = sum(os.path.getsize(os.path.join(path, f)) for f in before)
    n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.format(fmt).load(path)
    if sort_by:
        df = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
    else:
        df = df.coalesce(n_out)
    df.write.mode("overwrite").format(fmt).save(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    after = [
        f for f in os.listdir(path)
        if not f.startswith(("_", ".")) and not f.endswith(".crc")
    ]
    return {"files_before": len(before), "files_after": len(after), "bytes": total}
