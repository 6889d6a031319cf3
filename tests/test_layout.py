"""Z-order layout: correctness of the Morton interleave and MEASURED
row-group pruning from the parquet footers."""

from __future__ import annotations

import glob
import tempfile

from pyspark.sql import functions as F

from milan_spark.operators.layout import write_zordered, z_value


def test_z_value_interleaves_bits(spark):
    rows = spark.range(1).select(
        z_value(F.lit(0b101), F.lit(0b011), bits=4).alias("z")
    ).collect()
    # x=101 -> bits at 0,4; y=011 -> bits at 1,3  => z = 1 + 2 + 8 + 16 = 27
    assert rows[0].z == 0b11011


def test_z_value_rejects_bad_bits(spark):
    import pytest

    with pytest.raises(ValueError):
        z_value("a", "b", bits=0)
    with pytest.raises(ValueError):
        z_value("a", "b", bits=32)


def _overlapping_row_groups(path: str, lo_x, hi_x, lo_y, hi_y, cx, cy) -> tuple[int, int]:
    """(row groups overlapping the box, total row groups) from footers."""
    import pyarrow.parquet as pq

    hit = total = 0
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            total += 1
            sx = md.row_group(rg).column(names[cx]).statistics
            sy = md.row_group(rg).column(names[cy]).statistics
            if sx.min <= hi_x and sx.max >= lo_x and sy.min <= hi_y and sy.max >= lo_y:
                hit += 1
    return hit, total


def test_zorder_prunes_2d_boxes_vs_natural_order(spark):
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    zdir = tempfile.mkdtemp(prefix="zord_") + "/t"
    ndir = tempfile.mkdtemp(prefix="nat_") + "/t"
    write_zordered(li, zdir, "l_partkey", "l_suppkey", row_group_bytes=32 * 1024)
    (
        li.repartition(8)
        .write.mode("overwrite")
        .option("parquet.block.size", str(32 * 1024))
        .parquet(ndir)
    )
    box = (100, 300, 10, 30)
    zh, zt = _overlapping_row_groups(zdir, *box, "l_partkey", "l_suppkey")
    nh, nt = _overlapping_row_groups(ndir, *box, "l_partkey", "l_suppkey")
    # natural order: essentially every row group overlaps the box; z-order:
    # only the row groups covering that corner of key space do
    assert zt > 8 and nt > 8  # enough row groups for the claim to mean something
    assert nh >= nt * 0.8
    assert zh <= zt * 0.35
    # and the data survives identically
    assert (
        spark.read.parquet(zdir).count()
        == spark.read.parquet(ndir).count()
        == li.count()
    )


def test_compact_files_rewrites_tiny_files_atomically(spark, tmp_path):
    from milan_spark.operators.layout import compact_files

    p = str(tmp_path / "sink")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.repartition(24).write.parquet(p)
    base = sorted(tuple(r) for r in spark.read.parquet(p).collect())

    stats = compact_files(spark, p, target_mb=128)
    assert stats["files_before"] >= 24
    assert stats["files_after"] <= 2
    assert sorted(tuple(r) for r in spark.read.parquet(p).collect()) == base


def test_compact_files_sorted_variant_restores_clustering(spark, tmp_path):
    from milan_spark.operators.layout import compact_files

    p = str(tmp_path / "sink2")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.repartition(16).write.parquet(p)
    compact_files(spark, p, target_mb=1, sort_by=["user_id"])
    back = spark.read.parquet(p)
    # rows unchanged and each output file covers a disjoint user_id range
    assert back.count() == ev.count()
    import pyspark.sql.functions as F
    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
        .collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in per_file)
    assert all(a[1] <= b[0] for a, b in zip(spans, spans[1:]))


def test_compact_files_recovers_from_a_crash_between_its_renames(
    spark, tmp_path, monkeypatch
):
    import os

    import pytest

    from milan_spark.operators.layout import compact_files
    from tests.conftest import SF_SMOKE

    p = str(tmp_path / "sink3")
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").repartition(8).write.parquet(p)
    base = sorted(tuple(r) for r in spark.read.parquet(p).collect())

    real_rename = os.rename

    def crash_on_swap_in(src, dst):
        if src.endswith(".__tmp_compact"):
            raise OSError("crash between the renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_swap_in)
    with pytest.raises(OSError, match="crash between the renames"):
        compact_files(spark, p, target_mb=128)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(p)  # the crash window: path is missing

    stats = compact_files(spark, p, target_mb=128)
    assert stats["files_after"] <= 2
    assert sorted(tuple(r) for r in spark.read.parquet(p).collect()) == base
    assert not os.path.exists(f"{p}.__old_compact")
    assert not os.path.exists(f"{p}.__tmp_compact")
