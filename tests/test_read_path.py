"""The one parquet read path: ``sources.parquet_schema`` infers a file's
schema once per path, file identity and inference confs, equals what Spark
infers, and a known file is read with no inference job; versioned reads
take the manifest's schema."""

from __future__ import annotations

import datetime as dt
import decimal
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from milan_spark import sources
from milan_spark.sources import parquet_schema, read_parquet, table
from tests.conftest import SF_SMOKE


def _jobs(spark, fn, stage_prefix=""):
    """Run ``fn()`` in a fresh job group; returns (result, jobs it ran
    whose first stage's name starts with ``stage_prefix``)."""
    sc = spark.sparkContext
    group = f"read_path_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    firsts = [st.getStageInfo(min(st.getJobInfo(j).stageIds)) for j in st.getJobIdsForGroup(group)]
    return out, sum(s is not None and s.name.startswith(stage_prefix) for s in firsts)


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,)], "a long").write.parquet(p)
    assert parquet_schema(spark, p).simpleString() == "struct<a:bigint>"
    _, jobs = _jobs(spark, lambda: parquet_schema(spark, p))
    assert jobs == 0
    spark.createDataFrame([("x", 2)], "a string, b int").write.mode("overwrite").parquet(p)
    assert parquet_schema(spark, p).simpleString() == "struct<a:string,b:int>"
    assert read_parquet(spark, p).collect() == [("x", 2)]


def test_rewritten_single_file_with_pinned_mtime_is_inferred_again(tmp_path, spark):
    """A rewrite that keeps the size and pins the mtime (the staged
    microbatch files pin theirs) still changes the file's ctime."""
    p = str(tmp_path / "f.parquet")
    size = []
    for col in ("a", "b"):
        pq.write_table(pa.table({col: pa.array([1], pa.int64())}), p)
        os.utime(p, (1_000_000_000, 1_000_000_000))
        size.append(os.path.getsize(p))
        assert parquet_schema(spark, p).simpleString() == f"struct<{col}:bigint>"
    assert size[0] == size[1]


def _ntz_file(path: str) -> str:
    ts = pa.array([dt.datetime(2024, 1, 2, 3, 4, 5)], pa.timestamp("us"))
    pq.write_table(pa.table({"id": pa.array([1], pa.int64()), "ts": ts}), path)
    return path


def test_cached_schema_equals_spark_inference(spark, tmp_path):
    spark.range(40).selectExpr("id", "id % 3 AS k", "CAST(id AS STRING) AS s") \
        .repartition(4).write.parquet(str(tmp_path / "dir"))
    spark.range(40).selectExpr("id", "id % 3 AS k").write.partitionBy("k") \
        .parquet(str(tmp_path / "part"))
    paths = [
        f"{SF_SMOKE}/events.parquet",  # TIMESTAMP(NANOS), read as long
        _ntz_file(str(tmp_path / "ntz.parquet")),
        f"{SF_SMOKE}/lineitem.parquet",
        str(tmp_path / "dir"),
        str(tmp_path / "part"),
    ]
    for p in paths:
        want = spark.read.parquet(p).schema
        assert parquet_schema(spark, p) == want, p
        assert parquet_schema(spark, p) == want, p  # the cached entry
        assert read_parquet(spark, p).schema == want, p
    assert dict(read_parquet(spark, paths[1]).dtypes)["ts"] == "timestamp_ntz"
    part = str(tmp_path / "part")
    assert sorted(read_parquet(spark, part).collect()) == sorted(spark.read.parquet(part).collect())


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    p = _ntz_file(str(tmp_path / "ntz.parquet"))
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert dict(read_parquet(spark, p).dtypes)["ts"] == "timestamp_ntz"
    spark.conf.set(key, "false")
    try:
        assert parquet_schema(spark, p) == spark.read.parquet(p).schema
        assert dict(read_parquet(spark, p).dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.unset(key)


def test_second_table_read_launches_no_job(spark, tmp_path):
    shutil.copy(f"{SF_SMOKE}/events.parquet", tmp_path / "events.parquet")
    sf = str(tmp_path)
    first, jobs1 = _jobs(spark, lambda: table(spark, sf, "events"))
    second, jobs2 = _jobs(spark, lambda: table(spark, sf, "events"))
    assert jobs1 >= 1  # the one inference
    assert jobs2 == 0
    assert second.schema == first.schema
    assert dict(second.dtypes)["ts"] == "timestamp"


def test_ewma_event_backend_warm_build_infers_no_schema(spark, tmp_path):
    from milan_spark.catalog import queries

    shutil.copy(f"{SF_SMOKE}/events.parquet", tmp_path / "events.parquet")
    build = queries()["ewma_smoothing_event_backend"]
    _, cold = _jobs(spark, lambda: build(spark, str(tmp_path)), "parquet at")
    out, warm = _jobs(spark, lambda: build(spark, str(tmp_path)), "parquet at")
    assert (cold, warm) == (1, 0)
    assert out.count() > 0


def test_non_local_and_missing_paths_read_as_spark_does(spark, tmp_path):
    assert sources._local_path("s3a://bucket/t.parquet") is None
    assert sources._local_path(str(tmp_path / "*.parquet")) is None
    assert sources._local_path(f"file://{tmp_path}") == str(tmp_path)
    with pytest.raises(AnalysisException):
        parquet_schema(spark, str(tmp_path / "missing.parquet"))


def test_read_version_schema_equals_inferred(spark, tmp_path):
    from pyspark.sql.types import (
        ArrayType, DecimalType, LongType, StringType, StructField, StructType,
        TimestampNTZType, TimestampType,
    )

    from milan_spark.operators.versioned import (
        _read_manifest, commit_append, current_version, read_version,
    )

    schema = StructType([
        StructField("k", LongType(), False),
        StructField("amt", DecimalType(12, 2), True),
        StructField("ts", TimestampType(), True),
        StructField("ntz", TimestampNTZType(), True),
        StructField("xs", ArrayType(LongType(), False), False),
        StructField("st", StructType([
            StructField("a", StringType(), False),
            StructField("b", ArrayType(StringType(), True), True),
        ]), True),
    ])
    row = (1, decimal.Decimal("12.34"), dt.datetime(2024, 1, 2, 3, 4, 5),
           dt.datetime(2024, 1, 2, 3, 4, 5), [1, 2], ("x", ["y", None]))
    tbl = str(tmp_path / "tbl")
    commit_append(spark.createDataFrame([row], schema), tbl)
    commit_append(spark.createDataFrame([(2,) + row[1:]], schema), tbl)
    m = _read_manifest(tbl, current_version(tbl))
    inferred = spark.read.parquet(*[os.path.join(tbl, d) for d in m["dirs"]])
    got, jobs = _jobs(spark, lambda: read_version(spark, tbl))
    assert jobs == 0
    assert got.schema == inferred.schema
    assert sorted(got.collect()) == sorted(inferred.collect())
