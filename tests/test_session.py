"""Session defaults that change how PySpark builds a query."""

from __future__ import annotations


def test_call_site_capture_is_off(spark):
    """Every ``functions``/``Column`` call would otherwise walk the Python
    stack and make about seven py4j round trips to record its call site."""
    from pyspark.errors.utils import is_debugging_enabled
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    F.col("a") + 1  # the first wrapped call reads the conf, once per process
    assert not is_debugging_enabled()


def test_release_cached_drops_cache_and_checkpoints_without_java_errors(spark, monkeypatch):
    """Both kinds of block go: a catalog-cached frame and a bare
    ``localCheckpoint`` RDD. Reading the persistent RDDs by index raises no
    Java exception; iterating a py4j-converted map ended in a
    ``NoSuchElementException`` that PySpark converted on every call."""
    from pyspark.errors.exceptions import captured

    from milan_spark.session import release_cached

    release_cached(spark)
    cached = spark.range(100).persist()
    cached.count()
    spark.range(50).localCheckpoint()
    sc = spark.sparkContext._jsc.sc()
    assert sc.getPersistentRDDs().size() == 2
    converted = []
    real = captured.convert_exception
    monkeypatch.setattr(captured, "convert_exception", lambda e: converted.append(e) or real(e))
    assert release_cached(spark) >= 1  # clearCache may have dropped the cached one already
    assert converted == []
    assert sc.getPersistentRDDs().size() == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_sql_keeps_a_persisted_frame_cached(spark):
    """``session.sql`` reads a persisted frame from its cache and leaves it
    cached; PySpark's ``spark.sql(text, e=df)`` uncaches ``df`` when it
    drops the frame's temp view."""
    from milan_spark.session import release_cached, sql

    df = spark.range(10).selectExpr("id AS u").persist()
    cm = spark._jsparkSession.sharedState().cacheManager()
    out = sql(spark, "SELECT count(1) AS n FROM {e}", e=df)
    assert "InMemoryRelation" in out._jdf.queryExecution().optimizedPlan().toString()
    assert out.collect()[0]["n"] == 10
    assert not cm.isEmpty()
    assert not any(t.name.startswith("_milan_") for t in spark.catalog.listTables())
    release_cached(spark)
