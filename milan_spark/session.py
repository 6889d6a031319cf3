"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the configuration is chosen so the same code
scales to a multi-executor cluster: AQE on (runtime re-planning, skew-join
handling, partition coalescing), shuffle partitions sized by env, UTC session
timezone so results compare exactly against a DuckDB oracle, Arrow enabled for
the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Name of the monotonic arrival-order column used by order-sensitive operators
# (scans, argmax ties, enrichment joins). Mirrors the reference's per-record
# sequence numbers (milan-flink-compiler .../types/RecordWrapper.scala:23).
SEQ_COL = "__seq"

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "milan_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Create or reuse a SparkSession with engine defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    On a real cluster the master/memory settings are supplied by spark-submit;
    everything set here is cluster-safe.

    Python workers fork from ``milan_spark.pydaemon``, Spark's own daemon
    with one patch: on CPython < 3.13 every Python-UDF task in a reused
    worker calls ``importlib.invalidate_caches()``, which re-reads the
    directory of ``pyspark.zip``, the spark-core jar and py4j (16 reads,
    ~200 ms a task on 4 cores); the patch skips a read whose archive's stat
    is unchanged. CPython 3.13 makes that invalidation lazy, and the module
    then only starts the stock daemon. ``spark.executorEnv.PYTHONPATH`` puts
    this package's root on the workers' path so the daemon imports from any
    working directory.

    DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``) is
    off. With it on, PySpark wraps every ``functions``/``Column`` call to
    capture its Python call site: an ``inspect`` stack walk and about seven
    py4j round trips (three ``getActiveSession``, the JVM origin class
    lookup, a conf read, its ``set`` and ``clear``). That was a third to a
    half of a query build's py4j calls (``ktruss_coparts`` 1,347 → 896,
    ``streaming_left_enrichment_join`` 1,033 → 499). The cost: a Spark
    runtime error (an ANSI overflow, a bad cast) no longer carries its
    ``== DataFrame ==`` context naming the Python line that built the
    failing expression; the error class and message stay. PySpark reads the
    conf once per process, at the first wrapped call with an active
    session, so it must be set before any session builds a column.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark lacks a nanos
        # timestamp type, so read as long and convert in sources.table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: the driver JVM IS the executor, so this is the whole
        # heap for all N concurrent tasks. 8g measurably GC-throttled the
        # text-dedup operators at 10x sf0.1 (ngram_jaccard 60s -> 19s at a
        # bigger heap; see SCALE.md); ~0.75g/core is the floor for 32 cores.
        # On a real cluster spark-submit sizes executors and this is unused.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.daemon.module", "milan_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_cached(spark: SparkSession) -> int:
    """Blocking-release every cached block in the session: catalog-cached
    DataFrames AND bare persisted/localCheckpoint RDDs.

    ``spark.catalog.clearCache()`` drops cached *queries* but unpersists
    asynchronously and never touches ``localCheckpoint`` RDDs (they are not
    catalog entries), so a long-lived session that runs many multi-pass
    operators (dedup indexes, Cycle fixpoints) accumulates dead blocks and
    evicts live ones. Measured at 10x sf0.1: back-to-back passes of
    ngram_jaccard_dedup degraded 22s -> 59s -> 78s without this; flat with
    it. Harness layers (bench.py, tools/) call this between queries; user
    code with one query per session never needs it. Returns the number of
    RDDs released.
    """
    spark.catalog.clearCache()
    sc = spark.sparkContext._jsc.sc()
    jmap = spark._jvm.scala.collection.JavaConverters.mapAsJavaMap(sc.getPersistentRDDs())
    rdds = list(jmap.values())
    for rdd in rdds:
        rdd.unpersist(True)  # blocking: blocks are gone before we return
    return len(rdds)
