"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the configuration is chosen so the same code
scales to a multi-executor cluster: AQE on (runtime re-planning, skew-join
handling, partition coalescing), shuffle partitions sized by env, UTC session
timezone so results compare exactly against a DuckDB oracle, Arrow enabled for
the Pandas-UDF slow path.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import uuid
import warnings

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

# Name of the monotonic arrival-order column used by order-sensitive operators
# (scans, argmax ties, enrichment joins). Mirrors the reference's per-record
# sequence numbers (milan-flink-compiler .../types/RecordWrapper.scala:23).
SEQ_COL = "__seq"

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the ``file:`` FileSystem every session gets (see get_spark)
NO_FORK_FS = "milan_spark.jvm.NoForkLocalFileSystem"
_NO_FORK_SRC = os.path.join(_PACKAGE_ROOT, "milan_spark", "jvm", "NoForkLocalFileSystem.java")


def no_fork_fs_classpath() -> str | None:
    """The directory holding :data:`NO_FORK_FS` compiled against pyspark's
    Hadoop, or ``None`` (with a warning) where it cannot be built.

    It is compiled once, with ``javac --release 17``, into
    ``${XDG_CACHE_HOME:-~/.cache}/milan_spark/jvm/<key>/``, keyed by the
    source and the ``hadoop-client-api`` jar's name; a build goes to a temp
    dir that is then renamed, so concurrent first sessions cannot see half
    a build. Starts no JVM but ``javac``'s, and that only on a cold cache."""
    from pyspark.find_spark_home import _find_spark_home

    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    if not jars:
        warnings.warn("no hadoop-client-api jar in pyspark: Hadoop forks chmod per file")
        return None
    with open(_NO_FORK_SRC, "rb") as f:
        key = hashlib.sha256(f.read() + os.path.basename(jars[-1]).encode()).hexdigest()[:16]
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    out = os.path.join(cache, "milan_spark", "jvm", key)
    if os.path.isfile(os.path.join(out, *NO_FORK_FS.split(".")) + ".class"):
        return out
    javac = shutil.which("javac")
    if javac is None:
        warnings.warn("no javac: Hadoop's local file system forks chmod per file it creates")
        return None
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".build-", dir=os.path.dirname(out))
    try:
        subprocess.run(
            [javac, "--release", "17", "-cp", jars[-1], "-d", tmp, _NO_FORK_SRC],
            check=True, capture_output=True,
        )
        os.rename(tmp, out)
    except subprocess.CalledProcessError as e:
        warnings.warn(f"javac failed, Hadoop forks chmod per file: {e.stderr.decode()[-500:]}")
        return None
    except OSError:  # another process renamed its build in first
        if not os.path.isdir(out):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _no_fork_fs_confs() -> dict[str, str]:
    """Confs that make :data:`NO_FORK_FS` the session's ``file:`` FileSystem,
    for a JVM this builder launches: a running one (``spark-submit``'s
    included) keeps the classpath it started with."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return {}
    if "--driver-class-path" in os.environ.get("PYSPARK_SUBMIT_ARGS", ""):
        return {}  # it would replace the classpath set here
    cp = no_fork_fs_classpath()
    if cp is None:
        return {}
    return {"spark.driver.extraClassPath": cp, "spark.hadoop.fs.file.impl": NO_FORK_FS}


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

    ``spark.sql.ui.explainMode`` is ``simple``. Adaptive execution rebuilds
    the whole plan's explain string in this mode on every stage completion
    (``AdaptiveSparkPlanExec.onUpdatePlan``) and posts it to the listener
    bus for the SQL UI; the default ``formatted`` string costs more to
    build, and an iterative builder such as ``ktruss_coparts`` completes
    many small stages. The UI is off here; event logs get the shorter plan.

    The ``file:`` FileSystem (``spark.hadoop.fs.file.impl``) is
    :data:`NO_FORK_FS`, ``milan_spark/jvm/NoForkLocalFileSystem.java``:
    Hadoop's checksummed local file system over a raw store whose
    ``setPermission`` sets the same mode bits with
    ``Files.setPosixFilePermissions``. Without libhadoop the stock one forks
    ``chmod`` (3–5 ms from the driver JVM) for every file and directory it
    creates: streaming offset, commit and state files with their ``.crc``
    sidecars (40 forks per warm ``streaming_last_per_key`` run at 4 task
    slots), file and versioned sinks, staged microbatch files. A sticky-bit
    mode, a target carrying a setuid/setgid bit, or a non-POSIX store still
    goes to ``chmod``, so every mode lands as before. The class is compiled
    once into a cache (:func:`no_fork_fs_classpath`) and put on
    ``spark.driver.extraClassPath``, so it applies to a JVM this call
    starts. Without ``javac`` (and no cached build) the session starts with
    the stock file system and one warning. FileContext users (named streaming checkpoints) build their
    own raw local file system and still fork.
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
        .config("spark.sql.ui.explainMode", "simple")
    )
    for k, v in _no_fork_fs_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def sql(spark: SparkSession, text: str, **frames: DataFrame) -> DataFrame:
    """``spark.sql(text, **frames)``: ``{name}`` in ``text`` reads the frame
    passed as ``name``, and the statement is analyzed once.

    PySpark's own form drops each frame's temp view through
    ``Catalog.dropTempView``, which also uncaches every cached plan equal to
    the view's, so a persisted frame passed in silently loses its cache and
    is recomputed by each reader. Here the views are dropped from the
    session catalog alone, which leaves the cache manager untouched."""
    views = {k: f"_milan_{uuid.uuid4().hex}" for k in frames}
    for k, df in frames.items():
        df.createOrReplaceTempView(views[k])
    try:
        return spark.sql(text.format(**views))
    finally:
        catalog = spark._jsparkSession.sessionState().catalog()
        for v in views.values():
            catalog.dropTempView(v)


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

    The RDDs are read by index from a Scala list of the persistent map's
    values: iterating a py4j-converted Java map ends in a Java
    ``NoSuchElementException``, which PySpark's captured-exception hook
    converts at ~30 ms a call.
    """
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs().values().toList()
    n = rdds.size()
    for i in range(n):
        rdds.apply(i).unpersist(True)  # blocking: blocks are gone before we return
    return n
