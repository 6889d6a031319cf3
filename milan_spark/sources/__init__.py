"""Data sources (SURVEY.md §2.1).

The reference models sources as config objects attached per stream id
(``milan-lang/.../application/sources/*.scala``); here each maps to the
idiomatic Spark reader. Unlike the reference — which pins every source to
parallelism 1 (``flink/runtime/DataSourceUtil.scala:58-60``) — Spark readers
parallelize natively; we deliberately do not reproduce that bottleneck.

| reference                              | here                         |
|----------------------------------------|------------------------------|
| ListDataSource (ListDataSource.scala:22)   | :func:`list_source`      |
| DelayedListDataSource (testing/DelayedListDataSource.scala:68) | :class:`DelayedListSourceBuilder` |
| FileDataSource Once (FileDataSource.scala:22) | :func:`file_source`   |
| FileDataSource Continuous (:60-75)     | :func:`file_stream_source`; :func:`stream_files` pins a batch read's schema |
| S3DataSource (S3DataSource.scala:21)   | same readers on ``s3a://``   |
| CsvDataInputFormat (CsvDataInputFormat.scala:42-48) | fmt="csv" opts  |
| JsonDataInputFormat (JsonDataInputFormat.scala:21)  | fmt="json"      |
| Kinesis/DynamoDb/Sqs sources           | :mod:`milan_spark.sources.queues` (descriptors + local emulation) |

One parquet read path: every parquet source (:func:`table`,
:func:`read_parquet`, plan ``parquet_source`` nodes and their validation,
``Application`` parquet sources, the streaming queries' pinned schemas)
takes its schema from :func:`parquet_schema`, and passes it to the reader.
Spark runs a job to infer a parquet schema, and the catalog reads the same
few tables at hundreds of call sites on every pass; the reference declares
each source once with a known record type instead. The schema is inferred
once per key:

- the absolute path;
- the file's identity, ``(st_size, st_mtime_ns, st_ctime_ns)``; for a
  directory, the relative path and identity of every file under it, walked
  recursively (partition directories included). ``st_ctime_ns`` is there
  because writers that pin mtimes (the staged microbatch files do) could
  otherwise rewrite a file unseen; a rewritten file is inferred again;
- the session's parquet-inference confs (:data:`SCHEMA_CONFS`).

The cached value is the ``StructType`` Spark inferred: metadata, never
rows. Only local paths can be stat'ed, so a path with a URI scheme other
than ``file:`` (``s3a://``, ``hdfs://``), a glob, or a missing path is
inferred on every read, as Spark does by itself.
"""

from __future__ import annotations

import os
from typing import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from milan_spark.session import SEQ_COL

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def list_source(
    spark: SparkSession,
    rows: Iterable,
    schema=None,
    with_seq: bool = False,
) -> DataFrame:
    """In-memory fixed record list (ref: ListDataSource.scala:22).

    ``with_seq`` appends a monotonic ``__seq`` column capturing list order,
    which order-sensitive operators (scans, enrichment joins) key on — the
    analog of the reference's per-record sequence numbers.
    """
    rows = list(rows)
    if with_seq:
        if schema is not None and isinstance(schema, str):
            schema = f"{schema}, {SEQ_COL} long"
            rows = [tuple(r) + (i,) for i, r in enumerate(rows)]
            return spark.createDataFrame(rows, schema=schema)
        df = spark.createDataFrame(rows, schema=schema)
        # zipWithIndex preserves input order deterministically for local lists
        from pyspark.sql.types import LongType, StructField, StructType

        new_schema = StructType(list(df.schema.fields) + [StructField(SEQ_COL, LongType(), False)])
        rdd = df.rdd.zipWithIndex().map(lambda t: tuple(t[0]) + (t[1],))
        return spark.createDataFrame(rdd, schema=new_schema)
    return spark.createDataFrame(rows, schema=schema)


class DelayedListSourceBuilder:
    """Timed in-memory streaming source — the reference's
    ``DelayedListDataSource`` (testing/DelayedListDataSource.scala:68: a list
    of item-or-delay entries built with ``.add(item)`` / ``.wait(delay)``).

    What a streaming job can *observe* from the timed source is which records
    arrive together and in what order — the delays exist to split the list
    into separate arrivals. The default realization is therefore
    deterministic: each delay-separated segment becomes one file in a staged
    directory (mtimes strictly increasing, ``maxFilesPerTrigger=1``), so the
    running query sees exactly one segment per microbatch, in list order —
    the same batch boundaries the wall-clock delays would induce, without
    sleeping. ``real_time=True`` keeps the actual sleeps: a feeder thread
    writes each segment after its recorded delay while the query runs.
    """

    def __init__(self):
        self._segments: list[list] = [[]]
        self._delays: list[float] = []  # seconds to wait BEFORE segment i+1

    def add(self, item) -> "DelayedListSourceBuilder":
        self._segments[-1].append(item)
        return self

    def wait(self, delay_sec: float) -> "DelayedListSourceBuilder":
        self._segments.append([])
        self._delays.append(float(delay_sec))
        return self

    def build(
        self,
        spark: SparkSession,
        schema,
        *,
        staging_dir: str | None = None,
        with_seq: bool = False,
        real_time: bool = False,
    ) -> DataFrame:
        import glob
        import os
        import shutil
        import tempfile
        import threading
        import time

        stage = staging_dir or tempfile.mkdtemp(prefix="milan_delayed_src_")
        os.makedirs(stage, exist_ok=True)
        # Collapse empty segments (consecutive .wait() calls) while summing
        # their delays into the next non-empty segment's wait, so real_time
        # pairs each kept segment with the full accumulated delay before it.
        segments: list[list] = []
        delays: list[float] = []  # delays[i] = seconds to wait BEFORE segments[i]
        acc = 0.0
        for i, seg in enumerate(self._segments):
            if i > 0:
                acc += self._delays[i - 1] if i - 1 < len(self._delays) else 0.0
            if seg:
                segments.append(seg)
                delays.append(acc)
                acc = 0.0
        if with_seq and isinstance(schema, str):
            schema = f"{schema}, {SEQ_COL} long"
        seq = 0

        def write_segment(i: int, seg: list) -> None:
            nonlocal seq
            rows = seg
            if with_seq:
                rows = [tuple(r) + (seq + j,) for j, r in enumerate(seg)]
            sdf = spark.createDataFrame(rows, schema=schema)
            tmpd = os.path.join(stage, f"_tmp_{i}")
            sdf.coalesce(1).write.mode("overwrite").parquet(tmpd)
            part = glob.glob(os.path.join(tmpd, "part-*.parquet"))[0]
            final = os.path.join(stage, f"seg_{i:05d}.parquet")
            os.rename(part, final)
            shutil.rmtree(tmpd)
            # strictly increasing mtimes fix the file-source processing order
            os.utime(final, times=(1_000_000_000 + i, 1_000_000_000 + i))
            seq += len(seg)

        if real_time:
            def feed():
                for i, seg in enumerate(segments):
                    if delays[i]:
                        time.sleep(delays[i])
                    write_segment(i, seg)

            threading.Thread(target=feed, daemon=True).start()
        else:
            for i, seg in enumerate(segments):
                write_segment(i, seg)

        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )


def delayed_list_source() -> DelayedListSourceBuilder:
    """ref: DelayedListDataSource.builder() (testing/DelayedListDataSource.scala:47)."""
    return DelayedListSourceBuilder()


def file_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    options: Mapping[str, str] | None = None,
) -> DataFrame:
    """Batch file/directory read (ref: FileDataSource ReadMode.Once).

    CSV options mirror CsvDataInputFormat's ``skipHeader``/``columnSeparator``/
    ``nullIdentifier`` via Spark's ``header``/``sep``/``nullValue``.
    """
    if fmt == "parquet" and schema is None and not options:
        return read_parquet(spark, path)
    ensure_read_conf(spark)
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if options:
        reader = reader.options(**options)
    return reader.load(path)


def file_schema(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    options: Mapping[str, str] | None = None,
) -> StructType:
    """The schema a batch :func:`file_source` read of ``path`` has — what a
    streaming read of the same files is pinned to. Plain parquet goes
    through the :func:`parquet_schema` cache; other formats, or parquet
    with reader options, are inferred by a batch read."""
    if fmt == "parquet" and not options:
        return parquet_schema(spark, path)
    return file_source(spark, path, fmt=fmt, options=options).schema


def file_stream_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    options: Mapping[str, str] | None = None,
) -> DataFrame:
    """Continuous directory monitor (ref: FileDataSource ReadMode.Continuous)."""
    ensure_read_conf(spark)
    reader = spark.readStream.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if options:
        reader = reader.options(**options)
    return reader.load(path)


def _stage_dir(path: str) -> str:
    """FileStreamSource monitors directories, not files: a single-file path
    is exposed through a stable per-path symlink directory (no data copy).
    A directory path (a multi-part dataset) passes through unchanged;
    FileStreamSource does not list through a directory symlink, so linking
    one would stream nothing."""
    if os.path.isdir(path):
        return path
    import hashlib
    import tempfile

    tag = hashlib.sha1(os.path.abspath(path).encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"milan_stream_src_{tag}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, os.path.basename(path))
    if not os.path.lexists(link):
        os.symlink(os.path.abspath(path), link)
    return stage


def stream_files(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    options: Mapping[str, str] | None = None,
) -> DataFrame:
    """``readStream`` over the file or directory at ``path``, pinned to the
    schema a batch read of it has (:func:`file_schema`), so both backends
    see the same columns and types. One source for the streaming compiler's
    file nodes, ``Application`` file sources and the catalog's streams."""
    schema = file_schema(spark, path, fmt, options)
    return file_stream_source(spark, _stage_dir(path), fmt=fmt, schema=schema, options=options)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a stream: :func:`stream_files` with the
    timestamp normalization :func:`table` applies to the batch read."""
    return _normalize_events_ts(stream_files(spark, f"{sf_dir}/events.parquet"))


def ensure_read_conf(spark: SparkSession) -> SparkSession:
    """Make any SparkSession able to read the driver's parquet, idempotently.

    ``events.parquet`` stores TIMESTAMP(NANOS), which Spark rejects outright
    unless ``spark.sql.legacy.parquet.nanosAsLong`` is set. Our own session
    builder sets it, but callers (the correctness driver, a user's notebook)
    build their own sessions — so every read path re-asserts it at runtime.
    The conf is runtime-settable; setting it twice is a no-op.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # pinned-static in some builds; session builder already set it
    return spark


def load_tables(spark: SparkSession, sf_dir: str, tables: Sequence[str] = TPCH_TABLES) -> dict[str, DataFrame]:
    """Load the driver-provided parquet tables for a scale factor."""
    return {t: table(spark, sf_dir, t) for t in tables}


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a session-tz TIMESTAMP.

    The driver's generator has stored ``ts`` two ways across rounds:
    TIMESTAMP(NANOS) — readable only as a raw long under
    ``nanosAsLong`` — and TIMESTAMP(MICROS, isAdjustedToUTC=false), which
    Spark reads as TIMESTAMP_NTZ. Both normalize to the LTZ micros
    timestamp the operators and the DuckDB oracle (naive micros, UTC
    session) were validated against; the cast is value-preserving because
    every session here runs UTC.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        # integer division: double division would lose precision on epoch-nanos
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        return df
    # keep original column order
    return df.select("event_id", "ts", "user_id", "event_type", "value", "props")


#: Session confs that change the schema Spark infers from a parquet file.
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# abspath -> (identity, confs, schema): one entry per path, so a rewritten
# file or a changed conf replaces its entry instead of adding one. Shared by
# every session in the process, as a catalog is; two threads missing at once
# both infer, and either entry is right for its key.
_schemas: dict[str, tuple[tuple, tuple, StructType]] = {}


def _local_path(path: str) -> str | None:
    if path.startswith("file:"):
        path = path[len("file:"):]
        if path.startswith("//"):
            path = path[2:]
    elif "://" in path:
        return None
    if any(c in path for c in "*?[{"):
        return None
    return os.path.abspath(path)


def _identity(local: str) -> tuple:
    st = os.stat(local)
    if not os.path.isdir(local):
        return (st.st_size, st.st_mtime_ns, st.st_ctime_ns)
    files = []
    for root, dirs, names in os.walk(local):
        dirs.sort()
        for n in sorted(names):
            full = os.path.join(root, n)
            fst = os.stat(full)
            files.append((os.path.relpath(full, local), fst.st_size,
                          fst.st_mtime_ns, fst.st_ctime_ns))
    return tuple(files)


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    path, file identity and parquet-inference confs (module docstring)."""
    ensure_read_conf(spark)
    local = _local_path(path)
    try:
        ident = _identity(local) if local else None
    except OSError:
        ident = None  # missing: let Spark raise its own error
    if ident is None:
        return spark.read.parquet(path).schema
    confs = tuple(spark.conf.get(k, None) for k in SCHEMA_CONFS)
    hit = _schemas.get(local)
    if hit is not None and hit[0] == ident and hit[1] == confs:
        return hit[2]
    schema = spark.read.parquet(path).schema
    _schemas[local] = (ident, confs, schema)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema from
    :func:`parquet_schema`: no inference job once the file is known."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-provided table, normalizing the events timestamp."""
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _normalize_events_ts(df)
    return df


def versioned_source(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    where=None,
) -> DataFrame:
    """Batch read of a versioned table (``operators.versioned``): the
    current snapshot, a time-travel ``version``, or — with ``where``, a
    list of ``(col, op, value)`` predicates — a manifest-pruned read that
    skips files driver-side via zone maps / Bloom filters and still
    applies the exact predicate."""
    from milan_spark.operators.versioned import read_pruned, read_version

    ensure_read_conf(spark)
    if where:
        return read_pruned(spark, path, where, version)
    return read_version(spark, path, version)
