"""Structured Streaming backend (SURVEY.md §2.1 sinks, §2.5 windows, §3.3).

The reference compiles its IR to a Flink streaming job; here the same logical
plans compile to Structured Streaming queries. Mapping:

| reference                                         | here                  |
|---------------------------------------------------|-----------------------|
| FileDataSource ReadMode.Continuous                | ``sources.file_stream_source`` |
| SingletonMemorySink (SingletonMemorySink.scala:17)| :func:`run_to_memory` |
| FileDataSink (FileDataSink.scala:18)              | :func:`file_sink`     |
| ConsoleDataSink (ConsoleDataSink.scala:15)        | :func:`console_sink`  |
| LogSink / plugin sinks (DataSinkGenerator.scala:22-37) | :func:`foreach_batch_sink` |
| watermark = window size (WindowedStreamsGenerator.scala:129-130) | :func:`windowed_agg` default |
| every-element trigger (RecordWrapperEveryElementTrigger.scala:15-19) | ``stateful.windowed_agg_per_record`` (exact cadence); :func:`windowed_agg` relaxes to per-microbatch |

Emission-cadence equivalence: the reference emits a refined aggregate on
*every record*. ``stateful.windowed_agg_per_record`` reproduces that cadence
exactly (a (window, key) value-state machine emitting per arrival, oracle =
the full refinement history); the built-in-aggregate path
(:func:`windowed_agg`) keeps Structured Streaming's per-microbatch emission —
final-state-equal, and the cheaper plan when the refinement stream itself
isn't consumed. Scans/enrichment joins emit per record by construction.

Stateful per-record operators (enrichment joins, scans) live in
``milan_spark.streaming.stateful``.
"""

from __future__ import annotations

import json
import tempfile
from contextlib import contextmanager
from typing import Callable, Iterator, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

_FS_CHECKPOINTS = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


@contextmanager
def _conf_scope(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the block and restore the previous
    values (or unset them) after it. A query clones the session conf at
    ``start()``, so a scope around a start sets the confs of that query
    alone. An empty ``confs`` is a passthrough."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _start(
    w: DataStreamWriter,
    sdf: DataFrame,
    state_partitions: int | None = None,
    *,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Start ``w``, a writer over ``sdf``; every sink starts here.

    ``checkpoint`` is the checkpoint directory the caller named, already set
    on ``w``; ``None`` means the checkpoint is private: Spark's own temp dir,
    or one the sink made itself, so no later run can resume from it.

    A query clones the session conf at ``start()`` and keeps these settings
    for the life of its checkpoint, so they are set around the start and
    restored right after (a restart from an existing checkpoint keeps its
    own):

    - state stores (``spark.sql.shuffle.partitions``): ``state_partitions``,
      else one per task slot up to 8. Each store costs a task and a commit
      per microbatch (in a state machine, a Python-UDF task on a reused
      worker; see ``milan_spark.pydaemon`` for its fixed cost), so more
      stores than slots run the state stage in extra waves. (The reference
      sizes each operator by Flink parallelism, pinning sources to 1:
      DataSourceUtil.scala:58-60.)
    - the checkpoint file manager: a private checkpoint writes its offsets,
      commits and state deltas through the FileSystem manager, a temp file
      plus one ``rename(2)``, still atomic with the one writer it has.
      When Hadoop's native library is missing, Spark's default FileContext
      manager forks ``readlink`` per rename and ``chmod`` per created file
      and directory. The FileSystem manager drops the ``readlink``s; its
      ``chmod``s go with the session's ``file:`` FileSystem, which sets
      modes in-process (``session.NO_FORK_FS``). A file source's own log is
      opened on the query's thread, racing the restore, so it may get
      either manager. A named checkpoint keeps FileContext, which builds
      its own local file system and still forks both: its no-overwrite
      rename is what detects a second writer on a checkpoint shared across
      restarts.
    """
    spark = sdf.sparkSession
    n = state_partitions or min(8, spark.sparkContext.defaultParallelism)
    confs = {"spark.sql.shuffle.partitions": str(n)}
    # a session-wide checkpoint root names the checkpoint of every query
    # that sets none (``<root>/<queryName>``), so it is not private
    root = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    if checkpoint is None and root is None:
        confs["spark.sql.streaming.checkpointFileManagerClass"] = _FS_CHECKPOINTS
    with _conf_scope(spark, confs):
        return w.start()


def await_finished(q: StreamingQuery, timeout_sec: int = 300) -> None:
    """Wait for ``q``, a bounded (availableNow) query, to end. A query still
    running after ``timeout_sec`` is stopped and raises
    ``MilanStreamTimeoutError``: its sink holds only the microbatches that
    finished, which a caller must not read as the whole result."""
    if q.awaitTermination(timeout_sec):
        return
    q.stop()
    from milan_spark.errors import MilanStreamTimeoutError

    raise MilanStreamTimeoutError(
        f"streaming query {q.name or q.id!r} did not finish within {timeout_sec} s; "
        "it was stopped, and its partial result is not returned"
    )


# per-microbatch StreamingQueryProgress dicts of the most recent
# run_to_memory query — observability for state-size/duration measurements
# (tools/scale_bench.py --streaming reads state-store rows per batch here)
_LAST_PROGRESS: list = []


def last_progress() -> list[dict]:
    """StreamingQueryProgress entries (as dicts) of the last query that
    :func:`run_to_memory` ran to completion, oldest first."""
    return list(_LAST_PROGRESS)


def windowed_agg(
    sdf: DataFrame,
    ts: str,
    size: str,
    *,
    slide: str | None = None,
    offset: str | None = None,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling/sliding event-time aggregate on a stream.

    ``watermark`` defaults to the window size — the reference's exact policy
    (``flink/generator/WindowedStreamsGenerator.scala:129-130`` sets watermark
    delay = window size). Output key is the window start
    (doc/Streams in Milan and streaming operations.md:70-71).
    """
    sdf = sdf.withWatermark(ts, watermark or size)
    win = F.window(ts, size, slide or size, offset)
    out = sdf.groupBy(win.alias("__w"), *[F.col(k) for k in keys]).agg(*aggs)
    # agg() output order is fixed: grouping cols then aggregates
    return out.select(F.col("__w.start").alias("window_start"), *out.columns[1:])


def run_to_memory(
    sdf: DataFrame,
    name: str,
    *,
    output_mode: str = "append",
    timeout_sec: int = 300,
    state_partitions: int | None = None,
    require_input: bool = True,
) -> DataFrame:
    """Run a streaming DataFrame to completion into an in-memory table and
    return it (ref: SingletonMemorySink.scala:17-45 — tests write to a
    process-global sink then await expected counts; availableNow + await
    replaces the polling).

    ``state_partitions`` sizes the query's state stores; the default is one
    per task slot, up to 8 (see :func:`_start`). A query still running after
    ``timeout_sec`` is stopped and raises ``MilanStreamTimeoutError``: the
    memory table would hold only the microbatches that finished.
    """
    w = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    q = _start(w, sdf, state_partitions)
    await_finished(q, timeout_sec)
    # a progress record that fails to parse raises here: reading it as "no
    # progress" would report every source as empty below
    raw = []
    for p in q.recentProgress or []:
        if isinstance(p, dict):
            raw.append(p)
        else:  # StreamingQueryProgress object: .json is a str or method
            j = getattr(p, "json", None)
            raw.append(json.loads(j if isinstance(j, str) else j()))
    _LAST_PROGRESS[:] = raw
    if require_input and _sources_never_advanced(_LAST_PROGRESS):
        # permanent tripwire for the silent-empty-source class of bug (the
        # round-5–8 sf1 regression: a staging symlink produced an empty
        # FileStreamSource and every downstream assertion still "passed" on
        # zero rows). The discriminator is the source OFFSET, not
        # numInputRows: a source whose endOffset never advanced discovered
        # nothing, while a query whose filters were pushed into the scan
        # legitimately reports numInputRows == 0 yet still commits offsets.
        # Opt out (require_input=False) only for deliberately-empty fixtures.
        from milan_spark.errors import MilanEmptyStreamError

        raise MilanEmptyStreamError(
            f"streaming query {name!r} completed with NO source ever "
            "advancing its offset — every source is empty or mis-staged "
            "(directory-shaped path, wrong glob, stale symlink). Pass "
            "require_input=False if an empty source is intended."
        )
    return sdf.sparkSession.table(name)


def _sources_never_advanced(progress: list[dict]) -> bool:
    """True when across ALL microbatches, EVERY source's endOffset stayed
    unset — the whole query read from dead sources. (Queries with zero
    recorded progress entries count as dead too.)"""
    for p in progress:
        for s in p.get("sources") or []:
            end = s.get("endOffset")
            if end is not None and end != "None":
                return False
    return True


def file_sink(
    sdf: DataFrame,
    path: str,
    *,
    fmt: str = "parquet",
    checkpoint: str | None = None,
    output_mode: str = "append",
    available_now: bool = True,
    options: Mapping[str, str] | None = None,
) -> StreamingQuery:
    """Streaming file writer (ref: FileDataSink.scala:18; CsvDataOutputFormat /
    JsonDataOutputFormat map to fmt='csv'/'json')."""
    w = (
        sdf.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint or tempfile.mkdtemp(prefix="milan_ckpt_"))
        .outputMode(output_mode)
    )
    if options:
        w = w.options(**options)
    if available_now:
        w = w.trigger(availableNow=True)
    named = (options or {}).get("checkpointLocation", checkpoint)
    return _start(w, sdf, checkpoint=named)


def console_sink(sdf: DataFrame, *, output_mode: str = "append") -> StreamingQuery:
    """ref: ConsoleDataSink.scala:15."""
    return _start(sdf.writeStream.format("console").outputMode(output_mode), sdf)


def foreach_batch_sink(
    sdf: DataFrame,
    fn: Callable[[DataFrame, int], None],
    *,
    output_mode: str = "append",
    available_now: bool = True,
) -> StreamingQuery:
    """Pluggable sink escape hatch (ref: DataSinkGenerator.scala:22-37 routes
    unknown sinks to plugins; LogSink.scala:15 is the trivial case)."""
    w = sdf.writeStream.foreachBatch(fn).outputMode(output_mode)
    if available_now:
        w = w.trigger(availableNow=True)
    return _start(w, sdf)


def upsert_sink(
    sdf: DataFrame,
    path: str,
    key_cols: Sequence[str],
    *,
    seq_col: str | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming MERGE/upsert sink via foreachBatch: each microbatch
    commits into the versioned table at ``path`` (a plain-parquet table
    from before that layout raises) through
    ``operators.versioned.commit_merge`` — matched keys replaced whole by
    the batch's row, unmatched inserted, the rest kept (read it with
    ``read_version``). The foreachBatch-merge idiom is how Structured
    Streaming upserts into any store without a transactional row-level
    API; table formats with native MERGE (Delta/Iceberg) swap the inner
    function for their own command.

    Within-batch duplicates of a key resolve by ``seq_col`` (greatest
    wins); with no ``seq_col`` an ambiguous batch raises
    ``MilanDuplicateKeyError`` rather than picking an arbitrary row.

    A replayed batch commits nothing: its ``batch=<queryId>:<batchId>``
    tag is in the manifest chain (``versioned.once_per_batch``). The query
    id is new under each private checkpoint, so every run without a named
    ``checkpoint`` merges all its batches. Each merge rewrites the table,
    O(table) per batch, and keeps only the head and its parent on disk; at
    100 TB the table partitions on a key hash and only partitions holding
    batch keys rewrite (or a transactional format takes over).
    """
    from milan_spark.operators.versioned import merge_sink

    w = (
        sdf.writeStream.foreachBatch(merge_sink(path, key_cols, seq_col=seq_col))
        .option("checkpointLocation", checkpoint or tempfile.mkdtemp(prefix="milan_ckpt_"))
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return _start(w, sdf, checkpoint=checkpoint)
