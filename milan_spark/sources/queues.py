"""Queue/stream connector descriptors + a file-backed local emulation.

The reference declares its queue connectors as thin serializable DESCRIPTORS
— stream/queue coordinates plus a data format — and leaves the actual
binding to whichever compiler consumes the application
(``application/sources/KinesisDataSource.scala:35`` carries stream name +
region + ``DataInputFormat``; ``SqsDataSource.scala:17`` a queue URL;
``DynamoDbStreamSource.scala:16`` a table name; sinks
``KinesisDataSink.scala:19`` (+ ``queueLimit``), ``SqsDataSink.scala:17``,
``DynamoDbTableSink.scala:17``). The record type rides the descriptor as a
``TypeDescriptor`` generic argument.

This module is the Spark twin. Each descriptor resolves, at analysis time,
to one of three bindings:

1. **A real Spark connector** when the descriptor names a remote endpoint:
   Kinesis attempts the ``kinesis`` data-source format (the
   spark-streaming-sql-kinesis connector registers it); SQS and DynamoDB
   Streams have no first-party Spark source, so remote coordinates raise
   immediately. Either failure is a :class:`MilanConnectorError` naming the
   missing package — at bind time, not a ``ClassNotFoundException`` from
   inside a running stage.
2. **The local file-backed emulation** when the coordinate is
   ``local:<directory>``: messages are JSON documents spooled one file per
   send, sequence-numbered and mtime-ordered (FIFO — the same
   file-arrival-order recipe the streaming oracles use), so every
   queue-shaped pipeline is testable in-sandbox and in CI without AWS.
   The emulated DynamoDB table additionally keeps its state as a versioned
   table (keyed upserts through ``versioned.commit_merge``) and a JSON
   **change log**, so ``DynamoDbStreamSource`` reads exactly what
   ``DynamoDbTableSink`` wrote — the table/stream pairing DynamoDB itself
   provides.
3. The record schema is explicit (a DDL string) — the role the reference's
   ``TypeDescriptor[T]`` generic argument plays (``getGenericArguments``).

Scale note: the emulation serializes each send through one file — a queue
IS a serialization point, and both Kinesis and SQS meter by small batches.
``KinesisDataSink.queue_limit`` (the reference's bounded producer buffer)
is honored by chunking each microbatch into files of at most
``queue_limit`` messages, preserving order. None of this is on the 100 TB
data path: queues carry control-plane volumes; bulk data stays on the
object-store sources.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from milan_spark.errors import MilanAnalysisError

LOCAL_PREFIX = "local:"


class MilanConnectorError(MilanAnalysisError):
    """A queue connector was requested against a remote endpoint in an
    environment that lacks the connector package. Raised at bind time with
    the package name, mirroring the analysis-first error discipline of the
    rest of the engine."""


def _is_local(coord: str | None) -> bool:
    return bool(coord) and coord.startswith(LOCAL_PREFIX)


def _local_dir(coord: str) -> str:
    d = coord[len(LOCAL_PREFIX):]
    os.makedirs(d, exist_ok=True)
    return d


def _next_seq(d: str) -> int:
    ns = [
        int(f.split("-")[1].split(".")[0])
        for f in os.listdir(d)
        if f.startswith("msg-") and f.endswith(".json")
    ]
    return (max(ns) + 1) if ns else 0


def _spool(d: str, docs: list[dict], chunk: int | None = None) -> None:
    """Append messages to the spool, one JSON-lines file per chunk,
    sequence-numbered and mtime-ordered so FileStreamSource replays FIFO."""
    chunk = chunk or len(docs) or 1
    seq = _next_seq(d)
    for i in range(0, max(len(docs), 1), chunk):
        part = docs[i : i + chunk]
        if not part:
            break
        fname = os.path.join(d, f"msg-{seq:09d}.json")
        tmp = fname + ".tmp"
        with open(tmp, "w") as f:
            for doc in part:
                f.write(json.dumps(doc, sort_keys=True) + "\n")
        os.replace(tmp, fname)  # atomic publish: readers never see partials
        os.utime(fname, (1_000_000_000 + seq, 1_000_000_000 + seq))
        seq += 1


# ---------------------------------------------------------------------------
# source descriptors


@dataclass(frozen=True)
class KinesisDataSource:
    """ref: application/sources/KinesisDataSource.scala:35 — stream name +
    region + data format; the record type is the ``schema`` DDL here (the
    TypeDescriptor generic argument there). ``stream_name='local:<dir>'``
    binds the file-backed emulation."""

    stream_name: str
    region: str
    schema: str
    data_format: str = "json"

    kind = "kinesis"

    def to_spec(self) -> dict:
        return {"kind": self.kind, "stream_name": self.stream_name,
                "region": self.region, "schema": self.schema,
                "data_format": self.data_format}


@dataclass(frozen=True)
class SqsDataSource:
    """ref: application/sources/SqsDataSource.scala:17 — queue URL optional
    at declaration time (supplied when the generated code is invoked); here
    the same late binding is ``queue_url=None`` + ``bind(queue_url=...)``."""

    queue_url: str | None
    schema: str

    kind = "sqs"

    def to_spec(self) -> dict:
        return {"kind": self.kind, "queue_url": self.queue_url, "schema": self.schema}


@dataclass(frozen=True)
class DynamoDbStreamSource:
    """ref: application/sources/DynamoDbStreamSource.scala:16 — reads a
    table's CHANGE STREAM. The emulation reads the change log that
    :class:`DynamoDbTableSink` maintains next to its table state, so the
    table/stream pairing behaves like the real service's."""

    table_name: str | None
    schema: str

    kind = "dynamodb_stream"

    def to_spec(self) -> dict:
        return {"kind": self.kind, "table_name": self.table_name, "schema": self.schema}


# ---------------------------------------------------------------------------
# sink descriptors


@dataclass(frozen=True)
class KinesisDataSink:
    """ref: application/sinks/KinesisDataSink.scala:19 — ``queue_limit`` is
    the bounded producer buffer; the emulation honors it by chunking each
    microbatch into files of at most that many messages, order-preserving."""

    sink_id: str
    stream_name: str
    region: str
    queue_limit: int | None = None

    kind = "kinesis"

    def to_spec(self) -> dict:
        return {"kind": self.kind, "sink_id": self.sink_id,
                "stream_name": self.stream_name, "region": self.region,
                "queue_limit": self.queue_limit}


@dataclass(frozen=True)
class SqsDataSink:
    """ref: application/sinks/SqsDataSink.scala:17."""

    sink_id: str
    queue_url: str | None = None

    kind = "sqs"

    def to_spec(self) -> dict:
        return {"kind": self.kind, "sink_id": self.sink_id, "queue_url": self.queue_url}


@dataclass(frozen=True)
class DynamoDbTableSink:
    """ref: application/sinks/DynamoDbTableSink.scala:17 — a KV upsert
    writer. The emulation upserts each microbatch into a versioned table
    keyed on ``key_cols`` (``versioned.commit_merge``, whole-row put
    semantics) and appends every upserted row to the table's change log."""

    sink_id: str
    table_name: str | None = None
    key_cols: Sequence[str] = field(default_factory=tuple)

    kind = "dynamodb_table"

    def to_spec(self) -> dict:
        return {"kind": self.kind, "sink_id": self.sink_id,
                "table_name": self.table_name, "key_cols": list(self.key_cols)}


# ---------------------------------------------------------------------------
# binding


_CONNECTOR_HINTS = {
    "kinesis": "spark-streaming-sql-kinesis (data-source format 'kinesis')",
    "sqs": "no first-party Spark SQS source exists; front the queue with "
           "Kinesis/Kafka or use the local: emulation",
    "dynamodb_stream": "no first-party Spark DynamoDB Streams source exists; "
                       "bridge via Kinesis adapters or use the local: emulation",
}


# Messages per replay microbatch: the spool is mtime-ordered so FIFO replay
# order is a property of the file LISTING, not of one-file-per-trigger —
# draining many message files per microbatch keeps losslessness/exactly-once
# and order while shedding the ~0.5 s/microbatch floor the one-file setting
# paid (measured on the kinesis roundtrip: every queue chunk became its own
# microbatch). Bounded (not unlimited) so a huge backlog still batches sanely.
_REPLAY_FILES_PER_TRIGGER = 1000


def _emulation_stream(spark: SparkSession, d: str, schema: str) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", _REPLAY_FILES_PER_TRIGGER)
        .json(d)
    )


def open_queue_source(spark: SparkSession, spec: Mapping) -> DataFrame:
    """Bind a source descriptor spec (``to_spec()`` output / bundle JSON) to
    a streaming DataFrame."""
    kind = spec["kind"]
    coord = {
        "kinesis": spec.get("stream_name"),
        "sqs": spec.get("queue_url"),
        "dynamodb_stream": spec.get("table_name"),
    }[kind]
    if coord is None:
        raise MilanConnectorError(
            f"{kind} source: coordinate not bound (the reference allows "
            "declaring without one; supply it before running)"
        )
    if _is_local(coord):
        d = _local_dir(coord)
        if kind == "dynamodb_stream":
            d = os.path.join(d, "_changelog")
            os.makedirs(d, exist_ok=True)
        return _emulation_stream(spark, d, spec["schema"])
    if kind == "kinesis":
        try:
            return (
                spark.readStream.format("kinesis")
                .option("streamName", coord)
                .option("region", spec["region"])
                .load()
            )
        except Exception as e:  # connector jar absent
            raise MilanConnectorError(
                f"kinesis source {coord!r}: connector not available on this "
                f"session ({_CONNECTOR_HINTS['kinesis']}); for tests use "
                f"stream_name='local:<dir>'. Underlying: {type(e).__name__}"
            ) from e
    raise MilanConnectorError(
        f"{kind} source {coord!r}: {_CONNECTOR_HINTS[kind]}"
    )


def read_queue_batch(spark: SparkSession, spec: Mapping) -> DataFrame:
    """Batch replay of an emulated queue spool (the bounded twin the batch
    backend uses — same files, same schema, one batch read)."""
    kind = spec["kind"]
    coord = {
        "kinesis": spec.get("stream_name"),
        "sqs": spec.get("queue_url"),
        "dynamodb_stream": spec.get("table_name"),
    }[kind]
    if not _is_local(coord):
        raise MilanConnectorError(
            f"{kind} source {coord!r}: batch replay exists only for the "
            "local: emulation"
        )
    d = _local_dir(coord)
    if kind == "dynamodb_stream":
        d = os.path.join(d, "_changelog")
        os.makedirs(d, exist_ok=True)
    if not any(f.endswith(".json") for f in os.listdir(d)):
        return spark.createDataFrame([], spec["schema"])
    return spark.read.schema(spec["schema"]).json(d)


#: hard cap on messages the emulation will pull through the driver per
#: microbatch. A queue is a control-plane transport; hitting this means the
#: pipeline is pushing BULK DATA through a queue, which is wrong at any
#: scale — the error says to use a file/parquet sink instead.
EMULATION_BATCH_CAP = 1_000_000


def _collect_messages(batch_df: DataFrame, coord: str) -> list[dict]:
    """Deliberate, guarded driver-side collect: the emulated queue's
    serialization point (a real producer serializes too). Capped so a
    mis-routed bulk pipeline fails with advice, not an OOM."""
    rows = batch_df.limit(EMULATION_BATCH_CAP + 1).toJSON().collect()
    if len(rows) > EMULATION_BATCH_CAP:
        raise MilanConnectorError(
            f"queue {coord!r}: a single microbatch exceeds "
            f"{EMULATION_BATCH_CAP} messages — queues are control-plane "
            "transports; route bulk data to a file/parquet sink"
        )
    return [json.loads(r) for r in rows]


def _sink_coord(spec: Mapping) -> str | None:
    return {
        "kinesis": spec.get("stream_name"),
        "sqs": spec.get("queue_url"),
        "dynamodb_table": spec.get("table_name"),
    }[spec["kind"]]


def _table_key_cols(spec: Mapping, coord: str) -> list[str]:
    key_cols = list(spec.get("key_cols") or [])
    if not key_cols:
        raise MilanConnectorError(
            f"dynamodb_table sink {coord!r}: key_cols required (the table's "
            "primary key)"
        )
    return key_cols


def _table_put(df: DataFrame, base: str, key_cols: list[str], coord: str) -> int:
    """Put ``df`` into the emulated DynamoDB table at ``base``: a keyed
    whole-row upsert of its versioned state (``versioned.merge_head``, with
    no batch-id skip), then its rows onto the change log. Returns the number
    of rows."""
    from milan_spark.operators.versioned import merge_head

    merge_head(df, os.path.join(base, "_state"), key_cols)
    docs = _collect_messages(df, coord)
    if docs:
        changelog = os.path.join(base, "_changelog")
        os.makedirs(changelog, exist_ok=True)
        _spool(changelog, docs)
    return len(docs)


def open_queue_sink(
    sdf: DataFrame,
    spec: Mapping,
    *,
    output_mode: str | None = None,
    available_now: bool = True,
):
    """Bind a sink descriptor spec to a running StreamingQuery.

    Emulated Kinesis/SQS spool each microbatch as ordered JSON message
    files (Kinesis chunked at ``queue_limit``); the emulated DynamoDB table
    MERGEs the batch into its versioned state keyed on ``key_cols`` and
    appends the rows to the change log that :class:`DynamoDbStreamSource`
    reads. The query's checkpoint is private, so batch ids restart at 0 on
    every run and no batch replays: every batch merges, with no tag skip.
    """
    from milan_spark.streaming import foreach_batch_sink

    output_mode = output_mode or spec.get("output_mode", "append")
    kind = spec["kind"]
    coord = _sink_coord(spec)
    if not _is_local(coord):
        raise MilanConnectorError(
            f"{kind} sink {coord!r}: remote connector not available in this "
            f"environment ({_CONNECTOR_HINTS.get(kind, 'n/a')}); for tests "
            "use 'local:<dir>'"
        )
    base = _local_dir(coord)

    if kind in ("kinesis", "sqs"):
        chunk = spec.get("queue_limit")

        def publish(batch_df: DataFrame, _bid: int) -> None:
            docs = _collect_messages(batch_df, coord)
            if docs:
                _spool(base, docs, chunk=chunk)

        return foreach_batch_sink(
            sdf, publish, output_mode=output_mode, available_now=available_now
        )

    key_cols = _table_key_cols(spec, coord)

    def merge(batch_df: DataFrame, _bid: int) -> None:
        _table_put(batch_df, base, key_cols, coord)

    return foreach_batch_sink(
        sdf, merge, output_mode=output_mode, available_now=available_now
    )


def publish_batch(df: DataFrame, spec: Mapping) -> int:
    """Batch twin of :func:`open_queue_sink`: publish a bounded DataFrame to
    the emulated queue as one ordered batch (the partitioned-application
    runner's batch mode uses this to hand a part's head stream to the next
    part). Returns the number of messages published. Same guarded collect +
    cap as the streaming publisher — a queue is a control-plane transport."""
    kind = spec["kind"]
    coord = _sink_coord(spec)
    if not _is_local(coord):
        raise MilanConnectorError(
            f"{kind} sink {coord!r}: batch publish exists only for the "
            "local: emulation"
        )
    base = _local_dir(coord)
    if kind == "dynamodb_table":
        return _table_put(df, base, _table_key_cols(spec, coord), coord)
    docs = _collect_messages(df, coord)
    if docs:
        _spool(base, docs, chunk=spec.get("queue_limit"))
    return len(docs)


def read_table_state(spark: SparkSession, table_coord: str) -> DataFrame:
    """Read the emulated DynamoDB table's current state (post-upserts)."""
    if not _is_local(table_coord):
        raise MilanConnectorError(
            f"dynamodb table {table_coord!r}: state read exists only for "
            "the local: emulation"
        )
    from milan_spark.operators.versioned import read_version

    return read_version(spark, os.path.join(_local_dir(table_coord), "_state"))


def local_queue(prefix: str = "milan_queue_") -> str:
    """Mint a fresh local queue coordinate (tests, examples)."""
    return LOCAL_PREFIX + tempfile.mkdtemp(prefix=prefix)
