"""Build-time validation — the engine analog of the reference's graph
type checker (``milan-lang/.../program/TypeChecker.scala:49-75``, numeric
coercion :341-352, error-message tests ``TestTypeChecker.scala``).

Milan typechecks the whole dataflow graph BEFORE compiling and raises
errors that name the operator and the offending expression. Catalyst also
analyzes eagerly, but its failure is a deep ``AnalysisException`` trace in
engine vocabulary. This module narrows that to a one-line
:class:`MilanAnalysisError` carrying the OPERATOR name, the condensed
Catalyst reason, and the input columns — raised at Stream-construction
time, where the user's cursor is.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterable, Sequence

from pyspark.sql.utils import AnalysisException


class MilanAnalysisError(Exception):
    """A stream operation referenced a column/type that doesn't exist or
    doesn't fit. Message format: ``<operator>: <reason>; input columns:
    [...]`` — the operator is the DSL call that failed, not a Catalyst
    internal."""


class MilanEmptyStreamError(RuntimeError):
    """A streaming query ran to completion having read ZERO input rows —
    almost always a mis-staged source (directory-shaped path, stale
    symlink, wrong glob), not a real empty stream. Raised by the streaming
    harness tripwire (``streaming.run_to_memory(require_input=True)``); the
    bug class it guards against silently produced empty-but-"passing"
    streams at sf1 for three rounds."""


class MilanStreamTimeoutError(RuntimeError):
    """A bounded (availableNow) streaming query was still running when its
    harness stopped waiting (``streaming.run_to_memory(timeout_sec=...)``).
    The query is stopped; its sink would hold only the microbatches that
    finished, so no result is returned."""


class MilanRoundCapError(RuntimeError):
    """An iterative operator used up its round cap before reaching its
    fixpoint. What it holds after the last round is a partial answer (for
    connected components, labels that are not yet component minima), so it
    is not returned. Raise the cap, or pick an operator that needs fewer
    rounds for the graph's shape."""


class MilanConcurrentCommitError(RuntimeError):
    """Two writers raced to commit the same version of a versioned table
    and this one lost (its manifest claim found the slot taken). The
    transaction wrote NOTHING visible — its data directory is an orphan the
    next ``vacuum`` collects. Re-derive the commit from the new snapshot
    and retry (``operators.versioned.commit_with_retry``); blind retry is
    wrong for MERGE/compact, whose input depends on the snapshot."""


class MilanDuplicateKeyError(ValueError):
    """A keyed MERGE batch holds several rows for one key and names no
    ``seq_col`` to choose between them (``operators.versioned.commit_merge``).
    Keeping any one of them would be arbitrary, so nothing is committed."""


def _condense(e: AnalysisException) -> str:
    # first message line carries the error class + names; the rest is plan
    # dump / JVM trace
    first = str(e).strip().splitlines()[0]
    # strip Spark's trailing plan context if it got glued onto line 1
    return first.split(";")[0].strip()


@contextmanager
def analysis_scope(op: str, columns: Iterable[str]):
    """Run a DataFrame construction; re-raise AnalysisException as a
    one-line MilanAnalysisError naming ``op``."""
    try:
        yield
    except AnalysisException as e:
        raise MilanAnalysisError(
            f"{op}: {_condense(e)}; input columns: {list(columns)}"
        ) from None


def require_columns(op: str, df, names: Sequence[str]) -> None:
    """Key-column existence check with the operator named (the reference
    validates join/group keys in JoinedStreamMacros/GroupedStreamMacros
    before any codegen)."""
    have = set(df.columns)
    missing = [n for n in names if n not in have]
    if missing:
        raise MilanAnalysisError(
            f"{op}: column{'s' if len(missing) > 1 else ''} "
            f"{missing} not found; input columns: {list(df.columns)}"
        )


_TEMPORAL = ("timestamp", "timestamp_ntz", "date")


def require_temporal(op: str, df, ts: str) -> None:
    """Window date-extractor check (TypeChecker demands Instant there:
    GroupingExpressions' dateExtractor is typed; a string/long ts is the
    classic silent-wrong-window bug)."""
    require_columns(op, df, [ts])
    dt = dict(df.dtypes)[ts]
    if dt not in _TEMPORAL:
        raise MilanAnalysisError(
            f"{op}: time column {ts!r} has type {dt}, expected one of "
            f"{_TEMPORAL} (cast it first, e.g. CAST({ts} AS TIMESTAMP))"
        )
