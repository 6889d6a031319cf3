from __future__ import annotations

import contextlib
import sys
import threading
import types
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from milan_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("milan_spark_tests")
    yield spark


@pytest.fixture
def py4j_calls(monkeypatch):
    """``with py4j_calls() as calls: ...`` counts in ``calls.n`` the py4j
    commands (``ClientServerConnection.send_command``) that the block's
    thread sends to the JVM. py4j's finalizer thread sends the release
    commands of freed proxies whenever the garbage collector gets to them,
    so they are not counted: they depend on what earlier code left behind."""
    from py4j.clientserver import ClientServerConnection

    real = ClientServerConnection.send_command
    open_counts: list = []

    def send(self, *args, **kwargs):
        for c in open_counts:
            c.n += c.thread == threading.get_ident()
        return real(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", send)

    @contextlib.contextmanager
    def count():
        calls = types.SimpleNamespace(n=0, thread=threading.get_ident())
        open_counts.append(calls)
        try:
            yield calls
        finally:
            open_counts.remove(calls)

    return count
