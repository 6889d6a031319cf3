"""Python workers fork from ``milan_spark.pydaemon``: an unchanged zip archive
is not re-read by ``importlib.invalidate_caches()``, a changed or vanished one
still is, and the session's workers run under the patch, whatever the driver's
working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from milan_spark import pydaemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_changed_archive_reread_unchanged_archive_not(tmp_path, monkeypatch):
    # install() patches zipimport process-wide; monkeypatch restores it after
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pydaemon.install()
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pyd_probe_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pyd_probe_a").A == 1
        _write_zip(archive, {"pyd_probe_a": "A = 1\n", "pyd_probe_b": "B = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("pyd_probe_b").B == 2

        calls: list[str] = []
        read = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory", lambda a: calls.append(a) or read(a))
        importlib.invalidate_caches()
        assert calls == []

        os.remove(archive)  # a vanished archive empties its importer, as before
        importlib.invalidate_caches()
        assert calls == [archive]
    finally:
        for name in ("pyd_probe_a", "pyd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_session_workers_skip_unchanged_archives(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == "milan_spark.pydaemon"

    def reads_per_invalidation(_):
        import importlib
        import zipimport

        calls = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: calls.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield len(calls)

    probe = spark.sparkContext.parallelize(range(4), 4).mapPartitions(reads_per_invalidation)
    assert probe.collect() == [0, 0, 0, 0]


def test_daemon_starts_from_a_foreign_working_directory(tmp_path):
    # the driver finds the package through sys.path alone: neither the
    # working directory nor PYTHONPATH lets the workers import the daemon
    root = os.path.dirname(os.path.dirname(os.path.abspath(pydaemon.__file__)))
    code = (
        f"import sys; sys.path.insert(0, {root!r})\n"
        "from milan_spark.session import get_spark\n"
        "spark = get_spark('pydaemon_foreign_cwd')\n"
        "print('sum', spark.sparkContext.parallelize(range(4), 2).map(lambda x: x + 1).sum())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "sum 10" in out.stdout, out.stderr[-2000:]
