"""The session's ``file:`` FileSystem (``milan_spark.jvm.NoForkLocalFileSystem``):
modes set in-process land exactly as Hadoop's stock local file system sets
them with a forked ``chmod``, ``.crc`` sidecars are still written, a host
without ``javac`` starts as before, and a warm streaming run forks no
``chmod``."""

from __future__ import annotations

import os
import stat
import subprocess
import sys

import pytest

from milan_spark import session
from milan_spark.session import NO_FORK_FS
from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _file_systems(spark, umask: str):
    """(stock LocalFileSystem, the no-fork class), each initialized with a
    copy of the session's Hadoop conf using ``umask``."""
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    conf.set("fs.permissions.umask-mode", umask)
    uri = jvm.java.net.URI("file:///")
    pair = (jvm.org.apache.hadoop.fs.LocalFileSystem(), jvm.milan_spark.jvm.NoForkLocalFileSystem())
    for fs in pair:
        fs.initialize(uri, conf)
    return pair


def _modes(root) -> dict[str, int]:
    return {
        os.path.relpath(os.path.join(d, n), root): stat.S_IMODE(os.lstat(os.path.join(d, n)).st_mode)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    }


def _exercise(spark, fs, root) -> dict[str, int]:
    """Create, mkdir and set modes under ``root`` through ``fs``."""
    jvm = spark._jvm
    P, perm = jvm.org.apache.hadoop.fs.Path, jvm.org.apache.hadoop.fs.permission.FsPermission.valueOf
    fs.mkdirs(P(f"{root}/d/e"))
    fs.create(P(f"{root}/d/f")).close()
    fs.create(P(f"{root}/g")).close()
    fs.setPermission(P(f"{root}/g"), perm("-rw-------"))
    fs.mkdirs(P(f"{root}/sg"))
    os.chmod(f"{root}/sg", 0o2755)  # chmod keeps a directory's setgid bit
    fs.setPermission(P(f"{root}/sg"), perm("drwx------"))
    return _modes(root)


def test_session_file_system_is_the_class(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    assert conf.get("fs.file.impl") == NO_FORK_FS
    fs = jvm.org.apache.hadoop.fs.Path("file:///tmp").getFileSystem(conf)
    assert fs.getClass().getName() == NO_FORK_FS


@pytest.mark.parametrize("umask", ["022", "077"])
def test_modes_match_the_stock_file_system(spark, tmp_path, umask):
    # a 077 umask asks for modes that differ from what the process umask
    # gives a new file, so a skipped setPermission would show
    stock, no_fork = _file_systems(spark, umask)
    want = _exercise(spark, stock, tmp_path / "stock")
    got = _exercise(spark, no_fork, tmp_path / "no_fork")
    assert got == want
    assert got["g"] == 0o600
    assert got["sg"] == 0o2700
    assert got["d/f"] == 0o666 & ~int(umask, 8)


def test_sticky_mode_lands_exactly(spark, tmp_path):
    _, fs = _file_systems(spark, "022")
    jvm = spark._jvm
    for name, mode in (("t", 0o1751), ("T", 0o1750)):
        p = jvm.org.apache.hadoop.fs.Path(str(tmp_path / name))
        fs.mkdirs(p)
        fs.setPermission(p, jvm.org.apache.hadoop.fs.permission.FsPermission.valueOf(f"drwxr-x--{name}"))
        assert stat.S_IMODE(os.stat(tmp_path / name).st_mode) == mode


def test_crc_sidecar_is_written(spark, tmp_path):
    _, fs = _file_systems(spark, "022")
    out = fs.create(spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path / "f")))
    out.write(b"milan")
    out.close()
    assert sorted(os.listdir(tmp_path)) == [".f.crc", "f"]


def test_without_javac_no_classpath_and_no_jvm(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))  # nothing compiled yet
    monkeypatch.setattr(session.shutil, "which", lambda name: None)

    def no_process(*a, **k):
        raise AssertionError(f"started a process: {a}")

    monkeypatch.setattr(session.subprocess, "run", no_process)
    monkeypatch.setattr(session.subprocess, "Popen", no_process)
    with pytest.warns(UserWarning, match="javac"):
        assert session.no_fork_fs_classpath() is None
    assert os.listdir(tmp_path) == []


def test_warm_streaming_run_forks_no_chmod(tmp_path):
    """A logging ``chmod`` first on ``PATH`` counts the forks of a child
    session's second (warm) ``streaming_last_per_key`` run; Hadoop's stock
    local file system forks one per file and directory it creates (40 at 4
    task slots)."""
    bin_dir, log = tmp_path / "bin", tmp_path / "chmod.log"
    bin_dir.mkdir()
    real = subprocess.run(["sh", "-c", "command -v chmod"], capture_output=True, text=True).stdout.strip()
    (bin_dir / "chmod").write_text(f'#!/bin/sh\necho "chmod $*" >> {log}\nexec {real} "$@"\n')
    (bin_dir / "chmod").chmod(0o755)
    code = f"""
import sys; sys.path.insert(0, {ROOT!r})
from milan_spark.session import get_spark
from milan_spark.catalog import queries
spark = get_spark("no_fork_chmod")
q = queries()["streaming_last_per_key"]
for run in ("cold", "warm"):
    with open({str(log)!r}, "a") as f:
        f.write(f"-- {{run}}\\n")
    print(run, "rows", q(spark, {SF_SMOKE!r}).count())
spark.stop()
"""
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
               SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", code], env=env, cwd=tmp_path,
                         capture_output=True, text=True, timeout=120)
    assert "warm rows 15" in out.stdout, out.stderr[-2000:]
    warm = log.read_text().split("-- warm\n")[1]
    assert warm == "", warm
