"""Local writes without a ``chmod`` child process per file: a local-master
``get_spark`` session names ``launch.FS_CLASS`` as Spark's ``file:``
filesystem, whose jar ``launch._fs_jar`` compiles once into the cache."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types
import zipfile

import pytest

from ot_spark import launch

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Hadoop's fs.permissions.umask-mode default: new dirs 0755, new files 0644
HADOOP_UMASK = 0o022
STOCK = "org.apache.hadoop.fs.LocalFileSystem"
_CREATE = launch.create  # the real one, for tests that wrap it

_WRITE = """
import json, os, stat, sys
from ot_spark.session import get_spark

conf = json.loads(sys.argv[2])
# -Xshare: no class-data archive is mapped or built at this child's exit
conf["spark.driver.extraJavaOptions"] = "-Xshare:auto"
spark = get_spark("localfs_test", parallelism=2, extra_conf=conf)
out = sys.argv[1]
spark.range(300).selectExpr("id", "id % 4 AS a", "id % 3 AS b").write.partitionBy("a", "b").parquet(out)
modes = {}
for root, dirs, files in os.walk(out):
    for name in dirs + files:
        kind = "dir" if name in dirs else "crc" if name.endswith(".crc") else "file"
        modes.setdefault(kind, []).append(stat.S_IMODE(os.stat(os.path.join(root, name)).st_mode))
print("RESULT " + json.dumps({
    "impl": spark.conf.get("spark.hadoop.fs.file.impl", None),
    "rows": sorted(tuple(r) for r in spark.read.parquet(out).select("id", "a", "b").collect()),
    "modes": {k: sorted(set(v)) for k, v in modes.items()},
    "counts": {k: len(v) for k, v in modes.items()},
}))
"""


def _write(tmp_path, name: str, extra_conf: dict[str, str]) -> tuple[dict, list[str]]:
    """(result, chmod calls) of a fresh process whose ``chmod`` is a logging
    wrapper first on ``PATH``; it runs under umask 077, so modes that came
    from the process umask and not from Hadoop would show."""
    bin_dir, log = tmp_path / "bin", tmp_path / f"{name}.chmod.log"
    bin_dir.mkdir(exist_ok=True)
    wrapper = bin_dir / "chmod"
    wrapper.write_text(f'#!/bin/sh\necho "$*" >> "$CHMOD_LOG"\nexec {shutil.which("chmod")} "$@"\n')
    wrapper.chmod(0o755)
    env = dict(
        os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}", CHMOD_LOG=str(log),
        XDG_CACHE_HOME=str(tmp_path / "cache"), OT_SPARK_DRIVER_MEM="1g",
    )
    p = subprocess.run(
        [sys.executable, "-c", _WRITE, str(tmp_path / name), json.dumps(extra_conf)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
        preexec_fn=lambda: os.umask(0o077),
    )
    assert p.returncode == 0, p.stderr[-3000:]
    (line,) = [s for s in p.stdout.splitlines() if s.startswith("RESULT ")]
    calls = log.read_text().splitlines() if log.exists() else []
    return json.loads(line.removeprefix("RESULT ")), calls


def test_partitioned_write_starts_no_chmod(tmp_path):
    """A two-level ``partitionBy`` write starts no ``chmod`` and leaves the
    modes and ``.crc`` files the stock filesystem leaves, which starts a
    ``chmod`` per file and directory (so the wrapper sees spawns)."""
    ours, ours_calls = _write(tmp_path, "nio", {})
    stock, stock_calls = _write(tmp_path, "stock", {"spark.hadoop.fs.file.impl": STOCK})
    assert ours["impl"] == launch.FS_CLASS and stock["impl"] == STOCK
    assert ours_calls == []
    assert len(stock_calls) > 0
    expected = {"dir": [0o777 & ~HADOOP_UMASK], "file": [0o666 & ~HADOOP_UMASK], "crc": [0o666 & ~HADOOP_UMASK]}
    assert ours["modes"] == stock["modes"] == expected
    assert ours["counts"] == stock["counts"]
    assert ours["counts"]["dir"] == 4 + 12  # a=0..3, then b=0..2 under each
    assert ours["counts"]["crc"] == ours["counts"]["file"]  # one .crc per data file and _SUCCESS
    want = sorted([i, i % 4, i % 3] for i in range(300))
    assert ours["rows"] == stock["rows"] == want


@pytest.fixture
def counted_javac(tmp_path, monkeypatch):
    """``launch._fs_jar`` with the cache in ``tmp_path``; the list records each
    ``javac`` it runs."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    calls = []
    run = subprocess.run

    def counting(cmd, **kw):
        calls.append(cmd)
        return run(cmd, **kw)

    monkeypatch.setattr(launch.subprocess, "run", counting)
    return calls


def test_jar_is_built_once(counted_javac, tmp_path):
    first = launch._fs_jar()
    assert len(counted_javac) == 1 and first.startswith(str(tmp_path))
    with zipfile.ZipFile(first) as zf:
        assert sorted(zf.namelist()) == [
            "ot_spark/jvm/NioLocalFileSystem$Raw.class", "ot_spark/jvm/NioLocalFileSystem.class",
        ]
    assert launch._fs_jar() == first
    assert len(counted_javac) == 1
    assert os.listdir(os.path.dirname(first)) == [os.path.basename(first)]  # no temp file left


def test_changed_source_builds_a_new_jar(counted_javac, tmp_path, monkeypatch):
    first = launch._fs_jar()
    source = tmp_path / "NioLocalFileSystem.java"
    with open(launch._FS_SOURCE) as fh:
        source.write_text(fh.read() + "// changed\n")
    monkeypatch.setattr(launch, "_FS_SOURCE", str(source))
    second = launch._fs_jar()
    assert second != first and os.path.isfile(first) and os.path.isfile(second)
    assert len(counted_javac) == 2


def _no_gateway(monkeypatch):
    """A launch whose JVM would be this process's."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)


def _launch_of(monkeypatch, **kw) -> dict:
    """``get_spark``'s conf and ``SPARK_DIST_CLASSPATH`` as they reach the
    session builder through ``launch.create``, with no JVM started and no
    class-data sharing planned."""
    from ot_spark import session as session_mod

    seen = {}

    def build(conf):
        seen.update(conf=conf, dist=os.environ.get("SPARK_DIST_CLASSPATH"))
        return types.SimpleNamespace(sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(launch, "create", lambda _, master, conf: _CREATE(build, master, conf))
    monkeypatch.setattr(launch, "_cds_plan", lambda conf: None)
    session_mod.get_spark("localfs_conf", parallelism=2, **kw)
    return seen


def test_session_names_the_class_and_passes_the_jar(tmp_path, monkeypatch):
    _no_gateway(monkeypatch)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_DIST_CLASSPATH", raising=False)
    seen = _launch_of(monkeypatch)
    assert seen["conf"]["spark.hadoop.fs.file.impl"] == launch.FS_CLASS
    assert seen["dist"] == launch._fs_jar() and seen["dist"] is not None
    seen = _launch_of(monkeypatch, extra_conf={"spark.hadoop.fs.file.impl": STOCK})
    assert seen["conf"]["spark.hadoop.fs.file.impl"] == STOCK and seen["dist"] is None
    seen = _launch_of(monkeypatch, master="spark://cluster:7077")
    assert "spark.hadoop.fs.file.impl" not in seen["conf"] and seen["dist"] is None


def test_no_javac_keeps_the_stock_filesystem(tmp_path, monkeypatch, caplog):
    _no_gateway(monkeypatch)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setenv("PATH", str(tmp_path))  # nothing on it
    seen = []
    # -Xshare: the launch plans no class-data sharing, so its only warning is the jar's
    launch.create(seen.append, "local[2]", {"spark.driver.extraJavaOptions": "-Xshare:auto"})
    assert "spark.hadoop.fs.file.impl" not in seen[0]
    (warning,) = [r for r in caplog.records if r.name == launch.__name__]
    assert "no javac" in warning.getMessage()
    assert not os.path.exists(tmp_path / "ot_spark" / "jvm")
