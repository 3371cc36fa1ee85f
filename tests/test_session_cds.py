"""JVM class-data sharing and the launch settings of ``ot_spark.launch``:
each end-to-end case starts fresh Python processes (the archive belongs to
the launch of a new driver JVM) with ``XDG_CACHE_HOME`` pointed at a temp
dir; the unit cases start no JVM."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import types

import pytest

from ot_spark import launch

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import json, logging, sys
logging.basicConfig(level=logging.INFO, stream=sys.stderr, format="LOG %(levelname)s %(name)s %(message)s")
from ot_spark.session import get_spark
spark = get_spark("cds_test", parallelism=2, extra_conf=json.loads(sys.argv[1]))
jvm = spark.sparkContext._jvm
args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
print("RESULT " + json.dumps({
    "rows": spark.range(100).mapInArrow(lambda it: it, "id long").count(),
    "prop": jvm.java.lang.System.getProperty("ot.cds.test"),
    "marker": spark.conf.get("spark.ot.cds.marker", None),
    "cds_args": [str(a) for a in args if "Archive" in str(a)],
}))
"""

BUILT = "JVM class-data archive built"
BUILDING = "building the JVM class-data archive"
STOCK = "org.apache.hadoop.fs.LocalFileSystem"


def _run(cache, extra_conf=None, conf_dir=None) -> tuple[dict, str]:
    """(result, stderr) of one fresh process, whose stdout must hold only
    the result line: nothing from the JVM, the dump or CDS reaches it.  Its
    Python-worker job makes the JVM connect to the accumulator server, which
    must not report the JVM's exit before a build as an error."""
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), OT_SPARK_DRIVER_MEM="1g")
    env.pop("SPARK_CONF_DIR", None)
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    p = subprocess.run(
        [sys.executable, "-c", SCRIPT, json.dumps(extra_conf or {})],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert "Exception occurred" not in p.stderr, p.stderr[-3000:]
    lines = p.stdout.splitlines()
    assert len(lines) == 1 and lines[0].startswith("RESULT "), p.stdout
    result = json.loads(lines[0].removeprefix("RESULT "))
    assert result["rows"] == 100
    return result, p.stderr


def _cds_files(cache, pattern="*") -> list[str]:
    return sorted(glob.glob(os.path.join(str(cache), "ot_spark", "cds", pattern)))


def _warnings(stderr: str) -> list[str]:
    """Warnings other than the build's start and end notices."""
    return [
        line for line in stderr.splitlines()
        if line.startswith("LOG WARNING ot_spark") and BUILDING not in line and BUILT not in line
    ]


def _intact(path: str) -> bool:
    return os.path.getsize(path) == int(os.path.basename(path).split(".")[1])


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A fresh cache after two runs, of which the second built the archive;
    the first run's output and the files it left, the second run's output,
    and a copy of the cache's files."""
    cache = tmp_path_factory.mktemp("cds")
    first = _run(cache), _cds_files(cache, "*.*")
    second = _run(cache)
    saved = tmp_path_factory.mktemp("cds_saved") / "cds"
    shutil.copytree(os.path.join(cache, "ot_spark", "cds"), saved)
    yield cache, first, second, saved
    shutil.rmtree(cache, ignore_errors=True)
    shutil.rmtree(saved, ignore_errors=True)


@pytest.fixture
def cache(built):
    """The built cache as its building run left it.  Restored in place: the
    archive records the path of the empty conf dir beside it."""
    cache, _, _, saved = built
    shutil.rmtree(os.path.join(cache, "ot_spark", "cds"))
    shutil.copytree(saved, os.path.join(cache, "ot_spark", "cds"))
    return cache


def test_first_run_builds_second_maps(built, cache):
    """In a fresh cache the first run builds nothing (a one-shot process
    never pays for an archive it will not map), the second builds the
    archive at exit and the third maps it."""
    (result, stderr), files = built[1]
    assert result["cds_args"] == [] and files == []
    assert BUILDING not in stderr and BUILT not in stderr and _warnings(stderr) == []
    result, stderr = built[2]
    assert result["cds_args"] == []  # the building run's own JVM neither maps nor dumps
    assert BUILDING in stderr and BUILT in stderr
    assert _warnings(stderr) == []
    (archive,) = _cds_files(cache, "*.jsa")
    assert _intact(archive)
    assert _cds_files(cache, "*.*") == [archive]  # no part, log, err, tmp or failed file
    result, stderr = _run(cache)
    assert result["cds_args"] == [f"-XX:SharedArchiveFile={archive}"]
    assert f"class-data archive: mapped {archive}" in stderr
    assert _warnings(stderr) == [] and BUILT not in stderr


def test_truncated_archive_falls_back_and_is_rebuilt(cache):
    (archive,) = _cds_files(cache, "*.jsa")
    os.chmod(archive, 0o644)
    os.truncate(archive, os.path.getsize(archive) // 2)
    result, stderr = _run(cache)
    (warning,) = _warnings(stderr)
    assert archive in warning and "deleted" in warning
    assert result["cds_args"] == [] and BUILT in stderr
    (fresh,) = _cds_files(cache, "*.jsa")
    assert _intact(fresh)


def test_garbage_archive_falls_back_and_is_rebuilt(cache):
    (archive,) = _cds_files(cache, "*.jsa")
    os.chmod(archive, 0o644)
    with open(archive, "r+b") as fh:  # same size, so only the JVM can tell
        fh.write(os.urandom(4096))
    _, stderr = _run(cache)
    (warning,) = _warnings(stderr)
    assert archive in warning and "not used by the JVM" in warning
    assert BUILT in stderr
    (fresh,) = _cds_files(cache, "*.jsa")
    assert _intact(fresh)
    result, stderr = _run(cache)
    assert result["cds_args"] == [f"-XX:SharedArchiveFile={fresh}"] and _warnings(stderr) == []


def test_caller_java_options_are_kept(cache):
    result, stderr = _run(cache, {"spark.driver.extraJavaOptions": "-Dot.cds.test=kept"})
    assert result["prop"] == "kept"
    assert "class-data archive: mapped" in stderr


def test_real_conf_dir_skips_cds(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ot.cds.marker  from-conf\n")
    (conf / "log4j2.properties.template").write_text("")
    result, stderr = _run(tmp_path / "cache", conf_dir=conf)
    assert result["marker"] == "from-conf"
    (warning,) = _warnings(stderr)
    assert "class-data sharing skipped" in warning and "spark-defaults.conf" in warning
    assert _cds_files(tmp_path / "cache", "*.jsa") == []


def _no_gateway(tmp_path, monkeypatch, used=True):
    """A launch whose JVM would be this process's, over a cache in
    ``tmp_path`` that an earlier launch ``used``, with no jar to build."""
    from pyspark import SparkContext

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(launch, "_fs_jar", lambda: None)
    if used:
        (tmp_path / "ot_spark" / "cds" / "conf").mkdir(parents=True)


SESSION = types.SimpleNamespace(sparkContext=types.SimpleNamespace(_gateway=types.SimpleNamespace(proc=None)))


def test_failed_launch_is_retried_without_cds(tmp_path, monkeypatch, caplog):
    """A driver JVM that does not start with the archive is started again
    without it, the archive and the launch's log are removed, and a new
    archive is built at exit (no JVM needed)."""
    from pyspark.errors import PySparkRuntimeError

    _no_gateway(tmp_path, monkeypatch)
    archive = tmp_path / "ot_spark" / "cds" / "k.4.jsa"
    archive.write_bytes(b"junk")
    monkeypatch.setattr(launch, "_sweep", lambda cache, key: str(archive))
    at_exit = []
    monkeypatch.setattr(launch.atexit, "register", lambda *a: at_exit.append(a))
    seen = []

    def create(conf):
        seen.append((conf.get("spark.driver.extraJavaOptions"), os.environ.get("SPARK_CONF_DIR")))
        if len(seen) == 1:
            raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})
        return SESSION

    conf = {"spark.app.name": "x", "spark.driver.memory": "40g"}
    assert launch.create(create, "local[2]", conf) is SESSION
    (flags, conf_dir), (plain, plain_conf_dir) = seen
    assert f"-XX:SharedArchiveFile={archive}" in flags and conf_dir.startswith(str(tmp_path))
    assert plain is None and plain_conf_dir is None
    assert _cds_files(tmp_path, "*.*") == []
    assert "starting it without" in caplog.text
    ((fn, *_, jvm_conf, proc),) = at_exit
    assert fn is launch._build and jvm_conf == {"spark.driver.memory": "40g"} and proc is None


def test_failed_build_turns_cds_off(tmp_path, monkeypatch, caplog):
    """A build whose child process fails keeps its stderr in ``<key>.failed``
    and leaves nothing else; later launches then skip CDS (no JVM needed).
    The child gets the launch's JVM settings."""
    _no_gateway(tmp_path, monkeypatch, used=False)
    cache = tmp_path / "ot_spark" / "cds"
    cache.mkdir(parents=True)

    def failing_child(cmd, stderr, **kw):
        assert json.loads(cmd[-1]) == {"spark.driver.memory": "40g"}
        stderr.write(b"boom\n")
        return subprocess.CompletedProcess(cmd, 1)

    monkeypatch.setattr(launch.subprocess, "run", failing_child)
    launch._build(str(cache), "k", {"spark.driver.memory": "40g"}, None)
    assert os.listdir(cache) == ["k.failed"]
    assert (cache / "k.failed").read_text() == "boom\n"
    assert "class-data archive failed" in caplog.text
    monkeypatch.setattr(launch, "_archive_key", lambda *a: "k")
    assert launch._cds_plan({}) is None


def test_jar_goes_last_on_the_launch_classpath_only(tmp_path, monkeypatch, caplog):
    """A local launch names the filesystem class in the conf and puts its
    jar in the launch's ``SPARK_DIST_CLASSPATH`` (an entry the launcher
    puts last), and still plans CDS; any other entry there still turns CDS
    off.  The variable is restored after the launch, so the build's child
    does not inherit the jar.  A caller's filesystem and a cluster master
    get neither (no JVM needed)."""
    _no_gateway(tmp_path, monkeypatch)
    monkeypatch.setattr(launch, "_fs_jar", lambda: "/cache/fs.jar")
    monkeypatch.delenv("SPARK_DIST_CLASSPATH", raising=False)
    at_exit = []
    monkeypatch.setattr(launch.atexit, "register", lambda *a: at_exit.append(a[0]))
    seen = []

    def create(conf):
        seen.append((conf.get("spark.hadoop.fs.file.impl"), os.environ.get("SPARK_DIST_CLASSPATH")))
        return SESSION

    launch.create(create, "local[2]", {})
    assert seen == [(launch.FS_CLASS, "/cache/fs.jar")] and at_exit == [launch._build]
    assert "SPARK_DIST_CLASSPATH" not in os.environ
    assert "skipped" not in caplog.text
    launch.create(create, "local[2]", {"spark.hadoop.fs.file.impl": STOCK})
    launch.create(create, "spark://cluster:7077", {})
    assert seen[1:] == [(STOCK, None), (None, None)]

    monkeypatch.setenv("SPARK_DIST_CLASSPATH", "/hadoop/jars/*")
    at_exit.clear()
    launch.create(create, "local[2]", {})
    assert seen[3] == (launch.FS_CLASS, os.pathsep.join(["/hadoop/jars/*", "/cache/fs.jar"]))
    assert at_exit == []
    assert "class-data sharing skipped" in caplog.text and "$SPARK_DIST_CLASSPATH" in caplog.text
    assert os.environ["SPARK_DIST_CLASSPATH"] == "/hadoop/jars/*"


def test_build_child_dumps_without_the_jar(tmp_path, monkeypatch):
    """``_train``'s session keeps the stock ``file:`` filesystem, so its JVM's
    classpath, and the archive it dumps, lack the filesystem's jar: the
    archive then maps for launches without the jar and with it appended."""
    from pyspark import SparkContext

    _no_gateway(tmp_path, monkeypatch, used=False)
    monkeypatch.delenv("SPARK_DIST_CLASSPATH", raising=False)
    monkeypatch.setattr(launch, "_fs_jar", lambda: pytest.fail("the build's child compiled the jar"))
    seen = {}
    proc = types.SimpleNamespace(stdin=types.SimpleNamespace(close=lambda: None), wait=lambda timeout: 0)

    def build(conf):
        seen.update(conf=conf, dist=os.environ.get("SPARK_DIST_CLASSPATH"))
        monkeypatch.setattr(SparkContext, "_gateway", types.SimpleNamespace(proc=proc))
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None), stop=lambda: None,
        )

    create = launch.create
    monkeypatch.setattr(launch, "create", lambda _, master, conf: create(build, master, conf))
    monkeypatch.setattr(launch, "_workload", lambda spark, tmp: None)
    launch._train(str(tmp_path / "a.part"), str(tmp_path / "a.log"), str(tmp_path), "{}")
    assert seen["dist"] is None
    assert seen["conf"]["spark.hadoop.fs.file.impl"] == STOCK
    assert "-XX:ArchiveClassesAtExit=" in seen["conf"]["spark.driver.extraJavaOptions"]
