"""Class-data sharing (JDK AppCDS) for the driver JVM that pyspark launches.

Most of a cold ``get_spark`` is the JVM loading and verifying ~12k classes
from Spark's jars.  A dynamic AppCDS archive holds those classes already
parsed; the JVM maps it at start instead (``-XX:SharedArchiveFile``).

The archive is built by a fixed training run, never by whichever run comes
first, so what it holds depends only on the JDK, the jars and this module.
A run that finds no usable archive starts its JVM as before and, at
interpreter exit, builds one: a child process starts a JVM with
``-XX:ArchiveClassesAtExit`` and runs ``_workload``, a small synthetic
``Pipeline.run`` (bucketed write, lineage, resume) and the flagship chain,
which load the classes of both of the engine's paths.  The build is
announced on stderr and takes ~50 s on 4 cores; later runs map the
archive.

Files under ``${XDG_CACHE_HOME:-~/.cache}/ot_spark/cds/``:

- ``conf/``: an empty ``SPARK_CONF_DIR`` for the build and for launches
  that map the archive.  Spark puts the conf dir first on the classpath and
  the dump refuses a non-empty directory there, so CDS is used only when
  the real conf dir holds nothing but ``*.template`` files (a real
  ``spark-defaults.conf`` is never dropped).
- ``<key>.<size>.jsa``: the archive.  ``key`` hashes ``libjvm``, the jar
  classpath (names, sizes, mtimes) and ``_TRAINING``, so computing it
  starts no JVM.  The byte size in the name is checked before launch: the
  JVM does not check it, and mapping a truncated archive kills it with
  SIGBUS.
- ``<key>.failed``: a build that made no archive leaves its child's stderr
  here, and runs start without CDS until the file is deleted or the key
  changes.
- ``<key>.<pid>-<rand>.{part,log,err,tmp}``: one launch's or build's dump
  in progress, CDS log (CDS messages go there, never to stdout), child
  stderr and scratch dir.  A dump becomes an archive only by ``os.replace``
  after the log shows it was written, and leftovers of a dead process are
  deleted by the next launch.

A launch may append one jar, :mod:`ot_spark.localfs`'s filesystem, as
``SPARK_DIST_CLASSPATH``, which Spark's launcher puts last on the
classpath; a ``SPARK_DIST_CLASSPATH`` of the caller's own still turns CDS
off.  The build's child keeps the stock filesystem, so the archive is
dumped without the jar: the JVM accepts a classpath that extends the
dump-time one, and the archive maps for launches with and without it.

An archive the JVM does not use (wrong magic, classpath or JVM mismatch) is
deleted and rebuilt at exit; a launch that fails with CDS options is
retried without them.  Under ``spark-submit``, with a running gateway or a
non-local master, the JVM is not ours to start and nothing changes.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import json
import logging
import os
import shutil
import subprocess
import sys
import time
import uuid
from collections.abc import Callable

log = logging.getLogger(__name__)

# bump when _workload changes: archives trained by the old one are rebuilt
_TRAINING = "1"
# the build's child process: start, training workload, dump (~150 MB)
BUILD_TIMEOUT_S = 600.0
# this process's own JVM, asked to exit before the build starts
JVM_EXIT_WAIT_S = 60.0
_MAPPED = "Mapped dynamic region"
_REJECTED = "Unable to use shared archive"
_WRITTEN = "Written dynamic archive"
# the launch's settings the build's JVM takes over, so the archive matches
# it (-Xmx past 32 GB turns compressed oops off, and the JVM then rejects
# an archive dumped with them on)
_JVM_CONF = ("spark.driver.memory", "spark.driver.extraJavaOptions", "spark.driver.extraClassPath")
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_or_create(create: Callable[[dict], object], master: str, conf: dict[str, str], jar: str | None):
    """``create(conf)`` — the session builder — with the driver JVM launched
    over the class-data archive when this process starts it, and ``jar``
    (when not None) last on its classpath."""
    launch = _Launch.plan(master, conf)
    dist = os.pathsep.join(filter(None, [os.environ.get("SPARK_DIST_CLASSPATH"), jar]))
    with _environ("SPARK_DIST_CLASSPATH", dist or None):
        return _create(create, launch, conf)


def _create(create: Callable[[dict], object], launch: _Launch | None, conf: dict[str, str]):
    if launch is None:
        return create(conf)
    if launch.archive is None:
        spark = create(conf)
        launch.build_at_exit(spark)
        return spark
    from pyspark.errors import PySparkRuntimeError

    try:
        with _environ("SPARK_CONF_DIR", os.path.join(launch.cache, "conf")):
            spark = create(launch.apply(conf))
    except PySparkRuntimeError as e:
        if e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        launch.discard()
        log.warning("driver JVM did not start with class-data sharing; starting it without")
        spark = create(conf)
        launch.build_at_exit(spark)
        return spark
    if not launch.mapped():
        launch.build_at_exit(spark)
    return spark


def starts_jvm(master: str) -> bool:
    """Whether creating a session for ``master`` launches this process's
    driver JVM (not under ``spark-submit`` or a running gateway)."""
    from pyspark import SparkContext

    return (
        master.startswith("local")
        and SparkContext._gateway is None
        and "PYSPARK_GATEWAY_PORT" not in os.environ
    )


@contextlib.contextmanager
def _environ(name: str, value: str | None):
    """``os.environ[name]`` set to ``value`` (unset if None) for the launch only."""
    prev = os.environ.get(name)
    _setenv(name, value)
    try:
        yield
    finally:
        _setenv(name, prev)


def _setenv(name: str, value: str | None) -> None:
    if value is None:
        os.environ.pop(name, None)
    else:
        os.environ[name] = value


def _cache_dir() -> str:
    root = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(root, "ot_spark", "cds")


def _libjvm() -> str | None:
    """The libjvm of the java that Spark's launch script runs."""
    home = os.environ.get("JAVA_HOME")
    if not home:
        java = shutil.which("java")
        if java is None:
            return None
        home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    for name in ("libjvm.so", "libjvm.dylib"):
        path = os.path.join(home, "lib", "server", name)
        if os.path.isfile(path):
            return path
    return None


def _archive_key(spark_home: str, extra_classpath: str) -> str | None:
    libjvm = _libjvm()
    jars = os.path.join(spark_home, "jars")
    if libjvm is None or not os.path.isdir(jars):
        return None
    h = hashlib.sha256(f"training {_TRAINING}\n".encode())
    st = os.stat(libjvm)
    h.update(f"{libjvm}\0{st.st_size}\0{st.st_mtime_ns}\n{jars}\n{extra_classpath}\n".encode())
    with os.scandir(jars) as it:
        for e in sorted(it, key=lambda e: e.name):
            st = e.stat()
            h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _tag(cache: str, key: str) -> str:
    """Path prefix of one launch's or build's files."""
    return os.path.join(cache, f"{key}.{os.getpid()}-{uuid.uuid4().hex[:8]}")


def _log_opts(log_path: str) -> str:
    return f"-Xlog:cds*=off -Xlog:cds=info,cds+dynamic=info:file={log_path}"


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _unlink(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)


def _read(path: str) -> str:
    try:
        with open(path, errors="replace") as fh:
            return fh.read()
    except FileNotFoundError:
        return ""


class _Launch:
    """One driver-JVM launch; it maps ``archive`` when there is one."""

    def __init__(self, cache: str, key: str, archive: str | None, conf: dict[str, str]):
        self.cache = cache
        self.key = key
        self.archive = archive
        self.jvm_conf = {k: conf[k] for k in _JVM_CONF if k in conf}
        self.inode = os.stat(archive).st_ino if archive else None
        self.log_path = _tag(cache, key) + ".log"

    @classmethod
    def plan(cls, master: str, conf: dict[str, str]) -> _Launch | None:
        if not starts_jvm(master):
            return None
        java_opts = conf.get("spark.driver.extraJavaOptions", "")
        if "-Xshare" in java_opts or "SharedArchiveFile" in java_opts or "ArchiveClassesAtExit" in java_opts:
            return None  # the caller manages class sharing itself
        try:
            return cls._plan(conf)
        except OSError as e:
            log.warning("JVM class-data sharing skipped: %s", e)
            return None

    @classmethod
    def _plan(cls, conf: dict[str, str]) -> _Launch | None:
        from pyspark.find_spark_home import _find_spark_home

        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        real = sorted(
            f for f in (os.listdir(conf_dir) if os.path.isdir(conf_dir) else [])
            if not f.endswith(".template")
        )
        # these put more (non-empty) directories on the classpath
        env = [v for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH") if os.environ.get(v)]
        if real or env:
            log.warning(
                "JVM class-data sharing skipped: the classpath holds non-empty conf dirs (%s)",
                ", ".join([os.path.join(conf_dir, f) for f in real] + [f"${v}" for v in env]),
            )
            return None
        cache = _cache_dir()
        key = _archive_key(spark_home, conf.get("spark.driver.extraClassPath", ""))
        if key is None or any(c in cache for c in " \t\"',:"):
            return None  # no JDK/jars to key on, or a path -Xlog cannot take
        empty_conf = os.path.join(cache, "conf")
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return None
        failed = os.path.join(cache, f"{key}.failed")
        if os.path.exists(failed):
            log.info("JVM class-data sharing off: building the archive failed, see %s", failed)
            return None
        return cls(cache, key, _sweep(cache, key), conf)

    def apply(self, conf: dict[str, str]) -> dict[str, str]:
        """``conf`` with the CDS flags appended to the caller's driver java
        options; CDS messages go to this launch's log file only."""
        ours = f"-XX:SharedArchiveFile={self.archive} {_log_opts(self.log_path)}"
        opts = " ".join(filter(None, [conf.get("spark.driver.extraJavaOptions"), ours]))
        return {**conf, "spark.driver.extraJavaOptions": opts}

    def discard(self) -> None:
        """The JVM did not start: drop this launch's log and the archive."""
        _unlink(self.log_path)
        _unlink(self.archive)

    def mapped(self) -> bool:
        """Whether the JVM mapped the archive; one it did not use is deleted."""
        text = _read(self.log_path)
        _unlink(self.log_path)
        if _MAPPED in text and _REJECTED not in text:
            log.info("JVM class-data archive: mapped %s", self.archive)
            return True
        with contextlib.suppress(FileNotFoundError):
            if os.stat(self.archive).st_ino == self.inode:
                os.remove(self.archive)
        log.warning(
            "class-data archive %s was not used by the JVM; deleted, a new one is built at exit",
            self.archive,
        )
        return False

    def build_at_exit(self, spark) -> None:
        proc = spark.sparkContext._gateway.proc
        atexit.register(_build, self.cache, self.key, self.jvm_conf, proc)
        log.info("JVM class-data archive: none usable in %s; one is built at exit", self.cache)


def _sweep(cache: str, key: str) -> str | None:
    """Delete files of dead processes and this key's truncated archives;
    return this key's newest intact archive."""
    found = []
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        stem, _, ext = name.rpartition(".")
        if ext in ("part", "log", "err", "tmp"):
            pid = stem.rpartition(".")[2].partition("-")[0]
            if not (pid.isdigit() and _alive(int(pid))):
                _unlink(path)
        elif ext == "jsa" and stem.startswith(key + "."):
            st = os.stat(path)
            want = stem[len(key) + 1:]
            if want.isdigit() and st.st_size == int(want):
                found.append((st.st_mtime_ns, path))
            else:
                _unlink(path)
                log.warning(
                    "class-data archive %s is %d bytes, not %s; deleted, a new one is built at exit",
                    path, st.st_size, want,
                )
    return max(found)[1] if found else None


def _build(cache: str, key: str, jvm_conf: dict[str, str], proc: subprocess.Popen | None) -> None:
    """At interpreter exit: let this process's JVM exit, build the archive in
    a child process, move it into place and delete archives of other keys."""
    if proc is not None and proc.poll() is None:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            # stops the accumulator server too, which otherwise prints an
            # EOFError traceback when the JVM goes away under it
            with contextlib.suppress(Exception):
                SparkContext._active_spark_context.stop()
        with contextlib.suppress(OSError, ValueError):
            proc.stdin.close()  # the gateway exits on EOF
        with contextlib.suppress(subprocess.TimeoutExpired):
            proc.wait(timeout=JVM_EXIT_WAIT_S)
    try:
        if _sweep(cache, key) is not None:
            return  # another process built it meanwhile
        tag = _tag(cache, key)
        os.makedirs(tag + ".tmp")
    except OSError as e:  # the cache went away meanwhile: no archive this time
        log.warning("class-data archive not built: %s", e)
        return
    part, log_path, err, tmp = (f"{tag}.{ext}" for ext in ("part", "log", "err", "tmp"))
    log.warning(
        "building the JVM class-data archive in %s (once per JDK and jar set; ~50 s)", cache
    )
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY_")}
    env.update(
        SPARK_CONF_DIR=os.path.join(cache, "conf"), TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
        PYTHONPATH=os.pathsep.join(filter(None, [_PKG_PARENT, env.get("PYTHONPATH")])),
    )
    cmd = "import sys; from ot_spark import cds; cds._train(*sys.argv[1:])"
    t0 = time.perf_counter()
    try:
        with open(err, "wb") as fh:
            code = subprocess.run(
                [sys.executable, "-c", cmd, part, log_path, tmp, json.dumps(jvm_conf)],
                env=env, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=fh,
                timeout=BUILD_TIMEOUT_S,
            ).returncode
        if not (code == 0 and _WRITTEN in _read(log_path) and os.path.isfile(part)):
            failed = os.path.join(cache, f"{key}.failed")
            os.replace(err, failed)
            log.warning(
                "building the JVM class-data archive failed (exit %s); runs start without it "
                "until %s is deleted", code, failed,
            )
            return
        final = os.path.join(cache, f"{key}.{os.path.getsize(part)}.jsa")
        os.replace(part, final)
        for name in os.listdir(cache):
            if name.endswith((".jsa", ".failed")) and os.path.join(cache, name) != final:
                _unlink(os.path.join(cache, name))
        log.warning(
            "JVM class-data archive built in %.0f s: %s", time.perf_counter() - t0, final
        )
    except subprocess.TimeoutExpired:
        log.warning("building the JVM class-data archive took over %.0f s; gave up", BUILD_TIMEOUT_S)
    except OSError as e:
        log.warning("class-data archive not built: %s", e)
    finally:
        for path in (part, log_path, err, tmp):
            _unlink(path)


def _train(part: str, log_path: str, tmp: str, jvm_conf: str) -> None:
    """The build's child process: its JVM, started with the launch's
    ``jvm_conf``, runs ``_workload`` and dumps the classes it loaded to
    ``part`` as it exits."""
    from pyspark import SparkContext

    from .session import get_spark

    conf = json.loads(jvm_conf)
    ours = f"-XX:ArchiveClassesAtExit={part} -Djava.io.tmpdir={tmp} {_log_opts(log_path)}"
    opts = [conf.get("spark.driver.extraJavaOptions"), ours]
    conf["spark.driver.extraJavaOptions"] = " ".join(filter(None, opts))
    # the stock filesystem keeps localfs's jar off the classpath: the archive
    # then matches a launch without the jar and, as a prefix, one with it
    conf["spark.hadoop.fs.file.impl"] = "org.apache.hadoop.fs.LocalFileSystem"
    spark = get_spark("ot_spark_cds_build", parallelism=2, extra_conf=conf)
    _workload(spark, tmp)
    spark.stop()
    proc = SparkContext._gateway.proc
    proc.stdin.close()  # the gateway exits on EOF; the JVM then writes the dump
    proc.wait(timeout=BUILD_TIMEOUT_S)


def _workload(spark, tmp: str) -> None:
    """Both engine paths on the synthetic fixture: ``Pipeline.run`` (semi
    join, fused enrich, bucketed write, lineage) and its all-skipped resume,
    the flagship chain into a noop sink, and a read of the output."""
    from . import filters, parse, synth
    from .area_index import build_area_index
    from .enrich_fused import spatial_enrich
    from .pipeline import Pipeline, PipelineConfig
    from .raster import RasterIndex

    paths = synth.write_fixture_dir(os.path.join(tmp, "in"), n_pages=2000)
    rows = [(r["key"], r["name"], r["wkt"]) for r in synth.gen_admin_polygons().to_pylist()]
    idx = build_area_index(rows, tile_size=1.0)
    ridx = RasterIndex.from_arrow(synth.gen_raster_tiles())
    cfg = PipelineConfig(
        pages_path=paths["pages"], links_path=paths["links"], out_dir=os.path.join(tmp, "out"),
        admin_index=idx, raster_index=ridx, run_id="cds",
    )
    for _ in range(2):
        Pipeline(cfg).run(spark)
    df = parse.with_coordinates(spark.read.parquet(paths["pages"]))
    df = filters.remove_tags(filters.complex_filter(df))
    spatial_enrich(df, idx, ridx).write.format("noop").mode("overwrite").save()
    spark.read.parquet(cfg.out_dir).count()
