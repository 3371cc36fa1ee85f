"""How a local-master session starts: :func:`create` makes every launch
decision once, for a ``local[...]`` master (other masters get the conf as
it is).  A key the caller's conf sets wins over each default below.

- **Python workers** fork from :mod:`ot_spark.pydaemon`
  (``spark.python.daemon.module``), so a UDF task does not re-read
  ``pyspark.zip``'s directory (100-190 ms a task on CPython 3.11;
  gh-103200).  That daemon imports ``ot_spark`` before any task does, so
  the package root goes first on ``spark.executorEnv.PYTHONPATH``: without
  it every Python UDF, not only the engine's, fails when the driver's
  working directory is not the checkout.
- The rest applies only when this process starts the driver JVM (not
  under ``spark-submit``, no running gateway).
- **Local writes**: without libhadoop, which Spark does not ship, Hadoop's
  ``RawLocalFileSystem`` runs ``chmod`` for every file and directory it
  creates (267 times in a warm ``Pipeline.run``).  ``FS_CLASS``, a
  ``LocalFileSystem`` (``.crc`` files stay), sets the same modes through
  ``java.nio``.  Its jar is compiled once per (source, ``javac``
  path/size/mtime, Hadoop API jar), so finding it starts no process, and
  goes in ``SPARK_DIST_CLASSPATH``, last on the classpath.  Without
  ``javac`` the stock filesystem stays, with one warning.
- **Class-data sharing**: most of a cold start is the JVM loading and
  verifying ~12k classes from Spark's jars.  The JVM maps a dynamic
  AppCDS archive that holds them parsed instead (``-XX:SharedArchiveFile``,
  appended to the caller's ``spark.driver.extraJavaOptions``; java options
  naming ``-Xshare`` or an archive turn this off).

The archive is built by a fixed training run, never by whichever run comes
first, so what it holds depends only on the JDK, the jars and this module:
at interpreter exit a child process starts a JVM with
``-XX:ArchiveClassesAtExit`` and runs ``_workload`` (a synthetic
``Pipeline.run`` and the flagship chain), announced on stderr, 20–45 s on
4 cores (measured 18–42 s).  A launch that finds no usable archive
registers that build only if the cache was used before, so the first
process in a fresh cache (a one-shot CI container) builds nothing, the
second builds, later ones map.
The build's child keeps the stock filesystem: the archive, dumped without
``FS_CLASS``'s jar, maps for launches with the jar appended too.

Files under ``${XDG_CACHE_HOME:-~/.cache}/ot_spark/``:

- ``jvm/NioLocalFileSystem-<hash>.jar``: ``FS_CLASS``'s jar.
- ``cds/conf/``: the marker of a used cache, and an empty
  ``SPARK_CONF_DIR`` for the build and for launches that map the archive.
  Spark puts the conf dir first on the classpath and the dump refuses a
  non-empty directory there, so CDS is used only when the real conf dir
  holds nothing but ``*.template`` files (a real ``spark-defaults.conf``
  is never dropped) and no ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` or
  caller's ``SPARK_DIST_CLASSPATH`` adds entries.
- ``cds/<key>.<size>.jsa``: the archive.  ``key`` hashes ``libjvm``, the
  jar classpath and ``_TRAINING``, so computing it starts no JVM.  The
  size is checked before launch: the JVM does not, and mapping a truncated
  archive kills it with SIGBUS.  One the JVM does not use is deleted and
  rebuilt; a launch that fails with it is retried without.
- ``cds/<key>.failed``: a failed build's stderr; launches skip CDS until
  it is deleted or the key changes.
- ``<name>.<pid>-<rand>.<ext>``: one process's files in progress (dump,
  CDS log, child stderr, scratch dirs).  CDS messages go to the log, never
  to stdout.  A result appears only by ``os.replace``, so a concurrent
  launch sees none or a whole one; a dead process's leftovers in ``cds/``
  are deleted by the next launch.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import json
import logging
import os
import shutil
import subprocess
import sys
import time
import uuid
import zipfile
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home

from . import pydaemon

log = logging.getLogger(__name__)

FS_CLASS = "ot_spark.jvm.NioLocalFileSystem"
_STOCK_FS = "org.apache.hadoop.fs.LocalFileSystem"
_FS_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFileSystem.java")
JAVAC_TIMEOUT_S = 120.0
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


def create(build: Callable[[dict[str, str]], object], master: str, conf: dict[str, str]):
    """``build(conf)``, the session builder, with a local master's launch
    decisions made (see the module docstring)."""
    if not master.startswith("local"):
        return build(conf)
    conf = {"spark.python.daemon.module": pydaemon.__name__, **conf}
    path = [_PKG_PARENT, conf.get("spark.executorEnv.PYTHONPATH")]
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(filter(None, path))
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return build(conf)  # the JVM is running, or spark-submit's: not ours to start
    jar = None if "spark.hadoop.fs.file.impl" in conf else _fs_jar()
    if jar is not None:
        conf["spark.hadoop.fs.file.impl"] = FS_CLASS
    cds = _cds_plan(conf)  # before the jar joins SPARK_DIST_CLASSPATH
    dist = os.pathsep.join(filter(None, [os.environ.get("SPARK_DIST_CLASSPATH"), jar]))
    env = {"SPARK_DIST_CLASSPATH": dist or None}
    if cds is None:
        with _environ(**env):
            return build(conf)
    cache, key, archive, reused = cds
    spark = None
    if archive is not None:
        inode = os.stat(archive).st_ino
        with _staged(cache, key, "log") as (cds_log,):
            ours = f"-XX:SharedArchiveFile={archive} {_log_opts(cds_log)}"
            opts = " ".join(filter(None, [conf.get("spark.driver.extraJavaOptions"), ours]))
            try:
                with _environ(**env, SPARK_CONF_DIR=os.path.join(cache, "conf")):
                    spark = build({**conf, "spark.driver.extraJavaOptions": opts})
            except PySparkRuntimeError as e:
                if e.getCondition() != "JAVA_GATEWAY_EXITED":
                    raise
                log.warning("driver JVM did not start with class-data sharing; starting it without")
            else:
                if _MAPPED in (text := _read(cds_log)) and _REJECTED not in text:
                    log.info("JVM class-data archive: mapped %s", archive)
                    return spark
                log.warning("class-data archive %s was not used by the JVM; deleted", archive)
        with contextlib.suppress(FileNotFoundError):
            if os.stat(archive).st_ino == inode:  # not one another process built meanwhile
                os.remove(archive)
    if spark is None:
        with _environ(**env):
            spark = build(conf)
    if reused:
        jvm_conf = {k: conf[k] for k in _JVM_CONF if k in conf}
        atexit.register(_build, cache, key, jvm_conf, spark.sparkContext._gateway.proc)
        log.info("JVM class-data archive: none usable in %s; one is built at exit", cache)
    else:
        log.info("JVM class-data archive: %s is new; the next launch builds one at exit", cache)
    return spark


@contextlib.contextmanager
def _environ(**values: str | None):
    """``os.environ`` with ``values`` set (unset where None) for the launch only."""
    prev = {name: os.environ.get(name) for name in values}
    _setenv(values)
    try:
        yield
    finally:
        _setenv(prev)


def _setenv(values: dict[str, str | None]) -> None:
    for name, value in values.items():
        if value is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = value


def _cache_dir(name: str) -> str:
    root = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(root, "ot_spark", name)


@contextlib.contextmanager
def _staged(cache: str, name: str, *exts: str):
    """``<cache>/<name>.<pid>-<rand>.<ext>`` for each of ``exts``: this
    process's files in progress, deleted when the block ends.  What is to
    outlive it leaves by ``os.replace``."""
    tag = os.path.join(cache, f"{name}.{os.getpid()}-{uuid.uuid4().hex[:8]}")
    paths = [f"{tag}.{ext}" for ext in exts]
    try:
        yield paths
    finally:
        for path in paths:
            _unlink(path)


def _unlink(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)


def _read(path: str) -> str:
    with contextlib.suppress(FileNotFoundError), open(path, errors="replace") as fh:
        return fh.read()
    return ""


def _fs_jar() -> str | None:
    """``FS_CLASS``'s jar, compiled if missing; None when it cannot be
    (the stock filesystem then stays)."""
    javac = shutil.which("javac")
    api = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    if javac is None or not api:
        log.warning(
            "no %s to build %s: local writes set file modes with a chmod process per file",
            "javac" if javac is None else "hadoop-client-api jar", FS_CLASS,
        )
        return None
    javac = os.path.realpath(javac)
    st = os.stat(javac)
    with open(_FS_SOURCE, "rb") as fh:
        h = hashlib.sha256(fh.read())
    h.update(f"\0{javac}\0{st.st_size}\0{st.st_mtime_ns}\0{api[-1]}".encode())
    cache = _cache_dir("jvm")
    path = os.path.join(cache, f"NioLocalFileSystem-{h.hexdigest()[:16]}.jar")
    if os.path.isfile(path):
        return path
    try:
        os.makedirs(cache, exist_ok=True)
        with _staged(cache, os.path.basename(path), "tmp", "classes") as (part, classes):
            subprocess.run(
                [javac, "--release", "17", "-cp", api[-1], "-d", classes, _FS_SOURCE],
                check=True, capture_output=True, stdin=subprocess.DEVNULL, timeout=JAVAC_TIMEOUT_S,
            )
            with zipfile.ZipFile(part, "w", zipfile.ZIP_DEFLATED) as zf:
                for name in sorted(glob.glob("**/*.class", root_dir=classes, recursive=True)):
                    zf.write(os.path.join(classes, name), name)
            os.replace(part, path)
    except (OSError, subprocess.SubprocessError) as e:
        err = getattr(e, "stderr", None) or b""
        log.warning("building %s failed (%s %s); local writes keep the stock filesystem",
                    FS_CLASS, e, err.decode(errors="replace")[-2000:])
        return None
    return path


def _cds_plan(conf: dict[str, str]) -> tuple[str, str, str | None, bool] | None:
    """(cache dir, key, this key's intact archive or None, whether the cache
    was used before), or None when this launch runs without CDS."""
    java_opts = conf.get("spark.driver.extraJavaOptions", "")
    if any(opt in java_opts for opt in ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")):
        return None  # the caller manages class sharing itself
    try:
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
        cache = _cache_dir("cds")
        key = _archive_key(spark_home, conf.get("spark.driver.extraClassPath", ""))
        if key is None or any(c in cache for c in " \t\"',:"):
            return None  # no JDK/jars to key on, or a path -Xlog cannot take
        empty_conf = os.path.join(cache, "conf")
        reused = os.path.isdir(empty_conf)
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return None
        failed = os.path.join(cache, f"{key}.failed")
        if os.path.exists(failed):
            log.info("JVM class-data sharing off: building the archive failed, see %s", failed)
            return None
        return cache, key, _sweep(cache, key), reused
    except OSError as e:
        log.warning("JVM class-data sharing skipped: %s", e)
        return None


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


def _log_opts(log_path: str) -> str:
    return f"-Xlog:cds*=off -Xlog:cds=info,cds+dynamic=info:file={log_path}"


def _alive(pid: int) -> bool:
    try:
        with contextlib.suppress(PermissionError):  # another user's process
            os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False


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
        with _staged(cache, key, "part", "log", "err", "tmp") as (part, cds_log, err, tmp):
            os.makedirs(tmp)
            log.warning("building the JVM class-data archive in %s (once per JDK and jar set; 20-45 s)", cache)
            env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY_")}
            env.update(
                SPARK_CONF_DIR=os.path.join(cache, "conf"), TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
                PYTHONPATH=os.pathsep.join(filter(None, [_PKG_PARENT, env.get("PYTHONPATH")])),
            )
            cmd = "import sys; from ot_spark import launch; launch._train(*sys.argv[1:])"
            t0 = time.perf_counter()
            with open(err, "wb") as fh:
                code = subprocess.run(
                    [sys.executable, "-c", cmd, part, cds_log, tmp, json.dumps(jvm_conf)],
                    env=env, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=fh,
                    timeout=BUILD_TIMEOUT_S,
                ).returncode
            if not (code == 0 and _WRITTEN in _read(cds_log) and os.path.isfile(part)):
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
            log.warning("JVM class-data archive built in %.0f s: %s", time.perf_counter() - t0, final)
    except subprocess.TimeoutExpired:
        log.warning("building the JVM class-data archive took over %.0f s; gave up", BUILD_TIMEOUT_S)
    except OSError as e:  # the cache went away meanwhile: no archive this time
        log.warning("class-data archive not built: %s", e)


def _train(part: str, cds_log: str, tmp: str, jvm_conf: str) -> None:
    """The build's child process: its JVM, started with the launch's
    ``jvm_conf``, runs ``_workload`` and dumps the classes it loaded to
    ``part`` as it exits."""
    from .session import get_spark

    conf = json.loads(jvm_conf)
    ours = f"-XX:ArchiveClassesAtExit={part} -Djava.io.tmpdir={tmp} {_log_opts(cds_log)}"
    opts = [conf.get("spark.driver.extraJavaOptions"), ours]
    conf["spark.driver.extraJavaOptions"] = " ".join(filter(None, opts))
    # the stock filesystem keeps FS_CLASS's jar off the classpath: the
    # archive then matches a launch without the jar and, as a prefix, one
    # with it
    conf["spark.hadoop.fs.file.impl"] = _STOCK_FS
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
