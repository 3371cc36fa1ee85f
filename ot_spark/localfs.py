"""Spark's local filesystem without a ``chmod`` child process per write.

Spark ships no libhadoop, and without it Hadoop's ``RawLocalFileSystem``
sets the mode of every file it creates and every directory it makes by
running ``chmod`` (``Shell.execCommand``): a warm ``Pipeline.run`` with
its 64-bucket parquet write started 267 of them, its all-skipped resume 4.
``jvm/NioLocalFileSystem.java`` is a ``LocalFileSystem`` (so the ``.crc``
checksum files stay) whose raw filesystem sets the same mode through
``java.nio``.

:func:`jar` compiles it once per (source bytes, ``javac``, Hadoop API jar)
into ``${XDG_CACHE_HOME:-~/.cache}/ot_spark/jvm/``.  ``javac`` is keyed by
its resolved path, size and mtime, so finding the jar starts no process
(``javac -version`` would start a JVM on every launch).  The jar is written
under a temp name and moved into place with ``os.replace``, so a
concurrent launch sees either no jar or a whole one.  ``get_spark`` names
the class in ``spark.hadoop.fs.file.impl`` for a driver JVM it launches
for a local master, and :mod:`ot_spark.cds` appends the jar to that JVM's
classpath.  Without ``javac`` the stock filesystem stays, with one warning.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import uuid
import zipfile

log = logging.getLogger(__name__)

CLASS = "ot_spark.jvm.NioLocalFileSystem"
_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFileSystem.java")
JAVAC_TIMEOUT_S = 120.0


def _cache_dir() -> str:
    root = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(root, "ot_spark", "jvm")


def jar() -> str | None:
    """The compiled filesystem's jar, built if missing; None when it cannot
    be built (the stock filesystem then stays)."""
    from pyspark.find_spark_home import _find_spark_home

    javac = shutil.which("javac")
    api = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    if javac is None or not api:
        log.warning(
            "no %s to build %s: local writes set file modes with a chmod process per file",
            "javac" if javac is None else "hadoop-client-api jar", CLASS,
        )
        return None
    javac = os.path.realpath(javac)
    st = os.stat(javac)
    with open(_SOURCE, "rb") as fh:
        h = hashlib.sha256(fh.read())
    h.update(f"\0{javac}\0{st.st_size}\0{st.st_mtime_ns}\0{api[-1]}".encode())
    path = os.path.join(_cache_dir(), f"NioLocalFileSystem-{h.hexdigest()[:16]}.jar")
    if os.path.isfile(path):
        return path
    part = f"{path}.{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"
    try:
        os.makedirs(_cache_dir(), exist_ok=True)
        with tempfile.TemporaryDirectory() as classes:
            subprocess.run(
                [javac, "--release", "17", "-cp", api[-1], "-d", classes, _SOURCE],
                check=True, capture_output=True, stdin=subprocess.DEVNULL, timeout=JAVAC_TIMEOUT_S,
            )
            with zipfile.ZipFile(part, "w", zipfile.ZIP_DEFLATED) as zf:
                for name in sorted(glob.glob("**/*.class", root_dir=classes, recursive=True)):
                    zf.write(os.path.join(classes, name), name)
        os.replace(part, path)
    except (OSError, subprocess.SubprocessError) as e:
        err = getattr(e, "stderr", None) or b""
        log.warning("building %s failed (%s %s); local writes keep the stock filesystem",
                    CLASS, e, err.decode(errors="replace")[-2000:])
        return None
    finally:
        if os.path.exists(part):
            os.remove(part)
    return path
