"""Driver-side cost of building plans: the py4j traffic of the flagship
chain, PySpark's call-site capture, and no pandas in the engine."""

from __future__ import annotations

import collections
import glob
import os
import subprocess
import sys
import threading
from unittest import mock

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The flagship chain over a 1,000-page input issues ~530 py4j commands
# with call-site capture off and ~1,540 with it on.
FLAGSHIP_PY4J_BUDGET = 700


def test_call_site_capture_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_flagship_build_py4j_budget(spark):
    """Building parse -> complex_filter -> remove_tags -> spatial_enrich
    stays within a py4j command budget.  Each Column method costs
    about four extra round trips when PySpark captures call sites, so
    turning capture back on, or a per-row Column loop, fails here."""
    import py4j.clientserver

    import gate_queries.common as entrymod
    from ot_spark import filters, parse
    from ot_spark.benchdata import pages_range_df
    from ot_spark.enrich_fused import spatial_enrich

    pages = pages_range_df(spark, 1000)
    idx, ridx = entrymod._admin_index(), entrymod._raster_index()

    def chain():
        df = filters.remove_tags(filters.complex_filter(parse.with_coordinates(pages)))
        return spatial_enrich(df, idx, ridx)

    chain()  # the first build in a process also resolves JVM class handles
    send = py4j.clientserver.JavaClient.send_command
    builder = threading.get_ident()
    sent = collections.Counter()

    def counting(self, command, *args, **kwargs):
        # py4j's finalizer thread sends the deletes of collected objects,
        # which earlier tests may have left behind: not this build's cost
        if threading.get_ident() == builder:
            sent[command[:1]] += 1
        return send(self, command, *args, **kwargs)

    with mock.patch.object(py4j.clientserver.JavaClient, "send_command", counting):
        chain()
    assert 0 < sum(sent.values()) <= FLAGSHIP_PY4J_BUDGET, sent


def engine_modules() -> list[str]:
    """Every module under ``ot_spark/`` and ``gate_queries/``, by walking
    the package directories."""
    mods = []
    for pkg in ("ot_spark", "gate_queries"):
        for path in glob.glob(os.path.join(ROOT, pkg, "**", "*.py"), recursive=True):
            name = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
            mods.append(name.removesuffix(".__init__"))
    return sorted(mods)


def test_engine_imports_no_pandas():
    """Every engine module loads without pandas (a fresh interpreter, so
    other tests' imports do not count)."""
    mods = engine_modules()
    assert "ot_spark.webtext.textstats" in mods and "gate_queries.vectors" in mods
    code = (
        "import importlib, sys\n"
        f"for m in {mods!r}:\n"
        "    importlib.import_module(m)\n"
        "print('pandas' in sys.modules)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False", out.stdout + out.stderr
