"""The gate-query table behind the driver contract, checked without a JVM.

``__spark_entry__._TABLE`` is the one registry of gate queries: its order
is ``queries()``'s order, its oracles are ``oracle_sql()``, and every
``q_*`` builder in ``gate_queries/`` must appear in it.  Importing the
entry must not build any oracle SQL (some oracles do numpy work), the
write-twice queries' scratch dir must not outlive the process, and the
footer row counter must tell an unreadable footer from a count.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import subprocess
import sys
from pathlib import Path

import __spark_entry__ as entry
import gate_queries

ROOT = Path(__file__).resolve().parent.parent

NAMES = [name for name, _, _ in entry._TABLE]


def test_names_are_unique():
    assert len(NAMES) == len(set(NAMES)) == 97


def test_queries_follow_table_order():
    assert list(entry.queries()) == NAMES


def test_every_query_but_ivfpq_prod_has_an_oracle():
    sqls = entry.oracle_sql()
    assert set(sqls) == set(NAMES) - {"ivfpq_prod"}
    assert all(isinstance(sql, str) and sql.strip() for sql in sqls.values())


def test_every_builder_is_in_the_table():
    builders = set()
    for info in pkgutil.iter_modules(gate_queries.__path__):
        mod = importlib.import_module(f"gate_queries.{info.name}")
        builders |= {
            obj for name, obj in vars(mod).items()
            if name.startswith("q_") and callable(obj)
            and obj.__module__ == mod.__name__
        }
    assert builders == {builder for _, builder, _ in entry._TABLE}


_PROBE = r"""
import sys
sys.path.insert(0, sys.argv[1])
called = set()

def record(frame, event, arg):
    if event == "call":
        called.add(frame.f_code)

def code(oracle):
    return getattr(oracle, "func", oracle).__code__  # unwrap partial

sys.setprofile(record)
import __spark_entry__ as e
sys.setprofile(None)
oracles = {n: code(o) for n, _, o in e._TABLE if callable(o)}
at_import = sorted(n for n, c in oracles.items() if c in called)
sys.setprofile(record)
e.oracle_sql()
sys.setprofile(None)
print(len(oracles), at_import, sorted(n for n, c in oracles.items() if c not in called))
"""


def test_import_calls_no_oracle():
    """Import the entry in a fresh interpreter under a call profiler: no
    oracle function runs at import, and every one runs in oracle_sql()
    (so the profiler does see them)."""
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(ROOT)],
        capture_output=True, text=True, check=True,
    ).stdout.split(" ", 1)
    n_callable, rest = int(out[0]), out[1].strip()
    assert n_callable > 40
    assert rest == "[] []"


_SCRATCH = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
from gate_queries.common import _scratch_dir

path = _scratch_dir("probe")
os.makedirs(path)
open(os.path.join(path, "f"), "w").write("x")
assert _scratch_dir("probe") == path and not os.path.exists(path)
os.makedirs(path)
open(os.path.join(path, "f"), "w").write("x")
print(os.path.dirname(path))
"""


def test_scratch_dir_is_removed_at_exit():
    root = subprocess.run(
        [sys.executable, "-c", _SCRATCH, str(ROOT)],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert os.path.basename(root).startswith("ot_gate_")
    assert not os.path.exists(root)


def test_footer_rows(tmp_path):
    """Footer row counts for a file and a directory; None for a missing
    path or a corrupt footer, which ``_read`` fans on and ``_table_rows``
    counts with Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gate_queries.common import _footer_rows

    table = pa.table({"x": list(range(7))})
    pq.write_table(table, tmp_path / "t.parquet")
    (tmp_path / "d.parquet").mkdir()
    for i in range(3):
        pq.write_table(table, tmp_path / "d.parquet" / f"part-{i}.parquet")
    (tmp_path / "bad.parquet").write_bytes(b"not parquet")
    assert _footer_rows(str(tmp_path / "t.parquet")) == 7
    assert _footer_rows(str(tmp_path / "d.parquet")) == 21
    assert _footer_rows(str(tmp_path / "bad.parquet")) is None
    assert _footer_rows(str(tmp_path / "missing.parquet")) is None
