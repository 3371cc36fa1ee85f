"""Python workers of a local-master session fork from ``ot_spark.pydaemon``:
they keep each zip's directory across tasks, still import zips added later,
and find ``ot_spark`` whatever the driver's working directory is."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ot_spark import pydaemon
from ot_spark.s2h3 import s2_cell_ids

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_keep_zip_directories_and_import_added_zips(spark, tmp_path):
    # the driver imported the module and is not patched
    assert zipimport.zipimporter.invalidate_caches is not pydaemon._keep_directory

    @F.pandas_udf("boolean")
    def patched(x: pd.Series) -> pd.Series:
        import sys
        import zipimport

        keep = getattr(sys.modules["__main__"], "_keep_directory", None)
        return pd.Series([zipimport.zipimporter.invalidate_caches is keep] * len(x))

    df = spark.range(16).repartition(4)
    assert all(r[0] for r in df.select(patched("id")).collect())

    # a zip added after the daemon started is a new path: it still imports
    path = tmp_path / "ot_spark_added.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("ot_spark_added_mod.py", "VALUE = 41\n")
    spark.sparkContext.addPyFile(str(path))

    @F.pandas_udf("long")
    def added(x: pd.Series) -> pd.Series:
        from ot_spark_added_mod import VALUE

        return x + VALUE

    got = sorted(r[0] for r in df.select(added("id")).collect())
    assert got == [i + 41 for i in range(16)]


_OUTSIDE = """
import json, sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from pyspark.sql import functions as F
from ot_spark.session import get_spark

# -Xshare: no class-data archive is mapped or built at this child's exit
spark = get_spark("outside", parallelism=2, extra_conf={"spark.driver.extraJavaOptions": "-Xshare:auto"})

@F.pandas_udf("long")
def s2(lat: pd.Series, lon: pd.Series) -> pd.Series:
    from ot_spark.s2h3 import s2_cell_ids
    return pd.Series(s2_cell_ids(lat.to_numpy(), lon.to_numpy(), 10))

rows = [(i, -60.0 + 7.5 * i, -170.0 + 21.0 * i) for i in range(16)]
df = spark.createDataFrame(rows, "id long, lat double, lon double").repartition(2)
print("RESULT " + json.dumps(sorted(tuple(r) for r in df.select("id", s2("lat", "lon")).collect())))
"""


def test_python_udfs_run_outside_the_repo(tmp_path):
    """A driver whose working directory is not the repo and whose
    ``PYTHONPATH`` is unset: the workers import ``ot_spark`` all the same."""
    env = dict(os.environ, OT_SPARK_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    p = subprocess.run(
        [sys.executable, "-c", _OUTSIDE, ROOT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = [line for line in p.stdout.splitlines() if line.startswith("RESULT ")]
    assert len(lines) == 1, p.stdout
    got = [tuple(r) for r in json.loads(lines[0].removeprefix("RESULT "))]
    lat = np.array([-60.0 + 7.5 * i for i in range(16)])
    lon = np.array([-170.0 + 21.0 * i for i in range(16)])
    assert got == list(enumerate(int(c) for c in s2_cell_ids(lat, lon, 10)))
