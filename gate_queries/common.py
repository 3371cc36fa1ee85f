"""Helpers shared by the gate-query families: scans, footer row counts, the
fixture indexes, scratch dirs and SQL fragments used by more than one."""

from __future__ import annotations

import atexit
import functools
import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ot_spark import area_index, pagesview
from ot_spark.synth import gen_admin_polygons


def _admin_index() -> area_index.AreaIndex:
    rows = [(r["key"], r["name"], r["wkt"]) for r in gen_admin_polygons().to_pylist()]
    return area_index.build_area_index(rows, tile_size=1.0)


# Exclude points exactly on fixture-polygon boundaries: there the reference's
# grid trichotomy has a *documented* grid-edge limitation (area.rs:494-496)
# that a geometric oracle can't reproduce.  lat*100 / lon*100 are exact
# integers by construction, so the exclusion is exact integer arithmetic.
_LAT100 = pagesview.LAT100_SQL
_LON100 = pagesview.LON100_SQL
_OFF_BOUNDARY_SQL = (
    f"({_LAT100} % 50 <> 0) AND ({_LON100} % 50 <> 0) "
    f"AND (({_LON100} + {_LAT100}) <> 900) AND (({_LON100} - {_LAT100}) <> 400)"
)


# The fixture admin polygons (synth.gen_admin_polygons) as the oracles'
# point-in-polygon over lat/lon: one WHEN per polygon.
_ADMIN_WHENS = (
    "lon > 1.5 AND lon < 2.5 AND lat > 1.5 AND lat < 2.5 THEN 'SQA'",
    "lon > 2.5 AND lon < 4.5 AND lat > 1.5 AND lat < 2.5 THEN 'REC'",
    "lat > 1.5 AND lon > lat + 4.0 AND lon < 9.0 - lat THEN 'TRI'",
    "lon > 7.0 AND lon < 8.0 AND lat > 3.0 AND lat < 4.0 THEN 'EDG'",
)


def _admin_case_sql(indent: str) -> str:
    """The admin-key ``CASE ... END``, its lines laid out at ``indent``."""
    whens = "".join(f"{indent}  WHEN {w}\n" for w in _ADMIN_WHENS)
    return f"CASE\n{whens}{indent}END"


def _off_boundary_col() -> F.Column:
    lat100 = pagesview.lat100_col()
    lon100 = pagesview.lon100_col()
    return (
        (lat100 % 50 != 0)
        & (lon100 % 50 != 0)
        & ((lon100 + lat100) != 900)
        & ((lon100 - lat100) != 400)
    )


def _read(
    spark: SparkSession, sf_dir: str, name: str, fan: bool | int = False
) -> DataFrame:
    """Scan, optionally behind ``pagesview.scan_floor``.

    ``fan`` is opt-in per query: the exchange has a fixed cost (~0.2-0.5s
    of task overhead + one move of the table at gate scale), so it pays
    only where per-row compute dominates the scan stage (tokenize/shingle/
    PQ-encode-heavy queries: 2-9x) and is a pure loss for cheap or
    shuffle-dominated ones (a blanket floor made pagerank 2x slower).  An
    int ``fan`` is a row-count threshold on the parquet footer: fan at or
    above it or when the footer is unreadable, else leave the scan alone.
    For medium per-row work (WARC framing, HTML regex chains) the floor
    paid 2-3x at 10x sf0.1 but lost 0.1-0.4s at sf0.1."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if fan is not True and fan:
        rows = _footer_rows(path)
        fan = rows is None or rows >= int(fan)
    return pagesview.scan_floor(spark, df) if fan else df


# medium-per-row-work threshold: 10x sf0.1 (50k docs) fans, sf0.1 (5k) does
# not — the crossover measured in BENCH/ for the warc/html/url families
FAN_ROWS = 20000


def _footer_rows(path: str) -> int | None:
    """Row count of a local parquet file or directory from its footers
    (driver-side pyarrow, ~ms); None when there is no readable footer."""
    import pyarrow.parquet as pq

    try:
        if os.path.isfile(path):
            return pq.read_metadata(path).num_rows
        if os.path.isdir(path):
            return sum(
                pq.read_metadata(f).num_rows
                for f in glob.glob(os.path.join(path, "*.parquet"))
            )
    except (OSError, ValueError):  # missing or corrupt footer (ArrowInvalid)
        pass
    return None


def _table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of an unfiltered base table from parquet footers —
    by definition equal to ``.count()`` on the bare scan, without the
    scan+aggregate Spark job the count schedules (guide §5: metadata work
    belongs on the driver).  Falls back to a Spark count when the layout
    is not local parquet."""
    path = f"{sf_dir}/{name}.parquet"
    rows = _footer_rows(path)
    return spark.read.parquet(path).count() if rows is None else rows


@functools.cache
def _scratch_root() -> str:
    # pid-scoped: concurrent gate processes must not trample each other
    root = f"/tmp/ot_gate_{os.getpid()}"
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _scratch_dir(name: str) -> str:
    """A fresh scratch dir for a write-twice query; the process's whole
    scratch root is removed at interpreter exit."""
    path = f"{_scratch_root()}/{name}"
    shutil.rmtree(path, ignore_errors=True)
    return path


# The messy-URL template in SQL (same rule as urltools.synthetic_url_col;
# also the url_dedup oracle's raw CTE).
_SYNTH_URL_SQL = """
    (CASE WHEN doc_id % 9 = 0 THEN 'HTTPS://' ELSE 'https://' END)
    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
    || (CASE WHEN doc_id % 2 = 0 THEN 'Site' ELSE 'site' END)
    || CAST(doc_id % 50 AS VARCHAR) || '.ORG'
    || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
    || '/p/' || CAST(doc_id % 200 AS VARCHAR)
    || (CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END)
    || (CASE WHEN doc_id % 7 = 0 THEN ''
             WHEN doc_id % 2 = 0 THEN '?utm_source=x&b=2&a=1'
             ELSE '?b=2&a=1' END)
    || (CASE WHEN doc_id % 6 = 2 THEN '#frag' ELSE '' END)
"""


def _raster_index():
    from ot_spark.raster import RasterIndex
    from ot_spark.synth import gen_raster_tiles

    return RasterIndex.from_arrow(gen_raster_tiles())


def _elevation_cases(lat: str = "lat", lon: str = "lon") -> tuple[str, str]:
    """Arithmetic re-derivation of routing + affine pixel lookup + NoData:
    the synthetic grids hold value = 100 + px*0.25 + py*0.5 (exact quarters/
    halves — no FP hazard), fineA has NoData at flat indices % 97 == 0.
    Returns (raster_id CASE expr, elevation CASE expr) over the given
    lat/lon SQL expressions."""
    tiles = [
        ("fineA", 0.0, 0.0, 2.0, 2.0, 0.01, 97),
        ("fineB", 1.0, 1.0, 3.0, 3.0, 0.01, 0),
        ("coarse", -1.0, -1.0, 9.0, 5.0, 0.05, 0),
    ]
    rid_cases, val_cases = [], []
    for rid, lo0, la0, lo1, la1, pix, nd in tiles:
        w = round((lo1 - lo0) / pix)
        h = round((la1 - la0) / pix)
        contains = (
            f"{lon} >= {lo0} AND {lon} < {lo1} AND {lat} >= {la0} AND {lat} < {la1}"
        )
        px = f"least(greatest(CAST(floor(({lon} - {lo0}) / {pix}) AS BIGINT), 0), {w - 1})"
        py = f"least(greatest(CAST(floor(({la1} - {lat}) / {pix}) AS BIGINT), 0), {h - 1})"
        # CASTs force double: DuckDB parses bare float literals as DECIMAL,
        # which would format (and hash) differently from Spark's doubles
        val = (
            f"round(CAST(100.0 AS DOUBLE) + {px} * CAST(0.25 AS DOUBLE) "
            f"+ {py} * CAST(0.5 AS DOUBLE), 2)"
        )
        if nd:
            val = f"CASE WHEN (({py}) * {w} + ({px})) % {nd} = 0 THEN NULL ELSE {val} END"
        rid_cases.append(f"WHEN {contains} THEN '{rid}'")
        val_cases.append(f"WHEN {contains} THEN {val}")
    return (
        f"CASE {' '.join(rid_cases)} END",
        f"CASE {' '.join(val_cases)} END",
    )


_TOKS_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"
