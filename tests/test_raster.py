"""Raster enrichment golden tests (mirror geotiff.rs routing/pixel tests)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ot_spark import raster
from ot_spark.enrich_fused import spatial_enrich
from ot_spark.synth import NODATA, gen_raster_tiles, raster_value


@pytest.fixture(scope="module")
def ridx(spark, fixture_dir):
    rdf = spark.read.parquet(f"{fixture_dir}/raster_tiles.parquet")
    return raster.RasterIndex.from_df(rdf)


def _enrich_with_elevation(df, ridx, **kw):
    return spatial_enrich(df, None, ridx, s2_level=None, h3_resolutions=(), **kw)


def _expected(lon: float, lat: float) -> float | None:
    """Independent re-derivation: route finest-first, affine pixel math."""
    tiles = [
        ("fineA", 0.0, 0.0, 2.0, 2.0, 0.01, 97),
        ("fineB", 1.0, 1.0, 3.0, 3.0, 0.01, 0),
        ("coarse", -1.0, -1.0, 9.0, 5.0, 0.05, 0),
    ]
    for rid, lo0, la0, lo1, la1, pix, nd in tiles:
        if lo0 <= lon < lo1 and la0 <= lat < la1:
            w = round((lo1 - lo0) / pix)
            px = int(np.floor((lon - lo0) / pix))
            py = int(np.floor((la1 - lat) / pix))
            if nd and (py * w + px) % nd == 0:
                return None
            return round(float(raster_value(px, py)), 2)
    return None


GOLDEN_POINTS = [
    (0.505, 0.505),  # fineA interior
    (1.5, 1.5),      # fineA∩fineB overlap -> fineA (stable finest-first tie)
    (2.5, 2.5),      # fineB only
    (5.0, 4.0),      # coarse only
    (8.5, 4.9),      # coarse edge region
    (9.5, 0.0),      # gap -> NULL (not-found, geotiff routing tests)
    (0.005, 1.995),  # fineA pixel 0 -> NoData -> NULL
    (-0.5, -0.5),    # coarse negative quadrant
]


def test_routing_and_lookup_golden(spark, ridx):
    df = spark.createDataFrame(
        [(float(lo), float(la)) for lo, la in GOLDEN_POINTS], "lon double, lat double"
    )
    out = _enrich_with_elevation(df, ridx).collect()
    for row, (lo, la) in zip(out, GOLDEN_POINTS):
        want = _expected(lo, la)
        if want is None:
            assert row.elev is None, (lo, la, row.elev)
        else:
            assert row.elev == pytest.approx(want), (lo, la)


def test_routing_finest_first(spark, ridx):
    df = spark.createDataFrame([(1.5, 1.5), (2.5, 2.5), (5.0, 4.0)], "lon double, lat double")
    rows = _enrich_with_elevation(df, ridx).select("raster_id").collect()
    assert [r.raster_id for r in rows] == ["fineA", "fineB", "coarse"]


def test_skip_flag(spark, ridx):
    df = spark.createDataFrame(
        [(0.505, 0.505, True), (0.505, 0.505, False)], "lon double, lat double, no_elevation boolean"
    )
    rows = _enrich_with_elevation(df, ridx, skip_col="no_elevation").collect()
    assert rows[0].elev is None
    assert rows[1].elev is not None


def test_keep_original(spark, ridx):
    df = spark.createDataFrame(
        [(0.505, 0.505, 42.0), (0.505, 0.505, None)], "lon double, lat double, elev double"
    )
    rows = _enrich_with_elevation(df, ridx, keep_original=True).collect()
    assert rows[0].elev == 42.0
    assert rows[1].elev == pytest.approx(_expected(0.505, 0.505))


def test_elevation_stats(spark, ridx):
    df = spark.createDataFrame(
        [(0.505, 0.505, False), (9.5, 0.0, False), (1.0, 1.0, True)],
        "lon double, lat double, no_elevation boolean",
    )
    out = _enrich_with_elevation(df, ridx, skip_col="no_elevation")
    stats = raster.elevation_stats_df(out, skip_col="no_elevation").first()
    assert stats.asDict() == {
        "found": 1, "not_found": 1, "skipped": 1, "unknown_crs": 0,
    }


def test_nodata_cells_exist_in_fixture():
    tbl = gen_raster_tiles().to_pydict()
    vals = np.array(tbl["values"][0])
    assert (vals == NODATA).sum() > 0
