"""CRS transforms (C7): golden values from the reference's own tests
(/root/reference/src/handler/geotiff.rs:1013-1052) plus round-trip and
projected raster-lookup checks."""

from __future__ import annotations

import numpy as np
import pytest

from ot_spark import raster, srs
from ot_spark.enrich_fused import spatial_enrich

LIMBURG = (50.38536322, 8.06185930)          # lat, lon
LIMBURG_25832 = (433305.7043197789, 5581899.216447188)


def test_forward_matches_reference_golden():
    e, n = srs.wgs84_to_epsg(np.array([LIMBURG[0]]), np.array([LIMBURG[1]]), 25832)
    # the reference accepts 1e-2 m here; Krueger-6 gives ~1e-9 m
    assert abs(e[0] - LIMBURG_25832[0]) < 1e-6
    assert abs(n[0] - LIMBURG_25832[1]) < 1e-6
    e2, n2 = srs.wgs84_to_epsg(np.array([50.28]), np.array([8.06]), 25832)
    assert abs(e2[0] - 433025.5633903637) < 1e-6
    assert abs(n2[0] - 5570185.7364423815) < 1e-6


def test_inverse_matches_reference_golden():
    la, lo = srs.tm_inverse(
        np.array([LIMBURG_25832[0]]), np.array([LIMBURG_25832[1]]), 9.0
    )
    # reference pins 1e-7 degrees (are_floats_close_7)
    assert abs(la[0] - LIMBURG[0]) < 1e-7
    assert abs(lo[0] - LIMBURG[1]) < 1e-7


def test_roundtrip_grid():
    lats = np.linspace(-79.0, 83.0, 41)
    lons = np.linspace(6.01, 11.99, 41)  # inside zone 32
    e, n = srs.tm_forward(lats, lons, 9.0)
    la, lo = srs.tm_inverse(e, n, 9.0)
    assert np.max(np.abs(la - lats)) < 1e-9
    assert np.max(np.abs(lo - lons)) < 1e-9


def test_webmercator_golden_and_roundtrip():
    x, y = srs.webmercator_forward(np.array([0.0]), np.array([180.0]))
    assert abs(x[0] - 20037508.342789244) < 1e-6
    assert abs(y[0]) < 1e-9
    la, lo = srs.webmercator_inverse(x, np.array([7361866.113]))
    la2, lo2 = srs.webmercator_inverse(*srs.webmercator_forward(np.array([52.5]), np.array([13.4])))
    assert abs(la2[0] - 52.5) < 1e-12 and abs(lo2[0] - 13.4) < 1e-12


@pytest.mark.parametrize("epsg", [25832, 2000])
def test_projected_raster_lookup(spark, epsg):
    # 100 m UTM32N tile around the Limburg golden point; value = py*1000+px.
    # EPSG:2000 is not supported (srs.epsg_supported): the point is routed
    # to the tile but gets NULL elevation instead of failing the stage
    grid = (np.arange(80)[:, None] * 1000 + np.arange(60)[None, :]).astype(float)
    idx = raster.RasterIndex([
        {
            "raster_id": "utm", "epsg": epsg,
            "min_lon": 8.0, "max_lon": 8.1, "min_lat": 50.3, "max_lat": 50.45,
            "min_x": 430000.0, "max_y": 5585000.0,
            "pixel_w": 100.0, "pixel_h": 100.0,
            "width": 60, "height": 80, "nodata": -32768.0, "grid": grid,
        }
    ])
    pts = spark.createDataFrame(
        [(1, LIMBURG[1], LIMBURG[0])], "id long, lon double, lat double"
    )
    out = spatial_enrich(pts, None, idx, s2_level=None, h3_resolutions=()).first()
    px = int((LIMBURG_25832[0] - 430000.0) // 100)
    py = int((5585000.0 - LIMBURG_25832[1]) // 100)
    assert out.raster_id == "utm"
    assert out.elev == (float(py * 1000 + px) if srs.epsg_supported(epsg) else None)
