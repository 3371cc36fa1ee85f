"""Property-based tests (hypothesis) for the pure-math kernels — no Spark
session needed, so these run in milliseconds."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ot_spark import srs
from ot_spark.cells import cell_bounds, grid_cell_py


@settings(max_examples=200, deadline=None)
@given(
    lat=st.floats(-84.0, 84.0, allow_nan=False),
    dlon=st.floats(-3.0, 3.0, allow_nan=False),
)
def test_tm_roundtrip_property(lat, dlon):
    e, n = srs.tm_forward(np.array([lat]), np.array([9.0 + dlon]), 9.0)
    la, lo = srs.tm_inverse(e, n, 9.0)
    assert abs(la[0] - lat) < 1e-8
    assert abs(lo[0] - (9.0 + dlon)) < 1e-8


@settings(max_examples=200, deadline=None)
@given(
    lat=st.floats(-85.0, 85.0, allow_nan=False),
    lon=st.floats(-180.0, 180.0, allow_nan=False),
)
def test_webmercator_roundtrip_property(lat, lon):
    la, lo = srs.webmercator_inverse(
        *srs.webmercator_forward(np.array([lat]), np.array([lon]))
    )
    assert abs(la[0] - lat) < 1e-9
    assert abs(lo[0] - lon) < 1e-9


@settings(max_examples=300, deadline=None)
@given(
    lat=st.floats(-89.999, 89.999, allow_nan=False),
    lon=st.floats(-180.0, 179.999, allow_nan=False),
    ts=st.sampled_from([1.0, 0.5, 0.25]),
)
def test_grid_cell_bounds_contain_point(lat, lon, ts):
    cell = grid_cell_py(lat, lon, ts)
    assert cell is not None
    lo0, la0, lo1, la1 = cell_bounds(cell, ts)
    # +-1e-9 slack: values within one ulp of a tile edge get absorbed into
    # the neighboring tile by (lat+90)/ts float addition — the reference's
    # own documented grid-edge limitation (area.rs:494-496)
    assert la0 - 1e-9 <= lat < la1 + 1e-9
    assert lo0 - 1e-9 <= lon < lo1 + 1e-9


@settings(max_examples=60, deadline=None)
@given(zone=st.integers(1, 60), south=st.booleans())
def test_utm_epsg_params_property(zone, south):
    p = srs.epsg_params((32700 if south else 32600) + zone)
    assert p["lon0"] == zone * 6 - 183
    assert p["fn"] == (srs.FALSE_NORTHING_SOUTH if south else 0.0)
