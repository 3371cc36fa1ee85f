"""The CellLookup admin kernel against a scalar oracle of the probe.

``_oracle`` is the reference probe (area.rs:366-401) written point by
point: cell state 0 -> NULL, single cell -> its key, MULTIPLE -> every
candidate whose clipped geometry intersects the point, comma-joined in
insertion order.  The kernel must agree with it through ``probe``,
``lookup`` and the distributed enrichment, on random points, polygon
vertices and edges, NaN coordinates, poles and cells in neither table.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from ot_spark import area_index, geom
from ot_spark.area_index import MULTIPLE, AreaIndex
from ot_spark.cells import cell_bounds
from ot_spark.enrich_fused import spatial_enrich
from ot_spark.synth import gen_admin_polygons

ROWS = [(r["key"], r["name"], r["wkt"]) for r in gen_admin_polygons().to_pylist()]


def _oracle(idx: AreaIndex, cell, lat: float, lon: float) -> str | None:
    if cell is None:
        return None
    state = idx.index.get(int(cell), 0)
    if state == 0:
        return None
    if state != MULTIPLE:
        return idx.id_to_key[state]
    hits = [
        idx.id_to_key[aid]
        for aid, mp in idx.border[int(cell)]
        if geom.points_intersect_mp(np.array([lon]), np.array([lat]), mp)[0]
    ]
    return ",".join(hits) if hits else None


def _points(seed: int = 7) -> list[tuple[float, float]]:
    """(lat, lon): random over the fixture, every polygon vertex and edge
    midpoint, NaN coordinates, poles and far-away empty cells."""
    rng = np.random.default_rng(seed)
    pts = list(zip(rng.uniform(-1.0, 6.0, 600).tolist(), rng.uniform(-1.0, 9.0, 600).tolist()))
    for _, _, wkt in ROWS:
        for poly in geom.parse_wkt(wkt):
            for ring in poly:
                nxt = np.roll(ring, -1, axis=0)
                pts += [(float(y), float(x)) for x, y in ring]
                pts += [(float(y), float(x)) for x, y in (ring + nxt) / 2.0]
    nan = float("nan")
    pts += [(nan, 2.0), (2.0, nan), (nan, nan), (90.0, 2.0), (-90.0, 2.0),
            (95.0, 2.0), (-89.99, 2.0), (40.0, 100.0), (-30.0, -120.0)]
    return pts


@pytest.fixture(scope="module", params=[1.0, 0.25])
def idx(request):
    return area_index.build_area_index(ROWS, tile_size=request.param)


def _cells(idx: AreaIndex, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """grid_cell's formula in numpy (NaN where Spark yields NULL)."""
    ntl = math.ceil(360.0 / idx.tile_size)
    with np.errstate(invalid="ignore"):
        ok = np.abs(lat) < 90.0
        row = np.floor((lat + 90.0) / idx.tile_size)
        col = np.nan_to_num(np.floor((lon + 180.0) / idx.tile_size))
    return np.where(ok, row * ntl + col, np.nan)


def test_lookup_matches_oracle(idx):
    lat, lon = (np.array(c, dtype=np.float64) for c in zip(*_points()))
    cells = _cells(idx, lat, lon)
    got = idx.lookup(cells, lon, lat)
    want = [
        _oracle(idx, None if np.isnan(c) else c, la, lo)
        for c, la, lo in zip(cells, lat, lon)
    ]
    assert list(got) == want
    # every branch of the trichotomy is exercised; at 0.25 the shared
    # SQA/REC border lies on cell edges, so no point gets two keys there
    assert None in want and any(w and "," not in w for w in want)
    assert any(w and "," in w for w in want) == (idx.tile_size == 1.0)


def test_probe_is_the_kernel(idx):
    for lat, lon in _points():
        if math.isnan(lon):
            continue
        cell = _cells(idx, np.array([lat]), np.array([lon]))[0]
        want = _oracle(idx, None if np.isnan(cell) else cell, lat, lon)
        assert idx.probe(lat, lon) == want, (lat, lon)


def test_enrichers_match_oracle(spark, idx):
    pts = _points()
    df = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(pts)], "id long, lat double, lon double"
    )
    cols = ["id", "lat", "lon", "grid_cell", "admin_key"]
    out = spatial_enrich(df, idx, s2_level=None, h3_resolutions=())
    rows = out.select(cols).collect()
    assert len(rows) == len(pts)
    for r in rows:
        la, lo = pts[r.id]
        want_cell = _cells(idx, np.array([la]), np.array([lo]))[0]
        assert r.grid_cell == (None if np.isnan(want_cell) else want_cell), tuple(r)
        assert r.admin_key == _oracle(idx, r.grid_cell, r.lat, r.lon), tuple(r)


def test_empty_and_nan_inputs(idx):
    assert idx.lookup(np.array([]), np.array([]), np.array([])).tolist() == []
    out = idx.lookup([np.nan, np.nan], [np.nan, 1.0], [1.0, np.nan])
    assert out.tolist() == [None, None]
    assert AreaIndex(tile_size=1.0).probe(2.0, 2.0) is None


def _split_border_index(n_cells: int) -> AreaIndex:
    """Every cell MULTIPLE with two candidates: the west half-tile for A
    and a diagonal triangle for B, so points hit A, B, both or none."""
    idx = AreaIndex(tile_size=1.0)
    idx.id_to_key.update({1: "A", 2: "B"})
    idx.id_to_name.update({1: "Aland", 2: "Bland"})
    for i in range(n_cells):
        cell = 90 * 360 + i
        lo0, la0, lo1, la1 = cell_bounds(cell, 1.0)
        west = geom.box_ring(lo0, la0, lo0 + 0.5, la1)
        tri = np.array([[lo0, la0], [lo1, la0], [lo1, la1]], dtype=np.float64)
        idx.index[cell] = MULTIPLE
        idx.border[cell] = [(1, [[west]]), (2, [[tri]])]
    idx.index[90 * 360 + n_cells] = 1  # one single-area cell after them
    return idx


def test_many_border_cells(spark):
    """More than 1000 border cells: the size at which the enrichers used
    to switch to a broadcast membership join; the kernel has one path."""
    idx = _split_border_index(1200)
    rng = np.random.default_rng(3)
    # every cell at least once; 1200 is the single cell, 1201 is empty
    cell_no = np.concatenate([np.arange(1202), rng.integers(0, 1202, 3000)])
    lon = -180.0 + cell_no % 360 + rng.uniform(0.0, 1.0, len(cell_no))
    lat = cell_no // 360 + rng.uniform(0.0, 1.0, len(cell_no))
    cells = _cells(idx, lat, lon)
    got = idx.lookup(cells, lon, lat)
    want = [_oracle(idx, c, la, lo) for c, la, lo in zip(cells, lat, lon)]
    assert list(got) == want
    assert {"A", "B", "A,B", None} <= set(want)
    assert set(got[cell_no == 1200]) == {"A"}
    assert set(got[cell_no == 1201]) == {None}
    assert len(set(cells[cell_no < 1200])) == 1200
    df = spark.createDataFrame(
        [(i, float(la), float(lo)) for i, (la, lo) in enumerate(zip(lat, lon))],
        "id long, lat double, lon double",
    )
    out = spatial_enrich(df, idx, s2_level=None, h3_resolutions=()).orderBy("id")
    assert [r.admin_key for r in out.select("admin_key").collect()] == want
