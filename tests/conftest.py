from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ot_spark.session import get_spark  # noqa: E402
from ot_spark import synth  # noqa: E402

N_PAGES = 4000


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ot_spark_tests", parallelism=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("fixtures")
    synth.write_fixture_dir(str(out), n_pages=N_PAGES)
    return str(out)


@pytest.fixture(scope="session")
def pages(spark, fixture_dir):
    return spark.read.parquet(f"{fixture_dir}/pages.parquet")


@pytest.fixture(scope="session")
def links(spark, fixture_dir):
    return spark.read.parquet(f"{fixture_dir}/links.parquet")


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def enrich_ref():
    """Per-row references for ``spatial_enrich``'s columns, none of them
    through its UDF: ``AreaIndex.probe`` for admin_key, a per-point pixel
    lookup for raster_id/elev (WGS84 tiles) and the numpy S2/H3 encoders
    for the tile ids (h3_7 by parent truncation of h3_9)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from ot_spark.cells import grid_cell_py
    from ot_spark.h3x import h3x_cell_ids, h3x_parent
    from ot_spark.s2h3 import s2_cell_ids

    def pixel(ridx, lat: float, lon: float) -> tuple[str | None, float | None]:
        """Finest tile whose [min, max) box holds the point, then the pixel
        under it (GeoTIFF affine); NoData is None; rounded half-up to 2."""
        for t in ridx.tiles:
            if t["min_lon"] <= lon < t["max_lon"] and t["min_lat"] <= lat < t["max_lat"]:
                px = min(max(math.floor((lon - t["min_lon"]) / t["pixel_w"]), 0), t["width"] - 1)
                py = min(max(math.floor((t["max_lat"] - lat) / t["pixel_h"]), 0), t["height"] - 1)
                v = float(t["grid"][py, px])
                if v == t["nodata"]:
                    return t["raster_id"], None
                return t["raster_id"], float(
                    Decimal(repr(v)).quantize(Decimal("0.01"), ROUND_HALF_UP)
                )
        return None, None

    def ref(rows, idx=None, ridx=None) -> list[dict]:
        """One dict of expected columns per row (``lat``/``lon`` fields)."""
        has = [r.lat is not None and r.lon is not None for r in rows]
        lat = np.array([r.lat if h else 0.0 for r, h in zip(rows, has)])
        lon = np.array([r.lon if h else 0.0 for r, h in zip(rows, has)])
        s2 = s2_cell_ids(lat, lon, 10)
        h9 = h3x_cell_ids(lat, lon, 9)
        h7 = h3x_parent(h9, 7)
        out = []
        for i, r in enumerate(rows):
            want = dict.fromkeys(("s2_10", "h3_7", "h3_9"))
            if has[i]:
                want.update(s2_10=int(s2[i]), h3_7=int(h7[i]), h3_9=int(h9[i]))
            if idx is not None:
                want["grid_cell"] = grid_cell_py(r.lat, r.lon, idx.tile_size) if has[i] else None
                want["admin_key"] = idx.probe(r.lat, r.lon) if has[i] else None
            if ridx is not None:
                rid, elev = pixel(ridx, r.lat, r.lon) if has[i] else (None, None)
                want.update(raster_id=rid, elev=elev)
            out.append(want)
        return out

    return ref
