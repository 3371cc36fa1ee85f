"""Round-3 additions: conic CRS family, scale fallbacks in the fused
enricher and admin stats, lineage single-scan write, unknown-CRS loudness,
CC convergence guard, salted-count boolean semantics."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ot_spark import geom, raster, skew, spatial_join, srs
from ot_spark.area_index import MULTIPLE, AreaIndex
from ot_spark.cells import cell_bounds
from ot_spark.enrich_fused import spatial_enrich
from ot_spark.webtext.dedup import connected_components


# ------------------------------------------------------------- conic CRS (C7)

def test_lambert93_paris_golden():
    # RGF93 / Lambert-93 coordinates of Paris city centre — public reference
    # values (IGN): (652469.02, 6862035.26) for (48.8566N, 2.3522E)
    x, y = srs.wgs84_to_epsg(np.array([48.8566]), np.array([2.3522]), 2154)
    assert abs(x[0] - 652469.02) < 0.5
    assert abs(y[0] - 6862035.26) < 0.5


@pytest.mark.parametrize("code", [2154, 3034, 3978, 5070, 3035])
def test_conic_origin_anchor(code):
    # forward(lat0, lon0) must land exactly on (FE, FN) by construction
    p = srs.epsg_params(code)
    x, y = srs.wgs84_to_epsg(np.array([p["lat0"]]), np.array([p["lon0"]]), code)
    assert abs(x[0] - p["fe"]) < 1e-6
    assert abs(y[0] - p["fn"]) < 1e-6


def _local_scale(code: int, latd: float, lond: float) -> float:
    """Scale along the parallel via finite differences vs ellipsoid ground
    distance — k must be exactly 1 on an LCC's standard parallels."""
    p = srs.epsg_params(code)
    a, f = srs._ELLIPSOIDS[p["ellipsoid"]]
    e = math.sqrt(f * (2 - f))
    h = 1e-7
    x0, y0 = srs.wgs84_to_epsg(np.array([latd]), np.array([lond]), code)
    x1, y1 = srs.wgs84_to_epsg(np.array([latd]), np.array([lond + h]), code)
    s = math.sin(math.radians(latd))
    ground = a * math.cos(math.radians(latd)) / math.sqrt(1 - (e * s) ** 2) * math.radians(h)
    return math.hypot(x1[0] - x0[0], y1[0] - y0[0]) / ground


@pytest.mark.parametrize("code", [2154, 3034, 3978])
def test_lcc_unit_scale_on_standard_parallels(code):
    p = srs.epsg_params(code)
    assert _local_scale(code, p["lat1"], p["lon0"] + 1.0) == pytest.approx(1.0, abs=1e-6)
    assert _local_scale(code, p["lat2"], p["lon0"] - 1.0) == pytest.approx(1.0, abs=1e-6)


@pytest.mark.parametrize(
    "code,probes",
    [
        (5070, ((30.0, -100.0), (40.0, -90.0), (45.5, -80.0))),
        (3035, ((40.0, -5.0), (52.0, 10.0), (60.0, 25.0))),
    ],
)
def test_equal_area_projections_preserve_area(code, probes):
    # equal-area: |det J| == 1 against the ellipsoid area element, anywhere
    p = srs.epsg_params(code)
    a, f = srs._ELLIPSOIDS[p["ellipsoid"]]
    e = math.sqrt(f * (2 - f))
    h = 1e-7
    for latd, lond in probes:
        x0, y0 = srs.wgs84_to_epsg(np.array([latd]), np.array([lond]), code)
        xa, ya = srs.wgs84_to_epsg(np.array([latd + h]), np.array([lond]), code)
        xb, yb = srs.wgs84_to_epsg(np.array([latd]), np.array([lond + h]), code)
        det = abs((xa[0] - x0[0]) * (yb[0] - y0[0]) - (xb[0] - x0[0]) * (ya[0] - y0[0]))
        phi = math.radians(latd)
        s = math.sin(phi)
        M = a * (1 - e * e) / (1 - (e * s) ** 2) ** 1.5
        N = a / math.sqrt(1 - (e * s) ** 2)
        ground = M * math.radians(h) * N * math.cos(phi) * math.radians(h)
        assert det / ground == pytest.approx(1.0, abs=1e-5)


def test_epsg_passthrough_validates():
    # round-2 advice: an unsupported EPSG code must be rejected up front,
    # not blow up later inside the Arrow UDF
    assert srs.epsg_supported(2154)
    assert not srs.epsg_supported(2000)
    assert not srs.epsg_supported(31370)
    with pytest.raises(ValueError):
        srs.epsg_params(2000)


# --------------------------------------------- unknown CRS is loud, not fatal

def test_unknown_crs_tile_yields_null_and_counter(spark):
    ridx = raster.RasterIndex([
        {
            "raster_id": "mystery",
            "min_lon": 0.0, "max_lon": 1.0, "min_lat": 0.0, "max_lat": 1.0,
            "pixel_w": 0.1, "pixel_h": 0.1, "width": 10, "height": 10,
            "nodata": -32768.0, "epsg": 9999, "min_x": 0.0, "max_y": 1.0,
            "grid": np.full((10, 10), 7.0),
        }
    ])
    assert ridx.unknown_crs_ids() == ["mystery"]
    df = spark.createDataFrame(
        [(0.5, 0.5), (5.0, 5.0)], "lon double, lat double"
    )
    out = spatial_enrich(df, None, ridx, s2_level=None, h3_resolutions=())
    rows = {(r.lon, r.lat): (r.raster_id, r.elev) for r in out.collect()}
    assert rows[(0.5, 0.5)] == ("mystery", None)  # routed but NOT valued
    assert rows[(5.0, 5.0)] == (None, None)
    assert raster.elevation_stats_df(out, index=ridx).first().unknown_crs == 1


# ------------------------------------- scale fallbacks in the fused enricher

def _many_border_index(n_cells: int = 1500) -> AreaIndex:
    """An index whose every populated cell is a BORDER cell — candidates are
    the full tile box, so any point in a populated cell resolves to 'X'."""
    idx = AreaIndex(tile_size=1.0)
    idx.id_to_key[1] = "X"
    idx.id_to_name[1] = "XLand"
    for i in range(n_cells):
        cell = 90 * 360 + i  # lat row 0..1N, lon cols from -180E
        idx.index[cell] = MULTIPLE
        lo0, la0, lo1, la1 = cell_bounds(cell, 1.0)
        idx.border[cell] = [(1, [[geom.box_ring(lo0, la0, lo1, la1)]])]
    return idx


def _many_tiles(n: int) -> raster.RasterIndex:
    tiles = []
    for i in range(n):
        lo = -180.0 + (i % 50) * 2.0
        la = 0.0 + (i // 50) * 2.0
        tiles.append({
            "raster_id": f"t{i}",
            "min_lon": lo, "max_lon": lo + 2.0,
            "min_lat": la, "max_lat": la + 2.0,
            "pixel_w": 0.5, "pixel_h": 0.5, "width": 4, "height": 4,
            "nodata": -32768.0,
            "grid": np.arange(16.0).reshape(4, 4) + 100 * i,
        })
    return raster.RasterIndex(tiles)


def test_scale_paths_match_per_row_reference(spark, enrich_ref):
    # >1000 border cells (the CellLookup kernel holds them outside the
    # plan); >ROUTE_JOIN_THRESHOLD tiles -> cell-join routing (no CASE chain).
    # route_col's literal chain at 500 tiles would StackOverflow the JVM at
    # plan build — this test passing AT ALL proves the fallback engaged.
    idx = _many_border_index(1500)
    ridx = _many_tiles(500)
    rows = [
        (i, -180.0 + (i * 7919 % 14000) / 100.0, 0.0 + (i * 104729 % 950) / 1000.0)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "url long, lon double, lat double")
    out = spatial_enrich(df, idx, ridx, s2_level=None, h3_resolutions=())
    rows = out.collect()
    cols = ["grid_cell", "admin_key", "raster_id", "elev"]
    got = [{c: r[c] for c in cols} for r in rows]
    want = [{c: w[c] for c in cols} for w in enrich_ref(rows, idx, ridx)]
    assert got == want
    assert sum(1 for v in got if v["admin_key"] == "X") > 0
    assert sum(1 for v in got if v["elev"] is not None) > 0


def test_admin_stats_broadcast_fallback(spark):
    idx = _many_border_index(1500)
    rows = [(i, -179.5 + i, 0.5) for i in range(10)] + [(99, 0.5, 50.5)]
    df = spark.createDataFrame(rows, "url long, lon double, lat double")
    out = spatial_enrich(df, idx, s2_level=None, h3_resolutions=())
    stats = spatial_join.admin_stats_df(out, idx).first()
    assert stats.found == 10
    assert stats.not_found == 1  # probed, empty cell
    assert stats.intersect_checks == 10
    # plan stays constant-size: no 1500-literal isin in the final plan
    plan = out.sparkSession._jvm.PythonSQLUtils.explainString(
        spatial_join.admin_stats_df(out, idx)._jdf.queryExecution(), "extended"
    )
    assert str(90 * 360 + 1400) not in plan


# --------------------------------------------- lineage writes scan input once

def test_write_with_lineage_single_scan(spark, tmp_path):
    from ot_spark import lineage

    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("long")
    def tag(s: pd.Series) -> pd.Series:
        acc.add(len(s))
        return s

    n = 1000
    df = (
        spark.range(n)
        .withColumn("grid_cell", F.col("id") % 37)
        .withColumn("key", tag(F.col("id")))
    )
    res = lineage.write_with_lineage(
        df,
        str(tmp_path / "out"),
        str(tmp_path / "lineage"),
        key_cols=["key"],
        n_buckets=8,
    )
    assert res["buckets_written"] == 8
    # the upstream pipeline ran exactly once (round 2: it ran 3x — once for
    # the write, once for the lineage agg, once for the lineage count)
    assert acc.value == n
    # and the read-back lineage still audits clean
    bad = lineage.verify_against_lineage(
        spark, str(tmp_path / "out"), str(tmp_path / "lineage"), ["key"]
    )
    assert bad.count() == 0


# ---------------------------------------------------------- snapshot surface

def test_snapshot_log_and_time_travel(spark, tmp_path):
    from ot_spark import lineage as lin

    df = spark.range(200).withColumn("grid_cell", F.col("id") % 20).withColumn(
        "key", F.col("id")
    )
    out, lp = str(tmp_path / "out"), str(tmp_path / "lin")
    half = lin.with_bucket(df, n_buckets=8).where(
        F.col(lin.BUCKET_COL) < 4
    ).drop(lin.BUCKET_COL)
    i1 = lin.write_with_lineage(half, out, lp, key_cols=["key"], n_buckets=8)
    i2 = lin.write_with_lineage(df, out, lp, key_cols=["key"], n_buckets=8)
    assert (i1["snapshot_id"], i2["snapshot_id"]) == (1, 2)
    snaps = (
        spark.read.parquet(f"{out}/{lin.SNAPSHOTS_SUBDIR}")
        .orderBy("snapshot_id").collect()
    )
    assert [s.snapshot_id for s in snaps] == [1, 2]
    assert snaps[1].parent_id == 1
    assert snaps[1].operation == "append"  # resumed on top of snap 1
    # time travel: snap 1 sees only the first commit's buckets
    assert lin.read_as_of(spark, out, 1).count() == half.count()
    assert lin.read_as_of(spark, out, 2).count() == 200
    # snapshot-pinned audits are clean
    assert lin.audit_snapshot(spark, out, 1, ["key"]).count() == 0
    assert lin.audit_snapshot(spark, out, 2, ["key"]).count() == 0


def test_audit_snapshot_catches_corruption(spark, tmp_path):
    import glob
    import os

    from ot_spark import lineage as lin

    df = spark.range(100).withColumn("grid_cell", F.col("id") % 10).withColumn(
        "key", F.col("id")
    )
    out, lp = str(tmp_path / "out"), str(tmp_path / "lin")
    lin.write_with_lineage(df, out, lp, key_cols=["key"], n_buckets=4)
    # delete one bucket's files behind the table's back
    victim = glob.glob(f"{out}/{lin.BUCKET_COL}=1/run=*/*.parquet")
    assert victim
    for f in victim:
        os.remove(f)
    bad = lin.audit_snapshot(spark, out, 1, ["key"]).collect()
    assert len(bad) == 1 and bad[0][lin.BUCKET_COL] == 1


# ------------------------------------------------------- CC convergence guard

def test_connected_components_raises_when_not_converged(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=1)
    labels = {
        r.id: r.label for r in connected_components(pairs, max_iters=10).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


# ------------------------------------------------ salted counts of booleans

def test_salted_agg_boolean_condition_counts_true_only(spark):
    df = spark.createDataFrame(
        [("a", True), ("a", False), ("a", True), ("b", False)],
        "k string, flag boolean",
    )
    out = {
        r.k: (r.n_true, r.n_rows)
        for r in skew.salted_agg(
            df, ["k"], counts={"n_true": F.col("flag"), "n_rows": F.lit(1)}, n_salt=4
        ).collect()
    }
    assert out == {"a": (2, 3), "b": (0, 1)}
