"""spatial_enrich against per-row references, row for row."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ot_spark import area_index, parse, raster
from ot_spark.enrich_fused import spatial_enrich
from ot_spark.synth import gen_admin_polygons

ALL_COLS = ["grid_cell", "admin_key", "raster_id", "elev", "s2_10", "h3_7", "h3_9"]


@pytest.fixture(scope="module")
def indices(spark, fixture_dir):
    idx = area_index.build_area_index(
        [(r["key"], r["name"], r["wkt"]) for r in gen_admin_polygons().to_pylist()]
    )
    ridx = raster.RasterIndex.from_df(
        spark.read.parquet(f"{fixture_dir}/raster_tiles.parquet")
    )
    return idx, ridx


def test_all_outputs_match_per_row_reference(spark, pages, indices, enrich_ref):
    """The all-outputs call: every column equals its per-row reference."""
    idx, ridx = indices
    df = parse.with_coordinates(pages).select("url", "lat", "lon")

    out = spatial_enrich(df, idx, ridx)
    assert set(out.columns) - set(df.columns) == set(ALL_COLS)
    rows = out.collect()
    got = [{c: r[c] for c in ALL_COLS} for r in rows]
    assert got == enrich_ref(rows, idx, ridx)
    assert any(g["admin_key"] is not None for g in got)
    assert any(g["elev"] is not None for g in got)
    assert any(g["s2_10"] is None for g in got)  # rows without coordinates


def test_fused_skip_col(spark, pages, indices):
    idx, ridx = indices
    df = parse.with_coordinates(pages).select("url", "lat", "lon").withColumn(
        "no_elevation", F.col("url").endswith("1")
    )
    fused = spatial_enrich(df, idx, ridx, skip_col="no_elevation")
    assert fused.where(F.col("no_elevation") & F.col("elev").isNotNull()).count() == 0
    assert fused.where(~F.col("no_elevation") & F.col("elev").isNotNull()).count() > 0
