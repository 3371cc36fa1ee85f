"""Distributed filter-and-refine PIP join (spatial_enrich with an area
index) vs driver-side probe oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ot_spark import area_index, parse, spatial_join
from ot_spark.enrich_fused import spatial_enrich
from ot_spark.synth import gen_admin_polygons

ROWS = [(r["key"], r["name"], r["wkt"]) for r in gen_admin_polygons().to_pylist()]


def _enrich_with_admin(df, idx):
    return spatial_enrich(df, idx, s2_level=None, h3_resolutions=())


@pytest.fixture(scope="module")
def idx():
    return area_index.build_area_index(ROWS, tile_size=1.0)


def test_join_matches_driver_probe(spark, pages, idx):
    df = parse.with_coordinates(pages)
    out = _enrich_with_admin(df, idx)
    got = {
        r.url: r.admin_key
        for r in out.select("url", "admin_key").collect()
    }
    rows = df.select("url", "gt_lat", "gt_lon", "gt_src").collect()
    mismatches = []
    for r in rows:
        want = (
            idx.probe(r.gt_lat, r.gt_lon) if r.gt_src != "none" else None
        )
        if got[r.url] != want:
            mismatches.append((r.url, got[r.url], want))
    assert not mismatches, mismatches[:5]


def test_join_pinned_golden_points(spark, pages, idx):
    # the pinned rows from synth._coords (reference PIP golden points)
    df = parse.with_coordinates(pages)
    out = _enrich_with_admin(df, idx)
    by_url = {
        r.url: r.admin_key
        for r in out.where(F.col("url").rlike("/p[0-7]$")).collect()
    }
    expected = {
        "p0": "SQA", "p1": "SQA,REC", "p2": "REC", "p3": "TRI",
        "p4": None, "p5": None, "p6": None, "p7": "SQA,REC",
    }
    got = {u.rsplit("/", 1)[1]: k for u, k in by_url.items()}
    assert got == expected


def test_admin_stats(spark, pages, idx):
    df = parse.with_coordinates(pages)
    out = _enrich_with_admin(df, idx)
    stats = spatial_join.admin_stats_df(out, idx).first()
    # poles / unparseable coords are never counted — the reference
    # early-returns before touching any counter (area.rs:368-370)
    n_probed = out.where(F.col("grid_cell").isNotNull()).count()
    assert stats.found + stats.not_found == n_probed
    assert stats.found > 0
    assert stats.border_nodes >= 2  # the two pinned border pts
    assert stats.intersect_checks >= stats.border_nodes


def test_text_untouched(spark, pages, idx):
    """BASELINE.json invariant: byte-identical text per url end-to-end."""
    df = parse.with_coordinates(pages)
    out = _enrich_with_admin(df, idx)
    in_hash = pages.select("url", F.sha2(F.col("text"), 256).alias("h"))
    out_hash = out.select("url", F.sha2(F.col("text"), 256).alias("h"))
    diff = in_hash.join(out_hash, "url").where(
        in_hash["h"] != out_hash["h"]
    )
    assert diff.count() == 0
    assert out.count() == pages.count()
