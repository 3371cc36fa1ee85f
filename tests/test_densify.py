"""Densification / way-splitting tests.

Mirrors /root/reference/src/handler/interpolate.rs:78-113 (point counts,
midpoints) and the way-splitting id/refs contract
(tests/integration_test.rs:99: first generated id 50000000001).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ot_spark import densify, raster


def _nodes(spark, rows):
    return spark.createDataFrame(rows, "url string, lat double, lon double, elev double")


def _links(spark, rows):
    return spark.createDataFrame(rows, "link_id long, refs array<string>")


def test_interpolation_point_count_and_midpoint(spark):
    # reference test_intermediate_points: two points 1.0 apart at res 0.4
    # -> n = ceil(1.0/0.4) = 3 -> 2 intermediates at thirds
    nodes = _nodes(spark, [("a", 0.0, 0.0, None), ("b", 1.0, 0.0, None)])
    links = _links(spark, [(1, ["a", "b"])])
    seg = densify.explode_segments(links, nodes)
    out = densify.interpolate(seg, res_lon=0.4, res_lat=0.4).collect()
    assert len(out) == 2
    lats = sorted(r.lat for r in out)
    assert lats == pytest.approx([1 / 3, 2 / 3])
    assert all(r.lon == 0.0 for r in out)


def test_interpolation_counts_formula(spark):
    cases = [
        (0.05, 0.0),   # n=ceil(max(.05/.01,1))=5 -> 4 points
        (0.01, 0.0),   # n=1 -> 0 points
        (0.005, 0.0),  # n=ceil(max(0.5,1))=1 -> 0
        (0.0, 0.033),  # n=4 -> 3
    ]
    rows, links = [], []
    for k, (dlat, dlon) in enumerate(cases):
        rows += [(f"a{k}", 0.0, 0.0, None), (f"b{k}", dlat, dlon, None)]
        links.append((k, [f"a{k}", f"b{k}"]))
    seg = densify.explode_segments(_links(spark, links), _nodes(spark, rows))
    out = densify.interpolate(seg, res_lon=0.01, res_lat=0.01)
    got = {r.link_id: r.cnt for r in out.groupBy("link_id").agg(F.count("*").alias("cnt")).collect()}
    for k, (dlat, dlon) in enumerate(cases):
        n = math.ceil(max(dlat / 0.01, dlon / 0.01, 1.0))
        want = n - 1
        assert got.get(k, 0) == want, (k, dlat, dlon)


def test_split_ids_and_refs_contract(spark, fixture_dir):
    rdf = spark.read.parquet(f"{fixture_dir}/raster_tiles.parquet")
    ridx = raster.RasterIndex.from_df(rdf)
    # segment across fineA with varying elevation; low threshold keeps nodes
    nodes = _nodes(
        spark,
        [("a", 0.1, 0.1, 100.0), ("b", 0.1, 1.9, 150.0), ("c", 1.9, 1.9, 120.0)],
    )
    links = _links(spark, [(1, ["a", "b", "c"]), (2, ["a", "a"])])
    new_nodes, rewritten = densify.split_ways(
        links, nodes, ridx, res_lon=0.5, res_lat=0.5, threshold=0.1
    )
    nn = new_nodes.orderBy("node_id").collect()
    assert nn, "expected split nodes"
    assert nn[0].node_id == densify.SPLIT_ID_OFFSET + 1  # 50000000001
    ids = [r.node_id for r in nn]
    assert ids == list(range(ids[0], ids[0] + len(ids)))  # dense, ordered
    # rewritten refs: original refs still present, in order, new ids spliced
    refs1 = {r.link_id: r.refs for r in rewritten.collect()}[1]
    orig_positions = [refs1.index(u) for u in ["a", "b", "c"]]
    assert orig_positions == sorted(orig_positions)
    assert len(refs1) == 3 + len([r for r in nn if r.link_id == 1])
    # splice position: every split url sits between its segment endpoints
    for r in nn:
        if r.link_id != 1:
            continue
        u = f"split:{r.node_id}"
        assert refs1.index("a" if r.pos == 0 else "b") < refs1.index(u)
        assert refs1.index(u) < refs1.index("b" if r.pos == 0 else "c")


def test_threshold_filters_flat_terrain(spark, fixture_dir):
    rdf = spark.read.parquet(f"{fixture_dir}/raster_tiles.parquet")
    ridx = raster.RasterIndex.from_df(rdf)
    nodes = _nodes(spark, [("a", 0.1, 0.1, 100.0), ("b", 0.1, 1.9, 150.0)])
    links = _links(spark, [(1, ["a", "b"])])
    lo_t, _ = densify.split_ways(links, nodes, ridx, 0.2, 0.2, threshold=0.01)
    hi_t, _ = densify.split_ways(links, nodes, ridx, 0.2, 0.2, threshold=1e9)
    assert lo_t.count() > 0
    assert hi_t.count() == 0


def test_missing_coords_segment_skipped(spark):
    nodes = _nodes(spark, [("a", 0.0, 0.0, None), ("b", 1.0, 0.0, None)])
    links = _links(spark, [(1, ["a", "missing", "b"])])
    seg = densify.explode_segments(links, nodes)
    out = densify.interpolate(seg, 0.1, 0.1)
    # both segments have one unknown endpoint -> no intermediates
    assert out.count() == 0
    # but refs survive the rewrite untouched
    new_nodes, rewritten = densify.split_ways(links, nodes, None, 0.1, 0.1, threshold=10.0)
    assert new_nodes.count() == 0
    refs = rewritten.collect()[0].refs
    assert refs == ["a", "missing", "b"]


def test_no_raster_split_uses_endpoint_elevations(spark):
    # no raster: every intermediate has elevation 0, so a point is kept
    # when its neighbours' mean is off 0 — only next to an endpoint with a
    # known elevation (first/last intermediate of a segment)
    nodes = _nodes(
        spark,
        [("a", 0.0, 0.0, 100.0), ("b", 0.5, 0.0, 50.0), ("c", 0.5, 0.25, None)],
    )
    links = _links(spark, [(1, ["a", "b", "c"])])
    new_nodes, rewritten = densify.split_ways(
        links, nodes, None, res_lon=0.125, res_lat=0.125, threshold=1.0
    )
    got = [
        (r.node_id, r.link_id, r.pos, r.i, r.lat, r.lon, r.elev)
        for r in new_nodes.orderBy("node_id").collect()
    ]
    first = densify.SPLIT_ID_OFFSET + 1
    # segment a->b: 3 intermediates, the middle one has neighbours 0/0;
    # segment b->c: 1 intermediate between elevations 50 and unknown (0)
    assert got == [
        (first, 1, 0, 1, 0.125, 0.0, 0.0),
        (first + 1, 1, 0, 3, 0.375, 0.0, 0.0),
        (first + 2, 1, 1, 1, 0.5, 0.125, 0.0),
    ]
    assert rewritten.collect()[0].refs == [
        "a", f"split:{first}", f"split:{first + 1}", "b", f"split:{first + 2}", "c"
    ]
