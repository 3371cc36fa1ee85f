"""Round-2 additions: scale-mode split ids, simhash guards, large-index
raster routing, splitting-sink order restore, table-property propagation,
relation-member semi-join leg, keep-original/skip elevation interplay."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ot_spark import densify, lineage, pipeline, raster, semi
from ot_spark.enrich_fused import spatial_enrich
from ot_spark.webtext.dedup import simhash_near_pairs, with_simhash


# ------------------------------------------------------- split id scale mode

def test_assign_split_ids_scale_equals_contract(spark):
    rows = [
        (link, pos, i)
        for link in range(40)
        for pos in range(3)
        for i in range(1, 1 + (link * 7 + pos) % 5)
    ]
    df = spark.createDataFrame(rows, "link_id long, pos int, i int").repartition(8)
    a = {
        (r.link_id, r.pos, r.i): r.node_id
        for r in densify.assign_split_ids(df, mode="contract").collect()
    }
    b = {
        (r.link_id, r.pos, r.i): r.node_id
        for r in densify.assign_split_ids(df, mode="scale").collect()
    }
    assert a == b
    assert min(a.values()) == densify.SPLIT_ID_OFFSET + 1
    assert sorted(a.values()) == list(range(min(a.values()), min(a.values()) + len(a)))


def test_assign_split_ids_bad_mode(spark):
    df = spark.createDataFrame([(1, 0, 1)], "link_id long, pos int, i int")
    with pytest.raises(ValueError):
        densify.assign_split_ids(df, mode="nope")


# ------------------------------------------------------------ simhash guards

def test_simhash_empty_docs_never_pair(spark):
    rows = [(i, "") for i in range(100)]
    rows += [(100 + i, "the quick brown fox jumps over the lazy dog") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = with_simhash(docs)
    # empty docs -> NULL simhash
    assert sigs.where("simhash IS NULL").count() == 100
    pairs = simhash_near_pairs(sigs, max_hamming=3, n_bits=64, max_bucket=200).collect()
    ids = {r.a for r in pairs} | {r.b for r in pairs}
    assert ids <= set(range(100, 103))          # sub-quadratic: no empty-doc pairs
    assert len(pairs) == 3                       # the 3 identical docs pair up


def test_simhash_bucket_cap_drops_boilerplate_clusters(spark):
    docs = spark.createDataFrame(
        [(i, "same boilerplate page content here") for i in range(30)],
        "doc_id long, text string",
    )
    sigs = with_simhash(docs)
    assert simhash_near_pairs(sigs, max_hamming=3, n_bits=64, max_bucket=10).count() == 0
    assert simhash_near_pairs(sigs, max_hamming=3, n_bits=64, max_bucket=100).count() == 435


# ----------------------------------------------- raster routing at 500 tiles

def _many_tiles(n: int) -> raster.RasterIndex:
    tiles = []
    for i in range(n):
        lo = -50.0 + (i % 50) * 2.0
        la = -40.0 + (i // 50) * 2.0
        pix = 0.01 if i % 3 == 0 else 0.02
        tiles.append(
            {
                "raster_id": f"t{i}",
                "min_lon": lo, "max_lon": lo + 2.5,
                "min_lat": la, "max_lat": la + 2.5,
                "pixel_w": pix, "pixel_h": pix,
                "width": 1, "height": 1, "nodata": -32768.0,
                "grid": np.zeros((1, 1)),
            }
        )
    return raster.RasterIndex(tiles)


def test_route_via_cell_join_matches_reference_rule(spark):
    # NOTE: route_col's literal CASE chain at 500 tiles overflows the JVM
    # stack (StackOverflowError building the when-tree) — the exact failure
    # mode the join path exists to avoid.  Baseline is therefore a direct
    # Python re-derivation of the finest-containing-tile rule.
    idx = _many_tiles(500)
    rows = [
        (i, -45.0 + (i * 7919 % 6000) / 100.0, -35.0 + (i * 104729 % 5000) / 100.0)
        for i in range(400)
    ]
    pts = spark.createDataFrame(rows, "id long, lon double, lat double")

    def expected(lon: float, lat: float) -> str | None:
        for t in idx.routing():  # finest-first, stable
            if t["min_lon"] <= lon < t["max_lon"] and t["min_lat"] <= lat < t["max_lat"]:
                return t["raster_id"]
        return None

    via_join = raster.route_via_cell_join(pts, idx)
    got = {r.id: r.raster_id for r in via_join.collect()}
    want = {i: expected(lon, lat) for i, lon, lat in rows}
    assert got == want
    assert sum(v is not None for v in want.values()) > 0


def test_enrich_uses_join_path_above_threshold(spark):
    idx = _many_tiles(raster.ROUTE_JOIN_THRESHOLD + 10)
    pts = spark.createDataFrame(
        [(1, -48.7, -38.7), (2, 120.0, 80.0)], "id long, lon double, lat double"
    )
    out = spatial_enrich(pts, None, idx, s2_level=None, h3_resolutions=()).collect()
    got = {r.id: (r.raster_id, r.elev) for r in out}
    assert got[1][0] is not None and got[1][1] == 0.0  # zeros grid
    assert got[2] == (None, None)


# ------------------------------------- splitting sink + property propagation

def test_splitting_sink_restores_global_order(spark, tmp_path):
    nodes = spark.createDataFrame(
        [(f"n{i}",) for i in range(20)] + [("split:50000000001",)], "url string"
    )
    ways = spark.createDataFrame([(f"w{i}",) for i in range(5)], "url string")
    rels = spark.createDataFrame([("r1",), ("r0",)], "url string")
    out = str(tmp_path / "ordered")
    pipeline.splitting_sink(
        {"node": nodes, "way": ways, "relation": rels}, out
    )
    back = spark.read.parquet(out).collect()
    ranks = [r.type_rank for r in back]
    assert ranks == sorted(ranks)           # node -> way -> relation restored
    assert len(back) == 28
    within = [r.url for r in back if r.type_rank == 1]
    assert within == sorted(within)


def test_table_properties_roundtrip_and_propagation(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    spark.range(5).write.parquet(src)
    lineage.write_table_properties(
        spark, src, {"osmosis_replication_timestamp": "2024-01-02T03:04:05Z"}
    )
    # data reads ignore the underscore sidecar
    assert spark.read.parquet(src).count() == 5
    spark.range(3).write.parquet(dst)
    assert lineage.read_table_properties(spark, dst) == {}  # no sidecar yet
    props = lineage.propagate_table_properties(spark, src, dst)
    assert props == {"osmosis_replication_timestamp": "2024-01-02T03:04:05Z"}
    assert lineage.read_table_properties(spark, dst) == props


# ----------------------------------------------- relation-member union leg

def test_member_node_ids_union(spark):
    pages = spark.createDataFrame(
        [(u,) for u in ["a", "b", "c", "d", "e"]], "url string"
    )
    links = spark.createDataFrame([(["a"],)], "refs array<string>")
    rels = spark.createDataFrame(
        [
            ([("node", "b", "stop"), ("way", "c", "outer")],),
            ([("relation", "d", "sub"), ("node", "b", "stop2")],),
        ],
        "members array<struct<type:string,id:string,role:string>>",
    )
    out = semi.filter_referenced(
        pages, links, apply_complex_filter=False, relations=rels
    )
    # way/relation-typed members must NOT collect (collect.rs:29-36)
    assert {r.url for r in out.collect()} == {"a", "b"}


# ---------------------------------------------------- connected components

def test_connected_components_chain(spark):
    from ot_spark.webtext.dedup import connected_components

    # two chains (1-2-3-4, 10-11) and a triangle (20,21,22)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "a long, b long",
    )
    got = {r.id: r.label for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


# ------------------------------------------- keep-original x skip interplay

def test_keep_original_skip_preserves_existing_elev(spark, fixture_dir):
    rdf = spark.read.parquet(f"{fixture_dir}/raster_tiles.parquet")
    idx = raster.RasterIndex.from_df(rdf)
    pts = spark.createDataFrame(
        [
            (1, 0.5, 0.5, 42.0, True),    # skip + original -> keeps 42.0
            (2, 0.5, 0.5, None, True),    # skip, no original -> NULL
            (3, 0.5, 0.5, None, False),   # looked up
            (4, 0.5, 0.5, 7.0, False),    # original wins (keep_original)
        ],
        "id long, lon double, lat double, elev double, skip boolean",
    )
    out = spatial_enrich(
        pts, None, idx, s2_level=None, h3_resolutions=(), skip_col="skip",
        keep_original=True,
    )
    rows = {r.id: r for r in out.collect()}
    got = {i: r.elev for i, r in rows.items()}
    assert got[1] == 42.0
    assert got[2] is None
    assert got[3] is not None and got[3] != 7.0
    assert got[4] == 7.0
    # skip-flagged rows are routed to no raster at all
    assert [rows[i].raster_id is None for i in (1, 2, 3, 4)] == [True, True, False, False]
