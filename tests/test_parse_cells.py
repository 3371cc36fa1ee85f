"""Coordinate extraction + grid-cell formula parity tests."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ot_spark import cells, parse


def test_with_coordinates_matches_ground_truth(pages):
    df = parse.with_coordinates(pages)
    bad = df.where(
        (
            F.col("gt_src") != "none"
        ) & (
            (F.abs(F.col("lat") - F.col("gt_lat")) > 1e-6)
            | (F.abs(F.col("lon") - F.col("gt_lon")) > 1e-6)
        )
    ).count()
    assert bad == 0
    none_with_coords = df.where(
        (F.col("gt_src") == "none") & F.col("lat").isNotNull()
    ).count()
    assert none_with_coords == 0


def test_extraction_source_priority(spark):
    # url wins over text wins over html
    df = spark.createDataFrame(
        [
            (
                "https://h/geo/1.0000000,2.0000000/p",
                "coords: 3.0, 4.0",
                b'<meta name="geo.position" content="5.0;6.0">',
            )
        ],
        "url string, text string, html binary",
    )
    row = parse.with_coordinates(df).first()
    assert (row.lat, row.lon) == (1.0, 2.0)


def test_grid_cell_reference_formula(spark):
    # probe formula src/area.rs:371 with tile_size=1.0, num_tiles_lon=360
    pts = [(2.0, 2.5), (0.0, 0.0), (-90.0, 0.0), (90.0, 0.0), (89.9, 179.9),
           (-89.9, -179.9), (52.5, 13.4)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = [
        r.c
        for r in df.select(
            cells.grid_cell(F.col("lat"), F.col("lon")).alias("c")
        ).collect()
    ]
    exp = [cells.grid_cell_py(la, lo) for la, lo in pts]
    assert got == exp
    assert exp[0] == 92 * 360 + 182
    assert exp[2] is None and exp[3] is None  # poles skipped (area.rs:368)


def test_cell_bounds_roundtrip():
    for lat, lon in [(2.0, 2.5), (-89.9, -179.9), (89.9, 179.9), (0.1, 0.1)]:
        c = cells.grid_cell_py(lat, lon)
        lo0, la0, lo1, la1 = cells.cell_bounds(c)
        assert lo0 <= lon < lo1 and la0 <= lat < la1


def test_grid_cell_sql_matches_spark(spark):
    # the SQL rendering used by the oracle is the same function
    df = spark.createDataFrame(
        [(float(la), float(lo)) for la in range(-89, 90, 7) for lo in range(-179, 180, 13)],
        "lat double, lon double",
    )
    df = df.withColumn("c_col", cells.grid_cell(F.col("lat"), F.col("lon")))
    df = df.withColumn("c_sql", F.expr(cells.grid_cell_sql("lat", "lon")))
    assert df.where(~F.col("c_col").eqNullSafe(F.col("c_sql"))).count() == 0


def test_synth_determinism(tmp_path):
    from ot_spark import synth

    t1 = synth.gen_pages(256, seed=7)
    t2 = synth.gen_pages(256, seed=7)
    assert t1.equals(t2)
    t3 = synth.gen_pages(256, seed=8)
    assert not t1.equals(t3)


def test_extraction_falls_through_regex_misses(spark):
    # a source whose guard matches but whose regex misses yields to the
    # next source, exactly like a source without the guard
    df = spark.createDataFrame(
        [
            ("https://h/geo/x/p", "coords: 3.0, 4.0", b""),
            ("u", "coords: a", b'<meta name="geo.position" content="5.0;6.0">'),
            ("u", "t", b"geo.position nope"),
            (None, None, None),
        ],
        "url string, text string, html binary",
    )
    got = [(r.lat, r.lon) for r in parse.with_coordinates(df).collect()]
    assert got == [(3.0, 4.0), (5.0, 6.0), (None, None), (None, None)]


def test_coordinate_regex_single_evaluation(spark):
    """Each source's regex appears once in the optimized plan.  Reading
    a regex pair twice (lat and lon, or test and value) lets Catalyst
    copy it into every reader; PushFoldableIntoBranches then splits the
    copies so codegen cannot share them (4 per source before)."""
    from ot_spark.benchdata import pages_range_df

    out = parse.with_coordinates(pages_range_df(spark, 100, partitions=1))
    plan = out.select("doc_id", "lat", "lon")._jdf.queryExecution().optimizedPlan().toString()
    n = plan.count("regexp_extract")
    assert n == 3, f"coordinate regex evaluated {n} times in optimized plan:\n{plan}"
