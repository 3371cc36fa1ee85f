"""Reference-semantics gate queries: attribute filters, grid cells, admin PIP
(area index + spatial join), elevation, densify and the semi-joins."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gate_queries.common import (
    _LAT100, _LON100, _OFF_BOUNDARY_SQL, _admin_case_sql, _admin_index,
    _elevation_cases, _off_boundary_col, _raster_index, _read, _scratch_dir,
)
from ot_spark import area_index, filters, pagesview, spatial_join
from ot_spark.cells import grid_cell, grid_cell_sql
from ot_spark.enrich_fused import spatial_enrich


def q_complex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 ComplexElementsFilter over a real attrs map (filter.rs:184-273)."""
    df = pagesview.pages_df(spark, sf_dir)
    return filters.complex_filter(df).select("doc_id").orderBy("doc_id")


def complex_filter_oracle_sql() -> str:
    return (
        f"SELECT doc_id FROM documents WHERE {pagesview.complex_filter_sql()} "
        "ORDER BY doc_id"
    )


def q_tag_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 TagFilterByKey: drop removable keys, emit surviving key list."""
    df = pagesview.pages_df(spark, sf_dir)
    out = filters.remove_tags(df)
    return out.select(
        "doc_id",
        F.array_join(F.array_sort(F.map_keys("attrs")), ",").alias("kept_keys"),
    )


def tag_projection_oracle_sql() -> str:
    return (
        f"SELECT doc_id, {pagesview.remaining_keys_sql()} AS kept_keys "
        "FROM documents"
    )


def q_grid_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference grid-cell tiling (area.rs:371) + per-cell rollup."""
    df = pagesview.pages_df(spark, sf_dir)
    cellcol = grid_cell(F.col("lat"), F.col("lon"), 1.0)
    return (
        df.select(cellcol.alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pages"))
    )


def grid_cell_oracle_sql() -> str:
    return (
        "SELECT "
        + grid_cell_sql(f"({_LAT100} / 100.0)", f"({_LON100} / 100.0)")
        + " AS cell, CAST(count(*) AS BIGINT) AS n_pages FROM documents GROUP BY 1"
    )


def q_salted_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe per-cell rollup via salted two-stage aggregation
    (north_star mega-cell handling) — must equal the plain groupBy."""
    from ot_spark.skew import salted_agg

    df = pagesview.pages_df(spark, sf_dir)
    cellcol = grid_cell(F.col("lat"), F.col("lon"), 1.0)
    pts = df.select(cellcol.alias("cell"), "doc_id")
    return salted_agg(
        pts,
        ["cell"],
        counts={"n_pages": F.lit(1)},
        sums={"sum_doc": F.col("doc_id")},
        maxs={"max_doc": F.col("doc_id")},
        n_salt=8,
        unique_col="doc_id",
    )


def salted_cells_oracle_sql() -> str:
    return (
        "SELECT "
        + grid_cell_sql(f"({_LAT100} / 100.0)", f"({_LON100} / 100.0)")
        + " AS cell, CAST(count(*) AS BIGINT) AS n_pages, "
        "CAST(sum(doc_id) AS BIGINT) AS sum_doc, max(doc_id) AS max_doc "
        "FROM documents GROUP BY 1"
    )


def q_pip_admin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 filter-and-refine PIP join against the fixture admin polygons."""
    df = pagesview.pages_df(spark, sf_dir).where(_off_boundary_col())
    out = spatial_enrich(df, _admin_index(), s2_level=None, h3_resolutions=())
    return out.select("doc_id", "admin_key")


PIP_GEOMETRIC_SQL = f"""
WITH pts AS (
  SELECT doc_id,
         {_LAT100} / 100.0 AS lat,
         {_LON100} / 100.0 AS lon
  FROM documents
  WHERE {_OFF_BOUNDARY_SQL}
)
SELECT doc_id,
       {_admin_case_sql("       ")} AS admin_key
FROM pts
"""


def q_pip_admin_loaded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 index persistence round-trip (area.rs:171-223, 253-339): save the
    grid index, load it back, run the PIP join with the LOADED index —
    divergence from the geometric oracle pins any save/load corruption."""
    path = _scratch_dir("area_index")
    area_index.save_index(_admin_index(), path)
    loaded = area_index.load_index(path)
    df = pagesview.pages_df(spark, sf_dir).where(_off_boundary_col())
    out = spatial_enrich(df, loaded, s2_level=None, h3_resolutions=())
    return out.select("doc_id", "admin_key")


def q_elevation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 raster lookup join: finest-tile routing (CASE chain) + broadcast
    numpy pixel gather in an Arrow UDF (geotiff.rs:240-301, 36-60)."""
    df = pagesview.pages_df(spark, sf_dir)
    out = spatial_enrich(df, None, _raster_index(), s2_level=None, h3_resolutions=())
    return out.select("doc_id", "raster_id", "elev")


def elevation_oracle_sql() -> str:
    rid_case, val_case = _elevation_cases()
    return f"""
WITH pts AS (
  SELECT doc_id, {pagesview.LAT_SQL} AS lat, {pagesview.LON_SQL} AS lon
  FROM documents
)
SELECT doc_id,
       {rid_case} AS raster_id,
       {val_case} AS elev
FROM pts
"""


def q_elevation_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7+J3: raster lookup through a PROJECTED tile (EPSG:3857) — the
    WGS84 probe is forwarded to Web Mercator before the affine
    (geotiff.rs:77-93, srs.py webmercator_forward).  The DuckDB oracle
    re-derives the spherical-Mercator forward + affine + NoData in plain
    SQL (radians/ln/tan), independently of srs.py."""
    from ot_spark.raster import RasterIndex
    from ot_spark.synth import gen_projected_tiles

    df = pagesview.pages_df(spark, sf_dir)
    ridx = RasterIndex.from_arrow(gen_projected_tiles())
    out = spatial_enrich(df, None, ridx, s2_level=None, h3_resolutions=())
    return out.select("doc_id", "raster_id", "elev")


def elevation_projected_oracle_sql() -> str:
    """Independent SQL re-derivation of the EPSG:3857 projected lookup:
    spherical Mercator forward (x = R*radians(lon),
    y = R*ln(tan(pi/4 + radians(lat)/2)), R = 6378137) -> affine in metres
    (min_x=0, max_y=250000, 1 km pixels, 250x250) -> clip -> value
    100 + px*0.25 + py*0.5 with NoData at flat index % 89 == 0.
    FP safety pre-verified: every quantized 0.01-degree probe in the tile
    sits >= 1.7e-4 pixels from the nearest boundary, and numpy vs DuckDB
    px/py agree on all 200x200 of them."""
    w = h = 250
    x = "(6378137.0 * radians(lon))"
    y = "(6378137.0 * ln(tan(pi()/4 + radians(lat)/2)))"
    px = f"least(greatest(CAST(floor(({x} - 0.0) / 1000.0) AS BIGINT), 0), {w - 1})"
    py = f"least(greatest(CAST(floor((250000.0 - {y}) / 1000.0) AS BIGINT), 0), {h - 1})"
    val = (
        f"round(CAST(100.0 AS DOUBLE) + {px} * CAST(0.25 AS DOUBLE) "
        f"+ {py} * CAST(0.5 AS DOUBLE), 2)"
    )
    contains = "lon >= 0.0 AND lon < 2.0 AND lat >= 0.0 AND lat < 2.0"
    return f"""
WITH pts AS (
  SELECT doc_id, {pagesview.LAT_SQL} AS lat, {pagesview.LON_SQL} AS lon
  FROM documents
)
SELECT doc_id,
       CASE WHEN {contains} THEN 'merc' END AS raster_id,
       CASE WHEN {contains} THEN
         CASE WHEN (({py}) * {w} + ({px})) % 89 = 0 THEN NULL ELSE {val} END
       END AS elev
FROM pts
"""


def _even_doc_ways(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(links, nodes) of the way queries: the even-doc region points as
    nodes, each linked to the next even doc (refs [d, d + 2])."""
    pts = pagesview.pages_df(spark, sf_dir).where("doc_id % 2 = 0")
    nodes = pts.select(
        F.col("doc_id").cast("string").alias("url"), "lat", "lon"
    )
    links = pts.select(
        F.col("doc_id").alias("link_id"),
        F.array(
            F.col("doc_id").cast("string"),
            (F.col("doc_id") + 2).cast("string"),
        ).alias("refs"),
    )
    return links, nodes


def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment interpolation (interpolate.rs:39-61): links between
    consecutive even-doc region points, posexplode(sequence) intermediates."""
    from ot_spark import densify

    links, nodes = _even_doc_ways(spark, sf_dir)
    seg = densify.explode_segments(links, nodes)
    out = densify.interpolate(seg, res_lon=0.05, res_lat=0.05)
    return out.select(
        "link_id",
        F.col("i").cast("long").alias("i"),
        F.round("lat", 6).alias("lat_i"),
        F.round("lon", 6).alias("lon_i"),
    )


INTERPOLATE_ORACLE_SQL = f"""
WITH pts AS (
  SELECT doc_id, {pagesview.LAT_SQL} AS lat, {pagesview.LON_SQL} AS lon
  FROM documents WHERE doc_id % 2 = 0
), segs AS (
  SELECT a.doc_id AS link_id, a.lat AS fla, a.lon AS flo, b.lat AS tla, b.lon AS tlo,
         CAST(ceil(greatest(abs(b.lat - a.lat) / 0.05, abs(b.lon - a.lon) / 0.05, 1.0)) AS BIGINT) AS n
  FROM pts a JOIN pts b ON b.doc_id = a.doc_id + 2
)
SELECT link_id, i,
       round(fla + i * ((tla - fla) / n), 6) AS lat_i,
       round(flo + i * ((tlo - flo) / n), 6) AS lon_i
FROM (SELECT *, unnest(generate_series(1, n - 1)) AS i FROM segs WHERE n > 1)
"""


def q_split_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The way-split elevation threshold test as a window op
    (geotiff.rs:561-568): |ele - (lag+lead)/2| >= t over partitioned seqs."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    ele = (F.col("doc_id") * 37 % 200) / F.lit(2.0)
    w = Window.partitionBy(F.col("doc_id") % 16).orderBy("doc_id")
    df = docs.select("doc_id", ele.alias("ele"))
    before = F.coalesce(F.lag("ele").over(w), F.col("ele"))
    after = F.coalesce(F.lead("ele").over(w), F.col("ele"))
    return (
        df.withColumn("dev", F.round(F.abs(F.col("ele") - (before + after) / 2.0), 4))
        .where(F.col("dev") >= 20.0)
        .select("doc_id", "dev")
    )


SPLIT_THRESHOLD_ORACLE_SQL = """
WITH d AS (
  SELECT doc_id, ((doc_id * 37) % 200) / 2.0 AS ele FROM documents
), w AS (
  SELECT doc_id, ele,
         coalesce(lag(ele) OVER (PARTITION BY doc_id % 16 ORDER BY doc_id), ele) AS bef,
         coalesce(lead(ele) OVER (PARTITION BY doc_id % 16 ORDER BY doc_id), ele) AS aft
  FROM d
)
SELECT doc_id, round(abs(ele - (bef + aft) / 2.0), 4) AS dev
FROM w WHERE round(abs(ele - (bef + aft) / 2.0), 4) >= 20.0
"""


def q_semi_join_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 with BOTH union legs (collect.rs:29-36): ids referenced by
    accepted links' refs AND by accepted relations' Node-type members."""
    from ot_spark import semi

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    links = orders.where(F.col("o_totalprice") > 150000).select(
        F.array(F.col("o_custkey")).alias("refs")
    )
    # deterministic relation table: every 3rd order is an accepted relation
    # whose single member references its customer — node-typed only when
    # the orderkey is even (way/relation members must NOT collect)
    rels = orders.where(F.col("o_orderkey") % 3 == 0).select(
        F.array(
            F.struct(
                F.when(F.col("o_orderkey") % 2 == 0, F.lit("node"))
                .otherwise(F.lit("way"))
                .alias("type"),
                F.col("o_custkey").alias("id"),
                F.lit("member").alias("role"),
            )
        ).alias("members")
    )
    out = semi.filter_referenced(
        cust.select("c_custkey"),
        links,
        key_col="c_custkey",
        apply_complex_filter=False,
        relations=rels,
    )
    return out.select("c_custkey")


SEMI_MEMBERS_ORACLE_SQL = """
SELECT c_custkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
              AND o_totalprice > 150000)
   OR EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
              AND o_orderkey % 3 = 0 AND o_orderkey % 2 = 0)
"""


def q_split_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Way splitting end-to-end (geotiff.rs:527-587): interpolate -> raster
    elevation -> neighbor-threshold keep -> 50e9+1 id contract via the
    SCALE id path (range-partitioned offsets, no single-task sort)."""
    from ot_spark import densify

    links, nodes = _even_doc_ways(spark, sf_dir)
    new_nodes, _rewritten = densify.split_ways(
        links,
        nodes,
        _raster_index(),
        res_lon=0.05,
        res_lat=0.05,
        threshold=10.0,
        id_mode="scale",
    )
    return new_nodes.select(
        "node_id",
        "link_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("i").cast("long").alias("i"),
        F.round("lat", 6).alias("lat_i"),
        F.round("lon", 6).alias("lon_i"),
        "elev",
    )


def split_ways_oracle_sql() -> str:
    """Re-derives interpolation, elevation arithmetic, neighbor-threshold
    keep, and the global (link, pos, i) id contract — independent of every
    Spark operator in the chain."""
    _rid, val_case = _elevation_cases("lat_u", "lon_u")
    return f"""
WITH pts AS (
  SELECT doc_id, {pagesview.LAT_SQL} AS lat, {pagesview.LON_SQL} AS lon
  FROM documents WHERE doc_id % 2 = 0
), segs AS (
  SELECT a.doc_id AS link_id, a.lat AS fla, a.lon AS flo,
         b.lat AS tla, b.lon AS tlo,
         CAST(ceil(greatest(abs(b.lat - a.lat) / 0.05,
                            abs(b.lon - a.lon) / 0.05, 1.0)) AS BIGINT) AS n
  FROM pts a JOIN pts b ON b.doc_id = a.doc_id + 2
), inter AS (
  SELECT link_id, i,
         fla + i * ((tla - fla) / n) AS lat_u,
         flo + i * ((tlo - flo) / n) AS lon_u
  FROM (SELECT *, unnest(generate_series(1, n - 1)) AS i
        FROM segs WHERE n > 1)
), ele AS (
  SELECT link_id, i, lat_u, lon_u,
         coalesce({val_case}, CAST(0.0 AS DOUBLE)) AS e0
  FROM inter
), dev AS (
  SELECT link_id, i, lat_u, lon_u, e0,
         coalesce(lag(e0)  OVER w, CAST(0.0 AS DOUBLE)) AS bef,
         coalesce(lead(e0) OVER w, CAST(0.0 AS DOUBLE)) AS aft
  FROM ele
  WINDOW w AS (PARTITION BY link_id ORDER BY i)
)
SELECT 50000000000 + row_number() OVER (ORDER BY link_id, i) AS node_id,
       link_id, CAST(0 AS BIGINT) AS pos, i,
       round(lat_u, 6) AS lat_i, round(lon_u, 6) AS lon_i,
       e0 AS elev
FROM dev
WHERE abs(e0 - (bef + aft) / 2.0) >= 10.0
"""


def q_filter_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 TagValueBasedOsmElementsFilter (filter.rs:19-57): keep rows whose
    attrs['railway'] matches ^plat."""
    df = pagesview.pages_df(spark, sf_dir)
    return filters.filter_by_tag_value(df, "railway", "^plat").select(
        "doc_id"
    )


def filter_by_value_oracle_sql() -> str:
    return (
        "SELECT doc_id FROM documents WHERE "
        + pagesview.attr_value_regex_sql("railway", "^plat")
    )


def q_filter_by_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 TagKeyBasedOsmElementsFilter (filter.rs:61-96): REMOVE rows having
    any of [landuse, natural]."""
    df = pagesview.pages_df(spark, sf_dir)
    return filters.filter_by_tag_keys(
        df, ["landuse", "natural"], keep=False
    ).select("doc_id")


def filter_by_keys_oracle_sql() -> str:
    return (
        "SELECT doc_id FROM documents WHERE NOT ("
        + pagesview.attr_present_sql("landuse")
        + " OR "
        + pagesview.attr_present_sql("natural")
        + ")"
    )


def q_remove_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 MetadataRemover (modify.rs:6-31): zero provenance columns, keep
    everything else untouched."""
    docs = _read(spark, sf_dir, "documents")
    df = docs.select(
        "doc_id",
        (F.col("doc_id") % 5).cast("int").alias("version"),
        F.col("doc_id").alias("changeset"),
        (F.col("doc_id") % 97).cast("int").alias("uid"),
        F.concat(F.lit("u"), (F.col("doc_id") % 7).cast("string")).alias("user"),
        "source",
    )
    return filters.remove_metadata(df)


REMOVE_METADATA_ORACLE_SQL = (
    "SELECT doc_id, 0 AS version, 0 AS changeset, 0 AS uid, "
    "'' AS \"user\", source FROM documents"
)


def q_element_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 ElementCounter x stages (info.rs:10-43) + A5 distinct-id count
    (collect.rs:39-42) as one row.

    ONE scan: the per-stage counters are conditional aggregates over the
    accept predicate, not three crossJoined sub-aggregations (which
    compile to three full scans — the reference streams its counters in
    one pass too, info.rs)."""
    df = pagesview.pages_df(spark, sf_dir)
    acc = filters.complex_filter_condition(F.col("attrs"))
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_input"),
        F.count(F.when(acc, 1)).cast("long").alias("n_accepted"),
        F.countDistinct(F.when(acc, F.col("doc_id")))
        .cast("long")
        .alias("n_distinct_ids"),
    )


def element_counts_oracle_sql() -> str:
    return (
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_input, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM documents WHERE {pagesview.complex_filter_sql()}) AS n_accepted, "
        f"(SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents WHERE {pagesview.complex_filter_sql()}) AS n_distinct_ids"
    )


def q_admin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 country counters (area.rs:344-348, 412-417) as one row."""
    df = pagesview.pages_df(spark, sf_dir).where(_off_boundary_col())
    idx = _admin_index()
    out = spatial_enrich(df, idx, s2_level=None, h3_resolutions=())
    return spatial_join.admin_stats_df(out, idx)


def admin_stats_oracle_sql() -> str:
    border = sorted(int(c) for c in _admin_index().border_cells)
    in_border = (
        f"cell IN ({', '.join(str(c) for c in border)})" if border else "FALSE"
    )
    cell_sql = grid_cell_sql("lat", "lon")
    return f"""
WITH pts AS (
  SELECT doc_id, {pagesview.LAT_SQL} AS lat, {pagesview.LON_SQL} AS lon
  FROM documents WHERE {_OFF_BOUNDARY_SQL}
), j AS (
  SELECT {_admin_case_sql(" " * 9)} AS admin_key,
         {cell_sql} AS cell
  FROM pts
)
SELECT CAST(count(CASE WHEN admin_key IS NOT NULL THEN 1 END) AS BIGINT) AS found,
       CAST(count(CASE WHEN admin_key IS NULL AND cell IS NOT NULL THEN 1 END) AS BIGINT) AS not_found,
       CAST(count(CASE WHEN {in_border} THEN 1 END) AS BIGINT) AS intersect_checks,
       CAST(count(CASE WHEN admin_key LIKE '%,%' THEN 1 END) AS BIGINT) AS border_nodes
FROM j
"""


def q_elevation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 elevation counters (geotiff.rs:350-357) incl. skip semantics."""
    from ot_spark.raster import elevation_stats_df

    df = pagesview.pages_df(spark, sf_dir).withColumn(
        "skip", F.col("doc_id") % 10 == 0
    )
    idx = _raster_index()
    out = spatial_enrich(
        df, None, idx, s2_level=None, h3_resolutions=(), skip_col="skip"
    )
    return elevation_stats_df(out, skip_col="skip", index=idx)


def elevation_stats_oracle_sql() -> str:
    _rid, val_case = _elevation_cases()
    return f"""
WITH pts AS (
  SELECT doc_id, {pagesview.LAT_SQL} AS lat, {pagesview.LON_SQL} AS lon,
         (doc_id % 10 = 0) AS skip
  FROM documents
), e AS (SELECT skip, {val_case} AS elev FROM pts)
SELECT CAST(count(CASE WHEN NOT skip AND elev IS NOT NULL THEN 1 END) AS BIGINT) AS found,
       CAST(count(CASE WHEN NOT skip AND elev IS NULL THEN 1 END) AS BIGINT) AS not_found,
       CAST(count(CASE WHEN skip THEN 1 END) AS BIGINT) AS skipped,
       CAST(0 AS BIGINT) AS unknown_crs
FROM e
"""
