"""Raster (elevation) index, routing and pixel gather — semantic mirror of
BufferingElevationEnricher; the enrichment is enrich_fused.spatial_enrich
with a ``raster_index``.

Reference (/root/reference/src/handler/geotiff.rs):

- R-tree routing: candidate tiffs whose WGS84 bbox contains the point,
  sorted by pixel size ascending, first (=finest) wins (geotiff.rs:258-301).
- Per-asset batching: nodes buffered per tiff, tiff opened once per flush
  (geotiff.rs:406-435) — Spark expresses this natively: spatial_enrich's UDF gets
  Arrow batches and indexes into per-raster numpy grids.
- Pixel math: top-left origin affine, px = (lon-min_lon)/pixel_w,
  py = (max_lat-lat)/pixel_h truncated (geotiff.rs:51-60).
- NoData sentinel -> no value (geotiff.rs:42-49).
- Skip flag: nodes of bridge/tunnel/... ways never get elevation
  (skip_ele.rs + geotiff.rs:614-616).
- keep-original: if the element already has an elevation, keep it
  (geotiff.rs:427-429).
- Values rounded to 2 decimals (the reference stringifies f32/f64 with 2dp,
  geotiff.rs:94-118; we keep them numeric, same precision).

Spark shape: the ROUTING INDEX (bboxes + pixel sizes, a few KB/tile) is
rendered as a literal CASE expression in finest-first order — pure
whole-stage-codegen arithmetic, zero shuffle, exactly the reference's
"sorted candidates, first hit" rule.  The PIXEL GRIDS ride to executors as
a broadcast of numpy arrays and are gathered vectorized inside an Arrow
UDF (an iterator over ``pyarrow`` arrays, no pandas).  At 100 TB this
still holds while rasters fit executor memory (global DEMs at 90 m ≈ a
few GB as float32 — broadcastable); beyond that the same API would swap
the broadcast for a grid-cell-bucketed join against a raster-tile table,
which cells.py already supports.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .session import local_df


class RasterIndex:
    """Driver-side routing metadata + pixel grids (GeoTiffManager analog)."""

    def __init__(self, tiles: list[dict]):
        # finest resolution first; ties keep input order (stable sort, same
        # as the reference's sort_by pixel size, geotiff.rs:281-288)
        self.tiles = sorted(tiles, key=lambda t: t["pixel_w"] * t["pixel_h"])

    @classmethod
    def from_df(cls, raster_df: DataFrame) -> "RasterIndex":
        tiles = []
        for r in raster_df.collect():
            d = r.asDict()
            d["grid"] = np.asarray(d.pop("values"), dtype=np.float64).reshape(
                d["height"], d["width"]
            )
            tiles.append(d)
        return cls(tiles)

    @classmethod
    def from_arrow(cls, tbl) -> "RasterIndex":
        tiles = []
        for d in tbl.to_pylist():
            d["grid"] = np.asarray(d.pop("values"), dtype=np.float64).reshape(
                d["height"], d["width"]
            )
            tiles.append(d)
        return cls(tiles)

    def routing(self) -> list[dict]:
        return [{k: v for k, v in t.items() if k != "grid"} for t in self.tiles]

    def grids(self) -> dict[str, dict]:
        keys = (
            "min_lon", "max_lat", "pixel_w", "pixel_h", "width", "height",
            "nodata", "epsg", "min_x", "max_y",
        )
        return {
            t["raster_id"]: {"grid": t["grid"], **{k: t[k] for k in keys if k in t}}
            for t in self.tiles
        }

    def unknown_crs_ids(self) -> list[str]:
        """raster_ids whose CRS the transform layer cannot resolve — these
        tiles yield NULL elevation; surfaced loudly via elevation_stats_df
        instead of failing the stage or silently dropping (round-2 finding)."""
        from .srs import epsg_supported

        return [
            t["raster_id"]
            for t in self.tiles
            if not epsg_supported(int(t.get("epsg", 4326)))
        ]


ROUTE_JOIN_THRESHOLD = 64  # above this, CASE-chain depth hurts codegen


def _gather_elevations(pos, grids: list, lat_np, lon_np):
    """The one vectorized pixel gather behind every elevation lookup.

    ``pos`` holds each row's integer position into ``grids`` (-1 =
    unrouted; a ``None`` grid = no pixels for that tile); returns raw
    (unrounded) float64 elevations, NaN for unrouted rows, NoData pixels
    and unknown-CRS tiles — exactly the reference's unwrap_or-none
    semantics (geotiff.rs:42-49)."""
    out = np.full(len(pos), np.nan)
    # bincount finds the tiles present in O(n) — no sort, no object compares
    present = np.flatnonzero(np.bincount(pos + 1, minlength=len(grids) + 1)[1:])
    for j in present:
        g = grids[j]
        if g is None:
            continue
        m = pos == j
        epsg = g.get("epsg", 4326)
        if epsg != 4326:
            from .srs import epsg_supported, wgs84_to_epsg

            if not epsg_supported(epsg):
                # unknown CRS -> no value (counted as unknown_crs in
                # elevation_stats_df), never a stage failure
                continue
            # projected tiff: WGS84 probe -> tiff CRS before the
            # affine (geotiff.rs:77-93); pixel origin is in CRS units
            xs, ys = wgs84_to_epsg(lat_np[m], lon_np[m], epsg)
            x0, y0 = g["min_x"], g["max_y"]
        else:
            xs, ys = lon_np[m], lat_np[m]
            x0, y0 = g["min_lon"], g["max_lat"]
        px = np.floor((xs - x0) / g["pixel_w"]).astype(np.int64)
        py = np.floor((y0 - ys) / g["pixel_h"]).astype(np.int64)
        px = np.clip(px, 0, g["width"] - 1)
        py = np.clip(py, 0, g["height"] - 1)
        vals = g["grid"][py, px]
        out[m] = np.where(vals == g["nodata"], np.nan, vals)
    return out


def f64(a: pa.Array) -> np.ndarray:
    """An Arrow batch column as the kernels' float64 numpy, NULL -> NaN."""
    return np.asarray(a.to_numpy(zero_copy_only=False), dtype=np.float64)


def gather_by_raster_id(grids: dict, rid: pa.Array, lat_np, lon_np):
    """:func:`_gather_elevations` over a batch's raster_id column: the
    ids are dictionary-encoded to positions once per batch
    (``pyarrow.compute.dictionary_encode``; NULL -> -1)."""
    enc = rid.dictionary_encode()
    pos = enc.indices.fill_null(-1).to_numpy()
    tiles = [grids.get(r) for r in enc.dictionary.to_pylist()]
    return _gather_elevations(pos, tiles, lat_np, lon_np)


def make_lookup3(index: RasterIndex, spark):
    """Fused 3-point elevation lookup for way splitting (guide §4.1/§2.4).

    The window version of the split threshold test shuffles + sorts the FULL
    interpolated point stream just to see each point's sequence neighbors.
    But neighbor i±1 of point ``from + i*step`` is ``from + (i±1)*step`` —
    pure arithmetic — so one Arrow crossing of six narrow numeric columns
    (from_lat, from_lon, step_lat, step_lon, i, n) can compute all three
    elevations itself: route each of the three points with the numpy twin of
    the routing CASE and gather from the broadcast grids.  Returns RAW
    (unrounded) doubles; rounding/coalesce/threshold stay JVM-side so the
    result is bit-identical to the window path.  ev_p/ev_n are NaN->null at
    the sequence edges (i==1 / i==n-1) where the window path coalesces to
    the endpoint elevations."""
    bc = spark.sparkContext.broadcast((index.routing(), index.grids()))

    @F.arrow_udf("ev_p double, ev_c double, ev_n double")
    def lookup3(it: Iterator[tuple[pa.Array, ...]]) -> Iterator[pa.Array]:
        routing, grids = bc.value
        tile_grids = [grids.get(t["raster_id"]) for t in routing]
        for cols in it:
            flat, flon, slat, slon, i_f, n_f = map(f64, cols)
            nrows = len(flat)
            # one concatenated (3N) routing + gather pass over the three
            # point sets: prev | center | next
            lat = np.empty(3 * nrows)
            lon = np.empty(3 * nrows)
            for slot, (k, edge) in enumerate((
                (i_f - 1.0, i_f <= 1.0),
                (i_f, None),
                (i_f + 1.0, i_f >= n_f - 1.0),
            )):
                # same IEEE ops as interpolate()'s JVM expression:
                # from + (i * step), double mul then double add (no FMA)
                p_lat = flat + k * slat
                p_lon = flon + k * slon
                if edge is not None:
                    # endpoint neighbors are never looked up (the window
                    # path coalesces lag/lead null to from/to elevation)
                    p_lat = np.where(edge, np.nan, p_lat)
                lat[slot * nrows:(slot + 1) * nrows] = p_lat
                lon[slot * nrows:(slot + 1) * nrows] = p_lon
            # finest-first first-containing-tile routing to int tile indices
            # (numpy twin of route_col, [min,max) semantics; NaN coords
            # compare False exactly like the CASE chain's null)
            idx = np.full(3 * nrows, -1, dtype=np.int32)
            unrouted = np.ones(3 * nrows, dtype=bool)
            for j, t in enumerate(routing):
                if not unrouted.any():
                    break
                m = (
                    unrouted
                    & (lon >= t["min_lon"]) & (lon < t["max_lon"])
                    & (lat >= t["min_lat"]) & (lat < t["max_lat"])
                )
                idx[m] = j
                unrouted &= ~m
            ev = _gather_elevations(idx, tile_grids, lat, lon)
            out = [pa.array(ev[k * nrows:(k + 1) * nrows], from_pandas=True) for k in range(3)]
            yield pa.StructArray.from_arrays(out, names=["ev_p", "ev_c", "ev_n"])

    # guide §4.4: the keep-filter references the UDF's output columns; left
    # deterministic, the optimizer pushes the filter below the projection and
    # evaluates the UDF TWICE (two ArrowEvalPython nodes).  The function is
    # pure — the marker only forbids duplication/reordering.
    return lookup3.asNondeterministic()


def route_col(index: RasterIndex, lat: Column, lon: Column) -> Column:
    """Finest-containing-tile raster_id as a literal CASE chain
    ([min,max) bbox semantics so pixel indices stay in range).

    Only used for small indexes: a planet SRTM glob is hundreds of tiffs
    (geotiff.rs:159-209) and a nested CASE that deep blows past codegen
    limits — see :func:`route_via_cell_join` for the scale path."""
    expr = F.lit(None).cast("string")
    for t in reversed(index.routing()):
        contains = (
            (lon >= F.lit(t["min_lon"]))
            & (lon < F.lit(t["max_lon"]))
            & (lat >= F.lit(t["min_lat"]))
            & (lat < F.lit(t["max_lat"]))
        )
        expr = F.when(contains, F.lit(t["raster_id"])).otherwise(expr)
    return expr


def route_via_cell_join(df: DataFrame, index: RasterIndex) -> DataFrame:
    """Scale routing (SURVEY §2.1/S7, geotiff.rs:281-288): broadcast a
    coarse-cell -> candidate-tile-bbox table (candidates pre-sorted finest
    first, the R-tree's sort), equi-join on the cell, then pick the first
    CONTAINING candidate with pure array algebra — constant expression
    depth, zero shuffle, any tile count."""
    from .cells import grid_cell, grid_cell_py, num_tiles_lon

    route_tile_size = 1.0

    by_cell: dict[int, list[tuple]] = {}
    for t in index.routing():  # already finest-first
        eps = route_tile_size * 1e-9
        la0 = max(t["min_lat"], -90.0)
        la1 = min(t["max_lat"] - eps, 90.0 - eps)
        lo0, lo1 = t["min_lon"], t["max_lon"] - eps
        cand = (
            float(t["min_lon"]), float(t["max_lon"]),
            float(t["min_lat"]), float(t["max_lat"]),
            t["raster_id"],
        )
        c00 = grid_cell_py(la0, lo0, route_tile_size)
        c11 = grid_cell_py(la1, lo1, route_tile_size)
        if c00 is None or c11 is None:
            continue
        ntl = num_tiles_lon(route_tile_size)
        for row in range(c00 // ntl, c11 // ntl + 1):
            for col in range(c00 % ntl, c11 % ntl + 1):
                by_cell.setdefault(row * ntl + col, []).append(cand)

    cell_df = local_df(
        df.sparkSession,
        list(by_cell.items()) or [(None, [])],
        "__route_cell long, __cands array<struct<"
        "min_lon:double,max_lon:double,min_lat:double,max_lat:double,"
        "raster_id:string>>",
    )
    lat, lon = F.col("lat"), F.col("lon")
    routed = df.withColumn(
        "__route_cell", grid_cell(lat, lon, route_tile_size)
    ).join(F.broadcast(cell_df), "__route_cell", "left")
    containing = F.filter(
        F.col("__cands"),
        lambda c: (lon >= c["min_lon"]) & (lon < c["max_lon"])
        & (lat >= c["min_lat"]) & (lat < c["max_lat"]),
    )
    return (
        # F.get is NULL-safe on empty arrays (cell mapped, no bbox contains)
        routed.withColumn("raster_id", F.get(containing, 0)["raster_id"])
        .drop("__route_cell", "__cands")
    )


def elevation_stats_df(
    df: DataFrame,
    skip_col: str | None = None,
    index: RasterIndex | None = None,
) -> DataFrame:
    """found / not-found / skipped counters (geotiff.rs:350-357) as a
    one-row frame.  With ``index``, also counts rows routed to a tile whose
    CRS the transform layer cannot resolve (loud, instead of the silent
    NULL those rows get)."""
    skip = (
        F.coalesce(F.col(skip_col), F.lit(False)) if skip_col else F.lit(False)
    )
    unknown_ids = index.unknown_crs_ids() if index is not None else []
    unknown = (
        F.col("raster_id").isin(unknown_ids)
        if unknown_ids and "raster_id" in df.columns
        else F.lit(False)
    )
    return df.agg(
        F.count(F.when(F.col("elev").isNotNull(), 1)).alias("found"),
        F.count(F.when(F.col("elev").isNull() & ~skip, 1)).alias("not_found"),
        F.count(F.when(skip, 1)).alias("skipped"),
        F.count(F.when(unknown, 1)).alias("unknown_crs"),
    )
