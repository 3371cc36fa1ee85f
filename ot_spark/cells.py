"""Tiling / cell-index columns.

- ``grid_cell``: the reference's fixed lon/lat grid (src/area.rs:371):
  ``floor((lat+90)/ts) * num_tiles_lon + floor((lon+180)/ts)`` with
  ``num_tiles_lon = ceil(360/ts)`` (src/area.rs:56-58).  Pure Column
  arithmetic — stays inside whole-stage codegen, no UDF.
- S2 / H3 hierarchical cell ids (ot_spark.s2h3, ot_spark.h3x) are numpy
  encoders; they run inside enrich_fused.spatial_enrich's one Arrow UDF
  (``s2_<level>`` / ``h3_<res>`` columns).

Poles: the reference skips |lat| >= 90 at probe time (src/area.rs:368-370);
``grid_cell`` returns NULL there so downstream joins miss naturally.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def num_tiles_lon(tile_size: float) -> int:
    return math.ceil(360.0 / tile_size)


def grid_cell(lat: Column, lon: Column, tile_size: float = 1.0) -> Column:
    """Cell id per the reference probe formula (src/area.rs:371).

    The Rust probe uses ``as usize`` (truncation toward zero) on values that
    are non-negative after the +90/+180 shift, so floor() is exact parity.
    """
    ntl = num_tiles_lon(tile_size)
    cell = (
        F.floor((lat + F.lit(90.0)) / F.lit(tile_size)) * F.lit(ntl)
        + F.floor((lon + F.lit(180.0)) / F.lit(tile_size))
    ).cast("long")
    return F.when(F.abs(lat) < F.lit(90.0), cell)


def grid_cell_py(lat: float, lon: float, tile_size: float = 1.0) -> int | None:
    """Driver-side twin of :func:`grid_cell` for index building / tests
    (NULL for a NaN latitude too, as Spark's ``abs(NaN) < 90`` is false)."""
    if not abs(lat) < 90.0:
        return None
    return int((lat + 90.0) // tile_size) * num_tiles_lon(tile_size) + int(
        (lon + 180.0) // tile_size
    )


def cell_bounds(cell: int, tile_size: float = 1.0) -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) of a grid cell
    (src/area.rs:61-66 tile construction)."""
    ntl = num_tiles_lon(tile_size)
    row, col = divmod(cell, ntl)
    min_lon = col * tile_size - 180.0
    min_lat = row * tile_size - 90.0
    return (min_lon, min_lat, min_lon + tile_size, min_lat + tile_size)


def grid_cell_sql(lat_expr: str, lon_expr: str, tile_size: float = 1.0) -> str:
    """ANSI-SQL rendering of the same formula (DuckDB-compatible), used by
    the correctness oracle so both engines evaluate the identical formula."""
    ntl = num_tiles_lon(tile_size)
    return (
        f"CASE WHEN abs({lat_expr}) < 90.0 THEN "
        f"CAST(floor(({lat_expr} + 90.0) / {tile_size}) AS BIGINT) * {ntl} "
        f"+ CAST(floor(({lon_expr} + 180.0) / {tile_size}) AS BIGINT) END"
    )


# z-value interleaves the low ZORDER_BITS bits of x and y; zorder_layout's
# bucket is the top ZBUCKET_BITS bits of it
ZORDER_BITS = 9
ZBUCKET_BITS = 6


def zorder_col(x: Column, y: Column) -> Column:
    """Morton/Z-order interleave of two non-negative integer grid
    coordinates (Morton 1966, public; the layout key behind Delta/
    Iceberg Z-ORDER clustering): bit i of ``x`` lands at 2i, bit i of
    ``y`` at 2i+1, so records close in BOTH dimensions get close
    z-values and one range of z covers a compact spatial tile.

    Pure Column bit algebra — an unrolled OR chain of ``2*ZORDER_BITS`` masked
    shifts, whole-stage-codegen-friendly, ZERO shuffles.  The SQL twin
    ``zorder_sql`` is generated from the same loop so the two engines
    cannot drift.
    """
    z = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(
                F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


def zorder_sql(x_expr: str, y_expr: str) -> str:
    """The SAME interleave as ANSI SQL, generated from the same loop.
    Every term is FULLY parenthesized: DuckDB (like Postgres) gives
    ``|`` and ``<<`` equal precedence left-associative, so an unwrapped
    ``a << 2 | b << 3`` parses as ``((a << 2) | b) << 3``."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"(((({x_expr}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y_expr}) >> {i}) & 1) << {2 * i + 1})")
    return "CAST((" + " | ".join(terms) + ") AS BIGINT)"


def zorder_layout(df, x: Column, y: Column):
    """Z-order layout assignment: (zval, zbucket) per row, where
    ``zbucket`` is the TOP ``ZBUCKET_BITS`` bits of the z-value — a
    static space partition, so the assignment is a pure map (no global
    sort, no sampled range boundaries, deterministic under any
    parallelism).  A bucket is exactly one aligned 2^(ZORDER_BITS - b/2)
    x 2^(ZORDER_BITS - b/2) spatial tile, b = ZBUCKET_BITS.

    At 100 TB this feeds the writer as
    ``df.repartition(n, zbucket).sortWithinPartitions(zval)`` — min/max
    zval per file then prunes 2-D range scans the way Delta/Iceberg
    Z-ORDER clustering does, but with no global range-sampling pass.
    Skewed tiles (mega-cities) split by appending low z bits to the
    bucket — same salting algebra as ot_spark/skew.py.
    """
    z = zorder_col(x, y)
    return df.select(
        "*",
        z.alias("zval"),
        F.shiftright(z, 2 * ZORDER_BITS - ZBUCKET_BITS).cast("long").alias("zbucket"),
    )
