"""The pipeline's spatial enrichment: ONE Arrow round-trip for all Python work.

Admin PIP (area.rs:366-401), the raster lookup (geotiff.rs) and the
S2/H3 tile encodes run in a single struct-returning pandas UDF.  The
composable operators (spatial_join.enrich_with_admin,
raster.enrich_with_elevation, s2h3.with_tiles) are the semantic
references: chained, each adds its own ArrowEvalPython node, so a batch
would cross the JVM<->Python boundary three times per row with one Python
worker pool per node.

The JVM side still does everything vectorizable in codegen (grid cell,
raster routing, skip/keep-original masks); Python does only the numpy
work — the CellLookup admin kernel, raster.py's one pixel-gather kernel
and the S2/true-H3 encodes.  The admin lookup needs no join: the UDF
receives every row's grid cell and returns admin_key directly.  Semantics
equal the composed operators — tests/test_fused.py asserts it row for row.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType
)

from .area_index import AreaIndex
from .cells import grid_cell
from .raster import (
    ROUTE_JOIN_THRESHOLD, RasterIndex, gather_by_raster_id, route_col,
    route_via_cell_join,
)
from .h3x import h3x_cell_ids, h3x_parent_col
from .s2h3 import s2_cell_ids


def spatial_enrich(
    df: DataFrame,
    area_index: AreaIndex,
    raster_index: RasterIndex | None = None,
    s2_level: int = 10,
    h3_resolutions: tuple[int, ...] = (7, 9),
    lat_col: str = "lat",
    lon_col: str = "lon",
    skip_col: str | None = None,
    cell_col: str = "grid_cell",
    keep_original: bool = False,
) -> DataFrame:
    """Adds grid_cell, admin_key, raster_id, elev, s2_<L>, h3_<r> columns.

    ``skip_col``: rows with True get no lookup and a NULL raster_id (skip_ele
    semantics).  ``keep_original``: a row whose input ``elev`` is non-null
    gets no lookup and keeps that value, skip-flagged or not
    (geotiff.rs:425-432), as in raster.enrich_with_elevation."""
    lat, lon = F.col(lat_col), F.col(lon_col)
    df = df.withColumn(cell_col, grid_cell(lat, lon, area_index.tile_size))

    raster_index = raster_index or RasterIndex([])
    bc = df.sparkSession.sparkContext.broadcast(
        (area_index.cell_lookup, raster_index.grids())
    )

    # JVM-side raster mask: NULL raster for skip-flagged rows, so the
    # pixel gather only touches relevant rows.  Deep route CASE chains blow
    # codegen past ROUTE_JOIN_THRESHOLD tiles, so larger tile sets route
    # through raster.py's cell-join path, as the canonical operator does.
    if len(raster_index.tiles) <= ROUTE_JOIN_THRESHOLD:
        df = df.withColumn("raster_id", route_col(raster_index, lat, lon))
    else:
        df = route_via_cell_join(df, raster_index, lat_col, lon_col, "raster_id")
    if skip_col is not None:
        df = df.withColumn(
            "raster_id",
            F.when(~F.coalesce(F.col(skip_col), F.lit(False)), F.col("raster_id")),
        )

    fields = [
        StructField("admin_key", StringType()),
        StructField("elev", DoubleType()),
        StructField(f"s2_{s2_level}", LongType()),
    ] + [StructField(f"h3_{max(h3_resolutions)}", LongType())]
    schema = StructType(fields)
    finest_res = max(h3_resolutions)

    @F.pandas_udf(schema)
    def enrich(
        it: Iterator[tuple[pd.Series, pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.DataFrame]:
        kernel, rgrids = bc.value
        for cell_s, rid_s, lon_s, lat_s in it:
            n = len(cell_s)
            lon_np = lon_s.to_numpy(dtype=np.float64, na_value=np.nan)
            lat_np = lat_s.to_numpy(dtype=np.float64, na_value=np.nan)
            out: dict[str, pd.Series] = {}

            out["admin_key"] = pd.Series(kernel.lookup(
                cell_s.to_numpy(dtype=np.float64, na_value=np.nan), lon_np, lat_np
            ))
            out["elev"] = pd.Series(
                gather_by_raster_id(rgrids, rid_s, lat_np, lon_np)
            )

            # --- tile encodes
            ok = ~(np.isnan(lat_np) | np.isnan(lon_np))
            s2 = np.zeros(n, dtype=np.int64)
            if ok.any():
                s2[ok] = s2_cell_ids(lat_np[ok], lon_np[ok], s2_level)
            ser = pd.Series(s2, dtype="Int64")
            ser[~ok] = pd.NA
            out[f"s2_{s2_level}"] = ser
            # TRUE-GEOMETRY H3: ONLY the finest resolution crosses the
            # Arrow boundary — coarser resolutions are derived JVM-side
            # by the parent bit-truncation (h3x_parent_col), saving one
            # full Int64 column per extra resolution in the transfer
            hf = np.zeros(n, dtype=np.int64)
            if ok.any():
                hf[ok] = h3x_cell_ids(lat_np[ok], lon_np[ok], finest_res)
            hs = pd.Series(hf, dtype="Int64")
            hs[~ok] = pd.NA
            out[f"h3_{finest_res}"] = hs
            yield pd.DataFrame(out)

    # nondeterministic marker: a downstream projection of a SUBSET of __e
    # fields lets column pruning clone the UDF once per field otherwise
    enrich_nd = enrich.asNondeterministic()
    keep = keep_original and "elev" in df.columns
    rid = F.when(F.col("elev").isNull(), F.col("raster_id")) if keep else F.col("raster_id")
    df = df.withColumn("__e", enrich_nd(F.col(cell_col), rid, lon, lat))
    # skip-flagged rows were routed to NULL above, so their looked-up
    # value is already NULL; an original value is coalesced back
    looked = F.round(F.col("__e.elev"), 2)
    df = df.withColumn("admin_key", F.col("__e.admin_key")).withColumn(
        "elev", F.coalesce(F.col("elev"), looked) if keep else looked
    )
    for f_ in fields[2:]:
        df = df.withColumn(f_.name, F.col(f"__e.{f_.name}"))
    for r in sorted(h3_resolutions):
        if r != finest_res:
            df = df.withColumn(
                f"h3_{r}", h3x_parent_col(F.col(f"h3_{finest_res}"), r)
            )
    return df.drop("__e")
