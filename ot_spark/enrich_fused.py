"""The spatial enrichment: ONE Arrow round-trip for all Python work.

Admin PIP (area.rs:366-401), the raster lookup (geotiff.rs) and the
S2/H3 tile encodes run in one struct-returning Arrow UDF over ``pyarrow``
arrays, so a row crosses the JVM<->Python boundary once with one Python
worker pool, whichever of them a caller asks for.  This is the only
enrichment operator: the pipeline, the bench and the gate queries all
call it with the output families they need.

The JVM side still does everything vectorizable in codegen (grid cell,
raster routing, skip/keep-original masks); Python does only the numpy
work — the CellLookup admin kernel, raster.py's one pixel-gather kernel
and the S2/true-H3 encodes.  The admin lookup needs no join: the UDF
receives every row's grid cell and returns admin_key directly.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType
)

from .area_index import AreaIndex
from .cells import grid_cell
from .raster import (
    ROUTE_JOIN_THRESHOLD, RasterIndex, f64, gather_by_raster_id, route_col,
    route_via_cell_join,
)
from .h3x import h3x_cell_ids, h3x_parent_col
from .s2h3 import s2_cell_ids


def spatial_enrich(
    df: DataFrame,
    area_index: AreaIndex | None,
    raster_index: RasterIndex | None = None,
    s2_level: int | None = 10,
    h3_resolutions: tuple[int, ...] = (7, 9),
    skip_col: str | None = None,
    keep_original: bool = False,
) -> DataFrame:
    """Adds one column family per given argument:

    - ``area_index``: ``grid_cell`` and ``admin_key``; NULL
      admin_key is the reference's "no country tag" (area.rs:392-395);
    - ``raster_index``: ``raster_id`` and ``elev``;
    - ``s2_level`` not None: ``s2_<level>``;
    - non-empty ``h3_resolutions``: ``h3_<r>`` for each r.

    The UDF receives and returns only what the requested families need.
    ``skip_col``: rows with True get no lookup and a NULL raster_id (skip_ele
    semantics).  ``keep_original``: a row whose input ``elev`` is non-null
    gets no lookup and keeps that value, skip-flagged or not
    (geotiff.rs:425-432)."""
    lat, lon = F.col("lat"), F.col("lon")
    inputs, fields = [], []

    if area_index is not None:
        df = df.withColumn("grid_cell", grid_cell(lat, lon, area_index.tile_size))
        inputs.append(F.col("grid_cell"))
        fields.append(StructField("admin_key", StringType()))

    keep = False
    if raster_index is not None:
        # JVM-side raster mask: NULL raster for skip-flagged rows, so the
        # pixel gather only touches relevant rows.  Deep route CASE chains
        # blow codegen past ROUTE_JOIN_THRESHOLD tiles, so larger tile sets
        # route through raster.py's cell-join path.
        if len(raster_index.tiles) <= ROUTE_JOIN_THRESHOLD:
            df = df.withColumn("raster_id", route_col(raster_index, lat, lon))
        else:
            df = route_via_cell_join(df, raster_index)
        if skip_col is not None:
            df = df.withColumn(
                "raster_id",
                F.when(~F.coalesce(F.col(skip_col), F.lit(False)), F.col("raster_id")),
            )
        keep = keep_original and "elev" in df.columns
        rid = F.col("raster_id")
        inputs.append(F.when(F.col("elev").isNull(), rid) if keep else rid)
        fields.append(StructField("elev", DoubleType()))

    # tile encoders; TRUE-GEOMETRY H3: ONLY the finest resolution crosses
    # the Arrow boundary — coarser resolutions are derived JVM-side by the
    # parent bit-truncation (h3x_parent_col), saving one full Int64 column
    # per extra resolution in the transfer
    encoders = []
    if s2_level is not None:
        encoders.append((f"s2_{s2_level}", s2_cell_ids, s2_level))
    finest_res = max(h3_resolutions, default=None)
    if finest_res is not None:
        encoders.append((f"h3_{finest_res}", h3x_cell_ids, finest_res))
    fields += [StructField(name, LongType()) for name, _, _ in encoders]
    names = [f_.name for f_ in fields]

    bc = df.sparkSession.sparkContext.broadcast((
        area_index.cell_lookup if area_index is not None else None,
        raster_index.grids() if raster_index is not None else None,
    ))

    @F.arrow_udf(StructType(fields))
    def enrich(it: Iterator[tuple[pa.Array, ...]]) -> Iterator[pa.Array]:
        kernel, rgrids = bc.value
        for *opt_a, lon_a, lat_a in it:
            lon_np, lat_np = f64(lon_a), f64(lat_a)
            opt = iter(opt_a)
            out = []
            if kernel is not None:
                keys = kernel.lookup(f64(next(opt)), lon_np, lat_np)
                out.append(pa.array(keys, type=pa.string()))
            if rgrids is not None:
                elev = gather_by_raster_id(rgrids, next(opt), lat_np, lon_np)
                out.append(pa.array(elev, from_pandas=True))  # NaN -> NULL
            ok = ~(np.isnan(lat_np) | np.isnan(lon_np))
            for _, encode, level in encoders:
                ids = np.zeros(len(ok), dtype=np.int64)
                if ok.any():
                    ids[ok] = encode(lat_np[ok], lon_np[ok], level)
                out.append(pa.array(ids, mask=~ok))
            yield pa.StructArray.from_arrays(out, names=names)

    # nondeterministic marker: a downstream projection of a SUBSET of __e
    # fields lets column pruning clone the UDF once per field otherwise
    enrich_nd = enrich.asNondeterministic()
    df = df.withColumn("__e", enrich_nd(*inputs, lon, lat))
    cols = {}
    for name in names:
        value = F.col(f"__e.{name}")
        if name == "elev":
            # skip-flagged rows were routed to NULL above, so their
            # looked-up value is already NULL; an original value is
            # coalesced back
            value = F.round(value, 2)
            value = F.coalesce(F.col("elev"), value) if keep else value
        cols[name] = value
    for r in sorted(h3_resolutions):
        if r != finest_res:
            cols[f"h3_{r}"] = h3x_parent_col(F.col(f"__e.h3_{finest_res}"), r)
    return df.withColumns(cols).drop("__e")
