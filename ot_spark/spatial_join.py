"""Filter-and-refine point-in-polygon spatial join (reference AreaHandler).

Probe semantics = /root/reference/src/area.rs:366-401:

- |lat| >= 90 -> skipped (NULL admin_key), area.rs:368-370;
- grid cell state 0 -> NULL;
- single-area cell -> key directly, NO geometry test (area.rs:391-394);
- MULTIPLE cell -> exact point∩clipped-geometry test per candidate, hits
  comma-joined in area-insertion order (area.rs:377-389, 396-399).

Spark shape (SURVEY.md §4): the grid cell is JVM Column arithmetic; the
probe itself is one Arrow-batched pandas UDF running the vectorised
:class:`~ot_spark.area_index.CellLookup` kernel — a binary search over the
sorted indexed cells and the exact geometry test only for rows landing
in border cells (the reference counts these via
country_intersect_checks_count — we expose the same stats).  The kernel's
tables (a few MB for planet-scale admin boundaries after clipping) ride to
executors as one broadcast variable; the fact table is never shuffled and
the plan holds no join or exchange for the lookup.

At 1000-executor scale: broadcast ~MBs, zero shuffle.  Skewed mega-cells
are a non-issue here because there is no shuffle; skew handling matters
for the downstream per-cell aggregations (see lineage/bench) where AQE +
salting apply.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .area_index import AreaIndex
from .cells import grid_cell
from .session import local_df


def enrich_with_admin(
    df: DataFrame,
    index: AreaIndex,
    lat_col: str = "lat",
    lon_col: str = "lon",
    out_col: str = "admin_key",
    cell_col: str = "grid_cell",
) -> DataFrame:
    """Add ``grid_cell`` and ``admin_key`` columns.

    NULL admin_key == the reference's "no country tag appended"
    (area.rs:392-395: empty result_vec -> not-found counter, no tag).
    """
    df = df.withColumn(cell_col, grid_cell(F.col(lat_col), F.col(lon_col), index.tile_size))
    bc = df.sparkSession.sparkContext.broadcast(index.cell_lookup)

    @F.pandas_udf(StringType())
    def lookup(
        it: Iterator[tuple[pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        kernel = bc.value
        for cell_s, lon_s, lat_s in it:
            yield pd.Series(kernel.lookup(
                cell_s.to_numpy(dtype=np.float64, na_value=np.nan),
                lon_s.to_numpy(dtype=np.float64, na_value=np.nan),
                lat_s.to_numpy(dtype=np.float64, na_value=np.nan),
            ))

    return df.withColumn(
        out_col, lookup(F.col(cell_col), F.col(lon_col), F.col(lat_col))
    )


def admin_stats_df(
    df: DataFrame,
    index: AreaIndex,
    out_col: str = "admin_key",
    cell_col: str = "grid_cell",
) -> DataFrame:
    """One-row stats frame: the reference's country counters
    (area.rs:344-348, 412-417) as one aggregation.

    not_found counts only probed rows: the reference early-returns on pole
    latitudes before touching any counter (area.rs:368-370), and our
    grid_cell is NULL exactly there (and for NULL coords)."""
    # a broadcast membership join keeps the plan constant-size (planet-
    # scale border sets would inline ~10^5 literals into an isin)
    border_df = local_df(
        df.sparkSession,
        [(int(c), True) for c in index.border_cells],
        f"{cell_col} long, __is_border boolean",
    )
    df = df.join(F.broadcast(border_df), cell_col, "left")
    in_border = F.coalesce(F.col("__is_border"), F.lit(False))
    return df.agg(
        F.count(F.when(F.col(out_col).isNotNull(), 1)).alias("found"),
        F.count(
            F.when(F.col(out_col).isNull() & F.col(cell_col).isNotNull(), 1)
        ).alias("not_found"),
        F.count(F.when(in_border, 1)).alias("intersect_checks"),
        F.count(F.when(F.col(out_col).contains(","), 1)).alias("border_nodes"),
    )
