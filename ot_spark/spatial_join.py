"""Country counters of the point-in-polygon admin join (reference AreaHandler).

The join itself is enrich_fused.spatial_enrich with an ``area_index``.
Probe semantics = /root/reference/src/area.rs:366-401:

- |lat| >= 90 -> skipped (NULL admin_key), area.rs:368-370;
- grid cell state 0 -> NULL;
- single-area cell -> key directly, NO geometry test (area.rs:391-394);
- MULTIPLE cell -> exact point∩clipped-geometry test per candidate, hits
  comma-joined in area-insertion order (area.rs:377-389, 396-399).

Spark shape (SURVEY.md §4): the grid cell is JVM Column arithmetic; the
probe itself runs in spatial_enrich's one Arrow UDF as the
vectorised :class:`~ot_spark.area_index.CellLookup` kernel — a binary search over the
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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .area_index import AreaIndex
from .session import local_df


def admin_stats_df(df: DataFrame, index: AreaIndex) -> DataFrame:
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
        "grid_cell long, __is_border boolean",
    )
    df = df.join(F.broadcast(border_df), "grid_cell", "left")
    in_border = F.coalesce(F.col("__is_border"), F.lit(False))
    return df.agg(
        F.count(F.when(F.col("admin_key").isNotNull(), 1)).alias("found"),
        F.count(
            F.when(F.col("admin_key").isNull() & F.col("grid_cell").isNotNull(), 1)
        ).alias("not_found"),
        F.count(F.when(in_border, 1)).alias("intersect_checks"),
        F.count(F.when(F.col("admin_key").contains(","), 1)).alias("border_nodes"),
    )
