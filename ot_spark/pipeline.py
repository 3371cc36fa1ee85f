"""Config-driven pipeline assembly — the engine's ``run()`` entry point.

Mirrors the reference's two chains (/root/reference/src/lib.rs:215-346)
as ONE declarative plan (the pass-1 bitmap is just the semi-join build
side — Catalyst needs no second read):

  read pages ─ count(input) ─ [semi-join vs accepted links]        (J1/F7)
    ─ [metadata removal]                                           (F11)
    ─ count(accepted)
    ─ parse coordinates (url/text/html)                            (graft)
    ─ [no-elevation flag from skip-ele links]                      (skip_ele)
    ─ spatial enrichment: admin PIP + elevation + S2/H3 tiles   (J2/J3)
    ─ tag projection (remove junk keys)                            (F10)
    ─ count(output)
    ─ write bucketed parquet + lineage  /  return frame

The enrichment is one step, enrich_fused.spatial_enrich, whatever the
config: a run without polygons gets NULL admin_key, a run without rasters
NULL elevation, and every run emits the same columns.

Handler-chain order matters in the reference because handlers mutate
shared state; here order is semantic only where it is in the reference
too (tag projection after filters — filters must see removable-only
elements, lib.rs:319-322 places TagFilterByKey late).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import filters, lineage, parse, semi
from .area_index import AreaIndex
from .enrich_fused import spatial_enrich
from .metrics import PipelineMetrics
from .raster import RasterIndex


@dataclass
class PipelineConfig:
    pages_path: str
    links_path: str | None = None
    out_dir: str | None = None
    lineage_path: str | None = None
    filter_pages_by_links: bool = True      # -e node filtering analog
    remove_metadata: bool = True            # --remove-metadata
    keep_original_elevation: bool = False   # --keep-original-elevation
    tile_size: float = 1.0
    n_buckets: int = 64
    admin_index: AreaIndex | None = None    # -c/--country-csv
    raster_index: RasterIndex | None = None  # -s/--elevation-tiffs
    run_id: str | None = None


class Pipeline:
    def __init__(self, config: PipelineConfig):
        self.config = config
        self.metrics = PipelineMetrics()

    def build(self, spark: SparkSession) -> DataFrame:
        cfg = self.config
        pages = spark.read.parquet(cfg.pages_path)
        pages = self.metrics.count_stage(pages, "input")

        links = (
            spark.read.parquet(cfg.links_path) if cfg.links_path else None
        )
        if links is not None and cfg.filter_pages_by_links:
            pages = semi.filter_referenced(pages, links)
        if cfg.remove_metadata:
            pages = filters.remove_metadata(pages)
        pages = self.metrics.count_stage(pages, "accepted")

        pages = parse.with_coordinates(pages)
        if links is not None:
            pages = semi.with_no_elevation_flag(pages, links)
        else:
            pages = pages.withColumn("no_elevation", F.lit(False))

        pages = spatial_enrich(
            pages,
            cfg.admin_index or AreaIndex(tile_size=cfg.tile_size),
            cfg.raster_index or RasterIndex([]),
            skip_col="no_elevation",
            keep_original=cfg.keep_original_elevation,
        )
        if "attrs" in pages.columns:
            pages = filters.remove_tags(pages)
        return self.metrics.count_stage(pages, "output")

    def run(self, spark: SparkSession) -> dict:
        cfg = self.config
        out = self.build(spark)
        if cfg.out_dir:
            info = lineage.write_with_lineage(
                out,
                cfg.out_dir,
                cfg.lineage_path or f"{cfg.out_dir}_lineage",
                key_cols=["url"],
                n_buckets=cfg.n_buckets,
                run_id=cfg.run_id,
            )
            lineage.propagate_table_properties(spark, cfg.pages_path, cfg.out_dir)
        else:
            info = {"rows": out.count()}
        info["metrics"] = self.metrics.get()
        return info


TYPE_RANK = {"node": 0, "way": 1, "relation": 2}


def splitting_sink(
    frames: dict[str, DataFrame],
    out_dir: str,
    order_key: str = "url",
) -> None:
    """S3 SplittingOutputHandler analog (/root/reference/src/output.rs:59-129).

    The reference writes nodes and ways/relations to two files because way
    splitting creates nodes AFTER ways started streaming, then concatenates
    on close to restore global node -> way -> relation order.  Declaratively
    that is: union everything (late split nodes included) and range-sort the
    write by (type_rank, key) — repartitionByRange + sortWithinPartitions
    under the hood, so files come out globally ordered with NO single-task
    stage."""
    common: list[str] | None = None
    for df in frames.values():
        cols = [c for c in df.columns]
        common = cols if common is None else [c for c in common if c in cols]
    common = common or [order_key]
    parts = []
    for etype, df in frames.items():
        parts.append(
            df.select(*common).withColumn(
                "type_rank", F.lit(TYPE_RANK.get(etype, 99))
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.orderBy("type_rank", order_key).write.mode("overwrite").parquet(out_dir)


