"""spark-submit entry point (north_rule: run via spark-submit --py-files).

Usage on a cluster:

    zip -r ot_spark.zip ot_spark
    spark-submit --py-files ot_spark.zip submit.py \
        --pages s3://bucket/pages --links s3://bucket/links \
        --out s3://bucket/enriched --lineage s3://bucket/enriched_lineage \
        --polygons s3://bucket/admin.csv

Locally (this sandbox):

    python submit.py --pages /path/pages.parquet --out /tmp/out

Resume after a failure: re-run the SAME command — completed cell buckets
are skipped via the lineage table (ot_spark.lineage).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser(description="osm-transform-style pages pipeline")
    p.add_argument("--pages", required=True, help="pages parquet path")
    p.add_argument("--links", default=None, help="links parquet path")
    p.add_argument("--polygons", default=None, help="admin polygons parquet (key,name,wkt)")
    p.add_argument("--rasters", default=None, help="raster tiles parquet")
    p.add_argument("--out", default=None, help="output dir (bucketed parquet)")
    p.add_argument("--lineage", default=None, help="lineage/checkpoint table path")
    p.add_argument("--index-cache", default="/tmp/ot_spark_area_index.parquet")
    p.add_argument("--tile-size", type=float, default=1.0)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--no-metadata-removal", action="store_true")
    p.add_argument("--no-link-filter", action="store_true")
    p.add_argument("--keep-original-elevation", action="store_true")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from ot_spark.area_index import load_or_build
    from ot_spark.pipeline import Pipeline, PipelineConfig
    from ot_spark.raster import RasterIndex

    # on a cluster, master/executors come from spark-submit; locally this
    # falls back to local[*]
    spark = SparkSession.builder.appName("ot_spark_pipeline").getOrCreate()

    admin_index = None
    if args.polygons:
        polygons = spark.read.parquet(args.polygons)
        admin_index = load_or_build(polygons, args.index_cache, args.tile_size)
    raster_index = None
    if args.rasters:
        raster_index = RasterIndex.from_df(spark.read.parquet(args.rasters))

    cfg = PipelineConfig(
        pages_path=args.pages,
        links_path=args.links,
        out_dir=args.out,
        lineage_path=args.lineage,
        filter_pages_by_links=not args.no_link_filter,
        remove_metadata=not args.no_metadata_removal,
        keep_original_elevation=args.keep_original_elevation,
        tile_size=args.tile_size,
        n_buckets=args.n_buckets,
        admin_index=admin_index,
        raster_index=raster_index,
    )
    info = Pipeline(cfg).run(spark)
    print(json.dumps(info, default=str))


if __name__ == "__main__":
    main()
