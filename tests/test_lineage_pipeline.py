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
    assert lineage.orphan_files(spark, out_b, lin_b) == []
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


def test_pipeline_rerun_over_completed_output(spark, fixture_dir, tmp_path, monkeypatch):
    """submit.py's resume: the same PipelineConfig re-run over a completed
    output writes no bucket, and its stage counters still come back even
    though the bucket anti-join empties the write's input.  The lineage
    read-back is skipped: nothing under the output is read."""
    from pyspark.sql.readwriter import DataFrameReader
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
    reads = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        reads.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    again = run("again")
    monkeypatch.undo()
    out = str(tmp_path / "out")
    assert reads and not [p for p in reads if str(p).removeprefix("file:").startswith(out)]
    assert first["buckets_written"] > 0
    assert again["buckets_written"] == 0
    assert again["buckets_skipped"] == first["buckets_written"]
    assert again["metrics"] == first["metrics"]
    assert again["metrics"]["output"]["rows"] == first["metrics"]["accepted"]["rows"] > 0
    rows = spark.read.parquet(str(tmp_path / "out")).count()
    assert rows == first["metrics"]["output"]["rows"]


def test_pipeline_build_one_enrichment_for_every_config(spark, fixture_dir, tmp_path, enrich_ref):
    """Pipeline.build runs the one enrichment whatever the config: admin +
    raster, no admin index, and keep_original_elevation over an input
    ``elev`` column all emit one column set, with values equal to the
    per-row references (skip-flagged rows get no raster_id and no looked-up
    elevation; an original elevation wins under keep_original)."""
    from ot_spark.area_index import AreaIndex

    idx = area_index.build_area_index(
        [(r["key"], r["name"], r["wkt"]) for r in gen_admin_polygons().to_pylist()]
    )
    ridx = raster.RasterIndex.from_df(
        spark.read.parquet(f"{fixture_dir}/raster_tiles.parquet")
    )
    pages_path = f"{fixture_dir}/pages.parquet"
    elev_path = str(tmp_path / "pages_elev")
    spark.read.parquet(pages_path).withColumn(
        "elev", F.when(F.xxhash64("url") % 3 == 0, F.lit(123.45))
    ).write.parquet(elev_path)
    original = {
        r.url: r.elev for r in spark.read.parquet(elev_path).select("url", "elev").collect()
    }
    common = dict(links_path=f"{fixture_dir}/links.parquet", raster_index=ridx)
    configs = {
        "admin+raster": PipelineConfig(pages_path, admin_index=idx, **common),
        "no admin": PipelineConfig(pages_path, **common),
        "keep original": PipelineConfig(
            elev_path, admin_index=idx, keep_original_elevation=True, **common
        ),
    }
    cols = ["grid_cell", "admin_key", "raster_id", "elev", "s2_10", "h3_7", "h3_9"]
    column_sets, got = set(), {}
    for name, cfg in configs.items():
        rows = Pipeline(cfg).build(spark).collect()
        column_sets.add(frozenset(rows[0].asDict()))
        refs = enrich_ref(rows, cfg.admin_index or AreaIndex(tile_size=cfg.tile_size), ridx)
        for r, want in zip(rows, refs):
            if r.no_elevation:
                want.update(raster_id=None, elev=None)
            if cfg.keep_original_elevation and original[r.url] is not None:
                want["elev"] = original[r.url]
            assert {c: r[c] for c in cols} == want, (name, r.url)
        got[name] = [r.asDict() for r in rows]
    assert len(column_sets) == 1
    assert any(r["admin_key"] is not None for r in got["admin+raster"])
    assert any(r["elev"] is not None for r in got["admin+raster"])
    assert all(r["admin_key"] is None for r in got["no admin"])
    assert any(r["elev"] is not None for r in got["no admin"])
    assert any(r["elev"] == 123.45 for r in got["keep original"])


def _keyed(spark, n, payload="v"):
    return spark.range(n).select(
        F.col("id").alias("key"), (F.col("id") % 10).alias("grid_cell"),
        F.lit(payload).alias("payload"),
    )


def _leave_crash_rows(df, out, bucket, run_id, n_buckets=4, limit=5):
    """Rows of ``bucket`` written under ``run=<run_id>`` with no lineage
    row: what a run that died between data write and lineage append
    leaves on disk."""
    lineage.with_bucket(df, n_buckets=n_buckets).where(
        F.col(lineage.BUCKET_COL) == bucket
    ).limit(limit).withColumn(lineage.RUN_COL, F.lit(run_id)).write.partitionBy(
        lineage.BUCKET_COL, lineage.RUN_COL
    ).mode("append").parquet(out)


def _assert_consistent(spark, out, lin, want_rows):
    cur = lineage.read_current(spark, out, lin)
    assert cur.count() == cur.select("key").distinct().count() == want_rows
    lin_rows = spark.read.parquet(lin).agg(F.sum("row_count")).first()[0]
    assert lin_rows == want_rows
    assert lineage.verify_against_lineage(spark, out, lin, ["key"]).count() == 0


def test_same_run_id_retry_over_its_own_crash_leftovers(spark, tmp_path):
    """A retry under the crashed run's own run_id replaces that run's
    unrecorded bucket dirs instead of adding to them, and leaves dirs the
    lineage table already records untouched."""
    df = _keyed(spark, 200)

    # no lineage at all: the crash came before the first commit
    out, lin = str(tmp_path / "o1"), str(tmp_path / "l1")
    _leave_crash_rows(df, out, 2, "R")
    info = lineage.write_with_lineage(df, out, lin, ["key"], n_buckets=4, run_id="R")
    assert info["buckets_written"] == 4
    _assert_consistent(spark, out, lin, 200)

    # lineage already holds (0, R) and (1, R): those dirs survive byte for
    # byte, the crashed bucket 2 is rewritten once
    out, lin = str(tmp_path / "o2"), str(tmp_path / "l2")
    first = lineage.with_bucket(df, n_buckets=4).where(
        F.col(lineage.BUCKET_COL) < 2
    ).drop(lineage.BUCKET_COL)
    lineage.write_with_lineage(first, out, lin, ["key"], n_buckets=4, run_id="R")

    def listing(bucket):
        d = tmp_path / "o2" / f"{lineage.BUCKET_COL}={bucket}" / f"{lineage.RUN_COL}=R"
        return sorted((p.name, p.stat().st_mtime_ns, p.read_bytes()) for p in d.iterdir())

    kept = {b: listing(b) for b in (0, 1)}
    _leave_crash_rows(df, out, 2, "R")
    info = lineage.write_with_lineage(df, out, lin, ["key"], n_buckets=4, run_id="R")
    assert (info["buckets_written"], info["buckets_skipped"]) == (2, 2)
    assert {b: listing(b) for b in (0, 1)} == kept
    _assert_consistent(spark, out, lin, 200)


def test_crash_during_lineage_append_leaves_no_visible_file(
    spark, tmp_path, monkeypatch
):
    """The lineage append dies halfway through writing its file.  Readers
    never see the torn file, so the next run resumes: it rewrites the
    buckets of the lost commit and every read path still works."""
    import glob

    import pyarrow.parquet as pq

    df = _keyed(spark, 200)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    half = lineage.with_bucket(df, n_buckets=4).where(
        F.col(lineage.BUCKET_COL) < 2
    ).drop(lineage.BUCKET_COL)
    lineage.write_with_lineage(half, out, lin, ["key"], n_buckets=4, snapshot=False)

    real_write = pq.write_table

    def torn_write(table, where, **kw):
        real_write(table, where, **kw)
        with open(where, "r+b") as f:  # no footer: the process died here
            f.truncate(f.seek(0, 2) // 2)
        raise RuntimeError("killed")

    monkeypatch.setattr(pq, "write_table", torn_write)
    with pytest.raises(RuntimeError, match="killed"):
        lineage.write_with_lineage(df, out, lin, ["key"], n_buckets=4, snapshot=False)
    monkeypatch.undo()
    assert len(glob.glob(f"{lin}/*.parquet")) == 1
    assert glob.glob(f"{lin}/.*.tmp")  # the torn file, hidden from readers

    info = lineage.write_with_lineage(df, out, lin, ["key"], n_buckets=4)
    assert (info["buckets_written"], info["buckets_skipped"]) == (2, 2)
    _assert_consistent(spark, out, lin, 200)
    assert lineage.read_manifest(spark, out, info["snapshot_id"]).count() == 4


def test_lineage_log_mixing_spark_and_driver_written_files(spark, tmp_path):
    """A lineage log whose first commit was written by Spark (one coalesced
    file of the aggregate) and whose next commit is appended by a later
    writer reads back with one set of column types through every reader."""
    import glob

    import pyarrow.parquet as pq

    df = _keyed(spark, 120)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    half = lineage.with_bucket(df, n_buckets=4).where(
        F.col(lineage.BUCKET_COL) < 2
    ).drop(lineage.BUCKET_COL)
    lineage.write_with_lineage(
        half, out, str(tmp_path / "scratch_lin"), ["key"], n_buckets=4,
        run_id="old", snapshot=False,
    )
    # the Spark-side lineage write: the per-bucket aggregate of the read-back
    landed = spark.read.parquet(out).select(
        "*", F.col("_metadata.file_path").alias("__file")
    )
    landed.groupBy(lineage.BUCKET_COL).agg(
        F.min("grid_cell").alias("cell_min"),
        F.max("grid_cell").alias("cell_max"),
        F.count(F.lit(1)).alias("row_count"),
        F.bit_xor(F.xxhash64("key")).alias("checksum"),
        F.collect_set(F.col("__file")).alias("files"),
    ).withColumn("run_id", F.lit("old")).withColumn(
        "ts", F.lit(1_700_000_000_000)
    ).coalesce(1).write.mode("append").parquet(lin)

    info = lineage.write_with_lineage(df, out, lin, ["key"], n_buckets=4)
    assert (info["buckets_written"], info["buckets_skipped"]) == (2, 2)
    files = sorted(glob.glob(f"{lin}/*.parquet"))
    assert len(files) == 2
    arrow = [pq.read_schema(f) for f in files]
    assert [(f.name, f.type) for f in arrow[0]] == [(f.name, f.type) for f in arrow[1]]
    spark_types = [spark.read.parquet(f).dtypes for f in files]
    assert spark_types[0] == spark_types[1] == spark.read.parquet(lin).dtypes

    assert lineage.read_current(spark, out, lin).count() == 120
    man = lineage.read_manifest(spark, out, info["snapshot_id"])
    assert dict(man.dtypes) == {
        c: t for c, t in spark.read.parquet(lin).dtypes if c in man.columns
    }
    assert man.agg(F.sum("row_count")).first()[0] == 120
    assert lineage.audit_snapshot(spark, out, info["snapshot_id"], ["key"]).count() == 0
    assert lineage.verify_against_lineage(spark, out, lin, ["key"]).count() == 0


def test_default_run_id_is_never_numeric(spark, tmp_path):
    """Partition discovery types a ``run=`` value by its text: an id such
    as ``12345e67890`` would come back as a number.  The default id always
    starts with a letter, so ``run`` is read as a string."""
    df = _keyed(spark, 40)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    info = lineage.write_with_lineage(df, out, lin, ["key"], n_buckets=4)
    run_id = info["run_id"]
    assert run_id[0].isalpha()
    with pytest.raises(ValueError):
        float(run_id)
    assert dict(spark.read.parquet(out).dtypes)[lineage.RUN_COL] == "string"
    assert lineage.read_current(spark, out, lin).count() == 40



def test_snapshot_commit_with_other_columns_raises(spark, tmp_path):
    """A table has one data schema: a snapshot commit whose columns differ
    from the last snapshot's raises before anything is written, and the
    table reads exactly as before.  The snapshot row records the schema."""
    import glob

    def frame(lo, cell0):
        return spark.range(lo, lo + 40).select(
            F.col("id").alias("key"), (cell0 + F.col("id") % 4).alias("grid_cell"),
        )

    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    lineage.write_with_lineage(frame(0, 0), out, lin, ["key"], n_buckets=8)
    snap = lineage._last_snapshot(spark, out)
    assert snap.data_schema == "struct<key:bigint,grid_cell:bigint>"

    def state():
        return (
            sorted(glob.glob(f"{out}/{lineage.BUCKET_COL}=*/*")),
            sorted(glob.glob(f"{out}/{lineage.SNAPSHOTS_SUBDIR}/*")),
            sorted(glob.glob(f"{lin}/*")),
            sorted(lineage.read_current(spark, out, lin).collect()),
        )

    before = state()
    # buckets 4..7 are new: without the guard this commit would write them
    wider = frame(40, 4).withColumn("lang", F.lit("en"))
    with pytest.raises(ValueError, match="data schema"):
        lineage.write_with_lineage(wider, out, lin, ["key"], n_buckets=8)
    assert state() == before
    assert len(before[3]) == 40
