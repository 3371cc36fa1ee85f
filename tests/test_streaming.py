"""Streaming/batch parity: file-source enrichment, watermarked windowed
counts, and stateful sessionization whose state survives micro-batch
boundaries (two availableNow runs against one checkpoint)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ot_spark import streaming


@pytest.fixture()
def pages_stream_dir(spark, tmp_path):
    src = str(tmp_path / "pages_in")
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        (F.lit("2024-03-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id") * 40)).alias("warc_ts"),
        ((F.col("id") * 7 % 120) - 60.0).alias("lat"),
        ((F.col("id") * 11 % 300) - 150.0).alias("lon"),
    )
    df.coalesce(2).write.parquet(src)
    return src, df


def test_stream_enrich_and_window_equals_batch(spark, pages_stream_dir, tmp_path):
    src, batch_df = pages_stream_dir
    schema = spark.read.parquet(src).schema
    st = streaming.stream_pages(spark, src, schema)
    enriched = streaming.enrich_stream(st)
    counts = streaming.windowed_cell_counts(enriched, window="10 minutes")
    streaming.run_to_memory(
        counts, "win_counts", str(tmp_path / "ck1"), complete=False
    )
    got = {
        (r.w_start, r.grid_cell): r.n_pages
        for r in spark.table("win_counts").collect()
    }
    want = {
        (r.w_start, r.grid_cell): r.n_pages
        for r in streaming.windowed_cell_counts(
            streaming.enrich_stream(batch_df), window="10 minutes"
        ).collect()
    }
    # append mode emits only windows the watermark has closed; every
    # emitted window must match the batch result, and most must be emitted
    assert got
    assert all(want.get(k) == v for k, v in got.items())
    # append mode holds back windows inside the watermark horizon
    # (watermark 30m + window 10m over a ~22h timeline -> a small tail)
    assert len(got) >= len(want) * 0.9


def test_stream_admin_lookup_equals_batch(spark, tmp_path):
    """enrich_stream's admin lookup on a file stream equals the batch
    enricher on the same rows, border cells included."""
    from ot_spark import area_index, spatial_join
    from ot_spark.synth import gen_admin_polygons

    idx = area_index.build_area_index(
        [(r["key"], r["name"], r["wkt"]) for r in gen_admin_polygons().to_pylist()]
    )
    src = str(tmp_path / "pts_in")
    df = spark.range(0, 28 * 40).select(  # a 0.25-degree lattice
        F.col("id").alias("doc_id"),
        (F.floor(F.col("id") / 40) * 0.25 - 1.0).alias("lat"),
        (F.col("id") % 40 * 0.25 - 1.0).alias("lon"),
    )
    df.coalesce(2).write.parquet(src)
    st = streaming.stream_pages(spark, src, spark.read.parquet(src).schema)
    streaming.run_to_memory(
        streaming.enrich_stream(st, idx), "admin_stream", str(tmp_path / "cka")
    )
    got = {r.doc_id: r.admin_key for r in spark.table("admin_stream").collect()}
    want = {
        r.doc_id: r.admin_key
        for r in spatial_join.enrich_with_admin(df, idx).collect()
    }
    assert got == want
    assert any(k and "," in k for k in want.values())  # a border hit


def test_stateful_sessionize_across_microbatches(spark, tmp_path):
    src = str(tmp_path / "events_in")
    ck = str(tmp_path / "ck2")

    def events(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 7).alias("user_id"),
            (F.lit("2024-03-01 00:00:00").cast("timestamp")
             + F.make_interval(secs=F.col("id") * 700)).alias("ts"),
        )

    out = str(tmp_path / "sess_out")

    # micro-batch 1: first half of the timeline
    events(0, 100).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    st = streaming.stream_pages(spark, src, schema)
    sess = streaming.sessionize_stream(st, gap_sec=1800)
    streaming.run_to_parquet(sess, out, ck)
    assert spark.read.parquet(out).count() == 100

    # micro-batch 2: the rest — state (last ts, session counter) must
    # carry over via the checkpoint
    events(100, 200).coalesce(1).write.mode("append").parquet(src)
    st2 = streaming.stream_pages(spark, src, schema)
    sess2 = streaming.sessionize_stream(st2, gap_sec=1800)
    streaming.run_to_parquet(sess2, out, ck)
    got = {
        r.event_id: r.session_no
        for r in spark.read.parquet(out).collect()
    }
    assert len(got) == 200

    # batch oracle: the same lag/gap/running-sum sessionization
    from pyspark.sql import Window

    ev = events(0, 200)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    es = F.unix_timestamp(F.col("ts"))
    gap = es - F.lag(es).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    want = {
        r.event_id: r.session_no
        for r in ev.select(
            "event_id",
            F.sum(new_sess)
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("session_no"),
        ).collect()
    }
    assert got == want


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    src = str(tmp_path / "dedup_in")
    ck = str(tmp_path / "ck3")
    out = str(tmp_path / "dedup_out")

    def pages(ids):
        return spark.createDataFrame(
            [(f"u{i % 50}",
              f"2024-03-01 00:{i % 60:02d}:00") for i in ids],
            "url string, ts_s string",
        ).select("url", F.col("ts_s").cast("timestamp").alias("warc_ts"))

    # micro-batch 1: ids 0..99 -> 50 distinct urls
    pages(range(100)).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    st = streaming.stream_pages(spark, src, schema)
    streaming.run_to_parquet(
        streaming.dedup_stream(st, ["url"]), out, ck
    )
    assert spark.read.parquet(out).count() == 50

    # micro-batch 2: ids 50..149 -> all urls seen before (u0..u49);
    # dedup state must survive the new availableNow run via the checkpoint
    pages(range(100, 200)).coalesce(1).write.mode("append").parquet(src)
    st2 = streaming.stream_pages(spark, src, schema)
    streaming.run_to_parquet(
        streaming.dedup_stream(st2, ["url"]), out, ck
    )
    back = spark.read.parquet(out)
    assert back.count() == 50
    assert back.select("url").distinct().count() == 50


def test_stream_fused_enrich_equals_batch(spark, tmp_path):
    """The WHOLE flagship pipeline (parse -> filter -> fused Arrow
    spatial+raster enrich) on a file stream equals the batch result on the
    same rows — mapInPandas with broadcast indexes is stateless, so the
    operator graph carries over unchanged."""
    import __spark_entry__ as entrymod
    from ot_spark.benchdata import pages_range_df

    src = str(tmp_path / "pages_fused")
    batch_df = pages_range_df(spark, 600, partitions=2)
    batch_df.coalesce(2).write.parquet(src)

    stored = spark.read.parquet(src)
    st = streaming.stream_pages(spark, src, stored.schema)
    idx, ridx = entrymod._admin_index(), entrymod._raster_index()
    enriched = streaming.enrich_stream_fused(st, idx, ridx)
    streaming.run_to_memory(enriched, "fused_stream", str(tmp_path / "ckf"))

    cols = [
        c for c in spark.table("fused_stream").columns
        if c in ("doc_id", "grid_cell", "admin_key", "elev", "raster_id")
        or c.startswith(("s2_", "h3_"))
    ]
    assert "doc_id" in cols and len(cols) >= 5
    # doc_id is unique — sort on it alone (other columns can be NULL)
    got = sorted(
        (tuple(r) for r in spark.table("fused_stream").select(*cols).collect()),
        key=lambda t: t[cols.index("doc_id")],
    )
    want = sorted(
        (
            tuple(r)
            for r in streaming.enrich_stream_fused(stored, idx, ridx)
            .select(*cols)
            .collect()
        ),
        key=lambda t: t[cols.index("doc_id")],
    )
    assert got == want and len(got) > 0
