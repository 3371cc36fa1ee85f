"""Structured Streaming surface.

The reference is a batch tool (SURVEY §2.7: no streaming operators), and
the graft's resumability requirement is met by lineage checkpointing
(ot_spark.lineage).  This module makes the same operators available on
unbounded inputs — the Spark-native growth path a Common-Crawl-style feed
actually uses:

- ``stream_pages``: file-source readStream over a pages directory (new
  parquet files = new micro-batch; exactly-once with checkpointing);
- ``enrich_stream``: the SAME operators (attribute filter, tag
  projection, grid cell, admin lookup UDF) applied to a streaming frame —
  they are stateless projections/filters/Arrow maps, legal in streams
  as-is;
- ``windowed_cell_counts``: event-time tumbling-window counts per grid
  cell with a watermark for late data;
- ``sessionize_stream``: custom stateful operator via
  ``applyInPandasWithState`` — per-user session assignment with a gap
  timeout whose state (last event time, session counter) survives across
  micro-batches and restarts (checkpointed).

Batch/stream parity is pinned by tests/test_streaming.py: the streaming
results (availableNow trigger -> memory sink) equal the batch operators
on the same data, including sessions split across two micro-batches.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType, IntegerType, LongType, StructField, StructType,
    TimestampNTZType, TimestampType,
)

from . import filters, spatial_join
from .area_index import AreaIndex
from .cells import grid_cell


def stream_pages(
    spark: SparkSession, pages_dir: str, schema: StructType
) -> DataFrame:
    """File-source stream: every new parquet file under ``pages_dir`` is
    ingested exactly once (offsets in the query checkpoint)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "64")
        .parquet(pages_dir)
    )


def enrich_stream(
    stream: DataFrame,
    area_index: AreaIndex | None = None,
    tile_size: float = 1.0,
) -> DataFrame:
    """Stateless slice of the batch pipeline, unchanged on a stream:
    complex filter -> tag projection -> grid cell -> admin lookup (the
    batch CellLookup pandas UDF, legal in streaming as-is)."""
    out = stream
    if "attrs" in out.columns:
        out = filters.complex_filter(out)
        out = filters.remove_tags(out)
    if area_index is not None:
        return spatial_join.enrich_with_admin(out, area_index)
    return out.withColumn("grid_cell", grid_cell(F.col("lat"), F.col("lon"), tile_size))


def enrich_stream_fused(
    stream: DataFrame, admin_index, raster_index
) -> DataFrame:
    """The FULL flagship enricher on an unbounded input: coordinate parse
    -> attribute filter -> tag projection -> fused Arrow spatial+raster
    enrichment (PIP refine + elevation lookup in ONE mapInPandas node with
    broadcast indexes).

    Everything here is stateless — map-side projections plus one Arrow
    node — so the batch operator graph is legal in Structured Streaming
    UNCHANGED, and each micro-batch executes the same fused single-stage
    plan the batch bench pins (zero shuffles, one Python node).
    Batch/stream parity for the whole flagship is pinned by
    tests/test_streaming.py::test_stream_fused_enrich_equals_batch."""
    from . import parse
    from .enrich_fused import spatial_enrich

    out = parse.with_coordinates(stream)
    out = filters.complex_filter(out)
    out = filters.remove_tags(out)
    return spatial_enrich(out, admin_index, raster_index)


def windowed_cell_counts(
    stream: DataFrame,
    ts_col: str = "warc_ts",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling window x grid cell counts; the watermark bounds
    state and admits late rows up to its horizon."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("grid_cell"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "grid_cell",
            "n_pages",
        )
    )


_SESSION_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("session_no", LongType()),
    ]
)
_SESSION_STATE = StructType(
    [
        StructField("last_es", LongType()),
        StructField("session_no", LongType()),
    ]
)


def _session_fn(gap_sec: int):
    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        last_es, session_no = state.get if state.exists else (None, 0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["es", "event_id"])
        out_sessions = []
        for es in rows["es"]:
            if last_es is None or es - last_es > gap_sec:
                session_no += 1
            last_es = int(es)
            out_sessions.append(session_no)
        state.update((last_es, session_no))
        yield pd.DataFrame(
            {
                "user_id": key[0],
                "event_id": rows["event_id"].to_numpy(),
                "session_no": out_sessions,
            }
        )

    return fn


def sessionize_stream(
    events: DataFrame, gap_sec: int = 1800
) -> DataFrame:
    """Stateful streaming sessionization (the batch q_sessionize analog):
    per-user session numbers assigned incrementally; state = (last event
    epoch, session counter) carried across micro-batches via
    applyInPandasWithState."""
    prepared = events.select(
        "user_id", "event_id", F.unix_timestamp(F.col("ts")).alias("es")
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_sec),
        outputStructType=_SESSION_OUT,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "warc_ts",
    late_horizon: str = "1 hour",
) -> DataFrame:
    """Streaming EXACT dedup: the first occurrence of a key passes, every
    later one is dropped — across micro-batches and restarts (the dedup
    keys live in checkpointed state).

    ``dropDuplicatesWithinWatermark`` bounds the state: a key is remembered
    for ``late_horizon`` of event time, the window a crawl feed's
    re-fetches actually arrive in; unbounded ``dropDuplicates`` state would
    grow forever at 10^12 docs.  Content dedup = pass a content-hash column
    (e.g. ``xxhash64(text)``) as the key."""
    key_cols = key_cols or ["url"]
    wm = stream.withWatermark(ts_col, late_horizon)
    return wm.dropDuplicatesWithinWatermark(key_cols)


def clean_stream(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    late_horizon: str = "1 hour",
) -> DataFrame:
    """The FULL corpus-cleaning pipeline (quality + repetition + langid
    gates + exact content dedup) on an unbounded input — what a continuous
    crawl feed runs instead of the batch ``corpus_clean``.

    The per-document features are the SAME stateless Column algebra the
    batch operator uses (``clean_features`` — one tokenizer evaluation,
    narrow projection), so they are stream-legal as-is.  The one semantic
    shift is the dedup keeper: batch keeps the LOWEST doc_id of a content
    group; a stream cannot see the future, so the FIRST ARRIVAL wins,
    with ``dropDuplicatesWithinWatermark`` bounding the content-hash state
    to ``late_horizon`` of event time.  Gates run BEFORE the dedup state,
    so rejected documents never occupy state.  Batch/stream parity on
    arrival-ordered input is pinned by tests/test_streaming.py."""
    from .webtext.curate import OUT_COLS, clean_features, gate_condition

    feats = clean_features(
        stream.withWatermark(ts_col, late_horizon), text_col, keep_cols=(ts_col,)
    )
    gated = feats.where(gate_condition())
    deduped = gated.dropDuplicatesWithinWatermark(["__hash"])
    return deduped.select(*OUT_COLS)


def run_to_memory(
    stream: DataFrame, name: str, checkpoint: str, complete: bool = False
) -> None:
    """Drain everything currently available into an in-memory table
    (availableNow trigger), blocking until done — the test/demo sink.
    NOTE: the memory sink cannot RESUME from a checkpoint; use
    :func:`run_to_parquet` when state must carry across restarts."""
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if complete else "append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_parquet(stream: DataFrame, out_dir: str, checkpoint: str) -> None:
    """Drain to a parquet sink (supports checkpoint recovery — re-running
    with the same checkpoint resumes offsets AND operator state)."""
    q = (
        stream.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_ASOF_OUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("warc_epoch", LongType()),
        StructField("rev", IntegerType()),
        StructField("content_sig", LongType()),
        StructField("is_deleted", BooleanType()),
    ]
)
_ASOF_STATE = StructType(
    [
        StructField("warc_epoch", LongType()),
        StructField("rev", IntegerType()),
        StructField("content_sig", LongType()),
        StructField("is_deleted", BooleanType()),
    ]
)


def _latest_wins_fn():
    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        best = tuple(state.get) if state.exists else None
        for pdf in pdfs:
            for t in pdf[
                ["warc_epoch", "rev", "content_sig", "is_deleted"]
            ].itertuples(index=False):
                cand = (int(t[0]), int(t[1]), int(t[2]), bool(t[3]))
                if best is None or cand[:2] > best[:2]:
                    best = cand
        state.update(best)
        yield pd.DataFrame(
            {
                "doc_id": [key[0]],
                "warc_epoch": [best[0]],
                "rev": [best[1]],
                "content_sig": [best[2]],
                "is_deleted": [best[3]],
            }
        )

    return fn


def latest_wins_stream(revs: DataFrame) -> DataFrame:
    """Streaming twin of crawldiff.latest_snapshot: per-page
    latest-revision-wins upsert over an unbounded, possibly OUT-OF-ORDER
    crawl feed.  State per key = the winning (warc_epoch, rev,
    content_sig, is_deleted); each micro-batch emits the current winner
    for every key it touched — an append-mode CDC log of upsert records
    (a file sink collects it; the consumer applies last-writer-wins).
    Winners only ever advance, so the max-(warc_epoch, rev) row per key
    across ALL emitted output equals the batch as-of state over the same
    log — the parity tests/test_round6.py pins, including across a
    checkpoint restart.

    State here never expires (a page can always be re-crawled); a
    deployment that bounds state can swap NoTimeout for an event-time
    timeout at its re-crawl horizon, accepting that a key quiet longer
    than the horizon re-enters as 'new'."""
    return revs.groupBy("doc_id").applyInPandasWithState(
        _latest_wins_fn(),
        outputStructType=_ASOF_OUT,
        stateStructType=_ASOF_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def bloom_stream(
    stream: DataFrame, keys: list[str] | None = None, item_col: str = "url"
) -> DataFrame:
    """Streaming Bloom "seen-URL" registers: the batch builder's exact
    aggregation (webtext/sketch.py::bloom_build) run as a streaming
    aggregation — each micro-batch ORs its word contributions into the
    per-key state, so the filter stays current across an unbounded
    crawl feed and survives restarts (state is checkpointed).

    State shape is the whole point: 8 BIGINTs (64 bytes of checkpointed
    state holding 8x32-bit registers) per key —
    bounded by HOST cardinality, never URL count — and bit_or is
    commutative/idempotent, so replayed micro-batches after a restart
    cannot corrupt a register.  Emit in update/complete mode; the
    downstream probe joins the latest register row per key exactly like
    the batch bloom_probe.  Batch/stream parity on the same rows is
    pinned by tests/test_round6.py.
    """
    from .webtext.sketch import bloom_build

    return bloom_build(stream, keys or ["host"], item_col)
