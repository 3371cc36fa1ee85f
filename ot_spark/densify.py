"""Segment densification / way splitting (reference WaySplitter +
BufferingElevationEnricher::handle_way).

Semantics (/root/reference/src/handler/interpolate.rs:39-61 +
src/handler/geotiff.rs:527-587):

- per consecutive ref pair (from, to):
  ``n = ceil(max(|dlat|/res_lat, |dlon|/res_lon, 1.0))``; intermediate
  points at ``from + i*delta/n`` for i in 1..n-1 (n-1 points);
- each intermediate gets an elevation lookup, missing -> 0.0
  (geotiff.rs:559 ``unwrap_or(0.0)``);
- an intermediate becomes a real node iff
  ``|ele_i - (ele_{i-1} + ele_{i+1})/2| >= threshold`` where neighbors are
  the RAW sequence neighbors including the segment endpoints
  (geotiff.rs:561-568), endpoints' elevation defaulting to 0.0 likewise;
- new nodes get ids ``50_000_000_000 + 1, +2, ...`` in way/segment/position
  order (src/handler.rs:22 HIGHEST_NODE_ID contract, verified by the
  reference integration test expecting 50000000001);
- the way's refs are rewritten with kept node ids spliced between the
  segment endpoints (geotiff.rs:580-582).

Spark shape: explode refs with position -> ONE join against the node table
for coordinates (the reference's node_cache hash map, geotiff.rs:463-477 —
never a driver-side map here) -> lead() window for segment pairs ->
``posexplode(sequence(...))`` generates intermediates declaratively ->
one three-point elevation lookup (``raster.make_lookup3``) for the
threshold test -> row_number for the id contract.

Scale note: the only global ordering is the id assignment; row_number over
an unpartitioned window serializes. ``assign_split_ids`` therefore offers
mode='contract' (exact reference ids, test/parity path) and mode='scale'
(deterministic hash-free ids via per-partition offsets computed from a
count-by-partition pass — no single-partition shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .raster import RasterIndex, make_lookup3

SPLIT_ID_OFFSET = 50_000_000_000


def explode_segments(links: DataFrame, nodes: DataFrame) -> DataFrame:
    """links.refs ⨝ nodes -> one row per consecutive segment with both
    endpoint coordinates (+ elevation if present).

    Consecutive (from, to) ref pairs are built directly from the refs array
    (``arrays_zip`` of two ``slice``s) BEFORE the explode — the refs already
    sit adjacent in one array cell, so pairing them through a
    lag/lead-style window (explode -> Exchange(link) -> Sort -> lead) paid a
    full shuffle+sort of the exploded ref stream for information the array
    cell alreadly held (guide §2.4).  Coordinates then attach with one
    equi-join per endpoint against the SAME projected node frame — the two
    joins share the node-side exchange (ReuseExchange) when the planner
    shuffles, and no exchange at all when it broadcasts.  Node urls are
    unique by contract (the reference's node cache is a hash map keyed by
    id, geotiff.rs:463-477), which both the window and join forms require."""
    has_elev = "elev" in nodes.columns
    node_cols = ["url", "lat", "lon"] + (["elev"] if has_elev else [])
    node_side = nodes.select(*node_cols)
    if not has_elev:
        node_side = node_side.withColumn("elev", F.lit(None).cast("double"))
    # greatest(0): slice() raises on negative length for empty refs arrays
    n_pairs = F.greatest(F.size(F.col("refs")) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(F.col("refs"), F.lit(1), n_pairs),
        F.slice(F.col("refs"), F.lit(2), n_pairs),
    )
    seg = links.select(
        "link_id", F.posexplode(pairs).alias("pos", "_pair")
    ).select(
        "link_id",
        "pos",
        F.col("_pair")["0"].alias("from_url"),
        F.col("_pair")["1"].alias("to_url"),
    )
    frm = node_side.select(
        F.col("url").alias("from_url"),
        F.col("lat").alias("from_lat"),
        F.col("lon").alias("from_lon"),
        F.col("elev").alias("from_elev"),
    )
    to = node_side.select(
        F.col("url").alias("to_url"),
        F.col("lat").alias("to_lat"),
        F.col("lon").alias("to_lon"),
        F.col("elev").alias("to_elev"),
    )
    seg = seg.join(frm, "from_url", "left").join(to, "to_url", "left")
    return seg.select(
        "link_id", "pos", "from_url", "from_lat", "from_lon", "from_elev",
        "to_url", "to_lat", "to_lon", "to_elev",
    )


def interpolate(
    segments: DataFrame,
    res_lon: float,
    res_lat: float,
    carry_coords: bool = False,
) -> DataFrame:
    """Generate intermediate points (i in 1..n-1) per segment — pure Column
    arithmetic, ``posexplode(sequence)``. Segments with unknown endpoint
    coordinates are skipped (reference: trace + continue,
    geotiff.rs:545-548).  ``carry_coords`` additionally keeps the raw
    endpoint coordinates (from_lat/from_lon/to_lat/to_lon) so the fused
    split-threshold path can re-derive neighbor points arithmetically."""
    n = F.ceil(
        F.greatest(
            F.abs(F.col("to_lat") - F.col("from_lat")) / F.lit(res_lat),
            F.abs(F.col("to_lon") - F.col("from_lon")) / F.lit(res_lon),
            F.lit(1.0),
        )
    ).cast("int")
    good = (
        F.col("from_lat").isNotNull()
        & F.col("to_lat").isNotNull()
        & F.col("from_lon").isNotNull()
        & F.col("to_lon").isNotNull()
    )
    seg = segments.withColumn("n", F.when(good, n))
    seg = seg.withColumn(
        "idx",
        F.when(
            F.col("n") > 1, F.sequence(F.lit(1), F.col("n") - 1)
        ).otherwise(F.array().cast("array<int>")),
    )
    s_lat = (F.col("to_lat") - F.col("from_lat")) / F.col("n")
    s_lon = (F.col("to_lon") - F.col("from_lon")) / F.col("n")
    extra = (
        ["from_lat", "from_lon", "to_lat", "to_lon"] if carry_coords else []
    )
    return (
        seg.select(
            "link_id", "pos", "from_url", "to_url", "n",
            "from_elev", "to_elev", *extra,
            F.explode("idx").alias("i"),
            (F.col("from_lat") + F.col("i") * s_lat).alias("lat"),
            (F.col("from_lon") + F.col("i") * s_lon).alias("lon"),
        )
    )


def assign_split_ids(kept: DataFrame, mode: str = "contract") -> DataFrame:
    """Assign the reference's ``HIGHEST_NODE_ID + 1, +2, ...`` split-node ids
    (src/handler.rs:22, geotiff.rs:398-402; integration test pins 50000000001).

    mode='contract': row_number over one global window — exact, simple,
    single-task sort; the parity/test path.

    mode='scale': SAME ids without any single-task stage —
    ``repartitionByRange(order_cols)`` gives globally range-ordered
    partitions (parallel sort), a per-partition count pass yields cumulative
    offsets (one tiny collect: #partitions rows), and row_number runs inside
    each partition only.  The ranged frame is locally checkpointed so the
    count pass and the final pass see identical partitioning (range sampling
    is otherwise re-evaluated per action)."""
    order_cols = ("link_id", "pos", "i")
    cols = [F.col(c) for c in order_cols]
    if mode == "contract":
        w = Window.orderBy(*cols)
        return kept.withColumn(
            "node_id", F.row_number().over(w) + F.lit(SPLIT_ID_OFFSET)
        )
    if mode != "scale":
        raise ValueError(f"unknown id mode: {mode!r}")
    spark = kept.sparkSession
    parts = spark.sparkContext.defaultParallelism
    # Materialize the kept rows BEFORE range partitioning (guide §5):
    # repartitionByRange runs a sampling job over its input, so an
    # unmaterialized `kept` pays its full upstream (segment join, point
    # explode, raster lookup UDF) twice — once for the sample, once for the
    # shuffle.  The kept stream is the threshold-filtered tail (orders of
    # magnitude smaller than the point stream), so pinning it first makes
    # the sampling pass read a handful of cached blocks instead.
    kept = kept.localCheckpoint(eager=True)
    ranged = kept.repartitionByRange(parts, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # localCheckpoint (not persist): pins the range-sampled partitioning so
    # the count pass and the id pass see identical partitions, truncates
    # lineage, and — unlike an un-unpersisted cache, which the CacheManager
    # holds forever — its blocks are freed by the ContextCleaner once the
    # frame is garbage collected (round-2 advice: cache leak).
    ranged = ranged.localCheckpoint(eager=True)
    counts = sorted(
        (r["_pid"], r["n"])
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*cols)
    out = (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn(
            "node_id",
            F.row_number().over(w) + F.col("_off") + F.lit(SPLIT_ID_OFFSET),
        )
        .drop("_pid")
        .drop("_off")
    )
    return out


def split_ways(
    links: DataFrame,
    nodes: DataFrame,
    raster_index: RasterIndex | None,
    res_lon: float,
    res_lat: float,
    threshold: float,
    id_mode: str = "contract",
) -> tuple[DataFrame, DataFrame]:
    """Returns (new_nodes, rewritten_links).

    new_nodes: (node_id, url, link_id, pos, i, lat, lon, elev) — kept
    intermediates with contract ids 50e9+1....
    rewritten_links: links with refs arrays containing the spliced new ids.
    """
    segments = explode_segments(links, nodes)
    # Threshold test on each point and its two sequence neighbours: the
    # neighbours of ``from + i*step`` are ``from + (i±1)*step``, so one
    # Arrow crossing of six narrow numeric columns computes all three
    # elevations (numpy routing + gather) with no (link, pos) window sort.
    # Rounding/coalesce/threshold stay JVM-side.  With no raster every
    # elevation is NaN -> null, so only the endpoint fallbacks count.
    inter = interpolate(segments, res_lon, res_lat, carry_coords=True)
    lookup3 = make_lookup3(raster_index or RasterIndex([]), inter.sparkSession)
    s_lat = (F.col("to_lat") - F.col("from_lat")) / F.col("n")
    s_lon = (F.col("to_lon") - F.col("from_lon")) / F.col("n")
    inter = inter.withColumn(
        "_ev3",
        lookup3(
            F.col("from_lat"), F.col("from_lon"), s_lat, s_lon,
            F.col("i"), F.col("n"),
        ),
    )
    inter = inter.withColumn("elev", F.round(F.col("_ev3").getField("ev_c"), 2))
    inter = inter.withColumn("elev0", F.coalesce("elev", F.lit(0.0)))
    before = F.when(
        F.col("i") == 1, F.coalesce("from_elev", F.lit(0.0))
    ).otherwise(
        F.coalesce(F.round(F.col("_ev3").getField("ev_p"), 2), F.lit(0.0))
    )
    after = F.when(
        F.col("i") == F.col("n") - 1, F.coalesce("to_elev", F.lit(0.0))
    ).otherwise(
        F.coalesce(F.round(F.col("_ev3").getField("ev_n"), 2), F.lit(0.0))
    )
    kept = (
        inter.withColumn(
            "keep",
            F.abs(F.col("elev0") - (before + after) / F.lit(2.0))
            >= F.lit(threshold),
        )
        .where("keep")
        .drop("_ev3", "from_lat", "from_lon", "to_lat", "to_lon")
    )

    with_ids = assign_split_ids(
        kept, mode=id_mode
    )
    new_nodes = with_ids.select(
        "node_id", "link_id", "pos", "i", "lat", "lon",
        F.col("elev0").alias("elev"),
    ).withColumn("url", F.format_string("split:%d", F.col("node_id")))

    # splice: per (link, pos) ordered lists of new urls, then rebuild refs
    splice = (
        new_nodes.groupBy("link_id", "pos")
        .agg(F.sort_array(F.collect_list(F.struct("i", "url"))).alias("s"))
        .select("link_id", "pos", F.col("s.url").alias("new_urls"))
    )
    exploded = links.select(
        "link_id", F.posexplode("refs").alias("pos", "ref_url")
    ).join(splice, ["link_id", "pos"], "left")
    rebuilt = (
        exploded.withColumn(
            "chunk",
            F.concat(
                F.array("ref_url"),
                F.coalesce("new_urls", F.array().cast("array<string>")),
            ),
        )
        .groupBy("link_id")
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "chunk"))),
                    lambda st: st["chunk"],
                )
            ).alias("refs")
        )
    )
    rewritten = links.drop("refs").join(rebuilt, "link_id", "left")
    return new_nodes, rewritten
