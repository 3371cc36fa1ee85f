"""Table gate queries: TPC-H style aggregates and joins, windowed event
queries, and the lineage, snapshot and splitting-sink write paths."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gate_queries.common import _read, _scratch_dir
from ot_spark import pagesview
from ot_spark.cells import grid_cell, grid_cell_sql


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 referenced-id semi-join shape (collect.rs + IdFilter) on TPC-H
    tables: customers referenced by high-value orders."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ref_ids = (
        orders.where(F.col("o_totalprice") > 150000)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return cust.join(ref_ids, "c_custkey", "left_semi").select("c_custkey")


SEMI_JOIN_ORACLE_SQL = (
    "SELECT c_custkey FROM customer WHERE EXISTS ("
    "SELECT 1 FROM orders WHERE o_custkey = c_custkey "
    "AND o_totalprice > 150000)"
)


def q_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2-style aggregation (TPC-H Q1 shape) with map-side partials."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


AGG_LINEITEM_ORACLE_SQL = (
    "SELECT l_returnflag, l_linestatus, "
    "CAST(sum(l_quantity) AS BIGINT) AS sum_qty, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
    "CAST(count(*) AS BIGINT) AS n_rows "
    "FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus"
)


def q_minmax_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 MinMaxIdCollector (collect.rs:94-212): min/max split by sign."""
    df = pagesview.pages_df(spark, sf_dir).select(
        (F.col("doc_id") * 7 % 1000 - 500).alias("sid")
    )
    return df.agg(
        F.min(F.when(F.col("sid") > 0, F.col("sid"))).alias("min_pos"),
        F.max(F.when(F.col("sid") > 0, F.col("sid"))).alias("max_pos"),
        F.min(F.when(F.col("sid") < 0, F.col("sid"))).alias("min_neg"),
        F.max(F.when(F.col("sid") < 0, F.col("sid"))).alias("max_neg"),
    )


MINMAX_IDS_ORACLE_SQL = (
    "WITH s AS (SELECT (doc_id * 7) % 1000 - 500 AS sid FROM documents) "
    "SELECT min(CASE WHEN sid > 0 THEN sid END) AS min_pos, "
    "max(CASE WHEN sid > 0 THEN sid END) AS max_pos, "
    "min(CASE WHEN sid < 0 THEN sid END) AS min_neg, "
    "max(CASE WHEN sid < 0 THEN sid END) AS max_neg FROM s"
)


def _half_then_full(spark: SparkSession, sf_dir: str, name: str):
    """Shared set-up of the write-twice integrity queries (lineage_resume,
    snapshot_read): (out dir, lineage path, the pages' (doc_id, grid_cell)
    frame, the half of it in buckets < 32), under a fresh scratch dir.

    Bench mode caps the input: these queries' bench cost is /tmp I/O of
    two full materializations, not operator cost, and the page-cache churn
    perturbs the queries timed after them (VERDICT r3).  bench.py sets
    SPARK_GRAFT_WRITE_QUERY_CAP; the correctness gate never does, so
    oracles see full data."""
    from ot_spark import lineage as lin

    base = _scratch_dir(name)
    df = pagesview.pages_df(spark, sf_dir)
    cap = os.environ.get("SPARK_GRAFT_WRITE_QUERY_CAP")
    if cap:
        df = df.where(F.col("doc_id") < int(cap))
    df = df.select(
        "doc_id", grid_cell(F.col("lat"), F.col("lon"), 1.0).alias("grid_cell")
    )
    half = (
        lin.with_bucket(df)
        .where(F.col(lin.BUCKET_COL) < 32)
        .drop(lin.BUCKET_COL)
    )
    return f"{base}/out", f"{base}/lineage", df, half


def q_lineage_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 resumability: interrupted write (half the buckets) + resume must
    produce each row exactly once; returns per-bucket counts."""
    from ot_spark import lineage as lin

    out_dir, lin_path, df, half = _half_then_full(spark, sf_dir, "lineage")
    # snapshot=False: this query pins RESUME semantics; the snapshot layer
    # has its own gate query (snapshot_read)
    lin.write_with_lineage(
        half, out_dir, lin_path, key_cols=["doc_id"], snapshot=False
    )
    lin.write_with_lineage(
        df, out_dir, lin_path, key_cols=["doc_id"], snapshot=False
    )
    back = lin.read_current(spark, out_dir, lin_path)
    return back.groupBy(F.col(lin.BUCKET_COL).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )


def lineage_resume_oracle_sql() -> str:
    cell_sql = grid_cell_sql(pagesview.LAT_SQL, pagesview.LON_SQL)
    return f"""
SELECT coalesce(CAST({cell_sql} % 64 AS INTEGER), -1) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows
FROM documents GROUP BY 1
"""


def q_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-spirit snapshot surface: two commits (half the buckets, then
    the rest), then a TIME-TRAVEL read as of snapshot 1 — per-bucket counts
    must reflect only the first commit's membership, and the snapshot-pinned
    audit of snapshot 2 must come back clean."""
    from ot_spark import lineage as lin

    out_dir, lin_path, df, half = _half_then_full(spark, sf_dir, "snapshot")
    info1 = lin.write_with_lineage(half, out_dir, lin_path, key_cols=["doc_id"])
    info2 = lin.write_with_lineage(df, out_dir, lin_path, key_cols=["doc_id"])
    assert info1["snapshot_id"] == 1 and info2["snapshot_id"] == 2
    # snapshot-pinned audit: the state recorded at snap 2 is intact on disk
    assert lin.audit_snapshot(spark, out_dir, 2, ["doc_id"]).count() == 0
    back = lin.read_as_of(spark, out_dir, 1)
    return back.groupBy(F.col(lin.BUCKET_COL).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )


def snapshot_read_oracle_sql() -> str:
    cell_sql = grid_cell_sql(pagesview.LAT_SQL, pagesview.LON_SQL)
    return f"""
SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows FROM (
  SELECT coalesce(CAST({cell_sql} % 64 AS INTEGER), -1) AS bucket
  FROM documents
) WHERE bucket < 32 GROUP BY 1
"""


def q_splitting_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 splitting sink (/root/reference/src/output.rs:59-129): write nodes
    (including late split nodes), ways, and relations through the
    range-sorted sink, read the files back, and return each row's PHYSICAL
    position — derived from (file path, in-file order), NOT from re-sorting —
    so the oracle's ORDER-BY row_number genuinely checks that the sink
    restored global node -> way -> relation order on disk."""
    from pyspark.sql import Window

    from ot_spark import pipeline

    base = _scratch_dir("splitsink")
    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def key(prefix: str, expr: F.Column) -> F.Column:
        return F.concat(F.lit(prefix), F.lpad(expr.cast("string"), 12, "0"))

    nodes = docs.where(F.col("doc_id") % 3 == 0).select(
        key("n", F.col("doc_id")).alias("key")
    )
    # "late" split nodes: ids above HIGHEST_NODE_ID, appended after ways
    # started streaming (the reason the reference needs two files + concat)
    split_nodes = docs.where(F.col("doc_id") % 50 == 1).select(
        key("split", F.col("doc_id") + F.lit(50000000000)).alias("key")
    )
    ways = docs.where(F.col("doc_id") % 3 == 1).select(
        key("w", F.col("doc_id")).alias("key")
    )
    rels = docs.where(F.col("doc_id") % 3 == 2).select(
        key("r", F.col("doc_id")).alias("key")
    )
    pipeline.splitting_sink(
        {
            "node": nodes.unionByName(split_nodes),
            "way": ways,
            "relation": rels,
        },
        base,
        order_key="key",
    )
    # physical order: files come out of the range-sorted write as
    # part-00000..part-NNNNN in ascending range order; within a file the
    # scan preserves row order (monotonically_increasing_id ascends within
    # a scan task).  Global window is gate-scale only.
    back = spark.read.parquet(base).select(
        "type_rank",
        "key",
        F.col("_metadata.file_path").alias("__f"),
        F.monotonically_increasing_id().alias("__m"),
    )
    w = Window.orderBy("__f", "__m")
    return back.select(
        F.row_number().over(w).cast("long").alias("rn"),
        F.col("type_rank").cast("int").alias("type_rank"),
        "key",
    )


SPLITTING_SINK_ORACLE_SQL = """
WITH u AS (
  SELECT 0 AS type_rank,
         'n' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS key
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT 0, 'split' || lpad(CAST(doc_id + 50000000000 AS VARCHAR), 12, '0')
  FROM documents WHERE doc_id % 50 = 1
  UNION ALL
  SELECT 1, 'w' || lpad(CAST(doc_id AS VARCHAR), 12, '0')
  FROM documents WHERE doc_id % 3 = 1
  UNION ALL
  SELECT 2, 'r' || lpad(CAST(doc_id AS VARCHAR), 12, '0')
  FROM documents WHERE doc_id % 3 = 2
)
SELECT CAST(row_number() OVER (ORDER BY type_rank, key) AS BIGINT) AS rn,
       CAST(type_rank AS INTEGER) AS type_rank, key
FROM u
"""


def q_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed rank: top-3 orders per customer by price (SURVEY §2.5
    sorts/limits family)."""
    from pyspark.sql import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


TOPN_ORACLE_SQL = """
SELECT o_custkey, o_orderkey, rnk FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
) WHERE rnk <= 3
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (grouping-sets family; absent in the reference,
    table-stakes for the engine)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


ROLLUP_ORACLE_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization over the events stream table: 30-min-gap session ids
    via lag + running sum (stateful-streaming analog, batch form)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Spark 4 forbids CAST(timestamp_ntz AS BIGINT); unix_timestamp() is the
    # supported epoch-seconds path (session TZ is UTC in ot_spark.session,
    # matching the oracle's floor(epoch(ts))).
    es = F.unix_timestamp(F.col("ts"))
    gap = es - F.lag(es).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = F.sum(new_sess).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    df = ev.select("user_id", "event_id", sess.alias("session_no"))
    return (
        df.groupBy("user_id", "session_no")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


SESSIONIZE_ORACLE_SQL = """
WITH g AS (
  SELECT user_id, event_id,
         CASE WHEN es - lag(es) OVER w IS NULL
                OR es - lag(es) OVER w > 1800
              THEN 1 ELSE 0 END AS new_sess, ts
  FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events) e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_id,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_no
  FROM g
)
SELECT user_id, session_no, CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_no
"""


def q_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window counts (oracle = DuckDB time_bucket)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "10 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events")
    )


WINDOWED_COUNTS_ORACLE_SQL = (
    "SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start, "
    "event_type, CAST(count(*) AS BIGINT) AS n_events "
    "FROM events GROUP BY 1, 2"
)
