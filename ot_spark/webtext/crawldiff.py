"""Crawl-snapshot operators: as-of selection and snapshot-to-snapshot CDC.

Common Crawl re-crawls pages across monthly snapshots; every consumer of
the `(url, warc_ts, html, text, lang)` table (BASELINE.json input_hint)
needs two primitives the reference pipeline implies but Spark lacks as
built-ins:

- **as-of selection** (`latest_snapshot`): the latest live revision of
  every page at a cutoff time — the "which crawl wins" dedup that runs
  before any content operator.  Reference analog: osm-transform consumes
  a single .osm.pbf snapshot; planet-diff consumers apply replication
  diffs to reach an as-of state (public osmosis semantics).
- **crawl delta** (`crawl_delta`): classify every url between two cutoffs
  as added / removed / changed / unchanged — the CDC feed an incremental
  re-process consumes so 100 TB is not re-tokenized when 2% changed.

Scale shape (100 TB):
- `latest_snapshot` is ONE partial-aggregable shuffle: `groupBy(key).agg(
  max(struct(warc_epoch, rev, ...)))` — struct max orders by warc_epoch
  first, so map-side combine keeps one candidate row per key per
  partition.  No window sort, no secondary sort: the classic
  `row_number() over (partition by url order by ts desc) = 1` plan sorts
  every revision group; max-struct aggregates them.
- `crawl_delta` needs the latest state at BOTH cutoffs — but never joins:
  both as-of states come out of ONE scan and ONE shuffle as two
  conditional aggregates over the same group (`max(when(ts<=t1, s))`
  alongside `max(s)` over rows `<= t2`).  A self-join of two windowed
  snapshots — the textbook formulation — would scan and shuffle the
  revision log twice and add a join; the fused aggregate halves that.
  Tombstones ride along so "removed" needs no anti-join pass.

Keys are `doc_id` here (the gate's page identity); at 100 TB the key is
`xxhash64(canonical_url)` from urltools.canonicalize_url_col — same plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2025-01-01T00:00:00Z — the synthetic crawl epoch.
CRAWL_EPOCH = 1735689600
DAY = 86400

# Deterministic revision rules (mirrored verbatim in the DuckDB oracle):
#   n_rev(doc)        = 1 + doc_id % 3                  (1..3 revisions)
#   warc_epoch(doc,r) = CRAWL_EPOCH + (doc_id % 11)*DAY        (first crawl
#                       + r*DAY*(1 + doc_id % 5)               staggered, so
#                       "added" pages exist at any mid-corpus cutoff)
#   content_sig       = (doc_id*2654435761 + r*97*[doc_id%6 != 1]) % p
#     (docs with doc_id%6==1 re-crawl byte-identical -> "unchanged")
#   is_deleted        = doc_id % 7 == 3 AND r == doc_id % 3
#     (the final revision is a tombstone: the page 404'd)
SIG_MOD = 1_000_000_007

# burst_hosts: a (host, day) bursts when its count exceeds BURST_FACTOR x
# the total of the trailing BURST_TRAIL_DAYS days and is >= BURST_MIN_COUNT
BURST_TRAIL_DAYS, BURST_FACTOR, BURST_MIN_COUNT = 3, 2, 3


def synthetic_revisions(docs: DataFrame) -> DataFrame:
    """Derive the multi-revision crawl log from the documents table —
    deterministic arithmetic only, so DuckDB derives the identical log
    (pagesview pattern).  Columns: doc_id, rev, warc_epoch, content_sig,
    is_deleted."""
    d = F.col("doc_id")
    rev = F.explode(F.sequence(F.lit(0), (d % 3).cast("int"))).alias("rev")
    out = docs.select(d.alias("doc_id"), rev)
    r = F.col("rev").cast("long")
    sig_step = F.when(d % 6 == 1, F.lit(0)).otherwise(r * 97)
    return out.select(
        "doc_id",
        "rev",
        (
            F.lit(CRAWL_EPOCH) + (d % 11) * DAY + r * DAY * (1 + d % 5)
        ).alias("warc_epoch"),
        ((d * 2654435761 + sig_step) % SIG_MOD).alias("content_sig"),
        ((d % 7 == 3) & (r == d % 3)).alias("is_deleted"),
    )


def _latest_state(revs: DataFrame, as_of_epoch: int) -> DataFrame:
    """Latest revision per key at the cutoff, tombstones INCLUDED —
    the internal state `crawl_delta` diffs.  One shuffle, map-side
    combinable (max over a struct ordered by warc_epoch, rev)."""
    s = F.struct(
        F.col("warc_epoch"), F.col("rev"),
        F.col("content_sig"), F.col("is_deleted"),
    )
    return (
        revs.where(F.col("warc_epoch") <= as_of_epoch)
        .groupBy("doc_id")
        .agg(F.max(s).alias("s"))
        .select(
            "doc_id",
            F.col("s.warc_epoch").alias("warc_epoch"),
            F.col("s.rev").alias("rev"),
            F.col("s.content_sig").alias("content_sig"),
            F.col("s.is_deleted").alias("is_deleted"),
        )
    )


def latest_snapshot(revs: DataFrame, as_of_epoch: int) -> DataFrame:
    """The as-of view: latest LIVE revision of every page at the cutoff
    (pages whose latest revision is a tombstone are absent — they 404'd).
    Columns: doc_id, warc_epoch, rev, content_sig."""
    return (
        _latest_state(revs, as_of_epoch)
        .where(~F.col("is_deleted"))
        .drop("is_deleted")
    )


def _status(old_deleted: Column, new_deleted: Column,
            old_sig: Column, new_sig: Column) -> Column:
    old_live = old_deleted.isNotNull() & ~old_deleted
    new_live = new_deleted.isNotNull() & ~new_deleted
    return (
        F.when(~old_live & new_live, F.lit("added"))
        .when(old_live & ~new_live, F.lit("removed"))
        .when(old_live & new_live & (old_sig != new_sig), F.lit("changed"))
        .when(old_live & new_live, F.lit("unchanged"))
        .otherwise(F.lit(None).cast("string"))  # dead on both sides
    )


def crawl_delta(revs: DataFrame, t1_epoch: int, t2_epoch: int) -> DataFrame:
    """CDC between two as-of states: for every key live at either cutoff,
    status in {added, removed, changed, unchanged}.  Keys dead at both
    cutoffs (tombstoned before t1) are dropped.  Columns: doc_id, status,
    old_sig, new_sig (sigs NULL on the side where the page is not live).

    Single-pass plan: one scan of the revision log, one shuffle, NO join —
    `max` skips the NULLs `when()` produces, so the t1 state is a
    conditional aggregate computed alongside the t2 state in the same
    group (plan-guarded in tests/test_round6.py).  The DuckDB oracle
    keeps the independent two-snapshot FULL OUTER JOIN formulation, so
    the fused plan is cross-checked against the textbook one."""
    s = F.struct(
        F.col("warc_epoch"), F.col("rev"),
        F.col("content_sig"), F.col("is_deleted"),
    )
    agg = (
        revs.where(F.col("warc_epoch") <= t2_epoch)
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("warc_epoch") <= t1_epoch, s)).alias("o"),
            F.max(s).alias("n"),
        )
    )
    status = _status(
        F.col("o.is_deleted"), F.col("n.is_deleted"),
        F.col("o.content_sig"), F.col("n.content_sig"),
    )
    live = lambda side: (  # noqa: E731
        F.when(
            F.col(f"{side}.is_deleted").isNotNull()
            & ~F.col(f"{side}.is_deleted"),
            F.col(f"{side}.content_sig"),
        )
    )
    return (
        agg.select(
            "doc_id",
            status.alias("status"),
            live("o").alias("old_sig"),
            live("n").alias("new_sig"),
        )
        .where(F.col("status").isNotNull())
    )


def burst_hosts(revs: DataFrame, host: Column) -> DataFrame:
    """Crawl-activity burst detection per host: flag (host, day) cells
    whose page count exceeds ``BURST_FACTOR`` x the trailing
    ``BURST_TRAIL_DAYS``-day total — the recrawl-scheduler signal ("this
    site just published a lot; crawl it sooner").

    Integer-exact throughout (counts and a multiply — no float z-score),
    so the DuckDB oracle matches bit-for-bit.  The trailing window is a
    RANGE frame over the day number, not ROWS — days with zero crawls
    are simply absent, and a ROWS frame would silently reach past the
    gap into older days.

    Distributed shape, two exchanges that carry (host, day) cells, not
    pages: one partial-aggregable groupBy(host, day) count, then the
    range window partitioned by host.  At 10^12 pages the first
    exchange's output is bounded by hosts x days — dimension-sized.

    Returns (host, day, cnt, prev, is_burst): day is days since the
    crawl epoch, prev the trailing total (0 when no history), and
    is_burst = cnt > BURST_FACTOR * prev AND cnt >= BURST_MIN_COUNT (the
    floor keeps one-page hosts from flagging on their first crawl).
    """
    from pyspark.sql import Window

    cells = (
        revs.select(
            host.alias("host"),
            # FLOOR-division day cell, integer-exact: subtracting the
            # pmod remainder before DIV floors for negative offsets too,
            # matching the oracle's // semantics (r6 advice: plain DIV
            # truncates toward zero, so pre-epoch timestamps would land
            # in different cells than the oracle's).  For epoch >=
            # CRAWL_EPOCH the two are identical, so fixture outputs are
            # unchanged.
            F.expr(
                f"((warc_epoch - {CRAWL_EPOCH})"
                f" - pmod(warc_epoch - {CRAWL_EPOCH}, {DAY})) DIV {DAY}"
            ).alias("day"),
        )
        .groupBy("host", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = (
        Window.partitionBy("host")
        .orderBy("day")
        .rangeBetween(-BURST_TRAIL_DAYS, -1)
    )
    prev = F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long")
    return cells.select(
        "host", "day", "cnt",
        prev.alias("prev"),
        (
            (F.col("cnt") > BURST_FACTOR * prev)
            & (F.col("cnt") >= BURST_MIN_COUNT)
        ).alias("is_burst"),
    )
