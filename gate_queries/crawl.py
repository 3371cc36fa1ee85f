"""Crawl gate queries: URL tools, HTML text and link extraction, WARC
framing, crawl snapshots and deltas, fetch scheduling and host rollups."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gate_queries.common import (
    FAN_ROWS, _OFF_BOUNDARY_SQL, _SYNTH_URL_SQL, _admin_case_sql, _admin_index,
    _elevation_cases, _off_boundary_col, _raster_index, _read,
)
from ot_spark import pagesview
from ot_spark.enrich_fused import spatial_enrich


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + canonical-URL dedup (round 6): lowercase
    scheme/host, default-port and www stripping, utm_* removal, query
    sort, trailing-slash and fragment removal — pure JVM Column algebra
    over a deterministic synthetic URL (ot_spark/webtext/urltools.py),
    then ONE groupBy(canonical) exchange.  The first dedup of every
    crawl pipeline."""
    from ot_spark.webtext.urltools import url_dedup

    df = _read(spark, sf_dir, "documents", fan=FAN_ROWS)
    return url_dedup(df)


URL_DEDUP_ORACLE_SQL = f"""
WITH raw AS (
  SELECT doc_id,{_SYNTH_URL_SQL.rstrip()} AS url
  FROM documents
), nofrag AS (
  SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM raw
), parts AS (
  SELECT doc_id,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM nofrag
), hp AS (
  SELECT doc_id, scheme,
    regexp_extract(rest, '^([^/?#]+)', 1) AS hostport,
    substr(rest, length(regexp_extract(rest, '^([^/?#]+)', 1)) + 1) AS pathq
  FROM parts
), host1 AS (
  SELECT doc_id, scheme, pathq,
    regexp_replace(
      CASE
        WHEN scheme = 'https' AND lower(hostport) LIKE '%:443'
          THEN regexp_replace(lower(hostport), ':443$', '')
        WHEN scheme = 'http' AND lower(hostport) LIKE '%:80'
          THEN regexp_replace(lower(hostport), ':80$', '')
        ELSE lower(hostport)
      END, '^www\\.', '') AS host
  FROM hp
), pq AS (
  SELECT doc_id, scheme, host,
    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/$', '') AS path,
    substr(pathq, length(regexp_extract(pathq, '^([^?]*)', 1)) + 2) AS query
  FROM host1
), canon AS (
  SELECT doc_id,
    scheme || '://' || host || path ||
    (CASE WHEN length(cq) > 0 THEN '?' || cq ELSE '' END) AS canonical_url
  FROM (
    SELECT *, array_to_string(
      list_sort(list_filter(string_split(query, '&'),
                            p -> length(p) > 0 AND NOT starts_with(p, 'utm_'))),
      '&') AS cq
    FROM pq
  )
)
SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keeper
FROM canon GROUP BY canonical_url
"""


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-rule URL filter (round 6; urltools.robots_filter): RFC 9309
    longest-match semantics — per URL the longest matching prefix rule
    among its host's rules wins, allow beats deny on equal length,
    default allow.  Rules are a host-bounded dimension table (AQE decides
    the join); winner pick is one partial-aggregable max-struct exchange.
    The synthetic rule set (derived from doc_id < 50, one family per
    host) exercises deny, longer-allow-override and no-rule hosts; the
    oracle re-derives host/path arithmetically, independent of the URL
    parser it checks."""
    from ot_spark.webtext.urltools import robots_filter, synthetic_url_col

    docs = _read(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id", synthetic_url_col(F.col("doc_id")).alias("url")
    )
    host = F.concat(
        F.lit("site"), F.col("doc_id").cast("string"), F.lit(".org")
    )
    base = docs.where(F.col("doc_id") < 50)
    rules = (
        base.where(F.col("doc_id") % 2 == 0)
        .select(host.alias("host"), F.lit("/p/1").alias("prefix"),
                F.lit(False).alias("is_allow"))
        .unionByName(
            base.where(F.col("doc_id") % 4 == 0).select(
                host.alias("host"),
                F.concat(F.lit("/p/1"),
                         (F.col("doc_id") % 10).cast("string")).alias("prefix"),
                F.lit(True).alias("is_allow"),
            )
        )
        .unionByName(
            base.where(F.col("doc_id") % 5 == 0).select(
                host.alias("host"), F.lit("/p/7").alias("prefix"),
                F.lit(False).alias("is_allow"),
            )
        )
    )
    return robots_filter(urls, rules)


ROBOTS_FILTER_ORACLE_SQL = f"""
WITH u AS (
  SELECT doc_id,
         'site' || CAST(doc_id % 50 AS VARCHAR) || '.org' AS host,
         '/p/' || CAST(doc_id % 200 AS VARCHAR)
           || (CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END) AS path,
         {{url}} AS url
  FROM documents
), rules AS (
  SELECT 'site' || CAST(doc_id AS VARCHAR) || '.org' AS host,
         '/p/1' AS prefix, FALSE AS is_allow
  FROM documents WHERE doc_id < 50 AND doc_id % 2 = 0
  UNION ALL
  SELECT 'site' || CAST(doc_id AS VARCHAR) || '.org',
         '/p/1' || CAST(doc_id % 10 AS VARCHAR), TRUE
  FROM documents WHERE doc_id < 50 AND doc_id % 4 = 0
  UNION ALL
  SELECT 'site' || CAST(doc_id AS VARCHAR) || '.org', '/p/7', FALSE
  FROM documents WHERE doc_id < 50 AND doc_id % 5 = 0
), m AS (
  SELECT u.doc_id, r.prefix, r.is_allow,
         row_number() OVER (
           PARTITION BY u.doc_id
           ORDER BY length(r.prefix) DESC, r.is_allow DESC, r.prefix DESC
         ) AS rk
  FROM u JOIN rules r ON u.host = r.host AND starts_with(u.path, r.prefix)
), w AS (SELECT doc_id, prefix, is_allow FROM m WHERE rk = 1)
SELECT u.doc_id, u.url,
       coalesce(w.is_allow, TRUE) AS allowed,
       w.prefix AS rule_prefix
FROM u LEFT JOIN w ON u.doc_id = w.doc_id
""".replace("{url}", _SYNTH_URL_SQL)


# --- html_extract (round 6): one page template shared by the Spark builder
# and the DuckDB oracle so the two replays can never drift. Slots between
# the parts: source, source, text. Deliberately exercises every extraction
# stage: script/style element drop, comment drop, tag strip, all six
# entities, multi-whitespace collapse.
_HTML_TMPL_PARTS = (
    "<html><head><title>",
    '</title><script type="text/javascript">var q = 1 &amp;&amp; 2;</script>'
    "<style>p { color: #333 }</style></head><!-- boilerplate --><body><h1>",
    "</h1>\n  <p>",
    "</p><p>Q &amp; A &lt;escaped&gt;&nbsp;&quot;quoted&quot; &#39;s</p></body></html>",
)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> plain-text extraction (round 6; ot_spark/webtext/htmltext.py):
    the north_star's "byte-identical extracted text per url" derivation —
    WET-style script/style/comment drop, tag strip, entity decode,
    whitespace collapse, all chained JVM regexp_replace (map-only, zero
    shuffles, zero UDFs).  The page is built from the documents table so
    the oracle can replay the exact bytes; the binary decode path is
    exercised via encode(page, UTF-8)."""
    from ot_spark.webtext.htmltext import extract_text

    docs = _read(spark, sf_dir, "documents", fan=True)
    p = _HTML_TMPL_PARTS
    page = F.concat(
        F.lit(p[0]), F.col("source"), F.lit(p[1]), F.col("source"),
        F.lit(p[2]), F.col("text"), F.lit(p[3]),
    )
    return docs.select(
        "doc_id", extract_text(F.encode(page, "UTF-8")).alias("extracted")
    )


def html_extract_oracle_sql() -> str:
    from ot_spark.webtext.htmltext import oracle_extract_sql

    p = [s.replace("'", "''") for s in _HTML_TMPL_PARTS]
    page = (
        f"('{p[0]}' || source || '{p[1]}' || source || "
        f"'{p[2]}' || text || '{p[3]}')"
    )
    return f"SELECT doc_id, {oracle_extract_sql(page)} AS extracted FROM documents"


# --- link_extract (round 6): anchor template shared by both replays.
# Slots: target-1 id, target-2 id (deterministic doc_id arithmetic, the
# pagesview pattern). Exercises: fragment-only link (no edge), relative
# link (extracted, then filtered by the absolute-only predicate), a plain
# lowercase absolute link, and an uppercase <A HREF> with attribute noise,
# an entity-escaped query and a #fragment to strip.
_LINK_TMPL_PARTS = (
    '<html><body><p>see <a href="#top">top</a>, <a href="/rel/p">rel</a>, '
    '<a href="https://site',
    '.org/a">one</a> and <A CLASS="x" HREF="HTTPS://WWW.Site',
    '.ORG/b?utm_source=f&amp;q=1#frag">two</A></p></body></html>',
)


def q_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction from raw html (round 6; htmltext.extract_links):
    the crawl-graph front end that feeds url canonicalization and
    pagerank.  Per page: regexp_extract_all of double-quoted hrefs
    (fragment stripped at capture), explode, keep absolute http(s) links
    — one map-only pass plus the explode, no shuffles, no UDFs."""
    from ot_spark.webtext.htmltext import extract_links

    docs = _read(spark, sf_dir, "documents", fan=FAN_ROWS)
    p = _LINK_TMPL_PARTS
    page = F.concat(
        F.lit(p[0]), ((F.col("doc_id") * 3 + 1) % 1000).cast("string"),
        F.lit(p[1]), ((F.col("doc_id") * 7 + 3) % 1000).cast("string"),
        F.lit(p[2]),
    )
    links = docs.select(
        "doc_id", F.explode(extract_links(F.encode(page, "UTF-8"))).alias("href")
    )
    return links.where(F.lower(F.col("href")).startswith("http"))


def link_extract_oracle_sql() -> str:
    from ot_spark.webtext.htmltext import HREF_RE

    p = [s.replace("'", "''") for s in _LINK_TMPL_PARTS]
    page = (
        f"('{p[0]}' || CAST((doc_id*3+1) % 1000 AS VARCHAR) || "
        f"'{p[1]}' || CAST((doc_id*7+3) % 1000 AS VARCHAR) || '{p[2]}')"
    )
    return f"""
WITH x AS (
  SELECT doc_id,
         unnest(regexp_extract_all({page}, '{HREF_RE}', 1)) AS href
  FROM documents
)
SELECT doc_id, href FROM x WHERE lower(href) LIKE 'http%'
"""


def q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/1.0 record source (round 6; webtext/warc.py): each page's
    revision log serialized into Common Crawl's length-framed wire format
    (JVM Column algebra), then parsed back by the mapInArrow
    Content-Length framing walk.  Payloads for doc_id%13==0 EMBED the
    record marker, so a delimiter-split parser fails this gate.  The
    DuckDB oracle re-derives every record arithmetically — it never
    parses — so framing, header-order tolerance, and the ISO-date
    round-trip are all checked against an independent derivation."""
    from ot_spark.webtext.warc import parse_warc_records, synthetic_warc_blob

    docs = _read(spark, sf_dir, "documents", fan=FAN_ROWS)
    blobs = docs.select(
        "doc_id", synthetic_warc_blob(F.col("doc_id")).alias("warc")
    )
    return parse_warc_records(blobs)


WARC_PARSE_ORACLE_SQL = """
WITH base AS (
  SELECT doc_id, CAST(rev AS INT) AS rec_idx,
         1735689600 + (doc_id % 11) * 86400
           + rev * 86400 * (1 + doc_id % 5) AS warc_epoch,
         'rec:' || CAST(doc_id AS VARCHAR) || ':' || CAST(rev AS VARCHAR)
           || ':' ||
           CASE WHEN doc_id % 13 = 0 THEN 'WARC/1.0' || chr(13) || chr(10)
                ELSE repeat('x', CAST((doc_id + rev) % 17 AS INT)) END
           AS payload
  FROM (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS rev FROM documents)
)
SELECT doc_id, rec_idx,
       'https://site' || CAST(doc_id % 50 AS VARCHAR) || '.org/p/'
         || CAST(doc_id % 200 AS VARCHAR) AS target_uri,
       warc_epoch,
       CAST(length(payload) AS BIGINT) AS content_length,
       payload
FROM base
"""


def q_warc_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC sink (round 6; ot_spark/webtext/warc.py::write_warc_records):
    parse the synthetic blobs, serialize them back in canonical header
    order — map-side record strings, ONE groupBy(doc_id) exchange with
    sort_array(collect_list(struct)) ordering.  Byte-identical against
    a DuckDB replay of the canonical serialization (returned as UTF-8
    text so both engines hash the same value)."""
    from ot_spark.webtext.warc import (
        parse_warc_records, synthetic_warc_blob, write_warc_records,
    )

    docs = _read(spark, sf_dir, "documents", fan=FAN_ROWS)
    blobs = docs.select(
        "doc_id", synthetic_warc_blob(F.col("doc_id")).alias("warc")
    )
    out = write_warc_records(parse_warc_records(blobs))
    return out.select(
        "doc_id", F.decode(F.col("warc"), "UTF-8").alias("warc_text")
    )


WARC_WRITE_ORACLE_SQL = """
WITH base AS (
  SELECT doc_id, CAST(rev AS INT) AS rec_idx,
         1735689600 + (doc_id % 11) * 86400
           + rev * 86400 * (1 + doc_id % 5) AS warc_epoch,
         'https://site' || CAST(doc_id % 50 AS VARCHAR) || '.org/p/'
           || CAST(doc_id % 200 AS VARCHAR) AS target_uri,
         'rec:' || CAST(doc_id AS VARCHAR) || ':' || CAST(rev AS VARCHAR)
           || ':' ||
           CASE WHEN doc_id % 13 = 0 THEN 'WARC/1.0' || chr(13) || chr(10)
                ELSE repeat('x', CAST((doc_id + rev) % 17 AS INT)) END
           AS payload
  FROM (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS rev FROM documents)
),
recs AS (
  SELECT doc_id, rec_idx,
         'WARC/1.0' || chr(13) || chr(10)
         || 'WARC-Type: response' || chr(13) || chr(10)
         || 'WARC-Target-URI: ' || target_uri || chr(13) || chr(10)
         || 'WARC-Date: '
         || strftime(make_timestamp(warc_epoch * 1000000),
                     '%Y-%m-%dT%H:%M:%SZ') || chr(13) || chr(10)
         || 'Content-Length: ' || CAST(length(payload) AS VARCHAR)
         || chr(13) || chr(10) || chr(13) || chr(10)
         || payload || chr(13) || chr(10) || chr(13) || chr(10) AS rec
  FROM base
)
SELECT doc_id, string_agg(rec, '' ORDER BY rec_idx) AS warc_text
FROM recs GROUP BY doc_id
"""


def q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link graph (round 6): raw html -> extract_links ->
    host_col on both endpoints -> inter-host edge counts — the
    aggregation behind Common Crawl's published host-level webgraph.
    One explode + one groupBy shuffle on (src_host, dst_host); host
    parsing is the same JVM regex chain the canonicalizer uses, so the
    whole path stays inside codegen.  The DuckDB oracle re-derives every
    edge ARITHMETICALLY from doc_id (template k-values -> host strings),
    independent of the regex pipeline it checks."""
    from ot_spark.webtext.htmltext import extract_links
    from ot_spark.webtext.urltools import host_col, synthetic_url_col

    docs = _read(spark, sf_dir, "documents", fan=FAN_ROWS)
    p = _LINK_TMPL_PARTS
    page = F.concat(
        F.lit(p[0]), ((F.col("doc_id") * 3 + 1) % 1000).cast("string"),
        F.lit(p[1]), ((F.col("doc_id") * 7 + 3) % 1000).cast("string"),
        F.lit(p[2]),
    )
    links = docs.select(
        host_col(synthetic_url_col(F.col("doc_id"))).alias("src_host"),
        F.explode(extract_links(F.encode(page, "UTF-8"))).alias("href"),
    ).where(F.lower(F.col("href")).startswith("http"))
    return (
        links.select("src_host", host_col(F.col("href")).alias("dst_host"))
        .where(F.col("src_host") != F.col("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
    )


# Independent arithmetic re-derivation: the synthetic page template links
# to site{(3d+1)%1000}.org and (via WWW./:ORG casing) site{(7d+3)%1000}.org;
# the source host canonicalizes to site{d%50}.org.  No regex involved.
HOST_GRAPH_ORACLE_SQL = """
WITH e AS (
  SELECT 'site' || CAST(doc_id % 50 AS VARCHAR) || '.org' AS src_host,
         'site' || CAST((doc_id * 3 + 1) % 1000 AS VARCHAR) || '.org' AS dst_host
  FROM documents
  UNION ALL
  SELECT 'site' || CAST(doc_id % 50 AS VARCHAR) || '.org',
         'site' || CAST((doc_id * 7 + 3) % 1000 AS VARCHAR) || '.org'
  FROM documents
)
SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
FROM e WHERE src_host <> dst_host
GROUP BY 1, 2
"""


# Anchor-element page template. Slots: target-1 id, topic-1 id (d%7),
# target-2 id, topic-2 id (d%5). Exercises: fragment-only and relative
# anchors (no term rows), lowercase + uppercase-with-noise absolute
# anchors, an entity in the anchor text, multi-word text.
_ANCHOR_TMPL_PARTS = (
    '<html><body><a href="#top">skip</a><a href="/rel/x">relskip</a>'
    '<a href="https://site',
    '.org/a">alpha topic',
    ' coffee &amp; co</a><A CLASS="y" HREF="HTTPS://WWW.Site',
    '.ORG/b?x=1">beta topic',
    "</A></body></html>",
)


def q_anchor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inbound anchor-text top-k per target host (round 6;
    htmltext.anchor_term_counts): raw html -> anchor (href, text) pairs
    -> host canonicalization -> (host, term) counts -> per-host top-3 —
    the classic web-graph relevance signal.  Map-only extraction; one
    count exchange + a WindowGroupLimit top-k (partial rank before the
    shuffle).  The DuckDB oracle re-derives every term row
    ARITHMETICALLY from doc_id, independent of the regex pipeline."""
    from ot_spark.webtext.htmltext import anchor_term_counts

    docs = _read(spark, sf_dir, "documents", fan=FAN_ROWS)
    p = _ANCHOR_TMPL_PARTS
    page = F.concat(
        F.lit(p[0]), ((F.col("doc_id") * 3 + 1) % 1000).cast("string"),
        F.lit(p[1]), (F.col("doc_id") % 7).cast("string"),
        F.lit(p[2]), ((F.col("doc_id") * 7 + 3) % 1000).cast("string"),
        F.lit(p[3]), (F.col("doc_id") % 5).cast("string"),
        F.lit(p[4]),
    )
    pages = docs.select(F.encode(page, "UTF-8").alias("html"))
    return anchor_term_counts(pages, k=3)


# Arithmetic re-derivation: anchor 1 targets site{(3d+1)%1000}.org with
# terms {alpha, topic{d%7}, coffee, co} (the &amp; decodes to '&', which
# the alnum tokenizer drops); anchor 2 targets site{(7d+3)%1000}.org with
# terms {beta, topic{d%5}}. Fragment/relative anchors contribute nothing.
ANCHOR_STATS_ORACLE_SQL = """
WITH t1 AS (
  SELECT 'site' || CAST((doc_id*3+1) % 1000 AS VARCHAR) || '.org' AS dst_host,
         doc_id FROM documents
), t2 AS (
  SELECT 'site' || CAST((doc_id*7+3) % 1000 AS VARCHAR) || '.org' AS dst_host,
         doc_id FROM documents
), terms AS (
  SELECT dst_host, 'alpha' AS term FROM t1
  UNION ALL SELECT dst_host, 'topic' || CAST(doc_id % 7 AS VARCHAR) FROM t1
  UNION ALL SELECT dst_host, 'coffee' FROM t1
  UNION ALL SELECT dst_host, 'co' FROM t1
  UNION ALL SELECT dst_host, 'beta' FROM t2
  UNION ALL SELECT dst_host, 'topic' || CAST(doc_id % 5 AS VARCHAR) FROM t2
), c AS (
  SELECT dst_host, term, CAST(count(*) AS BIGINT) AS n
  FROM terms GROUP BY 1, 2
)
SELECT dst_host, term, n, rank FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY dst_host ORDER BY n DESC, term ASC) AS INT) AS rank
  FROM c
) WHERE rank <= 3
"""


def q_crawl_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of crawl-snapshot selection (round 6; crawldiff.latest_snapshot):
    latest live revision of every page at a cutoff — the "which crawl
    wins" dedup that precedes every content operator.  One partial-
    aggregable shuffle (max over a warc_epoch-ordered struct), no window
    sort.  Revisions are derived deterministically from documents so the
    DuckDB oracle replays the identical crawl log."""
    from ot_spark.webtext.crawldiff import (
        CRAWL_EPOCH, DAY, latest_snapshot, synthetic_revisions,
    )

    docs = _read(spark, sf_dir, "documents")
    return latest_snapshot(synthetic_revisions(docs), CRAWL_EPOCH + 6 * DAY)


# Mirrors crawldiff.synthetic_revisions rule-for-rule (module docstring).
_CRAWL_REVS_SQL = """
SELECT doc_id, CAST(rev AS INT) AS rev,
       1735689600 + (doc_id % 11) * 86400
         + rev * 86400 * (1 + doc_id % 5) AS warc_epoch,
       (doc_id * 2654435761
         + CASE WHEN doc_id % 6 = 1 THEN 0 ELSE rev * 97 END
       ) % 1000000007 AS content_sig,
       (doc_id % 7 = 3 AND rev = doc_id % 3) AS is_deleted
FROM (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS rev FROM documents)
"""

CRAWL_ASOF_ORACLE_SQL = f"""
WITH r AS ({_CRAWL_REVS_SQL}),
f AS (SELECT * FROM r WHERE warc_epoch <= {1735689600 + 6 * 86400})
SELECT doc_id, warc_epoch, rev, content_sig
FROM f
QUALIFY row_number() OVER (
    PARTITION BY doc_id ORDER BY warc_epoch DESC, rev DESC
) = 1 AND NOT is_deleted
"""


def q_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot CDC (round 6; crawldiff.crawl_delta): classify
    every page between two cutoffs as added/removed/changed/unchanged so
    an incremental re-process touches only the changed slice."""
    from ot_spark.webtext.crawldiff import (
        CRAWL_EPOCH, DAY, crawl_delta, synthetic_revisions,
    )

    docs = _read(spark, sf_dir, "documents")
    return crawl_delta(
        synthetic_revisions(docs), CRAWL_EPOCH + 4 * DAY, CRAWL_EPOCH + 12 * DAY
    )


# Shared CTE chain for the delta oracles (t1 = epoch+4d, t2 = epoch+12d).
_CRAWL_DELTA_CTES = f"""r AS ({_CRAWL_REVS_SQL}),
o AS (SELECT doc_id, content_sig, is_deleted FROM r
      WHERE warc_epoch <= {1735689600 + 4 * 86400}
      QUALIFY row_number() OVER (
          PARTITION BY doc_id ORDER BY warc_epoch DESC, rev DESC) = 1),
n AS (SELECT doc_id, content_sig, is_deleted FROM r
      WHERE warc_epoch <= {1735689600 + 12 * 86400}
      QUALIFY row_number() OVER (
          PARTITION BY doc_id ORDER BY warc_epoch DESC, rev DESC) = 1),
j AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         (o.is_deleted IS NOT NULL AND NOT o.is_deleted) AS olive,
         (n.is_deleted IS NOT NULL AND NOT n.is_deleted) AS nlive,
         o.content_sig AS os, n.content_sig AS ns
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
), c AS (
  SELECT doc_id,
         CASE WHEN NOT olive AND nlive THEN 'added'
              WHEN olive AND NOT nlive THEN 'removed'
              WHEN olive AND nlive AND os <> ns THEN 'changed'
              WHEN olive AND nlive THEN 'unchanged'
         END AS status,
         CASE WHEN olive THEN os END AS old_sig,
         CASE WHEN nlive THEN ns END AS new_sig
  FROM j
)"""

CRAWL_DELTA_ORACLE_SQL = f"""
WITH {_CRAWL_DELTA_CTES}
SELECT * FROM c WHERE status IS NOT NULL
"""


def q_incremental_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-enrichment (round 6): the north rule's resume story
    made concrete — between two crawl cutoffs, ONLY added/changed pages
    re-run the flagship enrichment (broadcast PIP admin join + raster
    elevation lookup).  At 100 TB a monthly re-crawl touches a few
    percent of pages; the CDC slice makes enrichment cost proportional to
    the delta, not the corpus.  The delta and the pages table share the
    doc_id key (one co-partitioned join; exchange-free under the Iceberg
    bucket layout from lineage.py), and enrichment inputs stay
    broadcast-sized (admin polygons, raster tile index)."""
    from ot_spark.webtext.crawldiff import (
        CRAWL_EPOCH, DAY, crawl_delta, synthetic_revisions,
    )

    docs = _read(spark, sf_dir, "documents")
    delta = crawl_delta(
        synthetic_revisions(docs), CRAWL_EPOCH + 4 * DAY, CRAWL_EPOCH + 12 * DAY
    )
    work = delta.where(
        F.col("status").isin("added", "changed")
    ).select("doc_id", "status")
    pages = pagesview.pages_df(spark, sf_dir).where(_off_boundary_col())
    out = spatial_enrich(
        pages.join(work, "doc_id"), _admin_index(), _raster_index(),
        s2_level=None, h3_resolutions=(),
    )
    return out.select("doc_id", "status", "admin_key", "raster_id", "elev")


def incremental_enrich_oracle_sql() -> str:
    rid_case, val_case = _elevation_cases()
    return f"""
WITH {_CRAWL_DELTA_CTES},
d AS (SELECT doc_id, status FROM c WHERE status IN ('added', 'changed')),
pts AS (
  SELECT doc_id, {pagesview.LAT_SQL} AS lat, {pagesview.LON_SQL} AS lon
  FROM documents
  WHERE {_OFF_BOUNDARY_SQL}
)
SELECT d.doc_id, d.status,
       {_admin_case_sql("       ")} AS admin_key,
       {rid_case} AS raster_id,
       {val_case} AS elev
FROM d JOIN pts USING (doc_id)
"""


def q_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness fetch scheduling (round 6; ot_spark/webtext/urltools.py
    ::fetch_schedule): rank per host by (priority DESC, url ASC), round
    = (rank-1) DIV per-host rate, the rate attached via a broadcast
    host-dimension join — one window exchange total.  Deterministic
    total order, so the window-SQL oracle matches bit-for-bit."""
    from ot_spark.webtext.urltools import fetch_schedule

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    hostnum = (d % 50).cast("long")
    frontier = docs.select(
        F.concat(
            F.lit("https://site"), hostnum.cast("string"),
            F.lit(".org/p/"), d.cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("site"), hostnum.cast("string"), F.lit(".org")
        ).alias("host"),
        (d % 100).cast("long").alias("priority"),
    )
    rates = spark.range(50).select(
        F.concat(F.lit("site"), F.col("id").cast("string"), F.lit(".org"))
        .alias("host"),
        (1 + F.col("id") % 3).cast("long").alias("rate"),
    )
    return fetch_schedule(frontier.join(F.broadcast(rates), "host"))


def fetch_schedule_oracle_sql() -> str:
    return """
WITH f AS (
  SELECT 'https://site' || CAST(doc_id % 50 AS VARCHAR) || '.org/p/'
           || CAST(doc_id AS VARCHAR) AS url,
         'site' || CAST(doc_id % 50 AS VARCHAR) || '.org' AS host,
         CAST(doc_id % 100 AS BIGINT) AS priority,
         CAST(1 + (doc_id % 50) % 3 AS BIGINT) AS rate
  FROM documents
),
r AS (
  SELECT url, host, priority, rate,
         CAST(row_number() OVER (
           PARTITION BY host ORDER BY priority DESC, url ASC
         ) AS BIGINT) AS rank_in_host
  FROM f
)
SELECT url, host, priority, rank_in_host,
       CAST((rank_in_host - 1) // rate AS BIGINT) AS fetch_round
FROM r
"""


def q_burst_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-activity burst detection (round 6; ot_spark/webtext/
    crawldiff.py::burst_hosts) over the synthetic revision log: per
    (host, day) counts vs the trailing 3-day RANGE-frame total, burst
    when cnt > 2x prev and cnt >= 3.  Two exchanges carrying (host,
    day) cells, never pages.  Pure integer -> bit-exact oracle."""
    from ot_spark.webtext.crawldiff import burst_hosts, synthetic_revisions

    docs = _read(spark, sf_dir, "documents")
    revs = synthetic_revisions(docs)
    host = F.concat(
        F.lit("site"), (F.col("doc_id") % 50).cast("string"), F.lit(".org")
    )
    return burst_hosts(revs, host)


def burst_hosts_oracle_sql() -> str:
    from ot_spark.webtext.crawldiff import (
        BURST_FACTOR, BURST_MIN_COUNT, BURST_TRAIL_DAYS,
    )

    return f"""
WITH r AS ({_CRAWL_REVS_SQL}),
cells AS (
  SELECT 'site' || CAST(doc_id % 50 AS VARCHAR) || '.org' AS host,
         CAST((warc_epoch - 1735689600) // 86400 AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM r GROUP BY 1, 2
),
w AS (
  SELECT host, day, cnt,
         CAST(coalesce(sum(cnt) OVER (
           PARTITION BY host ORDER BY day
           RANGE BETWEEN {BURST_TRAIL_DAYS} PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS prev
  FROM cells
)
SELECT host, day, cnt, prev,
       (cnt > {BURST_FACTOR} * prev AND cnt >= {BURST_MIN_COUNT}) AS is_burst
FROM w
"""


def q_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain (eTLD+1) rollup (round 6;
    urltools.registrable_domain_col): hosts with multi-label public
    suffixes, PSL private-section entries (github.io) and unknown TLDs
    collapse to their owner domain via longest-suffix match — pure
    map-side Column algebra, then one groupBy(domain) exchange.  The
    oracle runs the SAME generated CASE chain ([.]-escaped regex, no
    backslash-escape drift) over hosts re-derived arithmetically."""
    from ot_spark.webtext.urltools import registrable_domain_col

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(
        F.when(d % 6 == 1, F.lit("a.b."))
        .when(d % 3 == 0, F.lit("sub."))
        .otherwise(F.lit("")),
        F.lit("s"), (d % 7).cast("string"),
        F.when(d % 5 == 0, F.lit(".co.uk"))
        .when(d % 5 == 1, F.lit(".github.io"))
        .when(d % 5 == 2, F.lit(".com"))
        .when(d % 5 == 3, F.lit(".org.au"))
        .otherwise(F.lit(".weird")),
    )
    hosts = docs.select(host.alias("host"))
    return (
        hosts.select(
            "host", registrable_domain_col(F.col("host")).alias("domain")
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pages"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
        )
    )


def domain_rollup_oracle_sql() -> str:
    from ot_spark.webtext.urltools import registrable_domain_sql

    return f"""
WITH h AS (
  SELECT (CASE WHEN doc_id % 6 = 1 THEN 'a.b.'
               WHEN doc_id % 3 = 0 THEN 'sub.' ELSE '' END)
      || 's' || CAST(doc_id % 7 AS VARCHAR)
      || (CASE doc_id % 5 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.github.io'
               WHEN 2 THEN '.com' WHEN 3 THEN '.org.au'
               ELSE '.weird' END) AS host
  FROM documents)
SELECT {registrable_domain_sql('host')} AS domain,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
FROM h GROUP BY 1
"""
