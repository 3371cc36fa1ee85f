"""HTML -> text extraction as pure JVM Column algebra (WET-style).

The north_star input is an Iceberg table of Common-Crawl-style pages with
``html: binary`` and ``text: string`` columns, and the per-row invariant is
"byte-identical extracted text per url" — i.e. the engine must be able to
RE-DERIVE the text column from the raw html, not merely carry it along.
This module is that derivation: a Common-Crawl WET-record-style plain-text
extraction (drop scripts/styles/comments, strip tags, decode the core
character entities, collapse whitespace), expressed entirely as chained
``regexp_replace``/``replace`` Column expressions so the whole extraction
runs inside whole-stage codegen — no Python in the loop, Arrow or
otherwise, and the binary column is decoded exactly once per row.

Scale shape: map-only (zero shuffles, zero UDFs); throughput is bounded by
the parquet scan + the JVM regex engine, and the scan prunes to the html
column alone when no other column is referenced. At 10^12 documents the
pass is embarrassingly parallel — per-node rates multiply out.

The regex subset is chosen to evaluate IDENTICALLY under Java's regex
engine (Spark ``regexp_replace``) and RE2 (the DuckDB oracle): inline
``(?is)`` flags, lazy quantifiers, explicit character classes — no
backreferences, no lookaround (RE2 has neither).

Reference parity: the reference consumes pre-extracted tags/geometry
(src/io/ingest.rs reads typed PBF fields); the graft must recover the
payload from raw crawl bytes first. Entity decode order follows the usual
single-pass convention: named/numeric entities first, ``&amp;`` LAST, so
double-escaped input ("&amp;lt;") decodes one level per pass ("&lt;"),
matching what a browser shows for the same bytes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Element content that never contributes text. Lazy body + (?is) so nested
# markup inside the element is consumed; identical semantics in Java/RE2.
SCRIPT_RE = r"(?is)<script\b[^>]*>.*?</script\s*>"
STYLE_RE = r"(?is)<style\b[^>]*>.*?</style\s*>"
COMMENT_RE = r"(?s)<!--.*?-->"
# Any remaining tag -> a single space (so "</p><p>" never glues words);
# the whitespace collapse below restores single-space text.
TAG_RE = r"<[^>]*>"
# Explicit class instead of \s: Java \s includes \x0B, RE2's does not —
# the explicit class makes Spark and the DuckDB oracle byte-identical.
WS_RE = r"[ \t\n\r\f]+"

# (entity, character) in decode order — &amp; MUST stay last.
ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def extract_text(html: Column) -> Column:
    """Plain text of an ``html`` column (binary or string).

    binary input is decoded as UTF-8 first; the result is trimmed,
    single-spaced text — byte-identical to the page body for markup that
    wraps it without interleaving (pinned against ot_spark.synth pages in
    tests/test_round6.py).
    """
    s = F.decode(html.cast("binary"), "UTF-8")
    s = F.regexp_replace(s, SCRIPT_RE, " ")
    s = F.regexp_replace(s, STYLE_RE, " ")
    s = F.regexp_replace(s, COMMENT_RE, " ")
    s = F.regexp_replace(s, TAG_RE, " ")
    for entity, ch in ENTITIES:
        s = F.replace(s, F.lit(entity), F.lit(ch))
    s = F.regexp_replace(s, WS_RE, " ")
    return F.trim(s)


# Anchor hrefs, double-quoted form (the overwhelming majority in crawl
# HTML; single-quoted/bare attrs are out of the WET-style scope). The
# capture stops at '#' (fragments are never part of the fetch key — same
# rule as urltools canonicalization) and requires >=1 char, so pure
# fragment links ("#top") produce no edge at all. Java/RE2-portable.
HREF_RE = r'(?i)<a\b[^>]*\bhref\s*=\s*"([^"#]+)'


def extract_links(html: Column) -> Column:
    """``array<string>`` of raw href values in document order.

    The crawl-graph front end: html -> hrefs here, then
    urltools.canonicalize_url_col per href and graph.pagerank over the
    (page, href) edges. Map-only JVM regex, one decode per row, same
    codegen shape as extract_text."""
    s = F.decode(html.cast("binary"), "UTF-8")
    return F.regexp_extract_all(s, F.lit(HREF_RE), F.lit(1))


# Full anchor elements: group 1 = href (same stop-at-fragment rule as
# HREF_RE), group 2 = the inner text. Lazy body + (?is) — Java/RE2
# portable, no lookaround.
ANCHOR_RE = r'(?is)<a\b[^>]*\bhref\s*=\s*"([^"#]+)[^"]*"[^>]*>(.*?)</a\s*>'
# Anchor-term tokenizer: lowercase alphanumeric runs.
TOKEN_SPLIT_RE = r"[^a-z0-9]+"


def extract_anchors(html: Column) -> Column:
    """``array<struct<href,text>>`` of anchor elements in document order.

    One decode, the SAME regex evaluated for the two capture groups
    (regexp_extract_all takes one group index per call), zip_with pairs
    them positionally — still a map-only codegen chain, no UDFs."""
    s = F.decode(html.cast("binary"), "UTF-8")
    hrefs = F.regexp_extract_all(s, F.lit(ANCHOR_RE), F.lit(1))
    texts = F.regexp_extract_all(s, F.lit(ANCHOR_RE), F.lit(2))
    return F.zip_with(
        hrefs, texts,
        lambda h, t: F.struct(h.alias("href"), t.alias("text")),
    )


def anchor_term_counts(df: DataFrame, k: int) -> DataFrame:
    """Inbound anchor-text term ranking per TARGET host — the classic
    web-graph relevance signal (what other pages call this host).

    Shape at 10^12 docs: the anchor extraction and tokenization are
    map-only; the only exchanges are the (dst_host, term) count
    aggregation (map-side partial) and the per-host top-k, which Spark
    plans as WindowGroupLimit — rank partially BEFORE the exchange, so
    each map task forwards at most k rows per host, never the full term
    tally.  Skewed mega-hosts therefore cost k rows each downstream.

    Returns (dst_host, term, n, rank) with rank <= k; ties broken by
    term so the output is deterministic for the value-hash oracle."""
    from pyspark.sql import Window

    from ot_spark.webtext.urltools import host_col

    a = df.select(F.explode(extract_anchors(F.col("html"))).alias("a"))
    a = a.select(F.col("a.href").alias("href"), F.col("a.text").alias("text"))
    a = a.where(F.lower(F.col("href")).startswith("http"))
    txt = F.lower(F.col("text"))
    for entity, ch in ENTITIES:
        txt = F.replace(txt, F.lit(entity), F.lit(ch))
    terms = a.select(
        host_col(F.col("href")).alias("dst_host"),
        F.explode(F.split(txt, TOKEN_SPLIT_RE)).alias("term"),
    ).where(F.length("term") > 0)
    counts = terms.groupBy("dst_host", "term").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("dst_host").orderBy(F.desc("n"), F.asc("term"))
    return counts.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def oracle_extract_sql(page_expr: str) -> str:
    """DuckDB replay of extract_text over the SQL expression ``page_expr``.

    Same patterns, same order; DuckDB regexp_replace needs the explicit
    'g' option (it replaces only the first match by default, where Spark
    is global). Kept next to the Column chain so the two can never drift.
    """
    s = page_expr
    for pat in (SCRIPT_RE, STYLE_RE, COMMENT_RE, TAG_RE):
        s = f"regexp_replace({s}, '{pat}', ' ', 'g')"
    for entity, ch in ENTITIES:
        lit = ch.replace("'", "''")
        s = f"replace({s}, '{entity}', '{lit}')"
    return f"trim(regexp_replace({s}, '{WS_RE}', ' ', 'g'))"
