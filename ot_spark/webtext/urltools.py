"""URL canonicalization + canonical-URL dedup.

The first deduplication a Common-Crawl-style pipeline runs is not content
dedup but URL dedup: the same page is fetched as ``http://WWW.Site.org``,
``https://site.org:443/`` and ``https://site.org/?utm_source=feed`` —
canonicalize, then keep one fetch per canonical URL.  (The reference
pipeline's analog is its key-normalization pass before filtering;
osm-transform normalizes tag keys before the filter stage.)

Canonical form (the widely-published safe subset of RFC 3986
normalization + tracker-parameter stripping):

1. drop the ``#fragment``;
2. lowercase the scheme and the host (NEVER the path/query — those are
   case-sensitive);
3. drop the default port (``:443`` for https, ``:80`` for http);
4. drop a leading ``www.``;
5. drop ``utm_*`` tracking parameters, sort the survivors byte-wise;
6. drop a trailing ``/`` from the path.

Everything is JVM Column algebra (regexp + array ops) — no UDF, fully
pushdown/codegen-friendly, and exactly replayable in ANSI SQL (the
``url_dedup`` oracle): at 100 TB this runs as a narrow map + one
groupBy(canonical) exchange, the cheapest dedup in the pipeline.

The gate derives a deterministic synthetic URL per document from
``doc_id`` (the pagesview pattern: Spark builds it with Column algebra,
the oracle with SQL arithmetic — two independent evaluation paths), with
every canonicalization-relevant variation exercised: mixed-case scheme /
host, www and default-port variants, utm parameters, unsorted query
params, trailing slashes, fragments.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def synthetic_url_col(doc_id: Column) -> Column:
    """Deterministic messy URL from doc_id (gate input — see module doc)."""
    scheme = F.when(doc_id % 9 == 0, F.lit("HTTPS://")).otherwise(
        F.lit("https://")
    )
    www = F.when(doc_id % 3 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    host = F.concat(
        F.when(doc_id % 2 == 0, F.lit("Site")).otherwise(F.lit("site")),
        (doc_id % 50).cast("string"),
        F.lit(".ORG"),
    )
    port = F.when(doc_id % 5 == 0, F.lit(":443")).otherwise(F.lit(""))
    path = F.concat(F.lit("/p/"), (doc_id % 200).cast("string"))
    slash = F.when(doc_id % 4 == 1, F.lit("/")).otherwise(F.lit(""))
    query = (
        F.when(doc_id % 7 == 0, F.lit(""))
        .when(doc_id % 2 == 0, F.lit("?utm_source=x&b=2&a=1"))
        .otherwise(F.lit("?b=2&a=1"))
    )
    frag = F.when(doc_id % 6 == 2, F.lit("#frag")).otherwise(F.lit(""))
    return F.concat(scheme, www, host, port, path, slash, query, frag)


def canonicalize_url_col(url: Column) -> Column:
    """Canonical URL as a single JVM Column expression (steps 1-6 above)."""
    u = F.regexp_replace(url, "#.*$", "")  # 1. fragment
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.regexp_extract(rest, r"^([^/?#]+)", 1)
    pathq = F.substring(rest, F.length(hostport) + 1, F.lit(2_000_000_000))
    host = F.lower(hostport)
    host = F.when(
        (scheme == "https") & host.endswith(":443"),
        F.regexp_replace(host, ":443$", ""),
    ).when(
        (scheme == "http") & host.endswith(":80"),
        F.regexp_replace(host, ":80$", ""),
    ).otherwise(host)
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    # query string after the '?' ('' when absent)
    query = F.substring(pathq, F.length(path) + 2, F.lit(2_000_000_000))
    path = F.regexp_replace(path, "/$", "")
    params = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0) & ~p.startswith("utm_"),
    )
    canon_q = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(F.length(canon_q) > 0, F.concat(F.lit("?"), canon_q)).otherwise(
            F.lit("")
        ),
    )


def url_dedup(df: DataFrame) -> DataFrame:
    """Canonical-URL dedup over the synthetic URL column: one row per
    canonical URL with the variant count and the keeper (min id) — the
    narrow-map + single-exchange shape."""
    with_url = df.select(
        F.col("doc_id"), synthetic_url_col(F.col("doc_id")).alias("url")
    )
    canon = with_url.select(
        F.col("doc_id"), canonicalize_url_col(F.col("url")).alias("canonical_url")
    )
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").alias("keeper"),
    )


def host_col(url: Column) -> Column:
    """Host key for the host-level link graph: lowercased, default port
    stripped per scheme, leading ``www.`` removed, fragment ignored.
    The same steps canonicalize_url_col applies to the authority part —
    kept as its own Column helper so host aggregation never pays for the
    path/query work."""
    u = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"://([^/?#]+)", 1))
    host = (
        F.when(
            (scheme == "https") & hostport.endswith(":443"),
            F.regexp_replace(hostport, ":443$", ""),
        )
        .when(
            (scheme == "http") & hostport.endswith(":80"),
            F.regexp_replace(hostport, ":80$", ""),
        )
        .otherwise(hostport)
    )
    return F.regexp_replace(host, r"^www\.", "")


def path_col(url: Column) -> Column:
    """Raw path component — between the authority and the first ``?``/``#``
    — UNCANONICALIZED (robots matching is defined on the raw path)."""
    return F.regexp_extract(
        url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )


def robots_filter(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """Robots-exclusion-protocol URL filtering (RFC 9309 semantics): per
    URL, the LONGEST matching path prefix among the host's rules wins;
    allow beats deny on equal length; no matching rule means allowed.
    This is the gate every fetch passes before it enters the frontier.

    ``rules``: (host, prefix, is_allow) — a per-host dimension table
    (bounded by hosts, not documents); the match join is an equi-join on
    host plus the prefix predicate, so AQE broadcasts it when small and
    falls back to a shuffled hash join when a 100 TB crawl's rule set is
    host-partitioned — deliberately NOT a pinned broadcast hint.

    Winner selection is ONE partial-aggregable exchange: max over the
    struct (prefix_len, is_allow, prefix) per URL — no window sort — then
    a same-key join back to attach the default-allow rows.
    """
    u = urls.select(
        F.col("doc_id"), F.col("url"),
        host_col(F.col("url")).alias("__host"),
        path_col(F.col("url")).alias("__path"),
    )
    m = u.join(
        rules,
        (F.col("__host") == rules["host"])
        & F.col("__path").startswith(rules["prefix"]),
        "inner",
    )
    win = m.groupBy("doc_id").agg(
        F.max(
            F.struct(
                F.length("prefix").alias("l"),
                F.col("is_allow").alias("a"),
                F.col("prefix").alias("p"),
            )
        ).alias("__w")
    )
    return u.join(win, "doc_id", "left").select(
        "doc_id", "url",
        F.coalesce(F.col("__w.a"), F.lit(True)).alias("allowed"),
        F.col("__w.p").alias("rule_prefix"),
    )


# Mini public-suffix list (the real PSL — publicsuffix.org, public data —
# is ~10k entries; this ships the common shapes).
# github.io / blogspot.com are PSL "private section" entries, included
# because host rollups that merge all *.github.io into one owner are
# exactly the mistake the private section exists to prevent.
PUBLIC_SUFFIXES: list[str] = [
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "net.br",
    "github.io", "blogspot.com",
    "com", "org", "net", "edu", "gov", "io", "uk", "au", "jp", "br",
]


# longest match = most labels first (a 2-label suffix beats its 1-label
# tail, e.g. blogspot.com before com)
_SUFFIXES_ORDERED = sorted(PUBLIC_SUFFIXES, key=lambda s: (-s.count("."), s))


def registrable_domain_col(host: Column) -> Column:
    """Registrable domain (eTLD+1): one label + the LONGEST matching
    public suffix — a.b.github.io -> b.github.io, x.y.co.uk -> y.co.uk.

    Semantics deltas vs strict PSL, documented: a host that IS a bare
    suffix falls through to the default rule (strict PSL says
    undefined/null); unknown TLDs use the PSL ``*`` default — the last
    two labels.  Pure Column algebra (endswith + regexp_extract with
    [.]-escaped patterns so the same pattern strings replay in DuckDB
    without backslash-escape drift); a map-side transform, no shuffle.
    """
    expr = None
    for s in _SUFFIXES_ORDERED:
        pat = "([^.]+[.]" + s.replace(".", "[.]") + ")$"
        cond = host.endswith("." + s)
        val = F.regexp_extract(host, pat, 1)
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    two = F.regexp_extract(host, "([^.]+[.][^.]+)$", 1)
    return expr.otherwise(F.when(two != "", two).otherwise(host))


def registrable_domain_sql(host_sql: str) -> str:
    """The SAME longest-match CASE chain as ANSI SQL (DuckDB-ready),
    generated from the same ordered suffix list so the two engines can
    never drift."""
    whens = []
    for s in _SUFFIXES_ORDERED:
        pat = "([^.]+[.]" + s.replace(".", "[.]") + ")$"
        whens.append(
            f"WHEN {host_sql} LIKE '%.{s}' "
            f"THEN regexp_extract({host_sql}, '{pat}', 1)"
        )
    body = "\n    ".join(whens)
    return (
        f"(CASE {body}\n    ELSE (CASE WHEN "
        f"regexp_extract({host_sql}, '([^.]+[.][^.]+)$', 1) <> '' "
        f"THEN regexp_extract({host_sql}, '([^.]+[.][^.]+)$', 1) "
        f"ELSE {host_sql} END) END)"
    )


def fetch_schedule(frontier: DataFrame) -> DataFrame:
    """Politeness-aware fetch scheduling: every crawl frontier must turn
    "these URLs are worth fetching" into "fetch at most ``rate`` URLs
    per host per round" (the crawl-delay contract robots.txt implies).

    Per host, URLs are ranked by (priority DESC, url ASC) — a total
    order, so the schedule is deterministic — and the round is
    ``(rank - 1) DIV rate`` with the per-host rate joined on as a
    dimension (hosts with a generous crawl-delay drain faster).

    Distributed shape: ONE exchange total — the rank is a window
    partitioned by host; the per-host rate arrives as a column the
    caller attaches via a BROADCAST dimension join (host-cardinality),
    so nothing but the window itself shuffles (plan-pinned).  Mega-host
    skew hits the window sort, not correctness — a production frontier
    shards a mega-host's sort by pre-bucketing priority bands, exactly
    the salted-agg pattern in ot_spark/skew.py.

    Returns (url, host, priority, rank_in_host, fetch_round).
    """
    from pyspark.sql import Window

    if "rate" not in frontier.columns:
        raise ValueError("frontier must carry a per-host rate column")
    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("url").asc()
    )
    rk = F.row_number().over(w).cast("long")
    return frontier.select(
        "url", "host", "priority", "rate",
        rk.alias("rank_in_host"),
    ).select(
        "url", "host", "priority", "rank_in_host",
        F.expr("(rank_in_host - 1) DIV rate").alias("fetch_round"),
    )
