"""Coordinate extraction from web-page columns (graft north_star).

The reference reads coordinates straight off Node structs
(src/handler/info.rs:112); the graft must *parse* them out of
``url`` / ``text`` / ``html``.  All three extractors are JVM-side
``regexp_extract`` column expressions — vectorized inside whole-stage
codegen, strictly faster than any Python/Arrow UDF, and the scan only
reads the columns actually referenced (column pruning).

Source priority: url path > text body > html meta — first hit wins.
The ``text`` column itself is NEVER rewritten (the byte-identical-text
invariant from BASELINE.json): extraction only reads.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# https://host/geo/<lat>,<lon>/slug — synth embeds %.7f, accept any decimal.
# ONE capturing group per pattern holding the whole "lat<sep>lon" pair: the
# regex engine runs at most ONCE per (row, source); lat/lon split off the
# captured pair with substring_index (plain byte scans).  The two-group
# form ran the same regex twice per source — group-1 for lat, group-2 for
# lon — i.e. up to six regex executions per row.
URL_GEO_RE = r"/geo/(-?\d+(?:\.\d+)?,-?\d+(?:\.\d+)?)"
# "coords: <lat>, <lon>" in body text
TEXT_GEO_RE = r"coords:\s*(-?\d+(?:\.\d+)?,\s*-?\d+(?:\.\d+)?)"
# <meta name="geo.position" content="lat;lon">
HTML_GEO_RE = r'geo\.position"\s+content="(-?\d+(?:\.\d+)?;-?\d+(?:\.\d+)?)"'


def _extract_pair(col: Column, pattern: str, guard: str) -> Column:
    """The captured "lat<sep>lon" pair, "" when the regex misses, NULL
    when the source lacks ``guard``: the regex sits behind a cheap
    substring test (``contains`` is ~10x cheaper than the regex engine,
    and most rows miss most sources)."""
    return F.when(col.contains(guard), F.regexp_extract(col, pattern, 1))


def with_coordinates(df: DataFrame) -> DataFrame:
    """Add ``lat``/``lon`` doubles, NULL when no source has coordinates.

    Each source's regex runs at most once per row, and only while no
    higher-priority source has produced a pair.  The pair so far is a
    column that the next step references twice (test, then value), so
    CollapseProject keeps one projection per source instead of inlining
    the regex into every branch that reads it.  cast(double) trims
    surrounding whitespace, so the optional post-comma spaces of the text
    form parse as before."""
    html = F.decode(F.col("html"), "UTF-8")
    pair = F.col("__geo_pair")
    df = df.withColumn("__geo_pair", _extract_pair(F.col("url"), URL_GEO_RE, "/geo/"))
    for extract in (
        _extract_pair(F.col("text"), TEXT_GEO_RE, "coords:"),
        # normalise the html "lat;lon" to the shared "," separator
        F.translate(_extract_pair(html, HTML_GEO_RE, "geo.position"), ";", ","),
    ):
        df = df.withColumn("__geo_pair", F.when(pair != "", pair).otherwise(extract))
    found = pair != ""
    return df.withColumns(
        {
            "lat": F.when(found, F.substring_index(pair, ",", 1).cast("double")),
            "lon": F.when(found, F.substring_index(pair, ",", -1).cast("double")),
        }
    ).drop("__geo_pair")
