"""Attribute-map predicate algebra & projections.

Reimplements the reference's filter/predicate handlers as pure Column
expressions over a ``map<string,string>`` attrs column — the whole filter is
one ``df.where(cond)`` so Catalyst folds, reorders and pushes it down.

Reference parity (cited file:line are in /root/reference):
- HasOneOfTagKeysPredicate      src/handler/predicate.rs:4-11
- HasTagKeyValuePredicate       src/handler/predicate.rs:14-28
- HasNoneOfTagKeysPredicate     src/handler/predicate.rs:31-38
- HasOnlyMatchingTagsPredicate  src/handler/predicate.rs:40-48
- ComplexElementsFilter         src/handler/filter.rs:184-273 (defaults
  filter.rs:204-230, algebra filter.rs:231-236)
- TagFilterByKey (projection)   src/handler/filter.rs:99-145, regex
  src/lib.rs:40
- TagValueBasedOsmElementsFilter src/handler/filter.rs:19-57
- TagKeyBasedOsmElementsFilter   src/handler/filter.rs:61-96
- MetadataRemover               src/handler/modify.rs:6-31

Empty-map semantics match the Rust iterator algebra exactly: ``any`` over an
empty tag list is false, ``all`` is true — so an element with no attrs fails
(F || F || T) && !T and is dropped.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Default vocabulary — the reference's routing filter configuration
# (src/handler/filter.rs:204-230).
GOOD_KEYS: list[str] = ["highway", "route"]
GOOD_KEY_VALUES: dict[str, str] = {
    "railway": "platform",
    "public_transport": "platform",
    "man_made": "pier",
}
BAD_KEYS: list[str] = [
    "building", "landuse", "boundary", "natural", "place", "waterway",
    "aeroway", "aviation", "military", "power", "communication", "man_made",
]
# src/lib.rs:40 — NOTE: unanchored, Rust Regex::is_match is substring search,
# as are Spark `rlike` and DuckDB `regexp_matches`; keep it unanchored.
TAGS_TO_REMOVE: str = r"(.*:)?source(:.*)?|(.*:)?note(:.*)?|url|created_by|fixme|wikipedia"


def _lit_array(keys: list[str]) -> Column:
    return F.array(*[F.lit(k) for k in keys])


def has_one_of_keys(attrs: Column, keys: list[str]) -> Column:
    """any tag key in ``keys`` (predicate.rs:4-11)."""
    return F.coalesce(F.arrays_overlap(F.map_keys(attrs), _lit_array(keys)), F.lit(False))


def has_key_value(attrs: Column, key_values: dict[str, str]) -> Column:
    """any (k, v) entry matching the dict (predicate.rs:14-28)."""
    terms = [attrs.getItem(k).eqNullSafe(F.lit(v)) for k, v in key_values.items()]
    return reduce(Column.__or__, terms)


def has_none_of_keys(attrs: Column, keys: list[str]) -> Column:
    """no tag key in ``keys``; vacuously true on empty (predicate.rs:31-38)."""
    return ~F.coalesce(F.arrays_overlap(F.map_keys(attrs), _lit_array(keys)), F.lit(False))


# rlike is a FIND (match anywhere), so every branch of TAGS_TO_REMOVE
# reduces to "key contains <literal>" once the optional (.*:) groups are
# taken empty — the predicate is EXACTLY a 6-way substring test, which
# codegen compiles to indexOf calls instead of a backtracking regex
# (flagship remove_tags stage measured ~3x faster).  Any other regex
# falls back to rlike.
_REMOVE_SUBSTRINGS = ("source", "note", "url", "created_by", "fixme", "wikipedia")


def _key_matches(k: Column, key_regex: str) -> Column:
    if key_regex == TAGS_TO_REMOVE:
        out = k.contains(_REMOVE_SUBSTRINGS[0])
        for s in _REMOVE_SUBSTRINGS[1:]:
            out = out | k.contains(s)
        return out
    return k.rlike(key_regex)


def has_only_matching_keys(attrs: Column, key_regex: str = TAGS_TO_REMOVE) -> Column:
    """ALL tag keys match regex; vacuously true on empty (predicate.rs:40-48)."""
    return F.forall(F.map_keys(attrs), lambda k: _key_matches(k, key_regex))


def complex_filter_condition(attrs: Column) -> Column:
    """The routing filter: (good key OR good kv OR no bad key) AND NOT
    only-removable-tags (src/handler/filter.rs:231-236)."""
    return (
        has_one_of_keys(attrs, GOOD_KEYS)
        | has_key_value(attrs, GOOD_KEY_VALUES)
        | has_none_of_keys(attrs, BAD_KEYS)
    ) & ~has_only_matching_keys(attrs, TAGS_TO_REMOVE)


def complex_filter(df: DataFrame) -> DataFrame:
    return df.where(complex_filter_condition(F.col("attrs")))


def filter_by_tag_value(df: DataFrame, key: str, value_regex: str) -> DataFrame:
    """Keep rows whose attrs[key] matches regex (filter.rs:19-57)."""
    cond = F.coalesce(F.col("attrs").getItem(key).rlike(value_regex), F.lit(False))
    return df.where(cond)


def filter_by_tag_keys(df: DataFrame, keys: list[str], keep: bool = True) -> DataFrame:
    """Keep/remove rows having any of ``keys`` (filter.rs:61-96)."""
    cond = has_one_of_keys(F.col("attrs"), keys)
    return df.where(cond if keep else ~cond)


def remove_tags(df: DataFrame) -> DataFrame:
    """Projection on the attrs map: drop entries whose key matches regex
    (TagFilterByKey, filter.rs:99-145).  The default regex takes the
    substring fast path (see _key_matches)."""
    return df.withColumn(
        "attrs",
        F.map_filter(F.col("attrs"), lambda k, _v: ~_key_matches(k, TAGS_TO_REMOVE)),
    )


METADATA_COLS = ("version", "ts_meta", "changeset", "uid", "user")


def remove_metadata(df: DataFrame) -> DataFrame:
    """Zero out provenance columns that exist on the frame (modify.rs:6-31).

    The reference zeroes version/timestamp/changeset/uid/user in place; in
    the pages model these columns are optional, so only present ones are
    touched (absent = already projected away, which is the Spark-native
    answer: simply don't select them).
    """
    updates = {}
    for c in METADATA_COLS:
        if c in df.columns:
            dt = dict(df.dtypes)[c]
            updates[c] = F.lit("" if dt == "string" else 0).cast(dt)
    return df.withColumns(updates) if updates else df
