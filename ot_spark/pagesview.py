"""Derived `pages` view over the driver's `documents` table.

The correctness gate compares our Spark operators against DuckDB SQL on the
SAME pre-registered parquet tables; there is no physical pages table, so we
derive one deterministically from ``documents.doc_id`` with arithmetic that
both engines evaluate identically (integer modulo + exact float steps):

- lat  = -90  + ((doc_id * 7919)   % 18000) / 100   in [-90, 90)
- lon  = -180 + ((doc_id * 104729) % 36000) / 100   in [-180, 180)
- attrs map entries appear per fixed (modulus, residue) rules.

The Spark side builds a REAL ``map<string,string>`` and runs the engine's
actual Column-algebra operators (ot_spark.filters) over it; the DuckDB
oracle evaluates the equivalent boolean arithmetic over doc_id directly —
two independent evaluation paths for the same semantics.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .filters import BAD_KEYS, GOOD_KEYS, GOOD_KEY_VALUES, TAGS_TO_REMOVE

# Even doc_ids land in the fixture-polygon region (lat [0,4), lon [0,7)) so
# the PIP join has real work; odd doc_ids spread over the whole globe.
# lat*100 / lon*100 are exact integers in both engines.
LAT100_SQL = (
    "(CASE WHEN doc_id % 2 = 0 THEN (doc_id * 7919) % 400 "
    "ELSE (doc_id * 7919) % 18000 - 9000 END)"
)
LON100_SQL = (
    "(CASE WHEN doc_id % 2 = 0 THEN (doc_id * 104729) % 800 "
    "ELSE (doc_id * 104729) % 36000 - 18000 END)"
)
LAT_SQL = f"({LAT100_SQL} / 100.0)"
LON_SQL = f"({LON100_SQL} / 100.0)"

# (key, value, modulus, residue): attrs[key]=value iff doc_id % modulus == residue
ATTR_RULES: list[tuple[str, str, int, int]] = [
    ("highway", "primary", 7, 0),
    ("route", "bus", 11, 0),
    ("railway", "platform", 13, 0),
    ("railway", "station", 13, 5),
    ("public_transport", "platform", 17, 0),
    ("man_made", "pier", 19, 0),
    ("man_made", "tower", 19, 7),
    ("building", "yes", 3, 0),
    ("landuse", "forest", 5, 3),
    ("natural", "water", 23, 11),
    ("note", "x", 2, 1),
    ("source:geo", "s", 29, 2),
    ("wikipedia", "de:x", 31, 9),
    ("name", "page", 4, 2),
]


def lat100_col() -> Column:
    return F.when(
        F.col("doc_id") % 2 == 0, F.col("doc_id") * 7919 % 400
    ).otherwise(F.col("doc_id") * 7919 % 18000 - 9000)


def lon100_col() -> Column:
    return F.when(
        F.col("doc_id") % 2 == 0, F.col("doc_id") * 104729 % 800
    ).otherwise(F.col("doc_id") * 104729 % 36000 - 18000)


def lat_col() -> Column:
    return lat100_col() / F.lit(100.0)


def lon_col() -> Column:
    return lon100_col() / F.lit(100.0)


def attrs_col() -> Column:
    """Build the attrs map from the rules. railway/man_made have two
    mutually-exclusive rules; map_from_entries requires unique keys, which
    the residues guarantee (0 != 5 mod 13, 0 != 7 mod 19)."""
    entries = [
        F.when(
            F.col("doc_id") % m == r,
            F.struct(F.lit(k).alias("key"), F.lit(v).alias("value")),
        )
        for (k, v, m, r) in ATTR_RULES
    ]
    arr = F.filter(F.array(*entries), lambda e: e.isNotNull())
    return F.map_from_entries(arr)


def scan_floor(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Scan parallelism floor: a single-row-group parquet is unsplittable,
    so every map stage above it would be ONE task.  Repartition once after
    the read when the planned scan is narrower than the session's cores
    (guide §2.5); a no-op on production layouts."""
    floor = spark.sparkContext.defaultParallelism
    return df.repartition(floor) if df.rdd.getNumPartitions() < floor else df


def pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents parquet -> derived pages frame with doc_id/lat/lon/attrs,
    over a ``scan_floor``-ed read."""
    docs = scan_floor(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return docs.withColumns(
        {"lat": lat_col(), "lon": lon_col(), "attrs": attrs_col()}
    )


# ---------------------------------------------------------------- oracle SQL

def _rule_cond(m: int, r: int) -> str:
    return f"(doc_id % {m} = {r})"


def attr_present_sql(key: str) -> str:
    """SQL condition: 'attrs contains key' per the rules."""
    conds = [_rule_cond(m, r) for (k, _v, m, r) in ATTR_RULES if k == key]
    return "(" + " OR ".join(conds) + ")" if conds else "FALSE"


def attr_kv_sql(key: str, value: str) -> str:
    conds = [_rule_cond(m, r) for (k, v, m, r) in ATTR_RULES if k == key and v == value]
    return "(" + " OR ".join(conds) + ")" if conds else "FALSE"


def attr_value_regex_sql(key: str, value_regex: str) -> str:
    """SQL condition: attrs[key] exists and its value matches regex —
    classification done at generation time with Python re (same substring
    semantics as rlike)."""
    rx = re.compile(value_regex)
    conds = [
        _rule_cond(m, r)
        for (k, v, m, r) in ATTR_RULES
        if k == key and rx.search(v)
    ]
    return "(" + " OR ".join(conds) + ")" if conds else "FALSE"


def complex_filter_sql() -> str:
    """Boolean-arithmetic rendering of ComplexElementsFilter
    (/root/reference/src/handler/filter.rs:231-236) over the rule table.
    Key classification (removable or not) is decided at generation time with
    Python re — same unanchored-substring semantics as Rust/rlike/DuckDB."""
    removable = re.compile(TAGS_TO_REMOVE)
    good_key = " OR ".join(attr_present_sql(k) for k in GOOD_KEYS)
    good_kv = " OR ".join(attr_kv_sql(k, v) for k, v in GOOD_KEY_VALUES.items())
    bad_key = " OR ".join(attr_present_sql(k) for k in BAD_KEYS)
    non_removable_keys = sorted(
        {k for (k, _v, _m, _r) in ATTR_RULES if not removable.search(k)}
    )
    non_removable_present = " OR ".join(attr_present_sql(k) for k in non_removable_keys)
    return (
        f"(({good_key}) OR ({good_kv}) OR NOT ({bad_key})) "
        f"AND ({non_removable_present})"
    )


def remaining_keys_sql() -> str:
    """SQL expr: comma-joined alphabetically-sorted keys surviving the
    TagFilterByKey projection (filter.rs:99-145) — oracle twin of
    map_filter + array_sort(map_keys(...))."""
    removable = re.compile(TAGS_TO_REMOVE)
    keys = sorted({k for (k, _v, _m, _r) in ATTR_RULES if not removable.search(k)})
    # string concat (not list concat: DuckDB's `[] || []` is NULL), keys in
    # alphabetical order, trailing separator trimmed
    parts = [
        f"CASE WHEN {attr_present_sql(k)} THEN '{k},' ELSE '' END" for k in keys
    ]
    concat = ", ".join(parts)
    return f"rtrim(concat({concat}), ',')"
