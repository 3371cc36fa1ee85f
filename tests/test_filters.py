"""Filter/predicate parity tests.

Mirrors the reference unit tests: ComplexElementsFilter truth table
(/root/reference/src/handler/filter.rs:520-614), predicate algebra
(predicate.rs:50-192), TagFilterByKey complex-regex cases incl. the
"opensource" substring surprise (filter.rs:335-389).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ot_spark import filters
from ot_spark.synth import ACCEPTED_MODS, ATTR_TRUTH_TABLE


def _df_from_maps(spark, maps):
    rows = [(i, m) for i, m in enumerate(maps)]
    return spark.createDataFrame(rows, "id int, attrs map<string,string>")


def test_complex_filter_truth_table(spark):
    df = _df_from_maps(spark, ATTR_TRUTH_TABLE)
    got = {r.id for r in filters.complex_filter(df).select("id").collect()}
    assert got == ACCEPTED_MODS


def test_complex_filter_empty_map_rejected(spark):
    # all() over empty tags is vacuously true in Rust -> only_matching true
    # -> reject (predicate.rs:44-47 + filter.rs:231-236)
    df = _df_from_maps(spark, [{}])
    assert filters.complex_filter(df).count() == 0


def test_complex_filter_on_synth_pages(pages):
    n = pages.count()
    accepted = filters.complex_filter(pages).count()
    expected = sum(1 for i in range(n) if i % 16 in ACCEPTED_MODS)
    assert accepted == expected


def test_predicates(spark):
    df = _df_from_maps(spark, [{"highway": "x", "note": "y"}])
    row = df.select(
        filters.has_one_of_keys(F.col("attrs"), ["highway", "route"]).alias("a"),
        filters.has_one_of_keys(F.col("attrs"), ["building"]).alias("b"),
        filters.has_key_value(F.col("attrs"), {"highway": "x"}).alias("c"),
        filters.has_key_value(F.col("attrs"), {"highway": "y"}).alias("d"),
        filters.has_none_of_keys(F.col("attrs"), ["building"]).alias("e"),
        filters.has_none_of_keys(F.col("attrs"), ["note"]).alias("f"),
        filters.has_only_matching_keys(F.col("attrs")).alias("g"),
    ).first()
    assert (row.a, row.b, row.c, row.d, row.e, row.f, row.g) == (
        True, False, True, False, True, False, False,
    )


def test_tag_projection_complex_regex(spark):
    # exact key set from filter.rs:335-360: only "wikimedia" survives
    keys = [
        "closed:source", "source", "source:x", "x:source:y", "opensource",
        "note", "url", "created_by", "fixme", "wikipedia", "wikimedia",
    ]
    df = _df_from_maps(spark, [{k: "v" for k in keys}])
    out = filters.remove_tags(df).select(
        F.array_sort(F.map_keys("attrs")).alias("ks")
    ).first()
    assert out.ks == ["wikimedia"]


def test_filter_by_tag_value_and_keys(spark):
    df = _df_from_maps(spark, [{"highway": "primary"}, {"highway": "footway"}, {"x": "y"}])
    assert filters.filter_by_tag_value(df, "highway", "^primary$").count() == 1
    assert filters.filter_by_tag_keys(df, ["highway"]).count() == 2
    assert filters.filter_by_tag_keys(df, ["highway"], keep=False).count() == 1


def test_remove_metadata(spark):
    df = spark.createDataFrame(
        [(1, 7, "alice")], "id int, version int, user string"
    )
    row = filters.remove_metadata(df).first()
    assert (row.id, row.version, row.user) == (1, 0, "")
