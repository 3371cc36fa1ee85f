"""Referenced-id semi-join (J1) — the reference's two-pass bitmap contract
in one declarative plan.

Reference: pass 1 collects node ids referenced by accepted ways/relations
into a 50-gigabit bitmap (/root/reference/src/handler/collect.rs:7-53,
src/handler.rs:79-83); pass 2 keeps only flagged nodes (IdFilter,
src/handler/filter.rs:165-179).  In Spark the "bitmap" is just the build
side of a LEFT SEMI join: ``pages SEMI JOIN (explode(accepted_links.refs)
.distinct())`` — one pass over each table, shuffle (or broadcast, AQE's
choice) does the exchange, no 13.8 GB constant allocation.

Skip-elevation propagation (SkipElevationNodeCollector,
src/handler/skip_ele.rs:23-25): refs of links carrying a
bridge/tunnel/cutting/indoor attr with value != "no" are flagged
``no_elevation``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .filters import complex_filter

SKIP_ELEVATION_KEYS = ["bridge", "tunnel", "cutting", "indoor"]


def referenced_ids(
    links: DataFrame,
    out_name: str = "url",
    relations: DataFrame | None = None,
) -> DataFrame:
    """explode(refs) [∪ relation node-members] -> distinct — the accept-set
    build side.

    The reference collects ids from BOTH accepted ways' refs AND accepted
    relations' Node-type members (collect.rs:29-36: ``Member::Node{id} =>
    set bit``); pass ``relations`` (with an ``array<struct<type,id,role>>``
    member column) to get the second union leg."""
    ids = links.select(F.explode("refs").alias(out_name))
    if relations is not None:
        ids = ids.unionByName(member_node_ids(relations, out_name))
    return ids.distinct()


def member_node_ids(relations: DataFrame, out_name: str = "url") -> DataFrame:
    """Node-type member ids of relations (collect.rs:29-36 — only
    ``Member::Node`` sets the node bitmap; Way/Relation members don't)."""
    m = relations.select(F.explode("members").alias("m"))
    return m.where(F.col("m.type") == "node").select(F.col("m.id").alias(out_name))


def filter_referenced(
    pages: DataFrame,
    links: DataFrame,
    key_col: str = "url",
    apply_complex_filter: bool = True,
    relations: DataFrame | None = None,
) -> DataFrame:
    """Keep only pages referenced by (accepted) links — the full pass-1 +
    IdFilter contract in one plan (incl. the relation-member union leg when
    ``relations`` is given)."""
    accepted = complex_filter(links) if apply_complex_filter else links
    refs = referenced_ids(accepted, key_col, relations)
    return pages.join(refs, key_col, "left_semi")


def skip_elevation_condition(attrs: Column) -> Column:
    """any key in SKIP_ELEVATION_KEYS with value != 'no' (skip_ele.rs:23-25)."""
    terms = [
        F.coalesce(attrs.getItem(k) != "no", F.lit(False))
        for k in SKIP_ELEVATION_KEYS
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out | t
    return out


def no_elevation_ids(links: DataFrame) -> DataFrame:
    """Distinct ids referenced by skip-elevation links."""
    flagged = links.where(skip_elevation_condition(F.col("attrs")))
    return flagged.select(F.explode("refs").alias("url")).distinct()


def with_no_elevation_flag(pages: DataFrame, links: DataFrame) -> DataFrame:
    """Add boolean ``no_elevation`` via a left join against the flag set
    (the bitmap analog; NULL -> False)."""
    flags = no_elevation_ids(links).withColumn(
        "no_elevation", F.lit(True)
    )
    return pages.join(flags, "url", "left").withColumn(
        "no_elevation", F.coalesce(F.col("no_elevation"), F.lit(False))
    )
