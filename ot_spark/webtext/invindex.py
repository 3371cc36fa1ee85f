"""Inverted-index construction: term -> (df, tf, capped posting list).

The classic web-corpus index build (the canonical MapReduce example;
Dean & Ghemawat 2004, public): tokenize, emit (term, doc) postings,
aggregate per term.  Distributed shape — TWO exchanges total:

1. explode tokens -> groupBy(term, doc) with map-side partial count
   (the per-document term frequency), so the first shuffle carries one
   row per distinct (term, doc), not one per token occurrence;
2. window rank + groupBy on ``term`` — Spark reuses the term hash
   partitioning between the window and the aggregate, so ranking and
   the final rollup share one exchange (plan-pinned).

POSTING CAP AT BUILD, not after: the gate keeps the first
``posting_cap`` doc ids per term, and the cap is applied via
row_number BEFORE the collect_list (collect_list skips the nulls the
``when`` produces), so aggregate state per term is bounded — a
mega-term ("the") never materializes its full posting list in one
task.  df/tf still aggregate over ALL postings.  A production index
sink would instead range-partition by term and spill full postings per
shard; the capped form is the register-style gate twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import TOKENS_COL, _materialize, with_tokens


def inverted_index(docs: DataFrame, posting_cap: int) -> DataFrame:
    """(term, df, tf, postings): document frequency, total term
    frequency, and the first ``posting_cap`` doc ids ascending."""
    t = with_tokens(docs.select("doc_id", "text"))
    per_doc = (
        t.select(F.col("doc_id").alias("doc"), F.explode(TOKENS_COL).alias("term"))
        .groupBy("term", "doc")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rn = F.row_number().over(Window.partitionBy("term").orderBy("doc"))
    ranked = per_doc.withColumn("rn", rn)
    return ranked.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("tf"),
        F.sort_array(
            F.collect_list(
                F.when(F.col("rn") <= posting_cap, F.col("doc"))
            )
        ).alias("postings"),
    )


def _varint_bytes(g) -> "F.Column":
    """LEB128/varint encoded size of a non-negative BIGINT: 7 payload
    bits per byte, so bytes = max(1, ceil(bit_length/7)).  Expressed as
    a threshold when-chain (integer-exact, JVM-side, no float log);
    any long >= 2^56 takes the maximal 9 bytes."""
    b = F.when(g < (1 << 7), 1)
    for n in range(2, 9):
        b = b.when(g < (1 << (7 * n)), n)
    return b.otherwise(9)


def delta_postings(docs: DataFrame, posting_cap: int) -> DataFrame:
    """Delta-gap + varint compression stats for the capped posting lists
    — the standard index-compression layer (Zobel & Moffat 2006,
    public): sorted doc ids become first-id-then-gaps, and small gaps
    varint-encode in 1-2 bytes instead of 8.

    Everything is Column algebra over the inverted_index output — the
    gap transform references the postings array as a bound column (NOT
    re-derived per element; see the Catalyst lambda-inlining hazard),
    and the byte tally is one F.aggregate fold — so compression adds
    ZERO exchanges on top of the index build's two.

    Returns (term, df, gaps, bytes_varint, bytes_raw): the gap array
    element-for-element, its varint-encoded size, and the uncompressed
    8-bytes-per-id size of the same capped list.
    """
    idx = inverted_index(docs, posting_cap)
    p = F.col("postings")
    gaps = F.transform(
        p,
        lambda x, i: x - F.when(i > 0, F.element_at(p, i)).otherwise(F.lit(0)),
    )
    out = idx.select(
        "term",
        "df",
        gaps.alias("gaps"),
        (F.size(p).cast("long") * 8).alias("bytes_raw"),
    )
    vb = F.aggregate(
        F.col("gaps"),
        F.lit(0).cast("long"),
        lambda acc, g: acc + _varint_bytes(g).cast("long"),
    )
    return out.select(
        "term", "df", "gaps", vb.alias("bytes_varint"), "bytes_raw"
    )


def pmi_pairs(docs: DataFrame, min_pair_count: int) -> DataFrame:
    """Pointwise mutual information over within-document term
    co-occurrence (Church & Hanks 1990, public) — the corpus-linguistics
    collocation panel: PMI(x,y) = ln(N * df_xy / (df_x * df_y)) over
    document frequencies.

    Distributed shape: per-document DISTINCT terms (map-side
    array_distinct — presence, not frequency), pairs by a SELF-JOIN ON
    the document id with x < y, so the join is co-partitioned on one
    key and never cartesian; then one groupBy per pair and a broadcast
    of the unigram df table (vocabulary-sized) onto both legs.  At web
    scale the vocabulary leg is restricted to a broadcast top-V
    frequent-term list first (the tfidf operator's pattern) — pair
    cardinality is then V-bounded per document regardless of corpus
    size.

    PMI is the one float in the output, rounded to 6 dp for the
    cross-engine gate (counts are BIGINTs).
    """
    t = with_tokens(docs.select("doc_id", "text"))
    # three consumers (pair legs a and b, the df table) — tokenize once.
    # repartition("doc") BEFORE the materialization: localCheckpoint
    # preserves outputPartitioning, so the pair self-join below reads both
    # legs co-partitioned on doc and plans ZERO further exchanges (one
    # repartition replaces the two per-leg join exchanges of the same
    # stream — the substring_dup shared-shuffle pattern, guide §2.4).
    terms = _materialize(
        t.select(
            F.col("doc_id").alias("doc"),
            F.explode(F.array_distinct(F.col(TOKENS_COL))).alias("term"),
        ).repartition("doc")
    )
    a = terms.select("doc", F.col("term").alias("x"))
    b = terms.select("doc", F.col("term").alias("y"))
    pairs = (
        a.join(b, "doc")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
        .where(F.col("n_xy") >= min_pair_count)
    )
    df_t = terms.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = docs.count()
    out = (
        pairs.join(
            F.broadcast(df_t.select(F.col("term").alias("x"),
                                    F.col("df").alias("df_x"))), "x")
        .join(
            F.broadcast(df_t.select(F.col("term").alias("y"),
                                    F.col("df").alias("df_y"))), "y")
    )
    pmi = F.round(
        F.log(F.lit(float(n)) * F.col("n_xy")
              / (F.col("df_x") * F.col("df_y"))), 6
    )
    return out.select("x", "y", "n_xy", "df_x", "df_y", pmi.alias("pmi"))
