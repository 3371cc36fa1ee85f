"""End-to-end corpus curation: the composed cleaning pipeline + TF-IDF.

``corpus_clean`` is the operator a 100 TB pretraining-data run actually
executes: exact dedup + quality gates + repetition gates + language id,
FUSED over a single tokenizer evaluation.  Composing the individual
``with_*`` helpers would tokenize every document three times (each helper
calls ``with_tokens`` itself); here the token array is bound once and
every feature family references the same attribute — the same
materialize-once discipline the round-4 plan guards pin for the
individual operators.

Scale shape: one narrow map stage computes every per-document feature
(quality ratios, repetition fold, langid argmax), then ONE shuffle — the
dedup window on ``md5(text)`` — decides keepers.  Gates are applied after
the window so the filter is a post-shuffle map; at 100 TB the heavy text
columns are pruned before the exchange (only doc_id, hash and the few
numeric features shuffle — enforced by selecting before the window).

``tfidf_top_terms`` builds the per-source top-k TF-IDF table the way a
distributed vocabulary/term-weighting job does: explode -> per-(term,doc)
partial counts (map-side combinable), then document frequency and
per-source term mass derived from that SAME aggregate — the wide base agg
is shuffled once and reused, and the tiny term->df side is joined after
(broadcast at gate scale, AQE-planned at 100 TB where the vocabulary can
be large).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import TOKENS_COL, _materialize, with_tokens
from .textstats import LANG_STOPWORDS

# corpus_clean's keep thresholds (gate_condition)
MIN_TOKENS, MAX_TOKENS = 5, 5000
MIN_STOPWORD_RATIO = 0.02
MAX_TOP_BIGRAM_FRAC, MAX_DUP_TOKEN_FRAC = 0.18, 0.5


def clean_features(df: DataFrame) -> DataFrame:
    """The narrow per-document feature frame every cleaning variant shares:
    one tokenizer evaluation feeding quality, repetition, and langid, plus
    the content hash — all per-row and STATELESS (no window, no shuffle).

    Columns: doc_id, __hash, n_tokens, stopword_ratio, lang_pred,
    dup_token_frac (rounded), __top_frac / __dup_frac (unrounded, for the
    gate compares)."""
    from .textstats import token_stats_col

    tok = with_tokens(df)
    toks = F.col(TOKENS_COL)

    # ONE Arrow pass computes every integer feature (per-language stopword
    # hits, top-bigram multiplicity, distinct-token count); n_tokens and
    # every ratio/round are JVM expressions.
    scored = tok.withColumn(
        "__cs", token_stats_col(LANG_STOPWORDS)(toks)
    ).withColumns(
        {
            "n_tokens": F.size(toks).cast("long"),
            "stopword_ratio": F.round(
                F.col("__cs.sc_en") / F.greatest(F.size(toks), F.lit(1)), 6
            ),
            "__top_n": F.col("__cs.top2"),
            "__n_bg": F.greatest(F.size(toks) - 1, F.lit(0)),
            "__n_distinct": F.col("__cs.nd"),
            "__hash": F.md5(F.col("text")),
        }
    )
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(LANG_STOPWORDS):
        cond = F.col(f"__cs.sc_{lang}") > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, F.col(f"__cs.sc_{lang}")).otherwise(best_score)

    n_toks = F.col("n_tokens")
    top_frac = F.when(
        F.col("__n_bg") > 0, F.col("__top_n") / F.col("__n_bg")
    ).otherwise(F.lit(0.0))
    dup_frac = F.when(
        n_toks > 0, 1.0 - F.col("__n_distinct") / n_toks
    ).otherwise(F.lit(0.0))

    # prune to the shuffle-light projection BEFORE any dedup: the exchange
    # (or the stream's dedup state) carries a hash + a handful of
    # numerics, never the text
    return scored.select(
        "doc_id",
        "__hash",
        "n_tokens",
        "stopword_ratio",
        best_lang.alias("lang_pred"),
        F.round(dup_frac, 6).alias("dup_token_frac"),
        top_frac.alias("__top_frac"),
        dup_frac.alias("__dup_frac"),
    )


def gate_condition():
    """The quality + repetition keep-predicate over clean_features columns.
    Identical text yields identical features, so this commutes with exact
    dedup — batch applies it after the keeper window, the stream before
    the dedup state (cheaper: dropped rows never enter state)."""
    return (
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("n_tokens") <= MAX_TOKENS)
        & (F.col("stopword_ratio") >= MIN_STOPWORD_RATIO)
        & (F.col("__top_frac") <= MAX_TOP_BIGRAM_FRAC)
        & (F.col("__dup_frac") <= MAX_DUP_TOKEN_FRAC)
    )


OUT_COLS = ["doc_id", "lang_pred", "n_tokens", "stopword_ratio", "dup_token_frac"]


def corpus_clean(df: DataFrame) -> DataFrame:
    """Survivors of the full cleaning pipeline, with their features.

    Keep a document iff ALL of:
      - it is the exact-dedup keeper (lowest doc_id for its md5(text));
      - ``MIN_TOKENS <= n_tokens <= MAX_TOKENS``;
      - rounded stopword_ratio >= ``MIN_STOPWORD_RATIO`` (rounded on BOTH
        engines so the threshold compare cannot straddle a ulp);
      - Gopher repetition gates on the UNROUNDED fractions (matching the
        standalone repetition operator's oracle semantics).
    """
    narrow = clean_features(df)
    w = Window.partitionBy("__hash").orderBy(F.asc("doc_id"))
    return (
        narrow.withColumn("__rn", F.row_number().over(w))
        .where(
            (F.col("__rn") == 1)
            & gate_condition()
        )
        .select(*OUT_COLS)
    )


def unigram_logprob(df: DataFrame, total_tokens: int) -> DataFrame:
    """Per-document unigram LM score: avg_neg_logp = -mean(ln p(token)),
    the CCNet-style perplexity proxy (Wenzek et al. 2020 filter corpora by
    LM perplexity; a unigram model keeps both engines exactly replayable —
    the shape, corpus-LM train then per-doc score, is identical for any
    n-gram order).

    Two passes over the exploded tokens: a map-side-combinable vocabulary
    count, then a score join + per-doc agg.  The vocabulary join carries
    NO broadcast hint: a hint would pin BroadcastHashJoin at any scale and
    a corpus-derived vocabulary can outgrow the driver at 100 TB — AQE
    converts to broadcast at runtime when the built side is actually small
    (it is at gate scale, after the map-side combine).  ``total_tokens`` is supplied by the caller
    (one scalar agg job) so the plan is a straight tree.  Documents with
    zero tokens have no probability mass and drop out (both engines)."""
    tok = with_tokens(df)
    terms = _materialize(
        tok.select("doc_id", F.explode(F.col(TOKENS_COL)).alias("term"))
    )
    vocab = terms.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("c"))
    scored = terms.join(vocab, "term").select(
        "doc_id",
        (-F.log(F.col("c") / F.lit(float(total_tokens)))).alias("nl"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.avg("nl"), 6).alias("avg_neg_logp"),
    )


def tfidf_top_terms(df: DataFrame, n_docs: int, k: int) -> DataFrame:
    """Top-``k`` TF-IDF terms per source.

    score(source, term) = tf(source, term) * ln(N / df(term)), where tf is
    the total occurrence count in the source's documents and df the number
    of distinct documents containing the term.  Ranked on the ROUNDED
    score (ties -> term ascending) so both engines rank identical keys.

    ``n_docs`` is passed in (one scalar count job at the call site) so the
    plan stays a straight agg tree.  Both downstream aggregates derive
    from the same per-(term, doc) base aggregate: the corpus-sized explode
    is shuffled once, and the term->df side (vocabulary-sized, far
    smaller) joins after — broadcast at gate scale, AQE decides at 100 TB.
    """
    tok = with_tokens(df)
    terms = tok.select(
        "doc_id", "source", F.explode(F.col(TOKENS_COL)).alias("term")
    )
    base = terms.groupBy("term", "source", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    # LINEAR cascade — ONE corpus-sized exchange, everything after it
    # vocabulary-scale.  Deriving df and per-source tf as two separate
    # branches over `base` would scan + explode the corpus TWICE: column
    # pruning makes the two subtrees non-identical, so neither
    # ReuseExchange nor AQE dedupes them (verified on the final adaptive
    # plan).  Instead each stage aggregates the PREVIOUS stage's output:
    # base rows are unique per (term, doc) (a doc has one source), so
    # count(*) per (term, source) sums over sources to distinct-docs per
    # term; the df window runs on the (term x source) frame, never the
    # corpus.  No collect_list — a stopword term appearing in every
    # document stays (term, source)-row-shaped, not a 10^12-element list.
    per_src = base.groupBy("term", "source").agg(
        F.sum("c").cast("long").alias("tf"),
        F.count(F.lit(1)).alias("nd"),
    )
    per_src = per_src.withColumn(
        "df", F.sum("nd").over(Window.partitionBy("term")).cast("long")
    )
    scored = per_src.withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6),
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("source", "term", "tf", "df", "tfidf", "rnk")
    )


def stratified_sample(df: DataFrame, quota: int) -> DataFrame:
    """Deterministic per-stratum sample: the ``quota`` documents with the
    smallest md5(id) per stratum — the data-mixing primitive (fix the
    per-source/per-language ratio of a training mix) with a stable,
    engine-independent choice of rows (no RNG, no sampleBy seed drift;
    re-running on the same table always picks the same documents).

    One shuffle on the stratum key; Spark plans the top-``quota`` as
    WindowGroupLimit (partial before the exchange, final after), so each
    map task forwards at most ``quota`` rows per stratum — the exchange
    carries O(strata x quota), not the corpus."""
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= quota)
        .select("doc_id", "source", F.col("__rn").cast("long").alias("pick"))
    )


def pack_bins(df: DataFrame, budget: int) -> DataFrame:
    """Sequence-packing assignment: concatenate documents in deterministic
    (doc_id) order within each stratum and cut at every ``budget``
    tokens — each document gets the bin its first token lands in and its
    offset within that bin (the boundary-splitting packing a pretraining
    tokenizer run performs; documents longer than the remainder spill
    into the next bin).

    Pure prefix-sum arithmetic: a running-sum window per stratum, all
    integers, no UDF.  The window is per-stratum, so parallelism = number
    of strata (shards); a 100 TB run packs within shards by construction
    — a single global ordering would serialize into one task and is
    deliberately not offered."""
    toks = with_tokens(df)
    n = F.size(F.col(TOKENS_COL)).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return (
        toks.select("doc_id", "source", n.alias("n_tokens"))
        .withColumn("bin", F.floor(prefix / budget).cast("long"))
        .withColumn("offset", (prefix % budget).cast("long"))
    )


def bigram_logprob(df: DataFrame, total_tokens: int) -> DataFrame:
    """Interpolated bigram LM score per document:
    p(t_i | t_{i-1}) = lam * c(t_{i-1} t_i)/c(t_{i-1})
                     + (1 - lam) * c(t_i)/N,
    first token scored by the unigram; avg_neg_logp = -mean(ln p) — the
    n-gram step up from ``unigram_logprob`` (same train-then-score shape
    CCNet uses with a full LM).

    Plan: positions from ONE posexplode (the token array is carried so
    the predecessor is an element_at, not a self-join); unigram and
    bigram count tables aggregate map-side and join back onto the
    position stream without broadcast hints — the count tables are
    corpus-derived, so AQE (not a pinned hint that could OOM the driver
    at 100 TB) decides broadcast vs shuffle from their runtime size;
    within-corpus scoring means every (prev, term) pair exists in the
    bigram table, so the joins stay inner."""
    lam = 0.7
    tok = with_tokens(df)
    pos = tok.select(
        "doc_id",
        F.col(TOKENS_COL).alias("__t"),
        F.posexplode(F.col(TOKENS_COL)).alias("i", "term"),
    ).select(
        "doc_id",
        "i",
        "term",
        F.when(F.col("i") > 0, F.element_at("__t", F.col("i"))).alias("prev"),
    )
    # four consumers (uni, bi, first, rest) — tokenize+posexplode once
    pos = _materialize(pos)
    # 1.0 - 0.7 is 0.30000000000000004 in IEEE double, one ulp OFF the SQL
    # literal 0.3 the oracle uses — re-round so both engines interpolate
    # with the identical coefficient (round(6) would usually absorb the
    # difference, but a score landing on a rounding boundary would not)
    om = round(1.0 - lam, 10)
    uni = pos.groupBy("term").agg(F.count(F.lit(1)).alias("cu"))
    bi = (
        pos.where("i > 0")
        .groupBy("prev", "term")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    up = uni.select(F.col("term").alias("prev"), F.col("cu").alias("cp"))
    n = float(total_tokens)
    # ONE pass over the position stream (guide §2.4): the old
    # first(i=0)/rest(i>0) branch pair re-read the materialized stream and
    # re-ran the join chain twice before a union; fused, the i=0 rows ride
    # the same joins as LEFT joins (their null prev never matches) and a
    # CASE picks the unigram score.  For i>0 the left joins are inner in
    # effect — within-corpus scoring guarantees every (prev, term) exists.
    # Per-row scores are the identical expressions; only the aggregation
    # ORDER changes, absorbed by the 6dp round (snapshot-verified).
    scored = (
        pos.join(uni, "term")
        .join(up, "prev", "left")
        .join(bi, ["prev", "term"], "left")
        .select(
            "doc_id",
            F.when(F.col("i") == 0, -F.log(F.col("cu") / n))
            .otherwise(
                -F.log(
                    lam * (F.col("cb") / F.col("cp"))
                    + om * (F.col("cu") / n)
                )
            )
            .alias("nl"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg("nl"), 6).alias("avg_neg_logp"),
        )
    )


def ccnet_buckets(df: DataFrame, total_tokens: int) -> DataFrame:
    """CCNet head/middle/tail split (Wenzek et al. 2020): rank documents by
    LM perplexity WITHIN each group and cut into three equal-count
    buckets — head = lowest perplexity (most LM-like), the slice CCNet
    keeps for pretraining.

    Exact semantics: ntile over (perplexity ASC, doc_id ASC) per group —
    deterministic and replayable bit-for-bit in the DuckDB oracle.  The
    window sorts WITHIN each group; CCNet's groups are per-language (a few
    hundred), so at 100 TB a single group is billions of rows and an exact
    per-group total order is one giant sort.  The published pipeline
    sidesteps it by computing the two cut points from a sample and
    bucketing map-side; the exact window is the correctness reference and
    the right tool at per-shard cardinalities."""
    scored = unigram_logprob(df, total_tokens=total_tokens)
    scored = scored.join(df.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.asc("avg_neg_logp"), F.asc("doc_id")
    )
    labels = F.array(F.lit("head"), F.lit("middle"), F.lit("tail"))
    out = scored.withColumn("bucket", F.element_at(labels, F.ntile(3).over(w)))
    return out.select("doc_id", "source", "avg_neg_logp", "bucket")
