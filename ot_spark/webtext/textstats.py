"""Text analysis: language-id, quality scoring, token stats, fingerprints.

Tokenizing, scoring and every ratio are JVM Column algebra (regexp + array
expressions); the integer folds over a token array (n-gram run stats,
stopword hits, distinct tokens, the rolling fingerprint) run in Arrow UDFs
over ``pyarrow`` arrays.  These are the per-document map-side transforms a
100 TB curation pipeline runs before any shuffle.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from .dedup import TOKENS_COL, row_lists, tokens_col, with_tokens

# tiny deterministic stopword profiles (heuristic lang-id; a real system
# would ship n-gram tables — same plumbing, bigger literals)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "auf"],
    "fr": ["le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des"],
    "es": ["el", "la", "los", "de", "que", "es", "en", "para", "por", "con"],
    "nl": ["de", "het", "een", "en", "van", "is", "dat", "niet", "met", "voor"],
}


# ---- Arrow-batched integer token features ------------------------------
#
# The per-document fold/filter features (n-gram run stats, stopword hit
# counts, distinct-token counts) were originally higher-order-function
# expressions (F.aggregate / F.filter over the token array).  HOFs are
# CodegenFallback — every element evaluates an interpreted expression tree
# with per-step struct allocation — and they dominated the curation
# queries' bench time (repetition_full 14s at 10x sf0.1).  These UDFs
# compute the SAME integers per document in one Arrow batch pass:
# - run stats over the sorted n-gram array == n-gram multiplicity stats,
#   so Counter(multiplicities) reproduces the fold exactly (longest equal
#   run = max multiplicity; elements inside runs >= 2 = sum of
#   multiplicities >= 2);
# - token equality is plain string equality in both engines, and tokens
#   are [A-Za-z0-9]+ so tuple identity == joined-span identity.
# Only INTEGERS cross back — every ratio/round stays in the same JVM
# expressions as before, so results are bit-identical (pinned by the
# snapshot gate and tests/test_round7.py parity tests).


def _ngram_counter_stats(toks: list, n: int) -> tuple[int, int]:
    if len(toks) < n:
        return 0, 0
    counts: dict = {}
    if n == 1:
        it = toks
    else:
        it = zip(*(toks[i:] for i in range(n)))
    for g in it:
        counts[g] = counts.get(g, 0) + 1
    best, dups = 0, 0
    for v in counts.values():
        if v > best:
            best = v
        if v > 1:
            dups += v
    return best, dups


def _int32_struct(cols: dict[str, list]) -> pa.StructArray:
    """A struct of int32 fields from per-field Python lists (None -> NULL)."""
    return pa.StructArray.from_arrays(
        [pa.array(v, type=pa.int32()) for v in cols.values()], names=list(cols)
    )


def repetition_stats_col() -> Column:
    """Arrow UDF factory: token array -> struct(best{n}, dups{n} ...) —
    the integer twin of _run_stats(array_sort(ngrams_col(toks, n)))."""
    ns = (2, 3, 4)
    names = [f"{k}{n}" for n in ns for k in ("best", "dups")]
    schema = StructType([StructField(name, IntegerType()) for name in names])

    @F.arrow_udf(schema)
    def stats(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for col in it:
            out: dict[str, list[int]] = {name: [] for name in names}
            for toks in row_lists(col):
                for n in ns:
                    best, dups = _ngram_counter_stats(toks or [], n)
                    out[f"best{n}"].append(best)
                    out[f"dups{n}"].append(dups)
            yield _int32_struct(out)

    # nondeterministic marker: stops column pruning from cloning the UDF
    # once per extracted struct field (see enrich_fused.spatial_enrich)
    return stats.asNondeterministic()


def token_stats_col(langs: dict[str, list[str]]) -> Column:
    """Arrow UDF factory: token array -> struct(sc_<lang>..., top2, nd) in
    ONE pass: per-language stopword hit counts (== size(filter(toks,
    isin(words)))), the top bigram multiplicity (== the longest equal run
    of the sorted bigram array) and the distinct-token count (==
    size(array_distinct(toks))).  A null token array gives null fields, as
    those expressions do.  The JVM forms are higher-order functions —
    CodegenFallback, interpreted per element."""
    keys = sorted(langs)
    sets = {k: frozenset(langs[k]) for k in keys}
    names = [f"sc_{k}" for k in keys] + ["top2", "nd"]
    schema = StructType([StructField(name, IntegerType()) for name in names])

    @F.arrow_udf(schema)
    def stats(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for col in it:
            out: dict[str, list] = {name: [] for name in names}
            for t in row_lists(col):
                if t is None:
                    for name in names:
                        out[name].append(None)
                    continue
                for k in keys:
                    s = sets[k]
                    out[f"sc_{k}"].append(sum(1 for x in t if x in s))
                out["top2"].append(_ngram_counter_stats(t, 2)[0])
                out["nd"].append(len(set(t)))
            yield _int32_struct(out)

    return stats.asNondeterministic()


def with_langid(df: DataFrame) -> DataFrame:
    """argmax over stopword-hit counts; ties -> alphabetical first; zero
    hits -> 'und' (undetermined).

    Tokens and the five per-language scores are materialized as bound
    columns before the argmax when-chain: the chain references each score
    twice (condition + value), and an inline-expression variant would
    re-run the tokenizer regexp ~10x per row (see ``with_tokens``)."""
    tok = with_tokens(df)
    score_cols = {
        f"__sc_{lang}": F.size(F.filter(F.col(TOKENS_COL), lambda t: t.isin(words)))
        for lang, words in LANG_STOPWORDS.items()
    }
    scored = tok.withColumns(score_cols)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(LANG_STOPWORDS):
        cond = F.col(f"__sc_{lang}") > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, F.col(f"__sc_{lang}")).otherwise(best_score)
    return scored.withColumn("lang_pred", best_lang).drop(TOKENS_COL, *score_cols)


def quality_features(text: Column, tokens: Column | None = None) -> dict[str, Column]:
    toks = tokens_col(text) if tokens is None else tokens
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    # char-class counts via translate deletion (len(text) - len(text minus
    # the class)) — a plain char-map scan instead of a regex engine pass
    # building the complement string; identical counts (both enumerate the
    # exact same code points)
    _alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    alpha_chars = n_chars - F.length(F.translate(text, _alpha, ""))
    punct_chars = n_chars - F.length(F.translate(text, ".,;:!?", ""))
    # sum of token lengths == length of the separator-less concat — plain
    # codegen string ops instead of a CodegenFallback interpreted fold
    # (same integer, so the division is bit-identical)
    mean_tok_len = F.when(
        n_tokens > 0,
        F.length(F.concat_ws("", toks)) / n_tokens,
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(LANG_STOPWORDS["en"])))
    return {
        "n_tokens": n_tokens.cast("long"),
        "n_chars": n_chars.cast("long"),
        "alpha_ratio": F.round(alpha_chars / F.greatest(n_chars, F.lit(1)), 6),
        "punct_ratio": F.round(punct_chars / F.greatest(n_chars, F.lit(1)), 6),
        "mean_token_len": F.round(mean_tok_len, 6),
        "stopword_ratio": F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 6),
    }


def with_quality(df: DataFrame) -> DataFrame:
    tok = with_tokens(df)
    feats = quality_features(F.col("text"), tokens=F.col(TOKENS_COL))
    out = tok.withColumns(feats).drop(TOKENS_COL)
    # simple composite score in [0,1]: length-normalized, penalize
    # punctuation soup, reward alpha + stopword presence
    score = (
        F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.col("alpha_ratio") * 0.3
        + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.2
        + (1.0 - F.least(F.col("punct_ratio") * 10.0, F.lit(1.0))) * 0.1
    )
    return out.withColumn("quality_score", F.round(score, 6))


FP_PRIME = 2147483647  # 2^31 - 1: keeps the rolling product ANSI-overflow-safe


def token_hashes(tokens: Column, hash_mode: str = "xxhash") -> Column:
    """Per-token hash mod 2^31-1, computed ONCE per token.  Each token sits
    in up to ``window`` overlapping spans; hashing inside the window fold
    would re-hash it that many times (an 8x md5 tax in portable mode)."""
    from .dedup import _token_hash

    return F.transform(
        tokens, lambda t: F.pmod(_token_hash(t, hash_mode), F.lit(FP_PRIME))
    )


def _rolling_over_hashes(hashed: Column, window: int) -> Column:
    # the index range is DELIBERATELY derived from size(hashed), not from a
    # caller-supplied token count: two references to the hash array keep
    # CollapseProject from inlining a materialized __thash column back into
    # the per-window lambda (single-reference inlining re-hashes every
    # token per window — measured quadratic, 3x slower than no
    # materialization at all)
    def window_hash(i: Column) -> Column:
        span = F.slice(hashed, i + 1, window)
        return F.aggregate(
            span,
            F.lit(0).cast("long"),
            lambda acc, h: F.pmod(acc * 31 + h, F.lit(FP_PRIME)),
        )

    idx = F.sequence(F.lit(0), F.greatest(F.size(hashed) - window, F.lit(0)))
    return F.transform(idx, window_hash)


def fingerprint_min_col(window: int = 8) -> Column:
    """Arrow UDF factory: token-hash array -> min rolling-window
    fingerprint, the Arrow twin of ``array_min(_rolling_over_hashes(...))``.

    The JVM form is a CodegenFallback higher-order transform+aggregate —
    O(n * window) interpreted lambda steps per document.  Here the same
    polynomial is ``window`` vectorized numpy ops over all window starts
    (values stay < 2^31-1, so acc*31+h < 2^36 never overflows int64 and
    ``%`` equals pmod).  Fewer than ``window`` tokens fold one partial
    window exactly like ``sequence(0, greatest(n-w, 0))`` does; null hash
    arrays map to null."""

    @F.arrow_udf(LongType())
    def fpmin(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        p = FP_PRIME
        for col in it:
            out: list = []
            for h in col.to_numpy(zero_copy_only=False):
                if h is None:
                    out.append(None)
                    continue
                a = np.asarray(h, dtype=np.int64)
                n = len(a)
                if n >= window:
                    nw = n - window + 1
                    fp = np.zeros(nw, dtype=np.int64)
                    for j in range(window):
                        fp = (fp * 31 + a[j:j + nw]) % p
                    out.append(int(fp.min()))
                else:
                    acc = 0
                    for v in a.tolist():
                        acc = (acc * 31 + int(v)) % p
                    out.append(acc)
            yield pa.array(out, type=pa.int64())

    return fpmin


def with_fingerprint(df: DataFrame, hash_mode: str = "xxhash") -> DataFrame:
    """Winnowing-lite document fingerprint: min window hash (stable under
    local edits) + full-content hash.

    Token hashes are materialized as a bound column (hashing inside the
    window fold would re-hash every token per window, see ``with_tokens``);
    the rolling fold itself runs in ONE Arrow pass
    (:func:`fingerprint_min_col` — bit-identical to the JVM
    transform+aggregate, pinned by ``test_fingerprint_min_matches_fold``)."""
    window = 8
    hashed = with_tokens(df).withColumn(
        "__thash", token_hashes(F.col(TOKENS_COL), hash_mode)
    )
    return hashed.withColumns(
        {
            "fingerprint_min": fingerprint_min_col(window)(F.col("__thash")),
            "content_hash": F.md5(F.col("text")),
        }
    ).drop(TOKENS_COL, "__thash")


def with_repetition(df: DataFrame) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, public): the
    fraction of mass in the most-repeated bigram and the duplicate-token
    fraction.  Heavily repetitive pages (boilerplate, keyword stuffing,
    generation loops) are the canonical web-curation drop class.

    Both metrics are map-side: the top-bigram multiplicity and the
    distinct-token count come from one Arrow pass (:func:`token_stats_col`)
    and every fraction is a JVM expression — no explode/groupBy, so the
    operator adds zero shuffles at 100 TB.  Line-based Gopher metrics
    (duplicate-line fraction) are omitted: the corpus is single-line by
    construction and the plumbing would be the same split+fold.

    ``keep_repetition`` applies Gopher-ish thresholds (top bigram <= 0.18
    of bigram mass, <= 50%% duplicate tokens)."""
    tok = with_tokens(df)
    toks = F.col(TOKENS_COL)
    out = tok.withColumn("__st", token_stats_col({})(toks)).withColumns(
        {
            "n_bigrams": F.greatest(F.size(toks) - 1, F.lit(0)).cast("long"),
            "top_bigram_n": F.col("__st.top2").cast("long"),
        }
    )
    n_toks = F.size(toks)
    top_frac = F.when(
        F.col("n_bigrams") > 0, F.col("top_bigram_n") / F.col("n_bigrams")
    ).otherwise(F.lit(0.0))
    dup_frac = F.when(
        n_toks > 0,
        1.0 - F.col("__st.nd") / n_toks,
    ).otherwise(F.lit(0.0))
    return out.withColumns(
        {
            "top_bigram_frac": F.round(top_frac, 6),
            "dup_token_frac": F.round(dup_frac, 6),
            "keep_repetition": (top_frac <= 0.18) & (dup_frac <= 0.5),
        }
    ).drop(TOKENS_COL, "__st")


def ngrams_col(tokens: Column, n: int) -> Column:
    """Adjacent word n-grams WITH multiplicity: position i joins tokens
    i..i+n-1, so a doc with t tokens yields t-n+1 n-grams (0 for t < n);
    ``tokens`` must be a bound column."""
    return F.filter(
        F.transform(tokens, lambda _t, i: F.concat_ws(" ", F.slice(tokens, i + 1, n))),
        lambda _s, i: i <= F.size(tokens) - n,
    )


def _run_stats(sorted_arr: Column) -> Column:
    """(longest equal run, total elements inside runs of length >= 2) over
    a SORTED array, as one fold — run length == multiplicity, so this
    yields the top-gram count and the duplicated-gram count without any
    explode/groupBy (zero shuffles, same as with_repetition's fold)."""
    fin = F.aggregate(
        sorted_arr,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit(0).alias("dups"),
        ),
        lambda acc, s: F.struct(
            s.alias("prev"),
            F.when(s == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best, F.when(s == acc.prev, acc.run + 1).otherwise(F.lit(1))
            ).alias("best"),
            # close the previous run when the value changes
            (
                acc.dups
                + F.when(
                    (s != acc.prev) & (acc.run > 1), acc.run
                ).otherwise(F.lit(0))
            ).alias("dups"),
        ),
        # finisher: close the final run
        lambda acc: F.struct(
            acc.best.alias("best"),
            (acc.dups + F.when(acc.run > 1, acc.run).otherwise(F.lit(0))).alias(
                "dups"
            ),
        ),
    )
    return fin


# Gopher Table A1 thresholds (token-count approximation of the paper's
# character-fraction variant — documented, identical on both engines)
GOPHER_TOP_THRESH = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_THRESH = {2: 0.40, 3: 0.35, 4: 0.30}


def with_repetition_full(df: DataFrame) -> DataFrame:
    """The full Gopher repetition panel: for n in 2..4, the mass of the
    most frequent n-gram (``top_{n}gram_frac``) and the fraction of
    n-grams occurring more than once (``dup_{n}gram_frac``), plus the
    combined ``keep_repetition_full`` gate.  Everything is one map stage:
    three sorted-array folds over the SAME bound token column — no
    explode, no shuffle, no second tokenizer evaluation."""
    tok = with_tokens(df)
    toks = F.col(TOKENS_COL)
    # one Arrow pass computes all six integers (see repetition_stats_col);
    # every fraction below is the same JVM expression as before
    out = tok.withColumn(
        "__st", repetition_stats_col()(toks)
    ).withColumn("__ntok", F.size(toks))
    keep = F.lit(True)
    frac_cols = {}
    for n in (2, 3, 4):
        total = F.greatest(F.col("__ntok") - (n - 1), F.lit(0))
        top = F.when(total > 0, F.col(f"__st.best{n}") / total).otherwise(F.lit(0.0))
        dup = F.when(total > 0, F.col(f"__st.dups{n}") / total).otherwise(F.lit(0.0))
        frac_cols[f"top_{n}gram_frac"] = F.round(top, 6)
        frac_cols[f"dup_{n}gram_frac"] = F.round(dup, 6)
        keep = keep & (top <= GOPHER_TOP_THRESH[n]) & (dup <= GOPHER_DUP_THRESH[n])
    return (
        out.withColumns(frac_cols)
        .withColumn("keep_repetition_full", keep)
        .drop(TOKENS_COL, "__ntok", "__st")
    )


def exact_percentiles(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    percentiles: list[int] = (50, 90, 99),
) -> DataFrame:
    """EXACT per-key percentiles of a discrete metric via value-histogram
    + cumulative window — the corpus-health panel (median/p90/p99 page
    length per host) without sorting raw rows.

    The naive exact form windows over every row per key (a full sort of
    the corpus); the approximate form (approx_percentile / t-digest)
    gives up exactness.  For DISCRETE metrics — lengths, token counts,
    status codes — there is an exact middle path: groupBy(key, value)
    with map-side partial counts collapses the exchange to one row per
    distinct (key, value) pair (bounded by the value domain, not the
    corpus), then a cumulative-sum window over each key's small histogram
    reads off any percentile.  Two exchanges, the second over histogram
    rows only.  Heavy-tailed CONTINUOUS metrics should keep using a
    sketch; this is the exact twin for the discrete case.

    Percentile semantics: type-1 / percentile_disc — the smallest value
    whose cumulative count reaches ceil(p/100 * n).  Pure integer
    (ceil(a/b) = (a + b - 1) DIV b), so the DuckDB oracle replaying the
    same algebra matches bit-for-bit.

    Returns one row per key: (keys..., n, p{p}...).
    """
    from pyspark.sql import Window

    hist = df.groupBy(*keys, value_col).agg(F.count(F.lit(1)).alias("__c"))
    w = Window.partitionBy(*keys).orderBy(value_col)
    wk = Window.partitionBy(*keys)
    cum = hist.select(
        *keys,
        F.col(value_col).alias("__v"),
        F.sum("__c").over(w).alias("__cum"),
        F.sum("__c").over(wk).alias("__n"),
    )
    aggs = [F.max("__n").cast("long").alias("n")]
    for p in percentiles:
        # rank k = ceil(p/100 * n), computed in integers
        k = F.expr(f"(__n * {p} + 99) DIV 100")
        aggs.append(
            F.min(F.when(F.col("__cum") >= k, F.col("__v"))).alias(f"p{p}")
        )
    return cum.groupBy(*keys).agg(*aggs)
