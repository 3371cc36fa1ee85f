"""Text gate queries: tokens, quality and language id, PII scrub,
repetition, LM perplexity and CCNet buckets, TF-IDF, inverted index and
curation (sampling, packing, decontamination)."""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gate_queries.common import _TOKS_SQL, _read, _table_rows

# posting-list length of inverted_index and delta_postings, builder and oracle
POSTING_CAP = 10


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality ratios per doc (text-analysis op)."""
    docs = _read(spark, sf_dir, "documents", fan=True)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z0-9]+"), 0))
        .cast("long")
        .alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


TOKEN_STATS_ORACLE_SQL = (
    "SELECT doc_id, "
    "CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens, "
    "CAST(length(text) AS BIGINT) AS n_chars_actual FROM documents"
)


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed cleaning pipeline (exact dedup + quality + repetition
    + langid) fused over ONE tokenizer evaluation — the end-to-end
    curation query a pretraining-data run executes."""
    from ot_spark.webtext.curate import corpus_clean

    docs = _read(spark, sf_dir, "documents", fan=True)
    return corpus_clean(docs)


def corpus_clean_oracle_sql() -> str:
    from ot_spark.webtext.curate import (
        MAX_DUP_TOKEN_FRAC, MAX_TOKENS, MAX_TOP_BIGRAM_FRAC, MIN_STOPWORD_RATIO,
        MIN_TOKENS,
    )
    from ot_spark.webtext.textstats import LANG_STOPWORDS

    en = _stop_list_sql(LANG_STOPWORDS["en"])
    return f"""
WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
k AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
),
bgr AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks), 1)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t
),
counts AS (SELECT doc_id, bigram, count(*) AS c FROM bgr GROUP BY 1, 2),
top AS (SELECT doc_id AS top_doc, max(c) AS topc FROM counts GROUP BY 1),
feats AS (
  SELECT t.doc_id,
    len(toks) AS nt,
    {_langid_best_sql()} AS lang_pred,
    round(CAST(len(list_filter(toks, x -> list_contains({en}, x))) AS DOUBLE)
          / greatest(len(toks), 1), 6) AS stopword_ratio,
    CASE WHEN len(toks) > 1
         THEN coalesce(topc, 0) / (len(toks) - 1) ELSE 0 END AS top_frac,
    CASE WHEN len(toks) > 0
         THEN 1 - len(list_distinct(toks)) / len(toks) ELSE 0 END AS dup_frac
  FROM t LEFT JOIN top ON t.doc_id = top.top_doc
)
SELECT f.doc_id, lang_pred, CAST(nt AS BIGINT) AS n_tokens,
       stopword_ratio, round(dup_frac, 6) AS dup_token_frac
FROM feats f JOIN k ON k.doc_id = f.doc_id
WHERE k.rn = 1 AND nt >= {MIN_TOKENS} AND nt <= {MAX_TOKENS}
  AND stopword_ratio >= {MIN_STOPWORD_RATIO} AND top_frac <= {MAX_TOP_BIGRAM_FRAC} AND dup_frac <= {MAX_DUP_TOKEN_FRAC}
"""


def q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: 10 docs per source by smallest
    md5(doc_id) — the data-mixing quota primitive."""
    from ot_spark.webtext.curate import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(docs, quota=10)


SAMPLE_MIX_ORACLE_SQL = """
SELECT doc_id, source, CAST(pick AS BIGINT) AS pick FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS pick
  FROM documents
) WHERE pick <= 10
"""


def q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing bin/offset assignment (512-token bins per source)."""
    from ot_spark.webtext.curate import pack_bins

    docs = _read(spark, sf_dir, "documents")
    return pack_bins(docs, budget=512)


PACK_BINS_ORACLE_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
  FROM documents
), p AS (
  SELECT doc_id, source, n_tokens,
         coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
  FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(prefix // 512 AS BIGINT) AS bin,
       CAST(prefix % 512 AS BIGINT) AS "offset"
FROM p
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing an exact 8-token
    span with the held-out set (doc_id % 10 == 0 plays the benchmark)."""
    from ot_spark.webtext.dedup import contamination_flags

    docs = _read(spark, sf_dir, "documents", fan=True)
    return contamination_flags(
        docs.where("doc_id % 10 != 0"), docs.where("doc_id % 10 = 0")
    )


def decontaminate_oracle_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
w AS (
  SELECT DISTINCT doc_id, win FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(toks) - 6, 1)),
                  i -> array_to_string(list_slice(toks, i, i + 7), ' '))) AS win
    FROM t WHERE len(toks) >= 8
  )
),
ev AS (SELECT DISTINCT win FROM w WHERE doc_id % 10 = 0)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM w WHERE doc_id % 10 != 0 AND win IN (SELECT win FROM ev)
GROUP BY 1
"""


def q_repetition_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher repetition panel: top/dup n-gram fractions, n=2..4."""
    from ot_spark.webtext.textstats import with_repetition_full

    docs = _read(spark, sf_dir, "documents", fan=True)
    return with_repetition_full(docs).select(
        "doc_id",
        "top_2gram_frac", "dup_2gram_frac",
        "top_3gram_frac", "dup_3gram_frac",
        "top_4gram_frac", "dup_4gram_frac",
        "keep_repetition_full",
    )


def repetition_full_oracle_sql() -> str:
    from ot_spark.webtext.textstats import GOPHER_DUP_THRESH, GOPHER_TOP_THRESH

    ctes, fracs, keeps = [], [], []
    for n in (2, 3, 4):
        ctes.append(f"""
g{n} AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - {n - 2}, 1)),
                i -> array_to_string(list_slice(toks, i, i + {n - 1}), ' '))) AS g
  FROM t
),
c{n} AS (SELECT doc_id, g, count(*) AS c FROM g{n} GROUP BY 1, 2),
s{n} AS (
  SELECT doc_id AS d{n}, max(c) AS topc,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dups
  FROM c{n} GROUP BY 1
)""")
        tot = f"greatest(len(toks) - {n - 1}, 0)"
        top = f"CASE WHEN {tot} > 0 THEN coalesce(s{n}.topc, 0) / {tot} ELSE 0 END"
        dup = f"CASE WHEN {tot} > 0 THEN coalesce(s{n}.dups, 0) / {tot} ELSE 0 END"
        fracs.append(f"round({top}, 6) AS top_{n}gram_frac")
        fracs.append(f"round({dup}, 6) AS dup_{n}gram_frac")
        keeps.append(f"({top}) <= {GOPHER_TOP_THRESH[n]}")
        keeps.append(f"({dup}) <= {GOPHER_DUP_THRESH[n]}")
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),{','.join(ctes)}
SELECT t.doc_id, {', '.join(fracs)},
       {' AND '.join(keeps)} AS keep_repetition_full
FROM t LEFT JOIN s2 ON s2.d2 = t.doc_id
       LEFT JOIN s3 ON s3.d3 = t.doc_id
       LEFT JOIN s4 ON s4.d4 = t.doc_id
"""


@functools.cache
def _total_tokens(spark: SparkSession, sf_dir: str) -> int:
    """Scalar corpus token count, memoized per (session, sf_dir)
    (deterministic; shared by both LM perplexity gates)."""
    from ot_spark.webtext.dedup import tokens_col

    docs = _read(spark, sf_dir, "documents", fan=True)
    # sum(size(tokens)) == count of the exploded stream, without
    # materializing one row per token (integer-exact either way)
    return (
        docs.select(F.size(tokens_col(F.col("text"))).alias("n"))
        .agg(F.sum(F.greatest(F.col("n"), F.lit(0))))
        .first()[0]
        or 0
    )


def q_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM perplexity proxy (lam=0.7)."""
    from ot_spark.webtext.curate import bigram_logprob

    docs = _read(spark, sf_dir, "documents", fan=True)
    return bigram_logprob(docs, total_tokens=_total_tokens(spark, sf_dir))


PERPLEXITY_BIGRAM_ORACLE_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
pos AS (
  SELECT doc_id, i, toks[i] AS term,
         CASE WHEN i > 1 THEN toks[i - 1] END AS prev
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t)
),
uni AS (SELECT term, count(*) AS cu FROM pos GROUP BY 1),
bi AS (SELECT prev, term, count(*) AS cb FROM pos WHERE i > 1 GROUP BY 1, 2),
tot AS (SELECT sum(cu) AS n FROM uni),
s AS (
  SELECT p.doc_id,
         CASE WHEN p.i = 1
              THEN -ln(u.cu / CAST(tot.n AS DOUBLE))
              ELSE -ln(0.7 * (b.cb / CAST(up.cu AS DOUBLE))
                       + 0.3 * (u.cu / CAST(tot.n AS DOUBLE)))
         END AS nl
  FROM pos p
  JOIN uni u ON u.term = p.term
  LEFT JOIN uni up ON up.term = p.prev
  LEFT JOIN bi b ON b.prev = p.prev AND b.term = p.term
  CROSS JOIN tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(nl), 6) AS avg_neg_logp
FROM s GROUP BY 1
"""


def q_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy per document (CCNet-style scoring)."""
    from ot_spark.webtext.curate import unigram_logprob

    docs = _read(spark, sf_dir, "documents", fan=True)
    return unigram_logprob(docs, total_tokens=_total_tokens(spark, sf_dir))


# per-token unigram negative log-probability over the whole corpus
_UNIGRAM_NLOGP_CTES = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS term FROM t),
v AS (SELECT term, count(*) AS c FROM e GROUP BY 1),
tot AS (SELECT sum(c) AS n FROM v),
s AS (
  SELECT e.doc_id, -ln(v.c / CAST(tot.n AS DOUBLE)) AS nl
  FROM e JOIN v USING (term) CROSS JOIN tot
)"""
PERPLEXITY_ORACLE_SQL = _UNIGRAM_NLOGP_CTES + """
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(nl), 6) AS avg_neg_logp
FROM s GROUP BY 1
"""


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus split (round 6; curate.ccnet_buckets):
    per-source perplexity ntile — the published filtering step between LM
    scoring and pretraining-set selection, as the exact per-source window
    the oracle replays."""
    from ot_spark.webtext.curate import ccnet_buckets

    docs = _read(spark, sf_dir, "documents", fan=True)
    return ccnet_buckets(docs, total_tokens=_total_tokens(spark, sf_dir))


CCNET_BUCKETS_ORACLE_SQL = _UNIGRAM_NLOGP_CTES + """,
p AS (SELECT doc_id, round(avg(nl), 6) AS avg_neg_logp FROM s GROUP BY 1),
j AS (
  SELECT p.doc_id, d.source, p.avg_neg_logp
  FROM p JOIN documents d USING (doc_id)
),
n AS (
  SELECT *, ntile(3) OVER (
    PARTITION BY source ORDER BY avg_neg_logp ASC, doc_id ASC
  ) AS b FROM j
)
SELECT doc_id, source, avg_neg_logp,
       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM n
"""


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per source (distributed term weighting)."""
    from ot_spark.webtext.curate import tfidf_top_terms

    docs = _read(spark, sf_dir, "documents", fan=True)
    return tfidf_top_terms(docs, n_docs=_table_rows(spark, sf_dir, "documents"), k=5)


def tfidf_oracle_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents),
e AS (SELECT doc_id, source, unnest(toks) AS term FROM t),
pd AS (SELECT term, source, doc_id, count(*) AS c FROM e GROUP BY 1, 2, 3),
dft AS (SELECT term, count(*) AS df FROM pd GROUP BY 1),
ps AS (SELECT source, term, sum(c) AS tf FROM pd GROUP BY 1, 2),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT source, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
         round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
  FROM ps JOIN dft USING (term) CROSS JOIN n
)
SELECT source, term, tf, df, tfidf, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY tfidf DESC, term ASC) AS rnk
  FROM scored
) WHERE rnk <= 5
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (round 6; ot_spark/webtext/invindex.py):
    term -> (df, tf, first-10 posting list), two exchanges, posting cap
    applied BEFORE the collect so per-term aggregate state is bounded.
    The full 31-term index gates against a DuckDB replay including the
    posting arrays element-for-element."""
    from ot_spark.webtext.invindex import inverted_index

    docs = _read(spark, sf_dir, "documents", fan=True)
    return inverted_index(docs, POSTING_CAP)


def inverted_index_oracle_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS term FROM t),
pd AS (SELECT term, doc_id, count(*) AS c FROM e GROUP BY 1, 2),
r AS (SELECT term, doc_id, c,
             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      FROM pd)
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(c) AS BIGINT) AS tf,
       list(doc_id ORDER BY doc_id) FILTER (WHERE rn <= {POSTING_CAP}) AS postings
FROM r GROUP BY term
"""


def q_delta_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list delta-gap + varint compression (round 6;
    ot_spark/webtext/invindex.py::delta_postings): sorted doc ids become
    gaps, the byte tally is a threshold when-chain inside one
    F.aggregate fold — zero exchanges beyond the index build's two.
    Gap arrays element-for-element plus both byte counts against a
    DuckDB lag-window replay, bit-exact."""
    from ot_spark.webtext.invindex import delta_postings

    docs = _read(spark, sf_dir, "documents", fan=True)
    return delta_postings(docs, POSTING_CAP)


def delta_postings_oracle_sql() -> str:
    vb = ("CASE " + " ".join(
        f"WHEN gap < {1 << (7 * n)} THEN {n}" for n in range(1, 9)
    ) + " ELSE 9 END")
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
e AS (SELECT doc_id, unnest(toks) AS term FROM t),
pd AS (SELECT term, doc_id FROM e GROUP BY 1, 2),
r AS (SELECT term, doc_id,
             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      FROM pd),
g AS (SELECT term, rn,
             doc_id - coalesce(
               lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id), 0
             ) AS gap
      FROM r WHERE rn <= {POSTING_CAP}),
caps AS (
  SELECT term, list(gap ORDER BY rn) AS gaps,
         CAST(sum({vb}) AS BIGINT) AS bytes_varint,
         CAST(count(*) * 8 AS BIGINT) AS bytes_raw
  FROM g GROUP BY term
),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM r GROUP BY term)
SELECT dfs.term, df, gaps, bytes_varint, bytes_raw
FROM dfs JOIN caps USING (term)
"""


def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-collocation PMI (round 6; invindex.pmi_pairs): document-level
    co-occurrence via a doc_id-co-partitioned self-join of per-doc
    distinct terms, unigram dfs broadcast onto both legs.  Top-100 pairs
    by count with a total-order tie-break; PMI rounded to 6 dp, counts
    exact BIGINTs."""
    from ot_spark.webtext.invindex import pmi_pairs

    docs = _read(spark, sf_dir, "documents", fan=True)
    out = pmi_pairs(docs, min_pair_count=2)
    return out.orderBy(
        F.desc("n_xy"), F.asc("x"), F.asc("y")
    ).limit(100)


def pmi_pairs_oracle_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
e AS (SELECT DISTINCT doc_id AS doc, unnest(toks) AS term FROM t),
p AS (
  SELECT a.term AS x, b.term AS y, CAST(count(*) AS BIGINT) AS n_xy
  FROM e a JOIN e b ON a.doc = b.doc AND a.term < b.term
  GROUP BY 1, 2 HAVING count(*) >= 2
),
d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM e GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
SELECT x, y, n_xy, dx.df AS df_x, dy.df AS df_y,
       round(ln(n.n * n_xy / (dx.df * dy.df)), 6) AS pmi
FROM p JOIN d dx ON p.x = dx.term JOIN d dy ON p.y = dy.term CROSS JOIN n
ORDER BY n_xy DESC, x ASC, y ASC LIMIT 100
"""


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features (length / alpha / punct / stopword ratios)."""
    from ot_spark.webtext.textstats import with_quality

    docs = _read(spark, sf_dir, "documents", fan=True)
    return with_quality(docs).select(
        "doc_id", "n_tokens", "alpha_ratio", "punct_ratio", "stopword_ratio"
    )


def quality_oracle_sql() -> str:
    from ot_spark.webtext.textstats import LANG_STOPWORDS

    en = _stop_list_sql(LANG_STOPWORDS["en"])
    return f"""
WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1), 6) AS alpha_ratio,
  round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1), 6) AS punct_ratio,
  round(CAST(len(list_filter(toks, t -> list_contains({en}, t))) AS DOUBLE)
        / greatest(len(toks), 1), 6) AS stopword_ratio
FROM t
"""


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language id (argmax, alphabetical tie-break)."""
    from ot_spark.webtext.textstats import with_langid

    docs = _read(spark, sf_dir, "documents", fan=True)
    return with_langid(docs).select("doc_id", "lang_pred")


def langid_oracle_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
SELECT doc_id, {_langid_best_sql()} AS lang_pred FROM t
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter (top-bigram mass + duplicate-token
    fraction) — map-side Column algebra, zero shuffles."""
    from ot_spark.webtext.textstats import with_repetition

    docs = _read(spark, sf_dir, "documents", fan=True)
    return with_repetition(docs).select(
        "doc_id", "n_bigrams", "top_bigram_n", "top_bigram_frac",
        "dup_token_frac", "keep_repetition",
    )


def repetition_oracle_sql() -> str:
    # deferred f-string: _TOKS_SQL is defined further down the module
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks), 1)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t
),
counts AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
top AS (SELECT doc_id AS top_doc, max(c) AS topc FROM counts GROUP BY 1)
SELECT t.doc_id,
  CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_bigrams,
  CAST(coalesce(topc, 0) AS BIGINT) AS top_bigram_n,
  round(CASE WHEN len(toks) > 1
             THEN coalesce(topc, 0) / (len(toks) - 1) ELSE 0 END, 6)
    AS top_bigram_frac,
  round(CASE WHEN len(toks) > 0
             THEN 1 - len(list_distinct(toks)) / len(toks) ELSE 0 END, 6)
    AS dup_token_frac,
  (CASE WHEN len(toks) > 1
        THEN coalesce(topc, 0) / (len(toks) - 1) ELSE 0 END) <= 0.18
    AND (CASE WHEN len(toks) > 0
              THEN 1 - len(list_distinct(toks)) / len(toks) ELSE 0 END) <= 0.5
    AS keep_repetition
FROM t LEFT JOIN top ON t.doc_id = top.top_doc
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4 / phones).  The corpus is synthetic
    word-soup with no organic PII, so the gate INJECTS deterministic PII
    derived from doc_id (identical string algebra on both engines) before
    scrubbing — the oracle re-derives injection, counts, and replacement
    in DuckDB, so the regex pipeline itself is what's compared."""
    from ot_spark.webtext.scrub import with_pii_scrub

    d = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            d % 3 == 0,
            F.concat(F.lit(" reach u"), d.cast("string"), F.lit("@ex.org")),
        ).otherwise(F.lit("")),
        F.when(
            d % 4 < 2,
            F.concat(
                F.lit(" call +431"),
                F.lpad(((d * 37) % 1000000).cast("string"), 6, "0"),
            ),
        ).otherwise(F.lit("")),
        F.concat(
            F.lit(" host 10."), (d % 200).cast("string"),
            F.lit(".0."), ((d * 3) % 250).cast("string"),
        ),
    )
    docs = (
        _read(spark, sf_dir, "documents", fan=True)
        .select("doc_id", injected.alias("text"))
    )
    out = with_pii_scrub(docs)
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_phone",
        F.md5(F.col("text_scrubbed")).alias("scrub_md5"),
    )


def pii_scrub_oracle_sql() -> str:
    from ot_spark.webtext.scrub import PII_RULES

    rules = dict((n, p) for n, p, _ in PII_RULES)
    repl = dict((n, r) for n, _, r in PII_RULES)
    return f"""
WITH inj AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' reach u' || CAST(doc_id AS VARCHAR) || '@ex.org'
                 ELSE '' END
         || CASE WHEN doc_id % 4 < 2
                 THEN ' call +431' ||
                      lpad(CAST((doc_id * 37) % 1000000 AS VARCHAR), 6, '0')
                 ELSE '' END
         || ' host 10.' || CAST(doc_id % 200 AS VARCHAR)
         || '.0.' || CAST((doc_id * 3) % 250 AS VARCHAR) AS text
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{rules["email"]}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '{rules["ipv4"]}')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(text, '{rules["phone"]}')) AS BIGINT) AS n_phone,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
        '{rules["email"]}', '{repl["email"]}', 'g'),
        '{rules["ipv4"]}', '{repl["ipv4"]}', 'g'),
        '{rules["phone"]}', '{repl["phone"]}', 'g')) AS scrub_md5
FROM inj
"""


def _stop_list_sql(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _langid_best_sql() -> str:
    """The langid argmax as a single SQL expression over a ``toks`` list
    column — shared by the standalone langid oracle and corpus_clean's."""
    from ot_spark.webtext.textstats import LANG_STOPWORDS

    scores = {
        lang: f"len(list_filter(toks, t -> list_contains({_stop_list_sql(words)}, t)))"
        for lang, words in LANG_STOPWORDS.items()
    }
    best = "'und'"
    best_score = "0"
    for lang in sorted(scores):
        best = f"CASE WHEN {scores[lang]} > {best_score} THEN '{lang}' ELSE {best} END"
        best_score = f"greatest({best_score}, {scores[lang]})"
    return best
