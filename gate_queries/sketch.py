"""Sketch and dedup gate queries: HLL, Bloom and Count-Min sketches, exact
per-host percentiles, MinHash/LSH, SimHash, fingerprints and substring
and exact duplicates."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gate_queries.common import FAN_ROWS, _SYNTH_URL_SQL, _TOKS_SQL, _read


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash over documents (training-data op)."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .where(F.col("n_copies") >= 1)
    )


DEDUP_EXACT_ORACLE_SQL = (
    "SELECT md5(text) AS content_hash, min(doc_id) AS keeper, "
    "CAST(count(*) AS BIGINT) AS n_copies FROM documents "
    "GROUP BY md5(text) HAVING count(*) >= 1"
)


def q_hll_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-URL-per-host registers (round 6;
    ot_spark/webtext/sketch.py): the crawl-frontier cardinality metric
    without an exact count(distinct) shuffle — per (host, bucket) keep
    max(rho), 16 small ints per host, map-side partial max, merge =
    element-wise max.  Hash/bucket/rho are generated once as ANSI-SQL
    fragments shared verbatim with the DuckDB oracle (pure integer —
    no log2), so the registers match bit-for-bit; the float estimate
    sits outside the gate, pinned by the error-bound pytest."""
    from ot_spark.webtext.sketch import hll_registers
    from ot_spark.webtext.urltools import synthetic_url_col

    docs = _read(spark, sf_dir, "documents")
    urls = docs.select(
        F.concat(
            F.lit("site"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".org"),
        ).alias("host"),
        synthetic_url_col(F.col("doc_id")).alias("url"),
    )
    return hll_registers(urls, ["host"], "url")


def hll_urls_oracle_sql() -> str:
    from ot_spark.webtext.sketch import hll_oracle_sql

    return hll_oracle_sql(
        "documents",
        "'site' || CAST(doc_id % 50 AS VARCHAR) || '.org'",
        _SYNTH_URL_SQL,
    )


_BLOOM_HOST_SQL = "'site' || CAST(doc_id % 50 AS VARCHAR) || '.org'"


def q_bloom_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host Bloom registers over the crawl's URLs (round 6;
    ot_spark/webtext/sketch.py Bloom section): 8 x 32-bit words per host,
    one map-side-combinable bit_or exchange — the incremental
    "seen-URL" filter a crawl frontier keeps instead of semi-joining
    every new batch against the full URL history.  Hash positions and
    word contributions are generated once as ANSI-SQL fragments shared
    verbatim with the DuckDB oracle, so registers match bit-for-bit."""
    from ot_spark.webtext.sketch import bloom_build
    from ot_spark.webtext.urltools import synthetic_url_col

    docs = _read(spark, sf_dir, "documents", fan=FAN_ROWS)
    urls = docs.select(
        F.concat(
            F.lit("site"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".org"),
        ).alias("host"),
        synthetic_url_col(F.col("doc_id")).alias("url"),
    )
    return bloom_build(urls, ["host"], "url")


def bloom_build_oracle_sql() -> str:
    from ot_spark.webtext.sketch import bloom_oracle_sql

    return bloom_oracle_sql("documents", _BLOOM_HOST_SQL, _SYNTH_URL_SQL)


def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the per-host Bloom registers with a half-present / half-
    absent URL batch (even doc_ids probe their true URL, odd ones a
    perturbed sibling) and count possibly-present verdicts per host.
    The probe is one host-keyed dimension join (32 bytes/host — AQE
    broadcasts it) plus integer Column algebra; Bloom guarantees every
    present probe counts, so n_maybe >= the even-doc count per host,
    with the excess = false positives.  Verdicts, not just registers,
    are compared bit-for-bit against the DuckDB replay."""
    from ot_spark.webtext.sketch import bloom_build, bloom_probe
    from ot_spark.webtext.urltools import synthetic_url_col

    docs = _read(spark, sf_dir, "documents", fan=FAN_ROWS)
    host = F.concat(
        F.lit("site"), (F.col("doc_id") % 50).cast("string"), F.lit(".org")
    )
    url = synthetic_url_col(F.col("doc_id"))
    blooms = bloom_build(
        docs.select(host.alias("host"), url.alias("url")), ["host"], "url"
    )
    probes = docs.select(
        host.alias("host"),
        F.when(F.col("doc_id") % 2 == 0, url)
        .otherwise(F.concat(url, F.lit("/absent"))).alias("url"),
    )
    out = bloom_probe(probes, blooms, ["host"], "url")
    return out.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(F.when(F.col("maybe"), 1).otherwise(0))
        .cast("long").alias("n_maybe"),
    )


def bloom_probe_oracle_sql() -> str:
    from ot_spark.webtext.sketch import (
        BLOOM_HASHES, BLOOM_WORDS, bloom_oracle_sql, bloom_pos_sql,
        bloom_word_sql,
    )

    build = bloom_oracle_sql("documents", _BLOOM_HOST_SQL, _SYNTH_URL_SQL)
    probe_item = (
        f"(CASE WHEN doc_id % 2 = 0 THEN {_SYNTH_URL_SQL}"
        f" ELSE {_SYNTH_URL_SQL} || '/absent' END)"
    )
    pos = ", ".join(
        f"{bloom_pos_sql('h', i)} AS p{i}" for i in range(BLOOM_HASHES)
    )
    pcols = [f"p{i}" for i in range(BLOOM_HASHES)]
    words = ", ".join(
        f"{bloom_word_sql(w, pcols)} AS b{w}" for w in range(BLOOM_WORDS)
    )
    cond = " AND ".join(
        f"(coalesce(bl.w{w}, 0) & pw.b{w}) = pw.b{w}"
        for w in range(BLOOM_WORDS)
    )
    return f"""
WITH blooms AS ({build}),
pr AS (SELECT {_BLOOM_HOST_SQL} AS host, {probe_item} AS __item FROM documents),
ph AS (SELECT host, md5(__item) AS h FROM pr),
pp AS (SELECT host, {pos} FROM ph),
pw AS (SELECT host, {words} FROM pp)
SELECT pw.host AS host,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe
FROM pw LEFT JOIN blooms bl ON pw.host = bl.host
GROUP BY pw.host
"""


def q_host_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-host page-length percentiles (round 6;
    textstats.exact_percentiles): median/p90/p99 of text length per host
    via value-histogram + cumulative window — the exchange carries one
    row per distinct (host, length), not one per page.  Type-1
    percentile semantics in pure integer math; the DuckDB oracle replays
    the same histogram algebra bit-for-bit."""
    from ot_spark.webtext.textstats import exact_percentiles

    docs = _read(spark, sf_dir, "documents")
    v = docs.select(
        F.concat(
            F.lit("site"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".org"),
        ).alias("host"),
        F.length("text").cast("long").alias("len"),
    )
    return exact_percentiles(v, ["host"], "len", [50, 90, 99])


def host_percentiles_oracle_sql() -> str:
    return f"""
WITH v AS (SELECT {_BLOOM_HOST_SQL} AS host,
                  CAST(length(text) AS BIGINT) AS len FROM documents),
h AS (SELECT host, len, count(*) AS c FROM v GROUP BY 1, 2),
cw AS (SELECT host, len,
              sum(c) OVER (PARTITION BY host ORDER BY len) AS cum,
              sum(c) OVER (PARTITION BY host) AS n
       FROM h)
SELECT host, CAST(max(n) AS BIGINT) AS n,
       min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN len END) AS p50,
       min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN len END) AS p90,
       min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN len END) AS p99
FROM cw GROUP BY host
"""


def q_cms_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch over the crawl's URLs (round 6;
    sketch.py CMS section): 4 x 64 counters built by one map-side-
    combinable sum exchange — approximate per-URL frequencies without
    shuffling URL strings; registers merge across corpus slices by
    element-wise addition.  Counter values are integer sums (exactly
    order-independent), compared bit-for-bit against the DuckDB replay
    built from the same md5-slice fragments."""
    from ot_spark.webtext.sketch import cms_build
    from ot_spark.webtext.urltools import synthetic_url_col

    docs = _read(spark, sf_dir, "documents")
    urls = docs.select(synthetic_url_col(F.col("doc_id")).alias("url"))
    return cms_build(urls, "url")


def cms_build_oracle_sql() -> str:
    from ot_spark.webtext.sketch import cms_oracle_sql

    return cms_oracle_sql("documents", _SYNTH_URL_SQL)


def q_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS point estimates (min over the 4 probed counters) for every
    distinct URL — the overcount-only frequency read-back.  d broadcast
    joins against the 256-row register table; estimates gate bit-for-bit
    against the DuckDB replay (same registers, same min)."""
    from ot_spark.webtext.sketch import cms_build, cms_estimate
    from ot_spark.webtext.urltools import synthetic_url_col

    docs = _read(spark, sf_dir, "documents")
    urls = docs.select(synthetic_url_col(F.col("doc_id")).alias("url"))
    sketch = cms_build(urls, "url")
    probes = urls.distinct()
    return cms_estimate(probes, sketch, "url").select("url", "est")


def cms_estimate_oracle_sql() -> str:
    from ot_spark.webtext.sketch import (
        CMS_DEPTH, cms_oracle_sql, cms_pos_sql,
    )

    build = cms_oracle_sql("documents", _SYNTH_URL_SQL)
    pos = ", ".join(
        f"{cms_pos_sql('h', i)} AS p{i}" for i in range(CMS_DEPTH)
    )
    joins = "\n".join(
        f"LEFT JOIN sketch s{i} ON s{i}.row = {i} AND s{i}.pos = pp.p{i}"
        for i in range(CMS_DEPTH)
    )
    least = ", ".join(
        f"coalesce(s{i}.cnt, 0)" for i in range(CMS_DEPTH)
    )
    return f"""
WITH sketch AS ({build}),
probes AS (SELECT DISTINCT {_SYNTH_URL_SQL} AS url FROM documents),
ph AS (SELECT url, md5(url) AS h FROM probes),
pp AS (SELECT url, {pos} FROM ph)
SELECT pp.url AS url, CAST(least({least}) AS BIGINT) AS est
FROM pp
{joins}
"""


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (portable md5-string mode) over documents."""
    from ot_spark.webtext.dedup import with_minhash

    docs = _read(spark, sf_dir, "documents", fan=True)
    sigs = with_minhash(docs, k=4, hash_mode="md5")
    return sigs.select(
        "doc_id",
        *[F.col("minhash").getItem(i).alias(f"m{i}") for i in range(4)],
    )


_SHINGLES_SQL = (
    "list_transform(generate_series(1, greatest(len(toks) - 2, 1)), "
    "i -> array_to_string(list_slice(toks, i, i + 2), ' '))"
)

MINHASH_ORACLE_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM t)
SELECT doc_id,
  {', '.join(
    f"list_min(list_transform(sh, x -> substr(md5(concat('{i}#', x)), 1, 16))) AS m{i}"
    for i in range(4)
  )}
FROM s
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard in the PRODUCTION shape: MinHash-LSH candidate
    pairs (bucketed groupBy(band, key), capped — no crossJoin anywhere in
    the plan) -> exact 3-gram Jaccard verify.  The oracle re-derives both
    the banding and the verify in SQL."""
    from ot_spark.webtext.dedup import (
        jaccard_pairs, minhash_candidate_pairs, with_minhash,
    )

    docs = _read(spark, sf_dir, "documents", fan=True).where("doc_id < 2000")
    sigs = with_minhash(docs, k=8, hash_mode="md5")
    cand = minhash_candidate_pairs(sigs, bands=4)
    return jaccard_pairs(docs, cand, threshold=0.2)


def jaccard_oracle_sql() -> str:
    """LSH candidates (same banding CTE the lsh_bands oracle pins) ->
    exact 3-gram Jaccard, thresholded on the UNROUNDED ratio."""
    return _minhash_sig8_cte() + _CAND_INTER_CTES + """
SELECT a, b, round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
"""


_HEX15 = "CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)"
_TOKHASH_SQL = f"list_transform({{toks}}, t -> {_HEX15})"


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs in portable md5 mode (60-bit signatures,
    pigeonhole chunk buckets capped at 200) — fully oracle-checked."""
    from ot_spark.webtext.dedup import simhash_near_pairs, with_simhash

    # bounded subset: same-vocabulary word-salad docs are all mutually
    # near in simhash space, so pair counts grow quadratically
    docs = _read(spark, sf_dir, "documents").where("doc_id < 500")
    sigs = with_simhash(docs, hash_mode="md5")
    return simhash_near_pairs(sigs, max_hamming=4, n_bits=60, max_bucket=200)


def simhash_oracle_sql() -> str:
    """Definitional 60-bit md5 SimHash + capped pigeonhole buckets
    (5 chunks x 12 bits, max_hamming=4, max_bucket=200)."""
    toks = _TOKS_SQL
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKHASH_SQL.format(toks=toks)} AS hs
  FROM documents WHERE doc_id < 500
), ne AS (SELECT * FROM t WHERE len(hs) > 0),
e AS (SELECT doc_id, unnest(hs) AS x FROM ne),
bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM e, (SELECT unnest(range(60)) AS b) bb
  GROUP BY doc_id, b
),
sim AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b)
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, simhash, c AS chunk_id,
         (simhash >> (c * 12)) & 4095 AS chunk_val
  FROM sim, (SELECT unnest(range(5)) AS c) cc
),
buckets AS (
  SELECT chunk_id, chunk_val FROM chunks
  GROUP BY chunk_id, chunk_val HAVING count(*) BETWEEN 2 AND 200
),
pairs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         x.simhash AS sa, y.simhash AS sb
  FROM chunks x
  JOIN buckets u ON x.chunk_id = u.chunk_id AND x.chunk_val = u.chunk_val
  JOIN chunks y ON y.chunk_id = u.chunk_id AND y.chunk_val = u.chunk_val
  WHERE x.doc_id < y.doc_id
)
SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= 4
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (portable md5 token hashes —
    fully oracle-checked; the xxhash64 production mode is pytest-pinned)."""
    from ot_spark.webtext.textstats import with_fingerprint

    docs = _read(spark, sf_dir, "documents", fan=True)
    return with_fingerprint(docs, hash_mode="md5").select(
        "doc_id", "fingerprint_min", "content_hash"
    )


def fingerprint_oracle_sql() -> str:
    """Same rolling fold: h = md5-15-hex-int % p; window fp =
    fold((a, x) -> (a*31 + x) % p) seeded 0 via list_prepend."""
    p = 2147483647
    return f"""
WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
h AS (
  SELECT doc_id, text,
         list_transform(toks, t -> {_HEX15} % {p}) AS hs
  FROM t
),
f AS (
  SELECT doc_id, text,
         list_transform(
           range(1, greatest(len(hs) - 8, 0) + 2),
           i -> list_reduce(
                  list_prepend(CAST(0 AS BIGINT), hs[i : i + 7]),
                  (a, x) -> (a * 31 + x) % {p})) AS fps
  FROM h
)
SELECT doc_id, CAST(list_min(fps) AS BIGINT) AS fingerprint_min,
       md5(text) AS content_hash
FROM f
"""


def q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup: pairs sharing >= 1 exact 8-token window
    (bucketed by span, capped — no all-pairs anywhere)."""
    from ot_spark.webtext.dedup import substring_dup_pairs

    docs = _read(spark, sf_dir, "documents", fan=True)
    return substring_dup_pairs(docs, max_bucket=50)


def substring_dup_oracle_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
w AS (
  SELECT DISTINCT doc_id, win FROM (
    SELECT doc_id,
           -- starts 1..len-7 (range() excludes its stop): len-7 windows,
           -- matching the Spark side's i <= size - 8 zero-based filter
           unnest(list_transform(range(1, greatest(len(toks) - 6, 1)),
                  i -> array_to_string(list_slice(toks, i, i + 7), ' '))) AS win
    FROM t WHERE len(toks) >= 8
  )
),
sizes AS (
  SELECT win FROM w GROUP BY win
  HAVING count(*) > 1 AND count(*) <= 50
)
SELECT a.doc_id AS a, b.doc_id AS b,
       CAST(count(*) AS BIGINT) AS shared_windows
FROM w a JOIN w b USING (win) JOIN sizes USING (win)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def q_lsh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding -> capped candidate buckets -> pairs (the scale
    dedup shape: only shuffle is groupBy(band, key))."""
    from ot_spark.webtext.dedup import minhash_candidate_pairs, with_minhash

    # bounded subset keeps the md5-mode bench cost predictable at sf0.1
    # (covers the whole table at the sf0.01 correctness gate)
    docs = _read(spark, sf_dir, "documents", fan=True).where("doc_id < 2000")
    sigs = with_minhash(docs, k=8, hash_mode="md5")
    return minhash_candidate_pairs(sigs, bands=4)


def _minhash_sig8_cte(recursive: bool = False) -> str:
    """CTEs t, s, m: tokens -> shingles -> 8-value md5 minhash signature
    list (same construction MINHASH_ORACLE_SQL pins for k=4)."""
    mins = ", ".join(
        f"list_min(list_transform(sh, x -> substr(md5(concat('{i}#', x)), 1, 16)))"
        for i in range(8)
    )
    kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"""
{kw} t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE doc_id < 2000),
s AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM t),
m AS (SELECT doc_id, [{mins}] AS sig FROM s),
bd AS (
  SELECT doc_id, bnd, md5(array_to_string(sig[bnd*2+1 : bnd*2+2], '|')) AS key
  FROM m, (SELECT unnest(range(4)) AS bnd) bb
),
g AS (
  SELECT bnd, key FROM bd GROUP BY bnd, key HAVING count(*) BETWEEN 2 AND 50
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bd x JOIN g ON x.bnd = g.bnd AND x.key = g.key
  JOIN bd y ON y.bnd = g.bnd AND y.key = g.key
  WHERE x.doc_id < y.doc_id
)"""


# per LSH candidate pair: exact 3-gram set sizes and intersection size
_CAND_INTER_CTES = """,
e AS (SELECT DISTINCT doc_id, unnest(sh) AS gsh FROM s),
sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, count(*) AS i
  FROM cand c
  JOIN e ea ON ea.doc_id = c.a
  JOIN e eb ON eb.doc_id = c.b AND ea.gsh = eb.gsh
  GROUP BY c.a, c.b
)"""
# ... then the pairs at Jaccard >= 0.5
_NEAR_DUP_CTES = _CAND_INTER_CTES + """,
dups AS (
  SELECT a, b FROM inter
  JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
)"""


LSH_BANDS_ORACLE_SQL = _minhash_sig8_cte() + "\nSELECT a, b FROM cand"


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: signatures -> LSH candidates -> exact
    Jaccard verify -> min-id representative."""
    from ot_spark.webtext.dedup import minhash_dedup

    docs = _read(spark, sf_dir, "documents", fan=True).where("doc_id < 2000")
    out = minhash_dedup(
        docs, k=8, bands=4, threshold=0.5, hash_mode="md5"
    )
    return out.select("doc_id", "rep")


MINHASH_DEDUP_ORACLE_SQL = _minhash_sig8_cte() + _NEAR_DUP_CTES + """,
rep AS (SELECT b AS doc_id, min(a) AS rep FROM dups GROUP BY b)
SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS rep
FROM documents d LEFT JOIN rep r ON r.doc_id = d.doc_id
WHERE d.doc_id < 2000
"""


def q_minhash_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pipeline with TRUE connected-components clustering
    (min-label propagation; oracle = recursive-CTE transitive closure)."""
    from ot_spark.webtext.dedup import minhash_dedup

    docs = _read(spark, sf_dir, "documents", fan=True).where("doc_id < 2000")
    out = minhash_dedup(
        docs, k=8, bands=4, threshold=0.5, hash_mode="md5",
        clustering="cc",
    )
    return out.select("doc_id", "rep")


# full-CC variant: representative = min id in the CONNECTED COMPONENT
# (transitive closure via recursive CTE), not just the direct neighborhood
MINHASH_DEDUP_CC_ORACLE_SQL = _minhash_sig8_cte(recursive=True) + _NEAR_DUP_CTES + """,
sym AS (SELECT a, b FROM dups UNION SELECT b AS a, a AS b FROM dups),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
mn AS (SELECT a AS doc_id, min(b) AS m FROM reach GROUP BY a)
SELECT d.doc_id, coalesce(least(mn.m, d.doc_id), d.doc_id) AS rep
FROM documents d LEFT JOIN mn ON mn.doc_id = d.doc_id
WHERE d.doc_id < 2000
"""
