"""HyperLogLog distinct-count sketch (Flajolet-Fuchs-Gandouet-Meunier
2007, public) over Column algebra — approximate distinct URLs per host.

"How many distinct URLs does each host have?" is THE crawl-frontier
metric, and at 10^12 documents an exact ``count(distinct url)`` per host
is a full-width shuffle of every URL string.  The HLL register form
replaces it with a MAP-SIDE-COMBINABLE aggregate: per (key, bucket) keep
``max(rho)`` — 2^b small integers per key (b=4 -> 16 registers), partial
max on the map side, register merge = element-wise max.  The exchange
carries hosts x 16 tiny ints instead of every URL; sketches for
different crawl snapshots union by the same max-merge, so the operator
is also incremental (re-crawl updates never re-read history).

DETERMINISM / ORACLE DESIGN: the hash is md5 (identical hex output in
Spark and DuckDB for the same UTF-8 string); bucket = first hex digit,
rho = leading-zero count of the next 8 hex digits (32-bit prefix) + 1.
Every step is generated ONCE here as an ANSI-SQL fragment valid in both
engines (instr/substr/CASE integer compares — no log2, no floats, no
engine-specific bit ops), so the gate compares registers bit-for-bit.
No float estimate is computed here: the gate compares the integer
registers, and an error-bound pytest pins that they yield an estimate
within sigma ~ 1.04/sqrt(m).

Reference analog: osm-transform's ElementCounter/MinMaxIdCollector
family (stats.rs) — single-pass corpus statistics; this is the
approximate-distinct member of that family at web scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HEX = "0123456789abcdef"
#: rho is computed over this many bits of the md5 (8 hex digits).
HASH_BITS = 32


def bucket_sql(hex_col: str) -> str:
    """Bucket index (0..15) = value of the first hex digit.  Valid in
    Spark SQL and DuckDB verbatim."""
    return f"(instr('{HEX}', substr({hex_col}, 1, 1)) - 1)"


def hashval_sql(hex_col: str) -> str:
    """32-bit integer value of hex digits 2..9, digit-wise — both engines
    lack a portable hex->int cast, so the fragment does the positional
    sum itself (BIGINT terms: 15 * 16^7 overflows INT32 under Spark
    ANSI arithmetic)."""
    terms = [
        f"CAST(instr('{HEX}', substr({hex_col}, {2 + i}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def rho_sql(v_col: str) -> str:
    """Position of the first set bit (leading zeros + 1) of ``v_col``
    within ``HASH_BITS`` bits, as a pure integer CASE chain — no log2, so
    no cross-engine float rounding risk.  v = 0 -> HASH_BITS + 1 (the HLL
    convention for an all-zero suffix)."""
    whens = "".join(
        f" WHEN {v_col} >= {2 ** (HASH_BITS - r)} THEN {r}"
        for r in range(1, HASH_BITS + 1)
    )
    return f"(CASE{whens} ELSE {HASH_BITS + 1} END)"


def with_hll_register(df: DataFrame, item_col: str) -> DataFrame:
    """Append (bucket, rho) for the md5 of ``item_col``.  The hex digest
    and the 32-bit prefix are materialized as bound columns in separate
    selects — the rho CASE references the prefix 32 times, and Catalyst
    re-evaluates inlined lambda/expr per reference otherwise."""
    d = df.withColumn("__hll_h", F.expr(f"md5({item_col})"))
    d = d.withColumn("__hll_v", F.expr(hashval_sql("__hll_h"))).withColumn(
        "bucket", F.expr(bucket_sql("__hll_h"))
    )
    return d.withColumn("rho", F.expr(rho_sql("__hll_v"))).drop(
        "__hll_h", "__hll_v"
    )


def hll_registers(
    df: DataFrame, keys: list[str], item_col: str
) -> DataFrame:
    """Per-key HLL registers: (keys..., bucket, max_rho).  One exchange on
    (keys, bucket) with map-side partial max — the whole point vs exact
    count(distinct)."""
    regs = with_hll_register(df, item_col)
    return regs.groupBy(*keys, "bucket").agg(
        F.max("rho").cast("int").alias("max_rho")
    )


def hll_oracle_sql(source_sql: str, key_sql: str, item_sql: str) -> str:
    """DuckDB replay of hll_registers built from the SAME fragment
    generators the Spark plan uses — the two engines can never drift."""
    return f"""
WITH __raw AS (SELECT {key_sql} AS host, {item_sql} AS __item FROM {source_sql}),
__h AS (SELECT host, md5(__item) AS h FROM __raw),
__v AS (SELECT host, {bucket_sql('h')} AS bucket, {hashval_sql('h')} AS v FROM __h),
__r AS (SELECT host, bucket, {rho_sql('v')} AS rho FROM __v)
SELECT host, bucket, CAST(max(rho) AS INT) AS max_rho
FROM __r GROUP BY host, bucket
"""


# --------------------------------------------------------------- Bloom
# Bloom filter (Bloom 1970, public) over the same portable-md5 Column
# algebra as the HLL above — "have we crawled this URL before?" without
# shuffling URL strings.
#
# WHY at 10^12 documents: the exact form of that question is a semi-join
# of the new crawl batch against the full URL history — a full-width
# exchange of every URL string on both sides.  The Bloom form keeps 32
# bytes per host (8 x 32-bit words), built with ONE map-side-combinable
# bit_or aggregate; probing is a host-keyed dimension join plus pure
# integer Column algebra, and filters are INCREMENTAL — the register
# merge across crawl snapshots is element-wise bit_or, so history never
# gets re-read.  (Spark's runtime bloom-filter rewrite does this
# transiently inside one query; explicit registers persist across jobs
# and snapshots, which is what a crawl frontier needs.)  False-positive
# rate with k=4 hashes and fill ratio f is f^4; no false negatives ever.
#
# DETERMINISM / ORACLE DESIGN: same md5 trick as HLL — the 32-hex digest
# yields four independent 32-bit slices (digits 1-8, 9-16, 17-24,
# 25-32); position = slice % 256, word = position range-test, bit =
# 2^(position - 32*word) via an integer CASE chain.  Every fragment is
# generated ONCE below in ANSI SQL valid verbatim in Spark and DuckDB
# (instr/substr/%/&/| — no shifts, no floats), so registers AND probe
# verdicts compare bit-for-bit in the gate.

BLOOM_BITS = 256
BLOOM_WORD_BITS = 32
BLOOM_WORDS = BLOOM_BITS // BLOOM_WORD_BITS
BLOOM_HASHES = 4


def bloom_pos_sql(hex_col: str, i: int) -> str:
    """Bit position (0..255) of hash ``i``: positional value of hex
    digits 8i+1 .. 8i+8, mod BLOOM_BITS.  Valid in both engines."""
    terms = [
        f"CAST(instr('{HEX}', substr({hex_col}, {1 + 8 * i + j}, 1)) - 1"
        f" AS BIGINT) * {16 ** (7 - j)}"
        for j in range(8)
    ]
    return "((" + " + ".join(terms) + f") % {BLOOM_BITS})"


def bloom_mask_sql(pos_col: str) -> str:
    """2^(pos % 32) — the hash's in-word bit mask, computed ONCE per
    hash as a bound column.  Valid verbatim in Spark SQL and DuckDB
    (both support ``<<`` on BIGINT; fully parenthesized — DuckDB gives
    ``|``/``<<`` equal precedence).  The mask + range-test pair
    replaces a 32-arm power-of-two CASE chain per (hash, word): that
    chain expanded to 1024 codegen branches, pushing the projection
    past the JVM's 64 KB method limit into silent interpreted
    fallback."""
    return f"(CAST(1 AS BIGINT) << (({pos_col}) % {BLOOM_WORD_BITS}))"


def bloom_word_sql(
    w: int, pos_cols: list[str], mask_cols: list[str] | None = None
) -> str:
    """Row-level contribution to word ``w``: OR of each hash's mask when
    its position falls in [32w, 32w+32), else 0.  ``mask_cols`` default
    to inline shifts (the oracle-SQL path, where DuckDB re-evaluating a
    cheap shift per word is fine); the Spark path passes bound mask
    columns."""
    if mask_cols is None:
        mask_cols = [bloom_mask_sql(p) for p in pos_cols]
    lo, hi = w * BLOOM_WORD_BITS, (w + 1) * BLOOM_WORD_BITS
    return (
        "("
        + " | ".join(
            f"(CASE WHEN ({p}) >= {lo} AND ({p}) < {hi} THEN ({m}) "
            "ELSE CAST(0 AS BIGINT) END)"
            for p, m in zip(pos_cols, mask_cols)
        )
        + ")"
    )


def with_bloom_words(df: DataFrame, item_col: str) -> DataFrame:
    """Append the row's 8 word contributions __bw0..__bw7.  The digest,
    the 4 positions, and the 4 masks are materialized as bound columns
    in separate selects — the word expressions reference each position
    twice and each mask once, and Catalyst would re-evaluate an inlined
    positional sum per reference."""
    d = df.withColumn("__bf_h", F.expr(f"md5({item_col})"))
    d = d.select(
        "*",
        *[
            F.expr(bloom_pos_sql("__bf_h", i)).alias(f"__bp{i}")
            for i in range(BLOOM_HASHES)
        ],
    )
    pos = [f"__bp{i}" for i in range(BLOOM_HASHES)]
    d = d.select(
        "*",
        *[F.expr(bloom_mask_sql(p)).alias(f"__bm{i}")
          for i, p in enumerate(pos)],
    )
    masks = [f"__bm{i}" for i in range(BLOOM_HASHES)]
    d = d.select(
        "*",
        *[
            F.expr(bloom_word_sql(w, pos, masks)).cast("long").alias(f"__bw{w}")
            for w in range(BLOOM_WORDS)
        ],
    )
    return d.drop("__bf_h", *pos, *masks)


def bloom_build(df: DataFrame, keys: list[str], item_col: str) -> DataFrame:
    """Per-key Bloom registers (keys..., w0..w7): one exchange on the
    keys with map-side partial bit_or.  Registers for different corpus
    slices / crawl snapshots merge by element-wise bit_or of the same
    columns (pytest-pinned)."""
    d = with_bloom_words(df, item_col)
    return d.groupBy(*keys).agg(
        *[
            F.expr(f"bit_or(__bw{w})").cast("long").alias(f"w{w}")
            for w in range(BLOOM_WORDS)
        ]
    )


def bloom_probe(
    probes: DataFrame, blooms: DataFrame, keys: list[str], item_col: str
) -> DataFrame:
    """Append ``maybe`` (bool): true iff every hash's bit is set in the
    key's registers — possibly-present, with the Bloom guarantee of NO
    false negatives.  Missing keys (no filter built) probe as false.
    One dimension join on the keys (AQE broadcasts the register table
    when it is small — 32 bytes/key); the verdict itself is pure integer
    Column algebra."""
    d = with_bloom_words(probes, item_col)  # reuse: __bw = needed bits
    joined = d.join(blooms, on=keys, how="left")
    cond = None
    for w in range(BLOOM_WORDS):
        ok = F.expr(
            f"(coalesce(w{w}, 0) & __bw{w}) = __bw{w}"
        )
        cond = ok if cond is None else (cond & ok)
    return joined.withColumn("maybe", cond).drop(
        *[f"__bw{w}" for w in range(BLOOM_WORDS)]
    )


def bloom_oracle_sql(source_sql: str, key_sql: str, item_sql: str) -> str:
    """DuckDB replay of bloom_build from the SAME fragment generators."""
    pos = ", ".join(
        f"{bloom_pos_sql('h', i)} AS p{i}" for i in range(BLOOM_HASHES)
    )
    pcols = [f"p{i}" for i in range(BLOOM_HASHES)]
    words = ", ".join(
        f"{bloom_word_sql(w, pcols)} AS b{w}" for w in range(BLOOM_WORDS)
    )
    aggs = ", ".join(
        f"CAST(bit_or(b{w}) AS BIGINT) AS w{w}" for w in range(BLOOM_WORDS)
    )
    return f"""
WITH __raw AS (SELECT {key_sql} AS host, {item_sql} AS __item FROM {source_sql}),
__h AS (SELECT host, md5(__item) AS h FROM __raw),
__p AS (SELECT host, {pos} FROM __h),
__w AS (SELECT host, {words} FROM __p)
SELECT host, {aggs} FROM __w GROUP BY host
"""


# ------------------------------------------------------------ Count-Min
# Count-Min sketch (Cormode & Muthukrishnan 2005, public): approximate
# per-item frequencies — "roughly how often does each URL / term / query
# appear?" — in d x w counters instead of a full-width groupBy on the
# item itself.
#
# WHY at 10^12 documents: exact per-URL counts shuffle every URL string;
# the CMS register table is d*w BIGINTs per key-scope, built by ONE
# map-side-combinable sum exchange (counters are sums, so partial
# aggregation applies), and sketches for different corpus slices merge
# by element-wise ADDITION — the same incrementality story as the HLL /
# Bloom registers above.  Point estimate = min over the d rows; the
# published guarantee is overcount-only, within eps*N with probability
# 1-delta for w = ceil(e/eps), d = ceil(ln 1/delta).
#
# DETERMINISM: counters are integer SUMS of row contributions, so they
# are exactly order-independent; hash positions come from the same four
# independent md5 slices as the Bloom filter (row i uses slice i), mod
# the sketch width.  Registers AND probe estimates gate bit-for-bit
# against the DuckDB replay built from the same fragment generators.

CMS_DEPTH = 4       # d: one md5 slice per row
CMS_WIDTH = 64      # w: counters per row


def cms_pos_sql(hex_col: str, i: int) -> str:
    """Counter index (0..w-1) for sketch row ``i``: the i-th 32-bit md5
    slice mod CMS_WIDTH.  Valid verbatim in Spark SQL and DuckDB."""
    terms = [
        f"CAST(instr('{HEX}', substr({hex_col}, {1 + 8 * i + j}, 1)) - 1"
        f" AS BIGINT) * {16 ** (7 - j)}"
        for j in range(8)
    ]
    return "((" + " + ".join(terms) + f") % {CMS_WIDTH})"


def cms_build(df: DataFrame, item_col: str) -> DataFrame:
    """Sketch registers (row, pos, cnt): one exchange on (row, pos) —
    d*w = 256 tiny groups — with map-side partial counts."""
    d = df.withColumn("__cm_h", F.expr(f"md5({item_col})"))
    d = d.select(
        "*",
        *[
            F.expr(cms_pos_sql("__cm_h", i)).alias(f"__cp{i}")
            for i in range(CMS_DEPTH)
        ],
    )
    # ONE posexplode instead of d unioned selects: the source is scanned
    # once, and the map-side partial count still collapses each task's
    # output to <= d*w register rows before the exchange
    rows = d.select(
        F.posexplode(
            F.array(*[F.col(f"__cp{i}") for i in range(CMS_DEPTH)])
        ).alias("row", "pos"),
    )
    return rows.select(
        F.col("row").cast("int"), F.col("pos").cast("int")
    ).groupBy("row", "pos").agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def cms_estimate(
    probes: DataFrame, sketch: DataFrame, item_col: str
) -> DataFrame:
    """Append ``est`` = min over the d rows of the probed counters — the
    classic CMS point estimate (never an undercount).  d tiny joins
    against a 256-row register table (broadcast), then a least() across
    the d looked-up counters; items the sketch never saw estimate 0 via
    the coalesce."""
    d = probes.withColumn("__cm_h", F.expr(f"md5({item_col})"))
    d = d.select(
        "*",
        *[
            F.expr(cms_pos_sql("__cm_h", i)).alias(f"__cp{i}")
            for i in range(CMS_DEPTH)
        ],
    )
    for i in range(CMS_DEPTH):
        reg = sketch.where(F.col("row") == i).select(
            F.col("pos").alias(f"__cp{i}"), F.col("cnt").alias(f"__ce{i}")
        )
        d = d.join(F.broadcast(reg), f"__cp{i}", "left")
    est = F.least(
        *[F.coalesce(F.col(f"__ce{i}"), F.lit(0)) for i in range(CMS_DEPTH)]
    )
    return d.withColumn("est", est.cast("long")).drop(
        "__cm_h",
        *[f"__cp{i}" for i in range(CMS_DEPTH)],
        *[f"__ce{i}" for i in range(CMS_DEPTH)],
    )


def cms_oracle_sql(source_sql: str, item_sql: str) -> str:
    """DuckDB replay of cms_build from the same fragment generators."""
    rows = "\nUNION ALL ".join(
        f"SELECT {i} AS row, {cms_pos_sql('h', i)} AS pos, 1 AS w FROM __h"
        for i in range(CMS_DEPTH)
    )
    return f"""
WITH __raw AS (SELECT {item_sql} AS __item FROM {source_sql}),
__h AS (SELECT md5(__item) AS h FROM __raw),
__r AS ({rows})
SELECT CAST(row AS INT) AS row, CAST(pos AS INT) AS pos,
       CAST(sum(w) AS BIGINT) AS cnt
FROM __r GROUP BY row, pos
"""
