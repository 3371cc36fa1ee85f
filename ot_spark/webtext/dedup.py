"""Deduplication operators for document tables.

Signature computation is JVM-side Column algebra (tokenize -> shingle ->
hash -> min/band) so whole-stage codegen applies.  Three per-document folds
run in Arrow UDFs over ``pyarrow`` arrays instead of interpreted
higher-order functions: SimHash's bit tally (numpy bit math over
pre-hashed tokens), the md5-mode MinHash signature and the distinct exact
spans of substring dedup.

Scale shape: MinHash-LSH is the canonical shuffle-light near-dup at 100 TB —
signatures are computed map-side, the only shuffle is groupBy(band, hash)
whose buckets are tiny; candidate verification joins only within buckets.
Hash skew (boilerplate pages sharing a band bucket) is bounded by capping
bucket size (``max_bucket`` — buckets above it are dropped as boilerplate
clusters, logged via stats, the standard web-dedup practice).

``hash_mode``:
- 'xxhash' (default): xxhash64 — fastest, production path.
- 'md5':   md5-hex-substring *strings* as hash values (min over hex strings
  is a total order both Spark and DuckDB implement identically) — the
  correctness-oracle path; slower but engine-portable.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TOKEN_RE = "[A-Za-z0-9]+"


def _materialize(df: DataFrame) -> DataFrame:
    """Compute a multiply-consumed stream ONCE (guide §5 localCheckpoint).

    Several operators derive 2-4 aggregates from the same exploded
    token/span stream; Catalyst clones the scan+tokenize+explode subtree
    per consumer (column pruning makes the subtrees non-identical, so
    neither ReuseExchange nor AQE stage reuse dedupes them), and the
    tokenizer regex / span UDF is the dominant map cost.  One
    localCheckpoint trades a single materialization of the stream (a
    shuffle-write-sized cost; blocks are freed by the ContextCleaner once
    the frame is collected — no unpersist bookkeeping) for k-1 recomputes
    of the most expensive map stage — the right side of that trade at
    every scale where the per-row derivation dominates.  Row content,
    partitioning and intra-partition order are preserved, so downstream
    aggregation order — hence every float — is bit-identical."""
    return df.localCheckpoint(eager=True)


def row_lists(col: pa.Array) -> list:
    """An Arrow list column as one Python list per row (None for NULL).
    Arrow's C++ conversion to numpy is ~10x faster than ``to_pylist``,
    which builds a scalar object per element."""
    return [None if r is None else r.tolist() for r in col.to_numpy(zero_copy_only=False)]


def tokens_col(text: Column) -> Column:
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), 0)


TOKENS_COL = "__tokens"
# word n-gram length of the MinHash shingles and the Jaccard verify
SHINGLE_N = 3


def with_tokens(df: DataFrame) -> DataFrame:
    """Materialize the token array as a bound column in its own Project.

    Any expression that mentions the token array inside a higher-order
    lambda (shingling, rolling window hashes, stopword filters) MUST
    reference a bound attribute, not the regexp expression itself: Catalyst
    inlines a non-attribute subexpression into the lambda body, so an
    inline ``regexp_extract_all`` is re-run once per array element
    (measured 9x on the shingle stage at sf0.1).  CollapseProject keeps
    this Project because the tokenizer is non-cheap and multiply
    referenced downstream (SPARK-36718); ``tests/test_round4.py`` pins the
    single-evaluation plan shape."""
    return df.withColumn(TOKENS_COL, tokens_col(F.col("text")))


def shingles_col(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-grams as strings; documents shorter than n tokens get
    one shingle = the whole token sequence.

    ``tokens`` should be a bound column (see ``with_tokens``): it is
    referenced inside the per-element lambda, and an unbound tokenizer
    expression would be re-evaluated per element.  Formulated as
    transform-with-index over the token array itself (slice + filter)
    rather than ``sequence``+``slice`` — iterating the existing array
    avoids allocating an index array per row (measured ~3x)."""
    joined = F.array_distinct(
        F.filter(
            F.transform(tokens, lambda _t, i: F.concat_ws(" ", F.slice(tokens, i + 1, n))),
            lambda _s, i: i <= F.greatest(F.size(tokens) - n, F.lit(0)),
        )
    )
    return F.when(F.size(tokens) > 0, joined).otherwise(F.array(F.lit("")))


def _hash_shingle(s: Column, seed: int, mode: str) -> Column:
    if mode == "xxhash":
        return F.xxhash64(s, F.lit(seed))
    # portable: first 16 hex chars of md5("<seed>#"+s); min over these
    # strings == min over the 64-bit prefix as unsigned ints
    return F.substring(F.md5(F.concat(F.lit(f"{seed}#"), s)), 1, 16)


def _minhash_md5_col(k: int, shingle_n: int) -> "F.udf":
    """Arrow-batched twin of shingles_col + minhash_signature in md5 mode:
    distinct word ``shingle_n``-grams (short docs -> the whole token
    sequence, empty docs -> [""]), k per-seed min first-16-hex-md5 values.

    hashlib.md5 hexdigest == JVM md5() == the oracle's md5(); Python str
    min over lowercase hex == UTF8String/least binary min — so each
    signature value is byte-identical to the fold it replaces.  The fold
    form below remains the xxhash production path; md5 mode exists for
    oracle portability and was interpreted-HOF bound (the per-shingle
    k-seed md5 chain dominated q_minhash at 10x sf0.1)."""
    import hashlib

    from pyspark.sql.types import ArrayType, StringType

    @F.arrow_udf(ArrayType(StringType()))
    def mh(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        seeds = [f"{i}#".encode() for i in range(k)]
        for col in it:
            vals = []
            for t in row_lists(col):
                if not t:
                    spans = {""}
                else:
                    spans = {
                        " ".join(t[i : i + shingle_n])
                        for i in range(max(len(t) - shingle_n, 0) + 1)
                    }
                mins = ["z" * 16] * k
                for s in spans:
                    sb = s.encode()
                    for i in range(k):
                        h = hashlib.md5(seeds[i] + sb).hexdigest()[:16]
                        if h < mins[i]:
                            mins[i] = h
                vals.append(mins)
            yield pa.array(vals, type=pa.list_(pa.string()))

    return mh.asNondeterministic()


def minhash_signature(
    shingles: Column, k: int = 16, hash_mode: str = "xxhash"
) -> Column:
    """array of k minhash values (long for xxhash, hex-string for md5).

    ONE pass over the shingle list: fold with a k-vector accumulator and
    ``zip_with(least)`` — the naive per-seed ``array_min(transform(...))``
    re-evaluates the shingle expression k times (Catalyst's
    CollapseProject re-inlines it), which measured ~16x slower."""
    if hash_mode == "xxhash":
        init = F.array(*[F.lit(2**63 - 1).cast("long")] * k)
    else:
        init = F.array(*[F.lit("z" * 16)] * k)  # "z" > any hex digit

    def hashes(s: Column) -> Column:
        return F.array(*[_hash_shingle(s, i, hash_mode) for i in range(k)])

    return F.aggregate(
        shingles, init, lambda acc, s: F.zip_with(acc, hashes(s), lambda a, b: F.least(a, b))
    )


def with_minhash(df: DataFrame, k: int = 16, hash_mode: str = "xxhash") -> DataFrame:
    if hash_mode == "md5":
        # tokenizer stays a JVM regexp (evaluated once, inside the Arrow
        # input projection); shingling + hashing move to one Arrow batch
        return df.withColumn(
            "minhash", _minhash_md5_col(k, SHINGLE_N)(tokens_col(F.col("text")))
        )
    tok = with_tokens(df)
    sh = shingles_col(F.col(TOKENS_COL), SHINGLE_N)
    return tok.withColumn("minhash", minhash_signature(sh, k, hash_mode)).drop(TOKENS_COL)


def lsh_band_buckets(df: DataFrame, bands: int = 4) -> DataFrame:
    """Explode the signature into ``bands`` band-hash rows; equal
    (band, band_key) => LSH candidate bucket."""
    sig = F.col("minhash")
    rows_per_band = F.size(sig) / F.lit(bands)
    band_structs = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.slice(
                        sig,
                        (b * rows_per_band + 1).cast("int"),
                        rows_per_band.cast("int"),
                    ).cast("array<string>"),
                )
            ).alias("band_key"),
        ),
    )
    return df.select("doc_id", "minhash", F.explode(band_structs).alias("b")).select(
        "doc_id", "minhash", F.col("b.band").alias("band"), F.col("b.band_key").alias("band_key")
    )


def minhash_candidate_pairs(df: DataFrame, bands: int = 4) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing at least one LSH band.
    Buckets larger than ``max_bucket`` are dropped (boilerplate clusters)."""
    max_bucket = 50
    b = lsh_band_buckets(df, bands)
    grouped = (
        b.groupBy("band", "band_key")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    ids_sorted = F.array_sort("ids")
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    ids_sorted,
                    lambda a, i: F.transform(
                        F.slice(ids_sorted, i + 2, F.size(ids_sorted)),
                        lambda bb: F.struct(a.alias("a"), bb.alias("b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.a", "p.b").distinct()


def jaccard_pairs(df: DataFrame, pairs: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Verify candidate pairs with EXACT n-gram Jaccard over distinct
    shingle sets (the refine step after LSH).

    CANDIDATE-SCOPED (round-6, VERDICT r5 #4): the corpus is semi-joined
    to the candidate id set BEFORE tokenizing, so the verify stage
    shingles only documents that appear in some pair — at 100 TB the LSH
    stage typically nominates well under 1% of documents, and shingling
    everything was the one A/B-confirmed regression of round 5.  The
    semi-join build side is the (tiny) distinct candidate id set, and
    both verify-join build sides shrink with it.

    The candidate DataFrame is persisted first: the plan references it
    three times (id set + the a/b verify joins), and without
    materialization Catalyst re-executes the whole LSH pipeline per
    reference — exactly what a 100 TB run would avoid by checkpointing
    candidates (pair count ≪ corpus, so the cache is small)."""
    pairs = pairs.persist()
    cand_ids = pairs.select(
        F.explode(F.array(F.col("a"), F.col("b"))).alias("doc_id")
    ).distinct()
    scoped = df.select("doc_id", "text").join(cand_ids, "doc_id", "left_semi")
    sh = with_tokens(scoped).select(
        F.col("doc_id"),
        shingles_col(F.col(TOKENS_COL), SHINGLE_N).alias("sh"),
    )
    a = sh.withColumnsRenamed({"doc_id": "a", "sh": "sh_a"})
    bt = sh.withColumnsRenamed({"doc_id": "b", "sh": "sh_b"})
    joined = pairs.join(a, "a").join(bt, "b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    # threshold on the UNROUNDED ratio (round only for output) — rounding
    # first would admit ratios in [threshold-5e-7, threshold) that an exact
    # re-derivation rejects
    return (
        joined.where(jac >= threshold)
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
    )


def connected_components(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components over an undirected pair list -> (id, label)
    where label = min node id in the component.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014 — public algorithm):
    each round rewires edges toward per-neighborhood minima, halving tree
    heights, so convergence is O(log n) rounds instead of the O(diameter)
    of naive min-label propagation — a chain-shaped component of diameter
    10^6 at web scale converges in ~20 rounds, not 10^6.  Each round is
    two groupBy+join shuffles; localCheckpoint truncates the growing plan
    (standard iterative-join pattern).

    large-star(u): every neighbor v > u is re-pointed at
    m = min(neighbors(u) + [u]); small-star (on edges oriented larger ->
    smaller): every smaller neighbor and u itself are re-pointed at the
    min.  At fixpoint every edge is (node, component-min)."""
    from pyspark.sql import Observation

    a, b = F.col("a"), F.col("b")
    nodes = (
        pairs.select(a.alias("id"))
        .unionByName(pairs.select(b.alias("id")))
        .distinct()
        .localCheckpoint()
    )

    def _checkpoint_with_sig(edges: DataFrame) -> tuple[DataFrame, tuple]:
        # the convergence signature (count + order-insensitive bit_xor —
        # edges are distinct, so xor cancellation can't occur) piggybacks
        # on the SAME job that materializes the checkpoint via observe():
        # a separate .agg() action would re-scan the edge set once per
        # round — at web scale that second pass is a full extra read of a
        # multi-TB intermediate, per round
        obs = Observation()
        out = edges.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.bit_xor(F.xxhash64(F.col("u"), F.col("v"))), F.lit(0)
            ).alias("h"),
        ).localCheckpoint()
        m = obs.get
        return out, (m["n"], m["h"])

    # canonical orientation u > v; drop self-loops
    e, sig = _checkpoint_with_sig(
        pairs.select(
            F.greatest(a, b).alias("u"), F.least(a, b).alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    for _ in range(max_iters):
        if sig[0] == 0:
            break
        # large-star: symmetric neighborhoods; emit (bigger-neighbor, m)
        sym = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        e = (
            sym.join(lmins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star on larger->smaller orientation: re-point every
        # smaller neighbor AND u itself at the per-u min
        smins = e.groupBy("u").agg(F.min("v").alias("m"))
        joined = e.join(smins, "u")
        e = (
            joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smins.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        e, new_sig = _checkpoint_with_sig(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        # leaving the loop without a stable edge set would silently return
        # labels mid-contraction
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            f"raise max_iters"
        )
    # fixpoint: every edge is (node, component-min); nodes without a
    # parent edge are their component's min (or isolated)
    parents = e.select(F.col("u").alias("id"), F.col("v").alias("label"))
    return (
        nodes.join(parents, "id", "left")
        .select("id", F.coalesce("label", "id").alias("label"))
    )


def minhash_dedup(
    df: DataFrame,
    k: int,
    bands: int,
    threshold: float,
    hash_mode: str = "xxhash",
    clustering: str = "onestep",
) -> DataFrame:
    """Full near-dup pipeline: signature -> LSH candidates -> exact Jaccard
    verify -> representative assignment.

    clustering='onestep': min direct-neighbor id — exact for pair-shaped
    duplicate groups, one shuffle.
    clustering='cc': true connected components (min-label propagation) —
    transitive duplicate chains collapse to one representative."""
    sigs = with_minhash(df, k, hash_mode=hash_mode)
    cands = minhash_candidate_pairs(sigs, bands=bands)
    dups = jaccard_pairs(df, cands, threshold=threshold)
    if clustering == "cc":
        labels = connected_components(dups)
        rep = labels.withColumnsRenamed({"id": "doc_id", "label": "rep"})
    elif clustering == "onestep":
        # representative = min id over the pair graph's direct neighborhood
        rep = dups.select(F.col("b").alias("doc_id"), F.col("a").alias("rep")).groupBy(
            "doc_id"
        ).agg(F.min("rep").alias("rep"))
    else:
        raise ValueError(f"unknown clustering: {clustering!r}")
    return df.join(rep, "doc_id", "left").withColumn(
        "rep", F.coalesce("rep", F.col("doc_id"))
    )


# ------------------------------------------------------------------ simhash

def _token_hash(t: Column, mode: str) -> Column:
    if mode == "xxhash":
        return F.xxhash64(t)
    # portable 60-bit hash: first 15 md5 hex chars as an integer — DuckDB
    # re-derives it with CAST('0x'||substr(md5(t),1,15) AS BIGINT)
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def with_simhash(df: DataFrame, hash_mode: str = "xxhash") -> DataFrame:
    """SimHash (64-bit xxhash mode / 60-bit portable md5 mode): token hashes
    JVM-side, bit tally in a vectorized Arrow UDF (numpy popcount-style
    accumulation).  Documents with NO tokens get a NULL simhash — otherwise
    every empty/boilerplate page hashes to 0 and forms one quadratic
    near-dup bucket."""
    toks = tokens_col(F.col("text"))
    hashes = F.transform(toks, lambda t: _token_hash(t, hash_mode))

    # Peak-memory bound for the bit tally: tokens are processed in
    # fixed-size slices, so transient allocation is ~CHUNK*64 bytes of
    # unpacked bits (+ an int16 partial-sum of the same shape) regardless
    # of Arrow batch size or per-document token count.  A 10k-row batch
    # with 1k tokens/doc previously allocated two (10M, 64) int64
    # matrices (~10 GB); now it peaks at <1 MB — which also keeps the
    # working set in L2 (measured ~11x faster than the full-batch
    # matrix).  CHUNK must stay <= 32767 so segment sums fit int16.
    CHUNK = 1 << 11

    @F.arrow_udf(LongType())
    def tally(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        bit_weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        for col in it:
            out = np.zeros(len(col), dtype=np.int64)
            # null and empty rows are dropped: reduceat over an empty
            # segment returns the element at its start, not 0
            lens = pc.list_value_length(col).fill_null(0).to_numpy()
            rows = np.flatnonzero(lens)
            if not len(rows):
                yield pa.array(out)
                continue
            lens = lens[rows].astype(np.int64)
            flat = pc.list_flatten(col).to_numpy().astype(np.uint64)
            starts = np.concatenate([[0], np.cumsum(lens[:-1])])
            total = flat.shape[0]
            # per-row count of set bits per position; +1/-1 votes are
            # recovered at the end as 2*bitsum - len (signed space — an
            # unsigned formulation wraps past zero for minority bits)
            bitsum = np.zeros((len(rows), 64), dtype=np.int64)
            for s in range(0, total, CHUNK):
                e = min(s + CHUNK, total)
                # little-endian uint64 -> 8 bytes LSB-first -> unpackbits
                # bitorder='little' puts word-bit j in column j
                bits = np.unpackbits(
                    np.ascontiguousarray(flat[s:e]).view(np.uint8).reshape(-1, 8),
                    axis=1,
                    bitorder="little",
                )
                # rows intersecting [s, e): starts clipped into the slice
                # give reduceat segment boundaries; segment sums fit int16
                # because a segment is at most CHUNK (<= 32767) tokens long
                r0 = int(np.searchsorted(starts, s, side="right")) - 1
                r1 = int(np.searchsorted(starts, e, side="left"))
                local = np.clip(starts[r0:r1], s, e) - s
                partial = np.add.reduceat(bits.astype(np.int16), local, axis=0)
                bitsum[r0 : r0 + partial.shape[0]] += partial
            votes = 2 * bitsum - lens[:, None]
            sims = ((votes > 0).astype(np.uint64) * bit_weights).sum(
                axis=1, dtype=np.uint64
            )
            out[rows] = sims.astype(np.int64)
            yield pa.array(out)

    return df.withColumn(
        "simhash", F.when(F.size(toks) > 0, tally(hashes))
    )


def simhash_near_pairs(
    df: DataFrame, max_hamming: int, n_bits: int, max_bucket: int
) -> DataFrame:
    """Near-dup pairs by Hamming distance <= k using the pigeonhole trick:
    split ``n_bits`` into (k+1) chunks; near pairs must share one exact
    chunk -> bucketed groupBy(chunk_id, chunk_val), pairs generated within
    buckets only, verified with bit_count.

    Like MinHash-LSH, buckets above ``max_bucket`` are dropped (boilerplate
    clusters that would otherwise go quadratic — e.g. all-identical or
    near-empty pages sharing every chunk); NULL simhashes (token-less docs)
    never pair."""
    chunks = max_hamming + 1
    width = n_bits // chunks
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_id"),
                F.shiftrightunsigned(F.col("simhash"), c * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("chunk_val"),
            )
            for c in range(chunks)
        ]
    )
    e = (
        df.where(F.col("simhash").isNotNull())
        .select("doc_id", "simhash", F.explode(chunk_structs).alias("c"))
        .select("doc_id", "simhash", "c.chunk_id", "c.chunk_val")
    )
    grouped = (
        e.groupBy("chunk_id", "chunk_val")
        .agg(
            F.collect_list(
                F.struct(F.col("doc_id").alias("id"), F.col("simhash").alias("sim"))
            ).alias("ids")
        )
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    ids_sorted = F.array_sort("ids")
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    ids_sorted,
                    lambda a, i: F.transform(
                        F.slice(ids_sorted, i + 2, F.size(ids_sorted)),
                        lambda bb: F.struct(
                            a["id"].alias("a"),
                            bb["id"].alias("b"),
                            a["sim"].alias("sim_a"),
                            bb["sim"].alias("sim_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.a", "p.b", "p.sim_a", "p.sim_b").distinct()
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return pairs.select("a", "b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def _distinct_spans_col(window: int) -> "F.udf":
    """Arrow-batched twin of
    array_distinct(filter(transform(toks, i -> concat_ws(' ',
    slice(toks, i+1, window))), i <= size - window)): the distinct exact
    ``window``-token spans of a document (docs shorter than ``window``
    yield none).  Tokens are [A-Za-z0-9]+ so ' '.join is collision-free
    and byte-identical to concat_ws; only span order can differ, and
    every consumer aggregates or joins, so results are unchanged."""
    from pyspark.sql.types import ArrayType, StringType

    @F.arrow_udf(ArrayType(StringType()))
    def spans(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        for col in it:
            out = []
            for t in row_lists(col):
                if t is None or len(t) < window:
                    out.append([])
                else:
                    out.append(list({
                        " ".join(t[i : i + window])
                        for i in range(len(t) - window + 1)
                    }))
            yield pa.array(out, type=pa.list_(pa.string()))

    return spans.asNondeterministic()


def substring_dup_pairs(
    df: DataFrame, max_bucket: int, key_mode: str = "hash"
) -> DataFrame:
    """EXACT substring dedup (the Lee et al. 2021 "Deduplicating Training
    Data" shape, public): document pairs sharing at least one exact
    ``window``-token span, with the count of distinct shared spans.

    Scale shape mirrors LSH: explode distinct window spans (map-side),
    bucket by span key, CAP pathological buckets (boilerplate spans shared
    by > ``max_bucket`` docs are dropped — the quadratic-blowup guard), and
    enumerate pairs only within buckets.

    ``key_mode`` picks the bucket key:

    - ``"hash"`` (production default): xxhash64(span) — every shuffle
      (bucket-size agg, bucket semi-join, pair join) keys on a FIXED-WIDTH
      8-byte long instead of a ~50-byte span string, and pairs verify
      ``span_a == span_b`` inside the bucket so a hash collision can never
      emit a false pair.  The only collision effect is on the ``max_bucket``
      cap (two colliding spans share one cap budget — p ~ n^2/2^64,
      negligible even at 10^12 distinct spans it is rare and the cap is a
      heuristic anyway).
    - ``"span"``: the span string itself is the key — zero collision effect
      on the cap; byte-for-byte the semantics the DuckDB oracle re-derives.

    Both modes return identical pairs (the verify filter makes "hash"
    exact), so the gate runs the production path against the span-join
    oracle."""
    window = 8
    w = df.select(
        F.col("doc_id"),
        F.explode(
            _distinct_spans_col(window)(tokens_col(F.col("text")))
        ).alias("win"),
    )
    if key_mode == "hash":
        w = w.withColumn("wk", F.xxhash64("win"))
    elif key_mode == "span":
        w = w.withColumn("wk", F.col("win"))
    else:
        raise ValueError(f"key_mode must be 'hash' or 'span', got {key_mode!r}")
    # ONE exchange feeds all three consumers (sizes, pair legs a and b):
    # a column-only repartition on the bucket key makes the three
    # downstream subtrees share the same shuffle stage — AQE stage reuse
    # computes the span UDF once on the map side and the bucket-size agg
    # plus both join legs read the shuffled output co-partitioned on wk
    # (A/B at 10x sf0.1: 4.1-4.5s -> 2.5-3.1s).  Chosen over
    # localCheckpoint materialization (slower: the ~50-byte span rows
    # cost more to pin than to shuffle once, 4.3s vs 3.9s measured).
    w = w.repartition(F.col("wk"))
    sizes = (
        w.groupBy("wk")
        .agg(F.count(F.lit(1)).alias("n"))
        .where((F.col("n") > 1) & (F.col("n") <= max_bucket))
        .select("wk")
    )
    wb = w.join(sizes, "wk")
    a = wb.select("wk", F.col("win").alias("win_a"), F.col("doc_id").alias("a"))
    b = wb.select("wk", F.col("win").alias("win_b"), F.col("doc_id").alias("b"))
    pairs = a.join(b, "wk").where(F.col("a") < F.col("b"))
    if key_mode == "hash":
        # span-equality verify, written as <=/>= ON PURPOSE: a literal
        # win_a == win_b is extracted by ExtractEquiJoinKeys into the join
        # keys, putting the ~50-byte span string back into the exchange's
        # hashpartitioning — exactly what hash mode exists to avoid.  The
        # range pair is semantically identical, stays a post-match join
        # filter, and keeps the shuffle keyed on the 8-byte wk long.
        pairs = pairs.where(
            (F.col("win_a") <= F.col("win_b")) & (F.col("win_a") >= F.col("win_b"))
        )
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_windows"))
    )


def contamination_flags(train: DataFrame, eval_df: DataFrame) -> DataFrame:
    """Benchmark decontamination (the Lee et al. / GPT-3-appendix 'dirty
    document' check, public): a training document is contaminated when it
    shares at least one exact ``window``-token span with ANY evaluation
    document; returns (id, n_shared) for contaminated docs, n_shared =
    distinct contaminated spans.

    Scale shape: the eval side is benchmark-sized (thousands of docs, not
    10^12) — its distinct window set BROADCASTS, so the corpus-sized
    training side is one map-side explode + broadcast semi-join + groupBy:
    no corpus-vs-corpus shuffle anywhere."""
    window = 8

    def _windows(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("doc_id"),
            F.explode(
                _distinct_spans_col(window)(tokens_col(F.col("text")))
            ).alias("win"),
        )

    ev = _windows(eval_df).select("win").distinct()
    hits = _windows(train).join(F.broadcast(ev), "win", "left_semi")
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared")
    )
