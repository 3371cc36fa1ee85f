"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: JVM-side ``F.zip_with``/``F.aggregate`` dot
  products — exact baseline, O(N) per query, the right answer up to ~10^7
  rows per executor-scan.
- LSH (random hyperplane) bucketed search: deterministic numpy hyperplanes
  broadcast as literals, signature = packed sign bits (JVM arithmetic),
  query probes only its bucket (+ multiprobe neighbors) — the scale path:
  the scan prunes to a bucket-equality filter that parquet min/max stats
  and AQE love.
- IVF variant: k centroids trained driver-side on a deterministic sample
  (numpy Lloyd iterations), assignment via JVM dot-product argmax; search
  probes the nearest ``nprobe`` centroid partitions.
"""

from __future__ import annotations

import functools
import warnings

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# decimals every step of the oracle-portable trainers and scorers rounds
# to; the DuckDB oracles replay the same rounding
ROUND_P = 9
# RNG seed of the production trainers' samples and of ``hyperplanes``
SEED = 42

def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_col(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


# Unrolled twins of the fold expressions above.  Higher-order functions
# (aggregate / zip_with / transform) are CodegenFallback in Spark — every
# element step pays interpreted expression evaluation — while a
# left-associated chain of scalar Add/Multiply nodes whole-stage-codegens.
# The chains below reproduce the folds' exact evaluation order
# (((0.0 + t0) + t1) + ...), so results are bit-identical; only the
# execution engine changes (measured ~2.5x on the ivfpq gate at 10x
# sf0.1).  Each chain is built as ONE SQL string handed to a single
# F.expr() — composing it from Column operators costs ~4 py4j round
# trips per term (measured: 2s of pure driver time for 8x64 terms).
# The fold forms remain the general path for runtime-length arrays
# (minhash signatures); the unrolled forms require a statically known dim.

def _elem_sql(vec: str, j: int) -> str:
    # 0-based SQL indexing; per-element cast (float -> double is exact,
    # and for array<double> inputs the cast is a no-op)
    return f"CAST(`{vec}`[{j}] AS DOUBLE)"


def _sum_sql(terms) -> str:
    acc = "0.0D"
    for t in terms:
        acc = f"({acc} + {t})"
    return acc


def _litd(c: float) -> str:
    # repr() round-trips doubles; Spark's parser reads the 'D' literal
    # with Double.parseDouble, so the JVM sees the identical bits
    return f"({float(c)!r}D)"


def _dot_lit(vec: str, vals) -> Column:
    """((0.0 + v[0]*c0) + v[1]*c1) + ... — the codegen twin of
    _dot(col(vec), array(lits))."""
    return F.expr(_sum_sql(
        f"({_elem_sql(vec, j)} * {_litd(c)})" for j, c in enumerate(vals)
    ))


def _l2sq_lit(vec: str, vals, offset: int = 0) -> Column:
    """Unrolled squared L2 against literals, reading ``vec`` elements
    starting at ``offset`` — the codegen twin of
    _l2sq(slice(col(vec), offset+1, len(vals)), array(lits))."""

    def term(j: int, c: float) -> str:
        d = f"({_elem_sql(vec, offset + j)} - {_litd(c)})"
        return f"({d} * {d})"

    return F.expr(_sum_sql(term(j, float(c)) for j, c in enumerate(vals)))


def _norm_sq_sql(vec: str, dim: int) -> str:
    return _sum_sql(
        f"({_elem_sql(vec, j)} * {_elem_sql(vec, j)})" for j in range(dim)
    )


def cosine_lit(vec: str, query_vec: list[float]) -> Column:
    """Unrolled cosine against a literal query.  norm(q) is the same
    left-assoc fold over literals — ConstantFolding evaluates it with the
    identical arithmetic the interpreted fold would."""
    q = [float(x) for x in query_vec]
    dot = _sum_sql(
        f"({_elem_sql(vec, j)} * {_litd(c)})" for j, c in enumerate(q)
    )
    nq = _sum_sql(f"({_litd(x)} * {_litd(x)})" for x in q)
    return F.expr(
        f"({dot}) / (SQRT({_norm_sq_sql(vec, len(q))}) * SQRT({nq}))"
    )


def cosine_cols(a: str, b: str, dim: int) -> Column:
    """Unrolled cosine between two bound array columns of known dim."""
    dot = _sum_sql(
        f"({_elem_sql(a, j)} * {_elem_sql(b, j)})" for j in range(dim)
    )
    return F.expr(
        f"({dot}) / (SQRT({_norm_sq_sql(a, dim)}) * SQRT({_norm_sq_sql(b, dim)}))"
    )


def brute_force_topk(df: DataFrame, query_vec: list[float], k: int = 10) -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    scored = df.select(
        "vec_id", F.round(cosine_lit("embedding", query_vec), 6).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)


def hyperplanes(dim: int, n_planes: int = 16) -> np.ndarray:
    rng = np.random.RandomState(SEED)
    return rng.randn(n_planes, dim).astype(np.float64)


def lsh_signature_col(vec: str, planes: np.ndarray) -> Column:
    """Packed sign-bit signature as a long — pure JVM arithmetic (one dot
    product per plane, n_planes <= 63).  Each dot is the unrolled codegen
    chain (see _dot_lit) — same fold order, whole-stage compiled."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(_dot_lit(vec, p.tolist()) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig + F.shiftleft(bit, i)
    return sig


def with_lsh_bucket(df: DataFrame, planes: np.ndarray) -> DataFrame:
    return df.withColumn("lsh_bucket", lsh_signature_col("embedding", planes))


def _sig_of(query_vec: list[float], planes: np.ndarray) -> int:
    """Sequential left-fold dot products (NOT BLAS): bit-for-bit identical
    to the JVM fold in lsh_signature_col and to DuckDB's list_dot_product,
    so the same query vector lands in the same bucket in all three."""
    sig = 0
    for i, p in enumerate(planes):
        acc = 0.0
        for x, y in zip(query_vec, p.tolist()):
            acc += float(x) * y
        if acc > 0:
            sig |= 1 << i
    return sig


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    planes: np.ndarray,
    k: int,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: score only rows in the query's bucket and its
    Hamming<=multiprobe neighbor buckets (classic multiprobe LSH)."""
    if "lsh_bucket" not in df.columns:
        df = with_lsh_bucket(df, planes)
    qsig = _sig_of(query_vec, planes)
    probes = {qsig}
    if multiprobe >= 1:
        probes |= {qsig ^ (1 << i) for i in range(len(planes))}
    if multiprobe >= 2:
        for i in range(len(planes)):
            for j in range(i + 1, len(planes)):
                probes.add(qsig ^ (1 << i) ^ (1 << j))
    cand = df.where(F.col("lsh_bucket").isin([int(p) for p in probes]))
    return brute_force_topk(cand, query_vec, k)


def embedding_near_pairs(
    df: DataFrame,
    planes: np.ndarray,
    threshold: float = 0.95,
    max_bucket: int = 200,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the ANN-bucketed dedup shape:
    rows pair only within their hyperplane-LSH bucket (equal sign
    signature), buckets above ``max_bucket`` are dropped (boilerplate/
    zero-vector clusters), survivors verified with exact cosine.

    Same scale logic as MinHash-LSH: the only shuffle is groupBy(bucket);
    recall is tuned by n_planes (fewer planes = bigger buckets = higher
    recall, more verify work)."""
    b = with_lsh_bucket(df, planes).select(
        "vec_id", "lsh_bucket", F.col("embedding").cast("array<double>").alias("__v")
    )
    sizes = b.groupBy("lsh_bucket").agg(F.count(F.lit(1)).alias("__n"))
    b = b.join(F.broadcast(sizes.where(F.col("__n") <= max_bucket)), "lsh_bucket")
    a = b.select(
        F.col("lsh_bucket"), F.col("vec_id").alias("a"), F.col("__v").alias("va")
    )
    bb = b.select(
        F.col("lsh_bucket"), F.col("vec_id").alias("b"), F.col("__v").alias("vb")
    )
    pairs = a.join(bb, "lsh_bucket").where(F.col("a") < F.col("b"))
    cos = cosine_cols("va", "vb", int(planes.shape[1]))
    return (
        pairs.where(cos >= threshold)
        .select("a", "b", F.round(cos, 6).alias("cosine"))
    )


def _xxhash_sample(
    df: DataFrame, sample: int, vec_col: str, seed: int
) -> np.ndarray:
    """The deterministic xxhash-ordered training sample, as an (n, d)
    float64 matrix.  Shared by the production IVF and PQ trainers, which
    use the IDENTICAL ordering expression, seed and size — a caller
    training both (q_ivfpq_prod) can collect once and pass the matrix to
    each via ``sample_X``, halving the per-process sort of the full
    vector table (the sort scales with the corpus; the sample does not)."""
    rows = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col).cast("array<double>").cast("string"), F.lit(seed)))
        .limit(sample)
        .collect()
    )
    return np.asarray([r[0] for r in rows], dtype=np.float64)


def _training_sample(
    df: DataFrame, sample: int, vec_col: str, seed: int,
    sample_X: np.ndarray | None,
) -> np.ndarray:
    """The trainers' sample: ``sample_X`` when given — rejected unless it
    is a 2-D matrix of at most ``sample`` rows — else collected here."""
    if sample_X is None:
        return _xxhash_sample(df, sample, vec_col, seed)
    X = np.asarray(sample_X, dtype=np.float64)
    if X.ndim != 2 or len(X) > sample:
        raise ValueError(
            f"sample_X must be 2-D with at most {sample} rows, got shape {X.shape}"
        )
    return X


def train_ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    sample: int = 2000,
    iters: int = 5,
    sample_X: np.ndarray | None = None,
) -> np.ndarray:
    """Deterministic mini-Lloyd on a driver-side sample (dimension table
    scale — the sample, not the corpus, comes to the driver).
    ``sample_X``: a precollected ``_xxhash_sample(df, sample,
    "embedding", SEED)`` matrix — MUST be exactly that, byte-for-byte, or results
    drift; the default path collects it here."""
    X = _training_sample(df, sample, "embedding", SEED, sample_X)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(SEED)
    cent = X[rng.choice(len(X), n_centroids, replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ cent.T, axis=1)
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def train_ivf_centroids_portable(
    df: DataFrame, n_centroids: int, sample: int, iters: int
) -> np.ndarray:
    """Mini-Lloyd whose every step is reproducible in ANSI SQL (the
    ``ivf_cells`` oracle re-derives it in DuckDB with unrolled iterations):

    - sample   = the ``sample`` rows with smallest md5(id-as-string) — both
      engines hash the identical decimal string;
    - init     = the first ``n_centroids`` sample rows in that md5 order
      (no RNG — numpy's MT19937 is not SQL-expressible);
    - each update rounds the member mean to ``ROUND_P`` decimals, then the
      normalized centroid again — numpy's pairwise summation and SQL AVG
      disagree only at ~1e-14, so rounding at 1e-9 makes the engines
      bit-identical while leaving clustering quality untouched;
    - assignments argmax over dots rounded to ``ROUND_P`` (ties -> lowest
      centroid index, = SQL ``ORDER BY dot DESC, cid``).

    The un-suffixed ``train_ivf_centroids`` (xxhash sample + seeded RNG
    init, no rounding) remains the production path."""
    import hashlib

    def _round_half_away(x: np.ndarray, p: int) -> np.ndarray:
        # np.round is banker's (half-even); DuckDB ROUND and Spark F.round
        # are half-away-from-zero — a value landing exactly on a 1e-9 half
        # boundary would otherwise diverge between trainer and oracle
        s = 10.0 ** p
        return np.copysign(np.floor(np.abs(x) * s + 0.5), x) / s

    rows = (
        df.select("vec_id", "embedding")
        .withColumn("__ord", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__ord")
        .limit(sample)
        .collect()
    )
    # defensive re-sort: collect() preserves the orderBy, but the contract
    # (md5 of the decimal id string) is what the oracle replays
    rows = sorted(rows, key=lambda r: hashlib.md5(str(r[0]).encode()).hexdigest())
    X = np.asarray([r[1] for r in rows], dtype=np.float64)
    X = _round_half_away(
        X / np.maximum(np.sqrt((X * X).sum(axis=1, keepdims=True)), 1e-12), ROUND_P
    )
    cent = X[:n_centroids].copy()
    for _ in range(iters):
        assign = np.argmax(_round_half_away(X @ cent.T, ROUND_P), axis=1)
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                mv = _round_half_away(members.mean(axis=0), ROUND_P)
                cent[c] = _round_half_away(
                    mv / max(np.sqrt((mv * mv).sum()), 1e-12), ROUND_P
                )
    return cent


def with_ivf_cell(df: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Assign nearest centroid via JVM dot-product argmax (greatest + CASE —
    no UDF; n_centroids is small by construction).  Each dot is rounded to
    ``ROUND_P`` decimals before the argmax — the oracle-portable mode (see
    ``train_ivf_centroids_portable``)."""
    dots = [
        F.round(_dot_lit("embedding", c.tolist() if hasattr(c, "tolist") else c), ROUND_P)
        .alias(f"__d{i}")
        for i, c in enumerate(centroids)
    ]
    tmp = df.select("*", *dots)
    # argmax with ties -> lowest index, as array_position of the max: the
    # when-chain form references its accumulator twice per step, so a
    # filter pushed through this projection inlines a 2^k-node tree (69s
    # of planning on the ivfpq gate); this form is linear in k and uses
    # the same first-wins `>` comparison, so results are identical.
    arr = F.array(*[F.col(f"__d{i}") for i in range(len(centroids))])
    best = (F.array_position(arr, F.array_max(arr)) - 1).cast("int")
    return tmp.withColumn("ivf_cell", best).drop(*[f"__d{i}" for i in range(len(centroids))])


# ------------------------------------------------------ product quantization

def _l2sq(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 — the SAME associativity the oracle's
    list_reduce uses, so per-step rounding makes both engines agree."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _round_half_away_np(x: np.ndarray, p: int) -> np.ndarray:
    s = 10.0 ** p
    return np.copysign(np.floor(np.abs(x) * s + 0.5), x) / s


def train_pq_codebooks_portable(
    df: DataFrame, m: int, k: int, sample: int, iters: int
) -> np.ndarray:
    """Product-quantization codebooks (Jegou et al. 2011, "Product
    Quantization for Nearest Neighbor Search" — public), trained with the
    same oracle-portable discipline as ``train_ivf_centroids_portable``:
    md5-ordered sample, first-``k`` init per subspace, L2 mini-Lloyd with
    every assignment distance and every mean rounded to ``ROUND_P`` so
    DuckDB replays the training bit-for-bit.  Returns (m, k, d/m).

    PQ is THE memory-scale path for ANN at 10^12 vectors: 64 float32 dims
    (256 B) compress to m=4 uint8 codes (4 B); search scans codes with a
    per-query ADC lookup table instead of raw vectors."""
    import hashlib

    rows = (
        df.select("vec_id", "embedding")
        .withColumn("__ord", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__ord")
        .limit(sample)
        .collect()
    )
    rows = sorted(rows, key=lambda r: hashlib.md5(str(r[0]).encode()).hexdigest())
    X = np.asarray([r[1] for r in rows], dtype=np.float64)
    d = X.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    sub = d // m
    books = np.empty((m, k, sub), dtype=np.float64)
    for s in range(m):
        Xs = X[:, s * sub:(s + 1) * sub]
        cent = Xs[:k].copy()
        for _ in range(iters):
            # sequential-order fold per row, rounded — matches _l2sq and
            # the oracle's list_reduce exactly
            d2 = _round_half_away_np(
                ((Xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2), ROUND_P
            )
            assign = np.argmin(d2, axis=1)  # ties -> lowest code, = SQL
            for c in range(k):
                members = Xs[assign == c]
                if len(members):
                    cent[c] = _round_half_away_np(members.mean(axis=0), ROUND_P)
        books[s] = cent
    return books


def with_pq_codes(df: DataFrame, books: np.ndarray) -> DataFrame:
    """Encode every vector as ``m`` uint8 codes: per subspace, argmin of
    the rounded squared L2 to the k codebook entries — pure JVM Column
    algebra (slice + zip_with fold + when-chain), no UDF.  Ties -> lowest
    code (strict < in the chain)."""
    m, k, sub = books.shape
    out = df
    dist_cols = []
    for s in range(m):
        for c in range(k):
            dist_cols.append(
                F.round(
                    _l2sq_lit("embedding", books[s, c].tolist(), offset=s * sub),
                    ROUND_P,
                ).alias(f"__p{s}_{c}")
            )
    out = out.select("*", *dist_cols)
    code_cols = {}
    for s in range(m):
        # argmin, ties -> lowest code: array_position of the min (linear
        # expression — see with_ivf_cell for why not a when-chain)
        arr = F.array(*[F.col(f"__p{s}_{c}") for c in range(k)])
        code_cols[f"code{s}"] = (
            F.array_position(arr, F.array_min(arr)) - 1
        ).cast("int")
    return out.withColumns(code_cols).drop(
        *[f"__p{s}_{c}" for s in range(m) for c in range(k)]
    )


def _sq_l2_broadcast(Xs: np.ndarray, cent: np.ndarray) -> np.ndarray:
    return ((Xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)


def _sq_l2_accumulate(Xs: np.ndarray, cent: np.ndarray) -> np.ndarray:
    d2 = (Xs[:, 0, None] - cent[None, :, 0]) ** 2
    for j in range(1, Xs.shape[1]):
        d2 += (Xs[:, j, None] - cent[None, :, j]) ** 2
    return d2


@functools.cache
def _accumulate_is_exact() -> bool:
    """Whether this numpy sums a length-<8 axis left to right, checked once
    per process on a fixed input; warns when it does not."""
    rng = np.random.RandomState(7)
    for sub in range(1, 8):
        Xs = rng.randn(33, sub) * rng.choice([1e-6, 1.0, 1e6], size=sub)
        cent = rng.randn(9, sub)
        if not np.array_equal(_sq_l2_accumulate(Xs, cent), _sq_l2_broadcast(Xs, cent)):
            warnings.warn(
                f"numpy {np.__version__} does not sum a length-{sub} axis left to "
                "right: PQ/IVF distances use the slower broadcast form",
                RuntimeWarning,
                stacklevel=2,
            )
            return False
    return True


def _sq_l2_small_sub(Xs: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """(n, k) squared-L2 matrix, BIT-IDENTICAL to
    ``((Xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)`` for
    sub = Xs.shape[1] <= 7, ~5x faster at the production shape (sub=4).

    Why identical: each (row, centroid, dim) difference/square is the
    same scalar op either way, and numpy's pairwise summation reduces a
    length-<8 axis in plain left-to-right order — exactly the order of
    this explicit term accumulation — so every float is reproduced to
    the last ulp (pinned by tests/test_round7_pq.py on random data;
    at length 8 numpy switches to its unrolled multi-accumulator loop
    and the orders diverge, measured, so 8 takes the fallback).  That
    order is a numpy internal, so ``_accumulate_is_exact`` checks it on
    first use and falls back to the broadcast form, with a warning, on a
    numpy that sums differently.
    Why faster: the broadcast form materializes an (n, k, sub) 3D
    temporary (33 MB at n=4096, k=256 — far past L2) twice per call;
    accumulating per-dim (n, k) planes keeps the working set ~8x
    smaller."""
    if Xs.shape[1] > 7 or not _accumulate_is_exact():
        return _sq_l2_broadcast(Xs, cent)
    return _sq_l2_accumulate(Xs, cent)


def train_pq_codebooks(
    df: DataFrame,
    m: int,
    k: int,
    sample: int,
    sample_X: np.ndarray | None = None,
) -> np.ndarray:
    """PRODUCTION PQ trainer (vs the oracle-portable m=4/k=8 twin above):
    k=256 uint8 codebooks, kmeans++ init, >= 10 vectorized Lloyd
    iterations on a deterministic xxhash-ordered driver-side sample.
    m=16 on 64 dims (4 dims/subspace, 16 B/vector = 16x compression) is
    the config that clears recall@10 >= 0.7 on the synthetic unit-sphere
    embeddings — m=8 was measured at 0.67 there (no cluster structure to
    exploit), m=16 at 0.825; real corpora with cluster structure do
    better at the same m.  Returns (m, k', d/m) with k' = min(k, n)."""
    iters = 10
    X = _training_sample(df, sample, "embedding", SEED, sample_X)
    n, d = X.shape
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    k = min(k, n)
    sub = d // m
    rng = np.random.RandomState(SEED)
    books = np.empty((m, k, sub), dtype=np.float64)
    for s in range(m):
        Xs = X[:, s * sub:(s + 1) * sub]
        # kmeans++ seeding: D^2-weighted draws
        cent = [Xs[rng.randint(n)]]
        d2 = ((Xs - cent[0]) ** 2).sum(axis=1)
        for _ in range(k - 1):
            tot = d2.sum()
            p = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
            i = rng.choice(n, p=p)
            cent.append(Xs[i])
            d2 = np.minimum(d2, ((Xs - Xs[i]) ** 2).sum(axis=1))
        cent = np.asarray(cent)
        for _ in range(iters):
            assign = _sq_l2_small_sub(Xs, cent).argmin(axis=1)
            for c in range(k):
                members = Xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[s] = cent
    return books


def _adc_dist_udf(query_vec: list[float], books: np.ndarray):
    """Per-query ADC distance over packed codes: the (m, k) lookup table
    is computed once on the driver and closed over; the UDF is a pure
    numpy gather-sum per Arrow batch."""
    from pyspark.sql.types import DoubleType

    m, k, sub = books.shape
    q = np.asarray(query_vec, dtype=np.float64)
    table = np.stack(
        [((q[s * sub:(s + 1) * sub][None, :] - books[s]) ** 2).sum(axis=1) for s in range(m)]
    )

    @F.arrow_udf(DoubleType())
    def adc(s: pa.Array) -> pa.Array:
        codes = s.to_numpy(zero_copy_only=False)
        arr = np.frombuffer(b"".join(codes), dtype=np.uint8).reshape(-1, m)
        return pa.array(table[np.arange(m)[None, :], arr].sum(axis=1))

    return adc


def build_ivfpq_index(
    df: DataFrame,
    centroids: np.ndarray,
    books: np.ndarray,
    replicas: int,
) -> DataFrame:
    """Production IVF+PQ posting lists: one FUSED Arrow UDF computes the
    top-``replicas`` nearest coarse cells AND the packed PQ code per
    vector (one ArrowEvalPython node — see enrich_fused.spatial_enrich
    for why fusing matters), then explodes to (id, ivf_cell, pq_code) rows.

    Multi-assignment (SPANN-style spill replicas) is what buys recall on
    boundary vectors: a vector near a cell edge is posted to both cells,
    so nprobe routing finds it from either side.  Storage cost is
    ``replicas`` x 16 B/vector — still ~30x smaller than raw float32."""
    from pyspark.sql.types import (
        ArrayType, BinaryType, IntegerType, StructField, StructType,
    )

    m, k, sub = books.shape
    b, cent = books, np.asarray(centroids, dtype=np.float64)
    schema = StructType([
        StructField("cells", ArrayType(IntegerType())),
        StructField("pq_code", BinaryType()),
    ])

    @F.arrow_udf(schema)
    def enc(s: pa.Array) -> pa.Array:
        X = pc.list_flatten(s).to_numpy().reshape(-1, m * sub)
        # row-chunked coarse assignment: the one-shot broadcast form
        # materializes an (n, n_cells, d) 3D temporary (>1 GB at the
        # 64k-row Arrow batch x 32 cells x 64 dims); chunking the ROW
        # axis leaves every per-(row, cell) reduction untouched, so the
        # distances (and their argsort) are bit-identical, with a ~67 MB
        # working set per chunk.
        width = min(replicas, len(cent))  # matches the pre-chunk slice
        cells = np.empty((len(X), width), dtype=np.int32)
        for lo in range(0, len(X), 4096):
            Xc = X[lo:lo + 4096]
            d2c = ((Xc[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            cells[lo:lo + 4096] = np.argsort(
                d2c, axis=1
            )[:, :width].astype(np.int32)
        codes = np.empty((len(X), m), dtype=np.uint8)
        for j in range(m):
            Xs = X[:, j * sub:(j + 1) * sub]
            codes[:, j] = _sq_l2_small_sub(Xs, b[j]).argmin(axis=1)
        offsets = pa.array(np.arange(len(X) + 1, dtype=np.int32) * width)
        return pa.StructArray.from_arrays(
            [
                pa.ListArray.from_arrays(offsets, pa.array(cells.ravel())),
                pa.array([c.tobytes() for c in codes], type=pa.binary()),
            ],
            names=["cells", "pq_code"],
        )

    enc = enc.asNondeterministic()  # stop pruning from cloning the UDF
    tmp = df.withColumn("__ix", enc(F.col("embedding").cast("array<double>")))
    return tmp.select(
        "vec_id",
        F.explode(F.col("__ix.cells")).alias("ivf_cell"),
        F.col("__ix.pq_code").alias("pq_code"),
    )


def ivfpq_search_packed(
    index_df: DataFrame,
    query_vec: list[float],
    centroids: np.ndarray,
    books: np.ndarray,
    k_out: int,
    nprobe: int,
    refine: int,
    vectors_df: DataFrame | None = None,
) -> DataFrame:
    """Production IVF+PQ search (FAISS IVFPQ + refine shape):

    1. route: nearest ``nprobe`` coarse cells on the driver (centroids
       are a dimension table);
    2. ADC scan over ONLY the probed cells' posting rows — an
       ``ivf_cell IN (...)`` filter parquet partition/row-group stats can
       prune, touching only the m-byte codes (plan-guarded);
    3. dedup replicas: min(dist) per id;
    4. refine: exact L2 re-rank of the ADC top-``refine`` against the raw
       vectors — a ``refine``-row build side, so AQE broadcasts the join;
       the full vectors table is never scanned for distances.

    Measured at sf0.01 (500 unit-sphere vectors, 32 cells): nprobe=8,
    replicas=2, refine=50 -> recall@10 = 0.86 vs exact L2 (floor 0.8
    pinned in tests); without refine the synthetic no-cluster-structure
    data caps IVF routing at ~0.7."""
    q = np.asarray(query_vec, dtype=np.float64)
    cent = np.asarray(centroids, dtype=np.float64)
    probe = np.argsort(((cent - q) ** 2).sum(axis=1))[:nprobe]
    adc = _adc_dist_udf(query_vec, books)
    cand = (
        index_df.where(F.col("ivf_cell").isin([int(c) for c in probe]))
        .select("vec_id", adc(F.col("pq_code")).alias("__adc"))
        .groupBy("vec_id")
        .agg(F.min("__adc").alias("approx_dist"))
        .orderBy(F.asc("approx_dist"), F.asc("vec_id"))
        .limit(refine)
    )
    if vectors_df is None:
        return cand.limit(k_out)
    exact = (
        vectors_df.select("vec_id", F.col("embedding").cast("array<double>").alias("__v"))
        .join(cand.select("vec_id"), "vec_id", "inner")
        .select("vec_id", _l2sq_lit("__v", q.tolist()).alias("dist"))
    )
    return exact.orderBy(F.asc("dist"), F.asc("vec_id")).limit(k_out)


def pq_adc_topk(
    codes: DataFrame, query_vec: list[float], books: np.ndarray, k_out: int
) -> DataFrame:
    """Asymmetric-distance top-k: the query's per-subspace distance table
    (m x k doubles, computed on the driver with the SAME rounded fold) is
    baked into a when-chain over the stored codes — the scan touches ONLY
    the 4-byte codes, never the vectors; approx_dist = sum of table
    lookups, ranked (rounded asc, id asc)."""
    m, k, sub = books.shape
    q = np.asarray(query_vec, dtype=np.float64)
    total = F.lit(0.0)
    for s in range(m):
        qs = q[s * sub:(s + 1) * sub]
        # sequential fold + round: identical to _l2sq / the oracle
        table = [
            float(_round_half_away_np(
                np.array(sum((qs[j] - books[s, c, j]) ** 2 for j in range(sub))),
                ROUND_P,
            ))
            for c in range(k)
        ]
        expr = F.lit(table[0])
        for c in range(1, k):
            expr = F.when(F.col(f"code{s}") == c, F.lit(table[c])).otherwise(expr)
        total = total + expr
    scored = codes.select(
        "vec_id", F.round(total, ROUND_P).alias("approx_dist")
    )
    return scored.orderBy(F.asc("approx_dist"), F.asc("vec_id")).limit(k_out)
