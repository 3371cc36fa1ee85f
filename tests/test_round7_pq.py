"""Round-7 PQ fast-path pins: `_sq_l2_small_sub` must reproduce the
broadcast squared-L2 matrix TO THE LAST ULP (it feeds argmin assignments
whose flips would silently change trained codebooks, PQ codes, and the
`ivfpq_prod` gate rows), and the row-chunked coarse assignment in
`build_ivfpq_index` must likewise be a pure memory-layout change."""

import numpy as np
import pytest

from ot_spark.webtext import simsearch
from ot_spark.webtext.simsearch import (
    _sq_l2_small_sub, train_ivf_centroids, train_pq_codebooks,
)


def _broadcast_sq_l2(Xs: np.ndarray, cent: np.ndarray) -> np.ndarray:
    return ((Xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)


def test_sq_l2_small_sub_bit_equal_across_subs():
    rng = np.random.RandomState(11)
    # sub=4 is the shipped production shape (m=16 on 64 dims); 1 and 7
    # bracket the fast path, 8 and 16 exercise the fallback branch
    # (numpy's unrolled multi-accumulator summation starts at length 8,
    # so 8 MUST take the fallback — the helper pins the threshold at 7)
    for sub in (1, 2, 4, 7, 8, 16):
        for n, k in ((1, 1), (7, 3), (4096, 256)):
            Xs = rng.randn(n, sub) * rng.choice([1e-6, 1.0, 1e6])
            cent = rng.randn(k, sub)
            assert np.array_equal(
                _sq_l2_small_sub(Xs, cent), _broadcast_sq_l2(Xs, cent)
            ), f"ulp drift at sub={sub} n={n} k={k}"


def test_sq_l2_small_sub_argmin_ties_match():
    # duplicated centroids force exact distance ties: argmin must pick
    # the same (lowest) index both ways
    rng = np.random.RandomState(12)
    Xs = rng.randn(64, 4)
    cent = rng.randn(8, 4)
    cent = np.vstack([cent, cent])  # every distance tied pairwise
    a = _sq_l2_small_sub(Xs, cent).argmin(axis=1)
    b = _broadcast_sq_l2(Xs, cent).argmin(axis=1)
    assert np.array_equal(a, b)
    assert a.max() < 8  # ties resolve to the first copy


def test_sq_l2_small_sub_falls_back_loudly(monkeypatch):
    # a numpy whose small-axis summation order differs: the first call
    # warns and every call returns the broadcast form
    accumulate = simsearch._sq_l2_accumulate
    monkeypatch.setattr(
        simsearch, "_sq_l2_accumulate", lambda X, c: np.nextafter(accumulate(X, c), np.inf)
    )
    simsearch._accumulate_is_exact.cache_clear()
    try:
        rng = np.random.RandomState(14)
        Xs, cent = rng.randn(50, 4), rng.randn(6, 4)
        with pytest.warns(RuntimeWarning, match="broadcast form"):
            first = _sq_l2_small_sub(Xs, cent)
        assert np.array_equal(first, _broadcast_sq_l2(Xs, cent))
        assert not np.array_equal(first, simsearch._sq_l2_accumulate(Xs, cent))
        assert np.array_equal(_sq_l2_small_sub(Xs, cent), first)
    finally:
        simsearch._accumulate_is_exact.cache_clear()


def test_row_chunked_coarse_assign_bit_equal():
    # the build_ivfpq_index chunking: per-row reductions are independent,
    # so chunking the row axis cannot change any distance or its argsort
    rng = np.random.RandomState(13)
    X = rng.randn(10_000, 64)
    cent = rng.randn(32, 64)
    whole = np.argsort(_broadcast_sq_l2(X, cent), axis=1)[:, :2]
    chunked = np.empty((len(X), 2), dtype=np.int64)
    for lo in range(0, len(X), 4096):
        Xc = X[lo:lo + 4096]
        chunked[lo:lo + 4096] = np.argsort(
            _broadcast_sq_l2(Xc, cent), axis=1
        )[:, :2]
    assert np.array_equal(whole, chunked)


def test_trainers_reject_mismatched_sample_X():
    # a precollected sample must be a 2-D matrix of at most `sample` rows;
    # anything else would silently train drifted centroids/codebooks
    rng = np.random.RandomState(13)
    ok = rng.randn(64, 8)
    for bad in (rng.randn(65, 8), rng.randn(64), rng.randn(2, 32, 8)):
        with pytest.raises(ValueError, match="sample_X"):
            train_ivf_centroids(None, n_centroids=4, sample=64, sample_X=bad)
        with pytest.raises(ValueError, match="sample_X"):
            train_pq_codebooks(None, m=2, k=4, sample=64, sample_X=bad)
    assert train_ivf_centroids(None, n_centroids=4, sample=64, sample_X=ok).shape == (4, 8)
    assert train_pq_codebooks(None, m=2, k=4, sample=64, sample_X=ok).shape == (2, 4, 4)
