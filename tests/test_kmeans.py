"""Driver-side k-means (operators/_kmeans.py) against a naive reference.

The reference below is the straightforward form of the same algorithm:
|x|^2 recomputed on every distance call and one boolean-mask scan per
cluster in each Lloyd step.  The library form must return bit-identical
centroids (np.array_equal, not allclose)."""

import numpy as np
import pytest

from fabstir_vectordb_spark.operators._kmeans import kmeans_fit


def _naive_pairwise_sq(X, C):
    d = (
        np.einsum("ij,ij->i", X, X)[:, None]
        - 2.0 * (X @ C.T)
        + np.einsum("ij,ij->i", C, C)[None, :]
    )
    return np.maximum(d, 0.0)


def _naive_kmeans(X, k, iters=25, rng=None, tol=1e-6):
    rng = rng or np.random.RandomState(0)
    n = len(X)
    idx = [int(rng.randint(n))]
    d2 = _naive_pairwise_sq(X, X[idx[-1] : idx[-1] + 1])[:, 0]
    for _ in range(1, k):
        total = d2.sum()
        if total <= 0:
            idx.append(int(rng.randint(n)))
        else:
            idx.append(int(rng.choice(n, p=d2 / total)))
        d2 = np.minimum(d2, _naive_pairwise_sq(X, X[idx[-1] : idx[-1] + 1])[:, 0])
    C = X[idx].copy()
    for _ in range(iters):
        assign = _naive_pairwise_sq(X, C).argmin(axis=1)
        newC = C.copy()
        for j in range(k):
            members = X[assign == j]
            if len(members):
                newC[j] = members.mean(axis=0)
        shift = float(np.abs(newC - C).max())
        C = newC
        if shift <= tol:
            break
    return C


def _mixture(seed, n, dim, comps):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((comps, dim)) * 4.0
    return centers[rng.integers(0, comps, n)] + rng.standard_normal((n, dim))


@pytest.mark.parametrize(
    "n, dim, k, iters",
    [(600, 16, 8, 25), (1500, 48, 32, 10), (300, 7, 5, 25)],
)
def test_bit_identical_to_naive_reference(n, dim, k, iters):
    X = _mixture(n + dim, n, dim, comps=12)
    got = kmeans_fit(X, k, iters=iters, rng=np.random.RandomState(3))
    want = _naive_kmeans(X, k, iters=iters, rng=np.random.RandomState(3))
    assert np.array_equal(got, want)


def test_bit_identical_on_subspace_views():
    # ProductQuantizer.fit passes non-contiguous column slices of the sample
    X = _mixture(11, 800, 32, comps=10)
    for m in range(4):
        Xm = X[:, m * 8 : (m + 1) * 8]
        got = kmeans_fit(Xm, 16, iters=25, rng=np.random.RandomState(42))
        want = _naive_kmeans(Xm, 16, iters=25, rng=np.random.RandomState(42))
        assert np.array_equal(got, want)


def test_bit_identical_with_empty_cluster():
    # three distinct points and k=6: once they are seeded the k-means++
    # mass is zero, the remaining seeds repeat points, and the repeated
    # centroids own no members — the empty-cluster branch keeps them
    base = np.array([[0.0, 0.0], [5.0, 1.0], [-3.0, 4.0]])
    X = np.repeat(base, [40, 25, 35], axis=0)
    got = kmeans_fit(X, 6, iters=10, rng=np.random.RandomState(1))
    want = _naive_kmeans(X, 6, iters=10, rng=np.random.RandomState(1))
    assert np.array_equal(got, want)
    assign = _naive_pairwise_sq(X, got).argmin(axis=1)
    assert len(np.unique(assign)) < 6  # some cluster really was empty
