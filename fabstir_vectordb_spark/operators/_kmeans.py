"""Driver-side k-means for bounded training samples.

Both index builders (IVF, ProductQuantizer) train on a size-capped
sample — the reference's own design (train_size=10000,
src/ivf/core.rs:50-60; PQ per-subspace fits, vector_ops.rs:415-447) — so
the fit is driver-scale work: a 10k x 384 float64 sample is ~30 MB.
Running Lloyd's in numpy avoids ~maxIter distributed job rounds of pure
scheduling overhead that MLlib pays on small data; assignment of the
FULL table stays distributed (operators/ivf.py assign()).

k-means++ seeding + Lloyd's, all distances via the |x|^2 - 2xC' + |c|^2
GEMM form: O(n*k) memory, BLAS throughput, never an (n, k, dim) tensor.
"""

from __future__ import annotations

import numpy as np


def _pairwise_sq(X: np.ndarray, C: np.ndarray, x_sq: np.ndarray) -> np.ndarray:
    """(n, k) squared L2 distances, GEMM-formed from ``x_sq``, the squared
    norms of the rows of X; clamped at 0 (the expansion can cancel to
    ~-1e-16 for coincident points)."""
    d = x_sq[:, None] - 2.0 * (X @ C.T) + np.einsum("ij,ij->i", C, C)[None, :]
    return np.maximum(d, 0.0)


def training_error(X: np.ndarray, C: np.ndarray) -> float:
    """Mean squared distance to the assigned centroid — the reference's
    k-means training error metric (ivf/core.rs:419-429)."""
    return float(_pairwise_sq(X, C, np.einsum("ij,ij->i", X, X)).min(axis=1).mean())


def kmeans_fit(
    X: np.ndarray,
    k: int,
    iters: int = 25,
    rng: np.random.RandomState | None = None,
    tol: float = 1e-6,
) -> np.ndarray:
    """k-means++ seeding + Lloyd's; returns (k, dim) centroids.

    Mirrors the reference's trainer (init ivf/core.rs:336-371, assign
    :373-386, update :388-417 — reimplemented from the public algorithm).
    """
    rng = rng or np.random.RandomState(0)
    n = len(X)
    if n < k:
        raise ValueError(f"need >= {k} training points, got {n}")
    x_sq = np.einsum("ij,ij->i", X, X)  # constant across seeding and every Lloyd step
    # k-means++ seeding
    idx = [int(rng.randint(n))]
    d2 = _pairwise_sq(X, X[idx[-1] : idx[-1] + 1], x_sq)[:, 0]
    for _ in range(1, k):
        total = d2.sum()
        if total <= 0:
            idx.append(int(rng.randint(n)))
        else:
            idx.append(int(rng.choice(n, p=d2 / total)))
        d2 = np.minimum(d2, _pairwise_sq(X, X[idx[-1] : idx[-1] + 1], x_sq)[:, 0])
    C = X[idx].copy()
    # Lloyd's
    for _ in range(iters):
        assign = _pairwise_sq(X, C, x_sq).argmin(axis=1)
        newC = C.copy()
        # one stable sort lays each cluster's members out contiguously in
        # row order — the rows, and the order, of the mask X[assign == j],
        # so the means are bit-identical to a per-cluster mask scan
        order = np.argsort(assign, kind="stable")
        bounds = np.searchsorted(assign[order], np.arange(1, k))
        for j, members in enumerate(np.split(X[order], bounds)):
            if len(members):
                newC[j] = members.mean(axis=0)
        shift = float(np.abs(newC - C).max())
        C = newC
        if shift <= tol:
            break
    return C
