"""Ground truth and statistics, in numpy only.

The benchmark checks every result the engine returns against answers it
computes itself from the generated inputs.  A check returns a list of
problems; an empty list means the result is correct.
"""

from __future__ import annotations

import math

import numpy as np

ROUND = 6  # the engine ranks by (round(distance, 6), id)
# float32 storage: the engine and numpy may differ in the last digits of a
# distance, so a neighbour may swap with one this close to the k-th distance
TIE_TOL = 1e-3
DIST_TOL = 1e-3


def l2(vectors: np.ndarray, q: np.ndarray) -> np.ndarray:
    d = np.asarray(vectors, dtype=np.float64) - np.asarray(q, dtype=np.float64)
    return np.sqrt(np.einsum("ij,ij->i", d, d))


def exact_topk(dist: np.ndarray, ids: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Top-k of ``dist`` ascending, ties broken by id: ``(ids, distances)``."""
    order = np.lexsort((ids, np.round(dist, ROUND)))[:k]
    return ids[order], dist[order]


def check_ranked(got_ids: list, got_dist: list, k: int, dist_of) -> list[str]:
    """Rules every search result obeys: at most k rows, ascending distance
    (ties by id), only eligible ids, and distances that match the truth.
    ``dist_of(id)`` is the true distance of an eligible id, None otherwise."""
    problems = []
    if len(got_ids) > k:
        problems.append(f"{len(got_ids)} rows > k={k}")
    keys = [(round(d, ROUND), i) for d, i in zip(got_dist, got_ids)]
    if keys != sorted(keys):
        problems.append("rows not in ascending distance order")
    if len(set(got_ids)) != len(got_ids):
        problems.append("duplicate ids")
    for i, d in zip(got_ids, got_dist):
        true = dist_of(i)
        if true is None:
            problems.append(f"id {i!r} is deleted or outside the filter")
        elif abs(d - true) > DIST_TOL * max(1.0, true):
            problems.append(f"id {i!r} distance {d} != {true}")
    return problems


def check_exact(got_ids: list, got_dist: list, truth_ids, truth_dist, k: int,
                dist_of) -> list[str]:
    """An exact search returns the exact top-k: the same ids, except that a
    neighbour within TIE_TOL of the k-th distance may stand for another."""
    problems = check_ranked(got_ids, got_dist, k, dist_of)
    if len(got_ids) != len(truth_ids):
        return problems + [f"{len(got_ids)} rows, expected {len(truth_ids)}"]
    if list(got_ids) == list(truth_ids):
        return problems
    kth = float(truth_dist[-1]) if len(truth_dist) else 0.0
    for i in set(got_ids) ^ set(truth_ids):
        true = dist_of(i)
        if true is not None and abs(true - kth) <= TIE_TOL:
            continue
        problems.append(f"id {i!r} differs from the exact top-{k}")
    return problems


def recall(got_ids, truth_ids) -> float:
    """|got ∩ truth| / |truth|; 1.0 when the truth is empty."""
    truth = set(truth_ids)
    return len(truth & set(got_ids)) / len(truth) if truth else 1.0


# ---------------------------------------------------------------- statistics


def median(values) -> float:
    return float(np.median(np.asarray(values, dtype=np.float64)))


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile with at least ``beyond`` samples above it, out
    of ``n``: 100 * (1 - beyond / n), or None when n <= beyond."""
    if n <= beyond:
        return None
    return 100.0 * (1.0 - beyond / n)


def percentile(values, p: float) -> float:
    """The ``p``-th percentile by the nearest-rank rule: the smallest sample
    with at least p% of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    # the epsilon keeps 100 * (1 - 10/n) from rounding up a rank
    rank = max(1, math.ceil(p / 100.0 * len(xs) - 1e-9))
    return float(xs[rank - 1])


def tail(values, beyond: int = 10) -> tuple[float | None, float | None]:
    """``(percentile, value)`` at the highest percentile with at least
    ``beyond`` samples above it; ``(None, None)`` with too few samples."""
    p = tail_percentile(len(values), beyond)
    return (None, None) if p is None else (p, percentile(values, p))
