"""Ground truth, result checks and the percentile helper."""

import numpy as np
import pytest

from perfbench import truth
from perfbench.trace import _union_length


def test_tail_percentile_keeps_ten_samples_beyond():
    assert truth.tail_percentile(10) is None
    assert truth.tail_percentile(11) == pytest.approx(100 * (1 - 10 / 11))
    assert truth.tail_percentile(100) == pytest.approx(90.0)
    for n in (11, 20, 37, 100, 1000):
        vals = list(range(n))
        p, v = truth.tail(vals)
        assert sum(1 for x in vals if x > v) == 10, n
    assert truth.tail(list(range(5))) == (None, None)


def test_percentile_nearest_rank():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert truth.percentile(vals, 50) == 3.0
    assert truth.percentile(vals, 100) == 5.0
    assert truth.percentile(vals, 1) == 1.0


def test_recall_at_10_hand_built():
    truth_ids = list(range(10))
    assert truth.recall(truth_ids, truth_ids) == 1.0
    assert truth.recall([0, 1, 2, 3, 4, 5, 6, 7, 98, 99], truth_ids) == 0.8
    assert truth.recall([50, 51], truth_ids) == 0.0
    assert truth.recall([], []) == 1.0


def test_exact_topk_breaks_ties_by_id():
    V = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [2.0, 0.0]], dtype=np.float32)
    ids = np.array([30, 20, 10, 40])
    d = truth.l2(V, [0.0, 0.0])
    got, dist = truth.exact_topk(d, ids, 3)
    assert got.tolist() == [30, 10, 20]  # ids 20 and 10 tie at 1.0
    assert dist.tolist() == [0.0, 1.0, 1.0]


def _dist_of(table):
    return lambda i: table.get(i)


def test_check_ranked_flags_each_broken_rule():
    table = {1: 0.5, 2: 1.0, 3: 2.0}
    assert truth.check_ranked([1, 2], [0.5, 1.0], 10, _dist_of(table)) == []
    assert truth.check_ranked([2, 1], [1.0, 0.5], 10, _dist_of(table))  # order
    assert truth.check_ranked([1, 9], [0.5, 1.0], 10, _dist_of(table))  # ineligible id
    assert truth.check_ranked([1, 2], [0.5, 1.5], 10, _dist_of(table))  # wrong distance
    assert truth.check_ranked([1, 2, 3], [0.5, 1.0, 2.0], 2, _dist_of(table))  # > k rows


def test_check_exact_accepts_only_boundary_ties():
    table = {1: 0.5, 2: 1.0, 3: 1.0 + 1e-4, 4: 3.0}
    dist_of = _dist_of(table)
    assert truth.check_exact([1, 2], [0.5, 1.0], [1, 2], [0.5, 1.0], 2, dist_of) == []
    # id 3 is within the tie tolerance of the k-th distance: accepted
    assert truth.check_exact([1, 3], [0.5, 1.0 + 1e-4], [1, 2], [0.5, 1.0], 2, dist_of) == []
    # id 4 is not a neighbour
    assert truth.check_exact([1, 4], [0.5, 3.0], [1, 2], [0.5, 1.0], 2, dist_of)
    assert truth.check_exact([1], [0.5], [1, 2], [0.5, 1.0], 2, dist_of)  # short


def test_union_length_merges_overlaps():
    assert _union_length([]) == 0.0
    assert _union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert _union_length([(2, 2), (1, 0)]) == 0.0
