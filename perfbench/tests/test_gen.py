"""Seeded generation: the same seed gives the same bytes, another seed other
bytes, and the generated filters and op mixes have the stated shape."""

import hashlib
import json

import numpy as np
import pytest

from perfbench import gen

N, NQ = 600, 64


def _digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, gen.Corpus):
            for a in (p.vectors, p.category, p.year, p.score, p.age_s):
                h.update(a.tobytes())
        elif isinstance(p, np.ndarray):
            h.update(p.tobytes())
        else:
            h.update(json.dumps(p, sort_keys=True, default=_plain).encode())
    return h.hexdigest()


def _plain(o):
    if isinstance(o, gen.Corpus):
        return _digest(o)
    raise TypeError(type(o))


def _session_digest(seed: int) -> str:
    inp = gen.session_inputs(seed, N, NQ)
    return _digest(
        inp.corpus, inp.queries, inp.filters, inp.centers,
        gen.point_ops(seed, 200, NQ, len(inp.filters)),
        gen.crud_ops(seed, inp, 2, add_batch=20, delete_batch=5, update_batch=5),
    )


def _bulk_digest(seed: int) -> str:
    b = gen.bulk_inputs(seed, N, NQ)
    return _digest(b.corpus, b.queries, b.warm_queries)


@pytest.mark.parametrize("digest", [_session_digest, _bulk_digest])
def test_same_seed_same_bytes_other_seed_other_bytes(digest):
    assert digest(7) == digest(7)
    assert digest(7) != digest(8)


def test_corpus_shape_and_recency_share():
    c = gen.session_inputs(3, 5_000, NQ).corpus
    assert c.vectors.shape == (5_000, gen.DIM) and c.vectors.dtype == np.float32
    recent = c.age_s < gen.RECENT_DAYS * gen.DAY_S
    assert 0.27 < recent.mean() < 0.33
    # no age sits within the margin around the recency cutoff
    assert np.all(np.abs(c.age_s - gen.RECENT_DAYS * gen.DAY_S) >= gen.CUTOFF_MARGIN_S)
    # category frequencies are skewed: the top one is several times the last
    counts = np.bincount(c.category, minlength=len(gen.CATEGORIES))
    assert counts[0] > 5 * counts[-1]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_filters_cover_the_three_selectivity_bands(seed):
    inp = gen.session_inputs(seed, 5_000, NQ)
    for band in gen.SELECTIVITY_BANDS:
        got = [f["selectivity"] for f in inp.filters if f["band"] == band]
        assert len(got) == 4
        assert band / 1.5 <= np.median(got) <= band * 1.5, (band, got)
        assert all(band / 5 <= s <= band * 5 for s in got), (band, got)
    ops = {k for f in inp.filters for k in json.dumps(f["filter"]).split('"') if k.startswith("$")}
    assert {"$in", "$gte", "$lt", "$and", "$or"} <= ops
    # plain equality, the dialect's $eq
    assert any(isinstance(v, str) for f in inp.filters for v in f["filter"].values())


def test_eval_filter_semantics():
    c = gen.Corpus(
        vectors=np.zeros((4, gen.DIM), np.float32),
        category=np.array([0, 1, 2, 1]),
        year=np.array([2000, 2005, 2010, 2020]),
        score=np.array([0.1, 0.5, 0.9, 0.3]),
        age_s=np.zeros(4, np.int64),
    )
    ev = lambda f: gen.eval_filter(f, c).tolist()  # noqa: E731
    assert ev({"category": "cat01"}) == [False, True, False, True]
    assert ev({"category": {"$in": ["cat00", "cat02"]}}) == [True, False, True, False]
    assert ev({"year": {"$gte": 2005, "$lt": 2020}}) == [False, True, True, False]
    assert ev({"$and": [{"category": "cat01"}, {"score": {"$lt": 0.4}}]}) == [False, False, False, True]
    assert ev({"$or": [{"year": 2000}, {"score": {"$gte": 0.9}}]}) == [True, False, True, False]


def test_point_ops_mix_is_fixed():
    ops = gen.point_ops(1, 400, 384, 12)
    kinds = [k for k, _, _ in ops]
    assert kinds.count("repeat") == 100
    fresh = [k for k in kinds if k != "repeat"]
    assert fresh.count("filtered") == 90  # 3 in 10
    # a repeat names an earlier fresh call
    seen = set()
    for k, q, f in ops:
        if k == "repeat":
            assert (q, f) in seen
        else:
            seen.add((q, f))


def test_crud_ops_stay_valid_against_the_model():
    inp = gen.session_inputs(2, 2_000, NQ)
    ops = gen.crud_ops(2, inp, 3, add_batch=50, delete_batch=20, update_batch=20)
    assert [o["op"] for o in ops[:4]] == ["add", "delete", "update", "delete_by_metadata"]
    live = {f"v{i:06d}" for i in range(2_000)}
    for o in ops:
        if o["op"] == "add":
            assert not live & set(o["ids"])
            live |= set(o["ids"])
        elif o["op"] in ("delete", "delete_by_metadata"):
            assert set(o["ids"]) <= live
            live -= set(o["ids"])
        else:
            assert set(o["ids"]) <= live
    dbm = [o for o in ops if o["op"] == "delete_by_metadata"]
    assert all(1 <= len(o["ids"]) <= 0.02 * 2_000 for o in dbm)
