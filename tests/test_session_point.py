"""The point search path: search() and search_batch() run as one map-only
Spark job over driver-held queries, and return exactly the rows of the
DataFrame plan (``_ranked``, behind search_dataframe) over the same
queries: same ids, same order, distances equal with ``==``.
"""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators.ivf import IVFIndex
from fabstir_vectordb_spark.session import VectorDbError, VectorDbSession, _result_item

K = 5
OLD = dt.datetime(2020, 1, 1)
QUERIES = [
    ("qa", [0.0, 0.0, 1.0, 0.0]),
    ("qb", [9.7, 0.2, 1.0, 0.0]),
    ("qc", [19.6, 0.1, 0.9, 0.3]),
]


def _items():
    # three well-separated groups along the first axis; every third row is
    # old (historical); "a-dup" and "z-dup" copy v04's vector, so they tie
    # with it at the 5th distance from qa
    out = [
        {
            "id": f"v{i:02d}",
            "vector": [i * 0.5, (i % 3) * 0.1, 1.0, 0.0],
            "metadata": {"lang": "en" if i % 2 else "de", "rank": i},
            "timestamp": OLD if i % 3 == 0 else None,
        }
        for i in range(42)
    ]
    out += [
        {"id": d, "vector": [2.0, 0.1, 1.0, 0.0], "metadata": {"lang": "en", "rank": 100}}
        for d in ("z-dup", "a-dup")
    ]
    return out


def _session(spark, trained):
    s = VectorDbSession(spark)
    s.add_vectors([{k: v for k, v in it.items() if v is not None} for it in _items()])
    if trained:
        s.train_index(n_clusters=6, seed=7)
        assert s._index.is_trained
    return s


@pytest.fixture(scope="module")
def exact(spark):
    return _session(spark, trained=False)


@pytest.fixture(scope="module")
def trained(spark):
    return _session(spark, trained=True)


def _jobs_for(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _via_ranked(s, queries, k, include_vectors=False, **kw):
    """The DataFrame plan over the same queries, collected with the
    metadata joined on and ordered by (round(distance, 6), id)."""
    qdf = s.spark.createDataFrame(
        [(qid, [float(x) for x in v]) for qid, v in queries],
        "query_id string, vector array<float>",
    )
    cols = ["id", "metadata"] + (["vector"] if include_vectors else [])
    rows = (
        s._ranked(qdf, k, **kw)
        .join(s._live().select(*cols), "id", "left")
        .orderBy("query_id", F.round("distance", 6), "id")
        .collect()
    )
    out = {qid: [] for qid, _ in queries}
    for r in rows:
        out[r["query_id"]].append(_result_item(r, include_vectors))
    return out


CASES = [
    {},
    {"filter": {"lang": "en"}},
    {"search_recent": False},
    {"search_historical": False},
    {"include_vectors": True},
    {"n_probe": 2},
]


@pytest.mark.parametrize("which", ["exact", "trained"])
@pytest.mark.parametrize("kw", CASES, ids=lambda kw: ",".join(kw) or "plain")
def test_search_equals_ranked_plan(request, which, kw):
    s = request.getfixturevalue(which)
    want = _via_ranked(s, QUERIES, K, threshold=0.0, **kw)
    for qid, vec in QUERIES:
        got = s.search(vec, k=K, **kw)
        assert got == want[qid]
        assert len(got) == K


@pytest.mark.parametrize("which", ["exact", "trained"])
def test_search_batch_equals_ranked_plan(request, which):
    s = request.getfixturevalue(which)
    for kw in ({}, {"filter": {"lang": "de"}}):
        got = s.search_batch([{"id": q, "vector": v} for q, v in QUERIES], k=K, **kw)
        assert got == _via_ranked(s, QUERIES, K, threshold=0.0, **kw)


@pytest.mark.parametrize("which", ["exact", "trained"])
def test_threshold_cuts_inside_top_k(request, which):
    s = request.getfixturevalue(which)
    qid, vec = QUERIES[1]
    full = s.search(vec, k=K)
    t = full[2]["score"]
    got = s.search(vec, k=K, threshold=t)
    assert 3 <= len(got) < K
    assert got == [r for r in full if r["score"] >= t]
    assert got == _via_ranked(s, [(qid, vec)], K, threshold=t)[qid]


@pytest.mark.parametrize("which", ["exact", "trained"])
def test_tie_at_kth_distance_breaks_by_id(request, which):
    s = request.getfixturevalue(which)
    qid, vec = QUERIES[0]
    got = s.search(vec, k=K, n_probe=6)
    # v04, a-dup and z-dup sit at the same 5th distance: the smallest id wins
    assert [r["id"] for r in got] == ["v00", "v01", "v02", "v03", "a-dup"]
    assert got == _via_ranked(s, [(qid, vec)], K, threshold=0.0, n_probe=6)[qid]


def test_wrong_dimension_raises_before_any_job(spark, trained):
    def call():
        with pytest.raises(VectorDbError, match="dimension"):
            trained.search([1.0, 2.0, 3.0], k=K)
        with pytest.raises(VectorDbError, match="dimension"):
            trained.search_batch([{"id": "x", "vector": [1.0]}], k=K)

    assert _jobs_for(spark, "wrong_dim", call) == 0


def _no_assign(self, *a, **kw):
    raise AssertionError("the session re-assigned its rows after train_index")


def test_point_search_is_one_job(spark, trained, exact, monkeypatch):
    # the table is clustered from train_index on: no search assigns
    assert "cluster_id" in trained._df.columns
    monkeypatch.setattr(IVFIndex, "assign", _no_assign)
    assert _jobs_for(spark, "pt_ivf", lambda: trained.search([3.3, 0.1, 1.0, 0.0], k=K)) == 1
    assert _jobs_for(
        spark, "pt_filtered",
        lambda: trained.search([3.3, 0.1, 1.0, 0.0], k=K, filter={"lang": "en"}),
    ) == 1
    assert _jobs_for(spark, "pt_exact", lambda: exact.search([4.4, 0.1, 1.0, 0.0], k=K)) == 1
    # a repeat is a cache hit
    assert _jobs_for(spark, "pt_hit", lambda: trained.search([3.3, 0.1, 1.0, 0.0], k=K)) == 0


def test_search_batch_is_one_job(spark, trained):
    qs = [(q, [v[0] + 0.05] + v[1:]) for q, v in QUERIES]
    # the three queries' nearest clusters, which every probe set leads with,
    # differ
    nearest = trained._index.probes_by_cluster(np.asarray([v for _, v in qs]), 1)
    assert len(nearest) == 3
    batch = [{"id": q, "vector": v} for q, v in qs]
    assert _jobs_for(spark, "pt_batch", lambda: trained.search_batch(batch, k=K)) == 1


def test_loaded_session_reuses_saved_layout(tmp_path, spark, trained, monkeypatch):
    path = str(tmp_path / "db")
    with monkeypatch.context() as m:
        m.setattr(IVFIndex, "assign", _no_assign)
        trained.save(path)
        loaded = VectorDbSession.load(spark, path)
        assert loaded._live_count == trained.get_stats()["vectorCount"]
        got = loaded.search(QUERIES[1][1], k=K)

    # the saved layout is the assignment a fresh pass of the index gives
    def layout(df):
        return {r["id"]: r["cluster_id"] for r in df.select("id", "cluster_id").collect()}

    assert layout(loaded._df) == layout(loaded._index.assign(loaded.dataframe()))
    assert layout(loaded._df) == layout(trained._df)
    assert got == trained.search(QUERIES[1][1], k=K)


def test_vacuum_computes_the_table_once(spark):
    from pyspark.sql.functions import udf

    passes = spark.sparkContext.accumulator(0)

    @udf("string")
    def counted(v):
        passes.add(1)
        return v

    raw = spark.createDataFrame(
        [(f"x{i}", [float(i), 1.0]) for i in range(12)], "id string, vector array<float>"
    )
    # every pass over the table needs the id: the deleted flags derive from it
    s = VectorDbSession.from_dataframe(raw.withColumn("id", counted("id")))
    s.batch_delete(["x1", "x5", "x7"])
    passes.value = 0
    assert s.vacuum() == {"removed": 3, "remaining": 9}
    # every row of the lineage is computed once: counting and removing
    # the deleted rows each used to recompute it
    assert passes.value == 12
    assert s.deletion_stats() == {"deleted": 0, "active": 9}
