"""IVF index: recall harness (FIXTURES.md §6), probe-all == brute force,
small-data bypass, cluster stats, persistence roundtrip."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators.ivf import (
    DEFAULT_MAX_ITER,
    IVFIndex,
    read_clustered,
    write_clustered,
)
from fabstir_vectordb_spark.operators.knn import brute_force_knn, knn_bulk

K = 10
N_CLUSTERS = 8


@pytest.fixture(scope="module")
def index(embeddings):
    return IVFIndex.fit(
        embeddings, n_clusters=N_CLUSTERS, seed=42, id_col="vec_id", vector_col="embedding"
    )


@pytest.fixture(scope="module")
def assigned(index, embeddings):
    return index.assign(embeddings).cache()


@pytest.fixture(scope="module")
def queries(embeddings):
    return embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )


def test_fit_produces_centroids(index, embeddings):
    assert index.is_trained
    assert index.centroids.shape == (N_CLUSTERS, 64)


def test_assign_is_nearest_centroid(index, assigned):
    rows = assigned.select("embedding", "cluster_id").limit(50).collect()
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        d = np.linalg.norm(index.centroids - v, axis=1)
        assert r["cluster_id"] == int(d.argmin())


def test_probe_all_equals_brute_force(index, assigned, queries):
    ann = index.search(assigned, queries, K, n_probe=N_CLUSTERS)
    exact = brute_force_knn(
        assigned, queries, K, id_col="vec_id", vector_col="embedding"
    )
    a = sorted((r["query_id"], r["id"], round(r["distance"], 6)) for r in ann.collect())
    b = sorted((r["query_id"], r["id"], round(r["distance"], 6)) for r in exact.collect())
    assert a == b


def test_recall_reasonable_with_partial_probe(index, assigned, queries):
    m = index.evaluate_recall(assigned, queries, K, n_probe=4)
    # 4 of 8 clusters probed: recall@10 should be high on clusterable data
    assert m["avg_recall"] >= 0.5
    m_full = index.evaluate_recall(assigned, queries, K, n_probe=N_CLUSTERS)
    assert m_full["avg_recall"] == 1.0 and m_full["avg_precision"] == 1.0


def test_small_data_bypass(spark):
    tiny = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(5)], "id int, vector array<float>"
    )
    idx = IVFIndex.fit(tiny, n_clusters=4)
    assert not idx.is_trained  # below MIN_TRAINING_SIZE => brute-force mode
    q = spark.createDataFrame([(0, [1.2, 0.0])], "query_id int, vector array<float>")
    res = idx.search(idx.assign(tiny), q, 2)
    assert [r["id"] for r in res.collect()] == [1, 2]


def _counted(monkeypatch, cls):
    calls = []
    count = cls.count

    def counted(df):
        calls.append(1)
        return count(df)

    monkeypatch.setattr(cls, "count", counted)
    return calls


def test_fit_counts_only_when_the_sample_cannot_decide(spark, monkeypatch):
    from fabstir_vectordb_spark.operators._kmeans import kmeans_fit

    rng = np.random.default_rng(5)
    rows = [(i, rng.normal(size=4).tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "id int, vector array<float>")
    sample = np.asarray(
        [r[1] for r in sorted(rows)[:128]], dtype=np.float32
    ).astype(np.float64)
    calls = _counted(monkeypatch, type(df))
    # a full sample of 128 rows fixes n >= 128: no count, and the centroids
    # of a fit that counted (min(8, 300) = 8 clusters over the same sample)
    idx = IVFIndex.fit(df, n_clusters=8, train_size=128, seed=3)
    assert calls == []
    want = kmeans_fit(sample, 8, iters=DEFAULT_MAX_ITER, rng=np.random.RandomState(3))
    assert np.array_equal(idx.centroids, want)
    # a full sample below MIN_TRAINING_SIZE cannot tell: the count decides
    idx = IVFIndex.fit(df, n_clusters=4, train_size=5, seed=3)
    assert calls == [1]
    assert idx.is_trained and idx.n_clusters == 4


def test_cluster_stats(index, assigned, embeddings):
    stats = index.cluster_stats(assigned)
    assert stats["n_clusters"] == N_CLUSTERS
    assert stats["total_vectors"] == embeddings.count()
    assert stats["avg_cluster_size"] > 0
    assert 0 <= stats["empty_clusters"] < N_CLUSTERS


def test_persistence_roundtrip(tmp_path, spark, index, embeddings, queries):
    path = str(tmp_path / "ivf")
    write_clustered(embeddings, index, path)
    df2, idx2 = read_clustered(spark, path)
    assert df2.count() == embeddings.count()
    np.testing.assert_allclose(idx2.centroids, index.centroids)
    # search distances preserved after roundtrip (persistence.rs:897-971)
    before = index.search(index.assign(embeddings), queries, K, n_probe=4)
    after = idx2.search(df2, queries, K, n_probe=4)
    a = sorted((r["query_id"], r["id"], round(r["distance"], 6)) for r in before.collect())
    b = sorted((r["query_id"], r["id"], round(r["distance"], 6)) for r in after.collect())
    assert a == b


def test_retrain_changes_k(index, embeddings):
    idx2 = index.retrain(embeddings, n_clusters=4)
    assert idx2.n_clusters == 4


@pytest.mark.parametrize("metric", ["l2", "cosine", "dot"])
def test_search_bulk_matches_search(spark, metric):
    rows = [(i, [float((i * 7) % 13), float((i * 3) % 5), float(i % 2)]) for i in range(80)]
    # id 80 repeats the vector of query 3: an exact distance tie for it
    rows.append((80, rows[3][1]))
    vecs = spark.createDataFrame(rows, "id bigint, vector array<float>")
    idx = IVFIndex.fit(vecs, n_clusters=4, seed=1)
    assigned = idx.assign(vecs).cache()
    queries = vecs.filter("id < 10").selectExpr("concat('q', id) as query_id", "vector")

    key = lambda r: (r["query_id"], r["id"], round(r["distance"], 6))
    for n_probe in (2, 4):
        bulk = idx.search_bulk(assigned, queries, 5, n_probe=n_probe, metric=metric)
        point = idx.search(assigned, queries, 5, n_probe=n_probe, metric=metric)
        assert sorted(map(key, bulk.collect())) == sorted(map(key, point.collect()))
    # sub-block splitting (the giant-cluster memory knob) must not change
    # results: top-k over block partials is exact for any partitioning
    split = idx.search_bulk(assigned, queries, 5, n_probe=4, sub_blocks=3, metric=metric)
    point = idx.search(assigned, queries, 5, n_probe=4, metric=metric)
    got = sorted(map(key, point.collect()))
    assert sorted(map(key, split.collect())) == got
    # probing every cluster is brute force, ties and string ids included
    exact = brute_force_knn(assigned, queries, 5, metric=metric)
    assert got == sorted(map(key, exact.collect()))


def _entry_points(index, assigned):
    untrained = IVFIndex(None, "vec_id", "embedding")
    cols = dict(id_col="vec_id", vector_col="embedding")
    return {
        "search": lambda q, m: index.search(assigned, q, K, n_probe=2, metric=m),
        "search_untrained": lambda q, m: untrained.search(assigned, q, K, metric=m),
        "search_bulk": lambda q, m: index.search_bulk(assigned, q, K, n_probe=2, metric=m),
        "brute_force_knn": lambda q, m: brute_force_knn(assigned, q, K, metric=m, **cols),
        "knn_bulk": lambda q, m: knn_bulk(assigned, q, K, metric=m, **cols),
    }


@pytest.mark.parametrize("entry", ["search", "search_bulk", "brute_force_knn", "knn_bulk"])
@pytest.mark.parametrize("metric", ["angular", "euclidean"])
def test_unknown_metric_fails_on_the_driver(spark, index, assigned, queries, entry, metric):
    """A metric the kernels cannot rank raises at construction, before the
    query set is collected or any plan runs."""
    fn = _entry_points(index, assigned)[entry]
    sc = spark.sparkContext
    group = f"bad_metric_{entry}_{metric}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(
            ValueError, match=rf"unknown metric '{metric}'; one of \('l2', 'cosine', 'dot'\)"
        ):
            fn(queries, metric)
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup(group) == []


@pytest.mark.parametrize(
    "entry", ["search", "search_untrained", "search_bulk", "brute_force_knn", "knn_bulk"]
)
def test_zero_queries_give_zero_rows(spark, index, assigned, entry):
    empty = spark.createDataFrame([], "query_id string, vector array<float>")
    out = _entry_points(index, assigned)[entry](empty, "l2")
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("query_id", "string"),
        ("id", assigned.schema["vec_id"].dataType.simpleString()),
        ("distance", "double"),
    ]
    assert out.collect() == []
