"""BucketedRandomProjectionLSH ANN strategy: recall vs the exact oracle."""

import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators.knn import brute_force_knn
from fabstir_vectordb_spark.operators.lsh import LSHIndex


@pytest.fixture(scope="module")
def vecs(spark):
    # two well-separated blobs so near neighbors are unambiguous
    rows = [
        (i, [float((i * 13) % 7) / 7.0 + (10.0 if i % 2 else 0.0),
             float((i * 5) % 11) / 11.0,
             float(i % 3)])
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "id bigint, vector array<float>").cache()


def test_lsh_topk_recall(vecs):
    queries = vecs.filter("id < 6").selectExpr("id as query_id", "vector")
    idx = LSHIndex.fit(vecs, bucket_length=4.0, num_hash_tables=4, seed=7)
    ann = idx.search(vecs, queries, 5, threshold=20.0)
    exact = brute_force_knn(vecs, queries, 5, metric="l2")

    ann_rows = ann.collect()
    per_query = {}
    for r in ann_rows:
        per_query.setdefault(r["query_id"], []).append(r)
    for qid, rows in per_query.items():
        assert len(rows) <= 5
        ds = [round(r["distance"], 6) for r in sorted(rows, key=lambda x: x["distance"])]
        assert ds == sorted(ds)

    got = {(r["query_id"], r["id"]) for r in ann_rows}
    want = {(r["query_id"], r["id"]) for r in exact.collect()}
    recall = len(got & want) / len(want)
    assert recall >= 0.9  # generous threshold + 4 tables: near-exact here


def test_lsh_threshold_bounds_candidates(vecs):
    queries = vecs.filter("id = 0").selectExpr("id as query_id", "vector")
    idx = LSHIndex.fit(vecs, bucket_length=4.0, num_hash_tables=4, seed=7)
    tight = idx.search(vecs, queries, 50, threshold=0.5)
    for r in tight.collect():
        assert r["distance"] <= 0.5
