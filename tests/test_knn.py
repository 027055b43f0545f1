"""kNN correctness: the partial top-k kernel (``brute_force_knn``) and the
bulk cogroup kernel (``knn_bulk``) against a numpy oracle and each other."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators.knn import brute_force_knn

K = 10
NQ = 5


@pytest.fixture(scope="module")
def queries(spark, embeddings):
    return embeddings.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )


def _numpy_oracle(emb_rows, q_rows, metric, k):
    V = np.array([r["embedding"] for r in emb_rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in emb_rows])
    out = {}
    for qr in q_rows:
        q = np.array(qr["vector"], dtype=np.float64)
        if metric == "l2":
            d = np.sqrt(((V - q) ** 2).sum(axis=1))
        elif metric == "cosine":
            d = 1 - (V @ q) / (np.linalg.norm(V, axis=1) * np.linalg.norm(q))
        else:
            d = -(V @ q)
        dr = np.round(d, 6)
        order = np.lexsort((ids, dr))[:k]
        out[qr["query_id"]] = [(int(ids[i]), dr[i]) for i in order]
    return out


@pytest.mark.parametrize("metric", ["l2", "cosine", "dot"])
def test_kernel_matches_oracle(spark, embeddings, queries, metric):
    oracle = _numpy_oracle(
        embeddings.select("vec_id", "embedding").collect(),
        queries.collect(),
        metric,
        K,
    )
    got = brute_force_knn(
        embeddings, queries, K, metric=metric,
        id_col="vec_id", vector_col="embedding",
    ).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], round(r["distance"], 6), r["id"])):
        by_q.setdefault(r["query_id"], []).append((r["id"], round(r["distance"], 6)))
    assert set(by_q) == set(oracle)
    for q in oracle:
        assert [i for i, _ in by_q[q]] == [i for i, _ in oracle[q]], f"q={q} {metric}"
        for (_, d_got), (_, d_exp) in zip(by_q[q], oracle[q]):
            assert d_got == pytest.approx(d_exp, abs=1e-6)


def test_k_contract(spark, embeddings, queries):
    got = brute_force_knn(
        embeddings, queries, 3, id_col="vec_id", vector_col="embedding"
    )
    counts = got.groupBy("query_id").count().collect()
    assert all(r["count"] == 3 for r in counts)
    # self is its own nearest neighbor at distance 0
    self_hits = got.filter(
        (F.col("query_id") == F.col("id")) & (F.col("distance") == 0.0)
    ).count()
    assert self_hits == NQ


def test_knn_bulk_matches_kernel(spark):
    from fabstir_vectordb_spark.operators.knn import knn_bulk

    rows = [(i, [float((i * 7) % 13), float((i * 3) % 5), 1.0]) for i in range(100)]
    vecs = spark.createDataFrame(rows, "id bigint, vector array<float>")
    queries = vecs.filter("id < 20").selectExpr("id as query_id", "vector")
    bulk = knn_bulk(vecs, queries, 5, metric="l2", vector_blocks=4)
    kernel = brute_force_knn(vecs, queries, 5, metric="l2")
    key = lambda r: (r["query_id"], r["id"], round(r["distance"], 6))
    assert sorted(map(key, bulk.collect())) == sorted(map(key, kernel.collect()))


def test_range_search_exact(spark, embeddings):
    from fabstir_vectordb_spark.operators.knn import brute_force_knn, range_search

    emb = embeddings.limit(200)
    q = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    r = 1.3
    got = range_search(
        emb, q, r, id_col="vec_id", vector_col="embedding"
    ).collect()
    # every returned row is within the radius...
    assert all(round(x["distance"], 6) <= r for x in got)
    # ...and the set matches an oversized thresholded kNN exactly
    full = brute_force_knn(
        emb, q, 200, metric="l2", id_col="vec_id", vector_col="embedding"
    ).collect()
    want = {(x["query_id"], x["id"]) for x in full if round(x["distance"], 6) <= r}
    assert {(x["query_id"], x["id"]) for x in got} == want
    # the query itself appears at distance 0
    assert all((x["query_id"], x["query_id"]) in want for x in got[:1])
