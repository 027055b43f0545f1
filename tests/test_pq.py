"""Product quantizer tests: roundtrip, compression fidelity, ADC search."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators import knn as knn_mod
from fabstir_vectordb_spark.operators.knn import brute_force_knn
from fabstir_vectordb_spark.operators.pq import ProductQuantizer


M, KC = 8, 32  # 8 subspaces x 32 centroids on the 64-dim test embeddings


@pytest.fixture(scope="module")
def pq(embeddings):
    return ProductQuantizer.fit(
        embeddings, n_subspaces=M, n_centroids=KC, seed=42, vector_col="embedding"
    )


def test_fit_shapes(pq, embeddings):
    dim = len(embeddings.select("embedding").first()[0])
    assert pq.dim == dim
    assert pq.codebooks.shape == (M, KC, dim // M)


def test_encode_decode_roundtrip(pq, embeddings):
    enc = pq.encode(embeddings)
    rows = pq.decode(enc).select("embedding", "pq_codes", "decoded").collect()
    assert all(len(r["pq_codes"]) == M for r in rows)
    assert all(0 <= c < KC for r in rows for c in r["pq_codes"])
    # reconstruction error must beat quantizing everything to the global mean
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    R = np.asarray([r["decoded"] for r in rows])
    mse = ((X - R) ** 2).mean()
    baseline = ((X - X.mean(axis=0)) ** 2).mean()
    assert mse < baseline * 0.9


@pytest.mark.parametrize("rotated", [False, True])
def test_decode_matches_per_row_reference(spark, rotated):
    """decode's vectorized codebook gather (and the per-row rotation back
    to the original space) returns exactly the per-row numpy
    reconstruction."""
    rng = np.random.default_rng(7)
    books = rng.normal(size=(4, 8, 3))
    rot = np.linalg.qr(rng.normal(size=(12, 12)))[0] if rotated else None
    pq = ProductQuantizer(4, 8, 12, books, rotation=rot)
    codes = rng.integers(0, 8, size=(50, 4))
    df = spark.createDataFrame(
        [(i, c.tolist()) for i, c in enumerate(codes)], "vec_id long, pq_codes array<int>"
    )
    got = {r["vec_id"]: r["decoded"] for r in pq.decode(df).collect()}
    assert len(got) == len(codes)
    for i, c in enumerate(codes):
        want = np.concatenate([books[m][c[m]] for m in range(4)])
        if rot is not None:
            want = want @ rot.T
        assert got[i] == want.tolist()


def test_encode_is_nearest_centroid(pq, embeddings):
    rows = pq.encode(embeddings.limit(20)).select("embedding", "pq_codes").collect()
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        for m in range(pq.n_subspaces):
            s = v[m * pq.sub_dim : (m + 1) * pq.sub_dim]
            d = ((pq.codebooks[m] - s) ** 2).sum(axis=1)
            assert r["pq_codes"][m] == int(d.argmin())


def test_adc_knn_recall(pq, embeddings, spark):
    queries = embeddings.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    k = 10
    exact = brute_force_knn(
        embeddings, queries, k, metric="l2", id_col="vec_id", vector_col="embedding"
    )
    e = {(r["query_id"], r["id"]) for r in exact.collect()}
    codes = pq.encode(embeddings)
    # raw ADC: coarse 4x16 codes on synthetic (unclustered) data — weak
    approx = pq.adc_knn(codes, queries, k)
    a = {(r["query_id"], r["id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.2
    # ADC + exact re-rank of the 4x over-fetch: the production path
    reranked = pq.adc_knn(
        codes, queries, k, rerank_vectors=embeddings, oversample=4
    )
    rr = {(r["query_id"], r["id"]) for r in reranked.collect()}
    assert len(e & rr) / len(e) >= 0.6
    assert len(e & rr) >= len(e & a)  # re-rank never hurts


def test_adc_knn_cogroup_matches_bounded(pq, embeddings, monkeypatch):
    """The cogroup plan of adc_knn (DataFrame queries, forced by a query
    byte cap that holds no query) returns exactly the rows of the bounded
    plan — raw ADC and reranked."""
    queries = embeddings.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    codes = pq.encode(embeddings)

    def rows(**kwargs):
        return sorted(
            (r["query_id"], r["id"], round(r["distance"], 6))
            for r in pq.adc_knn(codes, queries, 10, **kwargs).collect()
        )

    for kwargs in ({}, {"rerank_vectors": embeddings, "oversample": 4}):
        bounded = rows(**kwargs)
        with monkeypatch.context() as m:
            m.setattr(knn_mod, "_MAX_DRIVER_QUERY_BYTES", 0)
            assert rows(**kwargs) == bounded


def test_save_load_roundtrip(pq, tmp_path):
    pq.save(str(tmp_path))
    again = ProductQuantizer.load(str(tmp_path))
    assert again.n_subspaces == pq.n_subspaces
    assert np.allclose(again.codebooks, pq.codebooks)
