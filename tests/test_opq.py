"""OPQ rotation (operators/opq.py + the rotation-threaded PQ paths).

The contracts, in dependency order: the learned rotation is orthonormal
(so it preserves distances exactly); fitting with opq=True is never
worse than plain PQ on the training sample (auto-fallback by
construction) and strictly better on a correlated fixture (the case it
exists for); every search path (bounded ADC, cogroup ADC,
IVFPQ cluster ADC, residual mode) builds its LUT in rotated space and
therefore keeps the full-probe/rerank exactness theorems; and the
rotation survives save/load (codes without their rotation are garbage).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators import knn as knn_mod
from fabstir_vectordb_spark.operators.opq import (
    fit_rotation,
    pca_balanced_rotation,
    train_mse,
)
from fabstir_vectordb_spark.operators.pq import ProductQuantizer


def _correlated(n=600, dim=16, latent=3, seed=0):
    """Variance concentrated in `latent` directions smeared across all
    dims — the geometry where fixed-slice PQ drowns and OPQ recovers."""
    rng = np.random.RandomState(seed)
    Z = rng.normal(size=(n, latent))
    A = rng.normal(size=(latent, dim)) * 3.0
    return Z @ A + 0.05 * rng.normal(size=(n, dim))


def _df(spark, X):
    return spark.createDataFrame(
        [(i, x.tolist()) for i, x in enumerate(X)],
        "vec_id long, embedding array<double>",
    )


def test_rotations_orthonormal_and_distance_preserving():
    X = _correlated()
    for R in (pca_balanced_rotation(X, 4), fit_rotation(X, 4, 8)):
        assert np.allclose(R.T @ R, np.eye(X.shape[1]), atol=1e-9)
        a, b = X[:50], X[50:100]
        d_raw = np.linalg.norm(a - b, axis=1)
        d_rot = np.linalg.norm(a @ R - b @ R, axis=1)
        assert np.allclose(d_raw, d_rot, atol=1e-9)


def test_fit_rotation_deterministic():
    X = _correlated()
    assert np.array_equal(fit_rotation(X, 4, 8), fit_rotation(X, 4, 8))


def test_opq_strictly_better_on_correlated_fixture(spark):
    df = _df(spark, _correlated())
    raw = ProductQuantizer.fit(df, n_subspaces=4, n_centroids=8)
    opq = ProductQuantizer.fit(df, n_subspaces=4, n_centroids=8, opq=True)
    assert opq.rotation is not None  # the gain gate fired
    X = _correlated()
    mse_raw = train_mse(X, raw.codebooks, None)
    mse_opq = train_mse(X, opq.codebooks, opq.rotation)
    assert mse_opq < mse_raw * 0.9  # a real gain, not noise


def test_opq_never_worse_contract(spark):
    """opq=True on data where rotation can't help (iid dims) either
    falls back (rotation None) or still reduced sample MSE — by
    construction fit keeps the rotation only on strict improvement."""
    rng = np.random.RandomState(1)
    df = _df(spark, rng.normal(size=(400, 16)))
    raw = ProductQuantizer.fit(df, n_subspaces=4, n_centroids=8)
    opq = ProductQuantizer.fit(df, n_subspaces=4, n_centroids=8, opq=True)
    X = np.asarray(
        [r[0] for r in df.select("embedding").limit(10_000).collect()]
    )
    assert train_mse(X, opq.codebooks, opq.rotation) <= train_mse(
        X, raw.codebooks, None
    )


def _ranked(df):
    return sorted(
        (r["query_id"], r["id"], round(r["distance"], 6)) for r in df.collect()
    )


def test_opq_adc_rerank_equals_exact(spark):
    """Full-oversample ADC + exact rerank with a rotation equals exact
    brute-force kNN — the distance-preservation theorem end to end."""
    from fabstir_vectordb_spark.operators.knn import brute_force_knn

    X = _correlated(n=300)
    df = _df(spark, X)
    pq = ProductQuantizer.fit(df, n_subspaces=4, n_centroids=8, opq=True)
    assert pq.rotation is not None
    codes = pq.encode(df)
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    got = pq.adc_knn(
        codes, queries, 10, rerank_vectors=df, oversample=30,  # 300 rows: all
    )
    exact = brute_force_knn(
        df, queries, 10, metric="l2",
        id_col="vec_id", vector_col="embedding",
    )
    assert _ranked(got) == _ranked(exact)


def test_opq_cogroup_equals_bounded(spark, monkeypatch):
    """The cogroup plan of adc_knn (forced by a query byte cap that holds
    no query) must stay row-identical to the bounded plan when a rotation
    is active (both kernels rotate the query the same way)."""
    X = _correlated(n=300, seed=2)
    df = _df(spark, X)
    pq = ProductQuantizer.fit(df, n_subspaces=4, n_centroids=8, opq=True)
    codes = pq.encode(df)
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    bounded = _ranked(pq.adc_knn(codes, queries, 10))
    monkeypatch.setattr(knn_mod, "_MAX_DRIVER_QUERY_BYTES", 0)
    assert _ranked(pq.adc_knn(codes, queries, 10)) == bounded


def test_opq_save_load_roundtrip(spark, tmp_path):
    X = _correlated(n=300, seed=3)
    df = _df(spark, X)
    pq = ProductQuantizer.fit(df, n_subspaces=4, n_centroids=8, opq=True)
    assert pq.rotation is not None
    pq.save(str(tmp_path))
    back = ProductQuantizer.load(str(tmp_path))
    assert np.allclose(back.rotation, pq.rotation)
    a = sorted(tuple(r["pq_codes"]) for r in pq.encode(df).collect())
    b = sorted(tuple(r["pq_codes"]) for r in back.encode(df).collect())
    assert a == b


def test_decode_returns_original_space(spark):
    """decode() must invert the rotation: reconstruction error in the
    ORIGINAL space equals the rotated-space training MSE (orthonormal
    maps preserve norms), not something dim-scaled by a forgotten R^T."""
    X = _correlated(n=400, seed=4)
    df = _df(spark, X)
    pq = ProductQuantizer.fit(df, n_subspaces=4, n_centroids=8, opq=True)
    dec = pq.decode(pq.encode(df), out_col="recon")
    err = (
        dec.select(
            F.aggregate(
                F.zip_with("embedding", "recon", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("se")
        )
        .agg(F.avg("se"))
        .first()[0]
    )
    assert err == pytest.approx(train_mse(X, pq.codebooks, pq.rotation), rel=1e-6)


def test_ivfpq_opq_full_probe_equals_exact(spark):
    """IVFPQ with residual coding AND an OPQ rotation, full probe +
    full-oversample rerank == exact kNN: the cluster ADC kernel rotates
    the residualized query into code space correctly."""
    from fabstir_vectordb_spark.operators.ivfpq import IVFPQIndex
    from fabstir_vectordb_spark.operators.knn import brute_force_knn

    X = _correlated(n=400, seed=5)
    df = _df(spark, X)
    idx = IVFPQIndex.fit(
        df, n_clusters=4, n_subspaces=4, n_centroids=8,
        residual=True, opq=True,
    )
    assert idx.pq.rotation is not None
    enc = idx.encode(df)
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    got = idx.search_bulk(
        enc, queries, 10, n_probe=4, oversample=40, rerank_vectors=df
    )
    exact = brute_force_knn(
        df, queries, 10, metric="l2",
        id_col="vec_id", vector_col="embedding",
    )
    assert _ranked(got) == _ranked(exact)


def test_explicit_opq_false_beats_tuned_recommendation(spark):
    """fit(recall_target=..., opq=False) must SKIP the rotation fit even
    though the tuned plan recommends it — explicit False is a real
    override, not an alias for unset (the `opq or tuned.opq` trap)."""
    from fabstir_vectordb_spark.operators.ivfpq import IVFPQIndex

    X = _correlated(n=300, seed=12)
    df = _df(spark, X)
    forced_off = IVFPQIndex.fit(
        df, n_clusters=4, recall_target=0.9, opq=False,
        id_col="vec_id", vector_col="embedding",
    )
    assert forced_off.pq.rotation is None
    default_on = IVFPQIndex.fit(
        df, n_clusters=4, recall_target=0.9,
        id_col="vec_id", vector_col="embedding",
    )
    assert default_on.tuned.opq  # the plan still recommends it
    assert default_on.pq.rotation is not None  # and None picked it up
