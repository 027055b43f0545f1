"""IVFPQ composition: full-probe equivalence to plain PQ, partial-probe
dominance, and the encoded-table contract."""

import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators.ivfpq import IVFPQIndex
from fabstir_vectordb_spark.operators.knn import brute_force_knn


@pytest.fixture(scope="module")
def idx(spark, embeddings):
    return IVFPQIndex.fit(
        embeddings, n_clusters=8, n_subspaces=8, n_centroids=16, seed=42
    )


@pytest.fixture(scope="module")
def encoded(idx, embeddings):
    df = idx.encode(embeddings).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def queries(embeddings):
    return embeddings.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )


def _rows(df):
    """One collect; exact multiset of (query_id, id, round-6 distance)."""
    return sorted(
        (r["query_id"], r["id"], round(r["distance"], 6)) for r in df.collect()
    )


def test_encode_contract(encoded, embeddings, idx):
    assert encoded.count() == embeddings.count()
    row = encoded.first()
    assert len(row["pq_codes"]) == idx.pq.n_subspaces
    assert 0 <= row["cluster_id"] < idx.ivf.n_clusters
    assert all(0 <= c < idx.pq.n_centroids for c in row["pq_codes"])


def test_full_probe_equals_plain_pq(idx, encoded, embeddings, queries):
    """n_probe = n_clusters scans every cluster, so IVFPQ+rerank must
    return exactly the rows of standalone PQ ADC+rerank."""
    ivfpq = idx.search_bulk(
        encoded, queries, 10, n_probe=idx.ivf.n_clusters,
        oversample=4, rerank_vectors=embeddings,
    )
    plain = idx.pq.adc_knn(
        encoded, queries, 10, rerank_vectors=embeddings, oversample=4
    )
    assert _rows(ivfpq) == _rows(plain)


def test_partial_probe_dominance(idx, encoded, embeddings, queries):
    """Probing can only lose candidates: at every rank the IVFPQ distance
    >= the exact distance, and exactly k rows per query."""
    from pyspark.sql import Window

    k = 10
    approx = idx.search_bulk(
        encoded, queries, k, n_probe=2, oversample=4, rerank_vectors=embeddings
    )
    exact = brute_force_knn(
        embeddings, queries, k, metric="l2", impl="kernel",
        id_col="vec_id", vector_col="embedding",
    )

    def ranked(df):
        w = Window.partitionBy("query_id").orderBy(F.round("distance", 6), "id")
        return df.select(
            "query_id", F.row_number().over(w).alias("rank"),
            F.round("distance", 6).alias("d"),
        )

    joined = (
        ranked(approx).alias("a")
        .join(ranked(exact).alias("e"), ["query_id", "rank"])
        .select("query_id", "rank", (F.col("a.d") >= F.col("e.d")).alias("ok"))
        .collect()
    )
    assert len(joined) == 6 * k
    assert all(r["ok"] for r in joined)


def test_partial_probe_prunes(idx, encoded, queries):
    """The candidate set actually shrinks: without rerank, a 1-probe
    search returns ids only from each query's nearest cluster."""
    res = idx.search_bulk(encoded, queries, 10, n_probe=1)
    got = res.join(
        encoded.select(F.col("vec_id").alias("id"), "cluster_id"), "id"
    )
    # every result row's cluster is the single probed one for its query
    probes = idx.ivf.probe_pairs(queries, 1).select(
        "query_id", F.col("__blk").alias("probed")
    )
    bad = got.join(probes, "query_id").filter(
        F.col("cluster_id") != F.col("probed")
    )
    assert bad.count() == 0


@pytest.mark.parametrize("rerank", [False, True])
def test_cogroup_fallback_matches_broadcast(monkeypatch, idx, encoded, embeddings, queries, rerank):
    """A query set over the broadcast byte cap takes the cogroup plan
    (distributed probe selection); its rows equal the broadcast plan's."""
    import fabstir_vectordb_spark.operators.ivfpq as ivfpq_mod

    def search():
        return _rows(
            idx.search_bulk(
                encoded, queries, 10, n_probe=3, oversample=4,
                rerank_vectors=embeddings if rerank else None,
            )
        )

    calls = []
    probe_pairs = idx.ivf.probe_pairs
    monkeypatch.setattr(
        idx.ivf, "probe_pairs", lambda *a, **kw: calls.append(1) or probe_pairs(*a, **kw)
    )
    broadcast = search()
    assert not calls
    # room for 2 of the 6 query vectors
    dim = idx.ivf.centroids.shape[1]
    monkeypatch.setattr(ivfpq_mod, "_MAX_BROADCAST_QUERY_BYTES", 2 * dim * 8)
    fallback = search()
    assert calls
    assert len(broadcast) == 6 * 10
    assert fallback == broadcast


def test_write_read_encoded_roundtrip(tmp_path, spark, idx, encoded, embeddings, queries):
    """Persisted IVFADC layout: partitionBy(cluster_id) parquet + model
    sidecars; reload must reproduce codes exactly and the partition-pruned
    probe search must equal the in-memory one rank-for-rank."""
    from fabstir_vectordb_spark.operators.ivfpq import read_encoded, write_encoded

    path = str(tmp_path / "ivfpq_store")
    write_encoded(embeddings, idx, path)
    loaded, lidx = read_encoded(spark, path)

    # raw vectors are NOT in the persisted artifact; codes and clusters are
    assert "embedding" not in loaded.columns
    assert loaded.count() == embeddings.count()
    mismatches = (
        encoded.select("vec_id", "cluster_id", "pq_codes")
        .exceptAll(loaded.select("vec_id", "cluster_id", "pq_codes"))
        .count()
    )
    assert mismatches == 0

    # model sidecars round-trip bit-exactly (json float repr is lossless)
    assert (lidx.ivf.centroids == idx.ivf.centroids).all()
    assert (lidx.pq.codebooks == idx.pq.codebooks).all()

    mem = _rows(
        idx.search_bulk(
            encoded, queries, 5, n_probe=2, oversample=4, rerank_vectors=embeddings
        )
    )
    disk = _rows(
        lidx.search_bulk(
            loaded, queries, 5, n_probe=2, oversample=4,
            rerank_vectors=embeddings, prune_scan=True,
        )
    )
    assert mem == disk

    # the pruned scan really prunes: with n_probe=2 over 8 clusters the
    # physical plan must carry a PartitionFilters entry on cluster_id
    probes = lidx.ivf.probe_pairs(queries, 2)
    probed = sorted(r[0] for r in probes.select("__blk").distinct().collect())
    plan = (
        loaded.filter(F.col("cluster_id").isin(probed))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "cluster_id" in plan


def _clustered_data(spark, n=600, dim=16, centers=4):
    import numpy as np

    rng = np.random.default_rng(5)
    C = rng.normal(scale=10.0, size=(centers, dim))
    rows = []
    for i in range(n):
        c = i % centers
        rows.append((i, (C[c] + rng.normal(scale=0.5, size=dim)).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_residual_mode_better_codes_and_recall(spark):
    import numpy as np

    from fabstir_vectordb_spark.operators.ivfpq import IVFPQIndex
    from fabstir_vectordb_spark.operators.knn import brute_force_knn

    vec = _clustered_data(spark).cache()
    queries = vec.limit(10).selectExpr("vec_id as query_id", "embedding as vector")
    exact = {
        (r["query_id"], r["id"])
        for r in brute_force_knn(
            vec, queries, 10, id_col="vec_id", vector_col="embedding"
        ).collect()
    }

    def recall(residual):
        idx = IVFPQIndex.fit(
            vec, n_clusters=4, n_subspaces=4, n_centroids=16,
            residual=residual,
        )
        enc = idx.encode(vec)
        got = {
            (r["query_id"], r["id"])
            for r in idx.search_bulk(enc, queries, 10, n_probe=4).collect()
        }
        return len(got & exact) / len(exact)

    r_res, r_raw = recall(True), recall(False)
    # strongly clustered data, deliberately coarse codes (4x16): raw PQ
    # wastes its codebook span on the cluster offsets, residual PQ spends
    # it all on the within-cluster geometry.  Measured 0.55 vs 0.36 on
    # this seeded fixture; assert the gap with slack.
    assert r_res >= r_raw + 0.1
    assert r_res >= 0.5


def test_residual_full_probe_rerank_is_exact(spark):
    from fabstir_vectordb_spark.operators.ivfpq import IVFPQIndex
    from fabstir_vectordb_spark.operators.knn import brute_force_knn

    vec = _clustered_data(spark, n=300).cache()
    queries = vec.limit(5).selectExpr("vec_id as query_id", "embedding as vector")
    idx = IVFPQIndex.fit(
        vec, n_clusters=4, n_subspaces=4, n_centroids=16, residual=True
    )
    enc = idx.encode(vec)
    got = (
        idx.search_bulk(
            enc, queries, 5, n_probe=4, oversample=60, rerank_vectors=vec
        )
        .orderBy("query_id", "distance", "id")
        .collect()
    )
    exact = (
        brute_force_knn(vec, queries, 5, id_col="vec_id", vector_col="embedding")
        .orderBy("query_id", "distance", "id")
        .collect()
    )
    assert [(r["query_id"], r["id"]) for r in got] == [
        (r["query_id"], r["id"]) for r in exact
    ]


def test_residual_flag_survives_save_load(spark, tmp_path):
    from fabstir_vectordb_spark.operators.ivfpq import (
        IVFPQIndex,
        read_encoded,
        write_encoded,
    )

    vec = _clustered_data(spark, n=300).cache()
    idx = IVFPQIndex.fit(
        vec, n_clusters=4, n_subspaces=4, n_centroids=16, residual=True
    )
    path = str(tmp_path / "resenc")
    write_encoded(vec, idx, path)
    enc, idx2 = read_encoded(spark, path)
    assert idx2.residual is True
    queries = vec.limit(3).selectExpr("vec_id as query_id", "embedding as vector")
    a = sorted(
        (r["query_id"], r["id"])
        for r in idx.search_bulk(idx.encode(vec), queries, 5, n_probe=4).collect()
    )
    b = sorted(
        (r["query_id"], r["id"])
        for r in idx2.search_bulk(enc, queries, 5, n_probe=4).collect()
    )
    assert a == b


# --------------------------------------------------- recall-target tuning


def test_tune_pq_tiers():
    from fabstir_vectordb_spark.plans.tuning import tune_pq

    hi = tune_pq(64, recall_target=0.9, n_clusters=64)
    # the measured 0.91 configuration on the uniform 500k fixture
    assert hi.n_subspaces == 16 and hi.n_centroids == 128
    assert hi.residual and hi.n_probe == 32 and hi.oversample == 32
    # OPQ rides on recall tiers (500k study: +0.20 on correlated,
    # verified no-op on uniform via the strict-improvement fallback)
    assert hi.opq

    mid = tune_pq(64, recall_target=0.7, n_clusters=64)
    assert mid.n_subspaces == 16 and mid.residual and mid.opq
    assert mid.n_probe == 16 and mid.oversample == 8

    # small tables probe every cluster regardless of tier (all risk,
    # no saving in a narrow probe below ~10k rows)
    assert tune_pq(64, 0.9, 64, dataset_size=500).n_probe == 64

    lo = tune_pq(64, recall_target=0.5, n_clusters=64)
    assert lo.n_subspaces == 8 and not lo.residual and lo.oversample == 4
    assert not lo.opq  # throughput tier keeps the fit cheap

    # n_subspaces must divide dim: 96 -> sub_dim 4 -> 24 subspaces
    assert tune_pq(96, 0.9, 64).n_subspaces == 24
    # pathological prime dim still yields a legal plan
    assert 97 % tune_pq(97, 0.9, 64).n_subspaces == 0
    # train_rows caps the centroid count below what the trainer needs
    assert tune_pq(64, 0.9, 64, train_rows=100).n_centroids <= 100
    with pytest.raises(ValueError):
        tune_pq(64, recall_target=0.0)


def test_fit_recall_target_overrides_and_threads_defaults(spark, embeddings):
    """fit(recall_target=...) must consume tune_pq — overriding the
    historical low-recall defaults — and search_bulk must pick up the
    tuned probe/oversample when the caller passes none (the whole point:
    guidance in docs doesn't protect the user, defaults do)."""
    from fabstir_vectordb_spark.plans.tuning import tune_pq

    tuned = IVFPQIndex.fit(
        embeddings, n_clusters=8, seed=42, recall_target=0.9,
    )
    want = tune_pq(64, recall_target=0.9, n_clusters=8, train_rows=500,
                   dataset_size=500)
    assert tuned.pq.n_subspaces == want.n_subspaces == 16
    assert tuned.pq.n_centroids == want.n_centroids
    assert tuned.residual == want.residual is True
    assert tuned.tuned.n_probe == want.n_probe
    assert tuned.tuned.oversample == want.oversample

    # defaults thread through: no explicit knobs => k rows per query,
    # and recall at the tuned defaults must beat the legacy-default
    # (8-subspace raw-PQ probe-4) index on the same data
    enc = tuned.encode(embeddings).cache()
    q = embeddings.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    exact = brute_force_knn(
        embeddings, q, 10, metric="l2", impl="kernel",
        id_col="vec_id", vector_col="embedding",
    )
    got = tuned.search_bulk(enc, q, 10, rerank_vectors=embeddings)
    per_q = {}
    for r in got.collect():
        per_q.setdefault(r["query_id"], set()).add(r["id"])
    truth = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r["id"])
    assert set(per_q) == set(truth)
    recalls = [
        len(per_q[qid] & truth[qid]) / len(truth[qid]) for qid in truth
    ]
    assert sum(recalls) / len(recalls) >= 0.9
    enc.unpersist()


def test_untuned_search_keeps_legacy_defaults(idx, encoded, embeddings, queries):
    """No recall_target => tuned is None => the legacy (4, 4) defaults
    still apply, so existing callers see identical results."""
    assert idx.tuned is None
    a = idx.search_bulk(encoded, queries, 5, rerank_vectors=embeddings)
    b = idx.search_bulk(
        encoded, queries, 5, n_probe=4, oversample=4, rerank_vectors=embeddings
    )
    assert _rows(a) == _rows(b)


def test_tuned_plan_survives_save_load(spark, embeddings, tmp_path):
    """fit(recall_target=...)'s knob bundle must survive the save/load
    cycle — a reloaded index that silently reverted to the legacy (4,4)
    search defaults would be exactly the docs-not-defaults trap tune_pq
    exists to close."""
    tuned = IVFPQIndex.fit(embeddings, n_clusters=8, seed=42, recall_target=0.9)
    path = str(tmp_path / "tuned_idx")
    import os

    os.makedirs(path, exist_ok=True)
    tuned.save(path)
    loaded = IVFPQIndex.load(path)
    assert loaded.tuned == tuned.tuned
    assert loaded.residual == tuned.residual
    # threaded defaults behave identically post-reload
    enc = tuned.encode(embeddings)
    q = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    a = _rows(tuned.search_bulk(enc, q, 5, rerank_vectors=embeddings))
    b = _rows(loaded.search_bulk(enc, q, 5, rerank_vectors=embeddings))
    assert a == b
