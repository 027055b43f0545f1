"""Binary sign-bit sketch (operators/binary.py): packing contract,
bounded/cogroup plan equivalence, Hamming-approximates-angle behavior, rerank
exactness, and persistence."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators import knn as knn_mod
from fabstir_vectordb_spark.operators.binary import BinarySketch, _popcount


def _df(spark, X):
    return spark.createDataFrame(
        [(i, x.tolist()) for i, x in enumerate(X)],
        "vec_id long, embedding array<double>",
    )


def test_popcount_matches_python():
    rng = np.random.RandomState(0)
    x = rng.randint(0, 2**32, size=(20, 4), dtype=np.uint64).astype(np.uint32)
    expect = [sum(bin(int(w)).count("1") for w in row) for row in x]
    assert _popcount(x).tolist() == expect


def test_encode_packing_contract(spark):
    """Words are in [0, 2^32); bit j of word w equals the sign of the
    quantized projection onto plane 32w+j — checked bit-by-bit against
    a direct recomputation."""
    rng = np.random.RandomState(1)
    X = rng.normal(size=(30, 16))
    sk = BinarySketch.fit(dim=16, bits=64, seed=7)
    rows = sk.encode(_df(spark, X)).orderBy("vec_id").collect()
    S = np.trunc(X * sk.scale)
    proj = S @ sk.planes.T.astype(np.float64)
    for r in rows:
        i = r["vec_id"]
        words = r["sig"]
        assert all(0 <= w < 2**32 for w in words)
        for b in range(sk.bits):
            expect = 1 if proj[i, b] > 0 else 0
            got = (words[b // 32] >> (b % 32)) & 1
            assert got == expect, (i, b)


def test_bounded_equals_cogroup(spark, monkeypatch):
    """The bounded plan and the cogroup plan, forced by a query byte cap
    that holds no query, return the same rows."""
    rng = np.random.RandomState(2)
    X = rng.normal(size=(300, 16))
    sk = BinarySketch.fit(dim=16, bits=128, seed=3)
    sigs = sk.encode(_df(spark, X))
    queries = _df(spark, X[:5]).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )

    def rows():
        return sorted(
            (r["query_id"], r["id"], r["distance"])
            for r in sk.hamming_knn(sigs, queries, 10).collect()
        )

    bounded = rows()
    monkeypatch.setattr(knn_mod, "_MAX_DRIVER_QUERY_BYTES", 0)
    assert rows() == bounded


def test_self_distance_zero_and_angle_monotone(spark):
    """A vector's own signature is Hamming-0 from itself, and planted
    near-duplicates land far closer than random vectors (E[hamming] =
    bits * angle / pi — the Charikar collision bound)."""
    rng = np.random.RandomState(4)
    base = rng.normal(size=(50, 32))
    near = base + 0.01 * rng.normal(size=base.shape)  # tiny angle
    X = np.vstack([base, near])
    sk = BinarySketch.fit(dim=32, bits=256, seed=5)
    sigs = sk.encode(_df(spark, X))
    queries = _df(spark, base[:10]).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    res = sk.hamming_knn(sigs, queries, 2).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["distance"], r["id"]))
    for q, hits in by_q.items():
        hits.sort()
        assert hits[0] == (0, q)  # itself at distance 0
        assert hits[1][1] == q + 50  # its planted near-dup next
        assert hits[1][0] < 30  # tiny angle => few of 256 bits differ


def test_rerank_full_oversample_equals_exact(spark):
    from fabstir_vectordb_spark.operators.knn import brute_force_knn

    rng = np.random.RandomState(6)
    X = rng.normal(size=(200, 16))
    sk = BinarySketch.fit(dim=16, bits=128, seed=6)
    df = _df(spark, X)
    sigs = sk.encode(df)
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    got = sorted(
        (r["query_id"], r["id"], round(r["distance"], 6))
        for r in sk.hamming_knn(
            sigs, queries, 10, rerank_vectors=df, oversample=20  # 200 rows: all
        ).collect()
    )
    exact = sorted(
        (r["query_id"], r["id"], round(r["distance"], 6))
        for r in brute_force_knn(
            df, queries, 10, metric="l2",
            id_col="vec_id", vector_col="embedding",
        ).collect()
    )
    assert got == exact


def test_recall_floor_on_clustered_data(spark):
    """Sanity: on clusterable vectors (the realistic case), 256-bit
    signatures + modest oversampled rerank recover most of the exact
    top-10."""
    from fabstir_vectordb_spark.operators.knn import brute_force_knn

    rng = np.random.RandomState(7)
    cents = rng.normal(size=(8, 32)) * 3
    X = np.vstack([c + rng.normal(size=(100, 32)) * 0.5 for c in cents])
    sk = BinarySketch.fit(dim=32, bits=256, seed=8)
    df = _df(spark, X)
    sigs = sk.encode(df)
    queries = df.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    got = sk.hamming_knn(sigs, queries, 10, rerank_vectors=df, oversample=8)
    exact = brute_force_knn(
        df, queries, 10, metric="l2",
        id_col="vec_id", vector_col="embedding",
    )
    hit = got.select("query_id", "id").join(
        exact.select("query_id", "id"), ["query_id", "id"]
    ).count()
    assert hit / (8 * 10) >= 0.8


def test_save_load_roundtrip(spark, tmp_path):
    rng = np.random.RandomState(9)
    X = rng.normal(size=(50, 16))
    sk = BinarySketch.fit(dim=16, bits=64, seed=9)
    sk.save(str(tmp_path))
    back = BinarySketch.load(str(tmp_path))
    assert np.array_equal(back.planes, sk.planes) and back.scale == sk.scale
    a = sorted(tuple(r["sig"]) for r in sk.encode(_df(spark, X)).collect())
    b = sorted(tuple(r["sig"]) for r in back.encode(_df(spark, X)).collect())
    assert a == b


def test_bits_must_be_word_multiple():
    with pytest.raises(ValueError):
        BinarySketch.fit(dim=16, bits=100)


def test_empty_query_set_returns_empty(spark):
    """Zero queries must yield zero rows, not a zero-shape matmul crash
    — both the binary point path and PQ's adc_knn (same collect-side
    LUT construction)."""
    import numpy as np
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.operators.pq import ProductQuantizer

    rng = np.random.RandomState(11)
    X = rng.normal(size=(60, 16))
    df = _df(spark, X)
    noq = df.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    sk = BinarySketch.fit(dim=16, bits=64)
    assert sk.hamming_knn(sk.encode(df), noq, 5).count() == 0
    pq = ProductQuantizer.fit(df, n_subspaces=4, n_centroids=8)
    assert pq.adc_knn(pq.encode(df), noq, 5).count() == 0


def test_k_zero_returns_empty_not_valueerror(spark):
    """k=0 must return an empty frame on both kernels: the argpartition
    shortlist (np.argpartition(d, k - 1)) would raise on the empty
    slice if taken, so the shortlist is guarded with len(d) > k > 0."""
    rng = np.random.RandomState(12)
    X = rng.normal(size=(40, 16))
    df = _df(spark, X)
    q = df.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    sk = BinarySketch.fit(dim=16, bits=64)
    sigs = sk.encode(df)
    assert sk.hamming_knn(sigs, q, 0).count() == 0
    assert sk.hamming_knn_bulk(sigs, q, 0).count() == 0


def test_k_zero_harmonized_across_ann_kernels(spark):
    """VERDICT r8 'What's wrong' #2: the `len(d) > k > 0` guard must
    hold in EVERY argpartition kernel (binary bulk, knn, pq, ivfpq),
    not just the binary point kernel.  The downstream
    row_number() <= 0 filter happens to let Spark's window-group-limit
    prune the whole subtree today, masking an in-executor ValueError —
    this pins the kernels themselves as safe, optimizer or not."""
    from fabstir_vectordb_spark.operators.knn import brute_force_knn, knn_bulk
    from fabstir_vectordb_spark.operators.pq import ProductQuantizer

    rng = np.random.RandomState(13)
    X = rng.normal(size=(40, 16))
    df = _df(spark, X)
    q = df.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    assert brute_force_knn(
        df, q, 0, id_col="vec_id", vector_col="embedding"
    ).count() == 0
    assert knn_bulk(
        df, q, 0, id_col="vec_id", vector_col="embedding"
    ).count() == 0
    pq = ProductQuantizer.fit(df, n_subspaces=4, n_centroids=8)
    codes = pq.encode(df)
    assert pq.adc_knn(codes, q, 0).count() == 0
    assert pq.adc_knn_bulk(codes, q, 0).count() == 0
