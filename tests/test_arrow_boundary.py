"""The Arrow kernel boundary (operators/_arrow.py) rejects bad vectors.

A null element would become NaN in the flat buffer and NaN distances
silently reorder neighbours, so every kernel built on the boundary must
fail loudly, naming the column, on a null vector, a null element, or a
vector whose length differs from its batch's dim.  The ADC kernels
likewise reject a PQ code outside [0, K), which the flat lookup-table
gather would otherwise read from the wrong subspace or wrap, and the
Hamming kernels a signature word outside [0, 2**32) or a signature of
another word count, which a uint32 cast would wrap or numpy would fail
on deep inside the kernel."""

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators import _arrow
from fabstir_vectordb_spark.operators import dedup
from fabstir_vectordb_spark.operators import knn as knn_mod
from fabstir_vectordb_spark.operators.binary import BinarySketch
from fabstir_vectordb_spark.operators.ivf import IVFIndex
from fabstir_vectordb_spark.operators.ivfpq import IVFPQIndex
from fabstir_vectordb_spark.operators.knn import knn_bulk
from fabstir_vectordb_spark.operators.pq import ProductQuantizer

DIM = 4
# bad vector -> the fragment of the error that names the defect
BAD = {
    "null vector": None,
    "null element": [1.0, None, 0.0, 0.0],
    "vector of length 2 in a batch of dim 4": [1.0, 2.0],
}


def test_matrix_parses_and_rejects():
    col = pa.array([[1.0, 2.0], [3.0, 4.0]], pa.list_(pa.float32()))
    m = _arrow.matrix(col, "v")
    assert m.dtype == np.float64 and m.flags.writeable
    assert np.array_equal(m, [[1.0, 2.0], [3.0, 4.0]])
    assert np.array_equal(_arrow.matrix(col.slice(1), "v"), [[3.0, 4.0]])
    for what, bad in BAD.items():
        arr = pa.array([[0.5] * DIM, bad], pa.list_(pa.float64()))
        with pytest.raises(ValueError, match=f"column 'v': .*{what}"):
            _arrow.matrix(arr, "v")


def _vectors(spark, bad):
    rows = [(i, [float(i), 1.0, 0.0, -float(i)]) for i in range(12)] + [(99, bad)]
    # one partition: the bad row shares its Arrow batch with good rows
    return spark.createDataFrame(rows, "id long, vector array<double>").coalesce(1)


def _assign(df):
    idx = IVFIndex(centroids=np.eye(2, DIM), id_col="id", vector_col="vector")
    return idx.assign(df)


def _encode(df):
    pq = ProductQuantizer(2, 2, DIM, np.zeros((2, 2, 2)))
    return pq.encode(df, vector_col="vector")


def _knn_bulk(df):
    q = df.sparkSession.createDataFrame([(0, [0.0] * DIM)], "query_id long, vector array<double>")
    return knn_bulk(df, q, 3, vector_blocks=1)


def _binary_encode(df):
    return BinarySketch.fit(dim=DIM, bits=32).encode(df, vector_col="vector")


def _hamming_knn(df):
    """The re-rank reads the raw vectors: every row of ``df`` carries a
    valid all-zero signature, and a fetch of every row makes the bad one
    a candidate, whose vector the driver pulls."""
    q = df.sparkSession.createDataFrame([(0, [0.0] * DIM)], "query_id long, vector array<double>")
    sigs = df.select("id", F.array(F.lit(0).cast("long")).alias("sig"))
    return BinarySketch.fit(dim=DIM, bits=32).hamming_knn(
        sigs, q, 3, id_col="id", rerank_vectors=df, rerank_vector_col="vector", oversample=5
    )


def _near_dup_brute(df):
    """The broadcast matrix is parsed on the driver."""
    return dedup.embedding_near_dup(df, 0.9, id_col="id", vector_col="vector", method="brute")


def _near_dup_cluster(df):
    idx = IVFIndex(centroids=np.zeros((1, DIM)), id_col="id", vector_col="vector")
    return dedup.embedding_near_dup(
        df, 0.9, id_col="id", vector_col="vector", method="cluster", ivf_index=idx
    )


@pytest.mark.parametrize("what", list(BAD))
@pytest.mark.parametrize(
    "op",
    [_assign, _encode, _knn_bulk, _binary_encode, _hamming_knn, _near_dup_brute, _near_dup_cluster],
)
def test_kernels_fail_loudly_on_bad_vectors(spark, op, what):
    with pytest.raises(Exception) as err:
        op(_vectors(spark, BAD[what])).collect()
    msg = str(err.value)
    # a kernel raises in a Python worker; the bounded re-rank and the
    # near-dup broadcast on the driver
    assert "ValueError: column '" in msg or (err.type is ValueError and "column '" in msg)
    assert what in msg


K = 2  # codewords per subspace of the quantizer below


def _pq():
    return ProductQuantizer(2, K, DIM, np.arange(8.0).reshape(2, K, 2))


def _codes(spark, bad_code):
    rows = [(i, i % 2, [i % K, (i // 2) % K]) for i in range(12)]
    rows.append((99, 0, [0, bad_code]))
    # one partition: the bad row shares its Arrow batch with good rows
    return spark.createDataFrame(
        rows, "vec_id long, cluster_id int, pq_codes array<int>"
    ).coalesce(1)


def _queries(df):
    return df.sparkSession.createDataFrame(
        [(0, [0.0] * DIM)], "query_id long, vector array<double>"
    )


def _adc_knn(codes):
    return _pq().adc_knn(codes, _queries(codes), 3)


def _adc_knn_bulk(codes):
    """The cogroup plan: the query byte cap holds no query."""
    with pytest.MonkeyPatch.context() as m:
        m.setattr(knn_mod, "_MAX_DRIVER_QUERY_BYTES", 0)
        return _pq().adc_knn_bulk(codes, _queries(codes), 3)


def _ivfpq_search_bulk(codes):
    ivf = IVFIndex(centroids=np.eye(2, DIM), id_col="vec_id", vector_col="vector")
    return IVFPQIndex(ivf, _pq()).search_bulk(codes, _queries(codes), 3, n_probe=2)


@pytest.mark.parametrize("code", [K, -1])
@pytest.mark.parametrize("op", [_adc_knn, _adc_knn_bulk, _ivfpq_search_bulk])
def test_adc_kernels_fail_loudly_on_out_of_range_codes(spark, op, code):
    with pytest.raises(Exception) as err:
        op(_codes(spark, code)).collect()
    msg = str(err.value)
    assert "ValueError: column '" in msg and f"code {code} outside [0, {K})" in msg


def _sigs(spark, bad_sig):
    rows = [(i, [i]) for i in range(12)] + [(99, bad_sig)]
    # one partition: the bad row shares its Arrow batch with good rows
    return spark.createDataFrame(rows, "vec_id long, sig array<bigint>").coalesce(1)


@pytest.mark.parametrize(
    "bits, bad_sig, what",
    [
        (32, [1 << 32], "column 'sig': word 4294967296 outside [0, 2**32)"),
        (32, [-1], "column 'sig': word -1 outside [0, 2**32)"),
        (32, [0, 0], "column 'sig': vector of length 2 in a batch of dim 1"),
        (64, [0], "column 'sig': 1 words per signature, the sketch has 2"),
    ],
)
@pytest.mark.parametrize("plan", ["bounded", "cogroup"])
def test_hamming_kernels_fail_loudly_on_bad_signatures(
    spark, monkeypatch, plan, bits, bad_sig, what
):
    if plan == "cogroup":
        monkeypatch.setattr(knn_mod, "_MAX_DRIVER_QUERY_BYTES", 0)
    sigs = _sigs(spark, bad_sig)
    with pytest.raises(Exception) as err:
        BinarySketch.fit(dim=DIM, bits=bits).hamming_knn(sigs, _queries(sigs), 3).collect()
    msg = str(err.value)
    assert "ValueError: " + what in msg
