"""Product quantization — optional compression feature (SURVEY §2.1).

Parity target: ProductQuantizer (src/core/vector_ops.rs:390-578): train =
per-subspace k-means over sliced vectors, encode = nearest centroid per
subspace (codes), decode = concatenate looked-up centroids.  Plus ADC
(asymmetric distance) scoring, the standard PQ search trick the reference
leaves implicit in its quantized-distance helpers.

Spark design: training samples to the driver and runs tiny per-subspace
k-means fits (sklearn-free Lloyd's in numpy — M fits of K centroids on a
bounded `train_size` sample is driver-scale work, exactly like the
reference's train()).  Encode/decode/ADC run distributed as Arrow-batched
kernels with the codebooks broadcast — at 100 TB the codes table is the
only thing that moves (M bytes/vector vs 4*dim).  All of them cross the
Python boundary through operators/_arrow.py (flat buffers, no pandas).

ADC ranking is written once: ``_adc_topk_rows`` ranks a block of codes
against a set of per-query lookup tables.  ``adc_knn`` (alias
``adc_knn_bulk``) and ``IVFPQIndex.search_bulk`` take one decision,
``knn._driver_queries``: a query set whose float64 vectors (with a
re-rank, each query's fetch candidates too) fit
``knn._MAX_DRIVER_QUERY_BYTES`` and whose partial rows (Q x fetch x scan
partitions) fit ``knn._MAX_DRIVER_PARTIAL_ROWS`` is collected once,
capped before the pull.  It is broadcast into ``partial_adc``, one
map-only ``mapInArrow`` pass whose partial rows are collected and
finished on the driver (``_top_candidates_on_driver``: the first fetch
rows, the re-rank of their vectors, pulled once each, then the first k),
so the result is a local relation and nothing is shuffled.  A larger
query set stays a DataFrame: ``cogroup_block_adc``, an ``applyInArrow``
cogroup, then ``_top_candidates`` (``topk_per_query`` and, with re-rank
vectors, the ``exact_rerank`` join).  The binary sketch
(operators/binary.py) shares both tails.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from fabstir_vectordb_spark.functions import distance as D
from fabstir_vectordb_spark.operators import _arrow
from fabstir_vectordb_spark.operators._kmeans import kmeans_fit as _kmeans_fit
from fabstir_vectordb_spark.operators._plan import scan_partitions
from fabstir_vectordb_spark.operators.knn import (
    _cluster_runs,
    _driver_queries,
    _first_k,
    _first_k_rows,
    _hash_blocks,
    _merged_on_driver,
    _probed_topk_rows,
    _query_positions,
    _running_topk,
)
from fabstir_vectordb_spark.operators.topk import ROUND_DECIMALS, topk_per_query

# partial_adc builds the raw-mode (nq, M, K) float64 LUT set once on the
# driver and ships it while it fits this many bytes; above it each scan
# task builds the same tables lazily
_MAX_PRECOMPUTED_LUT_BYTES = 64 << 20


def _pq_codes(V: np.ndarray, books: np.ndarray, rot: np.ndarray | None) -> pa.Array:
    """list<int32> column of the M nearest-codeword ids of each row of
    ``V`` (vector_ops.rs:449-485), rotated first when ``rot`` is set."""
    if rot is not None:
        V = V @ rot
    M, sub = len(books), books.shape[2]
    codes = np.empty((len(V), M), dtype=np.int32)
    for m in range(M):
        Xm = V[:, m * sub : (m + 1) * sub]
        # (n, k) distance matrix via |x|^2 - 2xC + |C|^2
        d = (
            np.einsum("ij,ij->i", Xm, Xm)[:, None]
            - 2.0 * Xm @ books[m].T
            + np.einsum("ij,ij->i", books[m], books[m])[None, :]
        )
        codes[:, m] = d.argmin(axis=1)
    return _arrow.lists(codes)


def _code_matrix(col: pa.Array | pa.ChunkedArray, name: str, M: int, K: int) -> np.ndarray:
    """A code column as an ``(n, M)`` int64 matrix.  Raises ``ValueError``
    naming ``name`` on a null or ragged code array (``_arrow.matrix``), a
    row of other than ``M`` codes, or a code outside ``[0, K)``: the flat
    LUT gather would read a code of K from the next subspace's table and
    wrap a negative one, both silently."""
    codes = _arrow.matrix(col, name, np.int64)
    if codes.shape[1] != M:
        raise ValueError(f"column {name!r}: {codes.shape[1]} codes per row, the quantizer has {M}")
    lo, hi = codes.min(), codes.max()
    if lo < 0 or hi >= K:
        raise ValueError(f"column {name!r}: code {lo if lo < 0 else hi} outside [0, {K})")
    return codes


def _adc_tables(books: np.ndarray, Q: np.ndarray, rot: np.ndarray | None,
                chunk: int = 512) -> np.ndarray:
    """Flat (nq, M*K) ADC lookup tables: entry ``m*K + c`` of row j is the
    squared L2 distance from slice m of query j (rotated first by ``rot``,
    one ``q @ rot`` per row) to codeword c of subspace m.  Every ADC path
    builds its tables here, so their distances are bit-identical.

    ONE einsum per <= ``chunk`` queries replaces the former M einsum calls
    PER QUERY (the per-call Python dispatch dominated at bulk query counts
    — guide §4.2, vectorize whole batches inside kernels).  Values are
    bit-identical to the per-query form: einsum('qmkj,qmkj->qmk') reduces
    j in the same naive sequential order as einsum('kj,kj->k') does for
    each (q, m).  ``chunk`` bounds the (chunk, M, K, sub) broadcast
    temporary to a few MB."""
    if rot is not None:
        Q = np.stack([q @ rot for q in Q])
    M, K, sub = books.shape
    nq = len(Q)
    out = np.empty((nq, M, K), dtype=np.float64)
    Qr = Q.reshape(nq, M, 1, sub)
    for s in range(0, nq, chunk):
        D = books[None, :, :, :] - Qr[s : s + chunk]
        out[s : s + chunk] = np.einsum("qmkj,qmkj->qmk", D, D)
    return out.reshape(nq, M * K)


class _Scratch:
    """The gather and sum buffers of ``_adc_topk_rows``, grown to the
    largest block seen and reused by every later call of one task.  A
    fresh (n, M) temporary per (query, block) was ~1.6 GB of first-touch
    pages per search at the 100k datum, the dominant kernel cost on
    slow-faulting hosts; the values are unchanged (same gather, same
    sequential axis-1 sum)."""

    def __init__(self):
        self.g = self.d = self.r = np.empty(0)

    def views(self, n: int, M: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        if len(self.g) < n:
            self.g, self.d, self.r = np.empty((n, M)), np.empty(n), np.empty(n)
        return self.g[:n], self.d[:n], self.r[:n]


def _adc_topk_rows(
    luts: np.ndarray | list[np.ndarray],
    codes: np.ndarray,
    keys: np.ndarray,
    fetch: int,
    scratch: _Scratch,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The one ADC top-``fetch`` selection: every flat ``(M*K,)`` LUT in
    ``luts`` (rows of ``_adc_tables``) against the ``(n, M)`` int64
    ``codes`` of one block.  A row's distance is sqrt(sum_m lut[m*K +
    code_m]); each query keeps its first ``fetch`` rows by
    (round(distance, 6), key) (``knn._first_k``), so per-block partials
    always hold the global top-``fetch``.

    Returns (position in ``luts``, row position, distance) arrays, one
    entry per output row; ``keys`` (sort keys) only break distance ties."""
    n, M = codes.shape
    empty = np.empty(0, dtype=np.int64)
    if n == 0 or len(luts) == 0:
        return empty, empty, np.empty(0)
    out_q, out_v, out_d = [empty], [empty], [np.empty(0)]
    # the flat LUT index m*K + code_m, shared by every query of the block
    flat_idx = codes + np.arange(M, dtype=np.int64) * (len(luts[0]) // M)
    g, dv, rv = scratch.views(n, M)
    for j, lut in enumerate(luts):
        np.take(lut, flat_idx, out=g)
        np.sum(g, axis=1, out=dv)
        d = np.sqrt(dv, out=dv)
        cand = _first_k(np.round(d, ROUND_DECIMALS, out=rv), keys, fetch)
        out_q.append(np.full(len(cand), j, dtype=np.int64))
        out_v.append(cand)
        out_d.append(d[cand])
    return np.concatenate(out_q), np.concatenate(out_v), np.concatenate(out_d)


def partial_adc(
    codes_df: DataFrame,
    qids: list,
    Q: np.ndarray,
    qid_type: T.DataType,
    fetch: int,
    pq: "ProductQuantizer",
    id_col: str = "vec_id",
    code_col: str = "pq_codes",
    probes: dict[int, np.ndarray] | None = None,
    centroids: np.ndarray | None = None,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """The ADC partial top-``fetch`` over driver-held queries: one map-only
    ``mapInArrow`` pass over ``codes_df``, no exchange — the shape of
    ``knn.partial_knn`` with the ADC body.  ``qids`` and the ``(nq, dim)``
    float64 matrix ``Q`` are broadcast; each Arrow batch ranks its
    top-``fetch`` per query, a task keeps the running top-``fetch`` of its
    batches and emits it once, and the caller merges the partials on
    the driver (``_top_candidates_on_driver``).  ``probes`` ({cluster id:
    positions in ``Q`` of the queries probing it}) reads only the probed
    clusters — an IN filter on ``cluster_col``, which prunes a
    partitionBy(cluster_id) layout at the scan — and ranks each cluster
    group of a batch against only its probing queries
    (``knn._probed_topk_rows``).

    ``centroids`` marks codes of the residual x - c (IVFADC): a cluster's
    LUTs are built from q - c, since ||x - q|| == ||(x - c) - (q - c)||,
    once per cluster per task.  Otherwise one LUT set serves every row,
    built once on the driver and broadcast while it fits
    ``_MAX_PRECOMPUTED_LUT_BYTES`` (every task rebuilding it cost ~0.09 s
    CPU per task x 28 tasks at the 100k datum, plus a first-touch
    straggler), else built once per task.

    Output: (query_id, id, distance)."""
    M, K, _ = pq.codebooks.shape
    luts = None
    if centroids is None and len(Q) * M * K * 8 <= _MAX_PRECOMPUTED_LUT_BYTES:
        luts = _adc_tables(pq.codebooks, Q, pq.rotation)
    qid_arrow = pa.array(qids, to_arrow_type(qid_type))
    bc = codes_df.sparkSession.sparkContext.broadcast(
        (qid_arrow, Q, probes, pq.codebooks, pq.rotation, centroids, luts)
    )
    out_schema = _arrow.topk_schema(qid_type, codes_df.schema[id_col].dataType)
    cols = [id_col, code_col]
    if probes is not None:
        codes_df = codes_df.filter(F.col(cluster_col).isin(sorted(probes)))
        cols.append(cluster_col)

    def adc_topk(batches):
        qids_l, Q_l, probes_l, books, rot, cents, luts_l = bc.value
        scratch = _Scratch()
        cluster_luts: dict[int, np.ndarray] = {}

        def luts_for(cid, qidx):
            nonlocal luts_l
            if cents is not None:
                if cid not in cluster_luts:
                    cluster_luts[cid] = _adc_tables(books, Q_l[qidx] - cents[cid], rot)
                return cluster_luts[cid]
            if luts_l is None:
                luts_l = _adc_tables(books, Q_l, rot)
            # row views, not a copy of the probing queries' tables
            return luts_l if qidx is None else [luts_l[i] for i in qidx]

        def batch_topk(b):
            codes = _code_matrix(b.column(code_col), code_col, M, K)
            ids = b.column(id_col)
            keys = _arrow.sort_keys(ids)
            if probes_l is None:
                qpos, vpos, d = _adc_topk_rows(luts_for(None, None), codes, keys, fetch, scratch)
            else:
                order, runs = _cluster_runs(b.column(cluster_col))
                codes, keys = codes[order], keys[order]
                qpos, vpos, d = _probed_topk_rows(
                    order, runs, probes_l,
                    lambda cid, s, e, qidx: _adc_topk_rows(
                        luts_for(cid, qidx), codes[s:e], keys[s:e], fetch, scratch
                    ),
                )
            return _arrow.topk_table(qids_l, qpos, ids, vpos, d)

        yield from _running_topk((batch_topk(b) for b in batches if b.num_rows), qids_l, fetch)

    return codes_df.select(*cols).mapInArrow(adc_topk, out_schema)


def cogroup_block_adc(
    v: DataFrame,
    qrep: DataFrame,
    fetch: int,
    pq: "ProductQuantizer",
    qid_type: T.DataType,
    id_type: T.DataType,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """The ADC block partial top-``fetch`` for a query set that stays a
    DataFrame: cogroup ``v`` (id, __codes, __blk) with ``qrep`` (query_id,
    __qv, __blk) on __blk; each group builds its queries' LUTs and runs
    ``_adc_topk_rows`` — the shape of ``knn.cogroup_block_knn`` with the
    ADC body.  The caller defines what a block is — a hash bucket
    (``adc_knn`` above the caps) or an IVF cluster
    (``IVFPQIndex.search_bulk``) — and applies the global top-``fetch``.
    ``centroids`` marks residual codes, as in ``partial_adc``: each
    block's queries shift by its centroid."""
    bc = v.sparkSession.sparkContext.broadcast((pq.codebooks, pq.rotation, centroids))
    M, K, _ = pq.codebooks.shape
    scratch = _Scratch()

    def block_adc(vt: pa.Table, qt: pa.Table) -> pa.Table:
        if vt.num_rows == 0 or qt.num_rows == 0:
            return pa.table({})  # a cogroup side may arrive with no columns
        books, rot, cents = bc.value
        Q = _arrow.matrix(qt.column("__qv"), "__qv")
        if cents is not None:
            Q -= cents[vt.column("__blk")[0].as_py()]
        codes = _code_matrix(vt.column("__codes"), "__codes", M, K)
        ids = vt.column("id")
        qpos, vpos, d = _adc_topk_rows(
            _adc_tables(books, Q, rot), codes, _arrow.sort_keys(ids), fetch, scratch
        )
        return _arrow.topk_table(qt.column("query_id"), qpos, ids, vpos, d)

    return (
        v.groupBy("__blk")
        .cogroup(qrep.groupBy("__blk"))
        .applyInArrow(block_adc, _arrow.topk_schema(qid_type, id_type))
    )


def exact_rerank(
    cand: DataFrame,
    queries: DataFrame,
    rerank_vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    rerank_vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Exact re-rank of an over-fetched candidate set: true L2 on only the
    Q*k*oversample candidate rows, then top-k.  Shared by every ADC
    search (``_top_candidates``) so the full-probe-equivalence contract
    can't drift between them.

    cand is the small side of both joins; no broadcast hint on the query
    table (it may be big) — AQE decides."""
    vecs = rerank_vectors.select(
        F.col(id_col).alias("id"),
        F.col(rerank_vector_col).alias("__rv_vec"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vector_col).alias("__rv_q"),
    )
    exact = (
        cand.drop("distance")
        .join(vecs, "id")
        .join(q, "query_id")
        .select(
            "query_id",
            "id",
            D.l2_distance("__rv_vec", "__rv_q").alias("distance"),
        )
    )
    return topk_per_query(exact, k)


def _rerank_on_driver(
    cand: pa.Table,
    qids: pa.Array,
    Q: np.ndarray,
    rerank_vectors: DataFrame,
    schema: T.StructType,
    id_col: str,
    rerank_vector_col: str,
) -> pa.Table:
    """The exact distances of driver-held candidates, the rows
    ``exact_rerank`` ranks: the distinct ids of ``cand`` (of the
    ``_arrow.topk_schema`` ``schema``) as a local relation,
    broadcast-joined with ``rerank_vectors`` and pulled by one JVM-only
    ``toArrow()``, each vector once however many queries kept it; then
    true L2 from each row's vector, gathered by position, to its query
    (the row of ``Q`` at its position in ``qids``) in numpy.  A
    candidate without a vector drops, as in the join.  The squared
    differences are summed in index order, the sequential fold of
    ``D.l2_distance``, so each distance equals the Spark plan's."""
    ids = rerank_vectors.sparkSession.createDataFrame(
        pa.table({"id": pc.unique(cand.column("id"))}), T.StructType([schema["id"]])
    )
    t = (
        rerank_vectors.select(F.col(id_col).alias("id"), F.col(rerank_vector_col).alias("__v"))
        .join(F.broadcast(ids), "id")
        .toArrow()
    )
    pos = pc.index_in(cand.column("id"), value_set=t.column("id").combine_chunks())
    if pos.null_count:
        cand, pos = cand.filter(pc.is_valid(pos)), pos.drop_null()
    V = _arrow.matrix(t.column("__v"), rerank_vector_col)
    qcol = cand.column("query_id")
    diff = V[pos.to_numpy()] - Q[_query_positions(qcol, qids)]
    diff *= diff
    acc = np.zeros(len(diff))
    for j in range(diff.shape[1]):
        acc += diff[:, j]
    return pa.table({
        "query_id": qcol,
        "id": cand.column("id"),
        "distance": pa.array(np.sqrt(acc), pa.float64()),
    })


def _top_candidates_on_driver(
    spark, cand: pa.Table, qids: list, Q: np.ndarray, fetch: int, k: int, schema: T.StructType,
    rerank_vectors: DataFrame | None, id_col: str, rerank_vector_col: str,
) -> DataFrame:
    """``_top_candidates`` of a bounded search, on the driver: of the
    collected partial rows ``cand``, with ``rerank_vectors`` the first
    ``fetch`` per query re-ranked exactly (``_rerank_on_driver``), then
    the first ``k`` per query as a local relation of ``schema``
    (``_merged_on_driver``)."""
    if rerank_vectors is not None:
        qids_a = pa.array(qids, to_arrow_type(schema["query_id"].dataType))
        cand = _rerank_on_driver(
            _first_k_rows(cand, qids_a, fetch), qids_a, Q, rerank_vectors,
            schema, id_col, rerank_vector_col,
        )
    return _merged_on_driver(spark, cand, qids, schema, k)


def _top_candidates(
    partials: DataFrame,
    fetch: int,
    k: int,
    queries: DataFrame,
    rerank_vectors: DataFrame | None,
    **cols: str,
) -> DataFrame:
    """The tail of every search above the caps: the global top-``fetch``
    of the partials, then, with ``rerank_vectors``, their exact re-rank
    to the top ``k`` (``exact_rerank``, which takes ``cols``); without
    them ``fetch == k``."""
    cand = topk_per_query(partials, fetch)
    if rerank_vectors is None:
        return cand
    return exact_rerank(cand, queries, rerank_vectors, k, **cols)


class ProductQuantizer:
    """codebooks: (M, K, sub_dim) float64 array.

    ``rotation``: optional (dim, dim) orthonormal OPQ pre-rotation
    (operators/opq.py).  When set, codes quantize ``x @ R`` and every
    query LUT is built from ``q @ R`` — distances are preserved exactly
    (R^T R = I), so all downstream contracts (rerank, dominance,
    thresholds) are unchanged; only code quality improves."""

    def __init__(
        self,
        n_subspaces: int,
        n_centroids: int,
        dim: int,
        codebooks: np.ndarray,
        rotation: np.ndarray | None = None,
    ):
        if dim % n_subspaces != 0:
            raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
        self.n_subspaces = n_subspaces
        self.n_centroids = n_centroids
        self.dim = dim
        self.sub_dim = dim // n_subspaces
        self.codebooks = codebooks
        self.rotation = rotation

    # ------------------------------------------------------------- train

    @classmethod
    def fit(
        cls,
        df: DataFrame,
        n_subspaces: int = 4,
        n_centroids: int = 16,
        train_size: int = 10_000,
        iters: int = 25,
        seed: int = 42,
        vector_col: str = "embedding",
        opq: bool | str | None = False,
    ) -> "ProductQuantizer":
        """Sample `train_size` vectors (deterministic) and fit M per-subspace
        codebooks (vector_ops.rs:415-447; defaults mirror train_size=10000,
        25 iters from ivf/core.rs:50-60).

        ``opq``: learn an orthonormal pre-rotation first (operators/
        opq.py) — True for the full non-parametric alternating solver,
        "pca" for the eigenvalue-balanced PCA rotation only.  The
        rotation is kept ONLY if it strictly reduces reconstruction MSE
        on the training sample vs the unrotated fit — opq=True is
        therefore never worse than opq=False on the sample by
        construction (the auto-fallback a default must have)."""
        X = _arrow.collect_matrix(df.select(vector_col).limit(train_size), vector_col)
        return cls._fit_sample(X, n_subspaces, n_centroids, iters, seed, opq)

    @classmethod
    def _fit_sample(
        cls, X: np.ndarray, n_subspaces: int, n_centroids: int,
        iters: int = 25, seed: int = 42, opq: bool | str | None = False,
    ) -> "ProductQuantizer":
        """``fit`` on an already collected ``(n, dim)`` float64 sample."""
        if len(X) < n_centroids:
            raise ValueError(
                f"need >= {n_centroids} training vectors, got {len(X)}"
            )
        dim = X.shape[1]
        if dim % n_subspaces != 0:
            raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
        sub = dim // n_subspaces

        def _books(Xs: np.ndarray) -> np.ndarray:
            rng = np.random.RandomState(seed)
            return np.stack(
                [
                    _kmeans_fit(Xs[:, m * sub : (m + 1) * sub], n_centroids, iters, rng)
                    for m in range(n_subspaces)
                ]
            )

        books = _books(X)
        if not opq:
            return cls(n_subspaces, n_centroids, dim, books)

        from fabstir_vectordb_spark.operators.opq import (
            fit_rotation,
            pca_balanced_rotation,
            train_mse,
        )

        R = (
            pca_balanced_rotation(X, n_subspaces)
            if opq == "pca"
            else fit_rotation(X, n_subspaces, n_centroids, seed=seed)
        )
        rot_books = _books(X @ R)
        if train_mse(X, rot_books, R) < train_mse(X, books, None):
            return cls(n_subspaces, n_centroids, dim, rot_books, rotation=R)
        return cls(n_subspaces, n_centroids, dim, books)

    # ------------------------------------------------------------ encode

    def encode(
        self, df: DataFrame, vector_col: str = "embedding", code_col: str = "pq_codes"
    ) -> DataFrame:
        """vector -> array<int> of M centroid indices (vector_ops.rs:449-485)."""
        bc = df.sparkSession.sparkContext.broadcast((self.codebooks, self.rotation))
        out_schema = T.StructType(list(df.schema)).add(code_col, T.ArrayType(T.IntegerType()))

        def kernel(batches):
            books, rot = bc.value
            for b in batches:
                if b.num_rows == 0:
                    continue
                V = _arrow.matrix(b.column(vector_col), vector_col)
                yield _arrow.append(b, code_col, _pq_codes(V, books, rot))

        return df.mapInArrow(kernel, out_schema)

    # ------------------------------------------------------------ decode

    def decode(
        self, df: DataFrame, code_col: str = "pq_codes", out_col: str = "decoded"
    ) -> DataFrame:
        """codes -> reconstructed vector in the ORIGINAL space
        (vector_ops.rs:487-511): with an OPQ rotation the lookup
        reconstructs the rotated vector, so it is rotated back
        (R^T = R^{-1} for orthonormal R)."""
        bc = df.sparkSession.sparkContext.broadcast((self.codebooks, self.rotation))
        out_schema = T.StructType(list(df.schema)).add(out_col, T.ArrayType(T.DoubleType()))
        M, K, sub = self.codebooks.shape

        def kernel(batches):
            books, rot = bc.value
            for b in batches:
                if b.num_rows == 0:
                    continue
                codes = _code_matrix(b.column(code_col), code_col, M, K)
                # (n, M, sub): codeword codes[i, m] of subspace m
                recon = books[np.arange(M), codes].reshape(len(codes), M * sub)
                if rot is not None:
                    # per row, the form the reconstruction has always used
                    recon = np.stack([r @ rot.T for r in recon])
                yield _arrow.append(b, out_col, _arrow.lists(recon))

        return df.mapInArrow(kernel, out_schema)

    # --------------------------------------------------------- ADC search

    def adc_knn(
        self,
        codes_df: DataFrame,
        queries: DataFrame,
        k: int,
        id_col: str = "vec_id",
        code_col: str = "pq_codes",
        query_id_col: str = "query_id",
        query_vector_col: str = "vector",
        rerank_vectors: DataFrame | None = None,
        rerank_vector_col: str = "embedding",
        oversample: int = 4,
    ) -> DataFrame:
        """Asymmetric-distance kNN over PQ codes: per query, precompute the
        (M, K) subspace distance table, then each row's approximate squared
        L2 is M table lookups — no vector decode, no full-width math.
        With `rerank_vectors` (the full-precision table), ADC over-fetches
        k*oversample candidates and re-ranks only those exactly.

        Two plans, identical rows.  Under the caps of
        ``knn._driver_queries`` (float64 query vectors, plus each query's
        fetch candidates when re-ranking, within
        ``knn._MAX_DRIVER_QUERY_BYTES``; Q x fetch x scan partitions
        partial rows within ``knn._MAX_DRIVER_PARTIAL_ROWS``) the queries
        are collected once, capped before the pull, and broadcast into one
        ``partial_adc`` pass whose partial rows are finished on the driver
        into a local relation; nothing is shuffled.  Above them the codes
        hash into blocks cogrouped with the replicated queries
        (``cogroup_block_adc``), then ``_top_candidates``.
        ``adc_knn_bulk`` is the same search."""
        fetch = k * (oversample if rerank_vectors is not None else 1)
        qid_type = queries.schema[query_id_col].dataType
        id_type = codes_df.schema[id_col].dataType
        M, _, sub = self.codebooks.shape
        bounded = _driver_queries(
            queries, query_id_col, query_vector_col, fetch * scan_partitions(codes_df), M * sub,
            vectors_per_query=1 + (fetch if rerank_vectors is not None else 0),
        )
        if bounded is not None:
            qids, Q = bounded
            spark = codes_df.sparkSession
            schema = _arrow.topk_schema(qid_type, id_type)
            if not qids:  # no query LUTs to stack
                return spark.createDataFrame([], schema)
            cand = partial_adc(
                codes_df, qids, Q, qid_type, fetch, self, id_col=id_col, code_col=code_col
            ).toArrow()
            return _top_candidates_on_driver(
                spark, cand, qids, Q, fetch, k, schema, rerank_vectors, id_col, rerank_vector_col
            )
        v, qrep = _hash_blocks(
            codes_df, id_col, F.col(code_col).alias("__codes"),
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_vector_col).alias("__qv"),
            ),
        )
        partials = cogroup_block_adc(v, qrep, fetch, self, qid_type, id_type)
        return _top_candidates(
            partials, fetch, k, queries, rerank_vectors,
            id_col=id_col, rerank_vector_col=rerank_vector_col,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )

    adc_knn_bulk = adc_knn

    # -------------------------------------------------------- persistence

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        meta = {
            "n_subspaces": self.n_subspaces,
            "n_centroids": self.n_centroids,
            "dim": self.dim,
            "codebooks": self.codebooks.tolist(),
        }
        if self.rotation is not None:
            # the rotation is part of the code geometry: codes saved
            # without it would decode/search wrong after reload
            meta["rotation"] = self.rotation.tolist()
        with open(os.path.join(path, "pq.json"), "w") as f:
            json.dump(meta, f)

    @classmethod
    def load(cls, path: str) -> "ProductQuantizer":
        with open(os.path.join(path, "pq.json")) as f:
            meta = json.load(f)
        rot = meta.get("rotation")
        return cls(
            meta["n_subspaces"],
            meta["n_centroids"],
            meta["dim"],
            np.asarray(meta["codebooks"]),
            rotation=None if rot is None else np.asarray(rot),
        )
