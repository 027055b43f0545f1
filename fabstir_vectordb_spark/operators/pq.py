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
only thing that moves (M bytes/vector vs 4*dim).  The training sample and
encode cross the Python boundary through operators/_arrow.py (flat
buffers, no pandas); decode and the ADC searches still use pandas
batches.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fabstir_vectordb_spark.operators import _arrow
from fabstir_vectordb_spark.operators._kmeans import kmeans_fit as _kmeans_fit


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
    offsets = np.arange(len(V) + 1, dtype=np.int32) * M
    return pa.ListArray.from_arrays(offsets, codes.ravel())


def _adc_tables(books: "np.ndarray", Q: "np.ndarray", M: int, sub: int,
                chunk: int = 512) -> "np.ndarray":
    """(nq, M, K) ADC lookup tables for an (already rotated / residual-
    shifted) query batch.  ONE einsum per <= ``chunk`` queries replaces
    the former M einsum calls PER QUERY (the per-call Python dispatch
    dominated at bulk query counts — guide §4.2, vectorize whole batches
    inside kernels).  Values are bit-identical to the per-query form:
    einsum('qmkj,qmkj->qmk') reduces j in the same naive sequential
    order as einsum('kj,kj->k') does for each (q, m).  ``chunk`` bounds
    the (chunk, M, K, sub) broadcast temporary to a few MB."""
    nq = len(Q)
    out = np.empty((nq, M, books.shape[1]), dtype=np.float64)
    Qr = Q.reshape(nq, M, 1, sub)
    for s in range(0, nq, chunk):
        D = books[None, :, :, :] - Qr[s : s + chunk]
        out[s : s + chunk] = np.einsum("qmkj,qmkj->qmk", D, D)
    return out


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
    Q*k*oversample candidate rows, then top-k.  Shared by
    ProductQuantizer.adc_knn_bulk and IVFPQIndex.search_bulk so the
    full-probe-equivalence contract can't drift between them.

    cand is the small side of both joins; no broadcast hint on the query
    table (it may be big) — AQE decides."""
    from fabstir_vectordb_spark.functions import distance as D
    from fabstir_vectordb_spark.operators.topk import topk_per_query

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
        out_schema = T.StructType(
            list(df.schema) + [T.StructField(out_col, T.ArrayType(T.DoubleType()), True)]
        )

        def kernel(batches):
            books, rot = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                recon = [
                    np.concatenate([books[m][c[m]] for m in range(len(c))])
                    for c in pdf[code_col]
                ]
                if rot is not None:
                    recon = [r @ rot.T for r in recon]
                yield pdf.assign(**{out_col: [r.tolist() for r in recon]})

        return df.mapInPandas(kernel, out_schema)

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
        Same partial-reduction shape as operators/knn.knn_kernel.

        With `rerank_vectors` (the full-precision table), ADC over-fetches
        k*oversample candidates and re-ranks them exactly — the standard
        PQ accuracy recovery: the expensive full-width math runs on only
        Q*k*oversample rows, never the whole table."""
        from fabstir_vectordb_spark.operators.topk import ROUND_DECIMALS, topk_per_query

        if rerank_vectors is not None:
            cand = self.adc_knn(
                codes_df, queries, k * oversample,
                id_col=id_col, code_col=code_col,
                query_id_col=query_id_col, query_vector_col=query_vector_col,
            )
            vecs = rerank_vectors.select(
                F.col(id_col).alias("id"),
                F.col(rerank_vector_col).alias("__rv_vec"),
            )
            q = queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_vector_col).alias("__rv_q"),
            )
            from fabstir_vectordb_spark.functions import distance as D

            exact = (
                cand.drop("distance")
                .join(vecs, "id")
                .join(F.broadcast(q), "query_id")
                .select(
                    "query_id",
                    "id",
                    D.l2_distance("__rv_vec", "__rv_q").alias("distance"),
                )
            )
            return topk_per_query(exact, k)

        spark = codes_df.sparkSession
        qrows = queries.select(query_id_col, query_vector_col).collect()
        if not qrows:  # np.stack over zero query LUTs has no shape
            return spark.createDataFrame(
                [],
                _arrow.topk_schema(
                    queries.schema[query_id_col].dataType, codes_df.schema[id_col].dataType
                ),
            )
        qids = [r[0] for r in qrows]
        Q = np.asarray([np.asarray(r[1], dtype=np.float64) for r in qrows])
        if self.rotation is not None:
            # LUTs are built in rotated space; distances are unchanged
            # because the rotation is orthonormal
            Q = Q @ self.rotation
        bc = spark.sparkContext.broadcast((qids, Q, self.codebooks))
        M, sub = self.n_subspaces, self.sub_dim

        out_schema = _arrow.topk_schema(
            queries.schema[query_id_col].dataType, codes_df.schema[id_col].dataType
        )

        def kernel(batches):
            qids_l, Q_l, books = bc.value
            # tables[j]: (M, K) squared distances from query j's m-th
            # slice — built for the whole query batch in one vectorized
            # pass (bit-identical values, see _adc_tables)
            tables = _adc_tables(books, np.asarray(Q_l), M, sub)
            for pdf in batches:
                if pdf.empty:
                    continue
                codes = np.asarray([np.asarray(c) for c in pdf[code_col]])
                ids = pdf[id_col].to_numpy()
                if ids.dtype == object:
                    ids = ids.astype(str)
                out_q, out_id, out_d = [], [], []
                for j, qid in enumerate(qids_l):
                    # gather: distance = sum_m table[m, code_m]
                    d = np.sqrt(
                        np.sum(tables[j][np.arange(M)[None, :], codes], axis=1)
                    )
                    dr = np.round(d, ROUND_DECIMALS)
                    order = np.lexsort((ids, dr))[:k]
                    out_q.extend([qid] * len(order))
                    out_id.extend(ids[order].tolist())
                    out_d.extend(d[order].tolist())
                yield pd.DataFrame({"query_id": out_q, "id": out_id, "distance": out_d})

        partials = codes_df.select(id_col, code_col).mapInPandas(kernel, out_schema)
        return topk_per_query(partials, k)

    def adc_knn_bulk(
        self,
        codes_df: DataFrame,
        queries: DataFrame,
        k: int,
        id_col: str = "vec_id",
        code_col: str = "pq_codes",
        query_id_col: str = "query_id",
        query_vector_col: str = "vector",
        vector_blocks: int | None = None,
        rerank_vectors: DataFrame | None = None,
        rerank_vector_col: str = "embedding",
        oversample: int = 4,
    ) -> DataFrame:
        """ADC kNN with the QUERY SET as a DataFrame — no driver collect,
        the bulk companion to ``adc_knn`` (the same two-big-tables shape
        as operators/knn.knn_bulk: codes hash into blocks and shuffle
        once, queries replicate per block, a cogrouped kernel gathers
        block-local top-k, the final shuffle is Q x blocks x k rows).

        Identical per-pair arithmetic and (round(6), id) tie-breaks as
        ``adc_knn``, so both paths return the same rows for the same
        fitted quantizer."""
        from fabstir_vectordb_spark.operators.topk import (
            ROUND_DECIMALS,
            topk_per_query,
        )

        if rerank_vectors is not None:
            cand = self.adc_knn_bulk(
                codes_df, queries, k * oversample,
                id_col=id_col, code_col=code_col,
                query_id_col=query_id_col, query_vector_col=query_vector_col,
                vector_blocks=vector_blocks,
            )
            return exact_rerank(
                cand, queries, rerank_vectors, k,
                id_col=id_col, rerank_vector_col=rerank_vector_col,
                query_id_col=query_id_col, query_vector_col=query_vector_col,
            )

        spark = codes_df.sparkSession
        VB = vector_blocks or spark.sparkContext.defaultParallelism
        bc = spark.sparkContext.broadcast((self.codebooks, self.rotation))
        M, sub = self.n_subspaces, self.sub_dim

        v = codes_df.select(
            F.col(id_col).alias("id"),
            F.col(code_col).alias("__codes"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(VB)).cast("int").alias("__blk"),
        )
        blocks = spark.range(VB).select(F.col("id").cast("int").alias("__blk"))
        qrep = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vector_col).alias("__qv"),
        ).crossJoin(blocks)

        out_schema = _arrow.topk_schema(
            queries.schema[query_id_col].dataType, codes_df.schema[id_col].dataType
        )

        def block_adc(vpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
            if vpdf.empty or qpdf.empty:
                return pd.DataFrame({"query_id": [], "id": [], "distance": []})
            books, rot = bc.value
            codes = np.asarray([np.asarray(c) for c in vpdf["__codes"]])
            ids = vpdf["id"].to_numpy()
            if ids.dtype == object:
                ids = ids.astype(str)
            marange = np.arange(M)[None, :]
            Qm = np.asarray(
                [np.asarray(qv, dtype=np.float64) for qv in qpdf["__qv"]]
            )
            if rot is not None:
                # per-row dgemv, exactly the former per-query `q @ rot`
                Qm = np.stack([q @ rot for q in Qm])
            # (nq, M, K) subspace tables for the whole group batch in one
            # vectorized pass (bit-identical values, see _adc_tables)
            tables = _adc_tables(books, Qm, M, sub)
            out_q, out_id, out_d = [], [], []
            for i, qid in enumerate(qpdf["query_id"]):
                d = np.sqrt(np.sum(tables[i][marange, codes], axis=1))
                dr = np.round(d, ROUND_DECIMALS)
                # `> k > 0`: k=0 falls to the empty lexsort[:0] branch
                # (the shortlist's empty-slice max would raise)
                if len(d) > k > 0:
                    part = np.argpartition(dr, k - 1)
                    thresh = dr[part[:k]].max()
                    cand = np.flatnonzero(dr <= thresh)
                    cand = cand[np.lexsort((ids[cand], dr[cand]))][:k]
                else:
                    cand = np.lexsort((ids, dr))[:k]
                out_q.extend([qid] * len(cand))
                out_id.extend(ids[cand].tolist())
                out_d.extend(d[cand].tolist())
            return pd.DataFrame(
                {"query_id": out_q, "id": out_id, "distance": out_d}
            )

        partials = (
            v.groupBy("__blk")
            .cogroup(qrep.groupBy("__blk"))
            .applyInPandas(block_adc, out_schema)
        )
        return topk_per_query(partials, k)

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
