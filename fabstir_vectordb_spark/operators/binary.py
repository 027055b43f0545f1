"""Binary (sign-bit) vector sketches with Hamming-distance search.

The third quantization tier next to scalar u8 (functions/distance.py)
and PQ/IVFPQ (operators/pq.py, ivfpq.py): project each vector onto
``bits`` random hyperplanes and keep only the SIGN — the classic
hyperplane LSH / SimHash construction (Charikar, STOC 2002) that every
production vector store ships as "binary quantization".  At 32 bytes per
256-bit signature the full sketch table of a 100 TB float corpus is
~1 TB; candidate generation is a linear scan of THAT, with xor+popcount
per comparison, followed by exact float rerank on the k*oversample
survivors — cheap coarse scan, expensive math only on the shortlist.

Two deliberate engineering choices make this path *hash-exact* across
engines (unlike PQ, whose k-means codebooks force contract-style
certification):

* **Rademacher planes over quantized components.**  Planes are +-1
  (seeded), and each embedding component is ``trunc(x * scale)`` before
  projection (trunc, not round: numpy rounds half-to-even, SQL engines
  half-away — truncation toward zero is the one quantizer both engines
  define identically) — every dot product is exact INTEGER arithmetic, so a sign
  bit can never flip between numpy's pairwise summation and a SQL
  engine's sequential list_sum.  Sign random projections are a standard
  hyperplane-LSH variant (Achlioptas, JCSS 2003 database-friendly
  projections).
* **32-bit words in BIGINT columns.**  Signatures pack little-endian
  (bit j of word w = plane 32w+j) into values < 2^32 — positive in both
  Spark's and DuckDB's signed 64-bit type, so xor/bit_count replay
  without sign-bit edge cases.

Distances are integers (no rounding discipline needed anywhere); ties
break on id exactly like every other kNN path in the package.

Scale shape: encode is one map-only ``mapInArrow`` pass.  Search
(``hamming_knn``, alias ``hamming_knn_bulk``) takes the one decision of
the bulk searches, ``knn._driver_queries``: a query set whose float64
vectors (with a re-rank, each query's fetch candidates too) fit
``knn._MAX_DRIVER_QUERY_BYTES`` and whose partial rows (Q x fetch x scan
partitions) fit ``knn._MAX_DRIVER_PARTIAL_ROWS`` is collected once,
capped before the pull, packed on the driver, and broadcast into one
map-only ``mapInArrow`` pass that keeps a running top-fetch per query;
the partial rows are finished on the driver (``pq._top_candidates_on_driver``)
into a local relation; nothing is shuffled.  A larger query set stays a
DataFrame: the signatures hash into blocks, an ``applyInArrow`` cogroup
ranks each against the replicated packed queries, and
``pq._top_candidates`` merges and re-ranks.  Both plans rank with one
body, ``_hamming_topk_rows``.  No reference counterpart (vector_ops.rs
has scalar u8 + PQ only); extension-axis.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from fabstir_vectordb_spark.operators import _arrow
from fabstir_vectordb_spark.operators._plan import scan_partitions
from fabstir_vectordb_spark.operators.knn import (
    _driver_queries,
    _first_k,
    _hash_blocks,
    _running_topk,
)
from fabstir_vectordb_spark.operators.pq import _top_candidates, _top_candidates_on_driver

__all__ = ["BinarySketch"]

_WORD = 32  # bits packed per BIGINT column element


# 64 KiB table: popcount of every uint16 (numpy<2 has no bitwise_count;
# a halfword lookup materializes 2 bytes/word vs unpackbits' 32 — the
# difference between 48 and ~15 ms/query on the 2M-vector scan)
_POP16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)


def _popcount(x: np.ndarray) -> np.ndarray:
    """Per-row popcount of an (n, W) uint32 array."""
    return _POP16[x.view(np.uint16)].sum(axis=1, dtype=np.int64)


def _pack_words(
    V: np.ndarray, planes: np.ndarray, scale: int
) -> np.ndarray:
    """(n, dim) floats -> (n, W) uint32 packed sign words.  The ONE
    copy of the trunc/project/shift/pack arithmetic — every encode path
    and every query-side LUT must call this, or corpus and query
    signatures (and the SQL oracle) silently desynchronize."""
    bits = planes.shape[0]
    S = np.trunc(V * scale)  # integer-valued float64, exact
    proj = S @ planes.T.astype(np.float64)  # integer-valued
    b = (proj > 0).astype(np.uint32)
    shifts = (np.arange(bits, dtype=np.uint32) % _WORD).astype(np.uint32)
    return np.bitwise_or.reduce(
        (b << shifts).reshape(len(V), bits // _WORD, _WORD), axis=2
    ).astype(np.uint32)


def _sig_matrix(col: pa.Array | pa.ChunkedArray, name: str, words: int) -> np.ndarray:
    """A signature column as an ``(n, words)`` uint32 matrix.  Raises
    ``ValueError`` naming ``name`` on a null or ragged signature
    (``_arrow.matrix``), a row of other than ``words`` words, or a word
    outside ``[0, 2**32)``, which a uint32 cast would silently wrap."""
    sig = _arrow.matrix(col, name, np.int64)
    if sig.shape[1] != words:
        raise ValueError(
            f"column {name!r}: {sig.shape[1]} words per signature, the sketch has {words}"
        )
    lo, hi = sig.min(), sig.max()
    if lo < 0 or hi >= 1 << _WORD:
        raise ValueError(f"column {name!r}: word {lo if lo < 0 else hi} outside [0, 2**32)")
    return sig.astype(np.uint32)


def _hamming_topk_rows(
    Qw: np.ndarray, Vw: np.ndarray, keys: np.ndarray, fetch: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The one Hamming top-``fetch`` selection: every packed query row of
    ``Qw`` against the ``(n, W)`` uint32 signatures ``Vw`` of one block,
    each query keeping its first ``fetch`` rows by (distance, key)
    (``knn._first_k``).  Returns (query position, row position, int64
    distance) arrays, one entry per output row; ``keys`` (sort keys) only
    break distance ties."""
    empty = np.empty(0, dtype=np.int64)
    out_q, out_v, out_d = [empty], [empty], [empty]
    for j, qw in enumerate(Qw):
        d = _popcount(np.bitwise_xor(Vw, qw[None, :]))
        cand = _first_k(d, keys, fetch)
        out_q.append(np.full(len(cand), j, dtype=np.int64))
        out_v.append(cand)
        out_d.append(d[cand])
    return np.concatenate(out_q), np.concatenate(out_v), np.concatenate(out_d)


class BinarySketch:
    """``planes``: (bits, dim) int8 matrix of +-1 hyperplane signs."""

    def __init__(self, planes: np.ndarray, scale: int = 1000):
        bits, dim = planes.shape
        if bits % _WORD != 0:
            raise ValueError(f"bits {bits} not a multiple of {_WORD}")
        self.planes = np.asarray(planes, dtype=np.int8)
        self.bits = bits
        self.dim = dim
        self.words = bits // _WORD
        self.scale = int(scale)

    # ------------------------------------------------------------- fit

    @classmethod
    def fit(cls, dim: int, bits: int = 128, seed: int = 42, scale: int = 1000) -> "BinarySketch":
        """Data-independent: planes are seeded Rademacher draws, no
        training scan at all (the signature is a pure function of the
        vector — what makes the whole path SQL-replayable)."""
        rng = np.random.RandomState(seed)
        planes = rng.choice(np.array([-1, 1], dtype=np.int8), size=(bits, dim))
        return cls(planes, scale=scale)

    # ----------------------------------------------------------- encode

    def encode(
        self, df: DataFrame, vector_col: str = "embedding", sig_col: str = "sig"
    ) -> DataFrame:
        """Input columns + ``sig_col`` array<bigint> of packed words."""
        bc = df.sparkSession.sparkContext.broadcast((self.planes, self.scale))
        out_schema = T.StructType(list(df.schema)).add(sig_col, T.ArrayType(T.LongType()))

        def kernel(batches):
            planes, scale = bc.value
            for b in batches:
                if b.num_rows == 0:
                    continue
                V = _arrow.matrix(b.column(vector_col), vector_col)
                words = _pack_words(V, planes, scale).astype(np.int64)
                yield _arrow.append(b, sig_col, _arrow.lists(words))

        return df.mapInArrow(kernel, out_schema)

    # ----------------------------------------------------------- search

    def hamming_knn(
        self,
        sigs: DataFrame,
        queries: DataFrame,
        k: int,
        id_col: str = "vec_id",
        sig_col: str = "sig",
        query_id_col: str = "query_id",
        query_vector_col: str = "vector",
        rerank_vectors: DataFrame | None = None,
        rerank_vector_col: str = "embedding",
        oversample: int | None = None,
    ) -> DataFrame:
        """Top-k by Hamming distance over the signature table, as
        (query_id, id, distance) with the raw Hamming ``distance`` a
        bigint.  With ``rerank_vectors`` the Hamming scan over-fetches
        k*oversample and exact float L2 re-ranks — coarse integer scan,
        exact math on the shortlist.  ``oversample=None`` consumes the
        planner default (plans/tuning.tune_binary — 4, the certified
        depth).

        Two plans, identical rows (both rank with ``_hamming_topk_rows``).
        Under the caps of ``knn._driver_queries`` (float64 query vectors,
        plus each query's fetch candidates when re-ranking, within
        ``knn._MAX_DRIVER_QUERY_BYTES``; Q x fetch x scan partitions
        partial rows within ``knn._MAX_DRIVER_PARTIAL_ROWS``) the queries
        are collected once, capped before the pull, packed on the driver
        and broadcast into one map-only ``mapInArrow`` pass whose partial
        rows are finished on the driver (``pq._top_candidates_on_driver``)
        into a local relation; nothing is shuffled.  Above them the queries
        are packed by ``encode`` and cogrouped with hash blocks of the
        signatures, then ``pq._top_candidates``.  ``hamming_knn_bulk`` is
        the same search."""
        if oversample is None:
            from fabstir_vectordb_spark.plans.tuning import tune_binary

            oversample = tune_binary(self.dim, k).oversample
        fetch = k * (oversample if rerank_vectors is not None else 1)
        qid_type = queries.schema[query_id_col].dataType
        id_type = sigs.schema[id_col].dataType
        partial_schema = _arrow.topk_schema(qid_type, id_type, T.LongType())
        words = self.words
        bounded = _driver_queries(
            queries, query_id_col, query_vector_col, fetch * scan_partitions(sigs), self.dim,
            vectors_per_query=1 + (fetch if rerank_vectors is not None else 0),
        )
        if bounded is not None:
            qids, Q = bounded
            spark = sigs.sparkSession
            schema = partial_schema
            if rerank_vectors is not None:
                schema = _arrow.topk_schema(qid_type, id_type)
            if not qids:
                return spark.createDataFrame([], schema)
            bc = spark.sparkContext.broadcast(
                (pa.array(qids, to_arrow_type(qid_type)), _pack_words(Q, self.planes, self.scale))
            )

            def hamming_topk(batches):
                qids_l, Qw = bc.value

                def batch_topk(b):
                    ids = b.column(id_col)
                    qpos, vpos, d = _hamming_topk_rows(
                        Qw, _sig_matrix(b.column(sig_col), sig_col, words),
                        _arrow.sort_keys(ids), fetch,
                    )
                    return _arrow.topk_table(qids_l, qpos, ids, vpos, d, pa.int64())

                yield from _running_topk(
                    (batch_topk(b) for b in batches if b.num_rows), qids_l, fetch
                )

            cand = sigs.select(id_col, sig_col).mapInArrow(hamming_topk, partial_schema).toArrow()
            return _top_candidates_on_driver(
                spark, cand, qids, Q, fetch, k, schema, rerank_vectors, id_col, rerank_vector_col
            )

        def block_hamming(vt: pa.Table, qt: pa.Table) -> pa.Table:
            if vt.num_rows == 0 or qt.num_rows == 0:
                return pa.table({})  # a cogroup side may arrive with no columns
            ids = vt.column("id")
            qpos, vpos, d = _hamming_topk_rows(
                _sig_matrix(qt.column("__qsig"), "__qsig", words),
                _sig_matrix(vt.column("__sig"), sig_col, words),
                _arrow.sort_keys(ids), fetch,
            )
            return _arrow.topk_table(qt.column("query_id"), qpos, ids, vpos, d, pa.int64())

        # packed once (one map pass over the queries), so a block
        # replicates W longs per query, not its float vector
        qsigs = self.encode(
            queries.select(
                F.col(query_id_col).alias("query_id"), F.col(query_vector_col).alias("__qv")
            ),
            vector_col="__qv",
            sig_col="__qsig",
        ).select("query_id", "__qsig")
        v, qrep = _hash_blocks(sigs, id_col, F.col(sig_col).alias("__sig"), qsigs)
        partials = (
            v.groupBy("__blk")
            .cogroup(qrep.groupBy("__blk"))
            .applyInArrow(block_hamming, partial_schema)
        )
        return _top_candidates(
            partials, fetch, k, queries, rerank_vectors,
            id_col=id_col, rerank_vector_col=rerank_vector_col,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )

    hamming_knn_bulk = hamming_knn

    # ------------------------------------------------------ persistence

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "binary_sketch.json"), "w") as f:
            json.dump(
                {"planes": self.planes.tolist(), "scale": self.scale}, f
            )

    @classmethod
    def load(cls, path: str) -> "BinarySketch":
        with open(os.path.join(path, "binary_sketch.json")) as f:
            meta = json.load(f)
        return cls(np.asarray(meta["planes"], dtype=np.int8), scale=meta["scale"])
