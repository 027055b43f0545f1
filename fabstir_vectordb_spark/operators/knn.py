"""Brute-force exact k-NN — the distance join at the heart of the engine.

Parity target: the reference's exhaustive scan (bindings/wasm/src/index.rs:122-161,
src/core/vector_ops.rs:310-346) and the recall ground truth
(src/ivf/operations.rs:329-391).  This operator is both the small-data
search path (the reference's "HNSW-only mode" below the IVF training
threshold, src/hybrid/core.rs:262-269) and the correctness oracle for the
approximate IVF path.

Two plans, the same Arrow-batched numpy kernel (``_batch_topk_rows``)
under both:

Bounded query sets (``knn_bulk``, ``brute_force_knn``, ``IVFIndex.search``
and ``search_bulk``, the session's point searches on a large table):
``partial_knn`` broadcasts the query matrix into one map-only
``mapInArrow`` pass.  Each task computes distances for all queries with
BLAS and keeps a running top-k per query across its Arrow batches
(``_topk_batch``, a map-side partial reduction — no Q*N shuffle), so it
emits at most Q * k rows.  The bulk searches decide with one bounded
collect (``_driver_queries``): they pull at most ``cap + 1`` query rows,
the cap set before the pull so that the queries' float64 vectors fit
``_MAX_DRIVER_QUERY_BYTES`` and the partial rows (Q * k * scan
partitions) fit ``_MAX_DRIVER_PARTIAL_ROWS``; when they fit, the partial
rows are collected as Arrow and merged on the driver
(``_merged_on_driver``, ``topk.first_k_per_query``) into a local
relation: no exchange anywhere.  With ``probes`` the pass
reads only the probed IVF clusters and ranks each query against its own.
The session's point searches on a small table rank on the driver instead,
with the same ``_batch_topk_rows`` and, on the IVF path, the same
per-cluster grouping (``_probed_topk_rows``), over the rows the session
holds there (``session._HeldRows``, bounded by the session's byte cap).
They rank from a block index built once per table version
(``_HeldRows.blocks``): one float32 view of the held vector buffer, the
ids' sort keys, and each cluster's run of a stable cluster order.  A
search's predicate picks row positions, a probed search only in its
probed clusters' runs, and only the kept rows' columns are taken from
Arrow: no Python task, and no Spark job once the rows are held.

Larger query sets (``knn_bulk`` and ``IVFIndex.search_bulk`` above the
caps): ``cogroup_block_knn`` cogroups vector blocks with the query rows,
so the query set is never collected, and ``topk_per_query`` merges.

Both rank by (round(distance, 6), id) — see operators/topk.py for why
that makes results deterministic across engines.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from fabstir_vectordb_spark.functions import distance as D
from fabstir_vectordb_spark.operators import _arrow
from fabstir_vectordb_spark.operators._plan import scan_partitions
from fabstir_vectordb_spark.operators.topk import (
    ROUND_DECIMALS,
    first_k_per_query,
    topk_per_query,
)

_METRICS = ("l2", "cosine", "dot")

# A bulk search ranks in one broadcast pass merged on the driver while the
# float64 vectors it holds there fit the first cap (16,384 queries at dim
# 384; IVFPQ's re-rank adds its fetch candidates to each query: 160k of
# them, for 4,000 queries, overran a 1 GB driver heap) and its
# partial rows, queries x fetch x scan partitions, the second.  Both come
# from timing the two plans on a 3,000 x 384 corpus over 4 partitions
# (4 cores): the bounded plan won or tied up to 16,000 queries and 2M
# partial rows, and only tied at 4M, where the driver merge took 4.2 s.
# A query set over the cap costs its cogroup plus the rejected pull
# (0.7 s at the cap, against about 10 s for the search).
_MAX_DRIVER_QUERY_BYTES = 16_384 * 384 * 8
_MAX_DRIVER_PARTIAL_ROWS = 1 << 21


def check_metric(metric: str) -> None:
    """The one metric check of the kernel searches, run on the driver
    before any plan or job: a metric ``_batch_topk_rows`` cannot rank
    fails here, not inside a Python task."""
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {_METRICS}")


def _distance_column(metric: str, a, b) -> Column:
    if metric == "l2":
        return D.l2_distance(a, b)
    if metric == "cosine":
        return D.cosine_distance(a, b)
    if metric == "dot":
        # max inner product ranking expressed as an ascending distance
        return -D.dot(a, b)
    raise ValueError(f"unknown metric {metric!r}; one of {_METRICS}")


def _kernel_distances(metric: str, V: np.ndarray, q: np.ndarray) -> np.ndarray:
    if metric == "l2":
        # direct (V - q) form: bitwise-compatible with the sequential fold
        # after round(6); the |V|^2 + |q|^2 - 2V.q expansion is faster but
        # loses precision for near-duplicate vectors.
        diff = V - q
        return np.sqrt(np.einsum("ij,ij->i", diff, diff))
    if metric == "cosine":
        vn = np.linalg.norm(V, axis=1)
        qn = np.linalg.norm(q)
        denom = vn * qn
        sim = np.divide(V @ q, denom, out=np.zeros(len(V)), where=denom != 0.0)
        return 1.0 - sim
    if metric == "dot":
        return -(V @ q)
    raise ValueError(f"unknown metric {metric!r}")


def _batch_topk_rows(
    metric: str,
    V: np.ndarray,
    ids: np.ndarray,
    Q: np.ndarray,
    k: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All-queries-at-once top-k over one vector block.

    One GEMM (``Q @ V.T``) SCREENS candidates per query; the final
    distances of the survivors are then recomputed with the exact
    per-query arithmetic of ``_kernel_distances``, so the output is
    identical to the old per-query loop (same round(6) values, same
    tie-breaks) while the O(Q*N*dim) work runs as one BLAS call instead
    of Q separate GEMVs with Q full-size temporaries.

    The screening band is padded for (a) the round(6) tie window the
    exact selection honours (absolute 1e-6 on the distance scale) and
    (b) the numeric gap between the GEMM expansion and the direct form
    (~dim*eps*|v||q|, covered by the 1e-9 absolute + relative pads), so
    no true top-k member can be screened out.

    Returns (query position, vector position, distance) arrays, one
    entry per output row; ``ids`` (sort keys) only break distance ties.
    """
    nq, n = len(Q), len(V)
    empty = np.empty(0, dtype=np.int64)
    if n == 0 or nq == 0:
        return empty, empty, np.empty(0)
    out_q, out_v, out_d = [empty], [empty], [np.empty(0)]

    if metric == "l2":
        vn2 = np.einsum("ij,ij->i", V, V)
    elif metric == "cosine":
        vn = np.linalg.norm(V, axis=1)

    # One reused GEMM buffer (allocated once per block, in-place score
    # arithmetic, per-ROW kth extraction) keeps the fresh-page footprint
    # at one ~16 MB buffer per worker instead of ~100 MB of temporaries
    # per chunk — first-touch page faults are the dominant cost of naive
    # full-matrix scoring on slow-fault hosts, not the FLOPs.
    qchunk = min(nq, max(16, 2_000_000 // max(n, 1)))
    G = np.empty((qchunk, n), dtype=np.float64)
    for qs in range(0, nq, qchunk):
        Qc = Q[qs : qs + qchunk]
        m = len(Qc)
        Gm = G[:m]
        np.dot(Qc, V.T, out=Gm)  # the only O(q*N*dim) op
        if metric == "l2":
            qn2 = np.einsum("ij,ij->i", Qc, Qc)
            Gm *= -2.0
            Gm += vn2[None, :]
            Gm += qn2[:, None]
            np.maximum(Gm, 0.0, out=Gm)
        elif metric == "cosine":
            qn = np.linalg.norm(Qc, axis=1)
        else:  # dot
            np.negative(Gm, out=Gm)

        for j in range(m):
            if metric == "cosine":
                denom = vn * qn[j]
                row = 1.0 - np.divide(
                    Gm[j], denom, out=np.zeros(n), where=denom != 0.0
                )
            else:
                row = Gm[j]
            if n > k:
                kth = np.partition(row, k - 1)[k - 1]
            else:
                kth = row.max()
            if metric == "l2":
                # band in SQUARED space: (d_k + round(6) tie window)^2
                # + expansion-error pad
                band = (np.sqrt(kth) + 2e-6) ** 2 + 1e-9 + kth * 1e-12
            else:
                band = kth + 2e-6 + 1e-9 * abs(kth) + 1e-12
            cand = np.flatnonzero(row <= band)
            d = _kernel_distances(metric, V[cand], Qc[j])  # exact, original form
            dr = np.round(d, ROUND_DECIMALS)
            keep = _first_k(dr, ids[cand], k)
            out_q.append(np.full(len(keep), qs + j, dtype=np.int64))
            out_v.append(cand[keep])
            out_d.append(d[keep])
    return np.concatenate(out_q), np.concatenate(out_v), np.concatenate(out_d)


def _first_k(d: np.ndarray, keys: np.ndarray, k: int) -> np.ndarray:
    """Positions of the first ``k`` entries of ``d`` by (d, key), in that
    order: an O(n) argpartition select of the k-th value, then a lexsort
    of only the ties-inclusive shortlist.  The one selection of every
    kernel (exact, ADC, Hamming); ``len(d) > k > 0`` sends k=0 to the
    empty ``lexsort[:0]``, since the shortlist's empty-slice max raises."""
    if len(d) > k > 0:
        part = np.argpartition(d, k - 1)
        cand = np.flatnonzero(d <= d[part[:k]].max())
        return cand[np.lexsort((keys[cand], d[cand]))][:k]
    return np.lexsort((keys, d))[:k]


def partial_knn(
    vectors: DataFrame,
    qids: list,
    Q: np.ndarray,
    qid_type: T.DataType,
    k: int,
    metric: str = "l2",
    id_col: str = "id",
    vector_col: str = "vector",
    probes: dict[int, np.ndarray] | None = None,
    carry: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """The one partial top-k kernel over driver-held queries: one map-only
    ``mapInArrow`` pass over ``vectors``, no exchange.

    ``qids`` and the ``(nq, dim)`` float64 matrix ``Q`` are broadcast.
    Each Arrow batch ranks its top-k per query under the (round(distance,
    6), id) order (``_topk_batch``) and a task keeps the running top-k of
    its batches (``_running_topk``), so it emits at most k rows per query
    and the union of the partials holds the exact global top-k; the caller
    merges them (``_merged_on_driver``, ``topk_per_query``, or the
    session's sort).  ``probes`` ({cluster id: positions in ``Q`` of
    the queries probing it}) reads only the probed clusters and restricts
    each query to its own.  ``carry`` columns ride along, taken by
    position from the batch, so no join re-attaches them.

    Output: (query_id, id, distance, *carry)."""
    check_metric(metric)
    bc = vectors.sparkSession.sparkContext.broadcast(
        (pa.array(qids, to_arrow_type(qid_type)), Q, probes)
    )
    out_schema = _arrow.topk_schema(qid_type, vectors.schema[id_col].dataType)
    for c in carry:
        out_schema.add(vectors.schema[c])

    def partial_topk(batches):
        qids_l, Q_l, probes_l = bc.value
        yield from _running_topk(
            (
                _topk_batch(b, qids_l, Q_l, k, metric, id_col, vector_col, probes_l, carry)
                for b in batches
                if b.num_rows
            ),
            qids_l,
            k,
        )

    cols = list(dict.fromkeys([id_col, vector_col, *carry]))
    if probes is not None:
        # on a partitionBy(cluster_id) layout the IN list prunes whole
        # directories at the scan
        vectors = vectors.filter(F.col("cluster_id").isin(sorted(probes)))
        cols.append("cluster_id")
    return vectors.select(*cols).mapInArrow(partial_topk, out_schema)


def _topk_batch(
    b: pa.RecordBatch | pa.Table,
    qids: pa.Array,
    Q: np.ndarray,
    k: int,
    metric: str,
    id_col: str,
    vector_col: str,
    probes: dict[int, np.ndarray] | None,
    carry: tuple[str, ...] | list[str],
) -> pa.Table:
    """The one per-batch ranking body of ``partial_knn``'s executors (the
    session's held rows rank the same way from their block index,
    ``session._HeldRows.first_k``): the top-k per query of the batch
    ``b`` as (query_id, id, distance, *carry) rows.  With ``probes`` the
    batch's rows are grouped by their ``cluster_id`` and each group ranks
    only the queries that probed it (``_probed_topk_rows``, the grouping
    ``pq.partial_adc`` shares), so a query has up to k rows per probed
    cluster: sorted by cluster once, each cluster ranks a contiguous slice
    of the one float64 copy of the vectors."""
    ids = b.column(id_col)
    keys = _arrow.sort_keys(ids)
    if probes is None or b.num_rows == 0:  # no rows: no cluster to group
        V = _arrow.matrix(b.column(vector_col), vector_col)
        qpos, vpos, d = _batch_topk_rows(metric, V, keys, Q, k)
    else:
        order, runs = _cluster_runs(b.column("cluster_id"))
        V = _arrow.matrix(b.column(vector_col), vector_col, rows=order)
        skeys = keys[order]
        qpos, vpos, d = _probed_topk_rows(
            order, runs, probes,
            lambda cid, s, e, qidx: _batch_topk_rows(metric, V[s:e], skeys[s:e], Q[qidx], k),
        )
    t = _arrow.topk_table(qids, qpos, ids, vpos, d)
    for c in carry:
        t = t.append_column(c, b.column(c).take(vpos))
    return t


def _cluster_runs(clusters: pa.Array) -> tuple[np.ndarray, list[tuple[int, int, int]]]:
    """A batch's row positions sorted by ``clusters`` (stably, so each
    cluster keeps its batch order) and the (cluster id, start, end) runs
    of that order."""
    blk = clusters.to_numpy(zero_copy_only=False)
    order = np.argsort(blk, kind="stable")
    blk_s = blk[order]
    starts = np.flatnonzero(np.r_[True, blk_s[1:] != blk_s[:-1]])
    ends = np.r_[starts[1:], len(blk_s)]
    return order, [(int(blk_s[s]), s, e) for s, e in zip(starts, ends)]


def _probed_topk_rows(
    order: np.ndarray,
    runs: list[tuple[int, int, int]],
    probes: dict[int, np.ndarray],
    rank: Callable[[int, int, int, np.ndarray], tuple[np.ndarray, np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The per-cluster grouping of one batch, shared by ``partial_knn``,
    ``pq.partial_adc`` and the session's held rows (``order`` there is the
    positions a search ranks): over the ``_cluster_runs`` of the batch, each
    cluster ranks only the queries that probe it.  ``rank(cluster id,
    start, end, qidx)`` ranks the sorted rows ``order[start:end]`` (the
    caller holds its arrays in that order) against the queries at
    positions ``qidx`` and returns (position in ``qidx``, position in the
    slice, distance); the result maps them back to (query position, batch
    row position, distance)."""
    empty = np.empty(0, dtype=np.int64)
    out_q, out_v, out_d = [empty], [empty], [np.empty(0)]
    for cid, s, e in runs:
        qidx = probes.get(cid)
        if qidx is None:
            continue  # no query probes this cluster
        qp, vp, d = rank(cid, s, e, qidx)
        out_q.append(qidx[qp])
        out_v.append(order[s + vp])
        out_d.append(d)
    return np.concatenate(out_q), np.concatenate(out_v), np.concatenate(out_d)


def _query_positions(col: pa.Array | pa.ChunkedArray, qids: pa.Array) -> np.ndarray:
    """The position in ``qids`` of each query id of ``col`` (of a repeated
    id, its first)."""
    return pc.index_in(col, value_set=qids.cast(col.type)).to_numpy(zero_copy_only=False)


def _first_k_rows(t: pa.Table, qids: pa.Array, k: int) -> pa.Table:
    """The first ``k`` rows of each query of the (query_id, id, distance,
    ...) table ``t`` by (round(distance, 6), id), ordered so; queries are
    grouped by value, through ``_query_positions``."""
    keep = first_k_per_query(
        _query_positions(t.column("query_id"), qids),
        t.column("distance").to_numpy(),
        _arrow.sort_keys(t.column("id")),
        k,
    )
    return t.take(keep)


def _running_topk(tables, qids: pa.Array, k: int) -> list[pa.RecordBatch]:
    """The running top-``k`` per query over a task's per-batch partial
    ``tables``, emitted once: a task's output stays at most k rows per
    query however many Arrow batches, and with probes clusters, it
    reads (a probed batch holds k rows per query and cluster)."""
    acc = None
    for t in tables:
        acc = _first_k_rows(t if acc is None else pa.concat_tables([acc, t]), qids, k)
    return [] if acc is None else acc.to_batches()


def _driver_queries(
    queries: DataFrame,
    query_id_col: str,
    query_vector_col: str,
    rows_per_query: int,
    dim: int | None,
    vectors_per_query: int = 1,
) -> tuple[list, np.ndarray] | None:
    """The one bounded-query check of the bulk searches: the query ids and
    the ``(nq, dim)`` float64 query matrix, pulled by one
    ``limit(cap + 1).toArrow()``, or None when the queries do not fit.
    The cap is set before the pull and bounds both the partial rows,
    ``rows_per_query`` per query (fetch x scan partitions), by
    ``_MAX_DRIVER_PARTIAL_ROWS`` and the float64 vectors the search
    holds on the driver, ``vectors_per_query`` per query (the query, and
    for IVFPQ's re-rank its fetch candidates), by
    ``_MAX_DRIVER_QUERY_BYTES``.  ``dim`` is the queries' dimension where
    the caller knows it (an index's centroids); None reads it from one
    query row first, a one-row job.  The pull fails in the JVM on a query
    of another length or a null one, so no more than the cap's bytes
    reach the driver.
    On a one-partition query set the pull reads no exchange (over several,
    the limit gathers them through one single-partition exchange of the
    query rows)."""
    vec = F.col(query_vector_col)
    if dim is None:
        first = queries.select(F.size(vec)).head()
        if first is None:
            return [], np.empty((0, 0))
        dim = first[0]
        if dim is None or dim < 0:
            raise ValueError(f"column {query_vector_col!r}: null query vector")
    cap = min(
        _MAX_DRIVER_PARTIAL_ROWS // max(1, rows_per_query),
        _MAX_DRIVER_QUERY_BYTES // (8 * max(1, dim) * vectors_per_query),
    )
    checked = F.when(F.size(vec) == dim, vec).otherwise(
        F.raise_error(
            F.lit(f"column {query_vector_col!r}: null query vector or one of length other than {dim}")
        )
    )
    t = queries.select(query_id_col, checked.alias(query_vector_col)).limit(cap + 1).toArrow()
    if t.num_rows > cap:
        return None
    return t.column(0).to_pylist(), _arrow.matrix(t.column(1), query_vector_col)


def _merged_on_driver(
    spark, partials: pa.Table, qids: list, schema: T.StructType, k: int
) -> DataFrame:
    """The final merge of a bounded search: the first ``k`` rows per query
    of the collected ``partials`` as a local relation of ``schema``
    (``_arrow.topk_schema``)."""
    qids_a = pa.array(qids, to_arrow_type(schema["query_id"].dataType))
    top = _first_k_rows(partials, qids_a, k).select(["query_id", "id", "distance"])
    return spark.createDataFrame(top, schema)


def _knn_on_driver(
    vectors: DataFrame,
    qids: list,
    Q: np.ndarray,
    qid_type: T.DataType,
    k: int,
    metric: str,
    id_col: str,
    vector_col: str,
    probes: dict[int, np.ndarray] | None = None,
) -> DataFrame:
    """The bounded plan of the exact and IVF searches: one ``partial_knn``
    pass, collected as Arrow, merged on the driver
    (``_merged_on_driver``)."""
    spark = vectors.sparkSession
    schema = _arrow.topk_schema(qid_type, vectors.schema[id_col].dataType)
    if not qids:
        return spark.createDataFrame([], schema)
    partials = partial_knn(
        vectors, qids, Q, qid_type, k, metric, id_col=id_col, vector_col=vector_col,
        probes=probes,
    ).toArrow()
    return _merged_on_driver(spark, partials, qids, schema, k)


def knn_bulk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
    vector_blocks: int | None = None,
) -> DataFrame:
    """Bulk exact similarity join over a query set held in a DataFrame
    (reference analogue: parallel_search,
    src/hybrid/search_integration.rs:125-211, whose clients loop per
    query; this is the set-at-a-time version).

    A bounded query set (``_driver_queries``: float64 query vectors
    within ``_MAX_DRIVER_QUERY_BYTES`` and Q * k * scan partitions partial
    rows within ``_MAX_DRIVER_PARTIAL_ROWS``, the dim read from one query
    row before the pull) is collected once and ranked in one broadcast
    ``partial_knn`` pass whose partial rows merge on the driver; the
    result is a local relation and no exchange runs.

    Above the caps both sides stay DataFrames: vectors hash into
    ``vector_blocks`` blocks (``_hash_blocks``) and shuffle ONCE, the
    queries replicate per block, and a cogrouped applyInArrow emits only
    block-local top-k, so the final shuffle is Q * VB * k partial rows,
    never Q * N.

    Output: (query_id, id, distance) ascending, k rows per query.
    """
    check_metric(metric)
    qid_type = queries.schema[query_id_col].dataType
    bounded = _driver_queries(
        queries, query_id_col, query_vector_col, k * scan_partitions(vectors), None
    )
    if bounded is not None:
        return _knn_on_driver(vectors, *bounded, qid_type, k, metric, id_col, vector_col)
    v, qrep = _hash_blocks(
        vectors, id_col, F.col(vector_col).alias("__v"),
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vector_col).alias("__qv"),
        ),
        vector_blocks,
    )
    partials = cogroup_block_knn(
        v, qrep, k, metric,
        qid_type=qid_type,
        id_type=vectors.schema[id_col].dataType,
    )
    return topk_per_query(partials, k)


def _hash_blocks(
    vectors: DataFrame,
    id_col: str,
    value: Column,
    queries: DataFrame,
    blocks: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The two sides of a hash-block cogroup (``knn_bulk``, and the ADC
    and Hamming searches above the caps): ``vectors`` as (id, ``value``,
    __blk = pmod(xxhash64(id), VB)), and the rows of ``queries``
    replicated once per block.  VB is ``blocks`` or one block per scan
    split (a split is sized to task memory), capped at the parallelism,
    so a small input pays for no copies of the queries it cannot fill.
    Per-block top-k partials cover the global top-k for any VB."""
    spark = vectors.sparkSession
    VB = blocks or max(
        1, min(spark.sparkContext.defaultParallelism, scan_partitions(vectors))
    )
    v = vectors.select(
        F.col(id_col).alias("id"),
        value,
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(VB)).cast("int").alias("__blk"),
    )
    replicas = spark.range(VB).select(F.col("id").cast("int").alias("__blk"))
    return v, queries.crossJoin(replicas)


def cogroup_block_knn(
    v: DataFrame,
    qrep: DataFrame,
    k: int,
    metric: str,
    qid_type: T.DataType,
    id_type: T.DataType,
) -> DataFrame:
    """Shared block-GEMM partial top-k: cogroup `v` (id, __v, __blk) with
    `qrep` (query_id, __qv, __blk) on __blk; each group runs one
    vectorized distance kernel and emits <= k rows per (query, block).
    The caller defines what a block is — a hash bucket (knn_bulk) or an
    IVF cluster (IVFIndex.search_bulk) — and applies the global top-k."""

    def block_topk(vt: pa.Table, qt: pa.Table) -> pa.Table:
        if vt.num_rows == 0 or qt.num_rows == 0:
            return pa.table({})  # a cogroup side may arrive with no columns
        V = _arrow.matrix(vt.column("__v"), "__v")
        Q = _arrow.matrix(qt.column("__qv"), "__qv")
        ids = vt.column("id")
        qpos, vpos, d = _batch_topk_rows(metric, V, _arrow.sort_keys(ids), Q, k)
        return _arrow.topk_table(qt.column("query_id"), qpos, ids, vpos, d)

    return (
        v.groupBy("__blk")
        .cogroup(qrep.groupBy("__blk"))
        .applyInArrow(block_topk, _arrow.topk_schema(qid_type, id_type))
    )


def brute_force_knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
    query_rows: list | None = None,
) -> DataFrame:
    """Exact top-k similarity join.  Output: (query_id, id, distance) asc.

    The plans of ``knn_bulk``: a bounded query set is collected once and
    merged on the driver, a larger one cogroups.  ``query_rows``
    optionally supplies the query collect's result (rows of (query_id,
    vector), the exact shape `queries.select(query_id_col,
    query_vector_col)` yields): a caller constructing several searches can
    run the collects concurrently (overlap independent driver jobs)
    instead of paying one sequential driver job per search.  Rows already
    on the driver always take the bounded plan.

    Apply metadata predicates to ``vectors`` BEFORE calling — the filter
    then reaches the parquet scan (pushdown), which supersedes the
    reference's k*3 oversampling post-filter (src/hybrid/core.rs:513-549).
    """
    check_metric(metric)
    if query_rows is None:
        return knn_bulk(
            vectors, queries, k, metric, id_col=id_col, vector_col=vector_col,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )
    return _knn_on_driver(
        vectors,
        [r[0] for r in query_rows],
        np.asarray([r[1] for r in query_rows], dtype=np.float64),
        queries.schema[query_id_col].dataType,
        k,
        metric,
        id_col,
        vector_col,
    )


def range_search(
    vectors: DataFrame,
    queries: DataFrame,
    radius: float,
    metric: str = "l2",
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Exact radius query: ALL vectors within ``radius`` of each query,
    no k (the unbounded companion of the thresholded top-k — the
    reference expresses this as score >= t over an oversized k,
    session.rs:287-293; a true range query has no k to size).

    Declarative shape: broadcast the query side, distance as a codegen
    column, filter on the ROUNDED distance (the cross-engine contract).
    At archive scale compose with the IVF probe first (probed clusters
    bound the candidate set) — the radius filter itself is a post-scan
    predicate and cannot prune files.

    Output: (query_id, id, distance) ascending per query, every row with
    round(distance, 6) <= radius.
    """
    from fabstir_vectordb_spark.operators.topk import rounded

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vector_col).alias("__qv"),
    )
    v = vectors.select(
        F.col(id_col).alias("id"), F.col(vector_col).alias("__v")
    )
    d = _distance_column(metric, F.col("__v"), F.col("__qv"))
    return (
        v.crossJoin(F.broadcast(q))
        .select("query_id", "id", d.alias("distance"))
        .filter(rounded("distance") <= radius)
    )
