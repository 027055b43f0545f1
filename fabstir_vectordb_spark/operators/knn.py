"""Brute-force exact k-NN — the distance join at the heart of the engine.

Parity target: the reference's exhaustive scan (bindings/wasm/src/index.rs:122-161,
src/core/vector_ops.rs:310-346) and the recall ground truth
(src/ivf/operations.rs:329-391).  This operator is both the small-data
search path (the reference's "HNSW-only mode" below the IVF training
threshold, src/hybrid/core.rs:262-269) and the correctness oracle for the
approximate IVF path.

Two plans, one per query location, the same Arrow-batched numpy kernel
(``_batch_topk_rows``) under both:

Driver-held queries (``brute_force_knn``, ``IVFIndex.search``, the
session's point searches on a large table): ``partial_knn`` broadcasts
the query matrix into one map-only ``mapInArrow`` pass.  Each input
batch computes distances for all queries with BLAS and emits only its
top-k per query (``_topk_batch``, a map-side partial reduction — no
Q*N shuffle); a final window over the Q * batches * k partial rows
(``topk_per_query``) or a sort on the driver picks the exact global
top-k.  With ``probes`` the pass reads only the probed IVF clusters and
ranks each query against its own.  The session's point searches on a
small table run ``driver_knn`` instead: one JVM-only ``toArrow()`` of
the same candidate rows, bounded by the session's byte cap, ranked on
the driver by the same ``_topk_batch`` — no Python task.

Queries held in a DataFrame (``knn_bulk``, ``IVFIndex.search_bulk``):
``cogroup_block_knn`` cogroups vector blocks with the query rows, so
the query set is never collected.

Both rank by (round(distance, 6), id) — see operators/topk.py for why
that makes results deterministic across engines.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from fabstir_vectordb_spark.functions import distance as D
from fabstir_vectordb_spark.operators import _arrow
from fabstir_vectordb_spark.operators.topk import ROUND_DECIMALS, topk_per_query

_METRICS = ("l2", "cosine", "dot")


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
            cids = ids[cand]
            # `> k > 0`: k=0 must fall to the empty lexsort[:0] branch,
            # not an argpartition shortlist whose empty-slice max raises
            if len(d) > k > 0:
                part = np.argpartition(dr, k - 1)
                thresh = dr[part[:k]].max()
                keep = np.flatnonzero(dr <= thresh)
                keep = keep[np.lexsort((cids[keep], dr[keep]))][:k]
            else:
                keep = np.lexsort((cids, dr))[:k]
            out_q.append(np.full(len(keep), qs + j, dtype=np.int64))
            out_v.append(cand[keep])
            out_d.append(d[keep])
    return np.concatenate(out_q), np.concatenate(out_v), np.concatenate(out_d)


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
    Each Arrow batch emits its top-k per query under the (round(distance,
    6), id) order (``_topk_batch``), so the union of the partials holds
    the exact global top-k; the caller merges them (``topk_per_query``, or
    a sort on the driver).  ``probes`` ({cluster id: positions in ``Q`` of
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
        for b in batches:
            if b.num_rows == 0:
                continue
            t = _topk_batch(b, qids_l, Q_l, k, metric, id_col, vector_col, probes_l, carry)
            yield from t.to_batches()

    return _topk_input(vectors, id_col, vector_col, probes, carry).mapInArrow(
        partial_topk, out_schema
    )


def driver_knn(
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
) -> pa.Table:
    """``partial_knn`` ranked on the driver: ONE JVM-only ``toArrow()``
    pull of the rows ``partial_knn`` would stream (only the probed
    clusters when ``probes`` is given), ranked by the same per-batch body
    as one batch.  No Python task runs, so a small candidate set skips
    the fixed cost of a Python job; the caller bounds the pull, since
    every candidate row crosses to the driver.

    Output: the Arrow table of ``partial_knn(...).toArrow()`` —
    (query_id, id, distance, *carry) — already the exact top-k per
    query."""
    check_metric(metric)
    rows = _topk_input(vectors, id_col, vector_col, probes, carry).toArrow()
    qids_a = pa.array(qids, to_arrow_type(qid_type))
    return _topk_batch(rows, qids_a, Q, k, metric, id_col, vector_col, probes, carry)


def _topk_input(
    vectors: DataFrame,
    id_col: str,
    vector_col: str,
    probes: dict[int, np.ndarray] | None,
    carry: tuple[str, ...] | list[str],
) -> DataFrame:
    """The columns ``_topk_batch`` reads; with ``probes``, only the probed
    clusters' rows (on a partitionBy(cluster_id) layout the IN list
    prunes whole directories at the scan)."""
    cols = list(dict.fromkeys([id_col, vector_col, *carry]))
    if probes is not None:
        vectors = vectors.filter(F.col("cluster_id").isin(sorted(probes)))
        cols.append("cluster_id")
    return vectors.select(*cols)


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
    """The one per-batch ranking body, run by ``partial_knn``'s executors
    and by ``driver_knn`` on the driver: the top-k per query of the batch
    ``b`` as (query_id, id, distance, *carry) rows.  With ``probes`` the
    batch's rows are grouped by their ``cluster_id`` and each group ranks
    only the queries that probed it (``_probed_topk_rows``, the grouping
    ``pq.partial_adc`` shares)."""
    V = _arrow.matrix(b.column(vector_col), vector_col)
    ids = b.column(id_col)
    keys = _arrow.sort_keys(ids)
    if probes is None or b.num_rows == 0:  # no rows: no cluster to group
        qpos, vpos, d = _batch_topk_rows(metric, V, keys, Q, k)
    else:
        qpos, vpos, d = _probed_topk_rows(
            b.column("cluster_id"), probes,
            lambda cid, rows, qidx: _batch_topk_rows(
                metric, V[rows], keys[rows], Q[qidx], k
            ),
        )
    t = _arrow.topk_table(qids, qpos, ids, vpos, d)
    for c in carry:
        t = t.append_column(c, b.column(c).take(vpos))
    return t


def _probed_topk_rows(
    clusters: pa.Array,
    probes: dict[int, np.ndarray],
    rank: Callable[[int, np.ndarray, np.ndarray], tuple[np.ndarray, np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The per-cluster grouping of one batch, shared by ``partial_knn`` and
    ``pq.partial_adc``: the batch's rows are grouped by ``clusters`` (a
    batch may span clusters) and each group ranks only the queries that
    probe its cluster.  ``rank(cluster id, rows, qidx)`` ranks the batch
    rows ``rows`` against the queries at positions ``qidx`` and returns
    (position in ``qidx``, position in ``rows``, distance); the result maps
    them back to (query position, batch row position, distance)."""
    blk = clusters.to_numpy(zero_copy_only=False)
    order = np.argsort(blk, kind="stable")
    blk_s = blk[order]
    starts = np.flatnonzero(np.r_[True, blk_s[1:] != blk_s[:-1]])
    ends = np.r_[starts[1:], len(blk_s)]
    empty = np.empty(0, dtype=np.int64)
    out_q, out_v, out_d = [empty], [empty], [np.empty(0)]
    for s, e in zip(starts, ends):
        cid = int(blk_s[s])
        qidx = probes.get(cid)
        if qidx is None:
            continue  # no query probes this cluster
        rows = order[s:e]
        qp, vp, d = rank(cid, rows, qidx)
        out_q.append(qidx[qp])
        out_v.append(rows[vp])
        out_d.append(d)
    return np.concatenate(out_q), np.concatenate(out_v), np.concatenate(out_d)


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
    """Bulk exact similarity join: BOTH sides are DataFrames — no driver
    collect, no broadcast of the query set (reference analogue:
    parallel_search, src/hybrid/search_integration.rs:125-211, whose
    clients loop per query; this is the set-at-a-time version).

    Block-parallel shape (the two-big-tables path ``brute_force_knn``
    lacks): vectors are hashed into `vector_blocks` blocks and
    shuffled ONCE; the query table is replicated per block (Q x VB rows
    — queries are usually the smaller side, and VB is a knob).  A
    cogrouped applyInArrow computes each (vector-block x all-queries)
    GEMM and emits only block-local top-k, so the final shuffle is
    Q * VB * k partial rows, never Q * N.  Size VB so one block's
    vectors fit a task's memory (N/VB * dim * 8B).

    Output: (query_id, id, distance) ascending, k rows per query.
    """
    check_metric(metric)
    spark = vectors.sparkSession
    if vector_blocks is not None:
        VB = vector_blocks
    else:
        # scale-adaptive block count: one block per vector-scan split,
        # capped at the cluster's parallelism.  A scan split is already
        # sized to task memory (spark.sql.files.maxPartitionBytes), so
        # block-per-split keeps the per-task GEMM working set at split
        # size; at corpus scale splits >> cores and this reduces to the
        # former defaultParallelism constant, while a small input stops
        # paying for cores-many blocks (replicating the query set per
        # block) it cannot fill.  Block count does not affect results:
        # per-block top-k partials always cover the global top-k.
        from fabstir_vectordb_spark.operators._plan import scan_partitions

        VB = max(
            1,
            min(
                spark.sparkContext.defaultParallelism,
                scan_partitions(vectors),
            ),
        )
    v = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vector_col).alias("__v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(VB)).cast("int").alias("__blk"),
    )
    blocks = spark.range(VB).select(F.col("id").cast("int").alias("__blk"))
    qrep = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vector_col).alias("__qv"),
    ).crossJoin(blocks)
    partials = cogroup_block_knn(
        v, qrep, k, metric,
        qid_type=queries.schema[query_id_col].dataType,
        id_type=vectors.schema[id_col].dataType,
    )
    return topk_per_query(partials, k)


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
    """Exact top-k similarity join: ``partial_knn`` merged by
    ``topk_per_query``.  Output: (query_id, id, distance) asc.

    Queries are collected to the driver (they are the small side) and
    broadcast to the kernel.  ``query_rows`` optionally supplies that
    collect's result (rows of (query_id, vector), the exact shape
    `queries.select(query_id_col, query_vector_col)` yields): a caller
    constructing several searches can run the collects concurrently
    (overlap independent driver jobs) instead of paying one sequential
    driver job per search.

    Apply metadata predicates to ``vectors`` BEFORE calling — the filter
    then reaches the parquet scan (pushdown), which supersedes the
    reference's k*3 oversampling post-filter (src/hybrid/core.rs:513-549).
    """
    check_metric(metric)
    qrows = (
        query_rows
        if query_rows is not None
        else queries.select(query_id_col, query_vector_col).collect()
    )
    partials = partial_knn(
        vectors,
        [r[0] for r in qrows],
        np.asarray([r[1] for r in qrows], dtype=np.float64),
        queries.schema[query_id_col].dataType,
        k,
        metric,
        id_col=id_col,
        vector_col=vector_col,
    )
    return topk_per_query(partials, k)


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
