"""IVF x PQ: the canonical big-corpus ANN layout (the IVFADC structure of
Jegou/Douze/Schmid, "Product Quantization for Nearest Neighbor Search",
TPAMI 2011 — coarse inverted lists + product-quantized residuals).
``residual=True`` is the paper's IVFADC exactly (PQ over x - centroid);
the default raw-vector PQ stays for composability with the standalone
quantizer and for untrained-IVF degradation.

At 100 TB this is THE structure that works: the encoded table
(id, cluster_id, pq_codes) is ~32 bytes/vector instead of 256+ for raw
float32x64, persisted ``partitionBy(cluster_id)`` so a probe reads only
n_probe/n_clusters of the files (Catalyst partition pruning), ADC scans
codes with M table lookups per row (no full-width math, no decode), and
the full-precision vectors are touched ONLY for the Q x k x oversample
re-rank rows.

Plan shape per search: one map-only probe-selection kernel over the
broadcast centroids (Q x n_probe rows), a cogroup of the probed clusters'
codes with their probing queries (one (M, K) lookup table per query per
cluster, block-local top-(k*oversample)), then the exact re-rank join.
Shuffle volume: Q x n_probe x k*oversample partial rows — never codes,
never raw vectors.

Reference parity: composes SURVEY §2.4 (IVF probe search,
ivf/core.rs:622-681) with §2.1 PQ (vector_ops.rs:390-578); the reference
never combines them — this is the scale-path extension.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from fabstir_vectordb_spark.operators import _arrow
from fabstir_vectordb_spark.operators.ivf import IVFIndex, _nearest
from fabstir_vectordb_spark.operators.pq import ProductQuantizer, _adc_tables, _pq_codes
from fabstir_vectordb_spark.operators.topk import ROUND_DECIMALS, topk_per_query

# search_bulk collects the query set and broadcasts it while the query
# vectors fit this many float64 bytes: 65,536 queries at dim 384
_MAX_BROADCAST_QUERY_BYTES = 65_536 * 384 * 8
# the broadcast search builds the raw-mode (nq, M, K) float64 LUT set once
# on the driver and ships it while it fits this many bytes; above it each
# scan task builds the same tables lazily
_MAX_PRECOMPUTED_LUT_BYTES = 64 << 20


class IVFPQIndex:
    def __init__(self, ivf: IVFIndex, pq: ProductQuantizer, residual: bool = False):
        self.ivf = ivf
        self.pq = pq
        # residual=True is the TRUE IVFADC of the paper: PQ quantizes
        # r = x - centroid(cluster), whose variance is what remains
        # AFTER the coarse quantizer explains the cluster structure —
        # tighter codebooks, better recall at the same byte budget.
        # False keeps raw-vector PQ (composable with the standalone
        # quantizer, and the only option when the IVF is untrained).
        self.residual = bool(residual)
        # set by fit(recall_target=...): the PQPlan whose n_probe /
        # oversample become search_bulk's defaults for this index
        self.tuned = None

    @classmethod
    def fit(
        cls,
        vectors: DataFrame,
        n_clusters: int = 16,
        n_subspaces: int = 8,
        n_centroids: int = 32,
        seed: int = 42,
        id_col: str = "vec_id",
        vector_col: str = "embedding",
        residual: bool = False,
        recall_target: float | None = None,
        opq: bool | str | None = None,
    ) -> "IVFPQIndex":
        """``recall_target`` auto-tunes the code geometry from the
        measured knob-recovery guidance (plans/tuning.tune_pq): it
        OVERRIDES n_subspaces / n_centroids / residual, and stores the
        recommended n_probe / oversample on the index so search_bulk
        uses them when the caller doesn't pass explicit values.  This
        exists because guidance that lives only in docs doesn't protect
        the user: the historical 8-subspace default bottoms out at
        0.28-0.36 recall@10 on distance-concentrated corpora while the
        tuned plan reaches 0.91 on the same data (PERFORMANCE.md
        "IVFPQ knob recovery at 500k")."""
        tuned = None
        if recall_target is not None:
            from fabstir_vectordb_spark.plans.tuning import tune_pq

            first = vectors.select(F.size(vector_col)).first()
            dim = int(first[0]) if first is not None else 0
            n_rows = vectors.count()
            tuned = tune_pq(
                dim, recall_target=recall_target, n_clusters=n_clusters,
                train_rows=min(n_rows, 10_000), dataset_size=n_rows,
            )
            n_subspaces = tuned.n_subspaces
            n_centroids = tuned.n_centroids
            residual = tuned.residual
            # an explicit opq argument (True OR False) always wins; only
            # the None default takes the tuned plan's recommendation —
            # `opq or tuned.opq` would make an explicit False
            # indistinguishable from unset and force the rotation fit
            if opq is None:
                opq = tuned.opq
        ivf = IVFIndex.fit(
            vectors, n_clusters=n_clusters, seed=seed,
            id_col=id_col, vector_col=vector_col,
        )
        residual = residual and ivf.centroids is not None
        if residual:
            # the codebooks train on x - centroid(x) over the first 10,000
            # rows, ProductQuantizer.fit's default sample
            t = ivf.assign(vectors).select(vector_col, "cluster_id").limit(10_000).toArrow()
            X = _arrow.matrix(t.column(0), vector_col)
            X -= ivf.centroids[t.column(1).to_numpy()]
            pq = ProductQuantizer._fit_sample(X, n_subspaces, n_centroids, seed=seed, opq=opq)
        else:
            pq = ProductQuantizer.fit(
                vectors, n_subspaces=n_subspaces, n_centroids=n_centroids,
                seed=seed, vector_col=vector_col, opq=opq,
            )
        idx = cls(ivf, pq, residual=residual)
        idx.tuned = tuned
        return idx

    def encode(self, vectors: DataFrame) -> DataFrame:
        """(input cols, cluster_id, pq_codes) — what a 100 TB deployment
        persists ``partitionBy(cluster_id)``; raw vectors are needed only
        if exact re-rank is wanted at query time.

        Untrained-IVF mode (below the training threshold, mirroring
        IVFIndex's small-data bypass): everything lands in cluster 0 and
        search degrades to plain ADC over the whole table.

        Trained mode is one map-only Arrow pass: nearest-centroid assign
        (the arithmetic of IVFIndex.assign), the residual x - centroid
        when ``residual``, and the PQ codes of that vector."""
        if self.ivf.centroids is None:
            return self.pq.encode(
                vectors.withColumn("cluster_id", F.lit(0).cast("int")),
                vector_col=self.ivf.vector_col,
            )
        bc = vectors.sparkSession.sparkContext.broadcast(
            (self.ivf.centroids, self.pq.codebooks, self.pq.rotation)
        )
        vector_col, residual = self.ivf.vector_col, self.residual
        out_schema = (
            T.StructType(list(vectors.schema))
            .add("cluster_id", T.IntegerType(), False)
            .add("pq_codes", T.ArrayType(T.IntegerType()), True)
        )

        def kernel(batches):
            C, books, rot = bc.value
            c_sq = (C * C).sum(axis=1)
            for b in batches:
                if b.num_rows == 0:
                    continue
                V = _arrow.matrix(b.column(vector_col), vector_col)
                cid = _nearest(V, C, c_sq)
                codes = _pq_codes(V - C[cid] if residual else V, books, rot)
                b = _arrow.append(b, "cluster_id", pa.array(cid))
                yield _arrow.append(b, "pq_codes", codes)

        return vectors.mapInArrow(kernel, out_schema)

    def search_bulk(
        self,
        encoded: DataFrame,
        queries: DataFrame,
        k: int,
        n_probe: int | None = None,
        oversample: int | None = None,
        rerank_vectors: DataFrame | None = None,
        cluster_col: str = "cluster_id",
        code_col: str = "pq_codes",
        query_id_col: str = "query_id",
        query_vector_col: str = "vector",
        prune_scan: bool = False,
    ) -> DataFrame:
        """Probe n_probe clusters, ADC over only their codes, exact
        re-rank of the oversampled candidates.  Query set stays a
        DataFrame end-to-end (no driver collect).  At n_probe =
        n_clusters the probe set is the whole table, so the result
        equals plain PQ ADC(+rerank) — the oracle hook.

        ``prune_scan=True``: collect the DISTINCT probed cluster ids (a
        tiny list, <= n_clusters ints) and filter ``encoded`` with a
        static ``cluster_id IN (...)`` BEFORE the cogroup.  Over a table
        persisted partitionBy(cluster_id) (write_encoded) this reaches
        the scan as PartitionFilters — only n_probe/n_clusters of the
        files are read, the 100 TB I/O claim of this module's header.
        Default off: the in-memory path doesn't need the extra tiny job.

        ``n_probe`` / ``oversample`` default to the index's tuned plan
        (fit(recall_target=...)) when one exists, else to the legacy
        (4, 4) — explicit arguments always win.

        Physical shape (r12 optimization): when the query set is bounded
        (its float64 vectors within ``_MAX_BROADCAST_QUERY_BYTES``, 192 MiB:
        65,536 queries at dim 384) it is collected once and the
        probe table is BROADCAST into a single ``mapInArrow`` pass over
        the codes — the codes table is never shuffled and never
        converted to pandas; only Q x n_probe x fetch partial rows move
        (guide §8: decide with small rows, move big rows once).  Larger
        query sets keep the former cogroup plan (query set stays a
        DataFrame end-to-end).  Both paths share the per-pair arithmetic
        and (round(6), id) tie order, so results are identical — the
        full-probe ≡ plain-ADC oracle hook holds on either."""
        if n_probe is None:
            n_probe = self.tuned.n_probe if self.tuned is not None else 4
        if oversample is None:
            oversample = self.tuned.oversample if self.tuned is not None else 4
        id_col = self.ivf.id_col
        if self.ivf.centroids is None:
            # small-data bypass: no coarse partition exists — plain ADC
            # over all codes (same graceful degradation as
            # IVFIndex.search_bulk's brute-force fallback)
            return self.pq.adc_knn_bulk(
                encoded, queries, k,
                id_col=id_col, code_col=code_col,
                query_id_col=query_id_col, query_vector_col=query_vector_col,
                rerank_vectors=rerank_vectors, oversample=oversample,
                rerank_vector_col=self.ivf.vector_col,
            )
        max_bq = _MAX_BROADCAST_QUERY_BYTES // (8 * self.ivf.centroids.shape[1])
        qrows = (
            queries.select(query_id_col, query_vector_col)
            .limit(max_bq + 1)
            .collect()
        )
        if 0 < len(qrows) <= max_bq:
            return self._search_bulk_broadcast(
                encoded, queries, qrows, k, n_probe, oversample,
                rerank_vectors, cluster_col, code_col,
                query_id_col, query_vector_col, prune_scan,
            )
        probes = self.ivf.probe_pairs(
            queries, n_probe,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )
        if prune_scan:
            probed = sorted(
                r[0] for r in probes.select("__blk").distinct().collect()
            )
            encoded = encoded.filter(F.col(cluster_col).isin(probed))
        v = encoded.select(
            F.col(id_col).alias("id"),
            F.col(code_col).alias("__codes"),
            F.col(cluster_col).cast("int").alias("__blk"),
        )
        bc = encoded.sparkSession.sparkContext.broadcast(
            (self.pq.codebooks, self.pq.rotation)
        )
        bc_cents = (
            encoded.sparkSession.sparkContext.broadcast(self.ivf.centroids)
            if self.residual
            else None
        )
        residual = self.residual
        M, sub = self.pq.n_subspaces, self.pq.sub_dim
        fetch = k * (oversample if rerank_vectors is not None else 1)

        out_schema = _arrow.topk_schema(
            queries.schema[query_id_col].dataType, encoded.schema[id_col].dataType
        )

        def cluster_adc(key, vpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
            # one probed cluster x the queries that probed it: same
            # per-pair arithmetic and (round(6), id) tie order as
            # ProductQuantizer.adc_knn_bulk's block kernel.  In residual
            # mode (true IVFADC) the LUT is built from the query's
            # RESIDUAL vs this cluster's centroid — the codes encode
            # x - centroid, so ||x - q|| == ||code - (q - centroid)||.
            if vpdf.empty or qpdf.empty:
                return pd.DataFrame({"query_id": [], "id": [], "distance": []})
            books, rot = bc.value
            codes = np.asarray([np.asarray(c) for c in vpdf["__codes"]])
            ids = vpdf["id"].to_numpy()
            if ids.dtype == object:
                ids = ids.astype(str)
            cent = bc_cents.value[int(key[0])] if residual else None
            marange = np.arange(M)[None, :]
            Qm = np.asarray(
                [np.asarray(qv, dtype=np.float64) for qv in qpdf["__qv"]]
            )
            if residual:
                # elementwise broadcast == the former per-query subtract
                Qm = Qm - cent[None, :]
            if rot is not None:
                # codes encode R*(x - c) (or R*x raw): rotate AFTER the
                # residual shift so LUT space matches code space.
                # Per-row dgemv, exactly the former per-query `q @ rot`.
                Qm = np.stack([q @ rot for q in Qm])
            # (nq, M, K) LUTs for the whole probe batch in one vectorized
            # pass (bit-identical values, see pq._adc_tables)
            tables = _adc_tables(books, Qm, M, sub)
            out_q, out_id, out_d = [], [], []
            for i, qid in enumerate(qpdf["query_id"]):
                d = np.sqrt(np.sum(tables[i][marange, codes], axis=1))
                dr = np.round(d, ROUND_DECIMALS)
                # `> fetch > 0`: k=0 falls to the empty lexsort[:0]
                # branch (the shortlist's empty-slice max would raise)
                if len(d) > fetch > 0:
                    part = np.argpartition(dr, fetch - 1)
                    thresh = dr[part[:fetch]].max()
                    cand = np.flatnonzero(dr <= thresh)
                    cand = cand[np.lexsort((ids[cand], dr[cand]))][:fetch]
                else:
                    cand = np.lexsort((ids, dr))[:fetch]
                out_q.extend([qid] * len(cand))
                out_id.extend(ids[cand].tolist())
                out_d.extend(d[cand].tolist())
            return pd.DataFrame({"query_id": out_q, "id": out_id, "distance": out_d})

        partials = (
            v.groupBy("__blk")
            .cogroup(probes.groupBy("__blk"))
            .applyInPandas(cluster_adc, out_schema)
        )
        cand = topk_per_query(partials, fetch)
        if rerank_vectors is None:
            return topk_per_query(cand, k)
        from fabstir_vectordb_spark.operators.pq import exact_rerank

        return exact_rerank(
            cand, queries, rerank_vectors, k,
            id_col=id_col, rerank_vector_col=self.ivf.vector_col,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )

    def _search_bulk_broadcast(
        self,
        encoded: DataFrame,
        queries: DataFrame,
        qrows: list,
        k: int,
        n_probe: int,
        oversample: int,
        rerank_vectors: DataFrame | None,
        cluster_col: str,
        code_col: str,
        query_id_col: str,
        query_vector_col: str,
        prune_scan: bool,
    ) -> DataFrame:
        """Bounded-query-set search: broadcast probes + ONE map-only Arrow
        pass over the codes (guide §8 — the shuffle-free shape of the
        former cogroup).

        Why this is the 100 TB shape: the cogroup re-shuffled the WHOLE
        encoded table by cluster and Arrow-serialized it through a
        grouped-pandas boundary on EVERY search batch (~3 s of the 4.3 s
        per-batch cost at the 100k datum); here the codes stream through
        ``mapInArrow`` exactly once, straight off the (partition-pruned)
        scan, and the only shuffled rows are the Q x n_probe x fetch
        partials.  Probe selection runs driver-side on the index's own
        centroids via ``_probes_from_rows`` — the documented exact
        ranking twin of ``probe_pairs`` — so the probed (query, cluster)
        set is identical.

        Result parity with the cogroup path (oracle-certified): each
        (query, batch-local cluster group) emits its top-``fetch`` under
        the same (round(6) distance, id) total order as the former
        per-cluster kernel, so every global top-``fetch`` row survives
        into the partials (any row in the global top-fetch is within the
        top-fetch of its own group under a total order); the downstream
        ``topk_per_query`` then selects exactly the same rows, and
        distances are computed by the same LUT arithmetic — bit-identical
        per (query, id)."""
        id_col = self.ivf.id_col
        np_eff = min(n_probe, self.ivf.n_clusters)
        pairs = self.ivf._probes_from_rows(qrows, np_eff)
        qids = [r[0] for r in qrows]
        Q = np.asarray([np.asarray(r[1], dtype=np.float64) for r in qrows])
        qpos = {qid: i for i, qid in enumerate(qids)}
        cl2q: dict[int, list] = {}
        for qid, cid in pairs:
            cl2q.setdefault(int(cid), []).append(qpos[qid])
        cl2q_np = {c: np.asarray(v, dtype=np.int64) for c, v in cl2q.items()}
        if prune_scan:
            # probed cluster ids are already known driver-side — the
            # former distinct().collect() job disappears; the static IN
            # filter still reaches a partitionBy(cluster_id) layout as
            # PartitionFilters (only n_probe/n_clusters of the files read)
            encoded = encoded.filter(F.col(cluster_col).isin(sorted(cl2q_np)))
        v = encoded.select(
            F.col(id_col).alias("id"),
            F.col(code_col).alias("__codes"),
            F.col(cluster_col).cast("int").alias("__blk"),
        )
        residual = self.residual
        M, sub = self.pq.n_subspaces, self.pq.sub_dim
        K = self.pq.n_centroids
        # raw mode: the (nq, M, K) LUT set depends only on the query batch,
        # so build it ONCE on the driver and broadcast the tables instead
        # of letting every scan task rebuild them (measured ~0.09 s CPU per
        # task x 28 tasks at the 100k datum, plus a first-touch straggler).
        # Bounded: ~2 KB/query at (M=8, K=32); above the size cap the
        # tables ship as None and each task builds them once lazily.
        # Residual LUTs are per-(cluster, query) and stay in-task.
        tables_pre = None
        if not residual and len(qrows) * M * K * 8 <= _MAX_PRECOMPUTED_LUT_BYTES:
            Qr = (
                np.stack([q @ self.pq.rotation for q in Q])
                if self.pq.rotation is not None else Q
            )
            tables_pre = _adc_tables(self.pq.codebooks, Qr, M, sub)
        qid_arrow = pa.array(qids, to_arrow_type(queries.schema[query_id_col].dataType))
        bc = encoded.sparkSession.sparkContext.broadcast(
            (
                qid_arrow, Q, cl2q_np, self.pq.codebooks, self.pq.rotation,
                self.ivf.centroids if self.residual else None,
                tables_pre,
            )
        )
        fetch = k * (oversample if rerank_vectors is not None else 1)
        out_schema = _arrow.topk_schema(
            queries.schema[query_id_col].dataType, encoded.schema[id_col].dataType
        )

        def adc_kernel(batches):
            qids_l, Q_l, cl2q_l, books, rot, cents, tables_bc = bc.value
            # raw mode: ONE (nq, M, K) LUT set serves every cluster — the
            # per-(cluster, query) rebuild of the cogroup kernel collapses
            # to a broadcast (or one lazy per-task build above the size
            # cap; guide §4.5 heavyweight init once).  Residual mode
            # shifts the query by the cluster centroid, so LUTs are
            # per-cluster; cache them across batches of a task.
            tables_all = tables_bc
            flat_all = None if tables_all is None else tables_all.reshape(
                len(tables_all), -1
            )
            lut_cache: dict = {}
            # reused scratch: the per-(query, group) gather/sum used to
            # allocate a fresh (n_rows, M) temporary per call — ~1.6 GB of
            # first-touch pages per search at the 100k datum, the dominant
            # kernel cost on slow-faulting hosts.  np.take/np.sum with
            # out= into one per-task buffer removes every per-call
            # allocation; values are unchanged (same gather, same
            # sequential axis-1 sum).
            gbuf = dbuf = rbuf = None

            def tables_for(cid):
                nonlocal tables_all, flat_all
                qidx = cl2q_l[cid]
                if not residual:
                    if tables_all is None:
                        # per-row dgemv, exactly the cogroup kernel's form
                        Qr = (
                            np.stack([q @ rot for q in Q_l])
                            if rot is not None else Q_l
                        )
                        tables_all = _adc_tables(books, Qr, M, sub)
                        flat_all = tables_all.reshape(len(tables_all), -1)
                    return flat_all, qidx, qidx
                t = lut_cache.get(cid)
                if t is None:
                    Qc = Q_l[qidx] - cents[cid][None, :]
                    if rot is not None:
                        Qc = np.stack([q @ rot for q in Qc])
                    t = _adc_tables(books, Qc, M, sub).reshape(len(qidx), -1)
                    lut_cache[cid] = t
                return t, range(len(qidx)), qidx

            koffs = (np.arange(M) * books.shape[1]).astype(np.int64)[None, :]
            for b in batches:
                if b.num_rows == 0:
                    continue
                blk = b.column("__blk").to_numpy(zero_copy_only=False)
                ids = _arrow.sort_keys(b.column("id"))
                codes = _arrow.matrix(b.column("__codes"), "__codes", np.int64)
                nb = len(ids)
                if gbuf is None or len(gbuf) < nb:
                    gbuf = np.empty((nb, M))
                    dbuf = np.empty(nb)
                    rbuf = np.empty(nb)
                out_q, out_v, out_d = [], [], []
                # group the batch's rows by cluster (a batch may span
                # clusters); per-group top-fetch keeps the partials tiny
                order = np.argsort(blk, kind="stable")
                blk_s = blk[order]
                bounds = np.flatnonzero(np.diff(blk_s)) + 1
                starts = np.concatenate(([0], bounds))
                ends = np.concatenate((bounds, [len(blk_s)]))
                for s, e in zip(starts, ends):
                    cid = int(blk_s[s])
                    if cid not in cl2q_l:
                        continue  # no query probes this cluster
                    rows = order[s:e]
                    c_codes = codes[rows]
                    c_ids = ids[rows]
                    n_c = len(c_ids)
                    # flat LUT index (m*K + code_m), shared by every query
                    # probing this cluster group
                    flat_idx = c_codes + koffs
                    tabs, t_idx, q_idx = tables_for(cid)
                    g = gbuf[:n_c]
                    dv = dbuf[:n_c]
                    rv = rbuf[:n_c]
                    for ti, qi in zip(t_idx, q_idx):
                        np.take(tabs[ti], flat_idx, out=g)
                        np.sum(g, axis=1, out=dv)
                        d = np.sqrt(dv, out=dv)
                        dr = np.round(d, ROUND_DECIMALS, out=rv)
                        # `> fetch > 0`: k=0 falls to the empty
                        # lexsort[:0] branch (the shortlist's empty-slice
                        # max would raise) — same as the cogroup kernel
                        if len(d) > fetch > 0:
                            part = np.argpartition(dr, fetch - 1)
                            thresh = dr[part[:fetch]].max()
                            cand = np.flatnonzero(dr <= thresh)
                            cand = cand[
                                np.lexsort((c_ids[cand], dr[cand]))
                            ][:fetch]
                        else:
                            cand = np.lexsort((c_ids, dr))[:fetch]
                        out_q.append(np.full(len(cand), qi, dtype=np.int64))
                        out_v.append(rows[cand])
                        out_d.append(d[cand])
                if out_q:
                    yield from _arrow.topk_table(
                        qids_l, np.concatenate(out_q), b.column("id"),
                        np.concatenate(out_v), np.concatenate(out_d),
                    ).to_batches()

        partials = v.mapInArrow(adc_kernel, out_schema)
        cand = topk_per_query(partials, fetch)
        if rerank_vectors is None:
            return topk_per_query(cand, k)
        from fabstir_vectordb_spark.operators.pq import exact_rerank

        return exact_rerank(
            cand, queries, rerank_vectors, k,
            id_col=id_col, rerank_vector_col=self.ivf.vector_col,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )

    # ------------------------------------------------------- persistence

    def save(self, path: str) -> None:
        """Model metadata (coarse centroids + PQ codebooks + residual
        flag) as sidecars — the encoded table itself goes through
        write_encoded."""
        import json
        import os

        self.ivf.save(path)
        self.pq.save(path)
        meta = {"residual": self.residual}
        if self.tuned is not None:
            # the tuned plan must SURVIVE the save/load cycle: a user who
            # fit with recall_target and reloads later would otherwise
            # silently fall back to the legacy (4, 4) search defaults —
            # the exact docs-not-defaults trap tune_pq exists to close
            from dataclasses import asdict

            meta["tuned"] = asdict(self.tuned)
        with open(os.path.join(path, "ivfpq.json"), "w") as f:
            json.dump(meta, f)

    @classmethod
    def load(cls, path: str) -> "IVFPQIndex":
        import json
        import os

        from fabstir_vectordb_spark.operators.pq import ProductQuantizer

        residual = False
        tuned = None
        meta_path = os.path.join(path, "ivfpq.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            residual = bool(meta.get("residual", False))
            if meta.get("tuned") is not None:
                from fabstir_vectordb_spark.plans.tuning import PQPlan

                tuned = PQPlan(**meta["tuned"])
        idx = cls(
            IVFIndex.load(path), ProductQuantizer.load(path), residual=residual
        )
        idx.tuned = tuned
        return idx


def write_encoded(
    vectors: DataFrame, index: IVFPQIndex, path: str, codec: str = "zstd"
) -> None:
    """Persist the IVFADC layout: assign + PQ-encode, then parquet
    partitionBy(cluster_id) with the model sidecars.  This IS the 100 TB
    artifact — ~(id + M bytes)/vector, probe reads touch only the probed
    clusters' files (see search_bulk prune_scan).  Default codec is zstd
    (the reference's CBOR+zstd archival format, SURVEY §2 row 71): the
    encoded table is the cold layout, so the denser codec wins."""
    enc = index.encode(vectors).drop(index.ivf.vector_col)  # codes, not floats
    enc.write.mode("overwrite").option("compression", codec).partitionBy(
        "cluster_id"
    ).parquet(path)
    index.save(path)


def read_encoded(spark, path: str) -> tuple[DataFrame, IVFPQIndex]:
    return spark.read.parquet(path), IVFPQIndex.load(path)
