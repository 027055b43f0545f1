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

Plan shape per search: a bounded query set (``knn._driver_queries``: one
collect, capped before it runs, of float64 query vectors within
``knn._MAX_DRIVER_QUERY_BYTES`` and Q * fetch * scan partitions partial
rows within ``knn._MAX_DRIVER_PARTIAL_ROWS``) and its
probes (ranked on the driver over the centroids) are broadcast into ONE
map-only ADC pass over the probed clusters' codes (``pq.partial_adc``);
its partial rows merge on the driver, and the re-rank pulls each distinct
candidate's vector once (one broadcast join, no Python task) and ranks them
on the driver: no exchange, and the result is a local relation.  A
larger query set stays a DataFrame: a map-only probe-selection kernel
(Q x n_probe rows), then a cogroup of the probed clusters' codes with
their probing queries (``pq.cogroup_block_adc``) and the exact re-rank
join.  Shuffle volume there: Q x n_probe x k*oversample partial rows —
never raw vectors.

Reference parity: composes SURVEY §2.4 (IVF probe search,
ivf/core.rs:622-681) with §2.1 PQ (vector_ops.rs:390-578); the reference
never combines them — this is the scale-path extension.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fabstir_vectordb_spark.operators import _arrow
from fabstir_vectordb_spark.operators._plan import scan_partitions
from fabstir_vectordb_spark.operators.ivf import IVFIndex, _nearest
from fabstir_vectordb_spark.operators.knn import _driver_queries
from fabstir_vectordb_spark.operators.pq import (
    ProductQuantizer,
    _pq_codes,
    _top_candidates,
    _top_candidates_on_driver,
    cogroup_block_adc,
    partial_adc,
)


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
        re-rank of the oversampled candidates.  At n_probe = n_clusters
        the probe set is the whole table, so the result equals plain PQ
        ADC(+rerank) — the oracle hook.

        ``n_probe`` / ``oversample`` default to the index's tuned plan
        (fit(recall_target=...)) when one exists, else to the legacy
        (4, 4) — explicit arguments always win.

        Two plans, identical rows: both rank with ``pq._adc_topk_rows``
        under the (round(6), id) order, and a row of a query's global
        top-fetch is in the top-fetch of its own block.
        - A bounded query set (``knn._driver_queries``: float64 query
          vectors within ``knn._MAX_DRIVER_QUERY_BYTES`` and Q x fetch x
          scan partitions partial rows within
          ``knn._MAX_DRIVER_PARTIAL_ROWS``, capped before the pull) is
          collected once, its
          probes are ranked on the driver (``IVFIndex.probes_by_cluster``,
          the exact ranking twin of ``probe_pairs``), and both are
          broadcast into one ``partial_adc`` pass over the probed
          clusters' codes; its partial rows are finished on the driver
          (``pq._top_candidates_on_driver``, the tail of ``adc_knn``):
          with ``rerank_vectors`` the distinct candidates' vectors are
          pulled once by one broadcast join and re-ranked in numpy.
          Nothing is shuffled and the result is
          a local relation (guide §8: decide with small rows, move big
          rows once).
        - A larger one stays a DataFrame end-to-end: ``probe_pairs``, then
          ``cogroup_block_adc`` with each probed cluster as the block,
          ``topk_per_query`` and the ``exact_rerank`` join.

        ``prune_scan=True`` (cogroup plan): collect the DISTINCT probed
        cluster ids (<= n_clusters ints) and filter ``encoded`` with a
        static ``cluster_id IN (...)`` BEFORE the cogroup.  Over a table
        persisted partitionBy(cluster_id) (write_encoded) this reaches the
        scan as PartitionFilters — only n_probe/n_clusters of the files
        are read, the 100 TB I/O claim of this module's header.  Default
        off: the in-memory path doesn't need the extra tiny job.  The
        bounded plan always applies the filter: its probed ids are
        already on the driver."""
        if n_probe is None:
            n_probe = self.tuned.n_probe if self.tuned is not None else 4
        if oversample is None:
            oversample = self.tuned.oversample if self.tuned is not None else 4
        id_col = self.ivf.id_col
        if self.ivf.centroids is None:
            # small-data bypass: no coarse partition exists — plain ADC
            # over all codes (same graceful degradation as
            # IVFIndex.search_bulk's brute-force fallback)
            return self.pq.adc_knn(
                encoded, queries, k,
                id_col=id_col, code_col=code_col,
                query_id_col=query_id_col, query_vector_col=query_vector_col,
                rerank_vectors=rerank_vectors, oversample=oversample,
                rerank_vector_col=self.ivf.vector_col,
            )
        fetch = k * (oversample if rerank_vectors is not None else 1)
        qid_type = queries.schema[query_id_col].dataType
        cents = self.ivf.centroids if self.residual else None
        bounded = _driver_queries(
            queries, query_id_col, query_vector_col,
            fetch * scan_partitions(encoded), self.ivf.centroids.shape[1],
            vectors_per_query=1 + (fetch if rerank_vectors is not None else 0),
        )
        if bounded is not None:
            qids, Q = bounded
            spark = encoded.sparkSession
            schema = _arrow.topk_schema(qid_type, encoded.schema[id_col].dataType)
            if not qids:
                return spark.createDataFrame([], schema)
            cand = partial_adc(
                encoded, qids, Q, qid_type, fetch, self.pq,
                id_col=id_col, code_col=code_col,
                probes=self.ivf.probes_by_cluster(Q, n_probe),
                centroids=cents, cluster_col=cluster_col,
            ).toArrow()
            return _top_candidates_on_driver(
                spark, cand, qids, Q, fetch, k, schema,
                rerank_vectors, id_col, self.ivf.vector_col,
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
        partials = cogroup_block_adc(
            v, probes, fetch, self.pq, qid_type,
            encoded.schema[id_col].dataType, centroids=cents,
        )
        return _top_candidates(
            partials, fetch, k, queries, rerank_vectors,
            id_col=id_col, rerank_vector_col=self.ivf.vector_col,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )

    # ------------------------------------------------------- persistence

    def save(self, path: str) -> None:
        """Model metadata (coarse centroids + PQ codebooks + residual
        flag) as sidecars — the encoded table itself goes through
        write_encoded."""
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
