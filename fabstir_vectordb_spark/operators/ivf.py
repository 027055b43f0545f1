"""IVF (inverted-file) approximate nearest neighbor — clustered-table ANN.

Parity targets (reference):
  k-means train (k-means++ + Lloyd)   src/ivf/core.rs:240-429
  insert = nearest-centroid assign    src/ivf/core.rs:431-491
  n_probe search                      src/ivf/core.rs:622-681
  retrain / optimize clusters         src/ivf/operations.rs:148-261
  balance clusters                    src/ivf/operations.rs:422-492
  recall/precision self-evaluation    src/ivf/operations.rs:329-391
  cluster distribution / stats        src/ivf/core.rs:536-550, operations.rs:264-289
  defaults: 256 clusters, n_probe=16, train_size=10000, 25 iters
                                      src/ivf/core.rs:50-60

Spark-first shape: the "inverted lists" are a vectors table augmented
with a ``cluster_id`` column (nearest-centroid assignment) and written
``partitionBy("cluster_id")``.  Search ranks each query's n_probe
nearest centroids (centroids are tiny) and scans ONLY the probed
partitions: a ``cluster_id IN (...)`` predicate gives Catalyst
partition pruning, and each query is ranked against the rows of its own
probe set only — the reference's list-probing semantics, executed as a
pruned scan.  ``search`` and ``search_bulk`` share two plans, split by
the size of the query set:

- a bounded query set (``knn._driver_queries``: one collect, capped
  before it runs, of float64 query vectors within
  ``knn._MAX_DRIVER_QUERY_BYTES`` and Q * k * scan partitions partial
  rows within ``knn._MAX_DRIVER_PARTIAL_ROWS``): the queries and their probe
  sets, ranked on the driver, are broadcast into ``knn.partial_knn``,
  one map-only Arrow pass over the probed clusters, and its partial rows
  merge on the driver into a local relation — no exchange;
- a larger one stays a DataFrame: ``probe_pairs`` ranks the probes in a
  map-only Arrow pass and the probe rows cogroup with the clustered
  table on cluster id, merged by ``topk_per_query``.

With ``n_probe = n_clusters`` both are exactly brute force, which is
both the reference's own ground-truth trick and our oracle hook.  The
HNSW graph index is a separate operator (operators/hnsw.py).

Small-data mode: below ``min_training_size`` (reference: 10,
src/hybrid/core.rs:262-269) no clustering happens and search degrades to
an exact scan — identical observable behavior to the reference's
"HNSW-only mode".
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fabstir_vectordb_spark.operators import _arrow
from fabstir_vectordb_spark.operators._plan import scan_partitions
from fabstir_vectordb_spark.operators.knn import (
    _driver_queries,
    _knn_on_driver,
    brute_force_knn,
    check_metric,
    cogroup_block_knn,
    knn_bulk,
)
from fabstir_vectordb_spark.operators.topk import topk_per_query

DEFAULT_N_CLUSTERS = 256  # src/ivf/core.rs:50-60
DEFAULT_N_PROBE = 16
DEFAULT_TRAIN_SIZE = 10_000
DEFAULT_MAX_ITER = 25
MIN_TRAINING_SIZE = 10  # below this: brute-force mode (hybrid/core.rs:262-269)


def _nearest(V: np.ndarray, C: np.ndarray, c_sq: np.ndarray) -> np.ndarray:
    """Nearest-centroid ids (int32) of the rows of ``V``:
    argmin_c |v-c|^2 = argmin_c (|c|^2 - 2 v.c); |v|^2 is constant per row."""
    return (c_sq[None, :] - 2.0 * (V @ C.T)).argmin(axis=1).astype(np.int32)


def _probe_order(C: np.ndarray, q: np.ndarray, n_probe: int) -> np.ndarray:
    """The ``n_probe`` centroids nearest ``q``, ordered by
    (round(distance, 6), centroid id) — the one probe ranking of every
    IVF search path."""
    d = np.linalg.norm(C - q, axis=1)
    return np.lexsort((np.arange(len(d)), np.round(d, 6)))[:n_probe]


@dataclass
class IVFIndex:
    centroids: np.ndarray | None  # (n_clusters, dim) float64; None = brute-force mode
    id_col: str = "id"
    vector_col: str = "vector"
    training_error: float | None = None  # mean sq dist (ivf/core.rs:419-429)
    # the row count of the table fit trained on, when fit saw it whole (a
    # sample short of train_size) or counted it; None otherwise
    row_count: int | None = field(default=None, compare=False)

    # ------------------------------------------------------------------ fit

    @classmethod
    def fit(
        cls,
        vectors: DataFrame,
        n_clusters: int = DEFAULT_N_CLUSTERS,
        train_size: int = DEFAULT_TRAIN_SIZE,
        max_iter: int = DEFAULT_MAX_ITER,
        seed: int = 42,
        id_col: str = "id",
        vector_col: str = "vector",
        engine: str = "sample",
    ) -> "IVFIndex":
        """Train on a deterministic sample (order by id, take train_size) —
        the reference trains on the first ``train_size`` inserts.

        engine="sample" (default): collect the size-capped sample and run
        driver-side numpy k-means — the sample is <= train_size rows
        (~30 MB at 10k x 384), and MLlib's distributed Lloyd pays ~maxIter
        rounds of job-scheduling overhead for data this small.
        engine="mllib": distributed KMeans for when train_size is raised
        beyond driver scale."""
        X = (
            _arrow.collect_matrix(
                vectors.select(vector_col).orderBy(vectors[id_col]).limit(train_size),
                vector_col,
            )
            if engine == "sample"
            else None
        )
        # a sample short of train_size holds every row: its size is the
        # count; a full one (n >= train_size) at least as large as both
        # thresholds below decides them as the count would
        whole = X is not None and len(X) < train_size
        full = X is not None and not whole and len(X) >= max(MIN_TRAINING_SIZE, n_clusters)
        n = len(X) if whole or full else vectors.count()
        row_count = None if full else n  # a full sample only stands in for the count
        if n < MIN_TRAINING_SIZE:
            return cls(centroids=None, id_col=id_col, vector_col=vector_col, row_count=row_count)
        n_clusters = min(n_clusters, n)  # k-means needs >= k points (ivf/core.rs:252)

        if X is not None:
            from fabstir_vectordb_spark.operators._kmeans import (
                kmeans_fit,
                training_error,
            )

            cents = kmeans_fit(
                X, n_clusters, iters=max_iter, rng=np.random.RandomState(seed)
            )
            idx = cls(centroids=cents, id_col=id_col, vector_col=vector_col, row_count=row_count)
            idx.training_error = training_error(X, cents)
            return idx

        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = (
            vectors.select(F.col(vector_col).alias("__arr"))
            .orderBy(vectors[id_col])
            .limit(train_size)
            .withColumn("features", array_to_vector(F.col("__arr").cast("array<double>")))
        )
        km = KMeans(k=n_clusters, maxIter=max_iter, seed=seed, featuresCol="features")
        model = km.fit(train)
        cents = np.array([np.asarray(c) for c in model.clusterCenters()], dtype=np.float64)
        return cls(centroids=cents, id_col=id_col, vector_col=vector_col, row_count=row_count)

    @property
    def n_clusters(self) -> int:
        return 0 if self.centroids is None else len(self.centroids)

    @property
    def is_trained(self) -> bool:
        return self.centroids is not None

    # --------------------------------------------------------------- assign

    def nearest(self, V: np.ndarray) -> np.ndarray:
        """Nearest-centroid cluster ids (int32) of the rows of ``V`` (float64,
        as ``_arrow.matrix`` reads a vector column) — the one assignment
        kernel of IVF insert (ivf/core.rs:431-455): ``assign`` runs it per
        Arrow batch, a session runs it on the driver over an insert batch."""
        C = self.centroids
        return _nearest(V, C, (C * C).sum(axis=1))

    def assign(self, vectors: DataFrame, out_col: str = "cluster_id") -> DataFrame:
        """Add nearest-centroid cluster ids (IVF insert, ivf/core.rs:431-455).

        Arrow-batched ``nearest`` over the broadcast centroid matrix —
        one (batch x n_clusters) GEMM per Arrow batch, no per-row Python.
        The input columns pass through the kernel untouched.
        (A pure column-expression argmin over 256 centroids x D dims blows
        past codegen method limits, so the kernel is the right physical
        choice here.)
        """
        if self.centroids is None:
            return vectors.withColumn(out_col, F.lit(0))

        bc = vectors.sparkSession.sparkContext.broadcast(self.centroids)
        vector_col = self.vector_col
        out_schema = T.StructType(list(vectors.schema)).add(out_col, T.IntegerType(), False)

        def assign_batches(batches):
            index = IVFIndex(centroids=bc.value)
            for b in batches:
                if b.num_rows == 0:
                    continue
                V = _arrow.matrix(b.column(vector_col), vector_col)
                yield _arrow.append(b, out_col, pa.array(index.nearest(V)))

        return vectors.mapInArrow(assign_batches, out_schema)

    # --------------------------------------------------------------- search

    def probes_by_cluster(self, Q: np.ndarray, n_probe: int) -> dict[int, np.ndarray]:
        """{cluster id: positions in ``Q`` of the queries probing it}: each
        query probes its ``n_probe`` nearest centroids in ``_probe_order``
        (ivf/core.rs:645-656).  The ``probes`` argument of
        ``knn.partial_knn`` and ``pq.partial_adc``."""
        by_cluster: dict[int, list[int]] = {}
        for pos, q in enumerate(Q):
            for cid in _probe_order(self.centroids, q, n_probe):
                by_cluster.setdefault(int(cid), []).append(pos)
        return {c: np.asarray(p, dtype=np.int64) for c, p in by_cluster.items()}

    def search(
        self,
        vectors_with_cluster: DataFrame,
        queries: DataFrame,
        k: int,
        n_probe: int = DEFAULT_N_PROBE,
        metric: str = "l2",
        cluster_col: str = "cluster_id",
        query_id_col: str = "query_id",
        query_vector_col: str = "vector",
    ) -> DataFrame:
        """Probe n_probe clusters per query, exact top-k within the probe
        set: the plans of ``search_bulk``, whose bounded one collects the
        queries once and merges on the driver."""
        return self.search_bulk(
            vectors_with_cluster, queries, k, n_probe, metric, cluster_col,
            query_id_col, query_vector_col,
        )

    def search_bulk(
        self,
        vectors_with_cluster: DataFrame,
        queries: DataFrame,
        k: int,
        n_probe: int = DEFAULT_N_PROBE,
        metric: str = "l2",
        cluster_col: str = "cluster_id",
        query_id_col: str = "query_id",
        query_vector_col: str = "vector",
        sub_blocks: int = 1,
    ) -> DataFrame:
        """IVF probe search over a query set held in a DataFrame (reference
        analogue: parallel_search, src/hybrid/search_integration.rs:125-211,
        which loops per query; this is set-at-a-time).

        Bounded plan: a query set that passes ``knn._driver_queries`` (one
        collect, capped before it runs by the centroids' dim, of float64
        query vectors within ``knn._MAX_DRIVER_QUERY_BYTES`` and Q * k *
        scan partitions partial rows within
        ``knn._MAX_DRIVER_PARTIAL_ROWS``)
        has its probes ranked on the driver (``probes_by_cluster``) and is
        broadcast with them into one ``knn.partial_knn`` pass over the
        probed clusters; the partial rows merge on the driver and the
        result is a local relation.  No exchange runs.

        Cogroup plan, above the caps: centroids (tiny, driver-held by
        construction) broadcast into a map-only Arrow kernel
        (``probe_pairs``) that ranks them for each query of a batch and
        emits the n_probe nearest as (query, cluster) rows — distributed
        probe selection with the exact ranking arithmetic of the driver
        path (both rank with ``_probe_order``).  The probe table (Q x
        n_probe rows) then COGROUPS with the clustered table on
        cluster_id, and each cluster runs one vectorized GEMM kernel
        emitting <= k rows per (query, cluster) — the same block-partial
        shape as knn_bulk, with the IVF cluster as the block.  (Both a
        plain join + distance expression and a crossJoin + window over
        centroids leave the distance in interpreted higher-order
        functions — HOFs never enter whole-stage codegen — which
        measured ~10x slower at Q=8 and ~100s at Q=2000 when the query
        side sat on one post-limit partition.)

        ``sub_blocks`` (cogroup plan): the cogroup loads ONE block's
        vectors into one task's Arrow frame, so a block must fit task
        memory.  With S > 1 each cluster splits into S hash sub-blocks
        (probes replicate per sub-block — an S-fold fanout of the tiny
        probe table, the same deliberate small-side cost as knn_bulk's
        vector_blocks knob); size S so cluster_rows/S * dim * 8B fits an
        executor task.  The merge is unchanged: top-k over block-local
        partials is exact for any partitioning of the same probed row set.

        At n_probe = n_clusters this is exactly brute force — the
        reference's own ground-truth trick and our oracle hook.
        """
        check_metric(metric)
        if self.centroids is None:
            return knn_bulk(
                vectors_with_cluster, queries, k, metric=metric,
                id_col=self.id_col, vector_col=self.vector_col,
                query_id_col=query_id_col, query_vector_col=query_vector_col,
            )
        qid_type = queries.schema[query_id_col].dataType
        bounded = _driver_queries(
            queries, query_id_col, query_vector_col,
            k * scan_partitions(vectors_with_cluster), self.centroids.shape[1],
        )
        if bounded is not None:
            qids, Q = bounded
            return _knn_on_driver(
                vectors_with_cluster.select(
                    self.id_col, self.vector_col, F.col(cluster_col).alias("cluster_id")
                ),
                qids, Q, qid_type, k, metric, self.id_col, self.vector_col,
                probes=self.probes_by_cluster(Q, n_probe),
            )
        spark = vectors_with_cluster.sparkSession
        probes = self.probe_pairs(
            queries, n_probe,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )
        v = vectors_with_cluster.select(
            F.col(self.id_col).alias("id"),
            F.col(self.vector_col).alias("__v"),
            F.col(cluster_col).cast("int").alias("__blk"),
        )
        if sub_blocks > 1:
            S = sub_blocks
            v = v.withColumn(
                "__blk",
                F.col("__blk") * S
                + F.pmod(F.xxhash64(F.col("id")), F.lit(S)).cast("int"),
            )
            subs = spark.range(S).select(F.col("id").cast("int").alias("__sub"))
            probes = probes.crossJoin(subs).select(
                "query_id",
                (F.col("__blk") * S + F.col("__sub")).alias("__blk"),
                "__qv",
            )
        partials = cogroup_block_knn(
            v, probes, k, metric,
            qid_type=qid_type,
            id_type=vectors_with_cluster.schema[self.id_col].dataType,
        )
        return topk_per_query(partials, k)

    def probe_pairs(
        self,
        queries: DataFrame,
        n_probe: int,
        query_id_col: str = "query_id",
        query_vector_col: str = "vector",
    ) -> DataFrame:
        """Distributed probe selection: (query_id, __blk, __qv) rows, one
        per probed cluster — a map-only Arrow kernel over the broadcast
        centroids with the exact ranking order of the driver path
        (``probes_by_cluster``; both rank with ``_probe_order``).  Shared
        by ``search_bulk`` and the IVFPQ composition (operators/ivfpq.py)."""
        if self.centroids is None:
            raise ValueError(
                "index is untrained (brute-force mode): no centroids to probe"
            )
        bc = queries.sparkSession.sparkContext.broadcast(self.centroids)
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vector_col).alias("__qv"),
        )
        probe_schema = T.StructType(
            [
                T.StructField("query_id", queries.schema[query_id_col].dataType, False),
                T.StructField("__blk", T.IntegerType(), False),
                T.StructField("__qv", q.schema["__qv"].dataType, False),
            ]
        )
        np_ = min(n_probe, self.n_clusters)

        def probe_kernel(batches):
            C = np.asarray(bc.value, dtype=np.float64)
            for b in batches:
                if b.num_rows == 0:
                    continue
                Q = _arrow.matrix(b.column("__qv"), query_vector_col)
                blk = np.concatenate([_probe_order(C, qv, np_) for qv in Q])
                rows = np.repeat(np.arange(len(Q)), np_)
                yield pa.record_batch({
                    "query_id": b.column("query_id").take(rows),
                    "__blk": pa.array(blk.astype(np.int32)),
                    "__qv": b.column("__qv").take(rows),
                })

        return q.mapInArrow(probe_kernel, probe_schema)

    # ------------------------------------------------------------- evaluate

    def evaluate_recall(
        self,
        vectors_with_cluster: DataFrame,
        queries: DataFrame,
        k: int,
        n_probe: int,
        **search_cols,
    ) -> dict:
        """ANN vs exhaustive ground truth (ivf/operations.rs:329-391)."""
        ann = self.search(vectors_with_cluster, queries, k, n_probe, **search_cols)
        exact = brute_force_knn(
            vectors_with_cluster, queries, k,
            id_col=self.id_col, vector_col=self.vector_col,
        )
        hits = ann.select("query_id", "id").intersect(exact.select("query_id", "id"))
        n_queries = queries.count()
        n_hits = hits.count()
        n_exact = exact.count()
        n_ann = ann.count()
        return {
            "avg_recall": n_hits / n_exact if n_exact else 1.0,
            "avg_precision": n_hits / n_ann if n_ann else 1.0,
            "n_queries": n_queries,
        }

    # ---------------------------------------------------------- maintenance

    def cluster_stats(self, assigned: DataFrame, cluster_col: str = "cluster_id") -> dict:
        """n_clusters, total, avg/variance of sizes, empty count
        (ivf/operations.rs:264-289, size variance :552-564)."""
        sizes = assigned.groupBy(cluster_col).count()
        row = sizes.agg(
            F.sum("count").alias("total"),
            F.avg("count").alias("avg"),
            F.var_pop("count").alias("var"),
            F.count("*").alias("nonempty"),
        ).collect()[0]
        return {
            "n_clusters": self.n_clusters,
            "total_vectors": row["total"] or 0,
            "avg_cluster_size": float(row["avg"] or 0.0),
            "size_variance": float(row["var"] or 0.0),
            "empty_clusters": self.n_clusters - (row["nonempty"] or 0),
        }

    def retrain(self, vectors: DataFrame, n_clusters: int | None = None, **fit_kw) -> "IVFIndex":
        """Re-fit with a new cluster count and reassign — covers the
        reference's retrain / add_clusters / optimize / balance family
        (ivf/operations.rs:148-261,422-492): Spark assignment is always
        exact nearest-centroid, so imbalance repair IS retraining."""
        return IVFIndex.fit(
            vectors,
            n_clusters=n_clusters or self.n_clusters or DEFAULT_N_CLUSTERS,
            id_col=self.id_col,
            vector_col=self.vector_col,
            **fit_kw,
        )

    # ---------------------------------------------------------- persistence

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        meta = {
            "n_clusters": self.n_clusters,
            "id_col": self.id_col,
            "vector_col": self.vector_col,
            "centroids": None if self.centroids is None else self.centroids.tolist(),
        }
        with open(os.path.join(path, "ivf_index.json"), "w") as f:
            json.dump(meta, f)

    @classmethod
    def load(cls, path: str) -> "IVFIndex":
        with open(os.path.join(path, "ivf_index.json")) as f:
            meta = json.load(f)
        cents = meta["centroids"]
        return cls(
            centroids=None if cents is None else np.asarray(cents, dtype=np.float64),
            id_col=meta["id_col"],
            vector_col=meta["vector_col"],
        )


def write_clustered(
    vectors: DataFrame,
    index: IVFIndex,
    path: str,
    cluster_col: str = "cluster_id",
    codec: str = "snappy",
) -> None:
    """Persist the clustered table partitioned by cluster id — the Spark
    equivalent of the reference's per-list chunk files (SURVEY §2.7): a
    probed query reads only its clusters' files (partition pruning).

    ``codec``: parquet compression — the reference's CBOR+zstd chunk
    format (SURVEY §2 row 71) maps to ``codec="zstd"`` here; snappy
    stays the hot-table default (cheaper decode on the probe path)."""
    assigned = index.assign(vectors, out_col=cluster_col)
    assigned.write.mode("overwrite").option("compression", codec).partitionBy(
        cluster_col
    ).parquet(path)
    index.save(path)


def read_clustered(spark: SparkSession, path: str) -> tuple[DataFrame, IVFIndex]:
    return spark.read.parquet(path), IVFIndex.load(path)
