"""HNSW — partition-local small-world graphs as the recent-side ANN index.

Parity target: the reference's HNSW graph (src/hnsw/core.rs — insert
:226-396, search :398-467, search_layer :469-554, level assignment
:211-224, config M=16/M0=32/ef_construction=200 at :30-46) and its graph
stats (src/hnsw/operations.rs:227-272).  SURVEY §2 rows 35/36/58 mapped
these to "no Spark equivalent" because a single global pointer-chasing
graph is perpendicular to BSP execution; this module implements the
Spark-native shape instead:

**Partition-local graphs.**  Vectors are hashed into ``num_graphs``
disjoint graphs (``graph_id = pmod(xxhash64(id), G)``); each graph is
built INDEPENDENTLY inside one ``applyInPandas`` task with the standard
HNSW insertion algorithm (Malkov & Yashunin 2016, IEEE TPAMI 40(4) —
public literature).  A query runs the multi-layer beam search on every
graph in parallel and the per-graph top-k partials are merged by the
same O(Q·G·k) window ``topk_per_query`` used by the exact kernel — the
identical partial-reduction shape as operators/knn.py, so the global
result is the union-best of G local searches.

Why this is the right 100 TB shape: each graph is a bounded-size,
memory-resident structure (size ≈ N/G nodes) that builds in one task
with zero cross-partition chatter — construction is embarrassingly
parallel, the one shuffle is the graph-id hash.  Search fans out to G
tasks and shuffles only G·k candidate rows per query.  Recall: a global
top-k is the union of the per-graph top-k's, so partitioning LOSES
nothing structurally — each local search just has a smaller haystack
(the same argument as per-partition brute force); the only
approximation is HNSW's own beam search, bounded by ``ef``.

Determinism: insertion order is sorted id; node levels are a pure
function of xxhash64(id) and ``seed`` (splitmix64 → exponential via
inverse CDF, p = 1/ln(M) as in the reference's geometric level draw),
so the graph for a given (dataset, config) is reproducible across runs
and engines — no RNG state anywhere.

Exactness hook (the oracle): with ``M0 >= partition size`` every layer-0
graph is complete, and with ``ef >= partition size`` the beam retains
every node, so search degenerates to an exhaustive scan per graph and
the merged result is EXACTLY brute-force kNN — certified against the
same DuckDB SQL oracle as the exact metrics (hnsw_exact part of
knn_metrics in __spark_entry__.py).  At realistic (M, ef) the invariant
row (ann_lsh 'hnsw' part) checks rank-wise dominance + at-most-k.

Deletions follow the reference's soft-delete traversal semantics
(hnsw/core.rs: deleted nodes stay in the graph, keep routing, and are
filtered from RESULTS only): pass ``deleted_col`` and search traverses
through deleted nodes but never emits them.
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fabstir_vectordb_spark.operators.topk import topk_per_query

_SPLITMIX_C0 = np.uint64(0x9E3779B97F4A7C15)
_SPLITMIX_C1 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_C2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(z: np.ndarray) -> np.ndarray:
    z = z + _SPLITMIX_C0
    z = (z ^ (z >> np.uint64(30))) * _SPLITMIX_C1
    z = (z ^ (z >> np.uint64(27))) * _SPLITMIX_C2
    return z ^ (z >> np.uint64(31))


def _levels_from_hash(h: np.ndarray, m_l: float, seed: int, max_level: int = 16) -> np.ndarray:
    """Deterministic level draw: u = uniform(0,1) from splitmix64(h ^ seed),
    level = floor(-ln(u) * mL) — the inverse-CDF form of the reference's
    geometric draw (hnsw/core.rs:211-224), RNG-free."""
    u64 = _splitmix64(h.astype(np.uint64) ^ np.uint64(seed & 0xFFFFFFFFFFFFFFFF))
    # 53 high bits -> (0,1]; +1 ulp keeps u away from exact 0
    u = ((u64 >> np.uint64(11)).astype(np.float64) + 1.0) * (2.0 ** -53)
    return np.minimum(np.floor(-np.log(u) * m_l), max_level).astype(np.int32)


def _search_layer(q, eps, ef, layer, V, nbrs, dcache, visited=None):
    """Classic HNSW beam over one layer.  ``eps``: entry positions;
    returns list of (dist, pos) sorted ascending, len <= ef.  ``nbrs``
    is pos -> list of per-layer neighbor position arrays; ``dcache``
    memoizes pos -> distance for this query.

    The expansion step is VECTORIZED: all unvisited neighbors of the
    popped candidate get their distances in one (deg, dim) numpy matrix
    op instead of deg Python-level evaluations, and the visited set is a
    numpy bool array (``visited`` may be passed in pre-zeroed and is
    reset before return, so the hot loop never reallocates it) — the hop
    order and results are identical to the scalar form, only ~M× fewer
    interpreter round-trips per hop."""

    def dist(p):
        d = dcache.get(p)
        if d is None:
            diff = V[p] - q
            d = math.sqrt(float(diff @ diff))
            dcache[p] = d
        return d

    seen = visited if visited is not None else np.zeros(len(V), dtype=bool)
    touched = list(eps)
    seen[touched] = True
    cand = [(dist(p), p) for p in eps]
    heapq.heapify(cand)
    best = [(-d, p) for d, p in cand]
    heapq.heapify(best)
    while len(best) > ef:
        heapq.heappop(best)
    while cand:
        d, c = heapq.heappop(cand)
        if len(best) >= ef and d > -best[0][0]:
            break
        cn = nbrs[c]
        if layer >= len(cn):
            continue
        cnl = cn[layer]
        fresh = cnl[~seen[cnl]]
        if not len(fresh):
            continue
        seen[fresh] = True
        touched.extend(fresh.tolist())
        diff = V[fresh] - q
        ds = np.sqrt(np.einsum("ij,ij->i", diff, diff))
        if len(best) >= ef:
            # batch prefilter at the (stale, hence looser) bound: anything
            # failing it also fails the exact per-item check below, so
            # behavior is bit-identical — just ~M× fewer loop iterations
            # once the beam has filled
            m = ds < -best[0][0]
            if not m.any():
                continue
            fresh, ds = fresh[m], ds[m]
        for nb, d2 in zip(fresh.tolist(), ds.tolist()):
            dcache[nb] = d2
            if len(best) < ef or d2 < -best[0][0]:
                heapq.heappush(cand, (d2, nb))
                heapq.heappush(best, (-d2, nb))
                if len(best) > ef:
                    heapq.heappop(best)
    if visited is not None:
        seen[touched] = False  # reset the shared scratch for the next call
    return sorted((-nd, p) for nd, p in best)


def _insert_node(i, V, levels, nbrs, entry, max_lvl, M, M0, ef_c, visited=None):
    """Insert node position ``i`` into an existing in-memory graph —
    the shared core of build() and insert() (hnsw/core.rs:226-396).
    Returns the (possibly updated) (entry, max_lvl)."""
    q = V[i]
    l = int(levels[i])
    dcache: dict[int, float] = {}
    eps = [entry]
    for lc in range(max_lvl, l, -1):
        eps = [_search_layer(q, eps, 1, lc, V, nbrs, dcache, visited)[0][1]]
    for lc in range(min(l, max_lvl), -1, -1):
        W = _search_layer(q, eps, ef_c, lc, V, nbrs, dcache, visited)
        m_max = M0 if lc == 0 else M
        sel = [p for _, p in W[:M]]
        nbrs[i][lc] = np.asarray(sel, dtype=np.int64)
        for p in sel:
            plist = nbrs[p][lc]
            if len(plist) < m_max:
                nbrs[p][lc] = np.append(plist, i)
            else:
                # prune: keep the m_max closest to p (bidirectional
                # link displaces the worst edge, hnsw/core.rs:358-396)
                cand_pos = np.append(plist, i)
                dd = np.sqrt(((V[cand_pos] - V[p]) ** 2).sum(axis=1))
                keep = np.lexsort((cand_pos, dd))[:m_max]
                nbrs[p][lc] = cand_pos[keep]
        eps = [p for _, p in W]
    if l > max_lvl:
        return i, l
    return entry, max_lvl


def _build_local_graph(V: np.ndarray, levels: np.ndarray, M: int, M0: int, ef_c: int):
    """Build one in-memory HNSW graph over rows of V (insertion order =
    row order).  Returns nbrs: pos -> [np.array(layer 0), ...] up to that
    node's level.  Neighbor selection is closest-M (the reference's
    simple selection; the diversity heuristic is a quality knob, not a
    semantic)."""
    n = len(V)
    nbrs: list[list[np.ndarray]] = [
        [np.empty(0, dtype=np.int64) for _ in range(int(levels[i]) + 1)] for i in range(n)
    ]
    if n == 0:
        return nbrs, -1
    entry, max_lvl = 0, int(levels[0])
    visited = np.zeros(n, dtype=bool)  # shared scratch, reset per search
    for i in range(1, n):
        entry, max_lvl = _insert_node(
            i, V, levels, nbrs, entry, max_lvl, M, M0, ef_c, visited
        )
    return nbrs, max_lvl


def _entry_pos(levels: np.ndarray, ids: np.ndarray) -> int:
    """Entry point = max level, ties to min id (deterministic; the
    reference keeps the first max-level node, which under sorted-id
    insertion is the same node)."""
    top = int(levels.max())
    at_top = np.flatnonzero(levels == top)
    return int(at_top[np.argsort(ids[at_top], kind="stable")[0]])


def _graph_schema(id_t) -> "T.StructType":
    """The persisted per-node graph row (build, insert, and compaction
    all emit it)."""
    return T.StructType(
        [
            T.StructField("graph_id", T.IntegerType(), False),
            T.StructField("id", id_t, False),
            T.StructField("level", T.IntegerType(), False),
            T.StructField("neighbors", T.ArrayType(T.ArrayType(id_t)), False),
            T.StructField("vector", T.ArrayType(T.DoubleType()), False),
            T.StructField("deleted", T.BooleanType(), False),
        ]
    )


def _build_kernel(out_schema, M, M0, ef_c, m_l, seed):
    """One-graph-per-task build kernel over (id, __v, deleted,
    graph_id, __h) rows — shared by build() and compact_graph() so a
    compacted graph is bit-identical to a fresh build of its
    survivors."""

    def build_graph(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        # sorted-id insertion: deterministic graphs (see module doc)
        pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
        levels = _levels_from_hash(
            pdf["__h"].to_numpy().astype(np.uint64), m_l, seed
        )
        nbrs, _ = _build_local_graph(V, levels, M, M0, ef_c)
        ids = pdf["id"].to_numpy()
        return pd.DataFrame(
            {
                "graph_id": pdf["graph_id"].to_numpy(),
                "id": ids,
                "level": levels,
                "neighbors": [
                    [ids[layer].tolist() for layer in node] for node in nbrs
                ],
                "vector": [v.tolist() for v in V],
                "deleted": pdf["deleted"].to_numpy(),
            }
        )

    return build_graph


class HNSWIndex:
    """Partition-local HNSW over a vectors DataFrame.

    ``build`` materializes the graphs as a plain DataFrame
    (graph_id, id, level, neighbors, vector) — persistence is therefore
    just ``write_graph``/``read_graph`` (parquet partitionBy(graph_id)),
    the same merge-on-read story as the IVF clustered table.
    """

    def __init__(self, M=16, M0=32, ef_construction=200, num_graphs=None, seed=42,
                 id_col="id", vector_col="vector", metric="l2",
                 target_graph_size=4096, partitioner="hash",
                 assign_graphs=1):
        self.M, self.M0, self.ef_construction = int(M), int(M0), int(ef_construction)
        self.num_graphs = num_graphs
        # when num_graphs is not pinned, build() sizes G so each graph
        # holds ~target_graph_size nodes: per-graph construction cost is
        # superlinear in nodes-per-graph, so bounding it keeps build
        # wall-clock flat as N grows (graphs are embarrassingly parallel)
        self.target_graph_size = int(target_graph_size)
        # 'hash': uniform graph membership — every search must beam all
        # G graphs (the exactness-friendly default).  'kmeans': graph
        # membership = coarse cluster, so search_bulk(probe_graphs=R)
        # can route each query to its R nearest graphs and per-query
        # cost stops growing with the corpus — the same nested-probe
        # trade as IVF, layered over the local graphs (cf. the public
        # IVF+HNSW coarse-quantizer composition in the FAISS line of
        # work).  probe_graphs=G stays exhaustive under either.
        if partitioner not in ("hash", "kmeans"):
            raise ValueError(f"unknown partitioner {partitioner!r}")
        self.partitioner = partitioner
        self._routers = None  # np.ndarray (G, dim) for kmeans builds
        # multi-assignment (kmeans only): insert each vector into its
        # `assign_graphs` nearest-router graphs — the public ANN "spill"
        # trick (cf. spill trees / SPANN's boundary replication).  A
        # boundary vector sits near 2+ routers; single-assignment puts
        # it in exactly one graph, so a probe-pruned search arriving via
        # the OTHER router misses it systematically.  Spilling costs
        # assign_graphs x storage/build and buys routed recall at small
        # probe budgets; search results are deduplicated per (query, id)
        # before the global top-k, so exactness contracts are unchanged.
        if int(assign_graphs) < 1:
            raise ValueError("assign_graphs must be >= 1")
        if int(assign_graphs) > 1 and partitioner != "kmeans":
            raise ValueError("assign_graphs > 1 requires partitioner='kmeans'")
        self.assign_graphs = int(assign_graphs)
        self.seed = int(seed)
        self.id_col, self.vector_col = id_col, vector_col
        if metric not in ("l2", "cosine"):
            raise ValueError(f"unknown metric {metric!r}; one of ('l2', 'cosine')")
        # cosine (the reference's WASM index metric, bindings/wasm/src/
        # index.rs:131-137) rides on L2 over UNIT vectors: on the unit
        # sphere ||a-b||^2 = 2*(1 - cos), a monotone map, so the graph,
        # the beam, and the top-k order are all EXACTLY the cosine ones;
        # emitted distances are converted back to 1 - cos.
        self.metric = metric
        self.m_l = 1.0 / math.log(max(self.M, 2))

    def _route(self, router_ivf, prep: DataFrame,
               deleted_col: str | None = None) -> DataFrame:
        """``prep`` + cluster_id, honoring multi-assignment: top-1 is
        the plain broadcast nearest-centroid pass; assign_graphs > 1
        emits one row per (vector, nearest-graph) pair via the probe
        kernel — map-only (the vector rides through the kernel), no
        join back, so spilling adds zero corpus shuffles.  A deleted
        flag (rare at build time) is re-attached via a slim id join."""
        if self.assign_graphs <= 1:
            return router_ivf.assign(prep)
        pairs = router_ivf.probe_pairs(
            prep, self.assign_graphs,
            query_id_col=self.id_col, query_vector_col=self.vector_col,
        ).select(
            F.col("query_id").alias(self.id_col),
            F.col("__qv").alias(self.vector_col),
            F.col("__blk").cast("int").alias("cluster_id"),
        )
        if deleted_col is not None:
            pairs = pairs.join(
                prep.select(self.id_col, deleted_col), self.id_col
            )
        return pairs

    def _prep(self, df: DataFrame, col: str) -> DataFrame:
        """Unit-normalize `col` in place for cosine mode (JVM-side HOF).
        Zero vectors pass through unchanged — they stay detectable as
        norm-0 rows, and search_bulk's kernel emits exactly 1.0 for them
        (the same 0-norm guard as the exact cosine kernel), rather than
        the 0.5 a naive unit-sphere conversion would produce."""
        if self.metric != "cosine":
            return df
        v = F.col(col)
        nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
        return df.withColumn(
            col,
            F.when(nrm == 0.0, v).otherwise(
                F.transform(v, lambda x: x / nrm)
            ),
        )

    # -- construction ----------------------------------------------------
    def build(self, vectors: DataFrame, deleted_col: str | None = None) -> DataFrame:
        """One applyInPandas task per graph; the only shuffle is the
        graph-id hash partition.  Output columns: graph_id, id, level,
        neighbors (array<array<id>>, layer-major), vector, deleted."""
        spark = vectors.sparkSession
        if self.num_graphs:
            G = int(self.num_graphs)
        else:
            # auto-size: bound nodes-per-graph (superlinear build cost),
            # floor at cluster parallelism so small builds still fan out.
            # The count is one cheap job over the slim (id) projection.
            n = vectors.select(self.id_col).count()
            G = max(
                int(spark.sparkContext.defaultParallelism),
                -(-n // max(self.target_graph_size, 1)),
            )
            self.num_graphs = G  # pin so insert() hashes consistently
        id_t = vectors.schema[self.id_col].dataType
        M, M0, ef_c, m_l, seed = self.M, self.M0, self.ef_construction, self.m_l, self.seed

        prep = self._prep(vectors, self.vector_col)
        if self.partitioner == "kmeans":
            # graph membership = coarse k-means cluster: same bounded
            # local graphs, but now search can ROUTE (probe_graphs=R)
            # instead of beaming all G.  Train on a deterministic
            # size-capped sample like IVFIndex.fit; assignment is the
            # same broadcast nearest-centroid pass.
            from fabstir_vectordb_spark.operators._kmeans import kmeans_fit
            from fabstir_vectordb_spark.operators.ivf import IVFIndex

            sample = (
                prep.select(F.col(self.vector_col).alias("__arr"))
                .orderBy(F.col(self.id_col))
                .limit(10_000)
                .collect()
            )
            X = np.asarray([np.asarray(r[0], dtype=np.float64) for r in sample])
            G = min(G, len(X))
            self.num_graphs = G
            cents = kmeans_fit(
                X, G, iters=10, rng=np.random.RandomState(self.seed)
            )
            self._routers = np.asarray(cents, dtype=np.float64)
            router_ivf = IVFIndex(
                centroids=self._routers, id_col=self.id_col,
                vector_col=self.vector_col,
            )
            graph_expr = F.col("cluster_id").cast("int")
            prep = self._route(router_ivf, prep, deleted_col)
        else:
            graph_expr = F.pmod(
                F.xxhash64(F.col(self.id_col)), F.lit(G)
            ).cast("int")
        src = prep.select(
            F.col(self.id_col).alias("id"),
            F.col(self.vector_col).alias("__v"),
            (F.col(deleted_col) if deleted_col else F.lit(False)).alias("deleted"),
            graph_expr.alias("graph_id"),
            F.xxhash64(F.col(self.id_col), F.lit(self.seed)).alias("__h"),
        )
        out_schema = _graph_schema(id_t)
        build_graph = _build_kernel(out_schema, M, M0, ef_c, m_l, seed)
        return src.groupBy("graph_id").applyInPandas(build_graph, out_schema)

    def insert(
        self,
        graph: DataFrame,
        new_vectors: DataFrame,
        deleted_col: str | None = None,
    ) -> DataFrame:
        """Incremental batch insert into existing graphs — the recent-
        delta mutation path (the reference inserts one vector at a time,
        hnsw/core.rs:226-396; here a batch cogroups with its graphs and
        each task runs the same insertion loop for ONLY the new nodes).

        Insertion order is existing-first then new-sorted-by-id, so
        ``insert(build(A), B)`` is a valid deterministic HNSW graph but
        not necessarily edge-identical to ``build(A ∪ B)``; the search
        contracts (dominance, recall, exactness at complete-graph
        config) hold identically — HNSW semantics never depended on
        insertion order.  Returns the updated graph DataFrame."""
        spark = graph.sparkSession
        if self.num_graphs:
            # G is a constant of the index — carried on the instance
            # (build() pins it), no job needed
            G = int(self.num_graphs)
        else:
            # loaded-graph path: one max() scan (graph_id is a parquet
            # partition column, so this prunes to footer metadata) —
            # cheaper than the former distinct().count() shuffle
            G = int(graph.agg(F.max("graph_id")).first()[0] or 0) + 1
            self.num_graphs = G
        G = max(G, 1)
        id_t = graph.schema["id"].dataType
        M, M0, ef_c, m_l, seed = self.M, self.M0, self.ef_construction, self.m_l, self.seed

        prep = self._prep(new_vectors, self.vector_col)
        if self.partitioner == "kmeans":
            # route new vectors to their nearest-centroid graph so the
            # probe-pruned search keeps seeing cluster-coherent graphs.
            # Routers lost across a reload (index re-instantiated, graph
            # read back from disk) are REDERIVED from the graph itself
            # (per-graph mean vectors, one bounded G-row collect) rather
            # than silently falling back to hash assignment — hash-placed
            # inserts land in cluster-incoherent graphs that a
            # probe_graphs<G search would systematically miss (ADVICE r5).
            from fabstir_vectordb_spark.operators.ivf import IVFIndex

            if self._routers is None:
                rows = self.graph_routers(graph).collect()
                if rows:
                    cents = np.zeros(
                        (G, len(rows[0]["__router"])), dtype=np.float64
                    )
                    for r in rows:
                        cents[int(r["graph_id"])] = np.asarray(
                            r["__router"], dtype=np.float64
                        )
                    self._routers = cents
            if self._routers is not None:
                prep = self._route(
                    IVFIndex(
                        centroids=self._routers, id_col=self.id_col,
                        vector_col=self.vector_col,
                    ),
                    prep, deleted_col,
                )
                graph_expr = F.col("cluster_id").cast("int")
            else:  # empty graph: nothing to route against yet
                graph_expr = F.pmod(
                    F.xxhash64(F.col(self.id_col)), F.lit(G)
                ).cast("int")
        else:
            graph_expr = F.pmod(
                F.xxhash64(F.col(self.id_col)), F.lit(G)
            ).cast("int")
        new = prep.select(
            F.col(self.id_col).alias("id"),
            F.col(self.vector_col).alias("__v"),
            (F.col(deleted_col) if deleted_col else F.lit(False)).alias("__del"),
            graph_expr.alias("graph_id"),
            F.xxhash64(F.col(self.id_col), F.lit(self.seed)).alias("__h"),
        )
        out_schema = graph.select(
            "graph_id", "id", "level", "neighbors", "vector", "deleted"
        ).schema

        def merge_graph(key, gpdf: pd.DataFrame, npdf: pd.DataFrame) -> pd.DataFrame:
            cols = ["graph_id", "id", "level", "neighbors", "vector", "deleted"]
            if npdf.empty:
                return gpdf[cols] if not gpdf.empty else pd.DataFrame(columns=cols)
            gpdf = gpdf.sort_values("id", kind="mergesort").reset_index(drop=True)
            npdf = npdf.sort_values("id", kind="mergesort").reset_index(drop=True)
            n_old = len(gpdf)
            V_old = (
                np.asarray([np.asarray(v, dtype=np.float64) for v in gpdf["vector"]])
                if n_old
                else np.empty((0, 0))
            )
            V_new = np.asarray([np.asarray(v, dtype=np.float64) for v in npdf["__v"]])
            V = np.vstack([V_old, V_new]) if n_old else V_new
            ids_old = gpdf["id"].to_numpy() if n_old else np.empty(0, dtype=object)
            pos = {v: i for i, v in enumerate(ids_old)}
            levels_new = _levels_from_hash(
                npdf["__h"].to_numpy().astype(np.uint64), m_l, seed
            )
            levels = np.concatenate(
                [gpdf["level"].to_numpy() if n_old else np.empty(0, dtype=np.int64),
                 levels_new]
            ).astype(np.int64)
            nbrs = [
                [np.asarray([pos[x] for x in layer], dtype=np.int64) for layer in node]
                for node in (gpdf["neighbors"] if n_old else [])
            ] + [
                [np.empty(0, dtype=np.int64) for _ in range(int(levels_new[j]) + 1)]
                for j in range(len(npdf))
            ]
            if n_old:
                entry = _entry_pos(levels[:n_old], ids_old)
                max_lvl = int(levels[entry])
                start = n_old
            else:
                entry, max_lvl = 0, int(levels[0])
                start = 1
            visited = np.zeros(len(V), dtype=bool)
            for i in range(start, len(V)):
                entry, max_lvl = _insert_node(
                    i, V, levels, nbrs, entry, max_lvl, M, M0, ef_c, visited
                )
            ids_all = np.concatenate([ids_old, npdf["id"].to_numpy()])
            deleted_all = np.concatenate(
                [gpdf["deleted"].to_numpy() if n_old else np.empty(0, dtype=bool),
                 npdf["__del"].to_numpy()]
            )
            gid = int(key[0])
            return pd.DataFrame(
                {
                    "graph_id": np.full(len(V), gid, dtype=np.int32),
                    "id": ids_all,
                    "level": levels,
                    "neighbors": [
                        [ids_all[layer].tolist() for layer in node] for node in nbrs
                    ],
                    "vector": [v.tolist() for v in V],
                    "deleted": deleted_all,
                }
            )

        return (
            graph.groupBy("graph_id")
            .cogroup(new.groupBy("graph_id"))
            .applyInPandas(merge_graph, out_schema)
        )

    # -- search ----------------------------------------------------------
    def graph_routers(self, graph: DataFrame) -> DataFrame:
        """(graph_id, __router) — one routing vector per graph for
        probe-pruned search.  kmeans builds carry their centroids on the
        index; otherwise (hash builds, loaded graphs) the routers are the
        per-graph mean vectors, computed in one pass over the graph
        table.  Compute once and pass to search_bulk(routers=...) when
        issuing many searches."""
        spark = graph.sparkSession
        if self._routers is not None:
            return spark.createDataFrame(
                [
                    (int(i), [float(x) for x in c])
                    for i, c in enumerate(self._routers)
                ],
                "graph_id int, __router array<double>",
            )
        out_schema = "graph_id int, __router array<double>"

        def mean_kernel(key, pdf):
            V = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["vector"]])
            return pd.DataFrame(
                {"graph_id": [int(key[0])], "__router": [V.mean(axis=0).tolist()]}
            )

        return graph.groupBy("graph_id").applyInPandas(mean_kernel, out_schema)

    def compact_graph(
        self,
        graph: DataFrame,
        min_deleted_fraction: float = 0.2,
    ) -> DataFrame:
        """Rebuild the graphs whose tombstone fraction reaches the
        threshold; every other graph passes through untouched.

        Soft deletes tombstone nodes (search traverses THROUGH them but
        filters them from results — deleteVector semantics,
        hnsw/core.rs:418-448), so a heavily-deleted graph spends its
        beam on dead nodes and its storage on dead vectors.  Compaction
        is the HNSW analogue of the session's parquet vacuum
        (session.py vacuum / sources/deletes.py): drop the tombstones
        and re-link edges over the survivors.

        Guarantees: the live (id, vector) set is unchanged, so every
        search contract (dominance, exactness at complete-graph config)
        holds identically on the compacted graph; graph membership is
        preserved (nodes keep their graph_id — no re-routing, so a
        kmeans-routed layout stays cluster-coherent); a rebuilt graph
        is bit-identical to a fresh build of its survivors (shared
        kernel, hash-derived levels).

        Cost shape at scale: one tiny per-graph aggregate (G rows to
        the driver) picks the rebuild set; only those graphs' live rows
        shuffle into the one-task-per-graph rebuild — graphs below the
        threshold are never touched, so the cost tracks the tombstone
        mass, not the corpus."""
        if not 0.0 < min_deleted_fraction <= 1.0:
            raise ValueError(
                f"min_deleted_fraction must be in (0, 1], got {min_deleted_fraction}"
            )
        frac = graph.groupBy("graph_id").agg(
            F.avg(F.col("deleted").cast("double")).alias("__df")
        )
        hot = [
            int(r["graph_id"])
            for r in frac.filter(
                F.col("__df") >= float(min_deleted_fraction)
            ).collect()
        ]
        if not hot:
            return graph
        keep = graph.filter(~F.col("graph_id").isin(hot))
        src = (
            graph.filter(F.col("graph_id").isin(hot) & ~F.col("deleted"))
            .select(
                "id",
                F.col("vector").alias("__v"),
                F.lit(False).alias("deleted"),
                "graph_id",
                F.xxhash64(F.col("id"), F.lit(self.seed)).alias("__h"),
            )
        )
        id_t = graph.schema["id"].dataType
        out_schema = _graph_schema(id_t)
        kernel = _build_kernel(
            out_schema, self.M, self.M0, self.ef_construction, self.m_l,
            self.seed,
        )
        rebuilt = src.groupBy("graph_id").applyInPandas(kernel, out_schema)
        return keep.unionByName(rebuilt)

    def search_bulk(
        self,
        graph: DataFrame,
        queries: DataFrame,
        k: int,
        ef: int | None = None,
        query_id_col: str = "query_id",
        query_vector_col: str = "vector",
        probe_graphs: int | None = None,
        routers: DataFrame | None = None,
    ) -> DataFrame:
        """Beam-search graphs for every query; merge per-graph partials
        with the exact global window.  Both sides stay DataFrames (no
        driver collect): queries are replicated per graph (Q x G rows —
        G is a knob, queries are the small side) and cogrouped with the
        node table, the same shape as knn.cogroup_block_knn.  Output:
        (query_id, id, distance) asc, k rows per query.

        ``probe_graphs=R`` routes each query to only its R nearest
        graphs by router distance (graph_routers) instead of beaming all
        G — the nested-probe trade that keeps per-query cost flat as the
        corpus (and therefore G) grows.  Meaningful routing needs a
        ``partitioner='kmeans'`` build (hash graphs are uniform, every
        router sits at the global mean); R=G stays exhaustive, and the
        per-query dominance contract holds at any R (pruning only LOSES
        candidates).  Default None = full fan-out, the exactness-hook
        configuration."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        spark = graph.sparkSession
        ef = int(ef) if ef else max(64, k)
        qid_t = queries.schema[query_id_col].dataType
        id_t = graph.schema["id"].dataType
        k_i = int(k)

        q0 = self._prep(queries, query_vector_col).select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vector_col).alias("__qv"),
        )
        if probe_graphs is not None:
            rt = routers if routers is not None else self.graph_routers(graph)
            rd = F.aggregate(
                F.zip_with(
                    "__qv", "__router",
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            w = Window.partitionBy("query_id").orderBy(
                F.col("__rd").asc(), F.col("graph_id").asc()
            )
            qrep = (
                q0.crossJoin(F.broadcast(rt))
                .withColumn("__rd", rd)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= int(probe_graphs))
                .select("query_id", "__qv", "graph_id")
            )
        else:
            if self.num_graphs:
                # G is a constant of the index (build() pins it): a local
                # range relation replaces the former full-table
                # distinct() — one aggregate pass + exchange over the
                # whole graph table REMOVED from every search (r12
                # optimization, guide §2.4).  Extra ids for empty graphs
                # are harmless: their cogroup bucket has no nodes and the
                # kernel emits nothing, exactly as before.
                gids = spark.range(int(self.num_graphs)).select(
                    F.col("id").cast("int").alias("graph_id")
                )
            else:
                # loaded-graph path (G unknown): (+0).alias mints a fresh
                # attribute so the cogroup below isn't an ambiguous
                # self-join against `graph`'s graph_id
                gids = graph.select(
                    (F.col("graph_id") + F.lit(0)).cast("int").alias("graph_id")
                ).distinct()
            qrep = q0.crossJoin(gids)
        out_schema = T.StructType(
            [
                T.StructField("query_id", qid_t, False),
                T.StructField("id", id_t, False),
                T.StructField("distance", T.DoubleType(), False),
            ]
        )

        cosine = self.metric == "cosine"
        arrow_schema = to_arrow_schema(out_schema)

        def graph_topk(ga: "pa.Table", qa: "pa.Table") -> "pa.Table":
            # Arrow-native kernel (r12 optimization, guide §4.2/§4.3):
            # the graph table is the heavy side of this cogroup, and the
            # former applyInPandas paid (a) a full Arrow->pandas
            # conversion of every nested column and (b) a per-row Python
            # parse (pos dict + per-layer list comprehensions, ~35 ms per
            # graph).  Reading the Arrow buffers directly makes the parse
            # vectorized: vectors are one flat float64 buffer reshaped to
            # (n, dim), neighbor lists are CSR (offsets + one flat id
            # buffer) sliced into per-layer position views, and the
            # id->position map is ONE searchsorted over the flat buffer
            # (~9 ms per graph measured at the 100k datum).  Same rows,
            # same distances, same tie-breaks as the pandas form.
            if ga.num_rows == 0 or qa.num_rows == 0:
                return arrow_schema.empty_table()
            ga = ga.combine_chunks()
            ids_raw = ga.column("id").to_numpy(zero_copy_only=False)
            # stable argsort == the former sort_values("id", mergesort)
            order = np.argsort(ids_raw, kind="stable")
            ids = ids_raw[order]
            numeric_ids = ids.dtype != object
            if not numeric_ids:
                ids = ids.astype(str)
            n = len(ids)
            vec = ga.column("vector").combine_chunks()
            dim = vec.value_lengths()[0].as_py()
            V = (
                vec.flatten().to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False).reshape(n, dim)[order]
            )
            levels = ga.column("level").to_numpy(zero_copy_only=False)[order]
            deleted = ga.column("deleted").to_numpy(zero_copy_only=False)[order]
            outer = ga.column("neighbors").combine_chunks()
            outer_l = outer.value_lengths().to_numpy(zero_copy_only=False)
            inner = outer.flatten()
            inner_l = inner.value_lengths().to_numpy(zero_copy_only=False)
            flat = inner.flatten().to_numpy(zero_copy_only=False)
            if numeric_ids:
                # ids are unique; a neighbor id outside them is corruption
                fpos = np.searchsorted(ids, flat)
                bad = (fpos >= n) | (ids[np.minimum(fpos, n - 1)] != flat)
                if bad.any():
                    raise ValueError(
                        f"HNSW neighbor id {flat[bad][0].item()!r} is not a node of its graph"
                    )
            else:
                pos = {v: i for i, v in enumerate(ids)}
                fpos = np.fromiter(
                    (pos[x] for x in flat.astype(str)),
                    dtype=np.int64, count=len(flat),
                )
            fpos = np.ascontiguousarray(fpos, dtype=np.int64)
            inner_off = np.concatenate(([0], np.cumsum(inner_l)))
            outer_off = np.concatenate(([0], np.cumsum(outer_l)))
            layer_arrays = [
                fpos[inner_off[j]:inner_off[j + 1]]
                for j in range(len(inner_l))
            ]
            # per-node layer lists, reordered to sorted-id positions
            nbrs = [
                layer_arrays[outer_off[oi]:outer_off[oi + 1]] for oi in order
            ]
            # cosine rides on L2 over unit vectors; norm-0 rows skipped
            # normalization in _prep, so they are detectable here and
            # get the exact kernel's 0-norm guard distance of 1.0
            zero_node = (
                np.einsum("ij,ij->i", V, V) == 0.0 if cosine and V.size else None
            )
            entry = _entry_pos(levels, ids)
            max_lvl = int(levels[entry])
            visited = np.zeros(n, dtype=bool)  # shared scratch, reset per beam

            qids_col = qa.column("query_id").to_pylist()
            qvec = qa.column("__qv").combine_chunks()
            qdim = qvec.value_lengths()[0].as_py()
            Qm = (
                qvec.flatten().to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False).reshape(len(qids_col), qdim)
            )
            out_q, out_id, out_d = [], [], []
            for qi, qid in enumerate(qids_col):
                q = Qm[qi]
                q_zero = cosine and not q.any()
                dcache: dict[int, float] = {}
                eps = [entry]
                for lc in range(max_lvl, 0, -1):
                    eps = [
                        _search_layer(q, eps, 1, lc, V, nbrs, dcache, visited)[0][1]
                    ]
                W = _search_layer(
                    q, eps, max(ef, k_i), 0, V, nbrs, dcache, visited
                )
                taken = 0
                for d, p in W:
                    if deleted[p]:
                        continue  # traverse-through, filter from results
                    if cosine:
                        # unit sphere: 1 - cos = ||a-b||^2 / 2 (monotone,
                        # so beam/top-k order is unchanged); 0-norm guard
                        # mirrors the exact kernel exactly
                        d = 1.0 if (q_zero or zero_node[p]) else d * d / 2.0
                    out_q.append(qid)
                    out_id.append(ids[p])
                    out_d.append(d)
                    taken += 1
                    if taken >= k_i:
                        break
            return pa.table(
                [
                    pa.array(out_q, arrow_schema.field("query_id").type),
                    pa.array(
                        [x.item() if hasattr(x, "item") else x for x in out_id],
                        arrow_schema.field("id").type,
                    ),
                    pa.array(out_d, pa.float64()),
                ],
                schema=arrow_schema,
            )

        partials = (
            graph.groupBy("graph_id")
            .cogroup(qrep.groupBy("graph_id"))
            .applyInArrow(graph_topk, out_schema)
        )
        # Graphs may hold spilled copies (assign_graphs > 1, or a graph
        # built elsewhere with multi-assignment and reloaded through a
        # default-configured index — nothing in the parquet layout records
        # the spill, so the instance's partitioner knob is NOT evidence of
        # disjointness): the same id can come back from two graphs with
        # the same distance and would eat two of the k slots.  Collapse
        # per (query, id) before the global top-k — unconditionally,
        # because correctness must key on the graph's contents, not this
        # instance's configuration.  The exchange is tiny (Q x G x k rows,
        # already the partials' size) and a no-op reduction on disjoint
        # hash graphs.
        partials = partials.groupBy("query_id", "id").agg(
            F.min("distance").alias("distance")
        )
        return topk_per_query(partials, k)

    def evaluate_recall(
        self,
        graph: DataFrame,
        queries: DataFrame,
        k: int,
        ef: int | None = None,
        query_id_col: str = "query_id",
        query_vector_col: str = "vector",
        probe_graphs: int | None = None,
    ) -> dict:
        """ANN vs exhaustive ground truth over the graph's own live
        vectors — the same self-evaluation harness as
        IVFIndex.evaluate_recall (ivf/operations.rs:329-391), so both
        ANN strategies report comparable recall/precision.  Recall is
        monotone in ``ef`` (the beam only grows) and reaches 1.0 at
        ef >= graph size on complete graphs."""
        from fabstir_vectordb_spark.operators.knn import brute_force_knn

        ann = self.search_bulk(
            graph, queries, k, ef=ef,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
            probe_graphs=probe_graphs,
        )
        live = graph.filter(~F.col("deleted")).select(
            F.col("id").alias(self.id_col), F.col("vector").alias(self.vector_col)
        ).dropDuplicates([self.id_col])  # spilled copies count once
        exact = brute_force_knn(
            live, queries, k,
            id_col=self.id_col, vector_col=self.vector_col,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )
        hits = ann.select("query_id", "id").intersect(exact.select("query_id", "id"))
        n_hits, n_exact, n_ann = hits.count(), exact.count(), ann.count()
        return {
            "avg_recall": n_hits / n_exact if n_exact else 1.0,
            "avg_precision": n_hits / n_ann if n_ann else 1.0,
            "n_queries": queries.count(),
        }

    # -- stats -----------------------------------------------------------
    def graph_stats(self, graph: DataFrame) -> dict:
        """nodes, edges/2, avg layer-0 degree, max layer, graphs —
        the reference's get_graph_stats (hnsw/operations.rs:227-272;
        its components field is a stub=1 there, = num_graphs here)."""
        row = graph.agg(
            F.count("*").alias("nodes"),
            F.sum(F.coalesce(F.size(F.col("neighbors")[0]), F.lit(0))).alias("deg0"),
            F.sum(
                F.aggregate(
                    "neighbors", F.lit(0), lambda acc, l: acc + F.size(l)
                )
            ).alias("alledges"),
            F.max("level").alias("max_level"),
            F.countDistinct("graph_id").alias("graphs"),
            F.sum(F.col("deleted").cast("long")).alias("deleted"),
        ).collect()[0]
        nodes = row["nodes"] or 0
        return {
            "nodes": nodes,
            "edges": int(row["alledges"] or 0) // 2,
            "avg_degree": (float(row["deg0"]) / nodes) if nodes else 0.0,
            "max_level": int(row["max_level"]) if nodes else -1,
            "graphs": int(row["graphs"] or 0),
            "deleted": int(row["deleted"] or 0),
        }


def write_graph(graph: DataFrame, path: str, codec: str = "snappy") -> None:
    """Graphs persist as parquet partitioned by graph_id — search over a
    loaded table prunes to probed graphs the same way the IVF clustered
    table prunes to probed clusters."""
    graph.write.mode("overwrite").option("compression", codec).partitionBy(
        "graph_id"
    ).parquet(path)


def read_graph(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
