"""HNSW partition-local graphs: exactness hook, recall, determinism,
soft-delete traversal semantics, persistence with graph pruning.

Reference parity: src/hnsw/core.rs (insert/search/level draw),
src/hnsw/operations.rs:227-272 (graph stats), soft-delete filter
semantics of hnsw/operations.rs:127-145.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators.hnsw import (
    HNSWIndex,
    read_graph,
    write_graph,
)
from fabstir_vectordb_spark.operators.knn import brute_force_knn

K = 10


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    rows = [(int(i), rng.normal(size=16).tolist()) for i in range(400)]
    return spark.createDataFrame(rows, "id long, vector array<double>").cache()


@pytest.fixture(scope="module")
def queries(spark, vectors):
    return (
        vectors.filter(F.col("id") % 20 == 0)
        .select(F.col("id").alias("query_id"), "vector")
        .cache()
    )


@pytest.fixture(scope="module")
def exact(vectors, queries):
    return (
        brute_force_knn(vectors, queries, K, metric="l2",
                        id_col="id", vector_col="vector")
        .orderBy("query_id", "distance", "id")
        .collect()
    )


def test_complete_graph_equals_exact_knn(vectors, queries, exact):
    # M0 >= partition size and ef >= partition size => exhaustive search
    idx = HNSWIndex(M=512, M0=512, ef_construction=512, num_graphs=4,
                    id_col="id", vector_col="vector")
    g = idx.build(vectors).cache()
    res = (
        idx.search_bulk(g, queries, K, ef=512)
        .orderBy("query_id", "distance", "id")
        .collect()
    )
    assert len(res) == len(exact)
    for a, b in zip(res, exact):
        assert a["query_id"] == b["query_id"]
        assert a["id"] == b["id"]
        assert a["distance"] == pytest.approx(b["distance"], abs=1e-9)


def test_realistic_config_high_recall(vectors, queries, exact):
    idx = HNSWIndex(M=16, M0=32, ef_construction=100, num_graphs=4,
                    id_col="id", vector_col="vector")
    g = idx.build(vectors).cache()
    res = idx.search_bulk(g, queries, K, ef=64).collect()
    truth, approx = {}, {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["id"])
    for r in res:
        approx.setdefault(r["query_id"], set()).add(r["id"])
    recalls = [len(truth[q] & approx.get(q, set())) / K for q in truth]
    assert np.mean(recalls) >= 0.95
    # dominance: an approximate result at rank r is never closer than the
    # exact result at rank r (bucketing/beam can only lose candidates)
    by_q_exact = {}
    for r in exact:
        by_q_exact.setdefault(r["query_id"], []).append(r["distance"])
    by_q_res = {}
    for r in sorted(res, key=lambda x: (x["query_id"], x["distance"], x["id"])):
        by_q_res.setdefault(r["query_id"], []).append(r["distance"])
    for q, ds in by_q_res.items():
        for rank, d in enumerate(ds):
            assert d >= by_q_exact[q][rank] - 1e-9


def test_build_is_deterministic(vectors):
    idx = HNSWIndex(M=8, M0=16, ef_construction=50, num_graphs=4,
                    id_col="id", vector_col="vector")
    a = idx.build(vectors).orderBy("id").collect()
    b = idx.build(vectors).orderBy("id").collect()
    for ra, rb in zip(a, b):
        assert ra["id"] == rb["id"]
        assert ra["level"] == rb["level"]
        assert ra["neighbors"] == rb["neighbors"]


def test_soft_deleted_filtered_but_traversed(vectors, queries):
    # mark the exact top-1 of each query deleted: it must vanish from
    # results while the rest of the graph stays reachable through it
    idx = HNSWIndex(M=512, M0=512, ef_construction=512, num_graphs=2,
                    id_col="id", vector_col="vector")
    top1 = {
        r["id"]
        for r in brute_force_knn(vectors, queries, 1, metric="l2",
                                 id_col="id", vector_col="vector").collect()
    }
    marked = vectors.withColumn("dead", F.col("id").isin(list(top1)))
    g = idx.build(marked, deleted_col="dead").cache()
    res = idx.search_bulk(g, queries, K, ef=512).collect()
    got_ids = {r["id"] for r in res}
    assert not (got_ids & top1)
    # still k full results per query (deleted nodes displaced, not holes)
    from collections import Counter

    cnt = Counter(r["query_id"] for r in res)
    assert all(v == K for v in cnt.values())
    stats = idx.graph_stats(g)
    assert stats["deleted"] == len(top1)


def test_persistence_roundtrip_and_graph_pruning(tmp_path, vectors, queries, exact):
    idx = HNSWIndex(M=512, M0=512, ef_construction=512, num_graphs=4,
                    id_col="id", vector_col="vector")
    path = str(tmp_path / "hnsw_graph")
    write_graph(idx.build(vectors), path)
    loaded = read_graph(vectors.sparkSession, path)
    res = (
        idx.search_bulk(loaded, queries, K, ef=512)
        .orderBy("query_id", "distance", "id")
        .collect()
    )
    assert [(r["query_id"], r["id"]) for r in res] == [
        (r["query_id"], r["id"]) for r in exact
    ]
    # partition pruning: filtering one graph_id reaches the scan as a
    # partition filter over the partitionBy(graph_id) layout
    plan = (
        loaded.filter(F.col("graph_id") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "graph_id" in plan


def test_string_ids(spark):
    rng = np.random.default_rng(3)
    rows = [(f"doc-{i:04d}", rng.normal(size=8).tolist()) for i in range(120)]
    vec = spark.createDataFrame(rows, "id string, vector array<double>")
    q = spark.createDataFrame(rows[:5], "query_id string, vector array<double>")
    idx = HNSWIndex(M=256, M0=256, ef_construction=256, num_graphs=3,
                    id_col="id", vector_col="vector")
    g = idx.build(vec).cache()
    res = idx.search_bulk(g, q, 5, ef=256).orderBy("query_id", "distance").collect()
    exact = (
        brute_force_knn(vec, q, 5, metric="l2", id_col="id", vector_col="vector")
        .orderBy("query_id", "distance")
        .collect()
    )
    assert [(r["query_id"], r["id"]) for r in res] == [
        (r["query_id"], r["id"]) for r in exact
    ]


def test_tiny_graphs(spark):
    # single vector, and a graph count larger than the vector count
    vec = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "id long, vector array<double>",
    )
    q = spark.createDataFrame([(9, [0.1, 0.1])], "query_id long, vector array<double>")
    idx = HNSWIndex(M=4, M0=8, ef_construction=8, num_graphs=8,
                    id_col="id", vector_col="vector")
    g = idx.build(vec)
    res = idx.search_bulk(g, q, 2, ef=8).collect()
    assert [r["id"] for r in sorted(res, key=lambda r: r["distance"])] == [1, 2]


def test_unresolved_neighbor_id_fails_loudly(spark):
    # a neighbor id that is no node of the graph must raise, never
    # resolve to whichever node sorts next to it
    rng = np.random.default_rng(5)
    vec = spark.createDataFrame(
        [(i * 10, rng.normal(size=4).tolist()) for i in range(20)],
        "id long, vector array<double>",
    )
    q = spark.createDataFrame([(0, [0.0] * 4)], "query_id long, vector array<double>")
    idx = HNSWIndex(M=4, M0=8, ef_construction=16, num_graphs=1,
                    id_col="id", vector_col="vector")
    g = idx.build(vec)
    assert len(idx.search_bulk(g, q, 3, ef=16).collect()) == 3
    rows = [r.asDict() for r in g.collect()]
    node = next(r for r in rows if r["neighbors"] and r["neighbors"][0])
    node["neighbors"][0][0] = 15  # between the real ids 10 and 20
    bad = spark.createDataFrame(rows, g.schema)
    with pytest.raises(Exception, match="neighbor id 15 is not a node"):
        idx.search_bulk(bad, q, 3, ef=16).collect()


def test_graph_stats_shape(vectors):
    idx = HNSWIndex(M=8, M0=16, ef_construction=50, num_graphs=4,
                    id_col="id", vector_col="vector")
    g = idx.build(vectors).cache()
    s = idx.graph_stats(g)
    assert s["nodes"] == 400
    assert s["graphs"] == 4
    assert s["edges"] > 0
    assert 0 < s["avg_degree"] <= 16
    assert s["max_level"] >= 0
    assert s["deleted"] == 0


def test_incremental_insert_exact_equivalence(spark, vectors, queries, exact):
    # exact-config graphs: search after insert(build(A), B) must equal
    # brute force over A ∪ B regardless of edge differences vs build(A∪B)
    idx = HNSWIndex(M=512, M0=512, ef_construction=512, num_graphs=4,
                    id_col="id", vector_col="vector")
    a = vectors.filter(F.col("id") < 300)
    b = vectors.filter(F.col("id") >= 300)
    g = idx.insert(idx.build(a), b).cache()
    assert g.count() == 400
    res = (
        idx.search_bulk(g, queries, K, ef=512)
        .orderBy("query_id", "distance", "id")
        .collect()
    )
    assert [(r["query_id"], r["id"]) for r in res] == [
        (r["query_id"], r["id"]) for r in exact
    ]


def test_incremental_insert_realistic_recall(spark, vectors, queries, exact):
    idx = HNSWIndex(M=16, M0=32, ef_construction=100, num_graphs=4,
                    id_col="id", vector_col="vector")
    a = vectors.filter(F.col("id") < 300)
    b = vectors.filter(F.col("id") >= 300)
    g = idx.insert(idx.build(a), b).cache()
    res = idx.search_bulk(g, queries, K, ef=64).collect()
    truth, approx = {}, {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["id"])
    for r in res:
        approx.setdefault(r["query_id"], set()).add(r["id"])
    recalls = [len(truth[q] & approx.get(q, set())) / K for q in truth]
    assert np.mean(recalls) >= 0.9
    # stats see the merged graph
    s = idx.graph_stats(g)
    assert s["nodes"] == 400 and s["graphs"] == 4


def test_incremental_insert_deleted_flag(spark, vectors):
    idx = HNSWIndex(M=64, M0=64, ef_construction=64, num_graphs=2,
                    id_col="id", vector_col="vector")
    a = vectors.filter(F.col("id") < 350)
    b = vectors.filter(F.col("id") >= 350).withColumn(
        "dead", F.col("id") >= 390
    )
    g = idx.insert(idx.build(a), b, deleted_col="dead")
    assert idx.graph_stats(g)["deleted"] == 10


def test_evaluate_recall(spark, vectors, queries):
    idx = HNSWIndex(M=16, M0=32, ef_construction=100, num_graphs=4,
                    id_col="id", vector_col="vector")
    g = idx.build(vectors).cache()
    lo = idx.evaluate_recall(g, queries, K, ef=K)
    hi = idx.evaluate_recall(g, queries, K, ef=200)
    assert 0.0 <= lo["avg_recall"] <= hi["avg_recall"] <= 1.0
    assert hi["avg_recall"] >= 0.95
    assert hi["n_queries"] == 20
    # deleted rows leave the ground truth too
    marked = idx.build(
        vectors.withColumn("dead", F.col("id") < 5), deleted_col="dead"
    )
    m = idx.evaluate_recall(marked, queries, K, ef=200)
    assert 0.0 <= m["avg_recall"] <= 1.0


def test_cosine_metric_exact_config(spark):
    # cosine rides on L2-over-unit-vectors: at the exactness hook the
    # merged result must equal brute-force COSINE kNN, distances = 1-cos
    rng = np.random.default_rng(9)
    rows = [(int(i), (rng.normal(size=12) * rng.uniform(0.2, 5.0)).tolist())
            for i in range(200)]
    vec = spark.createDataFrame(rows, "id long, vector array<double>")
    q = spark.createDataFrame(rows[:6], "query_id long, vector array<double>")
    idx = HNSWIndex(M=256, M0=256, ef_construction=256, num_graphs=3,
                    id_col="id", vector_col="vector", metric="cosine")
    g = idx.build(vec).cache()
    res = (
        idx.search_bulk(g, q, 8, ef=256)
        .orderBy("query_id", "distance", "id")
        .collect()
    )
    exact = (
        brute_force_knn(vec, q, 8, metric="cosine",
                        id_col="id", vector_col="vector")
        .orderBy("query_id", "distance", "id")
        .collect()
    )
    assert [(r["query_id"], r["id"]) for r in res] == [
        (r["query_id"], r["id"]) for r in exact
    ]
    for a, b in zip(res, exact):
        assert a["distance"] == pytest.approx(b["distance"], abs=1e-9)


def test_metric_validation():
    with pytest.raises(ValueError, match="metric"):
        HNSWIndex(metric="manhattan")


# ------------------------------------------------- routed (kmeans) fan-out


def _clustered_vecs(spark, n=600, dim=12, centers=6, seed=9):
    import numpy as np

    rng = np.random.default_rng(seed)
    C = rng.normal(scale=20.0, size=(centers, dim))
    rows = [
        (int(i), (C[i % centers] + rng.normal(size=dim)).tolist())
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id bigint, vector array<float>")


def test_kmeans_partitioner_routed_search(spark):
    import numpy as np

    from fabstir_vectordb_spark.operators.hnsw import HNSWIndex
    from fabstir_vectordb_spark.operators.knn import brute_force_knn

    vec = _clustered_vecs(spark)
    h = HNSWIndex(M=8, M0=16, ef_construction=64, num_graphs=6,
                  partitioner="kmeans")
    graph = h.build(vec).cache()
    assert h._routers is not None and h._routers.shape == (6, 12)
    # membership is cluster-coherent: every graph holds >= 1 node and
    # the union is the corpus
    sizes = {r["graph_id"]: r["n"] for r in
             graph.groupBy("graph_id").count().withColumnRenamed("count", "n").collect()}
    assert sum(sizes.values()) == 600

    q = vec.limit(12).select(
        F.col("id").alias("query_id"), F.col("vector").alias("vector")
    )
    exact = brute_force_knn(vec, q, 5, metric="l2")
    full = h.search_bulk(graph, q, 5, ef=600)
    routed = h.search_bulk(graph, q, 5, ef=600, probe_graphs=2)
    # routed results are a per-query top-k over a candidate SUBSET:
    # <= k rows, dominance vs exact, and — because queries are corpus
    # members whose own cluster is always probed first — the rank-1
    # hit (the query itself, distance 0) must survive routing
    rows = routed.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {r["query_id"] for r in q.collect()}
    for qid, rs in per_q.items():
        assert len(rs) <= 5
        best = min(rs, key=lambda r: r["distance"])
        assert best["id"] == qid and best["distance"] == 0.0
    # dominance: routed rank-r distance >= full-fan-out rank-r distance
    fr = {(r["query_id"], i): r["distance"] for qid2, grp in
          _group(full.collect()).items() for i, r in enumerate(grp) for r in [r]}
    # with well-separated clusters, probing 2 of 6 graphs recovers most
    # of exact top-5 (queries sit inside their own cluster)
    ex = _group(exact.collect())
    ro = _group(rows)
    hits = sum(len({r["id"] for r in ro[q_]} & {r["id"] for r in ex[q_]})
               for q_ in ex)
    assert hits >= 0.8 * sum(len(ex[q_]) for q_ in ex)
    # full fan-out over the same kmeans graphs at ef >= corpus == exact
    f = _group(full.collect())
    for q_ in ex:
        assert [r["id"] for r in f[q_]] == [r["id"] for r in ex[q_]]


def _group(rows):
    out = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["distance"], r["id"])):
        out.setdefault(r["query_id"], []).append(r)
    return out


def test_routed_insert_follows_centroids(spark):
    from fabstir_vectordb_spark.operators.hnsw import HNSWIndex

    vec = _clustered_vecs(spark, n=300)
    h = HNSWIndex(M=8, M0=16, ef_construction=64, num_graphs=6,
                  partitioner="kmeans")
    graph = h.build(vec).cache()
    newv = _clustered_vecs(spark, n=60, seed=10).select(
        (F.col("id") + 1000).alias("id"), "vector"
    )
    updated = h.insert(graph, newv).cache()
    assert updated.count() == 360
    # routed search still honors contracts after insert
    q = newv.limit(4).select(
        F.col("id").alias("query_id"), F.col("vector").alias("vector")
    )
    rows = h.search_bulk(updated, q, 3, ef=400, probe_graphs=2).collect()
    got = _group(rows)
    for qid, rs in got.items():
        assert rs[0]["id"] == qid and rs[0]["distance"] == 0.0


def test_hash_graphs_routed_via_mean_routers(spark):
    """probe_graphs works on hash builds too (routers = per-graph
    means): contracts hold even though routing is uninformative."""
    from fabstir_vectordb_spark.operators.hnsw import HNSWIndex

    vec = _clustered_vecs(spark, n=200)
    h = HNSWIndex(M=8, M0=16, ef_construction=64, num_graphs=4)
    graph = h.build(vec).cache()
    rt = h.graph_routers(graph)
    assert rt.count() == 4
    q = vec.limit(3).select(
        F.col("id").alias("query_id"), F.col("vector").alias("vector")
    )
    rows = h.search_bulk(graph, q, 5, ef=200, probe_graphs=2, routers=rt).collect()
    got = _group(rows)
    assert set(got) == {r["query_id"] for r in q.collect()}
    assert all(len(rs) <= 5 for rs in got.values())


def test_routed_insert_survives_reload(spark, tmp_path):
    """insert() on a kmeans index whose routers were LOST (fresh index
    object over a graph read back from disk) must rederive routers from
    the graph — pre-fix it silently fell back to hash assignment, so new
    vectors landed in cluster-incoherent graphs that a probe_graphs<G
    search systematically missed (ADVICE r5)."""
    from fabstir_vectordb_spark.operators.hnsw import (
        HNSWIndex, read_graph, write_graph,
    )

    vec = _clustered_vecs(spark, n=300)
    h = HNSWIndex(M=8, M0=16, ef_construction=64, num_graphs=6,
                  partitioner="kmeans")
    gpath = str(tmp_path / "g_reload")
    write_graph(h.build(vec), gpath)

    # reload with a FRESH index object: _routers is None, num_graphs unset
    h2 = HNSWIndex(M=8, M0=16, ef_construction=64, partitioner="kmeans")
    graph = read_graph(spark, gpath)
    newv = _clustered_vecs(spark, n=60, seed=10).select(
        (F.col("id") + 1000).alias("id"), "vector"
    )
    updated = h2.insert(graph, newv).cache()
    assert updated.count() == 360
    assert h2._routers is not None  # rederived, not hash fallback

    # probe-pruned search must still find the freshly inserted vectors
    q = newv.limit(6).select(
        F.col("id").alias("query_id"), F.col("vector").alias("vector")
    )
    rows = h2.search_bulk(updated, q, 3, ef=400, probe_graphs=2).collect()
    got = _group(rows)
    for qid, rs in got.items():
        assert rs[0]["id"] == qid and rs[0]["distance"] == 0.0


def test_multi_assignment_requires_kmeans(spark):
    from fabstir_vectordb_spark.operators.hnsw import HNSWIndex

    with pytest.raises(ValueError):
        HNSWIndex(partitioner="hash", assign_graphs=2)
    with pytest.raises(ValueError):
        HNSWIndex(partitioner="kmeans", assign_graphs=0)


def test_multi_assignment_spills_and_dedups(spark):
    """assign_graphs=2 places every vector in its two nearest-router
    graphs (~2x rows), and search results stay duplicate-free with
    exactly k rows per query."""
    from fabstir_vectordb_spark.operators.hnsw import HNSWIndex

    vec = _clustered_vecs(spark, n=400, centers=4)
    h = HNSWIndex(M=8, M0=16, ef_construction=64, num_graphs=4,
                  partitioner="kmeans", assign_graphs=2)
    graph = h.build(vec).cache()
    assert graph.count() == 800  # every vector in exactly 2 graphs
    assert graph.select("id").distinct().count() == 400
    per_id = graph.groupBy("id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_id] == [2]

    q = vec.limit(5).select(
        F.col("id").alias("query_id"), F.col("vector").alias("vector")
    )
    rows = h.search_bulk(graph, q, 5, ef=200).collect()
    got = _group(rows)
    for qid, rs in got.items():
        ids = [r["id"] for r in rs]
        assert len(ids) == len(set(ids)) == 5  # k rows, no duplicates
        assert rs[0]["id"] == qid and rs[0]["distance"] == 0.0


def test_multi_assignment_recovers_routed_recall(spark):
    """The point of spilling (VERDICT r5 #6): at a small probe budget
    (R/G = 1/8) on clusterable data, assign_graphs=2 must recover the
    boundary vectors single-assignment misses — recall >= 0.9 and at
    least as good as the unspilled build."""
    import numpy as np

    from fabstir_vectordb_spark.operators.hnsw import HNSWIndex
    from fabstir_vectordb_spark.operators.knn import brute_force_knn

    vec = _clustered_vecs(spark, n=1600, dim=12, centers=8, seed=4)
    q = vec.filter(F.col("id") % 80 == 3).select(
        F.col("id").alias("query_id"), F.col("vector").alias("vector")
    )
    exact = brute_force_knn(
        vec, q, 10, id_col="id", vector_col="vector", impl="kernel"
    )
    truth = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r["id"])

    def routed_recall(assign_graphs):
        h = HNSWIndex(M=8, M0=16, ef_construction=64, num_graphs=8,
                      partitioner="kmeans", assign_graphs=assign_graphs)
        graph = h.build(vec).cache()
        got = {}
        for r in h.search_bulk(graph, q, 10, ef=400, probe_graphs=1).collect():
            got.setdefault(r["query_id"], set()).add(r["id"])
        graph.unpersist()
        per = [len(got.get(k, set()) & truth[k]) / 10 for k in truth]
        return sum(per) / len(per)

    r1 = routed_recall(1)
    r2 = routed_recall(2)
    assert r2 >= r1
    assert r2 >= 0.9


def test_evaluate_recall_probe_graphs_passthrough(spark):
    from fabstir_vectordb_spark.operators.hnsw import HNSWIndex

    vec = _clustered_vecs(spark, n=300)
    h = HNSWIndex(M=8, M0=16, ef_construction=64, num_graphs=6,
                  partitioner="kmeans", assign_graphs=2)
    graph = h.build(vec).cache()
    q = vec.limit(4).select(
        F.col("id").alias("query_id"), F.col("vector").alias("vector")
    )
    full = h.evaluate_recall(graph, q, 5, ef=300)
    routed = h.evaluate_recall(graph, q, 5, ef=300, probe_graphs=2)
    assert full["avg_recall"] == 1.0           # exhaustive fan-out stays exact
    assert 0.0 <= routed["avg_recall"] <= 1.0  # pruned probe well-defined


def test_reloaded_spilled_graph_dedups_under_default_instance(spark, tmp_path):
    """Dedup must key on the GRAPH's contents, not the instance's
    partitioner knob: a multi-assigned (spilled) graph persisted with
    write_graph and reloaded through a default-configured index (nothing
    in the parquet layout records the spill) must still return k
    duplicate-free rows per query — pre-fix, each spilled copy came back
    once per graph with identical distance and ate two top-k slots."""
    from fabstir_vectordb_spark.operators.hnsw import (
        HNSWIndex, read_graph, write_graph,
    )

    vec = _clustered_vecs(spark, n=300, centers=4)
    builder = HNSWIndex(M=8, M0=16, ef_construction=64, num_graphs=4,
                        partitioner="kmeans", assign_graphs=2)
    path = str(tmp_path / "spilled_graph")
    write_graph(builder.build(vec), path)

    # a LATER process: default instance (hash partitioner), reloaded graph
    reader = HNSWIndex(M=8, M0=16, ef_construction=64)
    graph = read_graph(spark, path)
    q = vec.limit(5).select(
        F.col("id").alias("query_id"), F.col("vector").alias("vector")
    )
    rows = reader.search_bulk(graph, q, 5, ef=200).collect()
    got = _group(rows)
    assert len(got) == 5
    for qid, rs in got.items():
        ids = [r["id"] for r in rs]
        assert len(ids) == len(set(ids)) == 5  # k rows, no duplicates
        assert rs[0]["id"] == qid and rs[0]["distance"] == 0.0


def test_compact_graph_drops_tombstones_preserves_search(spark):
    """compact_graph removes tombstoned nodes from heavily-deleted
    graphs, leaves cold graphs untouched, keeps graph membership, and
    — because build and compaction share the kernel — a compacted
    graph equals a fresh build of its survivors row for row."""
    from fabstir_vectordb_spark.operators.hnsw import HNSWIndex
    from fabstir_vectordb_spark.operators.knn import brute_force_knn

    vec = _clustered_vecs(spark, n=240, centers=4)
    h = HNSWIndex(M=128, M0=128, ef_construction=128, num_graphs=2)
    graph = h.build(vec)
    # tombstone a third of the corpus
    tomb = graph.withColumn("deleted", F.pmod("id", 3) == 0).cache()

    compacted = h.compact_graph(tomb, min_deleted_fraction=0.2).cache()
    assert compacted.filter("deleted").count() == 0
    live = tomb.filter("NOT deleted")
    assert compacted.count() == live.count()

    # identical search results at the complete-graph config
    q = vec.limit(6).select(
        F.col("id").alias("query_id"), F.col("vector").alias("vector")
    )
    before = h.search_bulk(tomb, q, 5, ef=240).orderBy(
        "query_id", "distance", "id").collect()
    after = h.search_bulk(compacted, q, 5, ef=240).orderBy(
        "query_id", "distance", "id").collect()
    assert [(r["query_id"], r["id"]) for r in before] == [
        (r["query_id"], r["id"]) for r in after
    ]
    exact = brute_force_knn(
        live.select(F.col("id"), F.col("vector")), q, 5,
        id_col="id", vector_col="vector",
    ).orderBy("query_id", "distance", "id").collect()
    assert [(r["query_id"], r["id"]) for r in after] == [
        (r["query_id"], r["id"]) for r in exact
    ]

    # compacted graph == fresh build of the survivors, row for row
    fresh = h.build(live.select("id", "vector"))
    def rows(df):
        return sorted(
            (r["graph_id"], r["id"], r["level"], r["neighbors"], r["vector"])
            for r in df.collect()
        )
    assert rows(compacted) == rows(fresh)


def test_compact_graph_threshold_spares_cold_graphs(spark):
    from fabstir_vectordb_spark.operators.hnsw import HNSWIndex

    vec = _clustered_vecs(spark, n=200, centers=4)
    h = HNSWIndex(M=8, M0=16, ef_construction=64, num_graphs=4)
    graph = h.build(vec).cache()
    # tombstone ONLY inside one graph
    victim = int(graph.select("graph_id").first()["graph_id"])
    tomb = graph.withColumn(
        "deleted", (F.col("graph_id") == victim) & (F.pmod("id", 2) == 0)
    )
    compacted = h.compact_graph(tomb, min_deleted_fraction=0.2)
    # victim graph rebuilt tombstone-free; every other graph passes
    # through with identical rows (tombstones elsewhere: none existed)
    assert compacted.filter(
        (F.col("graph_id") == victim) & F.col("deleted")).count() == 0
    cold_before = sorted(
        (r["id"], r["level"]) for r in
        tomb.filter(F.col("graph_id") != victim).collect())
    cold_after = sorted(
        (r["id"], r["level"]) for r in
        compacted.filter(F.col("graph_id") != victim).collect())
    assert cold_before == cold_after

    # below-threshold: nothing rebuilt, frame passes through
    same = h.compact_graph(tomb, min_deleted_fraction=0.9)
    assert same.filter("deleted").count() == tomb.filter("deleted").count()

    import pytest as _pytest
    with _pytest.raises(ValueError):
        h.compact_graph(tomb, min_deleted_fraction=0.0)
