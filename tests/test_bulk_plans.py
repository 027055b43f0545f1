"""The two plans of the bulk searches: a bounded query set ranks in one
broadcast, map-only Python pass merged on the driver (a local relation),
a larger one takes the cogroup plan.  Exact (``knn_bulk``), IVF
(``IVFIndex.search_bulk``), HNSW (``HNSWIndex.search_bulk``), PQ
(``ProductQuantizer.adc_knn``) and binary (``BinarySketch.hamming_knn``),
the last two raw and re-ranked, must give the same rows on both, with
string query ids and an exact distance tie at the k-th place.  The IVFPQ
twin is ``test_ivfpq``'s ``test_cogroup_fallback_matches_broadcast``.
"""

import pyarrow as pa
import pytest

from fabstir_vectordb_spark.operators import knn as knn_mod
from fabstir_vectordb_spark.operators.binary import BinarySketch
from fabstir_vectordb_spark.operators.hnsw import HNSWIndex
from fabstir_vectordb_spark.operators.ivf import IVFIndex
from fabstir_vectordb_spark.operators.knn import knn_bulk
from fabstir_vectordb_spark.operators.pq import ProductQuantizer

K = 5
DIM = 4
OVERSAMPLE = 4  # the re-ranked tiers fetch 20 of the 50 vectors per query
TIERS = ["exact", "ivf", "hnsw", "pq", "pq_rerank", "binary", "binary_rerank"]


@pytest.fixture(scope="module")
def vectors(spark):
    # points along the first axis; "a-dup" and "z-dup" copy v04's vector,
    # so for qa all three tie at the 5th distance and "a-dup" wins by id
    rows = [(f"v{i:02d}", [i * 0.5, (i % 3) * 0.1, 1.0, 0.0]) for i in range(48)]
    rows += [(d, [2.0, 0.1, 1.0, 0.0]) for d in ("z-dup", "a-dup")]
    # three partitions and no shuffle in the cached plan
    return spark.createDataFrame(rows, "id string, vector array<double>").coalesce(3).cache()


@pytest.fixture(scope="module")
def queries(spark):
    # one partition: the limit of the query pull gathers without an exchange
    return spark.createDataFrame(
        [
            ("qa", [0.0, 0.0, 1.0, 0.0]),
            ("qb", [9.7, 0.2, 1.0, 0.0]),
            ("qc", [19.6, 0.1, 0.9, 0.3]),
            ("qd", [5.1, 0.0, 1.0, 0.1]),
        ],
        "query_id string, vector array<double>",
    ).coalesce(1)


@pytest.fixture(scope="module")
def searches(vectors):
    ivf = IVFIndex.fit(vectors, n_clusters=4, seed=3)
    assigned = ivf.assign(vectors).cache()
    hnsw = HNSWIndex(M=64, M0=64, ef_construction=64, num_graphs=3)
    graph = hnsw.build(vectors).cache()
    pq = ProductQuantizer.fit(vectors, n_subspaces=2, n_centroids=8, vector_col="vector")
    codes = pq.encode(vectors, vector_col="vector").cache()
    sk = BinarySketch.fit(dim=DIM, bits=64, seed=3)
    sigs = sk.encode(vectors, vector_col="vector").cache()
    rerank = dict(rerank_vectors=vectors, rerank_vector_col="vector", oversample=OVERSAMPLE)
    return {
        "exact": lambda q: knn_bulk(vectors, q, K),
        "ivf": lambda q: ivf.search_bulk(assigned, q, K, n_probe=4),
        "hnsw": lambda q: hnsw.search_bulk(graph, q, K, ef=64),
        "pq": lambda q: pq.adc_knn(codes, q, K, id_col="id"),
        "pq_rerank": lambda q: pq.adc_knn(codes, q, K, id_col="id", **rerank),
        "binary": lambda q: sk.hamming_knn(sigs, q, K, id_col="id"),
        "binary_rerank": lambda q: sk.hamming_knn(sigs, q, K, id_col="id", **rerank),
    }


def _rows(df):
    return sorted(
        (r["query_id"], r["id"], r["distance"])
        for r in df.select("query_id", "id", "distance").collect()
    )


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("cap", ["query_bytes", "partial_rows"])
@pytest.mark.parametrize("tier", TIERS)
def test_cogroup_fallback_matches_bounded(monkeypatch, searches, queries, tier, cap):
    search = searches[tier]
    bounded = search(queries)
    assert "LocalTableScan" in _executed(bounded)
    want = _rows(bounded)
    assert len(want) == 4 * K
    for q in "abcd":
        # "a-dup", "v04" and "z-dup" share a vector, so every tier ranks
        # them at one distance, ordered by id
        ids = {i for p, i, _ in want if p == f"q{q}"}
        assert ("z-dup" not in ids or "v04" in ids) and ("v04" not in ids or "a-dup" in ids)
    if tier in ("exact", "ivf", "hnsw"):
        qa = [i for q, i, _ in want if q == "qa"]
        assert sorted(qa)[-1] == "v03" and "a-dup" in qa and "z-dup" not in qa
    # room for at most 2 of the 4 queries
    if cap == "query_bytes":
        monkeypatch.setattr(knn_mod, "_MAX_DRIVER_QUERY_BYTES", 2 * DIM * 8)
    else:
        # K rows per query from each of 3 partitions (or graphs)
        monkeypatch.setattr(knn_mod, "_MAX_DRIVER_PARTIAL_ROWS", 2 * K * 3)
    fallback = search(queries)
    assert "FlatMapCoGroupsInArrow" in _executed(fallback)
    assert _rows(fallback) == want


def _stage_counts(spark, group, fn):
    """The count of stages that ran tasks in every job ``fn`` runs, in its
    own job group.  A stage skipped because its shuffle output already
    exists (the exchange inside a cached table's plan) runs none."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    st = sc.statusTracker()
    return [
        sum(st.getStageInfo(s).numCompletedTasks > 0 for s in st.getJobInfo(j).stageIds)
        for j in st.getJobIdsForGroup(group)
    ]


@pytest.mark.parametrize("tier", TIERS)
def test_bounded_search_is_one_python_pass(spark, monkeypatch, searches, queries, tier):
    """Under the caps a search runs one Python pass, collected as Arrow.
    Without a re-rank it runs one-stage jobs only: the JVM-only query
    pull and the pass, after a one-row read of the query dimension where
    the index does not hold it (exact, HNSW); the merge on the driver
    runs none.  A re-rank adds the JVM-only pull of its candidates'
    vectors.  HNSW's pass runs map-only over the graph table its build
    returned, whose partition g is graph g."""
    search = searches[tier]
    search(queries)  # warm: scan_partitions' memo
    plans = []
    to_arrow = type(queries).toArrow

    def recorded(df):
        plans.append(_executed(df))
        return to_arrow(df)

    monkeypatch.setattr(type(queries), "toArrow", recorded)
    stages = _stage_counts(spark, f"bounded_{tier}", lambda: search(queries).collect())
    python = [p for p in plans if "InArrow" in p]
    assert len(python) == 1
    plan = python[0]
    if tier == "hnsw":
        # the cached graph prints its build plan, placing exchange and
        # all, below its scan; the search's own plan is above it
        plan = plan.split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in plan
    assert "MapInArrow" in plan and "Exchange" not in plan
    if not tier.endswith("_rerank"):
        assert stages == ([1, 1, 1] if tier in ("exact", "hnsw") else [1, 1])


@pytest.mark.parametrize("tier", ["pq_rerank", "binary_rerank"])
def test_rerank_pulls_each_candidate_vector_once(monkeypatch, searches, queries, tier):
    """The bounded re-rank pulls the vector of each distinct candidate id
    once, however many queries kept it: fewer rows than the Q x fetch
    (query, candidate) pairs of the fixture, whose queries share
    candidates."""
    pulled = []
    to_arrow = type(queries).toArrow

    def recorded(df):
        t = to_arrow(df)
        pulled.append((_executed(df), t))
        return t

    monkeypatch.setattr(type(queries), "toArrow", recorded)
    searches[tier](queries)
    (partials,) = [t for p, t in pulled if "MapInArrow" in p]
    (vectors,) = [t for _, t in pulled if "__v" in t.column_names]
    fetch = K * OVERSAMPLE
    qids = pa.array(["qa", "qb", "qc", "qd"])
    cand = knn_mod._first_k_rows(partials, qids, fetch)
    assert cand.num_rows == 4 * fetch
    assert vectors.num_rows == len(set(cand.column("id").to_pylist())) < 4 * fetch


def test_query_pull_is_bounded_before_it_runs(spark, monkeypatch):
    """With k=1 on one vector partition the partial-row cap admits
    millions of queries, so the query bytes alone bound the pull: a query
    set over that cap pulls at most cap + 1 rows, then cogroups."""
    vec = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0, 0.0]) for i in range(8)], "id long, vector array<double>"
    ).coalesce(1)
    q = spark.createDataFrame(
        [(i, [i + 0.2, 0.0, 1.0, 0.0]) for i in range(40)],
        "query_id long, vector array<double>",
    ).coalesce(1)
    monkeypatch.setattr(knn_mod, "_MAX_DRIVER_QUERY_BYTES", 3 * DIM * 8)
    pulled = []
    to_arrow = type(q).toArrow

    def recorded(df):
        t = to_arrow(df)
        pulled.append(t.num_rows)
        return t

    monkeypatch.setattr(type(q), "toArrow", recorded)
    res = knn_bulk(vec, q, 1)
    assert pulled == [4]
    assert "FlatMapCoGroupsInArrow" in _executed(res)
    assert sorted(r["id"] for r in res.collect()) == sorted(min(7, round(i + 0.2)) for i in range(40))


def test_query_pull_fails_on_a_bad_query_vector(spark, searches):
    q = spark.createDataFrame(
        [("qa", [0.0, 0.0, 1.0, 0.0]), ("qb", [0.0] * 400)],
        "query_id string, vector array<double>",
    ).coalesce(1)
    for tier in ("exact", "ivf"):
        with pytest.raises(Exception, match="or one of length other than 4"):
            searches[tier](q)
    # a null first query: the dim read itself fails
    null_first = spark.createDataFrame(
        [("qa", None), ("qb", [0.0, 0.0, 1.0, 0.0])], "query_id string, vector array<double>"
    ).coalesce(1)
    with pytest.raises(ValueError, match="null query vector"):
        searches["exact"](null_first)


def test_zero_queries_give_zero_rows_on_every_tier(spark, searches):
    empty = spark.createDataFrame([], "query_id string, vector array<double>")
    for tier, search in searches.items():
        out = search(empty)
        assert out.collect() == [], tier
        assert [f.name for f in out.schema.fields] == ["query_id", "id", "distance"]


def test_unknown_graph_count_takes_the_cogroup_plan(spark, vectors, queries, searches):
    # a loaded graph's index does not know G, so the partial rows are unbounded
    idx = HNSWIndex(M=64, M0=64, ef_construction=64, num_graphs=3)
    graph = idx.build(vectors).cache()
    unpinned = HNSWIndex(M=64, M0=64, ef_construction=64)
    res = unpinned.search_bulk(graph.select("*"), queries, K, ef=64)
    assert "FlatMapCoGroupsInArrow" in _executed(res)
    assert _rows(res) == _rows(searches["hnsw"](queries))


def test_other_graph_tables_take_one_placing_exchange(spark, monkeypatch, tmp_path, vectors,
                                                      queries, searches):
    """A graph read back from parquet is not the table the index built,
    so the bounded search places it with one direct-partition exchange
    and returns the rows of the search over the built graph."""
    from fabstir_vectordb_spark.operators.hnsw import read_graph, write_graph

    idx = HNSWIndex(M=64, M0=64, ef_construction=64, num_graphs=3)
    built = idx.build(vectors).cache()
    write_graph(built, str(tmp_path / "graph"))
    loaded = read_graph(spark, str(tmp_path / "graph"))
    cols = ["graph_id", "id", "level", "neighbors", "vector", "deleted"]
    assert sorted(loaded.select(cols).collect()) == sorted(built.select(cols).collect())
    plans = []
    to_arrow = type(queries).toArrow

    def recorded(df):
        plans.append(_executed(df))
        return to_arrow(df)

    monkeypatch.setattr(type(queries), "toArrow", recorded)
    res = idx.search_bulk(loaded, queries, K, ef=64)
    (python,) = [p for p in plans if "InArrow" in p]
    assert "MapInArrow" in python
    assert python.count("Exchange") == python.count("direct_shuffle_partition_id") == 1
    assert _rows(res) == _rows(searches["hnsw"](queries))
