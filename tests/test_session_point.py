"""The point search path: search() and search_batch() run as one Spark job
over driver-held queries, and return exactly the rows of the DataFrame
plan (``_ranked``, behind search_dataframe) over the same queries: same
ids, same order, distances equal with ``==``.  Both places a point search
ranks are pinned: on the driver over the live rows the session holds there
(a small live table; one JVM-only Arrow collect fills them per table
version) and in ``partial_knn``'s map-only pass (the cap set to 0).
"""

import datetime as dt

import numpy as np
import pytest
from py4j import protocol as proto
from pyspark.sql import functions as F

from fabstir_vectordb_spark import session as session_mod
from fabstir_vectordb_spark.operators.ivf import IVFIndex
from fabstir_vectordb_spark.operators.topk import (
    _rounded_like_spark,
    first_k_per_query,
    round_like_spark,
    rounded,
)
from fabstir_vectordb_spark.session import VectorDbError, VectorDbSession, _result_item

K = 5
OLD = dt.datetime(2020, 1, 1)
QUERIES = [
    ("qa", [0.0, 0.0, 1.0, 0.0]),
    ("qb", [9.7, 0.2, 1.0, 0.0]),
    ("qc", [19.6, 0.1, 0.9, 0.3]),
]


def _items():
    # three well-separated groups along the first axis; every third row is
    # old (historical); "a-dup" and "z-dup" copy v04's vector, so they tie
    # with it at the 5th distance from qa
    out = [
        {
            "id": f"v{i:02d}",
            "vector": [i * 0.5, (i % 3) * 0.1, 1.0, 0.0],
            "metadata": {"lang": "en" if i % 2 else "de", "rank": i},
            "timestamp": OLD if i % 3 == 0 else None,
        }
        for i in range(42)
    ]
    out += [
        {"id": d, "vector": [2.0, 0.1, 1.0, 0.0], "metadata": {"lang": "en", "rank": 100}}
        for d in ("z-dup", "a-dup")
    ]
    return out


def _session(spark, trained):
    s = VectorDbSession(spark)
    s.add_vectors([{k: v for k, v in it.items() if v is not None} for it in _items()])
    if trained:
        s.train_index(n_clusters=6, seed=7)
        assert s._index.is_trained
    return s


@pytest.fixture(scope="module")
def exact(spark):
    return _session(spark, trained=False)


@pytest.fixture(scope="module")
def trained(spark):
    return _session(spark, trained=True)


@pytest.fixture
def path(request, monkeypatch):
    """The place a test's point searches must rank, checked when it ends:
    on the driver over the held rows (``held``) for a small live table, or
    ``partial_knn`` for the ``*_in_partial_knn`` copies of a test, which
    set the cap to 0 bytes.  The fixture sessions' query caches and held
    rows are dropped, so no answer of the other path is served and each
    test's first driver-ranked search fills the held rows."""
    want = (
        "partial_knn"
        if request.node.originalname.endswith("_in_partial_knn")
        else "held"
    )
    if want == "partial_knn":
        monkeypatch.setattr(session_mod, "_DRIVER_RANK_MAX_BYTES", 0)
    calls = {"held": 0, "partial_knn": 0}
    # the driver runs the ranking kernel itself only over held rows
    for name, fn in (("held", "_batch_topk_rows"), ("partial_knn", "partial_knn")):
        def counted(*a, _name=name, _fn=getattr(session_mod, fn), **kw):
            calls[_name] += 1
            return _fn(*a, **kw)

        monkeypatch.setattr(session_mod, fn, counted)
    for name in ("exact", "trained"):
        s = request.getfixturevalue(name)
        s._cache.invalidate()
        s._drop_held()
    yield want
    other = next(n for n in calls if n != want)
    assert calls[want] > 0 and calls[other] == 0, calls


def _jobs_for(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _via_ranked(s, queries, k, include_vectors=False, **kw):
    """The DataFrame plan over the same queries, collected with the
    metadata joined on and ordered by (round(distance, 6), id)."""
    qdf = s.spark.createDataFrame(
        [(qid, [float(x) for x in v]) for qid, v in queries],
        "query_id string, vector array<float>",
    )
    cols = ["id", "metadata"] + (["vector"] if include_vectors else [])
    rows = (
        s._ranked(qdf, k, **kw)
        .join(s._live().select(*cols), "id", "left")
        .orderBy("query_id", F.round("distance", 6), "id")
        .collect()
    )
    out = {qid: [] for qid, _ in queries}
    for r in rows:
        out[r["query_id"]].append(_result_item(r, include_vectors))
    return out


CASES = [
    {},
    {"filter": {"lang": "en"}},
    {"search_recent": False},
    {"search_historical": False},
    {"include_vectors": True},
    {"n_probe": 2},
]


@pytest.mark.parametrize("which", ["exact", "trained"])
@pytest.mark.parametrize("kw", CASES, ids=lambda kw: ",".join(kw) or "plain")
def test_search_equals_ranked_plan(request, path, which, kw):
    s = request.getfixturevalue(which)
    want = _via_ranked(s, QUERIES, K, threshold=0.0, **kw)
    for qid, vec in QUERIES:
        got = s.search(vec, k=K, **kw)
        assert got == want[qid]
        assert len(got) == K


@pytest.mark.parametrize("which", ["exact", "trained"])
def test_search_batch_equals_ranked_plan(request, path, which):
    s = request.getfixturevalue(which)
    for kw in ({}, {"filter": {"lang": "de"}}):
        got = s.search_batch([{"id": q, "vector": v} for q, v in QUERIES], k=K, **kw)
        assert got == _via_ranked(s, QUERIES, K, threshold=0.0, **kw)


@pytest.mark.parametrize("which", ["exact", "trained"])
def test_threshold_cuts_inside_top_k(request, path, which):
    s = request.getfixturevalue(which)
    qid, vec = QUERIES[1]
    full = s.search(vec, k=K)
    t = full[2]["score"]
    got = s.search(vec, k=K, threshold=t)
    assert 3 <= len(got) < K
    assert got == [r for r in full if r["score"] >= t]
    assert got == _via_ranked(s, [(qid, vec)], K, threshold=t)[qid]


@pytest.mark.parametrize("which", ["exact", "trained"])
def test_tie_at_kth_distance_breaks_by_id(request, path, which):
    s = request.getfixturevalue(which)
    qid, vec = QUERIES[0]
    got = s.search(vec, k=K, n_probe=6)
    # v04, a-dup and z-dup sit at the same 5th distance: the smallest id wins
    assert [r["id"] for r in got] == ["v00", "v01", "v02", "v03", "a-dup"]
    assert got == _via_ranked(s, [(qid, vec)], K, threshold=0.0, n_probe=6)[qid]


# the same tests with every point search ranked in partial_knn (``path``
# reads the name), so both places must give these rows, the tie included
test_search_equals_ranked_plan_in_partial_knn = test_search_equals_ranked_plan
test_search_batch_equals_ranked_plan_in_partial_knn = test_search_batch_equals_ranked_plan
test_threshold_cuts_inside_top_k_in_partial_knn = test_threshold_cuts_inside_top_k
test_tie_at_kth_distance_breaks_by_id_in_partial_knn = test_tie_at_kth_distance_breaks_by_id


def _merge_key_doubles():
    rng = np.random.default_rng(3)
    xs = [0.1234565, 0.0000005, 2.5e-7, 1.0000005, 1e22 + 1.0, 0.0, 123.4567895]
    return xs + rng.random(200).tolist() + (rng.random(200) * 1e4).tolist()


def test_driver_merge_key_is_sparks_round(spark):
    xs = _merge_key_doubles()
    df = spark.createDataFrame([(x,) for x in xs], "d double")
    got = [r[0] for r in df.select(rounded("d")).collect()]
    assert [round_like_spark(x) for x in xs] == got


def test_vectorized_merge_key_is_sparks_round(spark):
    """The key ``first_k_per_query`` sorts by equals Spark's round(d, 6) on
    the doubles above and on exact half-way decimals (shortest form ending
    in a 5 at the 7th place, where np.round's half-even scaled product
    and Spark's HALF_UP part), negatives, large and non-finite values."""
    rng = np.random.default_rng(11)
    halves = [0.1234565, 2.0000005, 0.0000015, 7.9999995, 1234.5678905]
    halves += [
        float(f"{a}.{b:06d}5")
        for a, b in zip(rng.integers(0, 3000, 150), rng.integers(0, 10**6, 150))
    ]
    xs = _merge_key_doubles() + halves
    xs += [-x for x in halves[:40]] + [1e15 + 0.5, 2.0**52 + 1.0, 9.0e9 + 0.0000005]
    xs += [float("inf"), float("-inf")]
    df = spark.createDataFrame([(x,) for x in xs], "d double")
    want = [r[0] for r in df.select(rounded("d")).collect()]
    got = _rounded_like_spark(np.asarray(xs))
    assert got.tolist() == want
    # np.round alone parts from Spark on the half-way values
    assert np.round(np.asarray(halves), 6).tolist() != got[-len(halves) - 45 : -45].tolist()


def test_first_k_per_query_orders_like_the_window():
    q = np.array([1, 0, 1, 0, 1, 0, 2])
    d = np.array([0.1234565, 0.5, 0.123457, 0.5, 0.2, 0.1, 3.0])
    keys = np.array(["b", "z", "a", "a", "c", "y", "q"])
    # query 1: 0.1234565 rounds up to 0.123457 and ties with "a"
    assert first_k_per_query(q, d, keys, 2).tolist() == [5, 3, 2, 0, 6]
    assert first_k_per_query(q[:0], d[:0], keys[:0], 2).tolist() == []


def test_wrong_dimension_raises_before_any_job(spark, trained):
    def call():
        with pytest.raises(VectorDbError, match="dimension"):
            trained.search([1.0, 2.0, 3.0], k=K)
        with pytest.raises(VectorDbError, match="dimension"):
            trained.search_batch([{"id": "x", "vector": [1.0]}], k=K)

    assert _jobs_for(spark, "wrong_dim", call) == 0


def _no_assign(self, *a, **kw):
    raise AssertionError("the session re-assigned its rows after train_index")


def test_point_search_is_one_job(spark, path, trained, exact, monkeypatch):
    # the table is clustered from train_index on: no search assigns
    assert "cluster_id" in trained._df.columns
    monkeypatch.setattr(IVFIndex, "assign", _no_assign)
    # partial_knn runs one job a search; on the driver the first search of
    # a table version pulls the held rows in one job, and later ones run none
    later = 1 if path == "partial_knn" else 0
    assert _jobs_for(spark, f"pt_ivf_{path}", lambda: trained.search([3.3, 0.1, 1.0, 0.0], k=K)) == 1
    assert _jobs_for(
        spark, f"pt_filtered_{path}",
        lambda: trained.search([3.3, 0.1, 1.0, 0.0], k=K, filter={"lang": "en"}),
    ) == later
    assert _jobs_for(spark, f"pt_exact_{path}", lambda: exact.search([4.4, 0.1, 1.0, 0.0], k=K)) == 1
    assert _jobs_for(spark, f"pt_exact2_{path}", lambda: exact.search([5.4, 0.1, 1.0, 0.0], k=K)) == later
    # a repeat is a cache hit
    assert _jobs_for(spark, f"pt_hit_{path}", lambda: trained.search([3.3, 0.1, 1.0, 0.0], k=K)) == 0


def _operators(df):
    """The node names of the physical plan ``df`` executes; a cached
    table's scan is a leaf, so the plan that once computed it is not
    among them."""
    names, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return names


def test_python_pass_in_collected_plan(path, trained, monkeypatch):
    pulled, collected = [], []
    cls = type(trained._df)
    to_arrow, collect = cls.toArrow, cls.collect

    def recorded(df):
        pulled.append(_operators(df))
        return to_arrow(df)

    def recorded_collect(df):
        collected.append(_operators(df))
        return collect(df)

    monkeypatch.setattr(cls, "toArrow", recorded)
    monkeypatch.setattr(cls, "collect", recorded_collect)
    trained.search([3.3, 0.1, 1.0, 0.0], k=K)
    trained.search([3.3, 0.1, 1.0, 0.0], k=K, filter={"lang": "en"})
    assert all("InMemoryTableScan" in p for p in pulled)
    python_pass = [any("MapInArrow" in n for n in p) for p in pulled]
    if path == "partial_knn":
        assert python_pass == [True, True]
        assert collected == []
    else:
        # one pull of the held rows; the filtered search selects among them
        # with an Arrow mask and collects nothing
        assert python_pass == [False]
        assert collected == []


test_python_pass_in_collected_plan_in_partial_knn = test_python_pass_in_collected_plan


def test_uncounted_bulk_load_falls_back_to_partial_knn(spark, exact, monkeypatch):
    items = _items()
    df = spark.createDataFrame(
        [(it["id"], it["vector"], it["metadata"]) for it in items],
        "id string, vector array<float>, metadata struct<lang:string,rank:bigint>",
    )
    bulk = VectorDbSession.from_dataframe(df, metadata_col="metadata")
    assert bulk._live_count is None
    want = {qid: exact.search(vec, k=K) for qid, vec in QUERIES}

    def no_driver_rank(*a, **kw):
        raise AssertionError("an uncounted table was ranked on the driver")

    monkeypatch.setattr(session_mod, "_batch_topk_rows", no_driver_rank)
    for qid, vec in QUERIES:
        got = bulk.search(vec, k=K)
        assert got == want[qid]
        assert got == _via_ranked(bulk, [(qid, vec)], K, threshold=0.0)[qid]
    # an uncounted session never holds its rows
    assert bulk._held is None


def test_cached_answer_is_not_the_callers_list(exact):
    vec = QUERIES[2][1]
    first = exact.search(vec, k=K)
    want = [dict(r, metadata=dict(r["metadata"])) for r in first]
    first.pop()
    first[0]["metadata"]["lang"] = "X"
    hit = exact.search(vec, k=K)
    assert hit == want
    hit[0]["metadata"]["lang"] = "Y"
    assert exact.search(vec, k=K) == want
    assert exact._cache.stats()["hits"] >= 2


def test_search_batch_is_one_job(spark, path, trained):
    qs = [(q, [v[0] + 0.05] + v[1:]) for q, v in QUERIES]
    # the three queries' nearest clusters, which every probe set leads with,
    # differ
    nearest = trained._index.probes_by_cluster(np.asarray([v for _, v in qs]), 1)
    assert len(nearest) == 3
    batch = [{"id": q, "vector": v} for q, v in qs]
    assert _jobs_for(spark, f"pt_batch_{path}", lambda: trained.search_batch(batch, k=K)) == 1
    # once the rows are held, a batch on the driver runs no job
    assert _jobs_for(spark, f"pt_batch2_{path}", lambda: trained.search_batch(batch, k=K)) == (
        1 if path == "partial_knn" else 0
    )


test_point_search_is_one_job_in_partial_knn = test_point_search_is_one_job
test_search_batch_is_one_job_in_partial_knn = test_search_batch_is_one_job


def test_held_rows_serve_later_searches_with_no_job(spark):
    """The held rows: train_index fills them with the pull that
    materializes its cache, a session whose rows are not held pulls them in
    its first search (one job), and every later search runs none —
    unfiltered, filtered, recency-restricted or a batch."""
    s = _session(spark, trained=True)
    vec = QUERIES[0][1]
    assert s._held is not None
    assert _jobs_for(spark, "held_trained", lambda: s.search(vec, k=K)) == 0
    s._drop_held()
    assert _jobs_for(spark, "held_fill", lambda: s.search(QUERIES[2][1], k=K)) == 1
    held = s._held
    assert held.rows.num_rows == len(_items())
    later = [
        lambda: s.search(QUERIES[1][1], k=K),
        lambda: s.search(vec, k=K, filter={"lang": "en"}),
        lambda: s.search(vec, k=K, search_recent=False),
        lambda: s.search(vec, k=K, search_historical=False, filter={"rank": {"$gte": 10}}),
        lambda: s.search(vec, k=K, search_recent=False, n_probe=2),
        lambda: s.search_batch([{"id": q, "vector": v} for q, v in QUERIES], k=K),
    ]
    for i, call in enumerate(later):
        assert _jobs_for(spark, f"held_later_{i}", call) == 0, i
    assert s._held is held


def test_unfiltered_held_search_makes_no_py4j_call(spark, monkeypatch):
    """Over held rows nothing calls into the JVM: no search (the probe
    filter, the recency cutoff and a Mongo filter are Arrow masks, a new
    filter's first search after a write included), and no add, update,
    delete or delete_by_metadata whose metadata converts straight into the
    held type."""
    s = _session(spark, trained=True)
    s.search(QUERIES[0][1], k=K)
    assert s._held is not None
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command
    # a JavaObject Python's GC frees sends a release command: not a call
    release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

    def recorded(command, *a, **kw):
        if not command.startswith(release):
            sent.append(command)
        return send(command, *a, **kw)

    monkeypatch.setattr(client, "send_command", recorded)
    vec = QUERIES[1][1]
    calls = [
        ("search", lambda: s.search(vec, k=K)),
        ("search_batch", lambda: s.search_batch([{"id": q, "vector": v} for q, v in QUERIES], k=K)),
        ("filtered", lambda: s.search(vec, k=K, filter={"lang": "en"})),
        ("recency", lambda: s.search(vec, k=K, search_recent=False, filter={"rank": {"$gt": 3}})),
        ("add", lambda: s.add_vectors(
            [{"id": f"n{i}", "vector": [i, 0.5, 1.0, 0.0], "metadata": {"lang": "fr", "rank": -i}}
             for i in range(4)])),
        ("filter after add", lambda: s.search(vec, k=K, filter={"$or": [{"lang": "fr"}, {"rank": 3}]})),
        ("update", lambda: s.batch_update_metadata([("n1", {"lang": "it"}), ("v03", None)])),
        ("filter after update", lambda: s.search(vec, k=K, filter={"lang": {"$in": ["it", "en"]}})),
        ("delete", lambda: s.batch_delete(["n2", "v05"])),
        ("delete_by_metadata", lambda: s.delete_by_metadata({"rank": {"$lte": 2}})),
        ("filter after delete", lambda: s.search(vec, k=K, filter={"rank": {"$gte": 0}})),
    ]
    for name, call in calls:
        s._cache.invalidate()
        sent.clear()
        call()
        assert sent == [], name
    assert s._held is not None and s.get_vector("n1")["metadata"] == {"lang": "it"}
    # the recorder sees the calls a Spark plan makes
    s.dataframe()
    monkeypatch.undo()
    assert len(sent) > 0


def test_each_write_is_seen_by_the_next_held_search(tmp_path, spark):
    """Every write, vacuum and train_index leaves the session new held
    rows — applied on the driver, or pulled again by the next search after
    migrate_aged, which drops them — so the next search sees the write and
    equals the DataFrame plan, filtered (the filter evaluated afresh over
    the new rows) or not, and probed (from a block index built afresh:
    a write never builds one, so none is stale).  So does the first search
    of a loaded session, whose rows arrive as one chunk per cluster file."""
    s = _session(spark, trained=True)
    qid, vec = QUERIES[1]
    flt = {"lang": "en", "rank": {"$lt": 40}}

    def search(s=s):
        assert s._held is None or s._held._blocks is None
        got = s.search(vec, k=K)
        assert s._held is not None
        assert got == _via_ranked(s, [(qid, vec)], K, threshold=0.0)[qid]
        n_probe = s._index.n_clusters - 1
        kws = ({"filter": flt}, {"filter": flt, "search_recent": False}, {"n_probe": n_probe})
        for kw in kws:
            want = _via_ranked(s, [(qid, vec)], K, threshold=0.0, **kw)[qid]
            assert s.search(vec, k=K, **kw) == want, kw
        return got

    before = search()
    assert any(r["metadata"]["lang"] == "de" for r in before)
    writes = [
        ("add_vectors", lambda: s.add_vectors(
            [{"id": "new", "vector": vec, "metadata": {"lang": "xx", "rank": -1}}]),
         lambda got: got[0]["id"] == "new"),
        ("batch_update_metadata", lambda: s.batch_update_metadata(
            [("new", {"lang": "yy", "rank": -2})]),
         lambda got: got[0] == dict(got[0], id="new", metadata={"lang": "yy", "rank": -2})),
        ("batch_delete", lambda: s.batch_delete(["new"]),
         lambda got: got == before),
        ("delete_by_metadata", lambda: s.delete_by_metadata({"lang": "de"}),
         lambda got: {r["metadata"]["lang"] for r in got} == {"en"}),
        ("migrate_aged", lambda: s.migrate_aged(max_per_run=1000),
         lambda got: "tier" in s._df.columns),
        ("vacuum", s.vacuum,
         lambda got: s._held.rows.num_rows == s.get_stats()["vectorCount"]),
        ("train_index", lambda: s.train_index(n_clusters=3, seed=11),
         lambda got: s._index.n_clusters == 3
         and set(s._held.rows.column("cluster_id").to_pylist()) == {0, 1, 2}),
    ]
    for name, write, seen in writes:
        held = s._held
        write()
        got = search()
        assert s._held is not held, name
        assert seen(got), name
    s.save(str(tmp_path / "db"))
    loaded = VectorDbSession.load(spark, str(tmp_path / "db"))
    assert loaded._held.rows.column("vector").num_chunks == s._index.n_clusters
    assert search(loaded) == got


# nine queries spread over the ``blocks`` session's square: at k=40 some
# of a query's nearest rows lie in clusters only another query probes
SPREAD = [
    (f"s{i}", [x, y, 1.0, 0.0])
    for i, (x, y) in enumerate(np.random.default_rng(23).uniform(0, 60, (9, 2)).tolist())
]


@pytest.fixture(scope="module")
def blocks(spark):
    """A session of 1,040 rows spread over a 60 x 60 square in the first
    two dims and 12 clusters, then three appended batches (three more
    chunks of the held rows) and soft-deleted rows in most clusters,
    appended ones included.  Its live rows exceed the planner's
    probe-everything size (1,000 rows), so search_batch probes a quarter
    of the clusters, a different quarter per query."""
    rng = np.random.default_rng(19)

    def item(i):
        return {
            "id": f"b{i:04d}",
            "vector": [*rng.uniform(0, 60, 2).tolist(), *rng.normal(0.0, 0.4, 2).tolist()],
            "metadata": {"lang": "en" if i % 2 else "de", "rank": i},
            **({"timestamp": OLD} if i % 3 == 0 else {}),
        }

    s = VectorDbSession(spark)
    s.add_vectors([item(i) for i in range(1_040)])
    s.train_index(n_clusters=12, seed=7)
    for lo in (1_040, 1_060, 1_080):
        s.add_vectors([item(i) for i in range(lo, lo + 20)])
    s.batch_delete([f"b{i:04d}" for i in range(5, 1_100, 37)])
    return s


@pytest.mark.parametrize("which", ["exact", "trained", "blocks"])
def test_held_rows_rank_as_partial_knn(request, which, monkeypatch):
    """Every search case, each probe width (one cluster, half, all) and
    search_batch give the same rows over the held rows as in
    ``partial_knn`` (the cap set to 0 bytes).  On ``blocks`` the held rows
    are ranked from their block index as the writes left them (appended
    chunks, soft-deleted rows), and search_batch's queries probe different
    clusters, so it ranks cluster by cluster."""
    s = request.getfixturevalue(which)
    batch = [{"id": q, "vector": v} for q, v in QUERIES + SPREAD]
    n = s._index.n_clusters if s._index is not None and s._index.is_trained else 1
    cases = CASES + [{"n_probe": w} for w in sorted({1, n // 2 or 1, n})]

    def run():
        s._cache.invalidate()
        return (
            [s.search(vec, k=K, **kw) for kw in cases for _, vec in QUERIES],
            [s.search_batch(batch, k=K, **kw) for kw in ({}, {"filter": {"lang": "de"}})],
            # k past the rows near a query: some of its nearest rows lie in
            # clusters only another query probes, and it must not see them
            s.search_batch(batch, k=40),
        )

    if which == "blocks":
        assert s._held.rows.column("vector").num_chunks > 1 and not s._held.alive.all()
        probes = s._index.probes_by_cluster(
            np.asarray([q["vector"] for q in batch]), s._probe_width(40, None, None)
        )
        assert any(len(q) < len(batch) for q in probes.values())
    else:
        s._drop_held()
    held = run()
    assert s._held is not None and s._held._blocks is not None
    monkeypatch.setattr(session_mod, "_DRIVER_RANK_MAX_BYTES", 0)
    assert run() == held
    assert s._held is None


def test_block_index_views_the_held_vectors(spark):
    """The block index holds no copy of the vectors: after the first
    probed search its matrix is a float32 view of the held rows' one
    vector buffer, so the byte cap (float32 vectors plus a per-row
    allowance) bounds what the driver holds.  A write builds no index; the
    next search builds its own over the new rows."""
    assert session_mod._DRIVER_RANK_MAX_BYTES == 64 << 20
    s = _session(spark, trained=True)
    s.add_vectors([{"id": "extra", "vector": [3.0, 0.2, 1.0, 0.0]}])
    held = s._held
    assert held._blocks is None and held.rows.column("vector").num_chunks > 1
    s.search(QUERIES[0][1], k=K, n_probe=2)
    assert s._held is held
    vectors = held.rows.column("vector")
    assert vectors.num_chunks == 1
    m = held._blocks.vectors
    assert m.dtype == np.float32 and m.shape == (held.rows.num_rows, 4)
    assert np.shares_memory(m, vectors.chunk(0).values.to_numpy())
    s.batch_delete(["extra"])
    assert s._held is not held and s._held._blocks is None


def test_loaded_session_reuses_saved_layout(tmp_path, spark, trained, monkeypatch):
    path = str(tmp_path / "db")
    with monkeypatch.context() as m:
        m.setattr(IVFIndex, "assign", _no_assign)
        trained.save(path)
        loaded = VectorDbSession.load(spark, path)
        assert loaded._live_count == trained.get_stats()["vectorCount"]
        got = loaded.search(QUERIES[1][1], k=K)

    # the saved layout is the assignment a fresh pass of the index gives
    def layout(df):
        return {r["id"]: r["cluster_id"] for r in df.select("id", "cluster_id").collect()}

    assert layout(loaded._df) == layout(loaded._index.assign(loaded.dataframe()))
    assert layout(loaded._df) == layout(trained._df)
    assert got == trained.search(QUERIES[1][1], k=K)


def test_vacuum_computes_the_table_once(spark):
    from pyspark.sql.functions import udf

    passes = spark.sparkContext.accumulator(0)

    @udf("string")
    def counted(v):
        passes.add(1)
        return v

    raw = spark.createDataFrame(
        [(f"x{i}", [float(i), 1.0]) for i in range(12)], "id string, vector array<float>"
    )
    # every pass over the table needs the id: the deleted flags derive from it
    s = VectorDbSession.from_dataframe(raw.withColumn("id", counted("id")))
    s.batch_delete(["x1", "x5", "x7"])
    passes.value = 0
    assert s.vacuum() == {"removed": 3, "remaining": 9}
    # every row of the lineage is computed once: counting and removing
    # the deleted rows each used to recompute it
    assert passes.value == 12
    assert s.deletion_stats() == {"deleted": 0, "active": 9}
