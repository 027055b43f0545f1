"""Session API e2e — the FIXTURES.md §4 CRUD script plus search shaping."""

import datetime as dt

import pytest

from fabstir_vectordb_spark.session import VectorDbError, VectorDbSession

DIM = 4


def mk(i, cat="technology", status="active", views=100, tags=None):
    return {
        "id": f"vec-{i}",
        "vector": [float(i), float(i % 3), 1.0, 0.0],
        "metadata": {
            "category": cat,
            "status": status,
            "views": views,
            "tags": tags or ["ai"],
            "user": {"id": f"u{i % 3}"},
        },
    }


@pytest.fixture()
def session(spark):
    s = VectorDbSession(spark)
    s.add_vectors([mk(i) for i in range(8)] + [mk(8, status="archived"), mk(9, status="archived")])
    return s


def test_add_and_search_shape(session):
    res = session.search([1.0, 1.0, 1.0, 0.0], k=3)
    assert len(res) == 3
    assert [r["id"] for r in res] == ["vec-1", "vec-0", "vec-2"]
    for r in res:
        assert r["score"] == pytest.approx(1.0 / (1.0 + r["distance"]))
        assert "_originalId" not in (r["metadata"] or {})
        assert r["metadata"]["category"] == "technology"
    # distances ascending
    ds = [r["distance"] for r in res]
    assert ds == sorted(ds)


def test_include_vectors(session):
    res = session.search([0.0, 0.0, 1.0, 0.0], k=1, include_vectors=True)
    assert res[0]["vector"] == [0.0, 0.0, 1.0, 0.0]


def test_dimension_validation(session):
    with pytest.raises(VectorDbError, match="dimension"):
        session.add_vectors([{"id": "bad", "vector": [1.0, 2.0]}])
    with pytest.raises(VectorDbError, match="dimension"):
        session.search([1.0, 2.0])


def test_duplicate_id_errors(session):
    with pytest.raises(VectorDbError, match="duplicate"):
        session.add_vectors([mk(0)])
    with pytest.raises(VectorDbError, match="duplicate"):
        session.add_vectors([mk(100), mk(100)])


def test_filtered_search(session):
    res = session.search([1.0, 1.0, 1.0, 0.0], k=10, filter={"status": "archived"})
    assert sorted(r["id"] for r in res) == ["vec-8", "vec-9"]
    res = session.search([1.0, 1.0, 1.0, 0.0], k=10, filter={"user.id": "u0"})
    assert all(int(r["id"].split("-")[1]) % 3 == 0 for r in res)


def test_threshold(session):
    all_res = session.search([1.0, 1.0, 1.0, 0.0], k=10)
    t = all_res[2]["score"]
    res = session.search([1.0, 1.0, 1.0, 0.0], k=10, threshold=t)
    assert len(res) == 3  # only the three with score >= t


def test_crud_script(session):
    # 2. deleteVector
    session.delete_vector("vec-7")
    assert all(r["id"] != "vec-7" for r in session.search([7.0, 1.0, 1.0, 0.0], k=10))
    with pytest.raises(VectorDbError):
        session.delete_vector("vec-7")  # already deleted
    with pytest.raises(VectorDbError):
        session.delete_vector("nope")  # unknown
    st = session.batch_delete(["vec-6", "vec-6", "missing"])
    assert st["successful"] == 1 and st["failed"] == 2 and len(st["errors"]) == 2

    # 3. deleteByMetadata returns user ids
    out = session.delete_by_metadata({"status": "archived"})
    assert out == {"deletedCount": 2, "deletedIds": ["vec-8", "vec-9"]}

    # 4. updateMetadata = full replace, vector unchanged
    session.update_metadata("vec-3", {"fresh": True})
    got = session.get_vector("vec-3")
    assert got["metadata"] == {"fresh": True}
    assert got["vector"] == [3.0, 0.0, 1.0, 0.0]
    with pytest.raises(VectorDbError):
        session.update_metadata("unknown-id", {})

    # 5. stats count active only
    stats = session.get_stats()
    assert stats["vectorCount"] == 6 and stats["deletedCount"] == 4

    # 6. vacuum
    v = session.vacuum()
    assert v["removed"] == 4 and v["remaining"] == 6
    assert session.deletion_stats() == {"deleted": 0, "active": 6}


def test_schema_validation_on_add(spark):
    s = VectorDbSession(spark)
    s.set_schema({"fields": {"title": {"type": "string"}}, "required": ["title"]})
    with pytest.raises(Exception, match="MissingField"):
        s.add_vectors([{"id": "a", "vector": [1.0], "metadata": {}}])
    s.add_vectors([{"id": "a", "vector": [1.0], "metadata": {"title": "ok", "extra": 1}}])
    assert s.get_vector("a")["metadata"]["title"] == "ok"


def test_recency_flags(spark):
    for trained in (False, True):
        s = VectorDbSession(spark)
        old_ts = dt.datetime.utcnow() - dt.timedelta(days=30)
        s.add_vectors([{"id": "old", "vector": [1.0, 0.0], "timestamp": old_ts}])
        s.add_vectors([{"id": "new", "vector": [0.9, 0.0]}])
        if trained:
            # the predicate must also hold on the clustered table: train
            # on enough rows, then drop the fillers so only old/new live
            fillers = [{"id": f"f{i}", "vector": [-5.0 - i, 3.0]} for i in range(10)]
            s.add_vectors(fillers)
            s.train_index(n_clusters=2)
            s.batch_delete([f["id"] for f in fillers])
            assert s._index.is_trained
        recent = s.search([1.0, 0.0], k=10, search_historical=False)
        assert [r["id"] for r in recent] == ["new"]
        hist = s.search([1.0, 0.0], k=10, search_recent=False)
        assert [r["id"] for r in hist] == ["old"]


def test_save_load_roundtrip(tmp_path, spark, session):
    session.delete_vector("vec-5")
    before = session.search([2.0, 2.0, 1.0, 0.0], k=5)
    sid = session.save(str(tmp_path / "db"))
    assert sid == session.session_id

    s2 = VectorDbSession.load(spark, str(tmp_path / "db"))
    after = s2.search([2.0, 2.0, 1.0, 0.0], k=5)
    assert [r["id"] for r in before] == [r["id"] for r in after]
    for b, a in zip(before, after):
        # float32 vectors round-trip parquet exactly (the reference allows
        # 1e-2, persistence.rs:897-971)
        assert a["distance"] == b["distance"]
    assert all(r["id"] != "vec-5" for r in after)  # deletion preserved
    assert s2.get_stats()["vectorCount"] == session.get_stats()["vectorCount"]


def test_trained_index_search(spark):
    s = VectorDbSession(spark)
    s.add_vectors([mk(i) for i in range(40)])
    s.train_index(n_clusters=4)
    res = s.search([5.0, 2.0, 1.0, 0.0], k=5)
    brute = VectorDbSession(spark)
    brute.add_vectors([mk(i) for i in range(40)])
    expected = brute.search([5.0, 2.0, 1.0, 0.0], k=5)
    assert [r["id"] for r in res] == [r["id"] for r in expected]


def test_search_batch_uses_index_consistently(spark):
    """search_batch must agree with per-query search() on a trained
    index — both route through the same planner and probe path."""
    s = VectorDbSession(spark)
    s.add_vectors([mk(i) for i in range(40)])
    s.train_index(n_clusters=4)
    qs = [
        {"id": "a", "vector": [5.0, 2.0, 1.0, 0.0]},
        {"id": "b", "vector": [20.0, 1.0, 1.0, 0.0]},
    ]
    batch = s.search_batch(qs, k=5)
    for q in qs:
        point = s.search(q["vector"], k=5)
        assert [r["id"] for r in batch[q["id"]]] == [r["id"] for r in point]


def test_search_dataframe_matches_batch(spark):
    """The DataFrame bulk surface returns the same rows as search_batch,
    trained or not."""
    from pyspark.sql import functions as F

    for train in (False, True):
        s = VectorDbSession(spark)
        s.add_vectors([mk(i) for i in range(40)])
        if train:
            s.train_index(n_clusters=4)
        qs = [
            {"id": "a", "vector": [5.0, 2.0, 1.0, 0.0]},
            {"id": "b", "vector": [20.0, 1.0, 1.0, 0.0]},
        ]
        qdf = spark.createDataFrame(
            [(q["id"], q["vector"]) for q in qs],
            "query_id string, vector array<float>",
        )
        got = {
            (r["query_id"], r["id"], round(r["distance"], 6))
            for r in s.search_dataframe(qdf, k=5).collect()
        }
        batch = s.search_batch(qs, k=5, threshold=-1.0)
        want = {
            (qid, r["id"], round(r["distance"], 6))
            for qid, rs in batch.items()
            for r in rs
        }
        assert got == want


def test_memory_usage_estimates(spark):
    from fabstir_vectordb_spark.session import VectorDbSession

    s = VectorDbSession(spark)
    s.add_vectors(
        [{"id": f"m{i}", "vector": [1.0, 2.0, 3.0, 4.0], "metadata": {"k": i}}
         for i in range(10)]
    )
    m = s.memory_usage()
    assert m["vector_bytes"] == 10 * 4 * 4
    assert m["ivf_bytes"] == 0 and m["hnsw_bytes"] == 0
    assert m["total_bytes"] == m["vector_bytes"]
    m2 = s.memory_usage(include_metadata=True)
    assert m2["metadata_bytes"] > 0
    s.train_index(n_clusters=2)
    m3 = s.memory_usage()
    assert m3["ivf_bytes"] == 2 * 4 * 4
    s.delete_vector("m0")
    assert s.memory_usage()["vector_bytes"] == 9 * 4 * 4


def test_from_dataframe_bulk_ingest(spark, embeddings):
    from fabstir_vectordb_spark.session import VectorDbError, VectorDbSession

    s = VectorDbSession.from_dataframe(
        embeddings, id_col="vec_id", vector_col="embedding"
    )
    assert s._dim == 64
    stats = s.get_stats()
    assert stats["vectorCount"] == embeddings.count()
    # search works over the ingested table
    qv = [float(x) for x in embeddings.limit(1).collect()[0]["embedding"]]
    res = s.search(qv, k=3)
    assert len(res) == 3 and res[0]["distance"] == 0.0
    # point APIs still function after bulk load
    assert s.get_vector(str(embeddings.limit(1).collect()[0]["vec_id"])) is not None


def test_from_dataframe_validations(spark):
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.session import VectorDbError, VectorDbSession

    dup = spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [3.0, 4.0])], "id long, vector array<double>"
    )
    import pytest as _pt

    with _pt.raises(VectorDbError, match="duplicate id"):
        VectorDbSession.from_dataframe(dup)
    mixed = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0, 5.0])], "id long, vector array<double>"
    )
    with _pt.raises(VectorDbError, match="dimensions"):
        VectorDbSession.from_dataframe(mixed)
    empty = spark.createDataFrame([], "id long, vector array<double>")
    s = VectorDbSession.from_dataframe(empty)
    assert s._df is None


def test_from_dataframe_with_ts_and_metadata(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.session import VectorDbSession

    from fabstir_vectordb_spark.session import _utcnow

    df = spark.createDataFrame(
        [
            (10, [1.0, 0.0], {"lang": "en"}, dt.datetime(2020, 1, 1)),
            (11, [0.0, 1.0], {"lang": "es"}, _utcnow() - dt.timedelta(hours=1)),
        ],
        "id long, vector array<double>, md map<string,string>, t timestamp",
    ).withColumn("md", F.struct(F.col("md")["lang"].alias("lang")))
    s = VectorDbSession.from_dataframe(
        df, metadata_col="md", ts_col="t"
    )
    got = s.get_vector("10")
    assert got["metadata"]["lang"] == "en"
    # ts mapped: the 2020 row is historical, the 2026 row recent
    recent = s.search([0.0, 1.0], k=2, search_historical=False)
    assert [r["id"] for r in recent] == ["11"]
    # filter dialect works against the mapped metadata
    res = s.search([1.0, 0.0], k=2, filter={"lang": "en"})
    assert [r["id"] for r in res] == ["10"]


def test_search_diversify(spark):
    from fabstir_vectordb_spark.session import VectorDbError, VectorDbSession

    s = VectorDbSession(spark)
    # two tight clusters; nearest cluster dominates pure relevance
    s.add_vectors(
        [{"id": "a1", "vector": [1.0, 0.0]},
         {"id": "a2", "vector": [0.99, 0.01]},
         {"id": "a3", "vector": [0.98, 0.02]},
         {"id": "b1", "vector": [0.0, 1.0]},
         {"id": "b2", "vector": [0.01, 0.99]}]
    )
    plain = s.search([1.0, 0.0], k=3)
    assert [r["id"] for r in plain] == ["a1", "a2", "a3"]
    div = s.search([1.0, 0.0], k=3, diversify=0.5)
    assert div[0]["id"] == "a1"                 # rank 1 = max relevance
    assert {r["id"] for r in div} & {"b1", "b2"}  # crossed clusters
    assert all("vector" not in r for r in div)
    withv = s.search([1.0, 0.0], k=3, diversify=0.5, include_vectors=True)
    assert all("vector" in r for r in withv)
    # lam=1.0 == plain order
    assert [r["id"] for r in s.search([1.0, 0.0], k=3, diversify=1.0)] == [
        r["id"] for r in plain
    ]
    import pytest as _pt

    with _pt.raises(VectorDbError, match="diversify"):
        s.search([1.0, 0.0], k=3, diversify=0.0)


def test_search_diversify_matches_mmr_rerank(spark):
    """The point API and the DataFrame operator run one MMR selection:
    search(q, k, diversify=lam) returns the ids, in order, that mmr_rerank
    picks over the 3k candidates search(q, 3k, include_vectors=True)
    returns."""
    import numpy as np

    from fabstir_vectordb_spark.operators.scoring import mmr_rerank

    rng = np.random.default_rng(11)
    s = VectorDbSession(spark)
    s.add_vectors(
        [{"id": f"v{i}", "vector": rng.normal(size=8).tolist()} for i in range(60)]
    )
    q, k = rng.normal(size=8).tolist(), 5
    cand = s.search(q, k=3 * k, include_vectors=True)
    results = spark.createDataFrame(
        [("q", r["id"], float(r["score"])) for r in cand],
        "query_id string, id string, score double",
    )
    vectors = spark.createDataFrame(
        [(r["id"], [float(x) for x in r["vector"]]) for r in cand],
        "id string, vector array<double>",
    )
    for lam in (0.3, 0.7):
        want = mmr_rerank(results, vectors, k, lam=lam).orderBy("rank").collect()
        got = s.search(q, k=k, diversify=lam)
        assert [r["id"] for r in got] == [r["id"] for r in want]


def test_delete_by_metadata_scale_safe_mode(session):
    """return_ids=False (r9 advice / verdict Missing #5): count-only
    result, NO driver-side id materialization, and the deleted_ids()
    DataFrame accessor carries the audit trail distributed instead."""
    out = session.delete_by_metadata(
        {"status": "archived"}, return_ids=False
    )
    assert out == {"deletedCount": 2}
    assert "deletedIds" not in out
    # the deletion itself happened identically to the default mode
    got = [r["id"] for r in session.deleted_ids().collect()]
    assert got == ["vec-8", "vec-9"]
    # idempotent on already-deleted rows (they are no longer live)
    again = session.delete_by_metadata(
        {"status": "archived"}, return_ids=False
    )
    assert again == {"deletedCount": 0}
    # empty session short-circuits in both modes
    from fabstir_vectordb_spark.session import VectorDbSession

    empty = VectorDbSession(session.spark)
    assert empty.delete_by_metadata({"a": 1}) == {
        "deletedCount": 0, "deletedIds": [],
    }
    assert empty.delete_by_metadata({"a": 1}, return_ids=False) == {
        "deletedCount": 0,
    }
    assert empty.deleted_ids().count() == 0
