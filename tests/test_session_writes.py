"""The session write path: assign at insert and JVM-local write batches.

Once an index is trained the session table carries ``cluster_id``: every
insert is assigned on the driver as it is appended and an update keeps its
row's cluster, so no write, search, vacuum, save or load re-assigns the
table.  A write batch is one Arrow table held by Spark as a local relation,
its metadata parsed by ``from_json``; the parity tests below pin that
conversion against the Python-row ``createDataFrame`` builder it replaced,
kept here as the reference.
"""

import datetime as dt
import json
import os
from decimal import Decimal

import numpy as np
import pytest
from pyspark.errors import PySparkTypeError
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fabstir_vectordb_spark import session as session_mod
from fabstir_vectordb_spark.operators.ivf import IVFIndex
from fabstir_vectordb_spark.session import VectorDbError, VectorDbSession, _merge_struct

T0 = dt.datetime(2024, 5, 6, 7, 8, 9, 123456)


def _jobs_for(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _tasks_for(spark, group):
    tracker = spark.sparkContext.statusTracker()
    return sum(
        tracker.getStageInfo(sid).numTasks
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    )


# ------------------------------------------------- the reference builder


def _reference_md_type(spark, mds):
    """The JSON-reader inference of the replaced builder (one Spark job)."""
    texts = spark.createDataFrame([(json.dumps(md),) for md in mds if md], "j string")
    t = spark.read.json(texts.rdd.map(lambda r: r["j"])).schema
    return T.StructType([f for f in t if not f.name.startswith("_corrupt")])


def _reference_batch(session, rows):
    """The replaced builder: ``createDataFrame`` of Python rows."""
    base = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("vector", T.ArrayType(T.FloatType()), False),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("deleted", T.BooleanType(), False),
        ]
    )
    mds = [r["metadata"] for r in rows]
    md_type = T.StructType()
    if any(mds):
        md_type = _reference_md_type(session.spark, mds)
        if session._schema is not None:
            names = md_type.fieldNames()
            merged = _merge_struct(session._schema.spark_type(), md_type)
            md_type = T.StructType([f for f in merged if f.name in names])
    base.add(T.StructField("metadata", md_type, True))
    return session.spark.createDataFrame(rows, base)


def _rows(mds, vectors=None):
    return [
        {
            "id": f"r{i}",
            "vector": vectors[i] if vectors else [float(i), 0.5, -1.0],
            "metadata": md,
            "ts": T0 + dt.timedelta(seconds=i),
            "deleted": False,
        }
        for i, md in enumerate(mds)
    ]


def _collected(df):
    return df.schema.simpleString(), [r.asDict(recursive=True) for r in df.collect()]


def _batch(session, rows):
    """A write batch as the Spark path appends it: one local partition."""
    return session._parsed_batch(session._batch_table(rows)).coalesce(1)


PARITY = {
    "nested_structs": [
        {"a": {"x": 1, "y": {"z": "q"}}, "n": 1},
        {"a": {"x": 2}, "n": 2},
    ],
    "arrays": [{"tags": ["a", "b"], "nums": [1, 2]}, {"tags": [], "nums": [3]}],
    "null_fields": [{"a": None, "b": 1}, None, {}, {"a": "x", "b": None}],
    "int_and_bool_in_string_field": [{"a": "x"}, {"a": 1}, {"a": True}],
}


@pytest.mark.parametrize("mds", PARITY.values(), ids=list(PARITY))
def test_batch_builder_matches_python_rows(spark, mds):
    s = VectorDbSession(spark)
    rows = _rows(mds)
    assert _collected(_batch(s, rows)) == _collected(_reference_batch(s, rows))


def test_batch_builder_string_field_values(spark):
    # int and bool in an otherwise-string field are stored as their JSON
    # text, as the Python-row builder stored them
    s = VectorDbSession(spark)
    got = _batch(s, _rows(PARITY["int_and_bool_in_string_field"]))
    assert [r["metadata"]["a"] for r in got.collect()] == ["x", "1", "true"]


def test_batch_builder_declared_schema_merge(spark):
    s = VectorDbSession(spark)
    s.set_schema({"fields": {"score": {"type": "number"}, "lang": {"type": "string"}}})
    rows = _rows([{"score": 1.5, "lang": "en", "extra": 3}, {"score": None, "lang": "de"}])
    got = _collected(_batch(s, rows))
    assert got == _collected(_reference_batch(s, rows))
    assert "score:double" in got[0] and "extra:bigint" in got[0]


def test_batch_builder_vectors_and_timestamps(spark):
    # float32 rounding of the vectors (a subnormal and float32's max
    # included) and naive-datetime timestamps with microseconds
    s = VectorDbSession(spark)
    vecs = [[0.1, 1.0 / 3.0, 1e-40], [3.4028234663852886e38, -2.5, 7.0000001]]
    rows = _rows([{"a": 1}, {"a": 2}], vectors=vecs)
    got = _collected(_batch(s, rows))
    assert got == _collected(_reference_batch(s, rows))
    assert [r["ts"] for r in got[1]] == [T0, T0 + dt.timedelta(seconds=1)]


def test_batch_builder_deliberate_changes(spark):
    s = VectorDbSession(spark)
    # int and float in one field: stored as double (the Python-row builder
    # raised)
    mixed = _rows([{"a": 1}, {"a": 1.5}])
    with pytest.raises(PySparkTypeError):
        _reference_batch(s, mixed).collect()
    got = _batch(s, mixed)
    assert got.schema["metadata"].dataType.simpleString() == "struct<a:double>"
    assert [r["metadata"]["a"] for r in got.collect()] == [1.0, 1.5]
    # an int beyond int64: stored as decimal(20,0) (it raised)
    big = _rows([{"a": 10**19}])
    with pytest.raises(PySparkTypeError):
        _reference_batch(s, big).collect()
    got = _batch(s, big)
    assert got.schema["metadata"].dataType.simpleString() == "struct<a:decimal(20,0)>"
    assert got.collect()[0]["metadata"]["a"] == Decimal(10**19)
    # an object or a large float in a string-inferred field: its JSON text
    # (it was the Python repr, "{'b': 1}" and '1.5e+20')
    texts = _rows([{"a": "s"}, {"a": {"b": 1}}, {"a": 1.5e20}])
    old = [r["metadata"]["a"] for r in _reference_batch(s, texts).collect()]
    assert old == ["s", "{'b': 1}", "1.5e+20"]
    new = [r["metadata"]["a"] for r in _batch(s, texts).collect()]
    assert new == ["s", '{"b":1}', "1.5E20"]


def test_batch_is_one_local_partition(spark):
    s = VectorDbSession(spark)
    batch = _batch(s, _rows([{"a": i} for i in range(20)]))
    assert batch.rdd.getNumPartitions() == 1
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "PythonRDD" not in plan and "ExistingRDD" not in plan


# ------------------------------------- metadata in the held Arrow type


def _held_session(spark, mds):
    """A session holding rows whose metadata type Spark inferred from ``mds``."""
    s = VectorDbSession(spark)
    s.add_vectors(
        [{"id": f"h{i}", "vector": [1.0, 0.0, float(i)], "metadata": md} for i, md in enumerate(mds)]
    )
    assert s._held is not None
    return s


# (the held rows' metadata, a batch's) whose conversion needs no inference
STRAIGHT = {
    **{k: (PARITY[k], PARITY[k]) for k in ("nested_structs", "null_fields")},
    "fewer_fields": (
        [{"a": {"x": 1, "y": {"z": "q"}}, "n": 1, "s": "t", "b": True}],
        [{"n": 2}, {"a": {"y": {"z": "w"}}}, {"b": False, "s": "é"}],
    ),
    "null_and_empty_objects": (
        [{"a": {"x": 1}, "n": 1}], [None, {}, {"a": None, "n": 2}, {"a": {"x": 3}}]
    ),
    "no_field_carried": ([{"a": 1}], [None, {}]),
    "metadata_less": ([None], [None, {}]),
    "number_bounds": (
        [{"i": 1, "f": 0.5}],
        [{"i": (1 << 63) - 1, "f": 1.7976931348623157e308}, {"i": -(1 << 63), "f": 5e-324},
         {"i": 0, "f": -0.0}],
    ),
}
NAN, INF = float("nan"), float("inf")
# ... and those whose conversion Spark must infer
PARSED = {
    **{k: (PARITY[k], PARITY[k]) for k in ("arrays", "int_and_bool_in_string_field")},
    "field_only_ever_null": ([{"a": 1, "b": "x"}], [{"a": None, "b": "y"}]),
    "int_for_a_double": ([{"a": 1.5}], [{"a": 2}]),
    "nan": ([{"a": 1.5}], [{"a": NAN}]),
    "inf": ([{"a": 1.5}], [{"a": INF}]),
    "minus_inf": ([{"a": 1.5}], [{"a": -INF}]),
    "int_beyond_int64": ([{"a": 1}], [{"a": 1 << 63}]),
    "new_field": ([{"a": 1}], [{"a": 2, "b": "x"}]),
    "empty_nested_object": ([{"a": {"x": 1}}], [{"a": {}}]),
    "nested_field_only_ever_null": ([{"a": {"x": 1, "y": "s"}}], [{"a": {"x": 2, "y": None}}]),
    "numpy_float": ([{"a": 1.5}], [{"a": np.float64(2.5)}]),
}


@pytest.mark.parametrize("base,mds", STRAIGHT.values(), ids=list(STRAIGHT))
def test_held_metadata_is_sparks_parse(spark, base, mds):
    """Metadata built straight in the held type equals Spark's parse of the
    batch unioned into the held rows: the same type and the same rows."""
    s = _held_session(spark, base)
    rows = _rows(mds, vectors=[[float(i), 2.0, 0.0] for i in range(len(mds))])
    md = s._held_metadata([r["metadata"] for r in rows])
    assert md is not None
    union = s._df.unionByName(_batch(s, rows), allowMissingColumns=True)
    held = s._held.appended(s._batch_table(rows, md), s._held.schema)
    got = spark.createDataFrame(held.rows, held.schema)
    assert _collected(got.orderBy("id")) == _collected(union.orderBy("id"))


@pytest.mark.parametrize("write", ["add", "update"])
@pytest.mark.parametrize("base,mds", PARSED.values(), ids=list(PARSED))
def test_other_metadata_takes_sparks_parse(spark, monkeypatch, base, mds, write):
    # as many held rows as the batch has, each of a base shape
    s = _held_session(spark, [base[i % len(base)] for i in range(max(len(base), len(mds)))])
    assert s._held_metadata(mds) is None
    parsed = []
    parse = VectorDbSession._parsed_batch

    def counted(self, table):
        parsed.append(table.num_rows)
        return parse(self, table)

    monkeypatch.setattr(VectorDbSession, "_parsed_batch", counted)
    if write == "add":
        s.add_vectors(
            [{"id": f"r{i}", "vector": [0.0, 1.0, 2.0], "metadata": md} for i, md in enumerate(mds)]
        )
    else:
        s.batch_update_metadata([(f"h{i}", md) for i, md in enumerate(mds)])
    assert parsed == [len(mds)]


def test_declared_type_other_than_the_held_one_takes_sparks_parse(spark):
    # rank was inferred bigint; declared a number it parses as double
    s = _held_session(spark, [{"rank": 1, "lang": "en"}])
    assert s._held_metadata([{"rank": 2, "lang": "de"}]) is not None
    s.set_schema({"fields": {"rank": {"type": "number"}, "lang": {"type": "string"}}})
    assert s._held_metadata([{"rank": 2}]) is None
    assert s._held_metadata([{"lang": "de"}]) is not None


# ------------------------------------------------ non-dict metadata


def test_non_dict_metadata_fails_its_row(spark):
    s = VectorDbSession(spark)
    with pytest.raises(VectorDbError, match="'b'"):
        s.add_vectors(
            [
                {"id": "a", "vector": [1.0, 2.0], "metadata": {"k": 1}},
                {"id": "b", "vector": [1.0, 2.0], "metadata": "not-a-dict"},
            ]
        )
    assert s._dim is None and s.dataframe() is None
    res = s.batch_add_vectors(
        [
            {"id": "a", "vector": [1.0, 2.0], "metadata": {"k": 1}},
            {"id": "b", "vector": [1.0, 2.0], "metadata": ["x"]},
            {"id": "c", "vector": [3.0, 4.0]},
        ]
    )
    assert res["successful"] == 2 and res["failed"] == 1
    assert res["errors"][0]["id"] == "b" and "metadata" in res["errors"][0]["error"]
    assert s.get_vector("a")["metadata"] == {"k": 1} and s.get_vector("b") is None
    res = s.batch_update_metadata([("a", "text"), ("c", {"k": 2})])
    assert res["successful"] == 1 and res["failed"] == 1
    assert "'a'" in res["errors"][0]
    assert s.get_vector("a")["metadata"] == {"k": 1}
    assert s.get_vector("c")["metadata"] == {"k": 2}
    with pytest.raises(VectorDbError, match="'a'"):
        s.update_metadata("a", 7)


# ------------------------------------------------ assign at insert


def _item(i, lang="en", prefix="v"):
    return {
        "id": f"{prefix}{i:03d}",
        "vector": [(i % 12) * 1.0, (i % 5) * 0.5, float(i % 3), 1.0],
        "metadata": {"lang": lang, "rank": i},
    }


@pytest.fixture()
def trained(spark):
    s = VectorDbSession(spark)
    s.add_vectors([_item(i, lang="de" if i % 4 == 0 else "en") for i in range(60)])
    s.train_index(n_clusters=6, seed=3)
    assert s._index.is_trained
    return s


def _no_assign(self, *a, **kw):
    raise AssertionError("the session re-assigned its rows after train_index")


def _write_cycle(s, start):
    s.add_vectors([_item(i, prefix="n") for i in range(start, start + 8)])
    s.batch_update_metadata([(f"n{start:03d}", {"lang": "fr", "rank": -1})])
    s.batch_delete([f"n{start + 1:03d}", "v001"])
    s.delete_by_metadata({"lang": "de"})


def test_writes_are_one_job_each(spark, trained, monkeypatch):
    # rows not held (the cap at 0 bytes): each write is one job, its probe
    monkeypatch.setattr(session_mod, "_DRIVER_RANK_MAX_BYTES", 0)
    trained._drop_held()
    assert _jobs_for(
        spark, "w_add", lambda: trained.add_vectors([_item(i, prefix="n") for i in range(5)])
    ) == 1
    assert _jobs_for(
        spark, "w_upd",
        lambda: trained.batch_update_metadata([("n000", {"lang": "fr"}), ("v002", None)]),
    ) == 1


def test_search_after_writes_is_one_job(spark, trained, monkeypatch):
    # rows not held (the cap at 0 bytes): the search is one job over the
    # base table and the written batches
    monkeypatch.setattr(session_mod, "_DRIVER_RANK_MAX_BYTES", 0)
    trained._drop_held()
    base = trained._df.rdd.getNumPartitions()
    trained.add_vectors([_item(i, prefix="n") for i in range(5)])
    trained.batch_update_metadata([("n000", {"lang": "fr", "rank": 0})])
    trained.batch_delete(["v003"])
    q = [3.0, 1.0, 0.0, 1.0]
    assert _jobs_for(spark, "w_search", lambda: trained.search(q, k=5)) == 1
    assert _tasks_for(spark, "w_search") <= base + 2


def test_nothing_reassigns_after_training(tmp_path, spark, trained, monkeypatch):
    q = [5.0, 1.0, 2.0, 1.0]
    path = str(tmp_path / "db")
    monkeypatch.setattr(IVFIndex, "assign", _no_assign)
    _write_cycle(trained, 0)
    first = trained.search(q, k=5)
    trained.vacuum()
    trained.save(path)
    loaded = VectorDbSession.load(spark, path)
    assert loaded.search(q, k=5) == first
    monkeypatch.undo()
    assert {r["id"] for r in first}.isdisjoint({"n001", "v001", "v000", "v004"})


def test_inserted_rows_are_assigned_as_assign_would(spark, trained):
    trained.add_vectors([_item(i, prefix="n") for i in range(37)])
    trained.batch_update_metadata([("n005", {"lang": "fr"}), ("v010", {"lang": "fr"})])
    got = {r["id"]: r["cluster_id"] for r in trained._df.collect()}
    redo = trained._index.assign(trained.dataframe())
    assert got == {r["id"]: r["cluster_id"] for r in redo.collect()}
    assert "cluster_id" not in trained.dataframe().columns


def test_save_writes_one_file_per_cluster(tmp_path, trained):
    _write_cycle(trained, 0)
    path = str(tmp_path / "db")
    trained.save(path)
    root = os.path.join(path, "vectors")
    dirs = [d for d in os.listdir(root) if d.startswith("cluster_id=")]
    assert len(dirs) > 1
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(root, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


# ---------------------------------------- the cache and count contract


def test_replaced_cached_tables_are_unpersisted(spark, trained):
    # each cycle caches a clustered table (train_index) and a compacted one
    # (vacuum); the table each replaces is unpersisted, so the persisted
    # RDD count does not grow from one cycle to the next
    sc = spark.sparkContext
    sizes = []
    for c in range(3):
        trained.add_vectors([_item(i, prefix=f"c{c}") for i in range(4)])
        trained.batch_delete([f"c{c}000"])
        trained.train_index(n_clusters=6, seed=3)
        trained.vacuum()
        sizes.append(len(sc._jsc.getPersistentRDDs()))
    assert sizes[2] <= sizes[0], sizes


def test_live_count_follows_every_mutation(tmp_path, spark, trained):
    s = trained

    def check(what):
        assert s._live_count == s.get_stats()["vectorCount"], what

    check("train")
    s.add_vectors([_item(i, prefix="n") for i in range(6)])
    check("add")
    s.batch_add_vectors([_item(6, prefix="n"), _item(0, prefix="n"), {"id": "bad"}])
    check("batch_add")
    s.batch_delete(["n000", "n000", "missing"])
    check("delete")
    s.batch_update_metadata([("n001", {"lang": "de"}), ("missing", None)])
    check("update")
    assert s.delete_by_metadata({"lang": "de"})["deletedCount"] > 0
    check("delete_by_metadata")
    s.delete_by_metadata({"rank": {"$lt": 5}}, return_ids=False)
    check("delete_by_metadata(return_ids=False)")
    s.migrate_aged(age_days=0, now=dt.datetime.now() + dt.timedelta(days=1))
    check("migrate_aged")
    s.vacuum()
    check("vacuum")
    path = str(tmp_path / "db")
    s.save(path)
    loaded = VectorDbSession.load(spark, path)
    assert loaded._live_count == loaded.get_stats()["vectorCount"] == s._live_count
