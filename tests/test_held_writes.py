"""A small session is a driver-resident index: while its live rows fit the
cap, every row (live and soft-deleted, every column) is held on the driver
as one Arrow table, and writes, vacuum, stats, save and load act on it with
no Spark job.  The session table follows the held rows as the base table
with the touched ids anti-filtered out, unioned with one local relation of
their current state.  Pinned here: the job counts, the partition bound, the
equality of the held rows with the session table after every write kind,
an update that keeps a migrated row's tier on either path, and a held save
equal to Spark's save of the same table.
"""

import datetime as dt
import glob
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fabstir_vectordb_spark import session as session_mod
from fabstir_vectordb_spark.session import VectorDbSession, _union_schema, verify_integrity

OLD = dt.datetime(2020, 1, 1)


def _jobs_for(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _item(i, prefix="v", lang=None, **extra):
    return {
        "id": f"{prefix}{i:03d}",
        "vector": [(i % 12) * 1.0, (i % 5) * 0.5, float(i % 3), 1.0],
        "metadata": {"lang": lang or ("de" if i % 4 == 0 else "en"), "rank": i, **extra},
        **({"timestamp": OLD} if i % 3 == 0 else {}),
    }


def _session(spark, trained=True, n=60):
    s = VectorDbSession(spark)
    s.add_vectors([_item(i) for i in range(n)])
    if trained:
        s.train_index(n_clusters=6, seed=3)
    assert s._held is not None
    return s


def _cycle(s, c):
    """One session_rw-shaped write cycle: add, delete, update, then
    delete_by_metadata."""
    s.add_vectors([_item(i, prefix=f"c{c}-") for i in range(8)])
    s.batch_delete([f"c{c}-001", f"v{c:03d}"])
    s.batch_update_metadata([(f"c{c}-002", {"lang": "fr", "rank": -c}), (f"v{30 + c:03d}", None)])
    s.delete_by_metadata({"rank": 7 + c})


def _sorted_rows(t: pa.Table) -> pa.Table:
    return t.sort_by([("id", "ascending"), ("deleted", "ascending")])


def _assert_held_is_table(s, what):
    """The held rows equal the session table's rows, every column, and
    the table has the held rows' schema."""
    df = s._df
    assert df.schema == s._held.schema, what
    held = _sorted_rows(s._held.rows)
    got = _sorted_rows(df.toArrow()).cast(held.schema)
    assert got.equals(held), what


def test_small_session_writes_run_no_job(tmp_path, spark):
    s = _session(spark)
    q = [3.0, 1.0, 0.0, 1.0]
    calls = [
        ("add", lambda: s.add_vectors([_item(i, prefix="n") for i in range(10)])),
        ("update", lambda: s.batch_update_metadata([("n001", {"lang": "fr", "rank": -1})])),
        ("delete", lambda: s.batch_delete(["n002", "v001"])),
        ("delete_by_metadata", lambda: s.delete_by_metadata({"lang": "de"})),
        ("post_write_search", lambda: s.search(q, k=5)),
        ("filtered_search", lambda: s.search(q, k=5, filter={"lang": "en"})),
        ("get_stats", s.get_stats),
        ("deletion_stats", s.deletion_stats),
        ("get_vector", lambda: s.get_vector("n003")),
        ("vacuum", s.vacuum),
        ("save", lambda: s.save(str(tmp_path / "db"), codec="zstd", checksums=True)),
    ]
    for name, call in calls:
        assert _jobs_for(spark, f"held_{name}", call)[1] == 0, name
    loaded, jobs = _jobs_for(
        spark, "held_load", lambda: VectorDbSession.load(spark, str(tmp_path / "db"))
    )
    assert jobs == 0 and loaded._held is not None
    got, jobs = _jobs_for(spark, "held_loaded_search", lambda: loaded.search(q, k=5))
    assert jobs == 0
    s._cache.invalidate()
    assert got == s.search(q, k=5)
    assert loaded.get_stats()["vectorCount"] == s.get_stats()["vectorCount"]


def test_session_table_is_base_plus_one_local_relation(spark):
    s = _session(spark)
    base = s._held.base.rdd.getNumPartitions()
    for c in range(12):
        _cycle(s, c)
        assert s._df.rdd.getNumPartitions() <= base + 1, c
    s.vacuum()
    after = s._df.rdd.getNumPartitions()
    assert after == s._held.frame().rdd.getNumPartitions()
    assert s._held.touched == frozenset() and not s._df.filter("deleted").count()
    # the rebuilt base takes the writes of the next cycles as one more
    # partition, and the next vacuum brings the table back to its count
    for c in range(12, 24):
        _cycle(s, c)
        assert s._df.rdd.getNumPartitions() <= after + 1, c
    s.vacuum()
    assert s._df.rdd.getNumPartitions() == after


@pytest.mark.parametrize("trained", [False, True], ids=["exact", "trained"])
def test_held_rows_equal_the_session_table_after_every_write(spark, trained):
    s = _session(spark, trained=trained)
    writes = [
        ("add", lambda: s.add_vectors([_item(i, prefix="n") for i in range(5)])),
        # a new metadata field grows the struct: applied to the held rows
        ("add new field", lambda: s.add_vectors([_item(9, prefix="x", color="red")])),
        ("update", lambda: s.batch_update_metadata([("n001", {"lang": "fr", "rank": 1})])),
        ("update to None", lambda: s.batch_update_metadata([("v002", None)])),
        ("delete", lambda: s.batch_delete(["n000", "v003"])),
        # a deleted id added again: two rows share the id
        ("re-add", lambda: s.add_vectors([_item(3, lang="it")])),
        ("delete_by_metadata", lambda: s.delete_by_metadata({"lang": "de"})),
        ("delete_by_metadata no ids",
         lambda: s.delete_by_metadata({"rank": {"$gte": 50}}, return_ids=False)),
        ("migrate_aged", lambda: s.migrate_aged(max_per_run=5)),
        ("add after migrate", lambda: s.add_vectors([_item(7, prefix="m")])),
        ("update after migrate", lambda: s.batch_update_metadata([("v006", {"lang": "pt"})])),
        ("vacuum", s.vacuum),
        ("train_index", lambda: s.train_index(n_clusters=3, seed=11)),
    ]
    for name, write in writes:
        write()
        if s._held is None:  # migrate_aged drops them: the next search pulls
            assert name == "migrate_aged"
            s.search([1.0, 0.0, 0.0, 1.0], k=3)
        _assert_held_is_table(s, name)
        assert s._live_count == s.get_stats()["vectorCount"], name
        if name == "update after migrate":
            assert _tier(s, "v006") == "historical"
    assert "tier" in s._held.schema.fieldNames()
    assert "color" in s._held.schema["metadata"].dataType.fieldNames()


def test_a_write_needing_a_cast_drops_the_held_rows(spark):
    s = _session(spark, trained=False)
    # rank was inferred bigint; a float rank widens the column to double,
    # which the held rows do not cast: the write goes through Spark
    s.add_vectors([{"id": "f", "vector": [1.0, 2.0, 3.0, 4.0], "metadata": {"rank": 1.5}}])
    assert s._held is None
    assert s._df.schema["metadata"].dataType["rank"].dataType == T.DoubleType()
    got = s.search([1.0, 2.0, 3.0, 4.0], k=1)
    assert got[0]["id"] == "f" and s._held is not None
    _assert_held_is_table(s, "pulled after the cast")


def test_union_schema_refuses_what_the_held_rows_cannot_append(spark):
    def st(ddl):
        return spark.createDataFrame([], ddl).schema

    # a grown struct is Spark's union, which the held rows follow
    a, b = st("id string, m struct<a:bigint>, tier string"), st("id string, m struct<a:bigint,c:double>")
    assert _union_schema(spark, a, b) == st("id string, m struct<a:bigint,c:double>, tier string")
    # a value cast, a case-only name difference and a union Spark refuses
    # are left to Spark
    assert _union_schema(spark, st("m struct<a:bigint>"), st("m struct<a:double>")) is None
    assert _union_schema(spark, st("m struct<a:bigint>"), st("m struct<A:bigint>")) is None
    assert _union_schema(spark, st("m struct<a:bigint>"), st("m array<int>")) is None


def test_soft_deleted_rows_count_against_the_cap(tmp_path, spark, monkeypatch):
    s = _session(spark, n=60)
    monkeypatch.setattr(session_mod, "_DRIVER_RANK_MAX_BYTES", 70 * (s._dim * 4 + 64))
    # 60 live rows fit the 70-row cap; 60 more soft-deleted ones do not
    for c in range(3):
        s.add_vectors([_item(i, prefix=f"d{c}-") for i in range(20)])
        s.batch_delete([f"d{c}-{i:03d}" for i in range(20)])
    assert s._live_count == 60 and s._held is None and not s._ranks_on_driver()
    assert len(s.search([3.0, 1.0, 0.0, 1.0], k=5)) == 5 and s._held is None
    s.train_index(n_clusters=4, seed=2)
    assert s._held is None
    path = str(tmp_path / "db")
    s.save(path)
    loaded = VectorDbSession.load(spark, path)
    assert loaded._held is None and loaded._row_count == 120
    assert len(loaded.search([3.0, 1.0, 0.0, 1.0], k=5)) == 5 and loaded._held is None
    # vacuum leaves the live rows alone, which fit
    assert s.vacuum() == {"removed": 60, "remaining": 60}
    s.search([3.0, 1.0, 0.0, 1.0], k=5)
    assert s._held is not None and s._held.rows.num_rows == 60


def test_save_over_the_loaded_files_keeps_the_session(tmp_path, spark):
    s = _session(spark)
    s.batch_delete(["v001"])
    path = str(tmp_path / "db")
    s.save(path)
    loaded = VectorDbSession.load(spark, path)
    assert loaded._held is not None
    loaded.add_vectors([_item(1, prefix="n")])  # the table is base + delta
    loaded.save(path)
    assert loaded.dataframe().count() == 61
    assert loaded.deleted_ids().collect()[0]["id"] == "v001"
    _assert_held_is_table(loaded, "saved over its own files")
    again = VectorDbSession.load(spark, path)
    assert again.deletion_stats() == loaded.deletion_stats() == {"deleted": 1, "active": 60}


def _tier(s, vid):
    return s._live_rows([vid], "tier")[0]["tier"]


@pytest.mark.parametrize("held", [True, False], ids=["held", "spark"])
def test_update_keeps_the_tier(spark, monkeypatch, held):
    s = _session(spark, trained=False)
    s.migrate_aged(max_per_run=5)
    if held:
        s.search([1.0, 0.0, 0.0, 1.0], k=3)  # pulls the rows again, with tier
        assert s._held is not None
    else:
        monkeypatch.setattr(session_mod, "_DRIVER_RANK_MAX_BYTES", 0)
    assert _tier(s, "v006") == "historical"
    s.batch_update_metadata([("v006", {"lang": "pt", "rank": 6}), ("v001", {"lang": "pt"})])
    assert (s._held is not None) == held
    assert _tier(s, "v006") == "historical" and _tier(s, "v001") is None
    assert s.get_vector("v006")["metadata"] == {"lang": "pt", "rank": 6}


def test_stats_from_held_rows_equal_sparks(spark, monkeypatch):
    s = _session(spark)
    s.batch_delete(["v001", "v003"])
    held = s.get_stats()
    assert s.deletion_stats() == {"deleted": 2, "active": 58}
    monkeypatch.setattr(session_mod, "_DRIVER_RANK_MAX_BYTES", 0)
    s._drop_held()
    spark_stats = s.get_stats()
    assert s.deletion_stats() == {"deleted": 2, "active": 58}
    assert held.pop("avgAgeMs") == pytest.approx(spark_stats.pop("avgAgeMs"), rel=1e-6)
    assert held == spark_stats


def _spark_save(s, path, monkeypatch, **kw):
    with monkeypatch.context() as m:
        m.setattr(session_mod, "_DRIVER_RANK_MAX_BYTES", 0)
        held = s._held
        s._drop_held()
        s.save(path, **kw)
        s._held = held


def _read_back(spark, path):
    df = spark.read.parquet(os.path.join(path, "vectors"))
    return df.schema, sorted(
        df.select(*[F.to_json(F.struct(c)).alias(c) for c in df.columns]).collect()
    )


def _metadata_less(spark):
    s = VectorDbSession(spark)
    s.add_vectors([{"id": f"m{i}", "vector": [float(i), 1.0]} for i in range(30)])
    s.train_index(n_clusters=3, seed=1)
    s.batch_delete(["m4"])
    return s


def _tiered(spark):
    s = _session(spark)
    s.migrate_aged(max_per_run=10)
    s.search([1.0, 0.0, 0.0, 1.0], k=3)  # pulls the rows again, with tier
    s.batch_delete(["v002"])
    return s


@pytest.mark.parametrize("codec", ["snappy", "zstd"])
@pytest.mark.parametrize("shape", ["metadata", "metadata_less", "tier"])
def test_held_save_equals_spark_save(tmp_path, spark, monkeypatch, codec, shape):
    s = {"metadata": _session, "metadata_less": _metadata_less, "tier": _tiered}[shape](spark)
    if shape == "metadata":
        _cycle(s, 0)
    assert s._held is not None
    held_path, spark_path = str(tmp_path / "held"), str(tmp_path / "spark")
    _, jobs = _jobs_for(spark, f"save_{shape}_{codec}", lambda: s.save(held_path, codec=codec, checksums=True))
    assert jobs == 0
    _spark_save(s, spark_path, monkeypatch, codec=codec, checksums=True)
    assert _read_back(spark, held_path) == _read_back(spark, spark_path)
    files = glob.glob(os.path.join(held_path, "vectors", "**", "*.parquet"), recursive=True)
    assert files and all(f.endswith(f".{codec}.parquet") for f in files)
    assert os.path.exists(os.path.join(held_path, "vectors", "_SUCCESS"))
    dirs = {os.path.basename(os.path.dirname(f)) for f in files}
    assert len(files) == len(dirs) and all(d.startswith("cluster_id=") for d in dirs)
    for path in (held_path, spark_path):
        assert verify_integrity(spark, path)["ok"], path
        # either layout loads into held rows equal to the loaded table
        loaded = VectorDbSession.load(spark, path)
        assert loaded._held is not None
        _assert_held_is_table(loaded, path)
        assert loaded.get_stats()["deletedCount"] == s.get_stats()["deletedCount"]
