"""Batch mutation paths: single-pass semantics, O(1) jobs per batch, and
bounded plan depth under sustained mutation.

Parity: hybrid/core.rs:968-986 (batch delete returns stats in one call),
session.rs:581-632 (updateMetadata full replace); the e2e mutation matrix
mirrors bindings/node/test/e2e-crud.test.js.
"""

import pytest

from fabstir_vectordb_spark import session as session_mod
from fabstir_vectordb_spark.session import VectorDbError, VectorDbSession

DIM = 3


def mk(i, lang="en"):
    return {
        "id": f"v{i}",
        "vector": [float(i), float(i % 5), 1.0],
        "metadata": {"lang": lang, "rank": i},
    }


@pytest.fixture()
def sess(spark):
    s = VectorDbSession(spark)
    s.add_vectors([mk(i) for i in range(40)])
    return s


def _jobs_for(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_batch_delete_stats_and_duplicates(sess):
    # 3 live, 1 unknown, 1 duplicate (second occurrence must fail, as the
    # sequential reference loop would)
    res = sess.batch_delete(["v1", "v2", "nope", "v3", "v1"])
    assert res["successful"] == 3
    assert res["failed"] == 2
    assert any("nope" in e for e in res["errors"])
    assert any("v1" in e for e in res["errors"])
    assert sess.get_vector("v1") is None
    assert sess.get_vector("v4") is not None
    # deleting an already-deleted id fails
    res2 = sess.batch_delete(["v1"])
    assert res2 == {"successful": 0, "failed": 1, "errors": [f"vector not found: 'v1'"]}


def test_batch_delete_is_one_pass(spark, sess):
    # job count must not scale with batch size: one existence probe, one
    # (lazy) column rewrite
    n100 = _jobs_for(spark, "bd100", lambda: sess.batch_delete([f"v{i}" for i in range(25)]))
    assert n100 <= 3, f"batch_delete ran {n100} jobs for 25 ids"


def test_batch_update_metadata(sess):
    res = sess.batch_update_metadata(
        [
            ("v1", {"lang": "de", "rank": 100}),
            ("v2", {"lang": "fr", "rank": 200}),
            ("missing", {"lang": "xx", "rank": 0}),
            ("v1", {"lang": "pt", "rank": 101}),  # duplicate: last wins
        ]
    )
    assert res["successful"] == 3  # both v1 occurrences + v2
    assert res["failed"] == 1
    assert sess.get_vector("v1")["metadata"]["lang"] == "pt"
    assert sess.get_vector("v2")["metadata"]["rank"] == 200
    # untouched row keeps its metadata
    assert sess.get_vector("v5")["metadata"]["lang"] == "en"


def test_batch_update_is_one_pass(spark, sess):
    updates = [(f"v{i}", {"lang": "uk", "rank": -i}) for i in range(20)]
    n = _jobs_for(spark, "bu", lambda: sess.batch_update_metadata(updates))
    assert n <= 3, f"batch_update_metadata ran {n} jobs for 20 ids"


def test_batch_add_vectors_stats_and_one_pass(spark, sess):
    # per-row errors: live-id clash, in-batch duplicate, bad dim, missing id
    res = sess.batch_add_vectors(
        [
            {"id": "n1", "vector": [1.0, 2.0, 3.0]},
            {"id": "v0", "vector": [1.0, 2.0, 3.0]},       # exists
            {"id": "n2", "vector": [1.0]},                  # bad dim
            {"id": "n1", "vector": [9.0, 9.0, 9.0]},        # dup in batch
            {"vector": [1.0, 2.0, 3.0]},                    # no id
        ]
    )
    assert res["successful"] == 1
    assert res["failed"] == 4
    assert {e["id"] for e in res["errors"]} == {"v0", "n2", "n1", "?"}
    assert sess.get_vector("n1")["vector"] == [1.0, 2.0, 3.0]
    # one-pass: one existence probe regardless of batch size
    n = _jobs_for(
        spark,
        "ba",
        lambda: sess.batch_add_vectors(
            [{"id": f"m{i}", "vector": [float(i), 0.0, 0.0]} for i in range(30)]
        ),
    )
    assert n <= 2, f"batch_add_vectors ran {n} jobs for 30 rows"


def test_batch_add_bad_timestamp_is_per_row(spark, sess):
    # a JSON-shaped (string) timestamp must fail ITS row, not the batch
    res = sess.batch_add_vectors(
        [
            {"id": "t1", "vector": [1.0, 2.0, 3.0], "timestamp": "2024-01-01T00:00:00Z"},
            {"id": "t2", "vector": [1.0, 2.0, 3.0]},
        ]
    )
    assert res["successful"] == 1 and res["failed"] == 1
    assert "timestamp" in res["errors"][0]["error"]
    assert sess.get_vector("t2") is not None and sess.get_vector("t1") is None


def test_batch_add_rejected_row_does_not_pin_dim(spark):
    # a rejected first row must not fix the session dimension
    s = VectorDbSession(spark)
    s.set_schema({"fields": {"lang": {"type": "string"}}})
    res = s.batch_add_vectors(
        [
            {"id": "a", "vector": [1.0, 2.0, 3.0], "metadata": {"lang": 7}},  # bad md
            {"id": "b", "vector": [1.0, 2.0]},
        ]
    )
    assert res["successful"] == 1 and res["failed"] == 1
    assert s.get_vector("b")["vector"] == [1.0, 2.0]
    # session dim is the committed row's
    res2 = s.batch_add_vectors([{"id": "c", "vector": [3.0, 4.0]}])
    assert res2["successful"] == 1
    # add_vectors rejects the whole batch before touching any state
    for bad in (
        [{"id": "a", "vector": [1.0, 2.0, 3.0]}, {"id": "b", "vector": [1.0, 2.0]}],
        [{"id": "a", "vector": [1.0, 2.0, 3.0]}, {"id": "a", "vector": [1.0, 2.0, 3.0]}],
        [{"id": "a", "vector": [1.0, 2.0, 3.0], "metadata": {"lang": 7}}],
    ):
        s2 = VectorDbSession(spark)
        s2.set_schema({"fields": {"lang": {"type": "string"}}})
        with pytest.raises(ValueError):
            s2.add_vectors(bad)
        assert s2._dim is None and s2.dataframe() is None
        assert s2.add_vectors([{"id": "c", "vector": [3.0, 4.0]}]) == 1


def test_single_update_still_raises(sess):
    with pytest.raises(VectorDbError, match="not found"):
        sess.update_metadata("missing", {"lang": "xx"})
    sess.update_metadata("v7", {"lang": "it", "rank": 7})
    assert sess.get_vector("v7")["metadata"]["lang"] == "it"


def test_sustained_mutation_bounded_plan(spark):
    """M interleaved add/delete/update cycles: results must equal a plain
    dict model AND the logical plan must stay bounded (the periodic
    localCheckpoint truncates lineage; without it depth is O(M))."""
    s = VectorDbSession(spark)
    model: dict[str, dict] = {}

    def live_ids():
        return {r["id"] for r in s.dataframe().filter("not deleted").select("id").collect()}

    depths = []
    for cycle in range(12):
        batch = [mk(cycle * 10 + j, lang=f"l{cycle}") for j in range(4)]
        s.add_vectors(batch)
        for b in batch:
            model[b["id"]] = dict(b["metadata"])
        victim = f"v{cycle * 10}"
        s.batch_delete([victim])
        model.pop(victim)
        upd = f"v{cycle * 10 + 1}"
        s.batch_update_metadata([(upd, {"lang": "upd", "rank": -1})])
        model[upd] = {"lang": "upd", "rank": -1}
        depths.append(len(s.dataframe()._jdf.queryExecution().logical().toString().splitlines()))

    assert live_ids() == set(model)
    rows = {
        r["id"]: (r["metadata"]["lang"], r["metadata"]["rank"])
        for r in s.dataframe().filter("not deleted").collect()
    }
    assert rows == {k: (v["lang"], v["rank"]) for k, v in model.items()}
    # 36 mutations with checkpoint-every-16: depth must have been cut at
    # least once and never exceed ~2 checkpoint windows' worth of plan
    assert min(depths[6:]) < max(depths[:6]) + 50
    assert max(depths) < 800, f"plan grew to {max(depths)} lines"


def test_sustained_mutation_bounded_plan_above_the_cap(spark, monkeypatch):
    """The same cycles on a session whose rows are not held (the cap at 0
    bytes): each write rewrites the table's plan, and the periodic
    localCheckpoint keeps it bounded."""
    monkeypatch.setattr(session_mod, "_DRIVER_RANK_MAX_BYTES", 0)
    test_sustained_mutation_bounded_plan(spark)
