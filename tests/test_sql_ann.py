"""SQL-surface ANN rewrite (plans/sql_ann.py): the canonical
ORDER BY vec_l2(...) LIMIT k statement over a registered view takes the
probe-pruned IVF plan; everything else delegates to spark.sql."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.functions.sqlfns import register_sql_functions
from fabstir_vectordb_spark.operators.ivf import IVFIndex
from fabstir_vectordb_spark.plans.sql_ann import AnnCatalog, ann_sql, explain_rewrite


@pytest.fixture(scope="module")
def setup(spark):
    register_sql_functions(spark)
    rng = np.random.default_rng(11)
    C = rng.normal(scale=8.0, size=(4, 8))
    rows = [
        (int(i), (C[i % 4] + rng.normal(size=8)).astype("float32").tolist())
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id bigint, vector array<float>")
    df.createOrReplaceTempView("vecs")
    idx = IVFIndex.fit(df, n_clusters=4, seed=3, id_col="id", vector_col="vector")
    clustered = idx.assign(df).cache()
    clustered.count()
    cat = AnnCatalog()
    cat.register("vecs", idx, clustered, n_rows=400)
    q = rows[7][1]
    qsql = "array(" + ", ".join(f"CAST({x} AS FLOAT)" for x in q) + ")"
    return cat, qsql


def _stmt(qsql, fn="vec_l2", k=10):
    return (
        f"SELECT id, {fn}(vector, {qsql}) AS distance "
        f"FROM vecs ORDER BY distance LIMIT {k}"
    )


def test_full_probe_rewrite_equals_exact_sql(spark, setup):
    cat, qsql = setup
    sql = _stmt(qsql)
    assert explain_rewrite(cat, sql) == "ivf"
    exact = [
        (r["id"], round(r["distance"], 6))
        for r in spark.sql(sql).collect()
    ]
    ann = [
        (r["id"], round(r["distance"], 6))
        for r in ann_sql(spark, sql, cat, n_probe=4).orderBy("distance", "id").collect()
    ]
    assert sorted(ann) == sorted(exact)


def _pass_plan(spark, monkeypatch, build):
    """``build()``'s result and the plan of the Python pass it ran: the
    rewritten search ranks its one query in a pass collected through
    ``toArrow`` and returns a local relation, so the plan handed to
    ``toArrow`` is the one that reads the scan."""
    cls = type(spark.table("vecs"))
    to_arrow = cls.toArrow
    pulled = []

    def recorded(df):
        pulled.append(df._jdf.queryExecution().executedPlan().toString())
        return to_arrow(df)

    with monkeypatch.context() as m:
        m.setattr(cls, "toArrow", recorded)
        out = build()
    assert "LocalTableScan" in out._jdf.queryExecution().executedPlan().toString()
    [plan] = [p for p in pulled if "InArrow" in p]
    return out, plan


def test_rewrite_plan_prunes(spark, setup, monkeypatch):
    cat, qsql = setup
    out, plan = _pass_plan(
        spark, monkeypatch, lambda: ann_sql(spark, _stmt(qsql), cat, n_probe=1)
    )
    # the probe filter reaches the scan: an InMemory/parquet relation
    # filtered on cluster_id IN (...), never a full-corpus distance sort
    assert "cluster_id" in plan
    rows = out.collect()
    assert 0 < len(rows) <= 10


def test_rewrite_plan_prunes_parquet_partitions(spark, setup, tmp_path, monkeypatch):
    """Over the persisted clustered layout the probe must show up as a
    PartitionFilters entry — the lazy-chunk-load property on raw SQL."""
    cat, qsql = setup
    path = str(tmp_path / "clustered")
    cat.lookup("vecs").clustered.write.mode("overwrite").partitionBy(
        "cluster_id"
    ).parquet(path)
    disk = spark.read.parquet(path)
    cat2 = AnnCatalog()
    cat2.register("vecs", cat.lookup("vecs").index, disk, n_rows=400)
    _, plan = _pass_plan(
        spark, monkeypatch, lambda: ann_sql(spark, _stmt(qsql), cat2, n_probe=1)
    )
    assert "PartitionFilters" in plan
    assert "cluster_id" in plan.split("PartitionFilters")[1][:200]


def test_cosine_metric_maps(spark, setup):
    cat, qsql = setup
    sql = _stmt(qsql, fn="vec_cosine_distance")
    exact = {r["id"] for r in spark.sql(sql).collect()}
    ann = {r["id"] for r in ann_sql(spark, sql, cat, n_probe=4).collect()}
    assert ann == exact


def test_non_matching_sql_delegates(spark, setup):
    cat, _ = setup
    sql = "SELECT count(*) AS n FROM vecs"
    assert explain_rewrite(cat, sql) == "exact"
    assert ann_sql(spark, sql, cat).first()["n"] == 400


def test_unregistered_view_delegates(spark, setup):
    cat, qsql = setup
    sql = _stmt(qsql).replace("FROM vecs", "FROM vecs2")
    spark.sql("SELECT * FROM vecs").createOrReplaceTempView("vecs2")
    assert explain_rewrite(cat, sql) == "exact"
    out = ann_sql(spark, sql, cat)
    assert out.count() == 10  # ran as plain spark.sql


def test_column_ref_query_expr_delegates(spark, setup):
    """A per-row (non-constant) query argument cannot use the point
    index path — the statement must fall back to the exact scan."""
    cat, _ = setup
    sql = (
        "SELECT id, vec_l2(vector, vector) AS distance "
        "FROM vecs ORDER BY distance LIMIT 5"
    )
    out = ann_sql(spark, sql, cat)
    assert out.count() == 5
    assert all(r["distance"] == 0.0 for r in out.collect())


def test_null_constant_query_delegates(spark, setup):
    """A NULL (or non-array) constant query expression must DELEGATE to
    spark.sql, never crash the rewriter (ADVICE r5): the un-rewritten
    statement is always the correctness fallback."""
    cat, _ = setup
    sql = (
        "SELECT id, vec_l2(vector, CAST(NULL AS ARRAY<FLOAT>)) AS distance "
        "FROM vecs ORDER BY distance LIMIT 5"
    )
    out = ann_sql(spark, sql, cat)  # must not raise
    assert out.count() == 5  # vec_l2(v, NULL) is NULL; LIMIT still yields rows


def test_explain_rewrite_checks_id_col(spark, setup):
    """explain_rewrite must apply the same id_col check ann_sql enforces,
    so it never reports 'ivf' for a statement that takes the exact path."""
    cat, qsql = setup
    spark.sql("SELECT id AS rowid, vector FROM vecs").createOrReplaceTempView(
        "vecs_renamed"
    )
    e = cat.lookup("vecs")
    cat.register("vecs_renamed", e.index, e.clustered, n_rows=e.n_rows)
    sql = (
        f"SELECT rowid, vec_l2(vector, {qsql}) AS distance "
        f"FROM vecs_renamed ORDER BY distance LIMIT 5"
    )
    assert explain_rewrite(cat, sql) == "exact"
    out = ann_sql(spark, sql, cat)  # delegates on the id_col mismatch
    assert out.count() == 5


def _bulk_stmt(fn="vec_l2", k=3, rn="rn"):
    return (
        f"SELECT query_id, id, distance FROM ("
        f"SELECT q.query_id AS query_id, v.id AS id, "
        f"{fn}(v.vector, q.qvec) AS distance, "
        f"row_number() OVER (PARTITION BY q.query_id "
        f"ORDER BY {fn}(v.vector, q.qvec)) AS {rn} "
        f"FROM vecs v CROSS JOIN vecq q) WHERE {rn} <= {k}"
    )


@pytest.fixture(scope="module")
def qview(spark, setup):
    spark.sql(
        "SELECT id AS query_id, vector AS qvec FROM vecs WHERE id < 5"
    ).createOrReplaceTempView("vecq")


def test_where_composition_equals_exact(spark, setup):
    """WHERE metadata predicate + ANN: at full probe the rewritten
    filtered search equals the verbatim filtered statement."""
    cat, qsql = setup
    sql = (
        f"SELECT id, vec_l2(vector, {qsql}) AS distance "
        f"FROM vecs WHERE id % 2 = 0 ORDER BY distance LIMIT 10"
    )
    assert explain_rewrite(cat, sql) == "ivf"
    exact = sorted(
        (r["id"], round(r["distance"], 6)) for r in spark.sql(sql).collect()
    )
    ann = sorted(
        (r["id"], round(r["distance"], 6))
        for r in ann_sql(spark, sql, cat, n_probe=4).collect()
    )
    assert ann == exact
    assert all(i % 2 == 0 for i, _ in ann)


def test_where_bad_predicate_delegates(spark, setup):
    """A predicate the view can't analyze (unknown column) must fall
    back to the verbatim statement's own error, not crash the rewriter
    at plan-build time with a different exception."""
    cat, qsql = setup
    sql = (
        f"SELECT id, vec_l2(vector, {qsql}) AS distance "
        f"FROM vecs WHERE no_such_col = 1 ORDER BY distance LIMIT 5"
    )
    with pytest.raises(Exception):
        ann_sql(spark, sql, cat).collect()  # same failure surface as spark.sql


def test_where_plan_pushes_predicate_and_prunes(spark, setup, tmp_path, monkeypatch):
    """The composed plan must reach the parquet scan with BOTH the
    cluster probe filter (PartitionFilters) and the metadata predicate
    (PushedFilters) — filter below the probe scan, the 100 TB shape."""
    from fabstir_vectordb_spark.operators.ivf import write_clustered

    cat, qsql = setup
    e = cat.lookup("vecs")
    path = str(tmp_path / "sqlann_clustered")
    write_clustered(
        spark.table("vecs"), e.index, path
    )
    loaded = spark.read.parquet(path)
    cat.register("vecs_disk", e.index, loaded, n_rows=e.n_rows)
    spark.table("vecs").createOrReplaceTempView("vecs_disk")
    sql = (
        f"SELECT id, vec_l2(vector, {qsql}) AS distance "
        f"FROM vecs_disk WHERE id < 200 ORDER BY distance LIMIT 5"
    )
    _, plan = _pass_plan(spark, monkeypatch, lambda: ann_sql(spark, sql, cat, n_probe=1))
    assert "PartitionFilters" in plan
    assert "cluster_id" in plan.split("PartitionFilters")[1][:200]
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:200]
    assert "id" in pushed and "200" in pushed


def test_bulk_rewrite_equals_exact(spark, setup, qview):
    """The canonical kNN-join statement rewrites to search_bulk; at full
    probe it equals the verbatim row_number-over-distance statement."""
    cat, _ = setup
    sql = _bulk_stmt()
    assert explain_rewrite(cat, sql) == "ivf_bulk"
    exact = sorted(
        (r["query_id"], r["id"], round(r["distance"], 6))
        for r in spark.sql(sql).collect()
    )
    ann = sorted(
        (r["query_id"], r["id"], round(r["distance"], 6))
        for r in ann_sql(spark, sql, cat, n_probe=4).collect()
    )
    assert ann == exact
    assert len({q for q, _, _ in ann}) == 5 and len(ann) == 15


def test_bulk_inconsistent_names_delegates(spark, setup, qview):
    """Mismatched repeated names mean the statement is NOT the canonical
    kNN join — it must run verbatim, not get rewritten."""
    cat, _ = setup
    sql = (
        "SELECT query_id, id, distance FROM ("
        "SELECT q.query_id AS query_id, v.id AS id, "
        "vec_l2(v.vector, q.qvec) AS distance, "
        "row_number() OVER (PARTITION BY q.query_id "
        "ORDER BY vec_cosine_distance(v.vector, q.qvec)) AS rn "  # fn mismatch
        "FROM vecs v CROSS JOIN vecq q) WHERE rn <= 3"
    )
    assert explain_rewrite(cat, sql) == "exact"
    assert ann_sql(spark, sql, cat).count() == 15  # verbatim run still works


def test_explain_rewrite_bad_where_reports_exact(spark, setup):
    """explain_rewrite applies the same WHERE analyzability check
    ann_sql enforces — it must never report 'ivf' for a statement that
    would actually delegate."""
    cat, qsql = setup
    sql = (
        f"SELECT id, vec_l2(vector, {qsql}) AS distance "
        f"FROM vecs WHERE no_such_col = 1 ORDER BY distance LIMIT 5"
    )
    assert explain_rewrite(cat, sql) == "exact"
