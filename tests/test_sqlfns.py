"""SQL-surface kernels must agree exactly with the DataFrame kernels."""

import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.functions import distance as D
from fabstir_vectordb_spark.functions.sqlfns import register_sql_functions


@pytest.fixture(scope="module")
def sql_ready(spark, embeddings):
    names = register_sql_functions(spark)
    embeddings.createOrReplaceTempView("emb_sql")
    return names


def test_sql_functions_match_dataframe_kernels(spark, embeddings, sql_ready):
    pairs_df = (
        embeddings.alias("a")
        .join(embeddings.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .filter((F.col("a.vec_id") < 5) & (F.col("b.vec_id") < 5))
        .select(
            F.col("a.vec_id").alias("ai"),
            F.col("b.vec_id").alias("bi"),
            F.round(D.dot(F.col("a.embedding"), F.col("b.embedding")), 6).alias("dot"),
            F.round(D.l2_distance(F.col("a.embedding"), F.col("b.embedding")), 6).alias("l2"),
            F.round(D.cosine_distance(F.col("a.embedding"), F.col("b.embedding")), 6).alias("cosd"),
        )
    )
    expected = {(r["ai"], r["bi"]): (r["dot"], r["l2"], r["cosd"]) for r in pairs_df.collect()}
    got = {
        (r["ai"], r["bi"]): (r["dot"], r["l2"], r["cosd"])
        for r in spark.sql(
            """
            SELECT a.vec_id AS ai, b.vec_id AS bi,
                   round(vec_dot(a.embedding, b.embedding), 6) AS dot,
                   round(vec_l2(a.embedding, b.embedding), 6) AS l2,
                   round(vec_cosine_distance(a.embedding, b.embedding), 6) AS cosd
            FROM emb_sql a JOIN emb_sql b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 5 AND b.vec_id < 5
            """
        ).collect()
    }
    assert got == expected


def test_sql_knn_end_to_end(spark, embeddings, sql_ready):
    """A pure-SQL top-k query: same result as the DataFrame kernel path."""
    from fabstir_vectordb_spark.operators.knn import brute_force_knn

    queries = embeddings.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    df_res = {
        (r["query_id"], r["id"])
        for r in brute_force_knn(
            embeddings, queries, 5, metric="l2",
            id_col="vec_id", vector_col="embedding",
        ).collect()
    }
    sql_res = {
        (r["query_id"], r["id"])
        for r in spark.sql(
            """
            WITH d AS (
              SELECT q.vec_id AS query_id, e.vec_id AS id,
                     vec_l2(e.embedding, q.embedding) AS distance
              FROM emb_sql e JOIN emb_sql q ON q.vec_id < 2
            ), r AS (
              SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY round(distance, 6), id) AS rn
              FROM d
            )
            SELECT query_id, id FROM r WHERE rn <= 5
            """
        ).collect()
    }
    assert sql_res == df_res


def test_similarity_score(spark, sql_ready):
    assert spark.sql("SELECT similarity_score(0.0) AS s").collect()[0]["s"] == 1.0
    assert spark.sql("SELECT similarity_score(1.0) AS s").collect()[0]["s"] == 0.5


def test_text_curation_sql_functions(spark, sql_ready):
    """The SQL text kernels must agree exactly with the DataFrame
    expressions they mirror (functions/text.py)."""
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.functions import text as X

    docs = spark.createDataFrame(
        [
            (0, "Hello   WORLD. second sentence! third?  tail"),
            (1, "hello world. second sentence! third? tail"),
            (2, ""),
            (3, "one"),
        ],
        "i long, t string",
    )
    docs.createOrReplaceTempView("sqlfn_docs")
    via_sql = {
        r["i"]: (r["fp"], r["tc"], r["sc"])
        for r in spark.sql(
            "SELECT i, text_fingerprint(t) AS fp, doc_token_count(t) AS tc, "
            "doc_sentence_count(t) AS sc FROM sqlfn_docs"
        ).collect()
    }
    via_df = {
        r["i"]: (r["fp"], r["tc"], r["sc"])
        for r in docs.select(
            "i",
            X.fingerprint("t").alias("fp"),
            X.token_count("t").cast("int").alias("tc"),
            X.sentence_count("t").cast("int").alias("sc"),
        ).collect()
    }
    assert via_sql == via_df
    # normalization: case/whitespace variants share a fingerprint
    assert via_sql[0][0] == via_sql[1][0]
    assert via_sql[0][2] == 4  # three terminated sentences + the tail
