"""The `scan_partitions` memo (operators/_plan.py) may be stale, and a
stale count only steers a plan choice: after a parquet path is rewritten
with more files, the memo still answers the first count, while results
over a fresh read of the path stay complete."""

from fabstir_vectordb_spark.operators._plan import scan_partitions
from fabstir_vectordb_spark.operators.dedup import _parallelize


def test_scan_partitions_memo_is_stale_after_rewrite_but_results_are_not(spark, tmp_path):
    path = str(tmp_path / "docs")
    rows = [(i, f"doc {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(1).write.parquet(path)
    assert scan_partitions(spark.read.parquet(path)) == 1

    df.repartition(4).write.mode("overwrite").parquet(path)
    fresh = spark.read.parquet(path)
    assert fresh.rdd.getNumPartitions() == 4
    assert scan_partitions(fresh) == 1  # the memoized count
    # the stale count steers only the conditional repartition
    assert sorted(r["doc_id"] for r in _parallelize(fresh).collect()) == list(range(40))
