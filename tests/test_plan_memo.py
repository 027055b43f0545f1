"""The contracts of the two per-application memos, which go stale when
files are rewritten mid-application.

The `scan_partitions` memo (operators/_plan.py) may be stale, and a
stale count only steers a plan choice: after a parquet path is rewritten
with more files, the memo still answers the first count, while results
over a fresh read of the path stay complete.

The `_TABLE_HANDLES` memo (`__spark_entry__.py`) serves the first handle
of a fixture for the rest of the application, so only immutable
fixtures may be read through it."""

import sys
from pathlib import Path

from fabstir_vectordb_spark.operators._plan import scan_partitions
from fabstir_vectordb_spark.operators.dedup import _parallelize

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E  # noqa: E402


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


def test_table_handle_is_stale_after_rewrite(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = f"{sf_dir}/docs.parquet"
    spark.createDataFrame([(i, f"doc {i}") for i in range(4)], "doc_id long, text string") \
        .coalesce(1).write.parquet(path)
    first = E._t(spark, sf_dir, "docs")
    assert first.columns == ["doc_id", "text"]

    spark.createDataFrame([(i, f"doc {i}", 0.5) for i in range(8)],
                          "doc_id long, text string, score double") \
        .coalesce(1).write.mode("overwrite").parquet(path)
    # the rewritten fixture is served from the first handle: its schema
    # and file listing, while a fresh read sees the new file
    assert E._t(spark, sf_dir, "docs") is first
    assert first.columns == ["doc_id", "text"]
    assert spark.read.parquet(path).count() == 8
