"""Focused HNSW amortized-datum measurement (bench.py's hnsw block alone):
100k vectors (sf0.1 x 50 replicas), num_graphs = cpus, 200 queries, k=10,
ef=64 — median-of-5 ms/query plus the one-time build seconds.

Usage: python tools/hnsw_datum.py   (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
"""

from __future__ import annotations

import shutil
import tempfile
import time

import _harness  # puts the checkout's root on sys.path
from pyspark.sql import functions as F

import __spark_entry__ as E
from fabstir_vectordb_spark.operators.hnsw import HNSWIndex


def main() -> int:
    spark = _harness.bench_session("hnsw_datum")
    cpus = _harness.CPUS
    REPLICAS = 50
    work = tempfile.mkdtemp(prefix="hnsw_datum_")
    try:
        emb = E._t(spark, _harness.SF_DIR, "embeddings")
        reps = spark.range(REPLICAS).select(F.col("id").cast("int").alias("__rep"))
        big = emb.crossJoin(reps).select(
            (F.col("vec_id") * REPLICAS + F.col("__rep")).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x + F.col("__rep") * F.lit(0.0007)
            ).alias("embedding"),
        )
        big.write.mode("overwrite").parquet(f"{work}/vectors")
        corpus = spark.read.parquet(f"{work}/vectors")
        n_vectors = corpus.count()
        hnsw = HNSWIndex(
            M=16, M0=32, ef_construction=100, num_graphs=int(cpus),
            id_col="vec_id", vector_col="embedding",
        )
        t0 = time.time()
        g = hnsw.build(corpus).cache()
        g.count()
        build_s = time.time() - t0
        queries = corpus.filter(
            F.col("vec_id") % (n_vectors // 1000) == 0
        ).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
        )
        hq = queries.limit(200)

        def hnsw_search():
            hnsw.search_bulk(g, hq, 10, ef=64).write.format("noop").mode(
                "overwrite"
            ).save()

        hnsw_search()  # warm
        ms = _harness.timed(hnsw_search) * 1000.0 / 200
        print(
            f'{{"hnsw_build_s": {build_s:.2f}, "hnsw_ms_per_query": {ms:.3f}, '
            f'"vectors": {n_vectors}, "cpus": {cpus}}}'
        )
        g.unpersist()
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
