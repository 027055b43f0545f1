"""Scale smoke: run the hot paths on synthetic data 100x the bench SF.

Generates data ON THE EXECUTORS (spark.range + deterministic column
expressions — nothing is collected or shipped from the driver) so the
test exercises the same plan shapes that matter at real scale:

  - exact kNN via the partial-reduction kernel over N vectors
  - IVF fit + assign + n_probe search
  - MinHash LSH near-dup over N documents
  - exact dedup + text stats

Usage: python tools/scale_smoke.py [n_vectors] [n_docs]
Prints one JSON line with per-stage seconds.
"""

from __future__ import annotations

import json
import sys
import time


def _log(msg):
    print(msg, file=sys.stderr, flush=True)
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def synth_vectors(spark, n: int, dim: int = 64):
    # deterministic pseudo-random floats from xxhash64 — executor-side
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (F.xxhash64(F.col("id"), i) % 1000).cast("float") / 1000.0,
        ).alias("embedding"),
    )


def synth_docs(spark, n: int):
    """Corpus with realistic discrimination: 4096-word vocabulary,
    20-80 token docs, ~3% planted exact duplicates (doc i copies i-1)
    and ~3% planted near-duplicates (copy of i-1 minus its last token).

    A tiny vocabulary makes every doc near-identical in token-set space,
    which degenerates LSH buckets to O(N) members and the candidate join
    to O(N^2) — that measures the corpus, not the engine."""
    doc_id = F.col("id")
    seed = F.when(
        (F.pmod(doc_id, 31) == 1) | (F.pmod(doc_id, 29) == 1), doc_id - 1
    ).otherwise(doc_id)
    length = (F.pmod(F.xxhash64(seed, F.lit("len")), 61) + 20).cast("int")
    words = F.transform(
        F.sequence(F.lit(0), length - 1),
        lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(seed, i), 4096)),
    )
    # near-dup class: drop the last token (exact-dup branch wins when both)
    words = F.when(
        (F.pmod(doc_id, 29) == 1) & (F.pmod(doc_id, 31) != 1),
        F.slice(words, 1, length - 1),
    ).otherwise(words)
    return spark.range(n).select(
        doc_id.alias("doc_id"), F.concat_ws(" ", words).alias("text")
    )


def main() -> int:
    n_vec = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_doc = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("scale_smoke")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from fabstir_vectordb_spark.operators import dedup as DD
    from fabstir_vectordb_spark.operators.ivf import IVFIndex
    from fabstir_vectordb_spark.operators.knn import brute_force_knn

    times = {}

    vec = synth_vectors(spark, n_vec).repartition(32).cache()
    vec.count()
    queries = vec.limit(8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )

    t0 = time.time()
    brute_force_knn(
        vec, queries, 10, metric="l2", id_col="vec_id", vector_col="embedding"
    ).write.format("noop").mode("overwrite").save()
    times["brute_force_knn"] = round(time.time() - t0, 2)
    _log(f"brute_force_knn {times['brute_force_knn']}s")

    t0 = time.time()
    idx = IVFIndex.fit(vec, n_clusters=64, seed=42, id_col="vec_id", vector_col="embedding")
    times["ivf_fit"] = round(time.time() - t0, 2)
    _log(f"ivf_fit {times['ivf_fit']}s")

    t0 = time.time()
    assigned = idx.assign(vec).cache()
    assigned.count()
    times["ivf_assign"] = round(time.time() - t0, 2)
    _log(f"ivf_assign {times['ivf_assign']}s")

    t0 = time.time()
    idx.search(assigned, queries, 10, n_probe=8).write.format("noop").mode("overwrite").save()
    times["ivf_probe8"] = round(time.time() - t0, 2)
    _log(f"ivf_probe8 {times['ivf_probe8']}s")

    # bulk paths: query set as a DataFrame (Q=2000), collected once and
    # merged on the driver while it fits the bounded-query caps
    bulk_queries = vec.limit(2000).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    from fabstir_vectordb_spark.operators.knn import knn_bulk

    t0 = time.time()
    knn_bulk(
        vec, bulk_queries, 10, metric="l2", id_col="vec_id", vector_col="embedding"
    ).write.format("noop").mode("overwrite").save()
    times["knn_bulk_q2000"] = round(time.time() - t0, 2)
    _log(f"knn_bulk_q2000 {times['knn_bulk_q2000']}s")

    t0 = time.time()
    idx.search_bulk(assigned, bulk_queries, 10, n_probe=8).write.format(
        "noop"
    ).mode("overwrite").save()
    times["ivf_bulk_q2000_probe8"] = round(time.time() - t0, 2)
    _log(f"ivf_bulk_q2000_probe8 {times['ivf_bulk_q2000_probe8']}s")

    # giant-cluster memory knob: same probe search, clusters split 4-ways
    t0 = time.time()
    idx.search_bulk(
        assigned, bulk_queries, 10, n_probe=8, sub_blocks=4
    ).write.format("noop").mode("overwrite").save()
    times["ivf_bulk_sub4"] = round(time.time() - t0, 2)
    _log(f"ivf_bulk_sub4 {times['ivf_bulk_sub4']}s")

    # embedding near-dup, cluster-pruned path (the auto-dispatch target
    # above brute_force_limit — N here is 2x the limit)
    t0 = time.time()
    DD.embedding_near_dup(
        vec, threshold=0.95, method="auto"
    ).write.format("noop").mode("overwrite").save()
    times["embed_near_dup_cluster"] = round(time.time() - t0, 2)
    _log(f"embed_near_dup_cluster {times['embed_near_dup_cluster']}s")

    docs = synth_docs(spark, n_doc).repartition(32).cache()
    docs.count()

    t0 = time.time()
    n_pairs = DD.minhash_lsh_pairs(docs, threshold=0.8).count()
    times["minhash_lsh"] = round(time.time() - t0, 2)
    _log(f"minhash_lsh {times['minhash_lsh']}s")

    t0 = time.time()
    DD.exact_dedup(docs).write.format("noop").mode("overwrite").save()
    times["exact_dedup"] = round(time.time() - t0, 2)
    _log(f"exact_dedup {times['exact_dedup']}s")

    t0 = time.time()
    pairs = DD.simhash_pairs(docs, max_hamming=3)
    DD.canonicalize_pairs(docs, pairs, id_col="doc_id").write.format(
        "noop"
    ).mode("overwrite").save()
    times["simhash_canonicalize"] = round(time.time() - t0, 2)
    _log(f"simhash_canonicalize {times['simhash_canonicalize']}s")

    # IVFPQ: the compressed 100 TB layout — encode once (assign + PQ
    # codes), then bulk probe-pruned ADC search with exact rerank
    from fabstir_vectordb_spark.operators.ivfpq import IVFPQIndex

    t0 = time.time()
    ivfpq = IVFPQIndex.fit(vec, n_clusters=64, n_subspaces=8, n_centroids=64)
    enc = ivfpq.encode(vec).cache()
    enc.count()
    times["ivfpq_fit_encode"] = round(time.time() - t0, 2)
    _log(f"ivfpq_fit_encode {times['ivfpq_fit_encode']}s")

    t0 = time.time()
    ivfpq.search_bulk(
        enc, bulk_queries, 10, n_probe=8, oversample=4, rerank_vectors=vec
    ).write.format("noop").mode("overwrite").save()
    times["ivfpq_bulk_q2000_probe8"] = round(time.time() - t0, 2)
    _log(f"ivfpq_bulk_q2000_probe8 {times['ivfpq_bulk_q2000_probe8']}s")

    # adversarial corpus: EVERY doc carries the same 8-token boilerplate
    # footer.  Unguarded, each footer shingle has doc-frequency N, so the
    # inverted-index candidate join materializes ~N^2/2 pairs PER hot
    # shingle — we report that would-be row count analytically (one cheap
    # aggregate) and time only the guarded path, which drops the hot
    # shingles before the join.
    footer = "all rights reserved worldwide legal notice do not remove"
    docs_hot = docs.select(
        "doc_id", F.concat_ws(" ", "text", F.lit(footer)).alias("text")
    ).cache()
    docs_hot.count()

    from fabstir_vectordb_spark.operators.dedup import _shingle_table

    cutoff = 1000
    would_be = (
        _shingle_table(docs_hot, "text", "doc_id", 3, None)
        .groupBy("shingle")
        .count()
        .filter(F.col("count") > cutoff)
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pairs"))
        .collect()[0]["pairs"]
        or 0.0  # sum over zero hot shingles is NULL (n_docs <= cutoff)
    )
    _log(f"unguarded would-be candidate rows from hot shingles: {would_be:.3g}")

    t0 = time.time()
    n_guarded = DD.ngram_jaccard_pairs(
        docs_hot, threshold=0.8, n=3, max_shingle_freq=cutoff
    ).count()
    times["ngram_guarded_hot"] = round(time.time() - t0, 2)
    _log(f"ngram_guarded_hot {times['ngram_guarded_hot']}s ({n_guarded} pairs)")

    t0 = time.time()
    n_mh_hot = DD.minhash_lsh_pairs(docs_hot, threshold=0.8).count()
    times["minhash_guarded_hot"] = round(time.time() - t0, 2)
    _log(f"minhash_guarded_hot {times['minhash_guarded_hot']}s ({n_mh_hot} pairs)")

    # simhash on the same boilerplate corpus: the shared footer pulls
    # many documents' band values together, so this exercises the
    # (round-4 default-ON) band-bucket guard exactly like minhash's
    t0 = time.time()
    n_sh_hot = DD.simhash_pairs(docs_hot, max_hamming=3).count()
    times["simhash_guarded_hot"] = round(time.time() - t0, 2)
    _log(f"simhash_guarded_hot {times['simhash_guarded_hot']}s ({n_sh_hot} pairs)")

    # round-4 operators ---------------------------------------------------
    # partition-local HNSW: num_graphs auto-sizes to ~4k nodes/graph
    # (bounded superlinear per-graph cost; graphs build embarrassingly
    # parallel, so wall-clock stays flat as N grows given cores)
    from fabstir_vectordb_spark.operators.hnsw import HNSWIndex

    hnsw = HNSWIndex(
        M=16, M0=32, ef_construction=100,
        id_col="vec_id", vector_col="embedding",
    )
    t0 = time.time()
    graph = hnsw.build(vec).cache()
    graph.count()
    times["hnsw_build"] = round(time.time() - t0, 2)
    _log(f"hnsw_build {times['hnsw_build']}s")

    # a REAL 200-query set (`queries` above holds only 8 rows — limiting
    # it to 200 silently measured Q=8 through round 4's smokes)
    hq = vec.limit(200).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    t0 = time.time()
    hnsw.search_bulk(graph, hq, 10, ef=64).write.format(
        "noop"
    ).mode("overwrite").save()
    times["hnsw_search_q200"] = round(time.time() - t0, 2)
    _log(f"hnsw_search_q200 {times['hnsw_search_q200']}s")
    graph.unpersist()

    # boilerplate removal on the hot corpus (every doc shares the footer
    # line -> it IS the hot line); broadcast + HOF, no corpus explode
    docs_lines = docs_hot.select(
        "doc_id", F.regexp_replace("text", F.lit(" all rights"), F.lit("\nall rights")).alias("text")
    )
    t0 = time.time()
    DD.remove_boilerplate_lines(docs_lines, min_doc_freq=1000).write.format(
        "noop"
    ).mode("overwrite").save()
    times["boilerplate_removal"] = round(time.time() - t0, 2)
    _log(f"boilerplate_removal {times['boilerplate_removal']}s")

    # sequence packing: distributed prefix sum over every doc
    from fabstir_vectordb_spark.operators.sampling import pack_sequences

    t0 = time.time()
    pack_sequences(docs, 2048, id_col="doc_id").write.format("noop").mode(
        "overwrite"
    ).save()
    times["pack_sequences"] = round(time.time() - t0, 2)
    _log(f"pack_sequences {times['pack_sequences']}s")

    # benchmark decontamination over the full corpus: a 200-doc "eval
    # set" broadcasts its n-gram hash set; the corpus side is map-only
    t0 = time.time()
    bench = synth_docs(spark, 200).select("text")
    DD.decontaminate(docs, bench, n=8).write.format("noop").mode(
        "overwrite"
    ).save()
    times["decontaminate"] = round(time.time() - t0, 2)
    _log(f"decontaminate {times['decontaminate']}s")

    print(json.dumps({
        "n_vectors": n_vec, "n_docs": n_doc,
        "minhash_pairs": n_pairs, "times": times,
        "hot_corpus": {
            "unguarded_candidate_rows": float(would_be or 0),
            "guarded_ngram_pairs": n_guarded,
            "guarded_minhash_pairs": n_mh_hot,
            "guarded_simhash_pairs": n_sh_hot,
        },
        "total": round(sum(times.values()), 2),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
