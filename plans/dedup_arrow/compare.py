"""Dump the dedup kernels' outputs of one checkout, for a bit-for-bit
comparison of two checkouts.

    python plans/dedup_arrow/compare.py <checkout> <sf_dir> <out.json>
    python plans/dedup_arrow/compare.py --diff <a.json> <b.json>

The dump holds, over the documents and embeddings of ``sf_dir``: the
MinHash band buckets (id, band, bucket) of ``minhash_lsh_pairs`` and its
pairs, the SimHash fingerprints of ``simhash64_agg``, and the embedding
near-dup pairs of the brute path and of the cluster path with one fixed
8-centroid index (the first 8 vectors by id), with int64 and with string
ids.  Each entry is the sorted row list, or the last line of the error
the run raised."""

import json
import os
import sys


def dump(checkout: str, sf_dir: str, out: str) -> None:
    checkout = os.path.abspath(checkout)
    sys.path.insert(0, checkout)
    os.environ["PYTHONPATH"] = checkout  # the Python workers import it too
    import numpy as np
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.operators import dedup as DD
    from fabstir_vectordb_spark.operators.ivf import IVFIndex

    assert DD.__file__.startswith(checkout), DD.__file__
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")

    banded = []
    prune = DD._prune_hot_buckets

    def record(b, cap):
        banded.append(b)
        return prune(b, cap)

    DD._prune_hot_buckets = record
    mh_pairs = DD.minhash_lsh_pairs(docs, threshold=0.8, n=3, max_bucket_size=None)
    DD._prune_hot_buckets = prune

    def rows(df):
        try:
            return sorted(map(list, df.collect()))
        except Exception as e:  # recorded, so the diff shows which side fails
            return "raised " + str(e).strip().splitlines()[-1][:160]

    first8 = emb.orderBy("vec_id").limit(8).collect()
    cents = np.asarray([r["embedding"] for r in first8], dtype=np.float64)
    res = {
        "minhash_buckets": rows(banded[0].select("id", "band", "bucket")),
        "minhash_pairs": rows(mh_pairs),
        "simhash": rows(DD.simhash64_agg(docs)),
    }
    for name, e in (("", emb), ("_str_ids", emb.withColumn("vec_id", F.concat(F.lit("v"), "vec_id")))):
        res["near_dup_brute" + name] = rows(DD.embedding_near_dup(e, threshold=0.4, method="brute"))
        res["near_dup_cluster" + name] = rows(DD.embedding_near_dup(
            e, threshold=0.4, method="cluster",
            ivf_index=IVFIndex(cents, id_col="vec_id", vector_col="embedding"),
        ))
    with open(out, "w") as f:
        json.dump(res, f)
    spark.stop()


def diff(a: str, b: str) -> int:
    with open(a) as f:
        A = json.load(f)
    with open(b) as f:
        B = json.load(f)
    bad = 0
    for k in A:
        same = A[k] == B.get(k)
        bad += not same
        n = [len(x) if isinstance(x, list) else x for x in (A[k], B.get(k))]
        print(f"{k:26s} rows {n[0]} / {n[1]}  {'identical' if same else 'DIFFERENT'}")
    return bad


if __name__ == "__main__":
    if sys.argv[1] == "--diff":
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    dump(*sys.argv[1:4])
