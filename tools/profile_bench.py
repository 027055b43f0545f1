"""Split each bench query's wall time into CONSTRUCTION (the Python
call that builds the DataFrame — includes any driver-side collect /
fit / eager checkpoint the operator performs) and EXECUTION (the noop
write of the returned plan).  Median over REPS, bench-identical session
and warmups.

Usage: python tools/profile_bench.py [query ...]
"""

from __future__ import annotations

import statistics
import sys
import time
from pathlib import Path

import _harness  # puts the checkout's root on sys.path
from pyspark.sql import functions as F

import __spark_entry__ as E
import bench


def main() -> int:
    sf_dir = _harness.SF_DIR
    only = set(sys.argv[1:])
    spark = _harness.bench_session("profile_bench")

    qs = E.queries()
    qs.update(
        {
            "knn_l2": E.q_knn_l2,
            "knn_cosine": E.q_knn_cosine,
            "knn_dot": E.q_knn_dot,
            "ann_ivf_probe": E.q_ann_ivf_probe_raw,
            "filter_or_mixed": E.q_filter_or_mixed,
            "simhash": E.q_simhash_raw,
            "hybrid_merge": E.q_hybrid_merge_raw,
            "dedup_exact": E.q_dedup_exact_raw,
            "text_stats": E.q_text_stats_raw,
            "text_quality": E.q_text_quality_raw,
            "keyword_bm25": E.q_keyword_bm25_raw,
        }
    )
    names = [n for n in bench.BENCH_QUERIES if n in qs]

    # bench-identical warmups
    for t in ("embeddings", "documents", "events"):
        try:
            E._t(spark, sf_dir, t).count()
        except Exception:
            pass

    def _warm(batches):
        for b in batches:
            yield b

    spark.range(1000).mapInPandas(_warm, "id long").count()
    warm_dir = str(Path(sf_dir).parent / "sf0.001")
    if not Path(warm_dir).exists():
        warm_dir = sf_dir
    for name in names:
        try:
            qs[name](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:
            print(f"warmup failed for {name}: {e}", file=sys.stderr)
    try:
        E._assigned_ivf(spark, sf_dir)
    except Exception as e:
        print(f"ivf prefit failed: {e}", file=sys.stderr)
    try:
        from fabstir_vectordb_spark.operators.keyword import (
            bm25_search,
            build_postings,
        )

        docs_b = E._t(spark, sf_dir, "documents")
        postings_b = build_postings(docs_b).cache()
        postings_b.count()
        queries_b = docs_b.filter(F.col("doc_id").isin([0, 10, 20, 30])).select(
            F.concat(F.lit("q"), F.col("doc_id")).alias("query_id"),
            F.concat_ws(
                " ", F.slice(E.X.whitespace_tokens("text"), 1, 3)
            ).alias("query"),
        ).cache()
        queries_b.count()

        def _bm25_prebuilt(s, d):
            return bm25_search(docs_b, queries_b, k=10, postings=postings_b)

        qs["keyword_bm25"] = _bm25_prebuilt
        _bm25_prebuilt(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception as e:
        print(f"bm25 prefit failed: {e}", file=sys.stderr)

    if only:
        names = [n for n in names if n in only]

    print(f"{'query':24s} {'construct':>10s} {'execute':>10s} {'total':>10s}")
    for name in names:
        cons, execs, tots = [], [], []
        for _ in range(_harness.REPS):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            cons.append(t1 - t0)
            execs.append(t2 - t1)
            tots.append(t2 - t0)
        print(
            f"{name:24s} {statistics.median(cons):10.3f} "
            f"{statistics.median(execs):10.3f} {statistics.median(tots):10.3f}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
