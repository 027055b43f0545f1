"""Time the bounded plan against the cogroup plan per tier and query-set size.

Setup mirrors perfbench bulk_ann (3,000 x 384 corpus on 4 partitions, the
same IVF / IVFPQ / HNSW shapes).  For each (tier, Q): alternate the two plans
REPS times, median ms each, rows compared after round(6).  The cogroup plan
is forced by making every tier's _driver_queries return None.

usage: python plans/bounded_bulk/crossover.py OUT.jsonl TIER:Q[:k] ...
TIER is exact, ivf, ivfpq (with re-rank), ivfpq_nr (without), hnsw, or
reject (the time of a query pull over the cap, which returns None).
REPS (env, default 3) sets the timed pairs per point; WORK_DIR (env) the
directory for Spark and the parquet inputs (default: a temporary one).
"""
import json
import os
import sys
import tempfile
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import gen  # noqa: E402
from perfbench import run as prun  # noqa: E402
from perfbench import workloads as W  # noqa: E402

from fabstir_vectordb_spark.operators import hnsw as hnsw_mod  # noqa: E402
from fabstir_vectordb_spark.operators import ivf as ivf_mod  # noqa: E402
from fabstir_vectordb_spark.operators import ivfpq as ivfpq_mod  # noqa: E402
from fabstir_vectordb_spark.operators import knn as knn_mod  # noqa: E402
from fabstir_vectordb_spark.operators.knn import knn_bulk  # noqa: E402

REPS = int(os.environ.get("REPS", "3"))
out_path = sys.argv[1]
specs = sys.argv[2:]
work = Path(os.environ.get("WORK_DIR") or tempfile.mkdtemp(prefix="crossover-"))
work.mkdir(parents=True, exist_ok=True)
spark = prun.start_spark(work)
from pyspark.sql import functions as F  # noqa: E402

qmax = max(int(s.split(":")[1]) for s in specs)
inputs = gen.bulk_inputs(5151, W.BULK_N, 2_000)
# past 2,000 queries: copies of the perturbed queries with fresh noise
_rng = np.random.default_rng(5152)
_base = inputs.queries
_reps = -(-qmax // len(_base))
allq = np.concatenate(
    [_base] + [_base + _rng.normal(0, 0.02, _base.shape) for _ in range(_reps - 1)]
).astype(np.float32)
cpath = str(work / "c.parquet")
W._write_bulk(cpath, inputs.corpus, "id")
corpus = spark.read.parquet(cpath).repartition(4).cache()
corpus.count()
ivf, assigned = W._build_ivf(corpus)
pqi, encoded = W._build_ivfpq(corpus)
hnsw, graph = W._build_hnsw(corpus.filter(F.col("id") < W.BULK_HNSW_N))


def tier_fn(tier, k):
    return {
        "exact": lambda qs: knn_bulk(corpus, qs, k),
        "ivf": lambda qs: ivf.search_bulk(assigned, qs, k, n_probe=W.IVF_PROBE),
        "ivfpq": lambda qs: pqi.search_bulk(
            encoded, qs, k, n_probe=W.IVFPQ_PROBE, oversample=W.IVFPQ_OVERSAMPLE,
            rerank_vectors=corpus,
        ),
        "ivfpq_nr": lambda qs: pqi.search_bulk(
            encoded, qs, k, n_probe=W.IVFPQ_PROBE, oversample=W.IVFPQ_OVERSAMPLE,
        ),
        "hnsw": lambda qs: hnsw.search_bulk(graph, qs, k, ef=W.HNSW_EF),
    }[tier]


MODS = (knn_mod, ivf_mod, ivfpq_mod, hnsw_mod)
real_dq = knn_mod._driver_queries
real_merge = knn_mod._merged_on_driver
merge_ms = []
pull_ms = []


def timed_merge(*a, **kw):
    t0 = time.perf_counter()
    r = real_merge(*a, **kw)
    merge_ms.append((time.perf_counter() - t0) * 1e3)
    return r


def timed_dq(*a, **kw):
    t0 = time.perf_counter()
    r = real_dq(*a, **kw)
    pull_ms.append((time.perf_counter() - t0) * 1e3)
    return r


def set_plan(plan):
    for m in MODS:
        if hasattr(m, "_driver_queries"):
            m._driver_queries = timed_dq if plan == "bounded" else (lambda *a, **kw: None)
        if hasattr(m, "_merged_on_driver"):
            m._merged_on_driver = timed_merge


def rows(df):
    return sorted(
        (r["query_id"], r["id"], round(r["distance"], 6))
        for r in df.select("query_id", "id", "distance").collect()
    )


qcache = {}
with open(out_path, "a") as out:
    for spec in specs:
        parts = spec.split(":")
        tier, Q = parts[0], int(parts[1])
        k = int(parts[2]) if len(parts) > 2 else W.K
        if Q not in qcache:
            qpath = str(work / f"q{Q}.parquet")
            W._write_bulk(qpath, allq[:Q], "query_id")
            qs = spark.read.parquet(qpath).cache()
            qs.count()
            qcache[Q] = qs
        qs = qcache[Q]
        if tier == "reject":  # the pull above the cap: cap + 1 rows, then None
            set_plan("bounded")
            ts = []
            for _ in range(REPS + 1):
                t0 = time.perf_counter()
                r = real_dq(qs, "query_id", "vector", k * 4, None)
                ts.append((time.perf_counter() - t0) * 1e3)
            assert r is None
            rec = {"tier": "rejected_pull", "Q": Q, "k": k, "ms": round(float(np.median(ts[1:])), 1),
                   "cap": min(knn_mod._MAX_DRIVER_PARTIAL_ROWS // (k * 4),
                              knn_mod._MAX_DRIVER_QUERY_BYTES // (8 * 384))}
            print(json.dumps(rec), flush=True)
            out.write(json.dumps(rec) + "\n")
            continue
        fn = tier_fn(tier, k)
        res = {}
        times = {"bounded": [], "cogroup": []}
        merges, pulls = [], []
        for rep in range(REPS + 1):  # rep 0 warms both plans
            for plan in ("bounded", "cogroup") if rep % 2 == 0 else ("cogroup", "bounded"):
                set_plan(plan)
                merge_ms.clear()
                pull_ms.clear()
                t0 = time.perf_counter()
                got = rows(fn(qs))
                ms = (time.perf_counter() - t0) * 1e3
                if rep == 0:
                    res[plan] = got
                    continue
                times[plan].append(ms)
                if plan == "bounded":
                    merges.append(sum(merge_ms))
                    pulls.append(sum(pull_ms))
        rec = {
            "tier": tier, "Q": Q, "k": k,
            "bounded_ms": round(float(np.median(times["bounded"])), 1),
            "cogroup_ms": round(float(np.median(times["cogroup"])), 1),
            "bounded_all": [round(t) for t in times["bounded"]],
            "cogroup_all": [round(t) for t in times["cogroup"]],
            "query_pull_ms": round(float(np.median(pulls)), 1),
            "driver_merge_ms": round(float(np.median(merges)), 1),
            "same_rows": res["bounded"] == res["cogroup"],
        }
        print(json.dumps(rec), flush=True)
        out.write(json.dumps(rec) + "\n")
        out.flush()
prun.stop_spark(spark)
