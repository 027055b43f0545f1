"""Per-layer metrics of a traced run.

Every traced run reports every metric below; a metric of a layer the
workload does not reach reads 0.  The end-to-end metric each should move is
in README.md.
"""

from __future__ import annotations

import time

from perfbench import truth

TIERS = ("exact", "ivf", "ivfpq", "hnsw")
MUTATIONS = ("delete", "update", "delete_by_metadata")

UNITS: dict[str, str] = {
    # session_rw, read phase
    "spark.search.jobs": "count",
    "spark.search.stages": "count",
    "spark.search.tasks": "count",
    "session.search.driver_ms": "ms",
    "operators.cache.hit_ratio": "ratio",
    "operators.cache.lookups": "count",
    "operators.knn.construct_ms": "ms",
    "operators.ivf.construct_ms": "ms",
    "operators.topk.construct_ms": "ms",
    "functions.filters.compile_ms": "ms",
    "spark.filtered_search.jobs": "count",
    "spark.filtered_search.tasks": "count",
    "session.filtered_search.driver_ms": "ms",
    "search_p50_ms": "ms",
    "search_tail_ms": "ms",
    "filtered_search_p50_ms": "ms",
    # bulk_ann: kernels, the Python-worker boundary, shuffle, builds
    **{f"spark.bulk_{t}.{m}": u for t in TIERS
       for m, u in (("executor_run_ms", "ms"), ("shuffle_bytes", "bytes"), ("tasks", "count"))},
    **{f"session.bulk_{t}.driver_ms": "ms" for t in TIERS},
    **{f"{t}_bulk_qps": "1/s" for t in TIERS},
    "operators.ivf.fit_s": "s",
    "operators.ivfpq.build_s": "s",
    "operators.hnsw.build_s": "s",
    "spark.build_hnsw.executor_run_ms": "ms",
    "index_build_s": "s",
    **{f"operators.{t}.recall_at_10": "ratio" for t in TIERS[1:]},
    # session_rw, write phase: writes, index maintenance, persistence
    "spark.add.jobs": "count",
    "session.add.driver_ms": "ms",
    "ingest_vectors_per_s": "1/s",
    **{f"spark.{m}.jobs": "count" for m in MUTATIONS},
    **{f"session.{m}.driver_ms": "ms" for m in MUTATIONS},
    "mutation_p50_ms": "ms",
    "operators.ivf.assign_calls": "count",
    "spark.post_write_search.jobs": "count",
    "spark.post_write_search.tasks": "count",
    "post_write_search_p50_ms": "ms",
    "session.save.bytes_written": "bytes",
    "session.save.bytes_per_user_byte": "ratio",
    "spark.save.executor_run_ms": "ms",
    "spark.load.executor_run_ms": "ms",
    "save_load_s": "s",
    # every workload: the box and the tracer
    "box.calibration_start_s": "s",
    "box.calibration_end_s": "s",
    "trace.ops_per_s": "1/s",
    "trace.overhead_pct": "%",
}


def calibration_s(spark) -> float:
    """Wall time of bench.py's frozen calibration kernel: it measures the box,
    not the package, so a drift in it is a drift of the machine."""
    from bench import _calibration

    t0 = time.perf_counter()
    _calibration(spark)
    return time.perf_counter() - t0


def _p50(vals) -> float:
    return truth.median(vals) if vals else 0.0


def per_layer(run, tracer, e2e: dict, calib_start: float, calib_end: float) -> dict[str, float]:
    calls, op = run.calls, tracer.op_median
    v: dict[str, float] = dict.fromkeys(UNITS, 0.0)
    # read path
    for name in ("search", "filtered_search"):
        v[f"spark.{name}.jobs"] = op(name, "jobs")
        v[f"spark.{name}.tasks"] = op(name, "tasks")
        v[f"session.{name}.driver_ms"] = op(name, "driver_ms")
    v["spark.search.stages"] = op("search", "stages")
    lookups = tracer.calls.get("operators.cache.get", 0)
    v["operators.cache.lookups"] = lookups
    v["operators.cache.hit_ratio"] = tracer.cache_hits / lookups if lookups else 0.0
    for layer in ("knn", "ivf", "topk"):
        search_op = "filtered_search" if layer == "knn" else "search"
        v[f"operators.{layer}.construct_ms"] = tracer.layer_ms(f"operators.{layer}", search_op)
    v["functions.filters.compile_ms"] = tracer.layer_ms("functions.filters.compile", "filtered_search")
    v["search_p50_ms"] = _p50(calls.get("search"))
    v["search_tail_ms"] = truth.tail(calls.get("search", []))[1] or max(calls.get("search", [0.0]))
    v["filtered_search_p50_ms"] = _p50(calls.get("filtered_search"))
    # bulk tiers and builds
    for t in TIERS:
        for m in ("executor_run_ms", "shuffle_bytes", "tasks"):
            v[f"spark.bulk_{t}.{m}"] = op(f"bulk_{t}", m)
        v[f"session.bulk_{t}.driver_ms"] = op(f"bulk_{t}", "driver_ms")
        v[f"{t}_bulk_qps"] = _p50(calls.get(f"{t}_qps"))
    # a build is lazy in part: its time runs from the call to the cached index
    v["operators.ivf.fit_s"] = _p50(calls.get("build_ivf")) / 1e3
    v["operators.ivfpq.build_s"] = _p50(calls.get("build_ivfpq")) / 1e3
    v["operators.hnsw.build_s"] = _p50(calls.get("build_hnsw")) / 1e3
    v["spark.build_hnsw.executor_run_ms"] = op("build_hnsw", "executor_run_ms")
    v["index_build_s"] = v["operators.ivf.fit_s"] + v["operators.ivfpq.build_s"] + v["operators.hnsw.build_s"]
    if run.workload == "bulk_ann":
        for t in TIERS[1:]:
            v[f"operators.{t}.recall_at_10"] = _p50(run.recall.get(t))
    # writes and persistence
    v["spark.add.jobs"] = op("add", "jobs")
    v["session.add.driver_ms"] = op("add", "driver_ms")
    v["ingest_vectors_per_s"] = _p50(calls.get("add_vectors_per_s"))
    for m in MUTATIONS:
        v[f"spark.{m}.jobs"] = op(m, "jobs")
        v[f"session.{m}.driver_ms"] = op(m, "driver_ms")
    v["mutation_p50_ms"] = _p50(calls.get("mutation"))
    v["operators.ivf.assign_calls"] = tracer.span_count("operators.ivf.assign", "post_write_search")
    v["spark.post_write_search.jobs"] = op("post_write_search", "jobs")
    v["spark.post_write_search.tasks"] = op("post_write_search", "tasks")
    v["post_write_search_p50_ms"] = _p50(calls.get("post_write_search"))
    v["session.save.bytes_written"] = run.extra.get("save_bytes_written", 0.0)
    v["session.save.bytes_per_user_byte"] = run.extra.get("save_bytes_per_user_byte", 0.0)
    v["spark.save.executor_run_ms"] = op("save", "executor_run_ms")
    v["spark.load.executor_run_ms"] = op("load", "executor_run_ms")
    v["save_load_s"] = _p50(calls.get("save_load")) / 1e3
    # box and tracer
    v["box.calibration_start_s"] = calib_start
    v["box.calibration_end_s"] = calib_end
    v["trace.ops_per_s"] = e2e["ops_per_s"]
    v["trace.overhead_pct"] = 100.0 * tracer.overhead_s / run.busy_s
    return v
