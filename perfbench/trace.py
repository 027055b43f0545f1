"""The traced mode: job-group accounting and timing shims.

Installed only for ``--trace 1``.  Two sources feed the per-layer metrics:

* ``Tracer.operation(name)`` tags every Spark job an operation launches with
  its own job group (``setJobGroup``) and, when the operation ends, reads the
  group's jobs, stages, tasks, executor run time and shuffle bytes from the
  status tracker and the status store.  Driver time is the operation's wall
  time minus the time during which a job of its group was running.
* ``Tracer.install_shims()`` wraps the public entry points of the package's
  layers in timing shims, so each call records a span (name, start, end,
  parent span, operation id) and per-layer call counts.  ``uninstall`` puts
  every original back.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on standard error, stamped with seconds since start."""
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


# (module, attribute path, layer name) of every wrapped entry point
SHIMS = [
    ("fabstir_vectordb_spark.functions.filters", "compile_filter", "functions.filters.compile"),
    ("fabstir_vectordb_spark.operators.cache", "QueryResultCache.get", "operators.cache.get"),
    ("fabstir_vectordb_spark.operators.knn", "brute_force_knn", "operators.knn"),
    ("fabstir_vectordb_spark.operators.knn", "knn_bulk", "operators.knn"),
    ("fabstir_vectordb_spark.operators.ivf", "IVFIndex.fit", "operators.ivf.fit"),
    ("fabstir_vectordb_spark.operators.ivf", "IVFIndex.assign", "operators.ivf.assign"),
    ("fabstir_vectordb_spark.operators.ivf", "IVFIndex.search", "operators.ivf"),
    ("fabstir_vectordb_spark.operators.ivf", "IVFIndex.search_bulk", "operators.ivf"),
    ("fabstir_vectordb_spark.operators.ivfpq", "IVFPQIndex.fit", "operators.ivfpq.build"),
    ("fabstir_vectordb_spark.operators.ivfpq", "IVFPQIndex.encode", "operators.ivfpq.build"),
    ("fabstir_vectordb_spark.operators.ivfpq", "IVFPQIndex.search_bulk", "operators.ivfpq"),
    ("fabstir_vectordb_spark.operators.hnsw", "HNSWIndex.build", "operators.hnsw.build"),
    ("fabstir_vectordb_spark.operators.hnsw", "HNSWIndex.search_bulk", "operators.hnsw"),
    ("fabstir_vectordb_spark.operators.topk", "topk_per_query", "operators.topk"),
    ("fabstir_vectordb_spark.session", "VectorDbSession.save", "session.save"),
    ("fabstir_vectordb_spark.session", "VectorDbSession.load", "session.load"),
]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []  # one record per operation
        self.calls: dict[str, int] = defaultdict(int)  # per layer
        self.cache_hits = 0
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._op: str | None = None
        self._restore: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- operations

    @contextmanager
    def operation(self, name: str):
        """Tag the jobs of one operation and record its Spark accounting."""
        t0 = time.perf_counter()
        group = f"perfbench-{len(self.ops)}-{name}"
        self.sc.setJobGroup(group, name)
        self._op = group
        self.overhead_s += time.perf_counter() - t0
        with self.span(name):
            start = time.time()
            try:
                yield
            finally:
                end = time.time()
        t1 = time.perf_counter()
        self.sc._jsc.clearJobGroup()
        self._op = None
        rec = {"name": name, "group": group, "wall_ms": (end - start) * 1e3}
        rec.update(self._group_stats(group, start, end))
        self.ops.append(rec)
        self.overhead_s += time.perf_counter() - t1

    def _group_stats(self, group: str, start: float, end: float) -> dict:
        sc = self.sc
        jsc = sc._jsc.sc()
        # the status store is fed by the listener bus; drain it so the
        # group's last stage is accounted for
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = sc._jvm
        jobs = stages = tasks = 0
        run_ms = shuffle = 0
        intervals = []
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            jobs += 1
            job = store.job(jid)
            if job.submissionTime().isDefined():
                s = job.submissionTime().get().getTime() / 1e3
                e = job.completionTime().get().getTime() / 1e3 if job.completionTime().isDefined() else end
                intervals.append((max(s, start), min(e, end)))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                # py4j cannot use Scala default arguments: pass every one
                attempts = store.stageData(
                    stage_ids.apply(i), False, jvm.java.util.ArrayList(), False,
                    sc._gateway.new_array(jvm.double, 0),
                )
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    stages += 1
                    tasks += sd.numCompleteTasks()
                    run_ms += sd.executorRunTime()
                    shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        busy = _union_length(intervals)
        return {
            "jobs": jobs, "stages": stages, "tasks": tasks,
            "executor_run_ms": run_ms, "shuffle_bytes": shuffle,
            "driver_ms": max(0.0, (end - start) - busy) * 1e3,
        }

    def op_median(self, name: str, field: str) -> float:
        vals = [o[field] for o in self.ops if o["name"] == name]
        return float(np.median(vals)) if vals else 0.0

    # --------------------------------------------------------------- spans

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "op": self._op,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def layer_ms(self, layer: str, op_name: str | None = None) -> float:
        """Median per operation of the time spent in ``layer`` spans (summed
        within an operation, outermost spans only), over operations named
        ``op_name`` (all operations when None)."""
        per_op: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            if sp["name"] != layer or sp["op"] is None:
                continue
            parent = sp["parent"]
            if parent is not None and self.spans[parent]["name"] == layer:
                continue
            per_op[sp["op"]] += (sp["end"] - sp["start"]) * 1e3
        groups = [o["group"] for o in self.ops if op_name is None or o["name"] == op_name]
        vals = [per_op.get(g, 0.0) for g in groups]
        return float(np.median(vals)) if vals else 0.0

    def span_count(self, layer: str, op_name: str) -> int:
        """Number of ``layer`` spans inside operations named ``op_name``."""
        groups = {o["group"] for o in self.ops if o["name"] == op_name}
        return sum(1 for sp in self.spans if sp["name"] == layer and sp["op"] in groups)

    def write_spans(self, path) -> None:
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({"id": i, **sp}) + "\n")

    # --------------------------------------------------------------- shims

    def install_shims(self) -> None:
        for module, attr, layer in SHIMS:
            owner_name, _, name = attr.rpartition(".")
            mod = importlib.import_module(module)
            if owner_name:
                owner = getattr(mod, owner_name)
                raw = owner.__dict__[name]
                if isinstance(raw, classmethod):
                    wrapped = classmethod(self._wrap(raw.__func__, layer))
                else:
                    wrapped = self._wrap(raw, layer)
                self._patch(owner, name, raw, wrapped)
            else:
                orig = getattr(mod, name)
                wrapped = self._wrap(orig, layer)
                # modules that imported the function by name hold their own
                # reference: patch every one of them
                for m in list(sys.modules.values()):
                    if (getattr(m, "__name__", "").startswith("fabstir_vectordb_spark")
                            and getattr(m, name, None) is orig):
                        self._patch(m, name, orig, wrapped)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._restore):
            setattr(owner, name, orig)
        self._restore.clear()

    def _patch(self, owner, name, orig, wrapped) -> None:
        self._restore.append((owner, name, orig))
        setattr(owner, name, wrapped)

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            tracer.calls[layer] += 1
            with tracer.span(layer):
                out = fn(*args, **kwargs)
            if layer == "operators.cache.get" and out is not None:
                tracer.cache_hits += 1
            return out

        return shim


class NullTracer:
    """The untraced run's stand-in: no job groups, no spans, no shims."""

    @contextmanager
    def operation(self, name: str):
        yield


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
