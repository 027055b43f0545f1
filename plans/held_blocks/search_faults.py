"""Time the held search's steps inside one ``session_rw`` run, with the
minor page faults each step takes.

    python3 plans/held_blocks/search_faults.py SEED

Runs ``perfbench/run.py --workload session_rw --seconds 3 --trace 0`` in
this process, from the root of a checkout, with timers around
``VectorDbSession.search``, ``_HeldRows.first_k`` (the ranking and the
take of the kept rows) and each ``knn._batch_topk_rows`` call it makes,
and prints per step the call count, the median ms and the median minor
faults (``ru_minflt``) per call.
"""

import functools
import os
import resource
import sys
import time

sys.path.insert(0, os.getcwd())

import numpy as np  # noqa: E402

from fabstir_vectordb_spark import session as S  # noqa: E402
from perfbench import run as R  # noqa: E402

STEPS: dict[str, list[tuple[float, int]]] = {}


def timed(owner, name, label):
    fn = getattr(owner, name)

    @functools.wraps(fn)
    def wrapper(*a, **kw):
        t0, f0 = time.perf_counter(), resource.getrusage(resource.RUSAGE_SELF).ru_minflt
        try:
            return fn(*a, **kw)
        finally:
            STEPS.setdefault(label, []).append(
                (time.perf_counter() - t0, resource.getrusage(resource.RUSAGE_SELF).ru_minflt - f0)
            )

    setattr(owner, name, wrapper)


timed(S.VectorDbSession, "search", "search (cache hits included)")
timed(S._HeldRows, "first_k", "_HeldRows.first_k")
timed(S, "_batch_topk_rows", "knn._batch_topk_rows")
try:
    R.main(["--workload", "session_rw", "--seed", sys.argv[1], "--seconds", "3", "--trace", "0"])
finally:
    for label, xs in STEPS.items():
        ms = np.median([x[0] for x in xs]) * 1e3
        faults = np.median([x[1] for x in xs])
        print(f"{label:30s} calls {len(xs):5d}  p50 {ms:6.3f} ms  p50 faults {faults:5.0f}")
