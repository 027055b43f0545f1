"""Time a session point search over held rows against the same search in
``partial_knn``, with and without a write before each search, at several
live-table sizes, to place ``session._DRIVER_RANK_MAX_BYTES`` now that
writes apply to the held rows and a post-write search pulls nothing.

    python3 plans/held_writes/crossover.py 20000 40000 60000

Each size opens two ``session_rw``-shaped sessions of the same corpus
(384-d mixture vectors, the perfbench metadata, ``from_dataframe`` + a
32-cluster IVF index, so the planner probes 8): one under an unbounded cap,
whose rows are held, and one under a cap of 0 bytes, which searches in
``partial_knn``.  The two alternate call by call over fresh queries,
unfiltered (IVF probe) and filtered at about 50% selectivity (exact over
the filter's rows), in two modes:

- ``write``: each search follows an ``add_vectors`` of 10 rows to the same
  session (applied to the held rows on the held session);
- ``read``: no write between searches.

Prints one line per (size, kind, mode, path) with the median ms of the
search alone, then the median ms of the writes on each session.
"""

import os
import statistics
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.getcwd())

from perfbench import gen, workloads  # noqa: E402

CALLS = 10  # per (size, kind, mode, path), after two warm-up rounds
ADD = 10  # rows per write
CAPS = {"held": 1 << 62, "partial_knn": 0}


def main(sizes):
    from pyspark.sql import SparkSession

    from fabstir_vectordb_spark import session as S

    spark = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "3g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rng = np.random.default_rng(7)
    with tempfile.TemporaryDirectory() as work:
        for n in sizes:
            inputs = gen.session_inputs(7, n, 8 * CALLS + 8)
            path = os.path.join(work, f"corpus{n}.parquet")
            workloads._write_session_corpus(path, inputs.corpus, int(time.time()))
            sessions = {}
            for p, cap in CAPS.items():
                S._DRIVER_RANK_MAX_BYTES = cap
                sessions[p] = workloads._open_session(spark, path)
            s = sessions["held"]
            est = s._live_count * (s._dim * 4 + 64)
            f50 = min(inputs.filters, key=lambda f: abs(f["selectivity"] - 0.5))["filter"]
            added = 0
            qi = 0
            write_ms = {p: [] for p in CAPS}
            for mode in ("write", "read"):
                for kind, f in (("ivf", None), ("filtered50", f50)):
                    ms = {p: [] for p in CAPS}
                    for i in range(CALLS + 2):
                        batch = [
                            {"id": f"w{added + j}",
                             "vector": rng.normal(size=gen.DIM).tolist(),
                             "metadata": inputs.corpus.metadata(j)}
                            for j in range(ADD)
                        ]
                        added += ADD
                        q = inputs.queries[qi % len(inputs.queries)]
                        qi += 1
                        for p, cap in CAPS.items():
                            S._DRIVER_RANK_MAX_BYTES = cap
                            s = sessions[p]
                            if mode == "write":
                                t0 = time.perf_counter()
                                s.add_vectors(batch)
                                write_ms[p].append((time.perf_counter() - t0) * 1e3)
                            s._cache.invalidate()
                            t0 = time.perf_counter()
                            s.search(q.tolist(), k=10, filter=f)
                            if i >= 2:
                                ms[p].append((time.perf_counter() - t0) * 1e3)
                    assert sessions["held"]._held is not None
                    assert sessions["partial_knn"]._held is None
                    for p in CAPS:
                        print(f"n={n} est_mb={est / 2**20:.1f} kind={kind} mode={mode} "
                              f"path={p} p50_ms={statistics.median(ms[p]):.0f} "
                              f"min_ms={min(ms[p]):.0f} max_ms={max(ms[p]):.0f}", flush=True)
            for p in CAPS:
                print(f"n={n} add_vectors({ADD}) path={p} "
                      f"p50_ms={statistics.median(write_ms[p]):.0f}", flush=True)
            sessions.clear()
            spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main([int(a) for a in sys.argv[1:]] or [20000, 40000, 60000])
