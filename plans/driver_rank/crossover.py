"""Time a session point search ranked on the driver against the same search
ranked in ``partial_knn``, at several live-table sizes, to place
``session._DRIVER_RANK_MAX_BYTES``.

    python3 plans/driver_rank/crossover.py 2000 20000 100000

Each size builds a ``session_rw``-shaped session (384-d mixture vectors, the
perfbench metadata, ``from_dataframe`` + a 32-cluster IVF index, so the
planner probes 8), then alternates the two paths call by call over fresh
queries: unfiltered (IVF probe) and filtered at about 10% and 50%
selectivity (exact over the filter's rows).  Prints one line per (size, kind, path) with the median ms and the
candidate bytes the driver path pulled.
"""

import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.getcwd())

from perfbench import gen, workloads  # noqa: E402

CALLS = 12  # per (size, kind, path)


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
    with tempfile.TemporaryDirectory() as work:
        caps = {"driver": 1 << 62, "partial_knn": 0}
        for n in sizes:
            inputs = gen.session_inputs(7, n, 4 * CALLS + 4)
            path = os.path.join(work, f"corpus{n}.parquet")
            workloads._write_session_corpus(path, inputs.corpus, int(time.time()))
            s = workloads._open_session(spark, path)
            est = s._live_count * (s._dim * 4 + 64)
            kinds = [("ivf", None)] + [
                (f"filtered{round(sel * 100)}", min(
                    inputs.filters, key=lambda f: abs(f["selectivity"] - sel))["filter"])
                for sel in (0.1, 0.5)
            ]
            for kind, f in kinds:
                ms = {p: [] for p in caps}
                for i in range(CALLS + 2):
                    for p, cap in caps.items():
                        S._DRIVER_RANK_MAX_BYTES = cap
                        q = inputs.queries[(2 * i + (p == "driver")) % len(inputs.queries)]
                        s._cache.invalidate()
                        t0 = time.perf_counter()
                        s.search(q.tolist(), k=10, filter=f)
                        if i >= 2:  # two warm-up rounds per path
                            ms[p].append((time.perf_counter() - t0) * 1e3)
                for p in caps:
                    print(f"n={n} est_mb={est / 2**20:.1f} kind={kind} path={p} "
                          f"p50_ms={statistics.median(ms[p]):.0f} "
                          f"min_ms={min(ms[p]):.0f} max_ms={max(ms[p]):.0f}", flush=True)
            spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main([int(a) for a in sys.argv[1:]] or [2000, 20000, 100000])
