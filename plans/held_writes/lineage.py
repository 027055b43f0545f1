"""Does ``VectorDbSession._bound_lineage``'s ``localCheckpoint`` earn its
place?  Runs 12 write cycles (add 4, delete 1, update 1: 36 mutations, the
shape of tests/test_session_batch.py::test_sustained_mutation_bounded_plan)
on a 2,000-row session and prints, after every cycle, the lines of the
session table's logical plan and the ms of a ``count()`` over it, for:

- ``held``: rows held on the driver (the default cap), so the table is the
  base plus one local relation;
- ``spark``: rows not held (the cap at 0 bytes), with the checkpoint every
  16 mutations (``_CHECKPOINT_EVERY``), and ``spark-nockpt`` without it.

    python3 plans/held_writes/lineage.py
"""

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.getcwd())


def main():
    from pyspark.sql import SparkSession

    from fabstir_vectordb_spark import session as S

    spark = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rng = np.random.default_rng(3)
    cap, every = S._DRIVER_RANK_MAX_BYTES, S.VectorDbSession._CHECKPOINT_EVERY

    def item(i):
        return {"id": f"v{i}", "vector": rng.normal(size=16).tolist(),
                "metadata": {"lang": f"l{i % 7}", "rank": i}}

    for mode in ("held", "spark", "spark-nockpt"):
        S._DRIVER_RANK_MAX_BYTES = cap if mode == "held" else 0
        S.VectorDbSession._CHECKPOINT_EVERY = 10**9 if mode == "spark-nockpt" else every
        s = S.VectorDbSession(spark)
        s.add_vectors([item(i) for i in range(2000)])
        s.train_index(n_clusters=8, seed=1)
        lines, count_ms = [], []
        for c in range(12):
            s.add_vectors([item(10_000 + 4 * c + j) for j in range(4)])
            s.batch_delete([f"v{c}"])
            s.batch_update_metadata([(f"v{100 + c}", {"lang": "upd", "rank": -c})])
            df = s._df
            lines.append(len(df._jdf.queryExecution().logical().toString().splitlines()))
            t0 = time.perf_counter()
            df.count()
            count_ms.append((time.perf_counter() - t0) * 1e3)
        assert (s._held is not None) == (mode == "held")
        print(f"{mode:13s} plan_lines={lines}")
        print(f"{mode:13s} count_ms={[round(x) for x in count_ms]}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
