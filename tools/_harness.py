"""The one SparkSession builder and the one median-of-N timer of the
scripts in ``tools/``.

A tool imports this module first: it puts the checkout's root on
``sys.path``, so ``bench``, ``__spark_entry__`` and the package import
from the checkout.  Each tool passes its own master, shuffle partitions
and driver memory to ``session``.  The environment variables read here
are the ones the tools read:

- ``SPARK_GRAFT_SF_DIR``: the testdata directory (default sf0.1);
- ``SPARK_GRAFT_CPUS``: the local master's cores (default 32);
- ``SPARK_GRAFT_DRIVER_MEM``: the driver heap (default 12g);
- ``SPARK_GRAFT_BENCH_REPS``: the runs ``timed`` takes the median of
  (default 5).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))


def session(app: str, cores, partitions, driver_mem: str, bench: bool = False):
    """A ``local[cores]`` session with AQE, UTC time and Arrow transfers.
    ``bench=True`` adds what bench.py's session adds: coalesced shuffle
    partitions, a fixed pre-touched heap and a larger codegen cache."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # no console progress bar: a tool's redirected output stays readable
        .config("spark.ui.showConsoleProgress", "false")
    )
    if bench:
        b = (
            b.config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config(
                "spark.driver.extraJavaOptions",
                f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
            )
            .config("spark.sql.codegen.cache.maxEntries", "5000")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def bench_session(app: str):
    """bench.py's session at ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM``."""
    return session(app, CPUS, CPUS, DRIVER_MEM, bench=True)


def timed(fn) -> float:
    """The median wall seconds of ``REPS`` calls of ``fn``."""
    samples = []
    for _ in range(REPS):
        t0 = time.time()
        fn()
        samples.append(time.time() - t0)
    return statistics.median(samples)
