"""Time a no-op Arrow job and a JVM-only job over one cached table.

The no-op job is a ``mapInArrow`` over a cached 4-partition table whose
function refers to a package module, so the worker imports the package
when it unpickles the function, as it does for every package kernel;
the function passes its batches through.  The JVM-only job counts the same
table.  Each job runs REPS times after two warm runs; the script prints
one JSON line with the median and every time in ms, and, from a last
probe task per partition, the number of ``zipimport.zipimporter`` finders
in its worker's ``sys.path_importer_cache`` and how many of them re-read
their archive on ``invalidate_caches()``.

usage: python plans/worker_start/noop_job.py [REPS]
Run it from the root of a checkout: the Python workers import the
package from their working directory.  To time another commit, copy the
script into a checkout of it and run it there.
"""
import json
import os
import statistics
import sys
import time

reps = int(sys.argv[1]) if len(sys.argv) > 1 else 15
sys.path.insert(0, os.getcwd())

from pyspark.sql import SparkSession  # noqa: E402

from fabstir_vectordb_spark.operators import _arrow  # noqa: E402

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
table = spark.range(4000).repartition(4).cache()
table.count()


def noop(batches):
    assert _arrow  # unpickled with the function: the worker imports the package
    yield from batches


def zip_finders(batches):
    import sys
    import zipimport

    import pyarrow as pa

    for _ in batches:
        pass
    zips = [f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)]
    rereads = zipimport.zipimporter.invalidate_caches
    n = sum(type(f).invalidate_caches is rereads for f in zips)
    yield pa.record_batch([pa.array([len(zips)]), pa.array([n])], names=["zip", "rereading"])


def timed(run):
    for _ in range(2):
        run()
    ms = []
    for _ in range(reps):
        t0 = time.perf_counter()
        run()
        ms.append(round((time.perf_counter() - t0) * 1000, 1))
    return {"median_ms": statistics.median(ms), "ms": ms}


out = {
    "noop_map_in_arrow": timed(lambda: table.mapInArrow(noop, table.schema).collect()),
    "jvm_count": timed(lambda: table.count()),
    "zip_finders_per_task": [
        [r["zip"], r["rereading"]]
        for r in table.mapInArrow(zip_finders, "zip long, rereading long").collect()
    ],
}
print(json.dumps(out))
spark.stop()
