"""Time bench.py's four dedup cells on one checkout, bench-style: the
same session settings, every cell warmed once on sf0.001 and once on the
timed scale, then the median of REPS noop writes per cell.

    python plans/dedup_arrow/cells.py <checkout> <sf_dir> [cpus] [reps]

Prints one JSON line: {cell: median seconds}.  Alternate two checkouts
run by run to compare them."""

import json
import os
import statistics
import sys
import time
from pathlib import Path

CELLS = ("dedup_minhash_lsh", "dedup_canonical", "simhash", "embed_near_dup")


def main(checkout: str, sf_dir: str, cpus: str = "4", reps: str = "5") -> None:
    checkout = os.path.abspath(checkout)
    sys.path.insert(0, checkout)
    os.environ["PYTHONPATH"] = checkout  # the Python workers import it too
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    assert E.__file__.startswith(checkout), E.__file__
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # bench.py times simhash through its raw pair body
    qs = {
        "dedup_minhash_lsh": E.q_dedup_minhash_lsh,
        "dedup_canonical": E.q_dedup_canonical,
        "simhash": E.q_simhash_raw,
        "embed_near_dup": E.q_embed_near_dup,
    }

    def run(name, d):
        qs[name](spark, d).write.format("noop").mode("overwrite").save()

    for d in (str(Path(sf_dir).parent / "sf0.001"), sf_dir):
        for name in CELLS:
            run(name, d)
    out = {}
    for name in CELLS:
        samples = []
        for _ in range(int(reps)):
            t0 = time.time()
            run(name, sf_dir)
            samples.append(time.time() - t0)
        out[name] = round(statistics.median(samples), 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:])
