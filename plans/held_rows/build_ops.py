"""Print the Spark accounting of each timed ``bulk_ann`` build: run the
workload in-process under perfbench's tracer and print the tracer's
record of every ``build_*`` operation (jobs, stages, tasks, driver ms).

    python3 plans/held_rows/build_ops.py 1552

Run it from the root of a checkout; it measures that checkout's package.
"""

import json
import os
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, os.getcwd())

from perfbench import run as R  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def main(seed: int) -> None:
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as work:
        spark = R.start_spark(Path(work))
        try:
            tracer = Tracer(spark)
            tracer.install_shims()
            try:
                WORKLOADS["bulk_ann"](spark, seed, 3, tracer, work)
            finally:
                tracer.uninstall()
        finally:
            R.stop_spark(spark)
    for op in tracer.ops:
        if op["name"].startswith("build_"):
            print(json.dumps({k: op[k] for k in ("name", "jobs", "stages", "tasks", "wall_ms", "driver_ms")}))


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 1552)
