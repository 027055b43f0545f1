"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload session_rw --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository.  The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` they are the per-layer ones, read from Spark's status store and
from timing shims around the package's entry points.  A line before the last
carries the workload's own detail (per-kind latencies, sample counts, recall).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
from pathlib import Path

# run as a script, this file's directory heads sys.path, where trace.py would
# shadow the standard library's module of that name; import from the root
if sys.path and Path(sys.path[0]).resolve() == Path(__file__).resolve().parent:
    sys.path.pop(0)

ROOT = Path.cwd()
OUT = ROOT / ".perfbench_out"

HEAP = "1g"

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ops_per_s": "1/s",
    "recall_at_10": "ratio",
}


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (the driver JVM and the Python workers) and keeps the peak of the sum.
    Each process counts its proportional set size, so pages that forked
    Python workers share with their parent are counted once.  A sample costs
    about 25 ms of one core, hence the half-second interval."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.interval)

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += _pss_bytes(pid)
            todo += children.get(pid, [])
        return total


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process has ended
        pass
    return 0


def start_spark(work_dir: Path):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    tmp = work_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", HEAP)
        # a fixed, pre-touched heap: no heap growth (and its page faults and
        # GC resizing) inside the measured region, and a steadier peak RSS
        .config("spark.driver.extraJavaOptions",
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.warehouse.dir", str(work_dir / "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def end_to_end(run) -> dict[str, float]:
    from perfbench import truth

    recalls = [v for vs in run.recall.values() for v in vs]
    return {
        "setup_s": truth.median(run.setup_s),
        "ops_per_s": run.work / run.busy_s,
        "recall_at_10": sum(recalls) / len(recalls),
    }


def detail(run) -> dict:
    """Per-kind latency medians and tails with their sample counts: the
    workload-specific numbers of the run."""
    from perfbench import truth

    out = {}
    for kind, vals in sorted(run.calls.items()):
        if not vals:
            continue
        p, v = truth.tail(vals)
        out[kind] = {"n": len(vals), "p50": truth.median(vals), "tail_pct": p, "tail": v}
    out["recall"] = {k: sum(v) / len(v) for k, v in run.recall.items() if v}
    out["extra"] = run.extra
    out["setup_s"] = run.setup_s
    return out


def main(argv=None) -> int:
    if not (ROOT / "fabstir_vectordb_spark").is_dir():
        print("perfbench: run from the root of a checkout that holds the "
              "fabstir_vectordb_spark package", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    args = parse_args(argv)
    # the session compares timestamps against the wall clock in UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Python workers import the package from the checkout; temp files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    work_dir = OUT / f"{args.workload}-{args.seed}-{os.getpid()}"
    os.environ["TMPDIR"] = str(work_dir / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no files under /tmp
    work_dir.mkdir(parents=True, exist_ok=True)

    from perfbench import layers
    from perfbench.trace import NullTracer, Tracer, log
    from perfbench.workloads import WORKLOADS

    try:
        with PeakRss() as rss:
            spark = start_spark(work_dir)
            log("spark started")
            try:
                tracer = Tracer(spark) if args.trace else NullTracer()
                if args.trace:
                    layers.calibration_s(spark)  # the first pass pays the JVM's warm-up
                    calib_start = layers.calibration_s(spark)
                    tracer.install_shims()
                try:
                    run = WORKLOADS[args.workload](
                        spark, args.seed, args.seconds, tracer, str(work_dir)
                    )
                finally:
                    if args.trace:
                        tracer.uninstall()
                if args.trace:
                    calib_end = layers.calibration_s(spark)
            finally:
                log("workload done")
                stop_spark(spark)
                log("spark stopped")
        metrics = end_to_end(run)
        metrics["peak_rss_mb"] = rss.peak / 2**20
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "trace": args.trace, "end_to_end": metrics,
                          "detail": detail(run)}))
        if args.trace:
            spans = OUT / "spans"
            spans.mkdir(parents=True, exist_ok=True)
            tracer.write_spans(spans / f"{args.workload}-{args.seed}.jsonl")
            values = layers.per_layer(run, tracer, metrics, calib_start, calib_end)
            units = layers.UNITS
        else:
            values, units = metrics, END_TO_END
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
