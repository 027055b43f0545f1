"""Run bench.py's amortized ANN-latency block alone (bench-identical
session and methodology) — for focused datum measurement and for the
core-scaling study (run with SPARK_GRAFT_CPUS=8 vs 32).

Usage: SPARK_GRAFT_CPUS=N python tools/amortized_datum.py
Prints one JSON line: the amortized dict + cpus.
"""

from __future__ import annotations

import json

import _harness  # puts the checkout's root on sys.path

import bench


def main() -> int:
    spark = _harness.bench_session("amortized_datum")
    out = bench._amortized(spark, _harness.SF_DIR, _harness.timed)
    out["cpus"] = int(_harness.CPUS)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
