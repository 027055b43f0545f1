"""Bucketed range_join vs Spark's native equality-join + BETWEEN filter
— the measured justification for plans/sql_temporal.range_sql.

Spark's native plan for `ON p.key = i.key AND p.ts BETWEEN i.s AND i.e`
shuffles both sides on the key and then enumerates |points_k| x
|intervals_k| candidate pairs per key before the filter; the bucketed
plan (operators/temporal.range_join) pairs only candidates sharing a
time bucket.  With dense interval sets per key the native pair
enumeration is quadratic per key and the bucketed plan is ~linear.

Fixture: ``users`` keys, each with ``per_user`` points (one per minute)
and ``per_user / 15`` half-open back-to-back 15-minute intervals
covering the same span — so both plans produce EXACTLY one match per
point (verified), and the native plan's per-key candidate set is
points_k x intervals_k.

Usage: python tools/range_join_compare.py [users] [per_user]
Prints one JSON line {"native_s": ..., "bucketed_s": ..., "rows": ...}.
"""

from __future__ import annotations

import json
import sys
import time

import _harness  # puts the checkout's root on sys.path
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators.temporal import range_join


def main() -> int:
    users = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    per_user = int(sys.argv[2]) if len(sys.argv) > 2 else 3000

    spark = _harness.session("range_join_compare", 32, 64, "24g")

    base = 1_700_000_000
    n_pts = users * per_user
    points = spark.range(n_pts).select(
        F.col("id").alias("event_id"),
        (F.col("id") % users).alias("user_id"),
        F.timestamp_seconds(
            F.lit(base) + F.floor(F.col("id") / users) * 60
        ).alias("ts"),
    )
    n_iv = users * (per_user // 15)
    intervals = spark.range(n_iv).select(
        F.col("id").alias("iv_id"),
        (F.col("id") % users).alias("user_id"),
        F.timestamp_seconds(
            F.lit(base) + F.floor(F.col("id") / users) * 900
        ).alias("start"),
        F.timestamp_seconds(
            F.lit(base) + (F.floor(F.col("id") / users) + 1) * 900 - 60
        ).alias("end"),
    )
    points = points.cache()
    intervals = intervals.cache()
    points.count(), intervals.count()

    out = {"users": users, "per_user": per_user,
           "points": n_pts, "intervals": n_iv}

    t0 = time.time()
    native = points.alias("p").join(
        intervals.alias("i"),
        (F.col("p.user_id") == F.col("i.user_id"))
        & (F.col("p.ts") >= F.col("i.start"))
        & (F.col("p.ts") <= F.col("i.end")),
    )
    out["native_rows"] = native.count()
    out["native_s"] = round(time.time() - t0, 1)

    t0 = time.time()
    bucketed = range_join(
        points, intervals, on="user_id", bucket_seconds=900
    )
    out["bucketed_rows"] = bucketed.count()
    out["bucketed_s"] = round(time.time() - t0, 1)

    # the CORRECTNESS check is plan-vs-plan agreement; full point
    # coverage only holds when per_user is a multiple of 15 (the last
    # partial interval block is never generated)
    out["match"] = bool(out["native_rows"] == out["bucketed_rows"])
    out["speedup"] = round(out["native_s"] / max(out["bucketed_s"], 1e-9), 1)
    print(json.dumps(out))
    return 0 if out["match"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
