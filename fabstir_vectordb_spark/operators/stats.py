"""Aggregation / statistics operators (SURVEY §2.6).

Parity targets (reference, public repo Fabstir/fabstir-vectordb):
  hybrid stats (counts, avg age)     src/hybrid/core.rs:694-756
  age-distribution histogram         src/hybrid/core.rs:758-820
  cluster distribution / sizes       src/ivf/core.rs:536-550
  cluster stats (variance, empties)  src/ivf/operations.rs:264-289,552-564
  search perf percentiles (p50/p99)  src/hybrid/search_integration.rs:491-552

All are single-pass hash aggregates with map-side partial aggregation —
the only shuffle key is the (low-cardinality) bucket / cluster id, so
they scale linearly in input and constant in output.

Determinism: age buckets are computed against an explicit `now` argument
(the reference uses wall-clock; a queryable engine needs the reference
point pinned so results are reproducible and oracle-checkable).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# hybrid/core.rs:758-820 buckets: <1h, <1d, <1w, >=1w
AGE_BUCKETS_MS = [
    ("under_1h", 3_600_000),
    ("under_1d", 86_400_000),
    ("under_1w", 604_800_000),
]
AGE_BUCKET_OVERFLOW = "over_1w"


def age_bucket(ts: Column | str, now: _dt.datetime) -> Column:
    """Bucket a timestamp by age relative to `now` (hybrid/core.rs:773-787).

    Ages are compared in integer microseconds (unix_micros), so bucket
    boundaries are exact — no float rounding can flip a boundary row."""
    ts = F.col(ts) if isinstance(ts, str) else ts
    age_us = F.unix_micros(F.lit(now)) - F.unix_micros(ts)
    expr = F.lit(AGE_BUCKET_OVERFLOW)
    for name, limit in reversed(AGE_BUCKETS_MS):
        expr = F.when(age_us < limit * 1000, F.lit(name)).otherwise(expr)
    return expr


def hybrid_stats(
    df: DataFrame,
    now: _dt.datetime,
    ts_col: str = "ts",
    recency_threshold_ms: int = 604_800_000,  # 7 days, hybrid/core.rs:69-85
) -> DataFrame:
    """Recent/historical/total counts + average age (hybrid/core.rs:694-756).

    The reference keeps these as two physical index sizes; here
    recent-vs-historical is the same `ts` predicate the search path uses,
    so the stats are one single-pass aggregate (map-side partial, no
    group key).  Ages aggregate as exact integer microsecond sums and
    divide once at the end — order-independent, oracle-stable.

    Output: one row (recent_count, historical_count, total_count,
    avg_age_ms rounded to 6).
    """
    ts = F.col(ts_col)
    age_us = F.unix_micros(F.lit(now)) - F.unix_micros(ts)
    is_recent = age_us < recency_threshold_ms * 1000
    return df.agg(
        F.count(F.when(is_recent, 1)).alias("recent_count"),
        F.count(F.when(~is_recent, 1)).alias("historical_count"),
        F.count("*").alias("total_count"),
        (
            # coalesce: on an empty input sum() is NULL and 0/0 divides to
            # NULL, but the reference's get_statistics guards total > 0 and
            # returns 0.0 (hybrid/core.rs:703-711)
            F.coalesce(
                F.round(F.sum(age_us) / F.count("*") / 1000.0, 6) + F.lit(0.0),
                F.lit(0.0),
            )
        ).alias("avg_age_ms"),
    )


def age_distribution(
    df: DataFrame, now: _dt.datetime, ts_col: str = "ts"
) -> DataFrame:
    """Histogram of row ages + min/max ts (hybrid/core.rs:758-820).

    Output: (bucket, n) — one row per non-empty bucket.
    """
    return (
        df.groupBy(age_bucket(ts_col, now).alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


def cluster_distribution(
    assigned: DataFrame, cluster_col: str = "cluster_id"
) -> DataFrame:
    """Per-cluster row counts (ivf/core.rs:536-550). Non-empty clusters only
    (join with the centroid list to report empties — see cluster_stats)."""
    return assigned.groupBy(cluster_col).agg(F.count("*").alias("n"))


def cluster_stats(
    assigned: DataFrame, n_clusters: int, cluster_col: str = "cluster_id"
) -> dict:
    """n_clusters, total, avg/variance of sizes, empty count
    (ivf/operations.rs:264-289; variance at :552-564 is population
    variance over ALL clusters including empty ones)."""
    sizes = {
        r[cluster_col]: r["n"] for r in cluster_distribution(assigned, cluster_col).collect()
    }
    all_sizes = [sizes.get(c, 0) for c in range(n_clusters)]
    total = sum(all_sizes)
    avg = total / n_clusters if n_clusters else 0.0
    var = (
        sum((s - avg) ** 2 for s in all_sizes) / n_clusters if n_clusters else 0.0
    )
    return {
        "n_clusters": n_clusters,
        "total_vectors": total,
        "avg_cluster_size": avg,
        "size_variance": var,
        "empty_clusters": sum(1 for s in all_sizes if s == 0),
    }


def percentile_stats(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    percentiles: tuple[float, ...] = (0.5, 0.99),
    approx: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Percentiles + count + mean per group
    (search_integration.rs:491-552 computes p50/p99 by sorting).

    Exact mode (`percentile`) matches the reference's sorted definition
    as a distributed aggregate, but buffers each group's values — fine
    for metrics tables, wrong for 100 TB facts.  ``approx=True``
    switches to `percentile_approx` (t-digest-style sketch, bounded
    memory, rank error <= 1/accuracy) — the scale path; the two agree
    within sketch tolerance (tests/test_scoring_stats.py)."""
    aggs = [F.count("*").alias("n"), F.avg(value_col).alias("mean")]
    fn = F.percentile_approx if approx else F.percentile
    for p in percentiles:
        name = f"p{int(p * 100)}"
        args = (value_col, F.lit(p), F.lit(accuracy)) if approx else (value_col, F.lit(p))
        aggs.append(fn(*args).alias(name))
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    out_col: str = "session_id",
) -> DataFrame:
    """Gaps-and-islands sessionization: input columns + ``out_col``,
    where a new session starts at a user's first event or whenever the
    gap from their previous event exceeds ``gap_seconds`` — the
    standard event-analytics primitive (and the batch twin of
    Structured Streaming's session_window, which streaming/ingest.py
    can apply to the same event stream).

    Determinism: the within-user order is (ts, tiebreak_col), and all
    time arithmetic is integer MICROSECONDS (unix_micros here,
    epoch_us in the SQL replay) — second-truncating functions disagree
    across engines on sub-second gaps that straddle a second boundary.

    Scale shape: ONE exchange keyed on the user column; both window
    passes (lag, running sum) and session_stats' rollup (which groups
    on (user, session) precisely so ClusteredDistribution is satisfied
    by the window's hashpartitioning(user)) reuse that partitioning —
    plan-asserted in tests/test_plan_shapes.py.  Session ids are
    '<user>#<k>' with k dense per user — stable under corpus growth on
    the left of any later event, exactly like the ledger/capping
    id-hash contracts.  NULL users fold to the literal 'null' (they
    sessionize together — the window puts all NULL keys in one
    partition); note the SQL-replay contract assumes non-null users
    and timestamps (engines disagree on NULL concat and NULL ordering).
    """
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    ts_type = events.schema[ts_col].dataType
    if not isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
        # a bigint-nanos delivery (the nanosAsLong parquet shape) would
        # otherwise cast as epoch SECONDS and silently make every event
        # its own session
        raise TypeError(
            f"{ts_col} must be a timestamp column, got {ts_type.simpleString()}"
        )
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    # cast: parquet files may carry TIMESTAMP_NTZ, which unix_micros
    # rejects; with the UTC session default the reinterpretation is
    # byte-stable
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    brk = F.when(
        F.lag(us).over(w).isNull()
        | ((us - F.lag(us).over(w)) > gap_seconds * 1_000_000),
        1,
    ).otherwise(0)
    return events.withColumn(
        out_col,
        F.concat_ws(
            "#",
            F.coalesce(F.col(user_col).cast("string"), F.lit("null")),
            F.sum(brk)
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("string"),
        ),
    )


def session_stats(
    sessionized: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    session_col: str = "session_id",
) -> DataFrame:
    """Per-session rollup over a sessionize() frame: event count,
    duration in exact microseconds, and the value sum.  Grouping on
    (user, session) — NOT session alone — lets the planner satisfy the
    aggregate's distribution with sessionize()'s existing
    hashpartitioning(user) exchange: one shuffle for the whole
    window+rollup pipeline instead of two (and user_col is a group key,
    not an order-dependent first())."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return (
        sessionized.groupBy(user_col, session_col)
        .agg(
            F.count("*").cast("long").alias("n_events"),
            (F.max(us) - F.min(us)).cast("long").alias("duration_us"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            session_col, user_col, "n_events", "duration_us", "sum_value"
        )
    )
