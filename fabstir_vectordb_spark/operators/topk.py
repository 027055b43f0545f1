"""Top-k / merge / threshold operators.

Parity targets (reference):
  full-sort top-k          src/core/vector_ops.rs:12-22
  heap top-k               src/core/vector_ops.rs:180-201
  streaming top-k          src/core/vector_ops.rs:204-263
  merge + dedup (min dist) src/core/vector_ops.rs:24-32, src/core/types.rs:206-223
  hybrid merge             src/hybrid/core.rs:481-485
  weighted merge           src/hybrid/search_integration.rs:214-296
  score threshold          bindings/node/src/session.rs:287-293

Spark already implements the heap/streaming variants physically
(TakeOrderedAndProject / partial window aggregation); what this module
fixes is the SEMANTICS: per-query ranking with a deterministic
tie-break so results are stable across partitionings and engines.

Determinism contract: rank by (round(distance, 6), id).  Rounding first
means a ~1e-13 cross-engine summation difference can never flip an
ordering — equal-to-6-decimals distances fall through to the id
tie-break.  This is how every oracle comparison in tests/ and
__spark_entry__.py stays hash-stable.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ROUND_DECIMALS = 6

# wide enough for any finite double at any decimals this module rounds to
_WIDE = Context(prec=400)


def rounded(col: Column | str, decimals: int = ROUND_DECIMALS) -> Column:
    return F.round(F.col(col) if isinstance(col, str) else col, decimals)


def round_like_spark(x: float, decimals: int = ROUND_DECIMALS) -> float:
    """``rounded`` of one Python float, on the driver: Spark's ``round``
    of a double is HALF_UP of its shortest decimal string, so a driver
    sort by this key orders rows exactly as ``topk_per_query`` does."""
    if not math.isfinite(x):
        return x
    q = Decimal(repr(x)).quantize(Decimal(1).scaleb(-decimals), ROUND_HALF_UP, _WIDE)
    return float(q)


def _rounded_like_spark(d: np.ndarray) -> np.ndarray:
    """``round_like_spark`` of every value of ``d``, vectorized.

    ``np.round`` scales by 10^6, rounds half to even and scales back; it
    equals Spark's HALF_UP of the shortest decimal string except where the
    scaled value sits within floating error of a half (an exact tie, or a
    magnitude past 2^52 where every double is an integer): those few
    values, and the non-finite ones, go through ``round_like_spark``."""
    r = np.round(d, ROUND_DECIMALS)
    y = d * 10.0**ROUND_DECIMALS
    with np.errstate(invalid="ignore"):
        clear = np.abs(y - np.floor(y) - 0.5) > 1e-6 + np.abs(y) * 1e-15
    near = np.flatnonzero(~clear)
    if len(near):
        r[near] = [round_like_spark(float(x)) for x in d[near]]
    return r


def first_k_per_query(
    query: np.ndarray, distance: np.ndarray, keys: np.ndarray, k: int
) -> np.ndarray:
    """Positions of the first ``k`` rows of each ``query`` value by
    (round(distance, 6) as Spark rounds it, key) — the rows and order of
    ``topk_per_query`` as one sort, for a merge that runs in a kernel or
    on the driver.  The positions come ordered by (query, rounded
    distance, key); ``keys`` are ``_arrow.sort_keys`` of the ids."""
    order = np.lexsort((keys, _rounded_like_spark(np.asarray(distance, np.float64)), query))
    if len(order) == 0:
        return order
    q = query[order]
    pos = np.arange(len(q))
    first = np.maximum.accumulate(np.where(np.r_[True, q[1:] != q[:-1]], pos, 0))
    return order[pos - first < k]


def topk_per_query(
    df: DataFrame,
    k: int,
    query_col: str = "query_id",
    order_col: str = "distance",
    id_col: str = "id",
    ascending: bool = True,
    extra_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Keep the k best rows per query, ordered deterministically.

    Physical note: Window+row_number shuffles by query_col once; the
    upstream kNN kernel (operators/knn.py) has already reduced each
    partition to <= k candidates per query, so the shuffled volume is
    O(num_queries * num_partitions * k), not O(num_queries * N).
    """
    order = rounded(order_col)
    order = order.asc() if ascending else order.desc()
    tiebreaks = [F.col(id_col).asc()] + [F.col(c).asc() for c in (extra_tiebreak or [])]
    w = Window.partitionBy(query_col).orderBy(order, *tiebreaks)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def merge_dedup(
    *result_sets: DataFrame,
    query_col: str = "query_id",
    id_col: str = "id",
    distance_col: str = "distance",
) -> DataFrame:
    """Union result lists, keep min distance per (query, id).

    Mirrors SearchResult::dedup (types.rs:206-223): duplicate ids keep the
    best (smallest) distance.  Map-side partial min makes this a cheap
    shuffle at scale.
    """
    out = result_sets[0]
    for r in result_sets[1:]:
        out = out.unionByName(r, allowMissingColumns=True)
    keep = [c for c in out.columns if c not in (query_col, id_col, distance_col)]
    agg = [F.min(distance_col).alias(distance_col)] + [
        F.min_by(c, F.struct(rounded(distance_col), F.col(id_col))).alias(c) for c in keep
    ]
    return out.groupBy(query_col, id_col).agg(*agg)


def weighted_merge(
    results: DataFrame,
    strategy: str = "take_best",
    weight_col: str = "weight",
    score_col: str = "score",
    query_col: str = "query_id",
    id_col: str = "id",
) -> DataFrame:
    """Merge scored results from multiple sources (search_integration.rs:214-296).

    Input has one row per (query, id, source) with `score` and a per-source
    `weight`.  Strategies:
      take_best : max(score * weight)
      average   : avg(score)
      weighted  : sum(score * weight) / sum(weight)
    """
    weighted = F.col(score_col) * F.col(weight_col)
    if strategy == "take_best":
        agg = F.max(weighted)
    elif strategy == "average":
        agg = F.avg(F.col(score_col))
    elif strategy == "weighted":
        agg = F.sum(weighted) / F.sum(F.col(weight_col))
    else:
        raise ValueError(f"unknown merge strategy {strategy!r}")
    return results.groupBy(query_col, id_col).agg(agg.alias(score_col))
