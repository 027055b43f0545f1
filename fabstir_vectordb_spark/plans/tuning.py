"""Query planning heuristics (SURVEY §4).

The reference hard-codes its optimizations; the two genuinely adaptive
pieces are reproduced here as planner functions:

  auto param tuning     src/hybrid/search_integration.rs:375-449
                        (n_probe / ef / candidate limit by dataset size
                        and k)
  small-data mode       src/hybrid/core.rs:262-269 (< threshold rows =>
                        no index, brute force)

plus the strategy choice this engine adds (brute / IVF / PQ+rerank),
which in Spark terms decides the *physical plan* for the similarity
join.  Everything else in §4 (pruning, lazy IO, caching, predicate
pushdown) is Catalyst/Parquet built-ins — deliberately not re-planned
here.
"""

from __future__ import annotations

from dataclasses import dataclass

# integer dtypes eligible for raw (numeric-epoch) tuning — the ONE
# definition lives with the operators, so the tuner can never snap a
# raw-unit median to the seconds grid while the join buckets raw
# (temporal imports tuning only lazily inside functions; no cycle)
from fabstir_vectordb_spark.operators.temporal import _INT_TYPES

# search_integration.rs:385-449 tiers (public repo)
_SMALL = 1_000
_MEDIUM = 100_000
_LARGE = 10_000_000


def tune_n_probe(dataset_size: int, k: int, n_clusters: int) -> int:
    """n_probe by dataset size and k — mirrors the reference's tiering:
    small datasets probe everything (exactness is cheap), large ones
    probe a slice that grows with k."""
    if dataset_size <= _SMALL:
        return n_clusters
    if dataset_size <= _MEDIUM:
        base = max(1, n_clusters // 4)
    elif dataset_size <= _LARGE:
        base = max(1, n_clusters // 8)
    else:
        base = max(1, n_clusters // 16)
    # more results wanted => widen the probe set (rs:427-434 scales ef with k)
    scale = 1 + (k // 50)
    return min(n_clusters, base * scale)


# Binary sign-bit tier boundary (operators/binary.py), from the
# measured scan series (PERFORMANCE.md "Binary scan series extended to
# 5M"): 20.2 ms/query at 2M vectors, 76.0 ms at 5M — the full Hamming
# scan crosses the reference's 58 ms warm point between 2M and 5M on
# the bench box, so 2M is the conservative per-executor linear-scan
# ceiling.  Scale-out note: the scan is embarrassingly parallel, so the
# CLUSTER ceiling is 2M x executors; this constant is per executor.
BINARY_SCAN_CEILING = 2_000_000


@dataclass
class BinaryPlan:
    """Binary sketch knob bundle (operators/binary.py BinarySketch) —
    the measured defaults encoded as a planner decision, the tune_pq
    pattern for the fourth tier."""

    bits: int
    oversample: int
    reason: str


def tune_binary(
    dim: int, k: int = 10, recall_target: float | None = None
) -> BinaryPlan:
    """Sketch geometry + rerank depth for the binary tier.

    bits: 4 sign bits per input dimension (the 256-bit-at-dim-64 smoke
    configuration that produced the measured series), rounded up to the
    32-bit word multiple BinarySketch requires and clamped to [64, 512]
    — below 64 the Hamming histogram is too coarse to rank, above 512
    the scan loses its 16x I/O advantage over raw floats.

    oversample (exact-L2 rerank depth, in units of k): 4 is the
    certified default (the hash-exact driver row); 8 recovers >= 0.8
    of the exact top-10 on clusterable data (pinned by
    tests/test_binary.py's recall floor) and is the smoke
    configuration; 16 is the conservative doubling for stricter
    targets — callers chasing >= 0.95 on hard distributions should
    measure with evaluate-recall style checks rather than trust a
    static knob (the sketch is data-independent, so recall depends
    entirely on the data's cluster structure)."""
    words = max(64, min(512, 4 * int(dim)))
    bits = ((words + 31) // 32) * 32
    if recall_target is None:
        ovr, why = 4, "certified default"
    elif recall_target <= 0.8:
        ovr, why = 8, "measured >=0.8 recall floor on clusterable data"
    else:
        ovr, why = 16, "conservative doubling; measure recall at target"
    return BinaryPlan(
        bits=bits, oversample=ovr,
        reason=f"4 bits/dim sign sketch; oversample {ovr}: {why}",
    )


# Range-join density crossover (operators/temporal.range_join vs the
# native equality-join + BETWEEN plan), from the measured series
# (PERFORMANCE.md "Bucketed range join vs Spark's native plan", rerun
# with `python tools/range_join_compare.py USERS PER_USER`):
# at 3,000 points/key the native plan still wins (0.7x), at 30,000 the
# bucketed plan wins 1.6x, and the gap grows with density (4.8x at
# 400,000) — native enumerates points_k x intervals_k candidate pairs
# per key (quadratic in per-key density), bucketed is ~linear.
RANGE_DENSITY_CROSSOVER = 3_000

# candidate bucket widths (1 min .. 1 day): the measured guidance is
# "bucket near the typical interval length"; a fixed grid keeps plan
# shapes predictable and avoids pathological widths from outlier medians
_BUCKET_GRID = (60, 300, 900, 3600, 14400, 86400)

# numeric-epoch (raw integer) time columns have no known unit, so the
# raw grid is the 1-2-5 decade ladder: wide enough for epoch seconds
# (10^0..10^5-scale spans) through epoch NANOS, whose spans run to
# 10^16 (a year is 3.15e16 ns — a ladder capped at 5e12 would snap a
# day-length nano interval to a bucket ~17x too small and replicate
# every row that much), same log-snap rule as the seconds grid
_RAW_GRID = tuple(
    m * 10**k for k in range(0, 17) for m in (1, 2, 5)
)



# an interval spanning more than this many buckets routes through the
# native stratification leg when the TUNER arms it (auto mode): the
# round-9 long-interval study measured a 175x replication collapse /
# 16.7x wall with per-row replication bounded here
LONG_TAIL_BUCKETS = 64


@dataclass
class RangePlan:
    """Physical-strategy decision for a point-in-interval join — the
    tune_binary -> BinarySketch contract for the temporal tier."""

    strategy: str  # "native" | "bucketed"
    bucket_seconds: int
    points_per_key: float
    median_interval_seconds: float
    reason: str
    # set (to LONG_TAIL_BUCKETS) when the measured p99 interval span
    # exceeds that many buckets — the long-tail datum's boundary; None
    # when the tail is benign and stratification would buy nothing
    long_interval_buckets: int | None = None


def tune_range(
    points,
    intervals,
    on: str | list[str],
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
) -> RangePlan:
    """Measure the two quantities the range-join decision depends on and
    encode the crossover study as a plan:

    - ``bucket_seconds``: the median interval length (percentile_approx
      over the intervals table), snapped to the nearest _BUCKET_GRID
      width in log space — too-small buckets replicate intervals,
      too-large ones inflate per-bucket candidate sets, and the
      measured sweet spot is "near the typical interval length"
      (operators/temporal.range_join docstring).
    - ``strategy``: "bucketed" when points-per-key exceeds
      RANGE_DENSITY_CROSSOVER (the measured boundary where the native
      plan's quadratic per-key pair enumeration starts losing),
      "native" below it.  Both strategies compute identical answers;
      this is purely a latency call.

    Cost: one aggregate job per side (count + approx_count_distinct
    (+ percentile_approx); partial aggregation, no wide shuffle) — a
    one-time planning cost like IVFIndex.fit, not per-query work.
    """
    import math

    from pyspark.sql import functions as F

    def _us(col):
        return F.unix_micros(F.col(col).cast("timestamp"))

    # numeric-epoch mode (all-integer time columns, mirroring
    # range_join's dtype rule): measure spans in the RAW unit and snap
    # to the 1-2-5 decade ladder — the seconds grid would be nonsense
    # for unknown units
    idt = dict(intervals.dtypes)
    raw = (
        dict(points.dtypes)[ts_col] in _INT_TYPES
        and idt[start_col] in _INT_TYPES
        and idt[end_col] in _INT_TYPES
    )
    if raw:
        span = (F.col(end_col) - F.col(start_col)).cast("double")
        grid, fallback = _RAW_GRID, 1.0
    else:
        span = (_us(end_col) - _us(start_col)) / 1e6
        grid, fallback = _BUCKET_GRID, 3600.0

    # multi-key: distinct count of the COMPOSITE key — counting only one
    # component would understate the key count and overstate density
    keys = [on] if isinstance(on, str) else list(on)
    key_expr = F.col(keys[0]) if len(keys) == 1 else F.struct(*keys)
    i = intervals.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(key_expr).alias("keys"),
        # median sizes the bucket; p99 arms the long-tail leg — one
        # sketch pass measures both
        F.percentile_approx(
            span, F.array(F.lit(0.5), F.lit(0.99)), F.lit(1000)
        ).alias("lens"),
    ).first()
    p = points.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(key_expr).alias("keys"),
    ).first()
    lens = i["lens"]
    med = float(lens[0]) if lens and lens[0] is not None else fallback
    p99 = float(lens[1]) if lens and lens[1] is not None else med
    bucket = min(
        grid,
        key=lambda b: abs(math.log(b) - math.log(max(med, 1.0))),
    )
    # arm the stratification only when the measured tail is truly
    # pathological: a p99 interval spanning more than LONG_TAIL_BUCKETS
    # buckets would replicate each such row that much (the year-long
    # "no expiry" shape); answers are identical either way, so this
    # only bounds replication
    long_tail = (
        LONG_TAIL_BUCKETS if p99 / max(bucket, 1) > LONG_TAIL_BUCKETS
        else None
    )
    tail_note = (
        f"; p99 interval {p99:.0f}s spans >{LONG_TAIL_BUCKETS} buckets "
        f"=> long-tail stratification armed at {LONG_TAIL_BUCKETS}"
        if long_tail
        else ""
    )
    ppk = p["n"] / max(p["keys"] or 0, 1)
    if p["n"] == 0 or i["n"] == 0:
        return RangePlan(
            "native", bucket, ppk, med,
            "degenerate input (an empty side): nothing to bucket",
        )
    if ppk <= RANGE_DENSITY_CROSSOVER:
        # the tail measurement still rides along: strategy is advisory
        # (range_join buckets in auto mode regardless), so a caller
        # that buckets anyway must still see the armed stratification
        return RangePlan(
            "native", bucket, ppk, med,
            f"{ppk:.0f} points/key <= crossover "
            f"{RANGE_DENSITY_CROSSOVER}: native pair enumeration is "
            "cheap and skips the bucket explode" + tail_note,
            long_interval_buckets=long_tail,
        )
    return RangePlan(
        "bucketed", bucket, ppk, med,
        f"{ppk:.0f} points/key > crossover {RANGE_DENSITY_CROSSOVER}: "
        "native per-key pair enumeration is quadratic; bucketed is "
        f"~linear (median interval {med:.0f}s => {bucket}s buckets)"
        + tail_note,
        long_interval_buckets=long_tail,
    )


def tune_overlap(
    left,
    right,
    left_cols: tuple[str, str],
    right_cols: tuple[str, str],
) -> tuple[int, int | None]:
    """(bucket_seconds, long_interval_buckets) for interval_join.

    Bucket width: the grid value nearest (in log space) the GEOMETRIC
    MEAN of the two sides' median interval lengths — the "bucket near
    the typical length" rule balanced so neither side over-replicates
    (a bucket sized to one side's short intervals would explode the
    other side's long ones).  The same sketch pass also measures each
    side's p99 span; when EITHER side's p99 exceeds LONG_TAIL_BUCKETS
    buckets, the second element arms the stratification (answers
    identical, replication bounded), else None.  One aggregate per
    side at plan time, same cost contract as tune_range."""
    import math

    from pyspark.sql import functions as F

    # numeric-epoch mode, mirroring interval_join's dtype rule
    raw = all(
        dict(df.dtypes)[c] in _INT_TYPES
        for df, cols in ((left, left_cols), (right, right_cols))
        for c in cols
    )

    def med_p99(df, s, e):
        if raw:
            span = (F.col(e) - F.col(s)).cast("double")
        else:
            span = (
                F.unix_micros(F.col(e).cast("timestamp"))
                - F.unix_micros(F.col(s).cast("timestamp"))
            ) / 1e6
        row = df.agg(
            F.percentile_approx(
                span, F.array(F.lit(0.5), F.lit(0.99)), F.lit(1000)
            ).alias("m")
        ).first()
        lens = row["m"]
        if lens is not None and lens[0] is not None:
            return float(lens[0]), float(lens[1])
        fb = 1.0 if raw else 3600.0
        return fb, fb

    lm, lp99 = med_p99(left, *left_cols)
    rm, rp99 = med_p99(right, *right_cols)
    target = math.sqrt(max(lm, 1.0) * max(rm, 1.0))
    grid = _RAW_GRID if raw else _BUCKET_GRID
    bucket = min(grid, key=lambda b: abs(math.log(b) - math.log(target)))
    long_tail = (
        LONG_TAIL_BUCKETS
        if max(lp99, rp99) / max(bucket, 1) > LONG_TAIL_BUCKETS
        else None
    )
    return bucket, long_tail


def tune_overlap_bucket(
    left,
    right,
    left_cols: tuple[str, str],
    right_cols: tuple[str, str],
) -> int:
    """Back-compat wrapper: tune_overlap's bucket width alone."""
    return tune_overlap(left, right, left_cols, right_cols)[0]


@dataclass
class SearchPlan:
    strategy: str  # "brute" | "ivf" | "pq" | "binary"
    n_probe: int | None = None
    oversample: int | None = None
    reason: str = ""
    pq: "PQPlan | None" = None  # code-geometry knobs when strategy == "pq"
    binary: "BinaryPlan | None" = None  # sketch knobs when strategy == "binary"


def plan_search(
    dataset_size: int,
    k: int,
    n_clusters: int | None,
    has_filter: bool = False,
    filter_selectivity: float | None = None,
    pq_available: bool = False,
    brute_force_threshold: int = 10_000,
    dim: int | None = None,
    recall_target: float | None = None,
    binary_available: bool = False,
) -> SearchPlan:
    """Pick the physical strategy for a similarity join.

    - tiny tables: exact scan — the reference's "HNSW-only/small-dataset
      mode" (hybrid/core.rs:262-269) generalized
    - untrained above the exact-scan comfort zone with a sketch on hand
      (``binary_available``): the binary sign-bit tier — zero-training,
      16x less scan I/O than floats; past BINARY_SCAN_CEILING per
      executor the plan still prefers it over a raw exact scan but the
      reason says to train IVF/IVFPQ (the measured archive path:
      17.6 ms/query at 5M vs binary's 76 ms)
    - selective metadata filter: pre-filtered exact scan (the filtered
      subset is small; pruning clusters first would only LOSE recall —
      this supersedes the reference's k*3 oversample post-filter)
    - otherwise IVF probe; PQ+rerank when memory pressure dominates
      (codes are M bytes/vector vs 4*dim).
    """
    selective = has_filter and (filter_selectivity or 1.0) <= 0.01
    if n_clusters is None or dataset_size < brute_force_threshold:
        if (
            binary_available
            and n_clusters is None
            and dataset_size >= brute_force_threshold
            # a highly selective filter beats the sketch: the exact scan
            # of the pre-filtered subset is both cheaper AND exact, so
            # the documented 'selective filter => exact scan' rule wins
            # over the approximate Hamming tier
            and not selective
        ):
            b = tune_binary(dim or 64, k, recall_target)
            over_ceiling = dataset_size > BINARY_SCAN_CEILING
            return SearchPlan(
                "binary",
                oversample=b.oversample,
                reason=(
                    "untrained + sketch available => zero-training "
                    "Hamming scan"
                    + (
                        "; ABOVE per-executor scan ceiling — train "
                        "IVF/IVFPQ for latency"
                        if over_ceiling
                        else ""
                    )
                ),
                binary=b,
            )
        return SearchPlan("brute", reason="below index threshold / untrained")
    if selective:
        return SearchPlan("brute", reason="selective filter => exact scan of subset")
    n_probe = tune_n_probe(dataset_size, k, n_clusters)
    if pq_available and dataset_size > _LARGE:
        # when the caller states a recall target (and the dim to plan
        # codes for), attach the measured knob bundle — tune_pq — so the
        # PQ tier's geometry isn't left at the low-recall defaults
        pq = (
            tune_pq(dim, recall_target=recall_target, n_clusters=n_clusters,
                    dataset_size=dataset_size)
            if dim is not None and recall_target is not None
            else None
        )
        return SearchPlan(
            "pq",
            n_probe=pq.n_probe if pq else n_probe,
            oversample=pq.oversample if pq else 4,
            reason="very large table => compressed codes + exact rerank",
            pq=pq,
        )
    return SearchPlan("ivf", n_probe=n_probe, reason="clustered probe")


@dataclass
class PQPlan:
    """IVFPQ knob bundle derived from a recall target — the measured
    knob-recovery guidance (PERFORMANCE.md "IVFPQ knob recovery at
    500k") encoded as DEFAULTS instead of documentation."""

    n_subspaces: int
    n_centroids: int
    n_probe: int
    oversample: int
    residual: bool
    reason: str
    # OPQ pre-rotation (operators/opq.py).  Defaulted for load
    # compatibility with pre-rotation saved plans (ivfpq.json).
    opq: bool = False


def _subspaces_for(dim: int, max_sub_dim: int) -> int:
    """Smallest subspace count whose per-subspace slice is <= max_sub_dim
    (n_subspaces must divide dim).  Falls back to dim (sub_dim 1) only
    for pathological dims with no divisor in range."""
    for sub in range(max_sub_dim, 0, -1):
        if dim % sub == 0:
            return dim // sub
    return dim


def tune_pq(
    dim: int,
    recall_target: float = 0.9,
    n_clusters: int = 16,
    train_rows: int | None = None,
    dataset_size: int | None = None,
) -> PQPlan:
    """(n_subspaces, n_centroids, n_probe, oversample, residual) for an
    IVFPQ index aiming at `recall_target` recall@10 on hostile
    (distance-concentrated / uniform) geometry — the worst case, so the
    plan is conservative on clusterable data.

    Encodes the round-5 knob-recovery study (PERFORMANCE.md, 500k
    uniform vectors, exact ground truth): the 8-subspace default
    bottoms out at 0.28-0.36 recall@10 on distance-concentrated data,
    while 16 subspaces (sub_dim 4 at dim 64) + 128 centroids/subspace +
    residual coding + probe n_clusters/2 + oversample 32 reaches 0.91
    on the same fixture.  bytes-per-code (n_subspaces) is the RECALL
    lever; probe/oversample are the per-query COST levers; residual
    coding (true IVFADC) tightens codebooks for free at fit time.

    `train_rows` (when known) caps n_centroids at what the PQ trainer
    can actually fit (ProductQuantizer.fit requires >= n_centroids
    samples).  `dataset_size` (when known) widens the probe set for
    small tables — same principle as tune_n_probe's small tier: below
    ~10k rows probing every cluster costs almost nothing and buys
    exactness, so a narrow probe there is all risk and no saving.
    """
    if not 0.0 < recall_target <= 1.0:
        raise ValueError(f"recall_target must be in (0, 1], got {recall_target}")
    # OPQ rides on every recall-seeking tier: the 500k study
    # (PERFORMANCE.md "OPQ rotation recall study") measured +0.20
    # recall@10 at the same code bytes on correlated data and a
    # verified no-op on uniform (fit's strict-improvement gate declines
    # the rotation), so the only cost is corpus-independent fit time.
    if recall_target >= 0.7:
        # fine codes: sub_dim <= 4 (the 0.36 -> 0.91 lever)
        n_subspaces = _subspaces_for(dim, 4)
        n_centroids = 128
        residual = True
        opq = True
        if recall_target >= 0.9:
            n_probe = max(1, n_clusters // 2)   # probe32/64 in the study
            oversample = 32
            reason = "high-recall tier: sub_dim<=4 + residual + OPQ + probe/2 + oversample 32 (measured 0.91 on uniform 500k; OPQ adds +0.20 on correlated)"
        else:
            n_probe = max(1, n_clusters // 4)   # probe16/64 tier
            oversample = 8
            reason = "mid-recall tier: sub_dim<=4 + residual + OPQ + probe/4 + oversample 8 (measured 0.71 on uniform 500k)"
    else:
        # throughput tier: coarse codes are fine when the target is
        # loose; skip OPQ to keep the fit cheap
        n_subspaces = _subspaces_for(dim, 8)
        n_centroids = 32
        residual = False
        opq = False
        n_probe = max(1, n_clusters // 8)
        oversample = 4
        reason = "throughput tier: coarse codes, narrow probe"
    if dataset_size is not None and dataset_size < _SMALL * 10:
        n_probe = n_clusters
    if train_rows is not None:
        # keep a power-of-two-ish cap the trainer can satisfy
        while n_centroids > max(2, train_rows):
            n_centroids //= 2
    return PQPlan(
        n_subspaces=n_subspaces, n_centroids=n_centroids,
        n_probe=min(n_probe, n_clusters), oversample=oversample,
        residual=residual, reason=reason, opq=opq,
    )


@dataclass
class HNSWPlan:
    """Routed-HNSW knob bundle derived from a recall target — the
    round-5/6 routed fan-out measurements (PERFORMANCE.md "routed
    fan-out" and "multi-assignment") encoded as DEFAULTS, the same
    guidance-into-code contract as PQPlan."""

    num_graphs: int
    probe_graphs: int | None  # None = full fan-out (the exactness default)
    assign_graphs: int
    ef: int
    reason: str


def tune_hnsw(
    dataset_size: int,
    k: int,
    recall_target: float = 0.9,
    target_graph_size: int = 4096,
) -> HNSWPlan:
    """(num_graphs, probe_graphs, assign_graphs, ef) for a
    partition-local HNSW tier aiming at ``recall_target`` recall@10.

    Encodes the measured routed fan-out studies (PERFORMANCE.md):
    full fan-out reached 0.985 recall on the ADVERSARIAL 500k fixture
    (the exactness-leaning default); router-pruned probing at
    R/G = 1/8 with single assignment lost boundary vectors (0.63 on
    hostile data), and multi-assignment (assign_graphs=2, the spill
    trick) recovered >= 0.9 at the same probe budget on clusterable
    data.  So: any target ABOVE 0.9 keeps the full fan-out — the pruned
    tier's evidence stops at 0.9, and a plan must never promise recall
    its measurement doesn't cover (routing is a throughput trade,
    never an exactness one); a target up to 0.9 prunes to G/8 WITH the
    2x spill that makes that budget safe; a loose target (< 0.7)
    halves the probe budget again.  ``ef`` floors at the
    measured realistic default (64) and never below 2k so the beam
    can hold the answer set.
    """
    if dataset_size < 1:
        raise ValueError(f"dataset_size must be >= 1, got {dataset_size}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 < recall_target <= 1.0:
        raise ValueError(f"recall_target must be in (0, 1], got {recall_target}")
    g = max(1, -(-dataset_size // max(target_graph_size, 1)))
    ef = max(64, 2 * k)
    if recall_target > 0.9:
        return HNSWPlan(
            num_graphs=g, probe_graphs=None, assign_graphs=1, ef=ef,
            reason="exactness tier: full fan-out (measured 0.985 on the adversarial 500k fixture); the pruned tier's evidence stops at 0.9, so any higher target escalates here",
        )
    if recall_target >= 0.7:
        return HNSWPlan(
            num_graphs=g, probe_graphs=max(1, g // 8), assign_graphs=2, ef=ef,
            reason="routed tier: probe G/8 with 2x spill (measured >= 0.9 at R/G = 1/8 with assign_graphs=2; 0.63 without the spill)",
        )
    return HNSWPlan(
        num_graphs=g, probe_graphs=max(1, g // 16), assign_graphs=2, ef=ef,
        reason="throughput tier: probe G/16 with 2x spill",
    )
