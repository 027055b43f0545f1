"""Sources (readers/writers) and planner-heuristic tests."""

import json

import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.plans.tuning import plan_search, tune_n_probe
from fabstir_vectordb_spark.sources import vectors as V


def test_read_write_parquet_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", [1.0, 2.0], None), ("b", [3.0, 4.0], '{"k": 1}')],
        "id string, vector array<float>, metadata string",
    )
    V.write_vectors(df, str(tmp_path / "t"))
    back = V.read_vectors(spark, str(tmp_path / "t"), expected_dim=2)
    assert back.count() == 2
    assert set(back.columns) >= {"id", "vector", "metadata", "ts", "deleted"}
    assert V.validate_dim_uniform(back) == 2


def test_read_json_vector_strings(spark, tmp_path):
    p = tmp_path / "in"
    p.mkdir()
    with open(p / "a.json", "w") as f:
        f.write(json.dumps({"id": "x", "vector": "[1.0, 2.0, 3.0]"}) + "\n")
    df = V.read_vectors(spark, str(p), fmt="json")
    row = df.collect()[0]
    assert row["vector"] == pytest.approx([1.0, 2.0, 3.0])
    assert row["deleted"] is False


def test_dim_validation_fails(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("b", [1.0, 2.0, 3.0])], "id string, vector array<float>"
    )
    V.write_vectors(df, str(tmp_path / "bad"))
    with pytest.raises(V.SchemaError):
        V.read_vectors(spark, str(tmp_path / "bad"), expected_dim=2)
    with pytest.raises(V.SchemaError):
        V.validate_dim_uniform(V.read_vectors(spark, str(tmp_path / "bad")))


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", [1.0], 0), ("b", [2.0], 1), ("c", [3.0], 1)],
        "id string, vector array<float>, cluster_id int",
    )
    V.write_vectors(df, str(tmp_path / "p"), partition_by=["cluster_id"])
    back = spark.read.parquet(str(tmp_path / "p"))
    pruned = back.filter(F.col("cluster_id") == 1)
    assert pruned.count() == 2
    # partition pruning is visible in the scan's partition filters
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "cluster_id" in plan


def test_metadata_json_roundtrip(spark):
    df = spark.createDataFrame(
        [("a", {"k": 1, "tag": "x"})], "id string, metadata struct<k:int,tag:string>"
    )
    as_json = V.metadata_as_json(df)
    assert isinstance(as_json.schema["metadata"].dataType.simpleString(), str)
    back = V.metadata_from_json(as_json, "k int, tag string")
    assert back.collect()[0]["metadata"]["k"] == 1


def test_tune_n_probe_tiers():
    assert tune_n_probe(500, 10, 256) == 256          # tiny => probe all
    assert tune_n_probe(50_000, 10, 256) == 64        # medium => quarter
    assert tune_n_probe(1_000_000, 10, 256) == 32     # large => eighth
    assert tune_n_probe(1_000_000, 100, 256) == 96    # big k widens probes
    assert tune_n_probe(50_000_000, 10, 256) == 16


def test_plan_search_strategies():
    assert plan_search(100, 10, None).strategy == "brute"
    assert plan_search(5_000, 10, 256).strategy == "brute"
    p = plan_search(1_000_000, 10, 256)
    assert p.strategy == "ivf" and p.n_probe == 32
    assert plan_search(
        1_000_000, 10, 256, has_filter=True, filter_selectivity=0.005
    ).strategy == "brute"
    assert plan_search(
        50_000_000, 10, 256, pq_available=True
    ).strategy == "pq"


def test_plan_search_pq_tier_consumes_tune_pq():
    from fabstir_vectordb_spark.plans.tuning import plan_search, tune_pq

    p = plan_search(
        20_000_000, 10, 256, pq_available=True, dim=64, recall_target=0.9
    )
    want = tune_pq(64, 0.9, 256, dataset_size=20_000_000)
    assert p.strategy == "pq" and p.pq == want
    assert p.n_probe == want.n_probe and p.oversample == want.oversample
    # without a stated target the legacy knobs stand
    p2 = plan_search(20_000_000, 10, 256, pq_available=True)
    assert p2.strategy == "pq" and p2.pq is None and p2.oversample == 4


def test_tune_hnsw_tiers():
    """The measured routed fan-out guidance as defaults: exactness
    keeps full fan-out, 0.9 prunes to G/8 WITH the 2x spill, loose
    halves the budget again; ef floors at the realistic default."""
    import pytest

    from fabstir_vectordb_spark.plans.tuning import tune_hnsw

    exact = tune_hnsw(500_000, 10, recall_target=0.99)
    assert exact.probe_graphs is None and exact.assign_graphs == 1
    assert exact.num_graphs == 123  # ceil(500k / 4096)

    # a target ABOVE the pruned tier's measured 0.9 must escalate to
    # full fan-out — never promise recall the measurement doesn't cover
    assert tune_hnsw(500_000, 10, recall_target=0.95).probe_graphs is None

    routed = tune_hnsw(500_000, 10, recall_target=0.9)
    assert routed.probe_graphs == 123 // 8 and routed.assign_graphs == 2

    loose = tune_hnsw(500_000, 10, recall_target=0.5)
    assert loose.probe_graphs == 123 // 16 and loose.assign_graphs == 2
    # probe budget monotone in the recall target
    assert loose.probe_graphs < routed.probe_graphs

    assert tune_hnsw(500_000, 200, recall_target=0.9).ef == 400  # 2k floor
    assert tune_hnsw(2_000, 10, recall_target=0.9).probe_graphs == 1

    for bad in (dict(dataset_size=0), dict(k=0), dict(recall_target=0.0),
                dict(recall_target=1.5)):
        kw = dict(dataset_size=500_000, k=10, recall_target=0.9)
        kw.update(bad)
        with pytest.raises(ValueError):
            tune_hnsw(**kw)


def test_tune_hnsw_plan_reaches_target_on_clusterable(spark):
    """Consumption: an index built with the 0.9-tier plan knobs reaches
    the target on clusterable data — the same fixture the guidance was
    measured on (tests/test_hnsw.py recovery study)."""
    import numpy as np
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.operators.hnsw import HNSWIndex
    from fabstir_vectordb_spark.operators.knn import brute_force_knn
    from fabstir_vectordb_spark.plans.tuning import tune_hnsw

    rng = np.random.RandomState(4)
    centers = rng.normal(0, 10, size=(8, 12))
    rows = [
        (i, (centers[i % 8] + rng.normal(0, 0.5, 12)).tolist())
        for i in range(1600)
    ]
    vec = spark.createDataFrame(rows, "id long, vector array<double>")
    plan = tune_hnsw(1600, 10, recall_target=0.9, target_graph_size=200)
    assert plan.num_graphs == 8 and plan.probe_graphs == 1
    h = HNSWIndex(M=8, M0=16, ef_construction=64,
                  num_graphs=plan.num_graphs, partitioner="kmeans",
                  assign_graphs=plan.assign_graphs)
    graph = h.build(vec).cache()
    q = vec.filter(F.col("id") % 80 == 3).select(
        F.col("id").alias("query_id"), F.col("vector").alias("vector")
    )
    truth = {}
    for r in brute_force_knn(vec, q, 10, id_col="id",
                             vector_col="vector").collect():
        truth.setdefault(r["query_id"], set()).add(r["id"])
    got = {}
    # the plan's OWN ef — the test must exercise the knobs it certifies
    for r in h.search_bulk(graph, q, 10, ef=plan.ef,
                           probe_graphs=plan.probe_graphs).collect():
        got.setdefault(r["query_id"], set()).add(r["id"])
    graph.unpersist()
    per = [len(got.get(kq, set()) & truth[kq]) / 10 for kq in truth]
    assert sum(per) / len(per) >= 0.9


def test_plan_search_binary_tier():
    from fabstir_vectordb_spark.plans.tuning import (
        BINARY_SCAN_CEILING,
        plan_search,
        tune_binary,
    )

    # untrained + sketch available above the exact-scan comfort zone
    # => binary, consuming tune_binary's knobs
    p = plan_search(500_000, 10, None, binary_available=True, dim=64)
    assert p.strategy == "binary"
    assert p.binary == tune_binary(64, 10)
    assert p.oversample == p.binary.oversample == 4
    # no sketch => the old brute answer stands
    assert plan_search(500_000, 10, None).strategy == "brute"
    # a trained index always wins over the sketch
    assert plan_search(500_000, 10, 256, binary_available=True).strategy == "ivf"
    # tiny tables stay brute even with a sketch
    assert plan_search(100, 10, None, binary_available=True).strategy == "brute"
    # above the per-executor ceiling the plan still prefers the sketch
    # over a raw exact scan but tells the caller to train
    big = plan_search(
        BINARY_SCAN_CEILING * 3, 10, None, binary_available=True, dim=64
    )
    assert big.strategy == "binary" and "train" in big.reason.lower()


def test_tune_binary_knobs():
    from fabstir_vectordb_spark.plans.tuning import tune_binary

    assert tune_binary(64).bits == 256        # the measured-series config
    assert tune_binary(32).bits == 128
    assert tune_binary(8).bits == 64          # floor
    assert tune_binary(1024).bits == 512      # cap
    assert tune_binary(64).bits % 32 == 0
    assert tune_binary(64).oversample == 4                        # certified
    assert tune_binary(64, recall_target=0.8).oversample == 8     # pinned floor
    assert tune_binary(64, recall_target=0.95).oversample == 16   # conservative


def test_binary_sketch_consumes_planner_default(spark):
    """hamming_knn/_bulk with oversample=None must equal the explicit
    tune_binary depth — the planner default is CONSUMED, not just
    documented."""
    import numpy as np
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.operators.binary import BinarySketch

    rng = np.random.RandomState(3)
    X = rng.normal(size=(200, 16))
    df = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(len(X))],
        "vec_id bigint, embedding array<double>",
    )
    sk = BinarySketch.fit(dim=16, bits=64, seed=5)
    sigs = sk.encode(df)
    qs = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    auto = sk.hamming_knn(sigs, qs, 5, rerank_vectors=df).collect()
    explicit = sk.hamming_knn(sigs, qs, 5, rerank_vectors=df, oversample=4).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, explicit))


def test_plan_search_selective_filter_beats_binary_tier():
    """Untrained + sketch + highly selective filter: the exact scan of
    the pre-filtered subset is cheaper AND exact, so it wins over the
    approximate Hamming tier (ADVICE r8 #1)."""
    p = plan_search(
        1_000_000, 10, None,
        has_filter=True, filter_selectivity=0.005,
        binary_available=True, dim=64,
    )
    assert p.strategy == "brute"
    # without the filter the sketch tier still takes the untrained case
    assert plan_search(
        1_000_000, 10, None, binary_available=True, dim=64
    ).strategy == "binary"


def test_tune_range_encodes_measured_crossover(spark):
    """tune_range reproduces the range_join_compare study: sparse keys
    (<= 3,000 points/key) plan native, dense keys plan bucketed, and
    the bucket snaps to the grid width nearest the median interval
    length (tune_binary's study-to-planner contract for the temporal
    tier)."""
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.plans.tuning import (
        RANGE_DENSITY_CROSSOVER,
        tune_range,
    )

    base = 1_700_000_000

    def mk(users, per_user, iv_len):
        pts = spark.range(users * per_user).select(
            F.col("id").alias("event_id"),
            (F.col("id") % users).alias("user_id"),
            F.timestamp_seconds(
                F.lit(base) + F.floor(F.col("id") / users) * 60
            ).alias("ts"),
        )
        ivs = spark.range(users * max(per_user // 15, 1)).select(
            F.col("id").alias("iv_id"),
            (F.col("id") % users).alias("user_id"),
            F.timestamp_seconds(
                F.lit(base) + F.floor(F.col("id") / users) * iv_len
            ).alias("start"),
            F.timestamp_seconds(
                F.lit(base) + (F.floor(F.col("id") / users) + 1) * iv_len - 60
            ).alias("end"),
        )
        return pts, ivs

    # the study's 200-user / 3,000-points-per-key row: native wins
    sparse = tune_range(*mk(40, 500, 900), on="user_id")
    assert sparse.strategy == "native"
    assert sparse.points_per_key <= RANGE_DENSITY_CROSSOVER
    # 15-min intervals (minus the open minute) snap to the 900 s bucket
    assert sparse.bucket_seconds == 900

    # the dense side of the crossover: bucketed
    dense = tune_range(*mk(2, 10_000, 900), on="user_id")
    assert dense.strategy == "bucketed"
    assert dense.points_per_key > RANGE_DENSITY_CROSSOVER

    # bucket snapping: ~1-minute intervals -> 60 s, ~4 h -> 14400 s
    assert tune_range(*mk(4, 64, 65), on="user_id").bucket_seconds == 60
    assert tune_range(*mk(4, 64, 16000), on="user_id").bucket_seconds == 14400

    # degenerate: empty intervals -> native, default-ish bucket, no crash
    pts, ivs = mk(4, 64, 900)
    empty = tune_range(pts, ivs.filter(F.lit(False)), on="user_id")
    assert empty.strategy == "native"


def test_range_join_auto_bucket_matches_explicit(spark):
    """range_join with bucket_seconds=None (auto via tune_range) must
    return exactly the explicit-bucket answer — the knob is latency
    only, never semantics."""
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.operators.temporal import range_join

    base = 1_700_000_000
    pts = spark.range(200).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 5).alias("user_id"),
        F.timestamp_seconds(F.lit(base) + F.col("id") * 37).alias("ts"),
    )
    ivs = spark.range(20).select(
        F.col("id").alias("iv_id"),
        (F.col("id") % 5).alias("user_id"),
        F.timestamp_seconds(F.lit(base) + F.col("id") * 300).alias("start"),
        F.timestamp_seconds(
            F.lit(base) + F.col("id") * 300 + 450
        ).alias("end"),
    )
    auto = sorted(
        (r["event_id"], r["iv_id"])
        for r in range_join(pts, ivs, on="user_id").collect()
    )
    explicit = sorted(
        (r["event_id"], r["iv_id"])
        for r in range_join(
            pts, ivs, on="user_id", bucket_seconds=3600
        ).collect()
    )
    assert auto == explicit and auto  # non-empty and identical


def test_tune_range_arms_long_tail_on_pathological_p99(spark):
    """Auto mode measures the p99 interval span alongside the median:
    a benign fixture leaves long_interval_buckets None; planting a few
    year-long 'no expiry' rows (>1% of the table so p99 sees them)
    arms it at LONG_TAIL_BUCKETS."""
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.plans.tuning import (
        LONG_TAIL_BUCKETS,
        tune_range,
        tune_overlap,
    )

    def mk(n_iv, length_s):
        base = F.lit(1_700_000_000_000_000)
        ivs = spark.range(n_iv).select(
            (F.col("id") % 20).alias("user_id"),
            F.timestamp_micros(base + F.col("id") * 1_000_000_000).alias("start"),
            F.timestamp_micros(
                base + F.col("id") * 1_000_000_000 + length_s * 1_000_000
            ).alias("end"),
        )
        pts = spark.range(4000).select(
            (F.col("id") % 20).alias("user_id"),
            F.timestamp_micros(base + F.col("id") * 500_000_000).alias("ts"),
        )
        return pts, ivs

    pts, benign = mk(400, 900)
    assert tune_range(pts, benign, "user_id").long_interval_buckets is None

    year = 365 * 86_400
    outliers = mk(8, year)[1]  # 8 of 408 rows > p99 threshold
    mixed = benign.unionByName(outliers)
    plan = tune_range(pts, mixed, "user_id")
    assert plan.long_interval_buckets == LONG_TAIL_BUCKETS
    assert "long-tail" in plan.reason

    # overlap tuner: same arming from EITHER side's p99
    b, tail = tune_overlap(
        mixed, benign, ("start", "end"), ("start", "end")
    )
    assert tail == LONG_TAIL_BUCKETS
    b2, tail2 = tune_overlap(
        benign, benign, ("start", "end"), ("start", "end")
    )
    assert tail2 is None and b2 == b  # bucket from medians, unchanged


def test_range_join_auto_mode_with_long_tail_matches_explicit(spark):
    """Auto-armed stratification returns exactly the rows the plain
    bucketed join returns on a fixture with year-long outliers."""
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.operators.temporal import range_join

    base = F.lit(1_700_000_000_000_000)
    ivs = spark.range(300).select(
        (F.col("id") % 10).alias("user_id"),
        F.col("id").alias("iv_id"),
        F.timestamp_micros(base + F.col("id") * 1_000_000_000).alias("start"),
        F.timestamp_micros(
            base + F.col("id") * 1_000_000_000
            + F.when(F.col("id") % 50 == 0, 365 * 86_400_000_000)
            .otherwise(900 * 1_000_000)
        ).alias("end"),
    )
    pts = spark.range(2000).select(
        (F.col("id") % 10).alias("user_id"),
        F.col("id").alias("event_id"),
        F.timestamp_micros(base + F.col("id") * 400_000_000).alias("ts"),
    )
    auto = range_join(pts, ivs, on="user_id")  # tuner decides both knobs
    plain = range_join(pts, ivs, on="user_id", bucket_seconds=900)
    key = lambda r: (r["event_id"], r["iv_id"])  # noqa: E731
    assert sorted(map(key, auto.collect())) == sorted(
        map(key, plain.collect())
    )
