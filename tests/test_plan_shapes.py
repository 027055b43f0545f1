"""Physical-plan regression guards: the scale shapes PERFORMANCE.md
claims are asserted here so a refactor can't silently reintroduce a
scale-killer (unpushed filter, corpus explode, single-partition window,
unpruned probe scan, per-row Python UDF).
"""

import glob

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    from fabstir_vectordb_spark.functions.filters import compile_filter

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pred = compile_filter({"n_chars": {"$gt": 100}}, docs.schema, metadata_col=None)
    plan = _executed(docs.filter(pred).select("doc_id"))
    assert "PushedFilters: [" in plan
    assert "n_chars" in plan.split("PushedFilters")[1][:200]
    # column pruning: the scan must not read the text column
    read_schema = plan.split("ReadSchema")[1][:250]
    assert "text" not in read_schema


def test_probe_scan_prunes_partitions(spark, tmp_path, embeddings):
    from fabstir_vectordb_spark.operators.ivf import IVFIndex, write_clustered

    emb = embeddings.limit(300)
    idx = IVFIndex.fit(emb, n_clusters=4, seed=7,
                       id_col="vec_id", vector_col="embedding")
    path = str(tmp_path / "clustered")
    write_clustered(emb, idx, path)
    loaded = spark.read.parquet(path)
    plan = _executed(loaded.filter(F.col("cluster_id").isin([0, 1])))
    assert "PartitionFilters" in plan
    assert "cluster_id" in plan.split("PartitionFilters")[1][:200]


def test_boilerplate_removal_has_no_corpus_explode(spark):
    from fabstir_vectordb_spark.operators.dedup import remove_boilerplate_lines

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _optimized(remove_boilerplate_lines(docs, 50))
    # the ONLY Generate (explode) belongs to the hot-line aggregation
    # subtree feeding the broadcast; the removal projection is a HOF
    # filter over the split array
    assert plan.count("Generate") == 1
    assert "Join" in plan  # the single-row broadcast cross join


def test_pack_sequences_has_no_global_window(spark):
    from fabstir_vectordb_spark.operators.sampling import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _executed(pack_sequences(docs, 128, id_col="doc_id"))
    # the window must be keyed on the physical partition id, never a
    # single-partition global sort
    assert "Window" in plan
    window_section = plan.split("Window")[1]
    assert "__pid" in window_section[:400]
    assert "Exchange SinglePartition" not in plan


def test_no_row_at_a_time_python_udfs_anywhere():
    # BatchEvalPython (per-row Python UDF) must never appear; every
    # Python kernel is Arrow-batched (mapInPandas / applyInPandas).
    # Source-level guard: F.udf is not used in the package.
    bad = []
    for path in glob.glob("fabstir_vectordb_spark/**/*.py", recursive=True):
        src = open(path).read()
        if "F.udf(" in src or "functions.udf(" in src or "@udf" in src:
            bad.append(path)
    assert not bad, f"row-at-a-time UDFs found in {bad}"


def test_bm25_postings_build_no_redundant_exchange(spark):
    from fabstir_vectordb_spark.operators.keyword import build_postings

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(8)
    plan = _executed(build_postings(docs))
    # already-parallel input: the conditional re-spread must not fire,
    # so the only exchanges are the aggregation's own
    assert plan.count("Exchange") <= 2


def test_hnsw_graph_scan_prunes(spark, tmp_path, embeddings):
    from fabstir_vectordb_spark.operators.hnsw import (
        HNSWIndex,
        read_graph,
        write_graph,
    )

    idx = HNSWIndex(M=8, M0=16, ef_construction=32, num_graphs=4,
                    id_col="vec_id", vector_col="embedding")
    path = str(tmp_path / "graphs")
    write_graph(idx.build(embeddings.limit(200)), path)
    loaded = read_graph(spark, path)
    plan = _executed(loaded.filter(F.col("graph_id") == 2))
    assert "PartitionFilters" in plan
    assert "graph_id" in plan.split("PartitionFilters")[1][:200]


def test_decontaminate_broadcasts_benchmark_and_never_shuffles_text(spark):
    """Decontamination's 100 TB shape: the eval set's n-gram hash set is
    the broadcast side, corpus n-grams are map-only projections, and no
    Exchange in the plan carries the raw text column."""
    from fabstir_vectordb_spark.operators.dedup import decontaminate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    plan = _executed(decontaminate(docs, bench, n=8))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    # only int64 hashes shuffle: no Exchange subtree outputs `text`
    for seg in plan.split("Exchange")[1:]:
        assert "text#" not in seg.split("\n")[0]


def test_sql_ann_rewrite_prunes_and_delegates(spark, tmp_path, embeddings, monkeypatch):
    """The SQL-surface rewrite's two contracts as plan assertions: a
    matching statement over a registered persisted layout reaches the
    scan with PartitionFilters; a non-matching statement's plan is the
    ordinary full-scan sort (delegation).  The rewritten search ranks its
    one query in a pass collected through ``toArrow`` and returns a local
    relation, so the plan handed to ``toArrow`` is the scan checked."""
    from fabstir_vectordb_spark.functions.sqlfns import register_sql_functions
    from fabstir_vectordb_spark.operators.ivf import IVFIndex, write_clustered
    from fabstir_vectordb_spark.plans.sql_ann import AnnCatalog, ann_sql

    register_sql_functions(spark)
    emb = embeddings.limit(300)
    idx = IVFIndex.fit(emb, n_clusters=4, seed=7,
                       id_col="vec_id", vector_col="embedding")
    path = str(tmp_path / "sqlann_clustered")
    write_clustered(emb, idx, path)
    disk = spark.read.parquet(path)
    cat = AnnCatalog()
    cat.register("sqlann_view", idx, disk, n_rows=300)
    emb.createOrReplaceTempView("sqlann_view")
    qv = emb.limit(1).collect()[0]["embedding"]
    qsql = "array(" + ", ".join(f"CAST({float(x)} AS FLOAT)" for x in qv) + ")"
    stmt = (f"SELECT vec_id, vec_l2(embedding, {qsql}) AS distance "
            f"FROM sqlann_view ORDER BY distance LIMIT 5")
    pulled = []
    to_arrow = type(emb).toArrow

    def recorded(df):
        pulled.append(_executed(df))
        return to_arrow(df)

    monkeypatch.setattr(type(emb), "toArrow", recorded)
    res = ann_sql(spark, stmt, cat, n_probe=1)
    assert "LocalTableScan" in _executed(res)
    [plan] = [p for p in pulled if "InArrow" in p]
    assert "PartitionFilters" in plan
    assert "cluster_id" in plan.split("PartitionFilters")[1][:200]
    # delegation: un-rewritable SQL runs verbatim
    plain = _executed(ann_sql(spark, "SELECT count(*) AS n FROM sqlann_view", cat))
    assert "PartitionFilters: [isnotnull" not in plain


def test_cap_per_group_single_keyed_exchange(spark):
    from fabstir_vectordb_spark.operators.sampling import cap_per_group

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _executed(cap_per_group(docs.select("doc_id", "source"), 10))
    # one hash exchange on the group key; never a global sort
    assert plan.count("Exchange hashpartitioning") == 1
    assert "source" in plan.split("Exchange hashpartitioning")[1][:120]
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan


def test_bigram_lm_no_global_window_no_python(spark):
    from fabstir_vectordb_spark.operators.lm import bigram_lm_score

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _executed(bigram_lm_score(docs))
    # counts come from hash aggregation (map-side partial), not windows
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    # the only single-partition exchange is the scalar vocab-size
    # aggregate (its input is already partial-aggregated per partition)
    assert plan.count("Exchange SinglePartition") == 1
    # partial aggregation bounds the shuffled volume to distinct n-grams
    assert "partial_count" in plan


def test_quality_features_stay_jvm_side(spark):
    from fabstir_vectordb_spark.operators.quality_model import quality_features

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _executed(quality_features(docs, dim=8))
    assert "BatchEvalPython" not in plan
    assert "Exchange SinglePartition" not in plan


def test_duplicated_spans_text_never_shuffles(spark):
    from fabstir_vectordb_spark.operators.dedup import duplicated_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _executed(duplicated_spans(docs, span_tokens=8))
    assert "BatchEvalPython" not in plan
    assert "Exchange SinglePartition" not in plan
    # only (id, pos, h) / (id, s, e) rows cross exchanges — the token
    # arrays and raw text stay inside their scan-side stage
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        head = seg[:200]
        assert "text" not in head and "__t" not in head


def test_mix_by_source_broadcasts_budgets_no_corpus_shuffle(spark):
    from fabstir_vectordb_spark.operators.sampling import mix_by_source

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(8)
    plan = _executed(mix_by_source(docs, {"src0": 0.5, "src1": 0.5}, 1000))
    # the per-source budget table is the broadcast side; the corpus
    # itself never hash-exchanges for the join
    assert "BroadcastHashJoin" in plan
    # exchanges exist only inside the totals-aggregation subtree (tiny,
    # keyed on source), never carrying the text column
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        assert "text#" not in seg.split("\n")[0]
    assert "BatchEvalPython" not in plan


def test_funnel_gate_stage_no_text_shuffle_when_already_parallel(spark):
    """The funnel's gate stage must NOT repartition an already-parallel
    corpus: pre-fix, curate_corpus unconditionally repartitioned the full
    (id, text, __toks) projection — one avoidable raw-text shuffle per
    funnel run at 100 TB.  Post-fix it goes through dedup._parallelize,
    which is a no-op when scan parallelism matches the cluster's, so no
    Exchange in the whole minimal funnel may output the tokenized-text
    column."""
    from fabstir_vectordb_spark.pipelines import curate_corpus

    par = spark.sparkContext.defaultParallelism
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(par)
    )
    out = curate_corpus(
        docs,
        boilerplate_min_doc_freq=None,
        near_dup_threshold=None,
        lang=None,
        cache_stages=False,
    )
    plan = _executed(out)
    for seg in plan.split("Exchange ")[1:]:
        head = seg.split("\n")[0]
        assert "__toks" not in head and "text#" not in head, head


def test_dsir_score_broadcasts_ratios_no_text_shuffle(spark):
    """DSIR's 100 TB contract (operators/dsir.py): the ratio table
    (num_buckets rows) is the broadcast side of the scoring join, and
    no exchange ever carries the raw text — the only hash exchanges key
    on the derived bucket (fit) or the doc id (per-doc mean)."""
    from fabstir_vectordb_spark.operators.dsir import (
        dsir_score, fit_dsir_ratios,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(8)
    ratios = fit_dsir_ratios(
        docs.filter(F.pmod("doc_id", 17) == 3), docs, n=2, num_buckets=128
    )
    plan = _executed(dsir_score(docs, ratios, n=2, num_buckets=128))
    assert "BroadcastHashJoin" in plan
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        assert "text#" not in seg.split("\n")[0]
    assert "BatchEvalPython" not in plan


def test_rag_search_broadcasts_hits_after_chunk_search(spark):
    """rag_search's post-search work must broadcast the Q x k_chunks
    hit set for the chunk->doc attribution — without the hint the
    planner has no size statistics for the mapInPandas output and
    sort-merge-shuffles the whole chunk table per query batch."""
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.operators.ivf import IVFIndex
    from fabstir_vectordb_spark.pipelines import rag_ingest, rag_search

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ing = rag_ingest(docs, chunk_tokens=16, overlap_tokens=4,
                     embedding_dim=16)
    idx = IVFIndex.fit(ing, n_clusters=4, seed=1,
                       id_col="chunk_id", vector_col="embedding")
    assigned = idx.assign(ing)
    q = ing.limit(2).select(
        F.col("chunk_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    plan = _executed(rag_search(idx, assigned, q, k_docs=3, k_chunks=8,
                                n_probe=4))
    assert "BroadcastHashJoin" in plan
    # no exchange after the search may carry the chunk text
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        assert "chunk_text#" not in seg.split("\n")[0]


def test_phrase_search_never_shuffles_text(spark):
    """phrase_search's exchanges carry only slim keys — the postings
    join on term and the (query, doc, alignment) aggregate; the
    document text must never cross a shuffle."""
    from fabstir_vectordb_spark.operators.keyword import phrase_search

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ph = spark.createDataFrame(
        [("p0", "the quick brown")], "query_id string, phrase string"
    )
    plan = _executed(phrase_search(docs, ph, id_col="doc_id"))
    for seg in plan.split("Exchange")[1:]:
        assert "text#" not in seg.split("\n")[0]


def test_binary_encode_is_map_only(spark, embeddings):
    """Signature encoding is one Arrow map pass — any Exchange in the
    encode plan means the sketch build started shuffling the corpus."""
    from fabstir_vectordb_spark.operators.binary import BinarySketch

    sk = BinarySketch.fit(dim=64, bits=64)
    plan = _executed(sk.encode(embeddings.select("vec_id", "embedding")))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


def test_normalize_unicode_is_map_only(spark):
    """NFC normalization must stay a scan-shaped pass."""
    from fabstir_vectordb_spark.functions.text import normalize_unicode

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _executed(normalize_unicode(docs.select("doc_id", "text")))
    assert "Exchange" not in plan


def test_sessionize_single_user_exchange(spark):
    """sessionize + session_stats must plan exactly ONE exchange on the
    user key — the lag window, the running sum, AND the rollup all
    reuse it (the rollup groups on (user, session) precisely so
    hashpartitioning(user) satisfies its distribution; grouping on
    session alone regresses to a second full shuffle)."""
    from fabstir_vectordb_spark.operators.stats import (
        session_stats,
        sessionize,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = _executed(session_stats(sessionize(ev, gap_seconds=3600)))
    assert plan.count("Exchange hashpartitioning") == 1
    # column pruning: the raw event 'props' payload must not appear
    # ANYWHERE in the executed plan (not just in partition keys — a
    # vacuous key-only check would miss pruning regressions)
    assert "props#" not in plan


def test_repetition_signals_is_map_only(spark):
    """The A1.2 repetition-signal pass is one Arrow map — any Exchange
    means per-doc counting started shuffling the corpus."""
    from fabstir_vectordb_spark.operators.repetition import (
        repetition_signals,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _executed(repetition_signals(docs))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_asof_sql_rewrite_single_exchange_per_key(spark):
    """The ASOF JOIN statement rewrite must produce asof_join's
    single-window plan: exactly one hashpartitioning exchange on the
    join key and NO join operator anywhere (the whole point is that no
    inequality join exists in the plan)."""
    from fabstir_vectordb_spark.plans.sql_temporal import asof_sql

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev.filter(F.col("event_type") == "click").createOrReplaceTempView(
        "ps_clicks"
    )
    ev.filter(F.col("event_type") == "view").createOrReplaceTempView(
        "ps_views"
    )
    df = asof_sql(
        spark,
        """SELECT l.event_id, r.value AS v
           FROM ps_clicks l ASOF LEFT JOIN ps_views r
             ON l.user_id = r.user_id AND l.ts >= r.ts""",
    )
    plan = _executed(df)
    assert plan.count("Exchange hashpartitioning") == 1
    for join_op in ("SortMergeJoin", "BroadcastHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join_op not in plan, join_op


def test_range_sql_rewrite_no_nested_loop(spark):
    """The bucketed range rewrite must be an EQUALITY join on
    (key, bucket) — no nested-loop/cartesian operator (which is what
    a pure inequality join degenerates to without the equality key)."""
    from fabstir_vectordb_spark.plans.sql_temporal import range_sql

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev.createOrReplaceTempView("ps_pts")
    ev.groupBy("user_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    ).createOrReplaceTempView("ps_ivs")
    df = range_sql(
        spark,
        """SELECT p.event_id FROM ps_pts p JOIN ps_ivs i
           ON p.user_id = i.user_id AND p.ts BETWEEN i.s AND i.e""",
    )
    plan = _executed(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_chunked_asof_partitions_by_key_and_chunk(spark):
    """The hot-key escape hatch's pass-1 window must partition by
    (key, chunk) — per-chunk parallelism is the point; a plan whose
    pass-1 exchange is the bare key would serialize the hot key again.
    The cross-chunk patch may window on the bare key, but only over
    chunk-granularity rows (closings + probes, not the corpus)."""
    import re

    from fabstir_vectordb_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    df = asof_join(
        clicks, views, on="user_id", value_cols=["value"],
        chunk_seconds=86400,
    )
    plan = _executed(df)
    assert re.search(r"hashpartitioning\(user_id#\d+L?, __ck#\d+", plan), (
        "expected a (key, chunk) exchange for the pass-1 window"
    )


def test_chunked_asof_forward_nearest_partition_by_key_and_chunk(spark):
    """r9: the escape hatch in the other directions keeps the same
    pass-1 (key, chunk) exchange — the forward/nearest extension must
    not regress to a bare-key window."""
    import re

    from fabstir_vectordb_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    for direction in ("forward", "nearest"):
        df = asof_join(
            clicks, views, on="user_id", value_cols=["value"],
            chunk_seconds=86400, direction=direction,
        )
        plan = _executed(df)
        assert re.search(
            r"hashpartitioning\(user_id#\d+L?, __ck#\d+", plan
        ), f"expected a (key, chunk) exchange for {direction}"
        assert "CartesianProduct" not in plan


def test_stratified_joins_have_no_cartesian_legs(spark):
    """r9: the long_interval_buckets native legs are key-equality joins
    with the containment/overlap predicate as a filter — never
    nested-loop/cartesian plans."""
    from fabstir_vectordb_spark.operators.temporal import (
        interval_join,
        range_join,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    day = ev.groupBy(
        "user_id", F.floor(us / 86_400_000_000).cast("long").alias("d")
    ).agg(F.min("ts").alias("start"), F.max("ts").alias("end"))
    week = ev.groupBy(
        "user_id",
        F.floor(us / 604_800_000_000).cast("long").alias("w"),
    ).agg(F.min("ts").alias("rstart"), F.max("ts").alias("rend"))
    pts = ev.select("event_id", "user_id", "ts")
    plan = _executed(
        range_join(
            pts, day.withColumnRenamed("d", "dd"),
            on="user_id", start_col="start", end_col="end",
            bucket_seconds=3600, long_interval_buckets=2,
        )
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    plan = _executed(
        interval_join(
            day, week, on="user_id",
            bucket_seconds=3600, long_interval_buckets=1,
        )
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_with_repetition_signals_is_map_only(spark):
    """The passthrough signal variant (the streaming gate's kernel) must
    stay one Arrow map, like its project-only sibling."""
    from fabstir_vectordb_spark.operators.repetition import (
        with_repetition_signals,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _executed(with_repetition_signals(docs))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_interval_join_is_equality_join(spark):
    """The overlap join must be an EQUALITY join on (key, bucket) —
    never a nested-loop/cartesian plan (what a raw overlap predicate
    degenerates to without the bucket key)."""
    from fabstir_vectordb_spark.operators.temporal import interval_join

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    day = ev.groupBy(
        "user_id", F.floor(us / 86_400_000_000).cast("long").alias("d")
    ).agg(F.min("ts").alias("start"), F.max("ts").alias("end"))
    week = ev.groupBy(
        "user_id",
        F.floor(us / 604_800_000_000).cast("long").alias("w"),
    ).agg(F.min("ts").alias("rstart"), F.max("ts").alias("rend"))
    plan = _executed(interval_join(day, week, on="user_id", bucket_seconds=86_400))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_resample_grid_generates_from_span_frame(spark):
    """resample's dense grid must explode the ONE-ROW-PER-KEY span
    frame (min/max bucket), never the event rows — grid size is
    span/step, bounded by the time range.  The fill windows partition
    per key (no global single-partition window), and nothing
    degenerates to a nested-loop/cartesian plan."""
    from fabstir_vectordb_spark.operators.timeseries import resample

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = resample(
        ev, "user_id", "ts", 21600,
        aggs={"v": F.avg("value")}, fill={"v": ("locf", "interp")},
    )
    plan = _executed(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the only Generate explodes sequence(__mn, __mx) — the span frame
    assert plan.count("Generate") == 1
    assert "explode(sequence(__mn" in plan
    # fill windows are per-key, not a global window
    assert "windowspecdefinition(user_id" in plan
    # the binned aggregate partial-aggregates map-side (shuffle carries
    # buckets, not events)
    assert "partial_avg" in plan


def test_hist_measures_stay_in_codegen_two_exchanges(spark):
    """approx_pXX / exact_distinct (r10): the two-phase report is two
    exchanges (phase-1 groupBy + phase-2 Expand-agg) with no Python
    anywhere — the histogram partial is per-slot codegen sums and the
    estimate a column fold."""
    from fabstir_vectordb_spark.operators.olap import grouped_report

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rep = grouped_report(
        docs, ["lang", "source"],
        {
            "n": ("count", None),
            "p": ("approx_p90", "n_chars",
                  {"lo": 0.0, "hi": 4000.0, "buckets": 64}),
            "xd": ("exact_distinct", "source", {"cap": 1000}),
        },
        mode="rollup",
    )
    plan = _executed(rep)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert plan.count("Exchange") <= 2
    # Expand sits ABOVE the phase-1 aggregate (two-phase), not on the scan
    assert "Expand" in plan
    assert plan.index("Expand") < plan.index("FileScan")


def test_funnel_chunked_two_keyed_exchanges_no_udf(spark):
    """funnel(chunk_seconds=...): exchange 1 on (keys, chunk) — a hot
    key parallelizes across chunks — exchange 2 on keys alone for the
    stitch; no Python, no global sort."""
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.operators.funnel import funnel

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = funnel(
        ev, "user_id",
        [F.col("event_type") == "view", F.col("event_type") == "click"],
        window_seconds=3600, chunk_seconds=600,
    )
    plan = _executed(out)
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange") <= 2
    first = plan.split("Exchange")[1][:200]
    assert "__chunk" in first and "user_id" in first
    assert "Exchange SinglePartition" not in plan


def test_gapfill_sql_inherits_resample_span_grid(spark):
    """gapfill_sql's rewrite lands on resample's plan: the grid
    Generates from the one-row-per-key span frame (sequence over
    min/max buckets), never from event rows."""
    from fabstir_vectordb_spark.plans.sql_events import gapfill_sql

    spark.read.parquet(f"{SF_DIR}/events.parquet").createOrReplaceTempView(
        "ps_ev"
    )
    out = gapfill_sql(
        spark,
        """SELECT TIME_BUCKET_GAPFILL(21600 SECONDS, ts) AS b, user_id,
                  LOCF(AVG(value)) AS v
           FROM ps_ev GROUP BY b, user_id""",
    )
    plan = _executed(out)
    assert "Generate" in plan and "sequence(" in plan
    assert "BatchEvalPython" not in plan


def test_rolling_single_exchange_no_self_join(spark):
    """rolling (trailing time-window aggregates) must be ONE keyed
    hash exchange + a per-key sort — never a self-join, never a global
    sort — and all same-frame aggregates must collapse into a single
    Window node."""
    from fabstir_vectordb_spark.operators.timeseries import rolling

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = rolling(
        ev, "user_id", "ts",
        {"rn": ("count", None), "ra": ("mean", "value"),
         "rs": ("sum", "value"), "rlo": ("min", "value"),
         "rhi": ("max", "value")},
        window_seconds=21600,
    )
    plan = _executed(out)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Join" not in plan
    assert plan.count("Window") == 1, plan


def test_mg_frequent_items_pure_jvm_bounded_exchanges(spark):
    """The Misra-Gries path is pure Catalyst: no Python evaluation
    nodes anywhere, and a chunk partial build is the exact groupBy's
    exchange + the keyed window's — nothing proportional to the
    distinct-value set crosses the summary boundary (<= k structs per
    group by construction)."""
    from fabstir_vectordb_spark.operators.sketch import (
        freq_partials, merge_freq, top_from_freq,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "lang", "source"
    )
    parts = freq_partials(docs, ["lang"], "source", k=32)
    out = top_from_freq(merge_freq(parts, parts), top=5)
    plan = _executed(out)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" not in plan
    assert "Exchange SinglePartition" not in plan


def test_vector_kernels_cross_the_arrow_boundary(spark, embeddings, monkeypatch):
    """brute_force_knn, knn_bulk, IVF assign / search / search_bulk, PQ
    decode and the ADC searches, IVFPQ encode, both IVFPQ search_bulk
    plans (bounded, and the cogroup fallback above the query byte cap),
    binary encode and both Hamming search plans (bounded, raw and
    re-ranked, and the cogroup fallback), and the HNSW build, insert,
    compaction, mean routers and search_bulk run their Python kernels
    through mapInArrow / applyInArrow: a plan that slides back to the
    pandas boundary fails here.

    A bounded search returns a local relation: the Python pass it ran
    was collected through ``toArrow``, so the plan handed to ``toArrow``
    is the one checked."""
    import numpy as np

    import fabstir_vectordb_spark.operators.knn as knn_mod
    from fabstir_vectordb_spark.operators.binary import BinarySketch
    from fabstir_vectordb_spark.operators.hnsw import HNSWIndex
    from fabstir_vectordb_spark.operators.ivf import IVFIndex
    from fabstir_vectordb_spark.operators.ivfpq import IVFPQIndex
    from fabstir_vectordb_spark.operators.knn import brute_force_knn, knn_bulk
    from fabstir_vectordb_spark.operators.pq import ProductQuantizer

    pulled = []
    to_arrow = type(embeddings).toArrow

    def recorded(df):
        pulled.append(_executed(df))
        return to_arrow(df)

    monkeypatch.setattr(type(embeddings), "toArrow", recorded)

    def ran(df):
        """The plan of the Python pass behind ``df``: the one a bounded
        search collected while it was built, else ``df``'s own."""
        passes = [p for p in pulled if "InArrow" in p]
        pulled.clear()
        assert len(passes) <= 1
        if passes:
            assert "LocalTableScan" in _executed(df)
            return passes[0]
        return _executed(df)

    emb = embeddings.select("vec_id", "embedding")
    dim = len(emb.first()["embedding"])
    queries = emb.limit(4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vector")
    )
    rng = np.random.default_rng(0)
    ivf = IVFIndex(rng.normal(size=(4, dim)), "vec_id", "embedding")
    pq = ProductQuantizer(4, 8, dim, rng.normal(size=(4, 8, dim // 4)))
    ivfpq = IVFPQIndex(ivf, pq)
    codes = ivfpq.encode(emb)
    pulled.clear()
    plans = {
        "brute_force_knn": ran(brute_force_knn(
            emb, queries, 5, id_col="vec_id", vector_col="embedding"
        )),
        "knn_bulk": ran(knn_bulk(
            emb, queries, 5, id_col="vec_id", vector_col="embedding"
        )),
        "assign": ran(ivf.assign(emb)),
        "search": ran(ivf.search(ivf.assign(emb), queries, 5, n_probe=2)),
        "search_bulk": ran(ivf.search_bulk(ivf.assign(emb), queries, 5, n_probe=2)),
        "ivfpq_encode": ran(codes),
        "pq_decode": ran(pq.decode(codes)),
        "adc_knn": ran(pq.adc_knn(codes, queries, 5)),
        "adc_knn_bulk": ran(pq.adc_knn_bulk(codes, queries, 5)),
        "ivfpq_search_bulk": ran(ivfpq.search_bulk(codes, queries, 5, n_probe=2)),
        "ivfpq_search_bulk_rerank": ran(ivfpq.search_bulk(
            codes, queries, 5, n_probe=2, oversample=2, rerank_vectors=emb
        )),
    }
    sk = BinarySketch.fit(dim=dim, bits=64)
    sigs = sk.encode(emb)
    plans["binary_encode"] = ran(sigs)
    plans["hamming_knn"] = ran(sk.hamming_knn(sigs, queries, 5))
    plans["hamming_knn_rerank"] = ran(sk.hamming_knn(sigs, queries, 5, rerank_vectors=emb))
    # room for one of the four query vectors: the cogroup fallback
    with monkeypatch.context() as m:
        m.setattr(knn_mod, "_MAX_DRIVER_QUERY_BYTES", dim * 8)
        plans["ivfpq_search_bulk_fallback"] = ran(
            ivfpq.search_bulk(codes, queries, 5, n_probe=2)
        )
        plans["hamming_knn_fallback"] = ran(sk.hamming_knn(sigs, queries, 5))
    for name in ("ivfpq_search_bulk_fallback", "hamming_knn_fallback"):
        assert "FlatMapCoGroupsInArrow" in plans[name], name
    hnsw = HNSWIndex(M=4, M0=8, ef_construction=8, num_graphs=2,
                     id_col="vec_id", vector_col="embedding")
    graph = hnsw.build(
        emb.filter(F.col("vec_id") % 2 == 0).withColumn("dead", F.col("vec_id") % 3 == 0),
        deleted_col="dead",
    )
    plans["hnsw_build"] = ran(graph)
    plans["hnsw_insert"] = ran(hnsw.insert(graph, emb.filter(F.col("vec_id") % 2 == 1)))
    plans["hnsw_compact_graph"] = ran(hnsw.compact_graph(graph))
    plans["hnsw_graph_routers"] = ran(hnsw.graph_routers(graph))
    plans["hnsw_search_bulk"] = ran(hnsw.search_bulk(graph, queries, 5))
    # the bounded searches rank in the kernel: no (query, cluster) pair
    # join, no exchange before or after the pass
    assert "BroadcastHashJoin" not in plans["search"]
    for name in (
        "brute_force_knn", "knn_bulk", "search", "search_bulk", "ivfpq_search_bulk",
        "adc_knn", "hamming_knn", "binary_encode",
    ):
        assert "MapInArrow" in plans[name] and "Exchange" not in plans[name], name
    # HNSW grows graph g in partition g: one direct-partition-id exchange
    # under the mapInArrow pass, no grouping by graph id
    for name in ("hnsw_build", "hnsw_compact_graph"):
        plan = plans[name]
        assert "FlatMapGroupsInArrow" not in plan, name
        under = plan[plan.index("MapInArrow"):]
        assert "Exchange shufflepartitionidpassthrough(direct_shuffle_partition_id(graph_id" in under, name
    for name, plan in plans.items():
        assert "InArrow" in plan, name
        assert "MapInPandas" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name
        assert "FlatMapCoGroupsInPandas" not in plan, name


def test_dedup_kernels_cross_the_arrow_boundary(spark, embeddings):
    """The MinHash signature pass, simhash64_agg and both embedding
    near-dup paths run their Python kernels through mapInArrow /
    applyInArrow: a plan that slides back to the pandas boundary fails
    here.  The MinHash pass sits in the cached band table, whose plan
    the executed plan's in-memory scan prints."""
    import numpy as np

    from fabstir_vectordb_spark.operators import dedup as DD
    from fabstir_vectordb_spark.operators.ivf import IVFIndex

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = embeddings.select("vec_id", "embedding")
    dim = len(emb.first()["embedding"])
    one_cluster = IVFIndex(np.zeros((1, dim)), "vec_id", "embedding")
    plans = {
        "minhash_lsh_pairs": _executed(DD.minhash_lsh_pairs(docs, max_bucket_size=None)),
        "simhash64_agg": _executed(DD.simhash64_agg(docs)),
        "near_dup_brute": _executed(DD.embedding_near_dup(emb, method="brute")),
        "near_dup_cluster": _executed(
            DD.embedding_near_dup(emb, method="cluster", ivf_index=one_cluster)
        ),
    }
    for name in ("minhash_lsh_pairs", "simhash64_agg", "near_dup_brute"):
        assert "MapInArrow" in plans[name], name
    assert "FlatMapGroupsInArrow" in plans["near_dup_cluster"]
    for name, plan in plans.items():
        assert "Pandas" not in plan, name
