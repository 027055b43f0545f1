"""Structured Streaming ingest + change events (SURVEY §2.9, additive).

The reference's streaming surface is stubbed (SSE returns an empty
stream, api/rest.rs:727-733; WebSocket 101-only, :735-738), but it
defines the event vocabulary Inserted/Updated/Deleted/Migrated
(src/client/rust.rs:72-88).  This module is the greenfield Spark design
the survey calls for: ingest as a streaming append to the vectors table,
the event feed as an output stream, and watermarked windowed aggregates
for monitoring — all standard Structured Streaming, no custom state
unless semantics demand it.

Scale notes: the ingest path is append-only (no per-record upsert
shuffle); dedup-on-ingest uses dropDuplicatesWithinWatermark on the id —
bounded state, exactly-once per watermark window.  foreachBatch gives
each micro-batch the full batch DataFrame API (cluster assignment,
partitioned write) without collecting anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# src/client/rust.rs:72-88
EVENT_TYPES = ("Inserted", "Updated", "Deleted", "Migrated")

VECTOR_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("vector", T.ArrayType(T.FloatType()), False),
        T.StructField("metadata", T.StringType(), True),  # JSON string on the wire
        T.StructField("ts", T.TimestampType(), False),
    ]
)


def read_vector_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "json",
    schema: T.StructType = VECTOR_STREAM_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source ingest stream of vector records."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def deduped_ingest(
    stream: DataFrame, watermark: str = "10 minutes", id_col: str = "id"
) -> DataFrame:
    """Drop duplicate ids within the watermark horizon — the streaming
    equivalent of the session's duplicate-id rejection
    (bindings/node/src/session.rs duplicate check) with bounded state."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )


def curate_stream(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "id",
    lang: str | None = "en",
    min_quality: float | None = 0.3,
    max_repetition: float = 0.2,
    token_bounds: tuple[int, int] = (10, 5000),
    dedup_watermark: str | None = "10 minutes",
    ts_col: str = "ts",
    gopher: bool | dict = False,
    gopher_repetition: bool | dict = False,
) -> DataFrame:
    """Streaming half of the curation funnel: apply the STATELESS gate
    signals (language id, quality score, intra-doc repetition, token
    bounds — pipelines.curate_corpus's gate stage, same thresholds,
    same column expressions) to a document stream at ingest time,
    optionally preceded by watermarked exact-id dedup (bounded state).

    Gating at ingest is the standard split of the funnel for a
    continuously-arriving corpus: per-document signals are pure column
    expressions (no state, no shuffle — they stream at line rate and
    whole-stage-codegen), while the corpus-level stages (near-dup,
    capping, mixing, LM, DSIR) need corpus totals and stay batch over
    the accumulated survivor table.  Emits the same audit columns the
    batch gate certifies (lang/quality/n_tokens/rep_3gram + passed), so
    a dropped document is explainable from the stream itself.

    ``gopher_repetition`` (True or a thresholds dict overriding
    operators/repetition.GOPHER_REPETITION_THRESHOLDS): also gate on the
    Gopher A1.2 repetition-signal family — the signals are a stateless
    Arrow map (plan-guarded map-only), so unlike the batch funnel's
    join-back stage they attach inline via with_repetition_signals and
    stream at ingest rate.  Signal columns ride along for auditability,
    exactly like the A1.1 bundle.

    No reference counterpart (streaming surface stubbed there);
    extension-axis, same contract as the batch gate stage at
    pipelines.py (certified via corpus_filter)."""
    # the ONE definition of the gate signals + verdict, shared with the
    # batch funnel so the two surfaces cannot silently diverge
    from functools import reduce

    from fabstir_vectordb_spark.functions import text as X
    from fabstir_vectordb_spark.operators.repetition import (
        GOPHER_REPETITION_THRESHOLDS,
        with_repetition_signals,
    )
    from fabstir_vectordb_spark.pipelines import (
        gate_predicate,
        gate_signal_columns,
    )

    reserved = {"lang", "quality", "n_tokens", "rep_3gram", "passed", "__toks"}
    if gopher:
        reserved = reserved | {"gopher"}
    rep_thresholds: dict[str, float] = {}
    if gopher_repetition:
        rep_thresholds = dict(GOPHER_REPETITION_THRESHOLDS)
        if isinstance(gopher_repetition, dict):
            rep_thresholds.update(gopher_repetition)
        reserved = reserved | set(GOPHER_REPETITION_THRESHOLDS)
    clash = reserved & set(stream.columns)
    if clash:
        raise ValueError(
            f"curate_stream emits columns {sorted(clash)} that the input "
            "stream already carries — rename or drop them first"
        )
    if dedup_watermark is not None:
        stream = stream.withWatermark(
            ts_col, dedup_watermark
        ).dropDuplicatesWithinWatermark([id_col])
    if rep_thresholds:
        stream = with_repetition_signals(stream, text_col=text_col)
    toks = X.whitespace_tokens(text_col)
    sig = stream.withColumn("__toks", toks).select(
        "*", *gate_signal_columns(text_col, "__toks", gopher=gopher)
    ).drop("__toks")
    verdict = gate_predicate(
        token_bounds, max_repetition, lang, min_quality, gopher=gopher
    )
    if rep_thresholds:
        # same drop rule as pipelines.curate_corpus's gopher_repetition
        # stage: every signal at or under its threshold
        verdict = verdict & reduce(
            lambda a, b: a & b,
            [F.col(c) <= t for c, t in rep_thresholds.items()],
        )
    return sig.withColumn("passed", verdict)


def as_change_events(stream: DataFrame, event_type: str = "Inserted") -> DataFrame:
    """Shape an ingest stream into the reference's event feed
    (client/rust.rs:72-88): (event_type, vector_id, ts)."""
    if event_type not in EVENT_TYPES:
        raise ValueError(f"unknown event type {event_type!r}; one of {EVENT_TYPES}")
    return stream.select(
        F.lit(event_type).alias("event_type"),
        F.col("id").alias("vector_id"),
        F.col("ts"),
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling/sliding-window counts per event type — the
    monitoring aggregate the reference's stats endpoints fake
    (api/rest.rs:679-725 return zeros).  Late rows beyond the watermark
    are dropped; state is bounded by watermark/window."""
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n",
        )
    )


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming twin of operators/stats.sessionize + session_stats:
    per-session rollups over a live event stream via
    ``session_window`` — Spark's native merging-session state, so
    sessions spanning micro-batches merge correctly and state is
    bounded by the watermark (a session closes, emits, and its state
    drops once the watermark passes its end).

    Boundary parity with the batch operator: batch breaks a session on
    gap STRICTLY GREATER than ``gap_seconds`` (an exactly-gap-sized
    pause stays in-session), and ``session_window``'s merge is
    INCLUSIVE at the window edge (an event at exactly
    ``prev + gap`` merges; +1 microsecond breaks — probed empirically,
    pinned by tests/test_streaming.py's boundary test), so the raw gap
    gives event-for-event agreement at every boundary — certified
    stream≡batch on the same fixture in tests/test_streaming.py.

    Output, one row per closed session (plus the in-flight ones under
    complete/update mode): (user, session_start, n_events, duration_us,
    sum_value) — the session_stats rollup keyed by (user, start) rather
    than the batch dense '<user>#<k>' index, which needs full history
    and has no streaming meaning.  duration_us is exact integer
    microseconds (max - min event time), NOT the padded window span
    (session_window.end includes the trailing gap).

    Scale shape: one shuffle keyed (user, session-window); the
    watermark bounds state to open sessions only — at any instant
    that's O(active users), independent of stream length."""
    gap = f"{int(gap_seconds) * 1_000_000} microseconds"
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap).alias("w"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            (F.max(us) - F.min(us)).cast("long").alias("duration_us"),
            F.sum(value_col).alias("sum_value"),
            F.min(us).alias("start_us"),
        )
        .select(
            user_col,
            F.col("start_us").alias("session_start_us"),
            "n_events",
            "duration_us",
            "sum_value",
        )
    )


def write_vectors_stream(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    partition_assigner=None,
    trigger_available_now: bool = True,
):
    """Append the ingest stream to the vectors table via foreachBatch.

    `partition_assigner` (e.g. a trained IVFIndex.assign) runs per
    micro-batch so new rows land in the right cluster partition — the
    streaming version of the session's routed insert
    (src/hybrid/core.rs:357-417, where routing is by age; here routing is
    by cluster because recency is a query-time predicate in this engine).
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df
        if partition_assigner is not None:
            out = partition_assigner(batch_df)
            out.write.mode("append").partitionBy("cluster_id").parquet(table_path)
        else:
            out.write.mode("append").parquet(table_path)

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _temporal_enrich_stream(
    stream: DataFrame,
    checkpoint_path: str,
    sink,
    batch_fn,
    trigger_available_now: bool,
):
    """Shared foreachBatch plumbing for the three temporal enrichment
    wrappers: apply ``batch_fn`` to each micro-batch, hand the result
    to ``sink(enriched_df, batch_id)``."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        sink(batch_fn(batch_df), batch_id)

    writer = (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def asof_enrich_stream(
    stream: DataFrame,
    right: DataFrame,
    checkpoint_path: str,
    sink,
    trigger_available_now: bool = True,
    **asof_kwargs,
):
    """Enrich a streaming left side with an as-of match from a STATIC
    right side, per micro-batch via foreachBatch — the temporal tier's
    streaming boundary, stated as a contract (VERDICT r8 'Next round'
    #10):

    - EXACT when ``right`` is static (or a snapshot the caller swaps
      between batches): every left row matches against the full right
      frame, so the union of all micro-batch outputs equals the batch
      operator over the union of inputs, whatever the batch split —
      as-of is row-local given the right side (stream==batch tested).
    - A STREAMING right side is OUT OF SCOPE by design: matching left
      rows against "right rows seen so far" would make results depend
      on arrival interleaving, and bounding that requires watermarked
      bitemporal state (applyInPandasWithState) that no certified
      oracle exists for.  Callers with a slowly-changing right side
      should refresh the snapshot between triggers — the ledger's
      incremental pattern (sources/ledger.py), where each batch reads
      the latest published generation.

    ``sink(enriched_df, batch_id)`` receives each enriched batch;
    ``asof_kwargs`` pass through to operators/temporal.asof_join
    (on=, direction=, tolerance_seconds=, chunk_seconds=, ...)."""
    from fabstir_vectordb_spark.operators.temporal import asof_join

    return _temporal_enrich_stream(
        stream,
        checkpoint_path,
        sink,
        lambda b: asof_join(b, right, **asof_kwargs),
        trigger_available_now,
    )


def range_enrich_stream(
    stream: DataFrame,
    intervals: DataFrame,
    checkpoint_path: str,
    sink,
    trigger_available_now: bool = True,
    **range_kwargs,
):
    """Streaming point-in-interval enrichment against a STATIC interval
    side — asof_enrich_stream's contract verbatim: containment is
    row-local given the interval side, so the union of micro-batch
    outputs equals the batch range_join over the union of inputs for
    any batch split (stream==batch tested); a STREAMING interval side
    is out of scope for the same arrival-interleaving reason.

    Pass ``bucket_seconds`` explicitly when latency matters: the
    auto-tuner otherwise re-measures per micro-batch (one small
    aggregate job per side per trigger — any width computes the same
    answer, so this is cost, not correctness)."""
    from fabstir_vectordb_spark.operators.temporal import range_join

    return _temporal_enrich_stream(
        stream,
        checkpoint_path,
        sink,
        lambda b: range_join(b, intervals, **range_kwargs),
        trigger_available_now,
    )


def interval_enrich_stream(
    stream: DataFrame,
    right: DataFrame,
    checkpoint_path: str,
    sink,
    trigger_available_now: bool = True,
    **interval_kwargs,
):
    """Streaming interval-OVERLAP enrichment against a STATIC right
    side — asof_enrich_stream's contract verbatim: each left interval
    matches independently against the full right frame, so the union
    of micro-batch outputs equals the batch interval_join over the
    union of inputs for any batch split (stream==batch tested); a
    STREAMING right side is out of scope.  As with range_enrich_stream,
    pass ``bucket_seconds`` to skip the per-trigger auto-tuning jobs."""
    from fabstir_vectordb_spark.operators.temporal import interval_join

    return _temporal_enrich_stream(
        stream,
        checkpoint_path,
        sink,
        lambda b: interval_join(b, right, **interval_kwargs),
        trigger_available_now,
    )


def write_graph_stream(
    stream: DataFrame,
    hnsw_index,
    graph_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
):
    """Maintain a partition-local HNSW graph under a vector stream —
    the streaming version of the reference's recent-side insert
    (hybrid/core.rs:374-410 routes fresh vectors into the HNSW graph).

    Each micro-batch incrementally inserts its rows into the persisted
    graph (operators/hnsw.py HNSWIndex.insert — only the affected
    graphs' tasks do work) and publishes the result with an ATOMIC
    pointer flip: every batch writes a fresh versioned directory
    ``{graph_path}.v{batch_id}`` and then atomically replaces the
    ``graph_path`` symlink (os.replace of a symlink is a single rename
    syscall).  A query therefore sees either the old or the new complete
    graph, never a partial write — and, unlike a rename-away/rename-in
    dance, there is no window in which ``graph_path`` does not exist.
    If a crash or foreachBatch retry ever finds the pointer missing
    (e.g. mid-migration of a legacy plain directory), the sink re-links
    the newest complete version instead of rebuilding the whole graph
    from a single micro-batch.
    """
    import glob
    import os
    import shutil

    from fabstir_vectordb_spark.operators.hnsw import read_graph, write_graph

    def _versions() -> list[str]:
        # suffix grammar: ".v{batch}" or ".v{batch}r{retry}" (see sink)
        out = []
        for p in glob.glob(glob.escape(graph_path) + ".v*"):
            tag = p.rsplit(".v", 1)[1]
            batch, _, retry = tag.partition("r")
            try:
                out.append(((int(batch), int(retry) if retry else 0), p))
            except ValueError:
                continue
        return [p for _, p in sorted(out)]

    def _relink(target: str) -> None:
        # atomic pointer flip: symlink at a temp name, then one rename
        lntmp = f"{graph_path}.__lntmp"
        if os.path.lexists(lntmp):
            os.remove(lntmp)
        os.symlink(os.path.abspath(target), lntmp)
        os.replace(lntmp, graph_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # recovery: pointer missing but complete versions exist -> re-link
        if not os.path.lexists(graph_path):
            vers = _versions()
            if vers:
                _relink(vers[-1])
        # legacy layout (plain directory, not a pointer): migrate once.
        # The rename gap here is covered by the recovery branch above.
        if os.path.lexists(graph_path) and not os.path.islink(graph_path):
            legacy = f"{graph_path}.v-1"
            os.rename(graph_path, legacy)
            _relink(legacy)
        vdir = f"{graph_path}.v{batch_id}"
        # Retry of a batch that already PUBLISHED (crash landed between
        # the relink and the checkpoint commit): graph_path already points
        # at one of this batch's versions — the bare ".v{batch}" OR a
        # retry-suffixed ".v{batch}r{n}" (a prior retry of a half-written
        # batch publishes under an r-suffix; see below) — and all older
        # versions were pruned, so re-running the insert would raise
        # (HNSWIndex.insert refuses an id its graph already holds).  The
        # batch is idempotent-complete — skip.
        if os.path.lexists(graph_path):
            real = os.path.realpath(graph_path)
            # realpath BOTH sides: an ancestor symlink anywhere in the
            # data dir (e.g. /tmp on macOS) would otherwise make the
            # comparison silently never match and re-insert the batch
            vabs = os.path.realpath(vdir)
            if real == vabs or (
                real.startswith(vabs + "r") and real[len(vabs) + 1 :].isdigit()
            ):
                return
        batch = batch_df.select(
            F.col("id").alias(hnsw_index.id_col),
            F.col("vector").alias(hnsw_index.vector_col),
        )
        if os.path.lexists(graph_path):
            graph = read_graph(spark, graph_path)
            updated = hnsw_index.insert(graph, batch)
        else:
            updated = hnsw_index.build(batch)
        if os.path.exists(vdir):
            # Retry of a half-written batch.  Never rmtree a directory the
            # pointer could resolve to (checked above); write to a fresh
            # suffixed version instead of deleting, so the currently-linked
            # graph stays readable even if the lazy plan hasn't run yet.
            suffix = 0
            fresh = vdir
            while os.path.exists(fresh):
                suffix += 1
                fresh = f"{vdir}r{suffix}"
            vdir = fresh
        write_graph(updated, vdir)
        _relink(vdir)
        for stale in _versions():
            if stale != vdir:
                shutil.rmtree(stale, ignore_errors=True)

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def resample_stream(
    events: DataFrame,
    on: str | list[str],
    ts_col: str = "ts",
    step_seconds: int = 3600,
    watermark: str = "1 hour",
    aggs: dict | None = None,
) -> DataFrame:
    """Streaming half of operators/timeseries.resample: watermarked
    TUMBLING-window aggregation per key — one row per (key, bucket)
    with the caller's aggregates, emitting exactly the batch
    operator's BINNED frame (``bucket = floor(epoch_us / step)``;
    Spark's tumbling windows align to the epoch, so bucket ids match
    the batch operator bit-for-bit — certified stream≡batch in
    tests/test_streaming.py over an unordered multi-batch replay).

    The streaming BOUNDARY, stated as a contract like the curation
    gate's: BINNING streams (per-bucket aggregation is closed under
    micro-batching — the watermark bounds state to open buckets, one
    row per (key, open bucket) at any instant); DENSIFICATION AND
    FILLS stay batch over the accumulated bins.  A gap row has no
    well-defined streaming meaning until the watermark closes the
    buckets around it, and locf/interp read neighbors in both
    directions — run ``resample`` (or its fill windows) over this
    stream's sink periodically, exactly the gate-signals-stream/
    corpus-stages-batch split the funnel uses.

    Numeric-epoch (raw integer) timestamps are out of scope here:
    event-time streaming requires a real timestamp column for the
    watermark; cast upstream (``timestamp_micros``) before streaming.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if aggs is None:
        aggs = {"n": F.count(F.lit(1))}
        if "value" in events.columns:
            aggs["v"] = F.avg("value")
    step_us = int(step_seconds) * 1_000_000
    win = F.window(F.col(ts_col), f"{int(step_seconds)} seconds")
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*[F.col(k) for k in keys], win.alias("__w"))
        .agg(*[a.alias(n) for n, a in aggs.items()])
        .withColumn(
            "bucket",
            F.floor(F.unix_micros(F.col("__w.start")) / step_us).cast("long"),
        )
        .withColumn("bucket_ts", F.col("__w.start"))
        .drop("__w")
    )


def funnel_chunks_stream(
    events: DataFrame,
    on: str | list[str],
    steps: list,
    ts_col: str = "ts",
    chunk_seconds: int = 3600,
    watermark: str = "1 hour",
    strict_increase: bool = False,
) -> DataFrame:
    """Streaming half of funnel's chunked decomposition (operators/
    funnel.py round 10): per (key, time-chunk) the k entry-state chain
    SUFFIXES aggregate under a watermark — a chunk's pre-fold
    finalizes once the watermark passes its end, exactly the point at
    which no late event can change it.  The keys-only stitch
    (``funnel_from_chunks``) stays batch over the accumulated chunk
    rows, because the chain itself is NOT closed under micro-batching
    (a late step-1 event rewrites a key's whole chain — the module
    docstring's stated boundary); this split streams everything that
    CAN stream without declaring late rewrites out of scope.

    Plan: step-tag + explode map-side (non-matching events never enter
    state), then one watermarked groupBy (keys, tumbling chunk
    window) whose state per group is the chunk's distinct matching
    (ts, step) set — bounded by chunk width, evicted at the
    watermark.  Output: (keys..., ``chunk`` long, ``sufs``
    array<array<long>> epoch-micros suffixes) — feed a sink, then
    ``funnel_from_chunks(sink, on, len(steps), window_seconds)``;
    stream≡batch vs ``funnel(chunk_seconds=...)`` is pinned in
    tests/test_streaming.py.

    Event-time streaming requires a real timestamp column (the
    watermark); numeric-epoch mode is batch-only, as in
    resample_stream."""
    from fabstir_vectordb_spark.operators.funnel import (
        _step_tags, _suffixes_expr, _timeline_expr,
    )

    k = len(steps)
    if not 2 <= k <= 8:
        raise ValueError(f"funnel needs 2..8 steps; got {k}")
    if int(chunk_seconds) <= 0:
        raise ValueError(
            f"chunk_seconds must be positive; got {chunk_seconds}"
        )
    keys = [on] if isinstance(on, str) else list(on)
    chunk_u = int(chunk_seconds) * 1_000_000
    slim = (
        events.filter(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .select(
            *keys,
            F.col(ts_col),
            F.unix_micros(F.col(ts_col)).alias("__tsu"),
            F.explode(_step_tags(steps)).alias("__step"),
        )
    )
    timeline = _timeline_expr()
    win = F.window(F.col(ts_col), f"{int(chunk_seconds)} seconds")
    return (
        slim.groupBy(*[F.col(c) for c in keys], win.alias("__w"))
        .agg(timeline.alias("__tl"))
        .select(
            *keys,
            F.floor(F.unix_micros(F.col("__w.start")) / chunk_u)
            .cast("long")
            .alias("chunk"),
            _suffixes_expr(F.col("__tl"), k, strict_increase).alias("sufs"),
        )
    )


def retention_activity_stream(
    events: DataFrame,
    on: str | list[str] = "user_id",
    ts_col: str = "ts",
    period_seconds: int = 604800,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming half of cohort retention (operators/funnel.retention):
    per-(key, period) ACTIVITY — one row per key per active period,
    a watermarked tumbling-window count whose state is the open
    periods only.  The cohort fold stays batch
    (``retention_from_activity`` over the accumulated sink): a
    key's cohort is its MINIMUM period, and a late earlier-period
    event rewrites every offset of that key — the same
    not-closed-under-micro-batching boundary as the funnel chain.
    Output: (keys..., ``period`` long, ``period_ts`` start,
    ``n_events``); stream≡batch pinned in tests/test_streaming.py."""
    keys = [on] if isinstance(on, str) else list(on)
    if int(period_seconds) <= 0:
        raise ValueError(
            f"period_seconds must be positive; got {period_seconds}"
        )
    per_u = int(period_seconds) * 1_000_000
    win = F.window(F.col(ts_col), f"{int(period_seconds)} seconds")
    return (
        events.filter(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(*[F.col(c) for c in keys], win.alias("__w"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            *keys,
            F.floor(F.unix_micros(F.col("__w.start")) / per_u)
            .cast("long")
            .alias("period"),
            F.col("__w.start").alias("period_ts"),
            "n_events",
        )
    )


def summarize_stream(
    events: DataFrame,
    dims: list[str],
    measures: dict,
    ts_col: str = "ts",
    chunk_seconds: int = 3600,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming half of the OLAP summary algebra (operators/olap.py):
    one MATERIALIZED-SUMMARY row per (dims, time-chunk), aggregated
    under a watermark — a chunk's summary finalizes when the watermark
    passes it, and every partial (counts, sums, min/max, HLL sketches,
    capped sets, fixed-grid histograms) is the SAME mergeable column
    ``summarize`` emits, under the same self-describing ``__`` names.

    The sink is therefore a live summary store: feed it to
    ``merge_summaries`` + ``report_from_summary`` for a corpus report
    that refreshes FROM THE STREAM without ever rescanning history
    (stream≡batch vs ``grouped_report`` over the same events is pinned
    in tests/test_streaming.py).  KEEP the ``chunk`` column in the
    stored sink — per-chunk summary rows are exactly the retractable
    layout the olap module docstring recommends (drop a chunk's rows
    and re-merge to retract it); drop it (or not — merge_summaries
    treats it as one more dim) at report time as the report requires.

    Measure validation is summarize's: mergeable measures only
    (count/sum/min/max/avg partials, approx_distinct, exact_distinct,
    approx_pXX); count_distinct and exact pXX are refused with the
    alternatives named.  Event-time streaming needs a real timestamp
    column, as everywhere in this module.

    NULL-timestamp boundary, stated: such rows belong to no chunk and
    are DROPPED here (explicitly, not by watermark accident) — unlike
    batch ``grouped_report``, which has no time axis and counts them.
    When comparing stream vs batch (or backfilling a stream-fed
    summary store from history), apply the same
    ``filter(ts IS NOT NULL)`` on the batch side; rows that can never
    carry a timestamp belong in a batch-summarized chunk instead."""
    from fabstir_vectordb_spark.operators.olap import (
        _partials_spec, _validate_measures,
    )

    if int(chunk_seconds) <= 0:
        raise ValueError(
            f"chunk_seconds must be positive; got {chunk_seconds}"
        )
    _validate_measures(measures, two_phase=True)
    bad = [d for d in dims if d.startswith("__")]
    if bad:
        raise ValueError(f"dim(s) {bad} use the reserved __ prefix")
    chunk_u = int(chunk_seconds) * 1_000_000
    win = F.window(F.col(ts_col), f"{int(chunk_seconds)} seconds")
    return (
        events.filter(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(*[F.col(d) for d in dims], win.alias("__w"))
        .agg(*[e.alias(k) for k, e in _partials_spec(measures).items()])
        .withColumn(
            "chunk",
            F.floor(F.unix_micros(F.col("__w.start")) / chunk_u).cast("long"),
        )
        .drop("__w")
    )


def rolling_stream(
    events: DataFrame,
    on: str | list[str],
    ts_col: str = "ts",
    aggs: dict[str, tuple[str, str | None]] | None = None,
    window_seconds: int = 21600,
    slide_seconds: int = 3600,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming moving aggregates: watermarked SLIDING-window
    aggregation per key — the stream twin of the batch
    ``resample`` + ``rolling_buckets`` composition (operators/
    timeseries.py, r11).  One output row per (key, sliding window),
    ``bucket`` = the window's LAST slide-aligned bucket id, so a row
    here is comparable to the batch composition's trailing frame at
    the same bucket: for additive aggregates (sum/count) and for mean
    (a ratio of additives) the values are IDENTICAL — pinned
    stream≡batch in tests/test_streaming.py.  min/max match trivially
    (associative).

    ``aggs`` uses rolling()'s spec — name -> ("sum"|"mean"|"min"|
    "max"|"count"|"exact_distinct"|"approx_distinct"|"hist_quantile",
    col[, opts]) — with the same defaults and the same distinct
    tiering (capped exact set / DataSketches HLL; a binary source
    unions pre-built sketches).  ``hist_quantile`` aggregates each
    window's RAW values into the declared fixed-grid histogram (opts
    ``{'q', 'lo', 'hi'[, 'buckets']}``) and reads off the certified
    formula — sliding p90 latency; counts are exact longs, so the
    estimate is a pure function of the window's value multiset and
    stream ≡ batch exactly (pinned in tests).  Distinct sliding windows are the streaming "distinct
    users per trailing window" measure: each open window holds its
    set (capped, loudly) or its sketch (bounded) in state.  The
    stream≡batch identity is exact for exact_distinct always, and
    for approx_distinct through the sketch's exact sparse regime
    (~384 distinct per window at lgk=12, pinned in tests); past it
    the micro-batch merge path holds the HLL bound but can differ
    from a one-shot batch sketch by a few counts (the
    dense-estimator boundary — see rolling_buckets' docstring).
    ``window_seconds`` must be a multiple of
    ``slide_seconds`` (Spark's sliding windows are slide-aligned; a
    non-multiple would emit buckets the batch composition cannot
    express).

    Boundary, stated as everywhere in this module: the sliding
    aggregation is closed under micro-batching (state = open windows
    per key, bounded by window/slide overlapping windows each, evicted
    at the watermark).  A dense GAP-FILLED moving average (windows
    with zero events emitting zero) is NOT closed under streaming —
    an absent window emits nothing; run the batch composition over
    the resample_stream sink when gap rows must exist.

    Numeric-epoch timestamps are batch-only, as in resample_stream."""
    keys = [on] if isinstance(on, str) else list(on)
    if int(window_seconds) <= 0 or int(slide_seconds) <= 0:
        raise ValueError(
            f"window_seconds and slide_seconds must be positive; got "
            f"{window_seconds}, {slide_seconds}"
        )
    if int(window_seconds) % int(slide_seconds) != 0:
        raise ValueError(
            f"window_seconds ({window_seconds}) must be a multiple of "
            f"slide_seconds ({slide_seconds}) — Spark's sliding "
            "windows are slide-aligned"
        )
    if aggs is None:
        aggs = {"n": ("count", None)}
        if "value" in events.columns:
            aggs["v_mean"] = ("mean", "value")
    # same output-name hygiene as the batch twin (_rolling_over): a
    # collision would silently OVERWRITE the user's aggregate with the
    # bucket/window metadata columns appended below
    from fabstir_vectordb_spark.operators.timeseries import (
        _distinct_agg_expr, _norm_roll_spec,
    )

    reserved = {"bucket", "window_start", "window_end"}
    cols = []
    for name, spec in aggs.items():
        fn, col, opts = _norm_roll_spec(
            name, spec, "rolling agg", events.columns
        )
        if name in reserved:
            raise ValueError(
                f"agg name {name!r} collides with the output "
                f"bucket/window_start/window_end columns"
            )
        if name in keys or name == ts_col:
            raise ValueError(
                f"agg name {name!r} collides with a key/timestamp column"
            )
        src = F.lit(1) if col is None else F.col(col)
        if fn in ("exact_distinct", "approx_distinct"):
            # grouped (not windowed) here; the expression itself is
            # SHARED with the batch frame path (_distinct_agg_expr),
            # so tiering, cap guard, and defaults cannot drift
            e = _distinct_agg_expr(
                events.schema[col].dataType, fn, col, opts,
                f"rolling_stream {name!r}",
            )
        elif fn == "hist_quantile":
            # per-window fixed-grid percentile over RAW values (each
            # window aggregates its own histogram — the batch twin
            # folds pre-built array partials instead, same formula)
            from fabstir_vectordb_spark.operators.olap import (
                _hist_estimate, _hist_grid, _hist_partial, _hist_total,
            )

            if "q" not in opts:
                raise ValueError(
                    f"rolling agg {name!r}: hist_quantile needs "
                    "opts['q'] and a declared grid {'lo', 'hi'"
                    "[, 'buckets']}"
                )
            q = float(opts["q"])
            if not 0.0 < q <= 1.0:
                raise ValueError(
                    f"rolling agg {name!r}: need 0 < q <= 1; got {q}"
                )
            lo, hi, n = _hist_grid(name, opts)
            h = _hist_partial(col, lo, hi, n)
            e = _hist_estimate(h, _hist_total(h), q, lo, hi, n)
        else:
            fns = {"sum": F.sum, "mean": F.avg, "avg": F.avg,
                   "min": F.min, "max": F.max, "count": F.count}
            e = fns[fn](src)
        cols.append(e.alias(name))
    slide_us = int(slide_seconds) * 1_000_000
    win = F.window(
        F.col(ts_col),
        f"{int(window_seconds)} seconds",
        f"{int(slide_seconds)} seconds",
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*[F.col(k) for k in keys], win.alias("__w"))
        .agg(*cols)
        .withColumn(
            "bucket",
            (F.floor(F.unix_micros(F.col("__w.end")) / slide_us) - 1)
            .cast("long"),
        )
        .withColumn("window_start", F.col("__w.start"))
        .withColumn("window_end", F.col("__w.end"))
        .drop("__w")
    )
