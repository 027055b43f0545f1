"""The two workloads.  Each is a closed loop with one client: the next call
starts when the previous one has returned and its output has been checked.

A workload function takes ``(spark, seed, seconds, tracer, work_dir)`` and
returns a ``Run``: set-up times, timed calls by kind, check counts and recall.
Index shapes below are constants and never depend on the core count.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, truth
from perfbench.trace import log

K = 10
SETUP_REPEATS = 3

# session workloads
SESSION_N = 2_000
SESSION_QUERIES = 512
SESSION_CLUSTERS = 32  # IVF n_clusters; the session picks n_probe (8 here)
SESSION_TRAIN = 2_048
READ_QUERIES = 384  # queries [0, 384) serve the read phase
WRITE_QUERIES = 120  # the next 120 the write phase; the last few warm-ups
READ_MAX_OPS = 400
WRITE_MAX_CYCLES = 12
# bulk_ann
BULK_N = 3_000
BULK_QUERIES = 100
BULK_HNSW_N = 1_000  # the HNSW tier runs on a slice: its build loop is per node
BULK_WARM_N = 256  # the slice of the untimed warm-up build
IVF_SHAPE = {"n_clusters": 32, "train_size": 2_048}
IVF_PROBE = 8
IVFPQ_SHAPE = {"n_clusters": 64, "n_subspaces": 8, "n_centroids": 32}
IVFPQ_PROBE, IVFPQ_OVERSAMPLE = 8, 4
HNSW_SHAPE = {"M": 16, "M0": 32, "ef_construction": 100, "num_graphs": 4}
HNSW_EF = 64
TIERS = ("exact", "ivf", "ivfpq", "hnsw")


@dataclass
class Run:
    setup_s: list[float] = field(default_factory=list)
    calls: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))  # ms
    attempted: int = 0
    failed: int = 0
    recall: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    workload: str = ""
    busy_s: float = 0.0  # time inside timed calls; checks are not in it
    work: float = 0.0  # operations (or queries, for bulk_ann) done in them
    extra: dict[str, float] = field(default_factory=dict)

    def timed(self, tracer, name: str, fn):
        """Run one call as an operation of the tracer, record its latency
        under ``name`` and add it to the busy time; exceptions propagate."""
        with tracer.operation(name):
            t0 = time.perf_counter()
            out = fn()
            ms = (time.perf_counter() - t0) * 1e3
        self.calls[name].append(ms)
        self.busy_s += ms / 1e3
        return out, ms

    def check(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"check failed: {what}: {'; '.join(problems[:5])}", flush=True)


# ------------------------------------------------------------ session set-up


def _write_session_corpus(path: str, corpus: gen.Corpus, anchor: int) -> None:
    n = len(corpus)
    values = pa.array(corpus.vectors.ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * gen.DIM, gen.DIM, dtype=np.int32))
    metadata = pa.StructArray.from_arrays(
        [
            pa.array(np.asarray(gen.CATEGORIES)[corpus.category]),
            pa.array(corpus.score),
            pa.array(corpus.year),
        ],
        names=["category", "score", "year"],
    )
    table = pa.table({
        "id": pa.array([f"v{i:06d}" for i in range(n)]),
        "vector": pa.ListArray.from_arrays(offsets, values),
        "metadata": metadata,
        "ts_s": pa.array(anchor - corpus.age_s),
    })
    pq.write_table(table, path)


def _open_session(spark, path: str):
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.session import VectorDbSession

    df = spark.read.parquet(path).select(
        "id", "vector", "metadata", F.timestamp_seconds("ts_s").alias("ts")
    )
    s = VectorDbSession.from_dataframe(df, metadata_col="metadata", ts_col="ts")
    s.train_index(n_clusters=SESSION_CLUSTERS, train_size=SESSION_TRAIN)
    return s


def _session_setup(spark, run: Run, inputs: gen.SessionInputs, work_dir: str):
    """Write the corpus once, then open and index a session SETUP_REPEATS
    times; the last session is the one measured."""
    anchor = int(time.time())
    path = os.path.join(work_dir, "corpus.parquet")
    _write_session_corpus(path, inputs.corpus, anchor)
    session = None
    for _ in range(SETUP_REPEATS):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        session = _open_session(spark, path)
        run.setup_s.append(time.perf_counter() - t0)
    return session, anchor


def _result_lists(rows: list[dict]) -> tuple[list, list]:
    return [r["id"] for r in rows], [r["distance"] for r in rows]


# ---------------------------------------------------------------- session_rw


class LiveModel:
    """The benchmark's own model of a session's rows."""

    def __init__(self, corpus: gen.Corpus):
        n = len(corpus)
        self.ids = [f"v{i:06d}" for i in range(n)]
        self.pos = {v: i for i, v in enumerate(self.ids)}
        self.vectors = corpus.vectors
        self.age_s = corpus.age_s.copy()
        self.live = np.ones(n, dtype=bool)
        self.meta = {v: corpus.metadata(i) for i, v in enumerate(self.ids)}
        self.soft_deleted = 0

    def add(self, ids: list[str], batch: gen.Corpus) -> None:
        base = len(self.ids)
        self.ids += ids
        self.pos.update({v: base + j for j, v in enumerate(ids)})
        self.vectors = np.vstack([self.vectors, batch.vectors])
        self.age_s = np.concatenate([self.age_s, batch.age_s])
        self.live = np.concatenate([self.live, np.ones(len(ids), dtype=bool)])
        self.meta.update({v: batch.metadata(j) for j, v in enumerate(ids)})

    def delete(self, ids: list[str]) -> None:
        for v in ids:
            self.live[self.pos[v]] = False
        self.soft_deleted += len(ids)

    def stats(self) -> dict:
        recent = self.live & (self.age_s < gen.RECENT_DAYS * gen.DAY_S)
        return {
            "vectorCount": int(self.live.sum()),
            "deletedCount": self.soft_deleted,
            "recentCount": int(recent.sum()),
        }

    def live_ids(self) -> set[str]:
        return {v for v, alive in zip(self.ids, self.live) if alive}


def _check_search(run: Run, model: LiveModel, q: np.ndarray, rows: list[dict], what: str,
                  mask: np.ndarray | None = None, exact: bool = False) -> None:
    """Check a session search against the model: ``mask`` narrows the live
    rows to a filter's matches; an exact search must return the exact top-k,
    an IVF one only correct rows, and it adds to the recall record."""
    got_ids, got_dist = _result_lists(rows)
    dist = truth.l2(model.vectors, q)
    eligible = model.live if mask is None else model.live & mask
    ids = np.asarray(model.ids)

    def dist_of(vid):
        i = model.pos.get(vid)
        return float(dist[i]) if i is not None and eligible[i] else None

    t_ids, t_dist = truth.exact_topk(dist[eligible], ids[eligible], K)
    if exact:
        problems = truth.check_exact(got_ids, got_dist, list(t_ids), t_dist, K, dist_of)
    else:
        problems = truth.check_ranked(got_ids, got_dist, K, dist_of)
        run.recall["ivf"].append(truth.recall(got_ids, t_ids))
    for r in rows:
        want, got = model.meta.get(r["id"]), r["metadata"]
        if want is None or got is None or got.get("category") != want["category"] \
                or got.get("year") != want["year"] \
                or abs(float(got.get("score", -1.0)) - want["score"]) > 1e-9:
            problems.append(f"id {r['id']!r} metadata {got} != {want}")
            break
    run.check(what, problems)


def _check_stats(run: Run, model: LiveModel, stats: dict, what: str) -> None:
    want = model.stats()
    problems = [f"{k} {stats[k]} != {v}" for k, v in want.items() if stats[k] != v]
    run.check(what, problems)


def session_rw(spark, seed: int, seconds: float, tracer, work_dir: str) -> Run:
    """The session front end on a 2,000-vector session with a trained IVF index.

    1. Reads, in blocks of four until ``seconds`` have passed:
       VectorDbSession.search calls, k=10; unfiltered ones take the IVF probe
       path, filtered ones the exact filtered path, and every fourth call
       repeats an earlier one (the query cache).
    2. Writes beside reads, in whole cycles until another ``seconds`` have
       passed: add / delete / update / delete_by_metadata, then a search.
    3. Persistence: vacuum, save, load, and a search on the loaded session.
    """
    run = Run(workload="session_rw")
    inputs = gen.session_inputs(seed, SESSION_N, SESSION_QUERIES)
    session, anchor = _session_setup(spark, run, inputs, work_dir)
    model = LiveModel(inputs.corpus)
    # warm the IVF probe path with a query neither phase uses
    session.search(inputs.queries[-1].tolist(), k=K)
    log("set up")
    _read_phase(run, session, model, inputs, seed, seconds, tracer)
    log("read phase done")
    _write_phase(run, session, model, inputs, seed, seconds, tracer, anchor)
    log("write phase done")
    loaded, q, rows = _persistence(run, spark, session, model, inputs, tracer, work_dir)
    log("persistence done")
    _check_loaded(run, loaded, model, q, rows, os.path.join(work_dir, "saved"))
    return run


def _read_phase(run, session, model, inputs, seed, seconds, tracer) -> None:
    masks = [gen.eval_filter(f["filter"], inputs.corpus) for f in inputs.filters]
    ops = gen.point_ops(seed, READ_MAX_OPS, READ_QUERIES, len(inputs.filters))
    answers: dict[tuple[int, int], list] = {}
    names = {"search": "search", "filtered": "filtered_search", "repeat": "repeat_search"}
    t0 = time.perf_counter()
    for i, (kind, qi, fi) in enumerate(ops):
        # whole blocks of four calls (three fresh, one repeat), so every run
        # measures the same mix
        if i % 4 == 0 and i and time.perf_counter() - t0 >= seconds:
            break
        q = inputs.queries[qi]
        flt = inputs.filters[fi]["filter"] if fi >= 0 else None
        name = names[kind]
        try:
            rows, _ = run.timed(tracer, name, lambda: session.search(q.tolist(), k=K, filter=flt))
        except Exception as e:  # a failed call is a failed operation
            run.check(f"{name} raised", [repr(e)])
            continue
        run.work += 1
        if kind == "repeat":
            # the first answer was checked in full; a repeat must return it
            same = answers.get((qi, fi)) == rows
            run.check(f"{name} q={qi} f={fi}", [] if same else ["another answer than the first"])
            continue
        answers[(qi, fi)] = rows
        _check_search(run, model, q, rows, f"{name} q={qi} f={fi}",
                      mask=masks[fi] if fi >= 0 else None, exact=flt is not None)


def _write_phase(run, session, model, inputs, seed, seconds, tracer, anchor) -> None:
    ops = gen.crud_ops(seed, inputs, WRITE_MAX_CYCLES)

    def ingest(op):
        batch = op["corpus"]
        items = [
            {
                "id": vid,
                "vector": batch.vectors[j].tolist(),
                "metadata": batch.metadata(j),
                "timestamp": dt.datetime.fromtimestamp(
                    anchor - int(batch.age_s[j]), dt.timezone.utc
                ).replace(tzinfo=None),
            }
            for j, vid in enumerate(op["ids"])
        ]
        return session.add_vectors(items)

    calls = {
        "add": ingest,
        "delete": lambda op: session.batch_delete(op["ids"]),
        "update": lambda op: session.batch_update_metadata(list(zip(op["ids"], op["metadata"]))),
        "delete_by_metadata": lambda op: session.delete_by_metadata(op["filter"]),
    }
    t0 = time.perf_counter()
    for i, op in enumerate(ops):
        # whole cycles only, so every run measures the same mix
        if i % 4 == 0 and i and time.perf_counter() - t0 >= seconds:
            break
        kind = op["op"]
        q = inputs.queries[READ_QUERIES + op["query"] % WRITE_QUERIES]
        try:
            out, ms = run.timed(tracer, kind, lambda: calls[kind](op))
            run.calls["mutation"].append(ms)
            run.work += 1
            rows = None
            # one search closes each cycle, after its last mutation: the added
            # rows may be found and no deleted or stale row may come back;
            # every mutation invalidates the clustered table, so it re-assigns
            if kind == "delete_by_metadata":
                rows, _ = run.timed(tracer, "post_write_search", lambda: session.search(q.tolist(), k=K))
                run.work += 1
        except Exception as e:
            run.check(f"{kind} raised", [repr(e)])
            continue
        problems = []
        if kind == "add":
            model.add(op["ids"], op["corpus"])
            run.calls["add_vectors_per_s"].append(len(op["ids"]) / (ms / 1e3))
            if out != len(op["ids"]):
                problems.append(f"add_vectors returned {out}")
        elif kind in ("delete", "update"):
            if kind == "delete":
                model.delete(op["ids"])
            else:
                model.meta.update(zip(op["ids"], op["metadata"]))
            if out["successful"] != len(op["ids"]) or out["failed"]:
                problems.append(f"{kind} returned {out}")
        else:
            model.delete(op["ids"])
            if out["deletedIds"] != op["ids"]:
                problems.append(f"delete_by_metadata deleted {out['deletedCount']}, expected {len(op['ids'])}")
        run.check(f"{kind} #{i} result", problems)
        _check_stats(run, model, session.get_stats(), f"get_stats after {kind} #{i}")
        if rows is not None:
            _check_search(run, model, q, rows, f"search after {kind} #{i}")


def _persistence(run, spark, session, model, inputs, tracer, work_dir):
    from fabstir_vectordb_spark.session import VectorDbSession

    save_path = os.path.join(work_dir, "saved")
    vac, _ = run.timed(tracer, "vacuum", session.vacuum)
    want = {"removed": model.soft_deleted, "remaining": int(model.live.sum())}
    run.check("vacuum", [] if vac == want else [f"vacuum returned {vac}, expected {want}"])
    model.soft_deleted = 0
    _, save_ms = run.timed(tracer, "save", lambda: session.save(save_path))
    loaded, load_ms = run.timed(tracer, "load", lambda: VectorDbSession.load(spark, save_path))
    q = inputs.queries[-3]
    rows, first_ms = run.timed(tracer, "loaded_search", lambda: loaded.search(q.tolist(), k=K))
    run.calls["save_load"].append(save_ms + load_ms + first_ms)
    run.work += 4
    return loaded, q, rows


def _check_loaded(run, loaded, model, q, rows, save_path) -> None:
    """Every acknowledged write survives the save/load round trip."""
    from pyspark.sql import functions as F

    got = {r["id"] for r in loaded.dataframe().filter(~F.col("deleted")).select("id").collect()}
    want = model.live_ids()
    run.check("live ids after load", [] if got == want else
              [f"{len(want - got)} acknowledged rows lost, {len(got - want)} extra"])
    _check_stats(run, model, loaded.get_stats(), "get_stats after load")
    _check_search(run, model, q, rows, "search on the loaded session")
    written = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(save_path) for f in fs
    )
    run.extra["save_bytes_written"] = float(written)
    run.extra["save_bytes_per_user_byte"] = written / (len(want) * gen.DIM * 4)


# ------------------------------------------------------------------ bulk_ann


def _write_bulk(path: str, vectors: np.ndarray, id_name: str) -> None:
    n = len(vectors)
    offsets = pa.array(np.arange(0, (n + 1) * gen.DIM, gen.DIM, dtype=np.int32))
    pq.write_table(pa.table({
        id_name: pa.array(np.arange(n, dtype=np.int64)),
        "vector": pa.ListArray.from_arrays(offsets, pa.array(vectors.ravel(), type=pa.float32())),
    }), path)


def _grouped(rows) -> dict[int, tuple[list, list]]:
    out: dict[int, list] = defaultdict(list)
    for r in rows:
        out[r["query_id"]].append((round(r["distance"], truth.ROUND), r["id"], r["distance"]))
    return {q: ([i for _, i, _ in sorted(v)], [d for _, _, d in sorted(v)]) for q, v in out.items()}


def bulk_ann(spark, seed: int, seconds: float, tracer, work_dir: str) -> Run:
    """Timed IVF, IVFPQ and HNSW builds, then rounds of one query batch
    through each tier: exact knn_bulk, IVFIndex.search_bulk,
    IVFPQIndex.search_bulk with rerank, and HNSWIndex.search_bulk."""
    from pyspark.sql import functions as F

    from fabstir_vectordb_spark.operators.knn import knn_bulk

    run = Run(workload="bulk_ann")
    inputs = gen.bulk_inputs(seed, BULK_N, BULK_QUERIES)
    cpath, qpath, wpath = (os.path.join(work_dir, f) for f in ("c.parquet", "q.parquet", "w.parquet"))
    _write_bulk(cpath, inputs.corpus, "id")
    _write_bulk(qpath, inputs.queries, "query_id")
    _write_bulk(wpath, inputs.warm_queries, "query_id")
    nparts = spark.sparkContext.defaultParallelism
    for _ in range(SETUP_REPEATS):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        corpus = spark.read.parquet(cpath).repartition(nparts).cache()
        corpus.count()
        queries = spark.read.parquet(qpath).cache()
        queries.count()
        warm = spark.read.parquet(wpath).cache()
        warm.count()
        run.setup_s.append(time.perf_counter() - t0)
    hnsw_slice = corpus.filter(F.col("id") < BULK_HNSW_N)
    log("set up")

    tiers = {"exact": lambda qs: knn_bulk(corpus, qs, K)}

    def warm_up(tier):  # the first call of each plan shape, untimed
        tiers[tier](warm).select("query_id", "id", "distance").collect()

    # the exact tier needs no index: warming it first starts the Python
    # workers (about 3 s), and an IVF build on a small slice starts the build
    # path, so the first timed build pays for neither
    warm_up("exact")
    _build_ivf(corpus.filter(F.col("id") < BULK_WARM_N))[1].unpersist()
    ivf, assigned = run.timed(tracer, "build_ivf", lambda: _build_ivf(corpus))[0]
    pqi, encoded = run.timed(tracer, "build_ivfpq", lambda: _build_ivfpq(corpus))[0]
    hnsw, graph = run.timed(tracer, "build_hnsw", lambda: _build_hnsw(hnsw_slice))[0]
    tiers.update({
        "ivf": lambda qs: ivf.search_bulk(assigned, qs, K, n_probe=IVF_PROBE),
        "ivfpq": lambda qs: pqi.search_bulk(
            encoded, qs, K, n_probe=IVFPQ_PROBE, oversample=IVFPQ_OVERSAMPLE,
            rerank_vectors=corpus,
        ),
        "hnsw": lambda qs: hnsw.search_bulk(graph, qs, K, ef=HNSW_EF),
    })
    for tier in TIERS[1:]:
        warm_up(tier)

    truths = _bulk_truth(inputs)
    log("indexes built and warm")
    t_search = time.perf_counter()
    rounds = 0
    while rounds == 0 or time.perf_counter() - t_search < seconds:
        round_ms = 0.0
        for tier in TIERS:
            try:
                rows, ms = run.timed(
                    tracer, f"bulk_{tier}",
                    lambda: tiers[tier](queries).select("query_id", "id", "distance").collect(),
                )
            except Exception as e:
                run.check(f"bulk_{tier} raised", [repr(e)])
                continue
            round_ms += ms
            run.calls[f"{tier}_qps"].append(BULK_QUERIES / (ms / 1e3))
            run.work += BULK_QUERIES
            _check_bulk(run, tier, _grouped(rows), truths[tier], rounds == 0)
        run.calls["round"].append(round_ms)
        rounds += 1
    return run


def _build_ivf(corpus):
    from fabstir_vectordb_spark.operators.ivf import IVFIndex

    ivf = IVFIndex.fit(corpus, id_col="id", vector_col="vector", **IVF_SHAPE)
    assigned = ivf.assign(corpus).cache()
    assigned.count()
    return ivf, assigned


def _build_ivfpq(corpus):
    from fabstir_vectordb_spark.operators.ivfpq import IVFPQIndex

    pqi = IVFPQIndex.fit(corpus, id_col="id", vector_col="vector", **IVFPQ_SHAPE)
    encoded = pqi.encode(corpus).cache()
    encoded.count()
    return pqi, encoded


def _build_hnsw(vectors):
    from fabstir_vectordb_spark.operators.hnsw import HNSWIndex

    hnsw = HNSWIndex(id_col="id", vector_col="vector", **HNSW_SHAPE)
    graph = hnsw.build(vectors).cache()
    graph.count()
    return hnsw, graph


def _bulk_truth(inputs: gen.BulkInputs) -> dict[str, list]:
    """Per tier and query: (exact top-k ids, their distances, all distances)."""
    ids = np.arange(len(inputs.corpus), dtype=np.int64)
    corpus = inputs.corpus.astype(np.float64)  # converted once, not per query
    full, part = [], []
    for q in inputs.queries:
        d = truth.l2(corpus, q)
        t_ids, t_d = truth.exact_topk(d, ids, K)
        full.append((t_ids.tolist(), t_d, d))
        h_ids, h_d = truth.exact_topk(d[:BULK_HNSW_N], ids[:BULK_HNSW_N], K)
        part.append((h_ids.tolist(), h_d, d[:BULK_HNSW_N]))
    return {"exact": full, "ivf": full, "ivfpq": full, "hnsw": part}


def _check_bulk(run: Run, tier: str, got: dict, want: list, record_recall: bool) -> None:
    problems = []
    recalls = []
    for qid, (t_ids, t_d, d) in enumerate(want):
        g_ids, g_d = got.get(qid, ([], []))

        def dist_of(i, d=d):
            return float(d[i]) if 0 <= i < len(d) else None

        if tier == "exact":
            problems += truth.check_exact(g_ids, g_d, t_ids, t_d, K, dist_of)
        else:
            problems += truth.check_ranked(g_ids, g_d, K, dist_of)
            recalls.append(truth.recall(g_ids, t_ids))
    if set(got) - set(range(len(want))):
        problems.append("rows for unknown query ids")
    if record_recall and recalls:
        run.recall[tier].append(float(np.mean(recalls)))
    run.check(f"bulk_{tier} batch", problems)


WORKLOADS = {"session_rw": session_rw, "bulk_ann": bulk_ann}
