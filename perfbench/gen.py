"""Seeded input generation for the benchmark.

Everything a workload feeds the engine comes from ``numpy.random.default_rng``
seeded with the run's ``--seed``: the corpus, its metadata, its timestamp ages,
the queries, the filters and the operation sequences.  The same seed gives the
same bytes; nothing here touches Spark, so the tests can check it directly.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

DIM = 384  # the reference's embedding dimension (BASELINE.md)
N_COMPONENTS = 48  # Gaussian-mixture components of the corpus
CENTER_SCALE = 1.0  # centre spread relative to the unit within-component noise
QUERY_NOISE = 0.3  # queries are corpus points plus this much Gaussian noise
CATEGORIES = [f"cat{i:02d}" for i in range(16)]
YEARS = (2000, 2024)  # [lo, hi)
DAY_S = 86_400
RECENT_DAYS = 7  # the session's recency window (session.RECENCY_DAYS)
RECENT_SHARE = 0.3
# keep every age an hour away from the 7-day cutoff, so the few seconds a run
# lasts can never move a row across it
CUTOFF_MARGIN_S = 3_600
MAX_AGE_DAYS = 60
# the three filter-selectivity bands the reference publishes overhead for
SELECTIVITY_BANDS = (0.01, 0.10, 0.50)


def category_weights() -> np.ndarray:
    """Skewed (Zipf-like) category frequencies."""
    w = 1.0 / np.arange(1, len(CATEGORIES) + 1) ** 1.1
    return w / w.sum()


@dataclass
class Corpus:
    """Vectors plus the metadata struct and timestamp age of each row."""

    vectors: np.ndarray  # (n, DIM) float32
    category: np.ndarray  # (n,) category index into CATEGORIES
    year: np.ndarray  # (n,) int64
    score: np.ndarray  # (n,) float64
    age_s: np.ndarray  # (n,) int64 seconds before the run's anchor time

    def __len__(self) -> int:
        return len(self.vectors)

    def metadata(self, i: int) -> dict:
        return {
            "category": CATEGORIES[int(self.category[i])],
            "score": float(self.score[i]),
            "year": int(self.year[i]),
        }


def mixture_centers(rng: np.random.Generator) -> np.ndarray:
    return rng.normal(scale=CENTER_SCALE, size=(N_COMPONENTS, DIM))


def draw_corpus(rng: np.random.Generator, centers: np.ndarray, n: int) -> Corpus:
    comp = rng.integers(0, len(centers), n)
    vectors = (centers[comp] + rng.normal(size=(n, DIM))).astype(np.float32)
    category = rng.choice(len(CATEGORIES), size=n, p=category_weights())
    year = rng.integers(YEARS[0], YEARS[1], n).astype(np.int64)
    score = rng.random(n)
    recent = rng.random(n) < RECENT_SHARE
    cutoff = RECENT_DAYS * DAY_S
    age_recent = rng.integers(0, cutoff - CUTOFF_MARGIN_S, n)
    age_old = rng.integers(cutoff + CUTOFF_MARGIN_S, MAX_AGE_DAYS * DAY_S, n)
    age_s = np.where(recent, age_recent, age_old).astype(np.int64)
    return Corpus(vectors, category.astype(np.int64), year, score, age_s)


def perturbed_queries(rng: np.random.Generator, vectors: np.ndarray, n: int) -> np.ndarray:
    """Queries are corpus points plus noise, so each has true neighbours."""
    src = rng.choice(len(vectors), size=n, replace=False)
    noise = rng.normal(scale=QUERY_NOISE, size=(n, vectors.shape[1]))
    return (vectors[src] + noise).astype(np.float32)


# ------------------------------------------------------------------ filters


def eval_filter(flt: dict, corpus: Corpus, rows: np.ndarray | None = None) -> np.ndarray:
    """Boolean mask of the rows a filter matches, for the subset of the Mongo
    dialect the benchmark generates: ``{field: value}`` equality, ``$in``,
    ``$gte``/``$lt`` ranges, ``$and`` and ``$or``."""
    rows = np.arange(len(corpus)) if rows is None else rows
    mask = np.ones(len(rows), dtype=bool)
    for key, spec in flt.items():
        if key == "$and":
            for sub in spec:
                mask &= eval_filter(sub, corpus, rows)
        elif key == "$or":
            anym = np.zeros(len(rows), dtype=bool)
            for sub in spec:
                anym |= eval_filter(sub, corpus, rows)
            mask &= anym
        else:
            mask &= _eval_field(key, spec, corpus, rows)
    return mask


def _eval_field(key: str, spec, corpus: Corpus, rows: np.ndarray) -> np.ndarray:
    if key == "category":
        col = np.asarray(CATEGORIES, dtype=object)[corpus.category[rows]]
    elif key == "year":
        col = corpus.year[rows]
    elif key == "score":
        col = corpus.score[rows]
    else:
        raise ValueError(f"field {key!r} is not generated")
    if not isinstance(spec, dict):
        return col == spec
    if "$in" in spec:
        return np.isin(col, list(spec["$in"]))
    mask = np.ones(len(rows), dtype=bool)
    if "$gte" in spec:
        mask &= col >= spec["$gte"]
    if "$lt" in spec:
        mask &= col < spec["$lt"]
    return mask


def _filter_candidates(rng: np.random.Generator) -> list[tuple[int, dict]]:
    """``(template, filter)`` pairs: 64 random draws of 8 templates."""
    cats = list(CATEGORIES)
    out: list[tuple[int, dict]] = []
    for _ in range(64):
        c = cats[int(rng.integers(len(cats)))]
        y0 = int(rng.integers(YEARS[0], YEARS[1] - 1))
        span = int(rng.integers(1, 13))
        s0 = float(np.round(rng.random(), 3))
        picks = sorted(rng.choice(cats, size=int(rng.integers(2, 6)), replace=False).tolist())
        years = {"$gte": y0, "$lt": y0 + span}
        out += enumerate([
            {"category": c},
            {"category": {"$in": picks}},
            {"year": years},
            {"score": {"$gte": s0, "$lt": min(1.0, s0 + 0.5)}},
            {"$and": [{"category": c}, {"year": years}]},
            {"$and": [{"category": {"$in": picks}}, {"score": {"$lt": s0}}]},
            {"$or": [{"category": c}, {"year": years}]},
            {"$or": [{"category": {"$in": picks}}, {"score": {"$gte": s0}}]},
        ])
    return out


def pick_filters(rng: np.random.Generator, corpus: Corpus, per_band: int = 4) -> list[dict]:
    """``per_band`` filters for each selectivity band, from ``per_band``
    different templates: per template the candidate whose measured
    selectivity on ``corpus`` is closest to the band, then the templates that
    come closest.  Returns ``[{"filter", "band", "selectivity"}, ...]``."""
    cands = _filter_candidates(rng)
    sel = np.array([eval_filter(f, corpus).mean() for _, f in cands])
    out: list[dict] = []
    for band in SELECTIVITY_BANDS:
        # log distance, so the 1% band is not swamped by near-zero filters
        dist = np.abs(np.log(np.maximum(sel, 1e-6) / band))
        best: dict[int, int] = {}
        for i in np.argsort(dist, kind="stable"):
            best.setdefault(cands[int(i)][0], int(i))
        for i in sorted(best.values(), key=lambda i: dist[i])[:per_band]:
            out.append({"filter": cands[i][1], "band": band, "selectivity": float(sel[i])})
    return out


# --------------------------------------------------------------- workloads


@dataclass
class SessionInputs:
    """Inputs of the session workloads: the corpus, a query pool, filters,
    and a mixture to draw new vectors from."""

    corpus: Corpus
    queries: np.ndarray  # (n_queries, DIM) float32
    filters: list[dict]
    centers: np.ndarray


def session_inputs(seed: int, n: int, n_queries: int) -> SessionInputs:
    rng = np.random.default_rng([seed, 1])
    centers = mixture_centers(rng)
    corpus = draw_corpus(rng, centers, n)
    queries = perturbed_queries(rng, corpus.vectors, n_queries)
    filters = pick_filters(rng, corpus)
    return SessionInputs(corpus, queries, filters, centers)


def point_ops(seed: int, n_ops: int, n_queries: int, n_filters: int) -> list[tuple[str, int, int]]:
    """The read-phase call sequence of session_rw: ``(kind, query, filter)`` with kind in
    ``search`` (unfiltered), ``filtered`` and ``repeat``.  Every fourth call
    repeats an earlier call; of the fresh calls, three in ten carry a filter.
    The shares are fixed, so the median of the fresh calls always falls in the
    unfiltered group; which query, filter and earlier call are seeded."""
    rng = np.random.default_rng([seed, 2])
    ops: list[tuple[str, int, int]] = []
    fresh: list[tuple[str, int, int]] = []
    qorder = rng.permutation(n_queries)
    for i in range(n_ops):
        if i % 4 == 3 and fresh:
            kind, q, f = fresh[int(rng.integers(len(fresh)))]
            ops.append(("repeat", q, f))
            continue
        j = len(fresh)
        q = int(qorder[j % n_queries])
        if j % 10 in (2, 5, 8):
            op = ("filtered", q, int(rng.integers(n_filters)))
        else:
            op = ("search", q, -1)
        fresh.append(op)
        ops.append(op)
    return ops


def crud_ops(seed: int, inputs: SessionInputs, n_cycles: int,
             add_batch: int = 200, delete_batch: int = 50,
             update_batch: int = 50) -> list[dict]:
    """The write-phase mutation sequence of session_rw, generated against a model of the
    live set so every operation is valid: per cycle an ``add`` of new vectors,
    a ``delete`` of live ids, an ``update`` of live ids' metadata, and a
    ``delete_by_metadata`` whose filter matches under one percent of rows.
    Each op names the query of the search that follows it."""
    rng = np.random.default_rng([seed, 3])
    corpus = inputs.corpus
    live = [f"v{i:06d}" for i in range(len(corpus))]
    meta = {vid: corpus.metadata(i) for i, vid in enumerate(live)}
    live_set = set(live)
    ops: list[dict] = []
    qpos = 0

    def next_query() -> int:
        nonlocal qpos
        qpos += 1
        return (qpos - 1) % len(inputs.queries)

    for cycle in range(n_cycles):
        new = draw_corpus(rng, inputs.centers, add_batch)
        ids = [f"a{cycle:03d}_{j:04d}" for j in range(add_batch)]
        ops.append({"op": "add", "ids": ids, "corpus": new, "query": next_query()})
        for j, vid in enumerate(ids):
            meta[vid] = new.metadata(j)
        live += ids
        live_set.update(ids)

        pool = sorted(live_set)
        gone = sorted(rng.choice(pool, size=delete_batch, replace=False).tolist())
        ops.append({"op": "delete", "ids": gone, "query": next_query()})
        live_set.difference_update(gone)

        pool = sorted(live_set)
        upd = sorted(rng.choice(pool, size=update_batch, replace=False).tolist())
        new_md = []
        for vid in upd:
            md = {
                "category": CATEGORIES[int(rng.choice(len(CATEGORIES), p=category_weights()))],
                "score": float(rng.random()),
                "year": int(rng.integers(YEARS[0], YEARS[1])),
            }
            meta[vid] = md
            new_md.append(md)
        ops.append({"op": "update", "ids": upd, "metadata": new_md, "query": next_query()})

        # the (category, year) pair of one live row: it matches that row and
        # about 1% of the others at most
        anchor = meta[sorted(live_set)[int(rng.integers(len(live_set)))]]
        cat, year = anchor["category"], anchor["year"]
        flt = {"$and": [{"category": cat}, {"year": year}]}
        hit = sorted(v for v in live_set if meta[v]["category"] == cat and meta[v]["year"] == year)
        ops.append({"op": "delete_by_metadata", "filter": flt, "ids": hit, "query": next_query()})
        live_set.difference_update(hit)
    return ops


@dataclass
class BulkInputs:
    corpus: np.ndarray  # (n, DIM) float32, ids are row numbers
    queries: np.ndarray  # (n_queries, DIM) float32
    warm_queries: np.ndarray  # a few queries to warm each tier's plan


def bulk_inputs(seed: int, n: int, n_queries: int, n_warm: int = 8) -> BulkInputs:
    rng = np.random.default_rng([seed, 4])
    centers = mixture_centers(rng)
    corpus = draw_corpus(rng, centers, n).vectors
    queries = perturbed_queries(rng, corpus, n_queries + n_warm)
    return BulkInputs(corpus, queries[:n_queries], queries[n_queries:])
