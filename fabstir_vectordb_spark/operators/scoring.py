"""Relevance scoring, result merging, and query expansion.

Parity targets (reference, public repo Fabstir/fabstir-vectordb):
  ScoringMethod: CosineSimilarity / TimeDecay / PopularityBoost /
    Combined          src/hybrid/search_integration.rs:298-372
  MergeStrategy: TakeBest / Average / WeightedByIndex
                      src/hybrid/search_integration.rs:214-296
  query expansion     src/hybrid/search_integration.rs:452-489
  streaming top-k     src/core/vector_ops.rs:204-263
  hybrid merge        src/hybrid/core.rs:481-485

All scoring is pure column expressions (stays in whole-stage codegen);
merges are unions + hash aggregates — both shuffle only the tiny result
sets, never the vector table.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ------------------------------------------------------------- re-scoring


def time_decay_score(
    base_score: Column | str, age_ms: Column | str, half_life_ms: float
) -> Column:
    """score * 0.5^(age/half_life) (search_integration.rs:322-334)."""
    return _c(base_score) * F.pow(
        F.lit(0.5), _c(age_ms).cast("double") / F.lit(float(half_life_ms))
    )


def popularity_boost_score(base_score: Column | str, views: Column | str) -> Column:
    """score * (1 + ln(1 + views)/10) (search_integration.rs:336-346)."""
    return _c(base_score) * (
        F.lit(1.0) + F.log(F.lit(1.0) + _c(views).cast("double")) / F.lit(10.0)
    )


def combined_score(parts: list[tuple[Column | str, float]]) -> Column:
    """Weighted sum of score components (search_integration.rs:348-361)."""
    if not parts:
        raise ValueError("combined_score needs at least one (column, weight) part")
    out = F.lit(0.0)
    for col, w in parts:
        out = out + _c(col) * F.lit(float(w))
    return out


# -------------------------------------------------------- query expansion
# (result merging lives in operators/topk.py: merge_dedup / weighted_merge)


def expand_queries(
    queries: DataFrame,
    n_expansions: int = 3,
    noise: float = 0.05,
    query_id_col: str = "query_id",
    vector_col: str = "vector",
) -> DataFrame:
    """k deterministic perturbed copies of each query, renormalized
    (search_integration.rs:452-489 uses random ±noise; we use an exact
    rational perturbation — ((i*31 + j) mod 7 - 3)/3 * noise — so results
    are reproducible and cross-engine checkable).

    Output: (query_id, expansion_id, vector); expansion 0 is the original.
    """
    exp = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vector_col).alias("__v"),
        F.explode(F.sequence(F.lit(0), F.lit(n_expansions))).alias("expansion_id"),
    )
    j = F.col("expansion_id")
    perturbed = F.when(j == 0, F.transform("__v", lambda x: x.cast("double"))).otherwise(
        F.transform(
            "__v",
            lambda x, i: x.cast("double")
            + F.lit(noise) * (((i * 31 + j) % 7).cast("double") - 3.0) / 3.0,
        )
    )
    with_vec = exp.withColumn("__p", perturbed)
    nrm = F.sqrt(
        F.aggregate("__p", F.lit(0.0), lambda acc, x: acc + x * x)
    )
    unit = F.when(nrm == 0.0, F.col("__p")).otherwise(
        F.transform("__p", lambda x: x / nrm)
    )
    return with_vec.select(
        "query_id", "expansion_id", unit.alias(vector_col)
    )


def mmr_rerank(
    results: DataFrame,
    vectors: DataFrame,
    k: int,
    lam: float = 0.7,
    score_col: str = "score",
    query_col: str = "query_id",
    id_col: str = "id",
    vector_id_col: str = "id",
    vector_col: str = "vector",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998 — public literature; no reference analogue): greedily pick
    the candidate maximizing lam*relevance - (1-lam)*max_sim_to_selected,
    trading relevance against redundancy.

    Scale shape: MMR is inherently sequential PER QUERY, but each query's
    candidate list is tiny (the k' rows a first-stage retriever already
    produced), so the kernel is a cogrouped applyInPandas over
    (query -> candidates+vectors): one task per group of queries, numpy
    cosine matrix per query, zero driver involvement.  The candidate
    vectors arrive via one broadcast-friendly join against the vector
    table — only the candidate ids' rows are fetched.

    Determinism: ties break on (round(score,6) desc, id asc) — the same
    contract as every ranking here.  Output: (query_id, id, mmr_score,
    rank), rank 1..k in selection order: `mmr_rerank_multi` at the one
    lam, its `lam` column dropped.
    """
    return mmr_rerank_multi(
        results, vectors, k, [lam], score_col=score_col, query_col=query_col,
        id_col=id_col, vector_id_col=vector_id_col, vector_col=vector_col,
    ).drop("lam")


def mmr_select(vectors, rel, k: int, lams: list[float]) -> list[tuple[list[int], list[float]]]:
    """The one MMR greedy selection, per lam, over one query's candidates:
    ``vectors`` their vectors (cosine similarity: each row is normalized
    here, a zero row left as is) and ``rel`` their relevances as a float
    array, both in ranking order (rounded relevance desc, id asc) and the
    relevances already rounded by the caller.  Returns, per lam, the
    picked positions in selection order and each pick's unrounded MMR
    value.  The pairwise similarity matrix is computed once for all lams.
    Ties break on the value rounded to 6 places, then on the earlier
    position — so on (relevance desc, id asc) as every ranking here."""
    V = np.asarray(vectors, dtype=np.float64)
    norms = np.linalg.norm(V, axis=1)
    norms[norms == 0.0] = 1.0
    U = V / norms[:, None]
    sim = U @ U.T  # candidates are <= k', tiny
    out = []
    for lam in lams:
        selected: list[int] = []
        scores: list[float] = []
        remaining = list(range(len(rel)))
        while remaining and len(selected) < k:
            if not selected:
                j, mmr = 0, lam * rel[remaining[0]]  # max relevance (sorted order)
            else:
                red = sim[np.ix_(remaining, selected)].max(axis=1)
                vals = lam * rel[remaining] - (1.0 - lam) * red
                j = int(np.argmax(np.round(vals, 6)))
                mmr = float(vals[j])
            selected.append(remaining.pop(j))
            scores.append(mmr)
        out.append((selected, scores))
    return out


def mmr_rerank_multi(
    results: DataFrame,
    vectors: DataFrame,
    k: int,
    lams: list[float],
    score_col: str = "score",
    query_col: str = "query_id",
    id_col: str = "id",
    vector_id_col: str = "id",
    vector_col: str = "vector",
) -> DataFrame:
    """`mmr_rerank` at several lambda values in ONE pass — same greedy
    selection per lam, with the candidate join, the per-query cogroup
    exchange and the pairwise similarity matrix shared across lams
    instead of re-run per lam (optimization-round consolidation: two
    mmr_rerank calls over the same candidates cost two joins + two
    Python stages for work that differs only in the final greedy loop).

    Output: (query_id, id, mmr_score, rank, lam) — filtering on
    `lam == x` yields exactly `mmr_rerank(..., lam=x)`'s rows.
    """
    from pyspark.sql import types as T

    cand = results.select(
        F.col(query_col).alias("query_id"),
        F.col(id_col).alias("id"),
        F.col(score_col).cast("double").alias("__rel"),
    ).join(
        vectors.select(
            F.col(vector_id_col).alias("id"), F.col(vector_col).alias("__v")
        ),
        "id",
    )
    id_t = results.schema[id_col].dataType
    qid_t = results.schema[query_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", qid_t, False),
            T.StructField("id", id_t, False),
            T.StructField("mmr_score", T.DoubleType(), False),
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("lam", T.DoubleType(), False),
        ]
    )
    import pandas as pd

    k_i = int(k)
    lam_fs = [float(x) for x in lams]

    def per_query(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        # deterministic candidate order
        pdf = pdf.assign(__r6=pdf["__rel"].round(6)).sort_values(
            ["__r6", "id"], ascending=[False, True], kind="mergesort"
        )
        qids, ids = pdf["query_id"].to_numpy(), pdf["id"].to_numpy()
        picks = mmr_select(list(pdf["__v"]), pdf["__r6"].to_numpy(), k_i, lam_fs)
        return pd.concat(
            [
                pd.DataFrame(
                    {
                        "query_id": qids[sel],
                        "id": ids[sel],
                        "mmr_score": np.round(scores, 6),
                        "rank": np.arange(1, len(sel) + 1, dtype=np.int32),
                        "lam": lam_f,
                    }
                )
                for (sel, scores), lam_f in zip(picks, lam_fs)
            ],
            ignore_index=True,
        )

    return cand.groupBy("query_id").applyInPandas(per_query, out_schema)
