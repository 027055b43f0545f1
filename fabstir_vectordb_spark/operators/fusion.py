"""Hybrid lexical+semantic fusion: combine BM25 keyword retrieval with
vector kNN into one ranked list — the reference engine's entire premise
(hybrid search, src/hybrid/core.rs:425-486; weighted multi-source merge,
src/hybrid/search_integration.rs:214-296) completed with the lexical
half the reference lacks (operators/keyword.py).

Two fusion strategies, both standard public literature:

  RRF  — reciprocal rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009):
         score(d) = sum over sources of 1 / (k_rrf + rank_d).  Rank-only,
         so incomparable score scales (BM25 vs cosine) never matter.
  weighted — per-source min-max normalization to [0, 1] followed by the
         existing weighted merge (operators/topk.py weighted_merge, the
         machinery mirroring search_integration.rs's strategies).

Determinism contract (cross-engine hash-stable, like every ranking in
this repo): ranks are assigned by (round(score, 6) DESC, id ASC); fused
scores are sums over at most a handful of sources (IEEE addition over
<= 2 addends is order-independent), rounded to 6 before the final
(score DESC, id ASC) top-k.

100 TB shape: each source list is already top-n per query (tiny —
Q x n rows), so fusion is a union + one groupBy on (query_id, id) over
Q x sources x n rows.  The heavy lifting stays in the source operators
(inverted-index join, ANN probe); fusion itself never touches the
corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators.topk import ROUND_DECIMALS, topk_per_query


def with_rank(
    df: DataFrame,
    query_col: str = "query_id",
    id_col: str = "id",
    score_col: str = "score",
    ascending: bool = False,
    depth: int | None = None,
) -> DataFrame:
    """Dense 1-based rank per query by (round(score, 6), id) — descending
    for similarity-like scores (default), ascending for distances.
    ``depth`` truncates each list after ranking (fusion inputs are
    top-n lists, not full score tables)."""
    order = F.round(F.col(score_col), ROUND_DECIMALS)
    order = order.asc() if ascending else order.desc()
    w = Window.partitionBy(query_col).orderBy(order, F.col(id_col).asc())
    ranked = df.withColumn("rank", F.row_number().over(w))
    if depth is not None:
        ranked = ranked.filter(F.col("rank") <= depth)
    return ranked


def rrf_fuse(
    *ranked_sources: DataFrame,
    k: int = 10,
    k_rrf: float = 60.0,
    query_col: str = "query_id",
    id_col: str = "id",
) -> DataFrame:
    """Reciprocal rank fusion over ranked lists (each must carry a
    ``rank`` column from with_rank).  Output: (query_id, id, score),
    top-k per query by (round-6 RRF score DESC, id)."""
    u = ranked_sources[0].select(query_col, id_col, "rank")
    for s in ranked_sources[1:]:
        u = u.unionByName(s.select(query_col, id_col, "rank"))
    fused = u.groupBy(query_col, id_col).agg(
        F.sum(F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("rank"))).alias("score")
    )
    return topk_per_query(
        fused, k, query_col=query_col, id_col=id_col,
        order_col="score", ascending=False,
    )


def minmax_normalize(
    df: DataFrame,
    query_col: str = "query_id",
    score_col: str = "score",
) -> DataFrame:
    """Per-query min-max normalization of round-6 scores to [0, 1]
    (constant lists normalize to 1.0).  Computed over the rounded score
    so the arithmetic replays bit-identically in any engine."""
    s = F.round(F.col(score_col), ROUND_DECIMALS)
    w = Window.partitionBy(query_col)
    mn, mx = F.min(s).over(w), F.max(s).over(w)
    norm = F.when(mx == mn, F.lit(1.0)).otherwise((s - mn) / (mx - mn))
    return df.withColumn(score_col, norm)


def weighted_fuse(
    sources: dict[str, tuple[DataFrame, float]],
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Min-max-normalize each source's list per query, then weighted
    merge: sum(w * norm) / sum(w) over the sources where the doc
    appears (search_integration.rs:214-296 'weighted' strategy via
    topk_per_query's sibling weighted_merge).

    ``sources`` maps source name -> (top-n DataFrame with
    (query_col, id_col, score_col), weight)."""
    from fabstir_vectordb_spark.operators.topk import weighted_merge

    parts = []
    for name, (df, weight) in sources.items():
        parts.append(
            minmax_normalize(df, query_col=query_col, score_col=score_col).select(
                query_col, id_col, score_col, F.lit(float(weight)).alias("weight")
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    merged = weighted_merge(
        u, strategy="weighted",
        query_col=query_col, id_col=id_col, score_col=score_col,
    )
    return topk_per_query(
        merged, k, query_col=query_col, id_col=id_col,
        order_col=score_col, ascending=False,
    )


def hybrid_retrieval(
    docs: DataFrame,
    vectors: DataFrame,
    text_queries: DataFrame,
    vector_queries: DataFrame,
    k: int = 10,
    depth: int = 20,
    strategy: str = "rrf",
    k_rrf: float = 60.0,
    lexical_weight: float = 0.5,
    semantic_weight: float = 0.5,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    query_vector_col: str = "vector",
    postings: DataFrame | None = None,
    semantic_search=None,
) -> DataFrame:
    """End-to-end hybrid search: BM25 top-``depth`` + cosine-similarity
    kNN top-``depth`` per query, fused by ``strategy`` ('rrf' or
    'weighted') into a top-k list.  Assumes doc ids and vector ids share
    an id space (the corpus' documents and their embeddings).

    ``semantic_search``: optional ``(vector_queries, depth) ->
    (query_id, id, distance)`` callable replacing the exact kNN — plug
    an ANN here for the 100 TB path, e.g.
    ``lambda q, d: ivf.search_bulk(clustered, q, d, n_probe=8)`` or an
    IVFPQ probe.  Any distance-like score works: RRF uses only ranks,
    and min-max normalization is invariant under positive affine maps,
    so ``-distance`` and ``1 - distance`` fuse identically."""
    from fabstir_vectordb_spark.operators.keyword import bm25_search
    from fabstir_vectordb_spark.operators.knn import brute_force_knn

    lex = with_rank(
        bm25_search(
            docs, text_queries, k=depth,
            text_col=text_col, id_col=id_col,
            query_id_col=query_id_col, query_text_col=query_text_col,
            postings=postings,
        ),
        depth=depth,
    )
    # source operators standardize their output to (query_id, id, ...)
    if semantic_search is not None:
        knn = semantic_search(vector_queries, depth)
    else:
        knn = brute_force_knn(
            vectors, vector_queries, depth,
            metric="cosine",
            id_col=vec_id_col, vector_col=vector_col,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )
    sem = with_rank(
        knn.select(
            "query_id", "id",
            (F.lit(1.0) - F.round("distance", ROUND_DECIMALS)).alias("score"),
        ),
        depth=depth,
    )
    if strategy == "rrf":
        return rrf_fuse(lex, sem, k=k, k_rrf=k_rrf)
    if strategy == "weighted":
        return weighted_fuse(
            {"lexical": (lex, lexical_weight), "semantic": (sem, semantic_weight)},
            k=k,
        )
    raise ValueError(f"unknown hybrid fusion strategy {strategy!r}")
