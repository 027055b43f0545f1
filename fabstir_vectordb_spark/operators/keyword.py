"""BM25 keyword search — the lexical retrieval primitive (Robertson &
Sparck Jones probabilistic relevance framework; the BM25 form of
Robertson et al., TREC-3 1994) the reference engine lacks: modern vector
stores pair ANN with exactly this for hybrid lexical+semantic retrieval,
and training-data curation uses it for targeted corpus mining.

Spark-first shape: the postings list IS a DataFrame —
tokenize once -> explode to (doc, term, tf) -> document frequencies by a
term aggregate -> score by joining query terms against postings on the
term key -> top-k per query.  Every shuffle key is a term or doc id;
raw text moves only through the one tokenize projection.  At 100 TB the
postings table is the materialization to persist (partitioned/bucketed
by term); queries then touch only their terms' postings — the classic
inverted-index pruning, expressed as a join.

Scoring (standard BM25):
  idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
  s(q, d) = sum_t idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fabstir_vectordb_spark.functions.text import whitespace_tokens
from fabstir_vectordb_spark.operators.dedup import _parallelize


def _terms(text_col, lower: bool = True):
    # splitting "" yields [""]: the filter keeps an empty or all-whitespace
    # document at zero tokens, so it has no postings and dl 0
    toks = F.filter(whitespace_tokens(text_col), lambda t: t != "")
    return F.transform(toks, lambda t: F.lower(t)) if lower else toks


def build_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, term, tf, dl): the inverted index as a DataFrame — the
    artifact a deployment persists partitioned by term.

    The tokenize projection is spread via the conditional `_parallelize`
    (dedup.py): a full-corpus shuffle fires ONLY when the scan arrives
    with clearly-below-cluster parallelism (the single-file small-SF
    fixture); an already-parallel 100 TB scan keeps its partitioning —
    zero extra exchanges in the index build."""
    toks = _parallelize(
        docs.select(F.col(id_col).alias("id"), _terms(F.col(text_col)).alias("__t"))
    )
    return (
        toks.select("id", F.size("__t").alias("dl"), F.explode("__t").alias("term"))
        .groupBy("id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )


def vocab_stats(
    docs: DataFrame | None = None,
    postings: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(term, tf, df): corpus vocabulary statistics — collection term
    frequency and document frequency per distinct term.  The table a
    tokenizer-training / vocab-pruning stage starts from, and the
    zero-extra-cost byproduct of the inverted index: when ``postings``
    is given (the build_postings artifact) this is ONE hash aggregation
    over (term, tf) pairs — no re-tokenize, no second corpus scan,
    the same no-double-scan contract bm25_search keeps for avgdl.

    Scale shape: partial aggregation shuffles only the distinct-term
    set (Zipf-bounded), never the token stream; top-k consumers apply
    an ``orderBy(...).limit(k)`` on the result, which Spark executes
    as per-partition TakeOrdered + single merge, not a global sort.
    """
    if postings is None:
        if docs is None:
            raise ValueError("need docs or postings")
        postings = build_postings(docs, text_col=text_col, id_col=id_col)
    return postings.groupBy("term").agg(
        F.sum("tf").cast("long").alias("tf"),
        F.count("*").cast("long").alias("df"),
    )


def bm25_search(
    docs: DataFrame | None,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    postings: DataFrame | None = None,
) -> DataFrame:
    """Top-k BM25 per query.  Pass a prebuilt ``postings`` (from
    build_postings, typically cached/persisted) to skip re-tokenizing the
    corpus per search — the expected pattern at scale; ``docs`` may then
    be None.  ``postings`` MUST be (id, term)-unique, which
    build_postings guarantees by construction; document frequency is
    computed as the per-term row count under that contract (the same
    assumption vocab_stats makes).

    Corpus statistics: with ``docs`` available, N and avgdl are computed
    over the WHOLE corpus (standard BM25 — zero-token documents count in
    N and pull avgdl down).  With only a postings table, empty documents
    have no postings rows, so the stats necessarily exclude them — the
    documented fallback semantics.

    Output: (query_id, id, score) — score rounded 6, descending,
    ties broken by id; only docs sharing >= 1 query term appear.
    """
    from fabstir_vectordb_spark.operators.topk import topk_per_query

    if postings is None:
        postings = build_postings(docs, text_col=text_col, id_col=id_col)
    # corpus stats WITHOUT a second tokenize pass AND without driver
    # actions: dl is constant per doc, so sum(dl) over distinct (id, dl)
    # postings pairs equals the corpus token total exactly; zero-token
    # docs (absent from postings) are corrected for by a tokenize-free
    # count(*) on docs.  Both land in ONE single-row aggregate that is
    # broadcast-cross-joined into the scoring plan — the former
    # collect()-at-construction form ran two extra driver-blocking jobs
    # per search (measured +1.1 s fixed overhead at sf0.1, the round-5
    # keyword_bm25 bench regression), and before that the stats
    # re-tokenized the whole corpus (one avoidable 100 TB scan).
    post_stats = postings.select("id", "dl").distinct().agg(
        F.count("*").cast("double").alias("__n_post"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("double").alias("__tot"),
    )
    if docs is not None:
        post_stats = post_stats.crossJoin(
            docs.agg(F.count("*").cast("double").alias("__n_docs"))
        )
    else:
        post_stats = post_stats.withColumn("__n_docs", F.col("__n_post"))
    raw_avgdl = F.when(
        F.col("__n_docs") > 0.0, F.col("__tot") / F.col("__n_docs")
    ).otherwise(F.lit(1.0))
    stats = post_stats.select(
        "__n_docs",
        # all-empty corpus: no postings anyway, avoid 0-div
        F.when(raw_avgdl != 0.0, raw_avgdl).otherwise(F.lit(1.0)).alias("__avgdl"),
    ).cache()
    # ^ the (N, avgdl) pair is ONE ROW and depends only on the corpus,
    # not the queries — exactly the statistic a real engine stores next
    # to its postings (Lucene's doccount/norms).  Caching it makes every
    # search after the first skip the full-corpus distinct-and-sum pass;
    # Spark's cache manager keys on the plan, so each (docs, postings)
    # pair fills the row once per session and all later searches reuse it.

    # one row per (query, distinct term): duplicate terms in a query score
    # once, the standard bag-of-words-with-set-semantics simplification
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(_terms(F.col(query_text_col)))).alias("term"),
    )
    # document frequency only for the terms the query set actually uses:
    # df is a per-term statistic, so a semi-join against the (tiny,
    # broadcast) distinct query-term set before the aggregate yields
    # byte-identical df values for every term that can reach the scoring
    # join, while the aggregate input shrinks from the WHOLE postings
    # table to the matching terms' postings — at corpus scale the former
    # full groupBy-per-search was the dominant shuffle of the query path
    # (guide: pre-filter the big side of a join when the filter is
    # selective).
    # df = row count per term: postings is (id, term)-unique by
    # construction (build_postings aggregates on (id, dl, term), and dl
    # is a function of id) — the same contract vocab_stats already
    # relies on for its df.  count(*) plans as ONE partial+final
    # aggregate pair, where countDistinct(id) planned a second
    # (term, id)-keyed aggregate phase + exchange before the final —
    # one full shuffle of the matched postings saved per search.
    df_by_term = (
        postings.join(
            F.broadcast(qterms.select("term").distinct()), "term", "left_semi"
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl")))
    )
    scored = (
        qterms.join(df_by_term, "term")
        .join(postings, "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "id")
        .agg(F.sum(idf * tf_part).alias("score"))
    )
    # reuse the deterministic top-k (round-6 + id tie-break), descending
    return topk_per_query(
        scored.select("query_id", "id", F.col("score").alias("distance")),
        k, order_col="distance", ascending=False,
    ).select("query_id", "id", F.round("distance", 6).alias("score"))


def build_positional_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, term, pos): the positional inverted index — build_postings
    plus the 0-based token position, the artifact phrase and proximity
    queries need.  Same single-tokenize, conditional-parallelize
    contract as build_postings; positions make rows unique, so there is
    no aggregate at all — one explode projection."""
    toks = _parallelize(
        docs.select(F.col(id_col).alias("id"), _terms(F.col(text_col)).alias("__t"))
    )
    return toks.select(
        "id", F.posexplode("__t").alias("pos", "term")
    ).select("id", "term", F.col("pos").cast("long").alias("pos"))


def phrase_search(
    docs: DataFrame | None,
    phrases: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    phrase_col: str = "phrase",
    postings_pos: DataFrame | None = None,
) -> DataFrame:
    """Exact-phrase matching over the positional index: one row per
    (query, doc) whose text contains the phrase's tokens CONSECUTIVELY,
    with the occurrence count — the positional-index primitive of every
    search engine (Manning, Raghavan & Schutze, IIR ch. 2.4), absent
    from bag-of-words BM25.

    One join, not an n-way self-join: each phrase explodes to
    (query_id, term, offset); joining against (id, term, pos) on the
    term and grouping by (query_id, id, start = pos - offset) counts how
    many of the phrase's offsets are present at that alignment — a group
    that hits all n offsets is one occurrence at ``start``.  Shuffle
    keys: term (the postings join), then (query, doc, start) — the
    candidate rows only, never the corpus.  Multi-token phrases only
    (a 1-token "phrase" is a term lookup — use bm25_search).

    Output: (query_id, id, n_occurrences), every match, unranked —
    compose with topk_per_query or feed n_occurrences into a scorer.
    """
    if postings_pos is None:
        if docs is None:
            raise ValueError("need docs or postings_pos")
        postings_pos = build_positional_postings(
            docs, text_col=text_col, id_col=id_col
        )
    from pyspark.sql.window import Window

    pterms = phrases.select(
        F.col(query_id_col).alias("query_id"),
        F.posexplode(_terms(F.col(phrase_col))).alias("offset", "term"),
    ).withColumn("__len", F.count("*").over(Window.partitionBy("query_id")))
    aligned = pterms.join(postings_pos, "term").select(
        "query_id", "id", "__len",
        (F.col("pos") - F.col("offset")).alias("__start"),
    )
    occ = (
        aligned.groupBy("query_id", "id", "__len", "__start")
        .agg(F.count("*").alias("__hits"))
        .filter((F.col("__hits") == F.col("__len")) & (F.col("__start") >= 0))
    )
    return occ.groupBy("query_id", "id").agg(
        F.count("*").cast("long").alias("n_occurrences")
    )
