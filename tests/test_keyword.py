"""BM25 keyword search vs a pure-Python reference model."""

import math

import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators.keyword import bm25_search, build_postings

DOCS = [
    (0, "spark makes big data simple"),
    (1, "spark spark spark tuning guide"),
    (2, "vector search with embeddings"),
    (3, "big data pipelines and big models"),
    (4, "a totally unrelated document"),
]


def _bm25_model(query, k1=1.2, b=0.75):
    toks = [d[1].lower().split() for d in DOCS]
    n = len(DOCS)
    avgdl = sum(len(t) for t in toks) / n
    scores = {}
    for qt in set(query.lower().split()):
        df = sum(1 for t in toks if qt in t)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for doc_id, t in enumerate(toks):
            tf = t.count(qt)
            if tf == 0:
                continue
            s = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
            scores[doc_id] = scores.get(doc_id, 0.0) + s
    return scores


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_bm25_matches_model(spark, corpus):
    queries = spark.createDataFrame(
        [("q0", "spark data"), ("q1", "big data"), ("q2", "nothing matches here")],
        "query_id string, query string",
    )
    res = bm25_search(corpus, queries, k=10)
    got = {}
    for r in res.collect():
        got.setdefault(r["query_id"], {})[r["id"]] = r["score"]
    for qid, qtext in (("q0", "spark data"), ("q1", "big data")):
        model = _bm25_model(qtext)
        assert set(got[qid]) == set(model)
        for doc_id, s in model.items():
            assert got[qid][doc_id] == pytest.approx(round(s, 6), abs=2e-6)
    # 'nothing'/'matches'/'here' appear in no doc -> zero result rows;
    # ('unrelated' docs never padded in)
    assert "q2" not in got


def test_bm25_prebuilt_postings_and_topk(spark, corpus):
    postings = build_postings(corpus).cache()
    queries = spark.createDataFrame(
        [("q", "spark big data")], "query_id string, query string"
    )
    res = bm25_search(corpus, queries, k=2, postings=postings).collect()
    assert len(res) == 2
    # descending by score
    assert res[0]["score"] >= res[1]["score"]
    model = _bm25_model("spark big data")
    best = max(model, key=model.get)
    assert res[0]["id"] == best


def test_bm25_term_frequency_saturates(spark, corpus):
    """Doc 1 repeats 'spark' 3x but must not dominate linearly: BM25's
    tf saturation keeps its score below 3x doc 0's."""
    queries = spark.createDataFrame([("q", "spark")], "query_id string, query string")
    got = {r["id"]: r["score"] for r in bm25_search(corpus, queries, k=5).collect()}
    assert got[1] > got[0]          # more occurrences still score higher
    assert got[1] < 3 * got[0]      # but sub-linearly


def test_vocab_stats_from_postings_and_docs(spark):
    from fabstir_vectordb_spark.operators.keyword import build_postings, vocab_stats

    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "a c"), (2, "b b b c")], "doc_id long, text string"
    )
    got = {r["term"]: (r["tf"], r["df"]) for r in vocab_stats(docs).collect()}
    assert got == {"a": (3, 2), "b": (4, 2), "c": (2, 2)}
    # postings path gives the identical table with no re-tokenize
    post = build_postings(docs)
    got2 = {
        r["term"]: (r["tf"], r["df"]) for r in vocab_stats(postings=post).collect()
    }
    assert got2 == got


def test_postings_are_id_term_unique(spark):
    # bm25_search and vocab_stats take a term's document frequency as its
    # postings row count, so a document repeating a term must still give
    # that term ONE posting, with the repeats in tf
    docs = spark.createDataFrame(
        [(0, "to be or not to be"), (1, "  be be\tbe "), (2, "Not TO worry")],
        "doc_id long, text string",
    )
    post = build_postings(docs).collect()
    pairs = [(r["id"], r["term"]) for r in post]
    assert len(pairs) == len(set(pairs))
    assert {(r["id"], r["term"]): (r["tf"], r["dl"]) for r in post} == {
        (0, "to"): (2, 6), (0, "be"): (2, 6), (0, "or"): (1, 6), (0, "not"): (1, 6),
        (1, "be"): (3, 3),
        (2, "not"): (1, 3), (2, "to"): (1, 3), (2, "worry"): (1, 3),
    }


def test_empty_documents_have_no_postings(spark):
    # an empty or all-whitespace document has zero tokens: no postings, and
    # nothing added to the token total behind avgdl, where it still counts
    # in N
    docs = spark.createDataFrame(
        [(0, "big data"), (1, ""), (2, " \t  "), (3, "data")],
        "doc_id long, text string",
    )
    post = build_postings(docs).collect()
    assert sorted((r["id"], r["term"], r["tf"], r["dl"]) for r in post) == [
        (0, "big", 1, 2), (0, "data", 1, 2), (3, "data", 1, 1),
    ]
    queries = spark.createDataFrame([("q", "big")], "query_id string, query string")
    [row] = bm25_search(docs, queries, k=10).collect()
    n, df, tf, dl, avgdl, k1, b = 4, 1, 1, 2, 3 / 4, 1.2, 0.75
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    want = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    assert (row["id"], row["score"]) == (0, pytest.approx(round(want, 6), abs=2e-6))


# ------------------------------------------------------- phrase search


def test_phrase_search_occurrences(spark):
    from fabstir_vectordb_spark.operators.keyword import phrase_search

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat the cat sat"),
            (1, "a cat sat quietly"),
            (2, "the mat"),
        ],
        "doc_id long, text string",
    )
    ph = spark.createDataFrame(
        [
            ("p0", "cat sat"),       # doc 0 twice, doc 1 once
            ("p1", "the mat"),       # docs 0 and 2
            ("p2", "sat on the"),    # doc 0 only
            ("p3", "cat on"),        # nowhere (non-adjacent)
            ("p4", "Cat SAT"),       # case-folded like bm25's terms
        ],
        "query_id string, phrase string",
    )
    got = {
        (r["query_id"], r["id"]): r["n_occurrences"]
        for r in phrase_search(docs, ph).collect()
    }
    assert got == {
        ("p0", 0): 2, ("p0", 1): 1,
        ("p1", 0): 1, ("p1", 2): 1,
        ("p2", 0): 1,
        ("p4", 0): 2, ("p4", 1): 1,
    }


def test_phrase_search_repeated_word_and_boundaries(spark):
    from fabstir_vectordb_spark.operators.keyword import (
        build_positional_postings,
        phrase_search,
    )

    docs = spark.createDataFrame(
        [(0, "the the cat"), (1, "the cat the")],
        "doc_id long, text string",
    )
    ph = spark.createDataFrame(
        [("r0", "the the"), ("r1", "cat the")], "query_id string, phrase string"
    )
    # prebuilt positional postings path (the persisted-artifact pattern)
    pp = build_positional_postings(docs)
    got = {
        (r["query_id"], r["id"]): r["n_occurrences"]
        for r in phrase_search(None, ph, postings_pos=pp).collect()
    }
    # "the the" only in doc 0; "cat the" only in doc 1 (no wraparound,
    # no start<0 alignment leaking through)
    assert got == {("r0", 0): 1, ("r1", 1): 1}
