"""Dedup operator tests: exact, n-gram Jaccard, MinHash LSH, SimHash,
embedding near-dup — LSH candidates verified against the exact oracle."""

import pytest
from pyspark.sql import functions as F

from fabstir_vectordb_spark.operators import dedup as DD

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the late afternoon sun"
)
NEAR = BASE.replace("lazy", "sleepy")  # one-token edit => high jaccard
FAR = "completely different content about spark query engines and shuffles"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),          # exact dup of 0
        (2, NEAR),          # near dup of 0
        (3, FAR),
        (4, "tiny"),        # shorter than shingle width
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string").cache()


def test_exact_dedup(docs):
    out = {r["id"]: r for r in DD.exact_dedup(docs).collect()}
    assert out[1]["canonical_id"] == 0 and out[1]["is_duplicate"]
    assert out[0]["group_size"] == 2 and not out[0]["is_duplicate"]
    assert not out[2]["is_duplicate"]
    kept = DD.drop_exact_duplicates(docs)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 2, 3, 4]


def test_ngram_jaccard_pairs(docs):
    pairs = {(r["a_id"], r["b_id"]): r["jaccard"] for r in
             DD.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs
    low = {(r["a_id"], r["b_id"]) for r in DD.ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    assert (0, 3) not in low  # no shared shingle at all => never a candidate


def test_minhash_lsh_matches_exact(docs):
    exact = {(r["a_id"], r["b_id"]): r["jaccard"] for r in
             DD.ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    lsh = {(r["a_id"], r["b_id"]): r["jaccard"] for r in
           DD.minhash_lsh_pairs(docs, threshold=0.8).collect()}
    assert set(lsh) == set(exact)  # high-jaccard pairs: LSH catches all
    for k in exact:
        assert lsh[k] == pytest.approx(exact[k])


def test_simhash_pairs(spark, docs):
    # a null text and an all-whitespace one ride along with the fixture
    docs = docs.unionByName(
        spark.createDataFrame([(5, None), (6, " \t  ")], "doc_id bigint, text string")
    )
    sims = {r["doc_id"]: r["s"] for r in
            docs.select("doc_id", DD.simhash64("text").alias("s")).collect()}
    assert sims[0] == sims[1]  # identical text => identical simhash
    # distributed aggregate path computes the identical fingerprint for
    # every non-null text; a null text has no tokens and gives no row
    agg = {r["id"]: r["sim"] for r in DD.simhash64_agg(docs).collect()}
    del sims[5]
    assert agg == sims
    pairs = {(r["a_id"], r["b_id"]): r["hamming"] for r in
             DD.simhash_pairs(docs, max_hamming=8).collect()}
    assert pairs[(0, 1)] == 0
    if (0, 2) in pairs:
        assert pairs[(0, 2)] <= 8
    assert (0, 3) not in pairs
    assert all(5 not in p for p in pairs)


def test_embedding_near_dup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0]),      # orthogonal
        (3, [-1.0, 0.0, 0.0]),     # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {(r["a_id"], r["b_id"]): r["cosine"] for r in
           DD.embedding_near_dup(df, threshold=0.9).collect()}
    assert list(out) == [(0, 1)]
    assert out[(0, 1)] > 0.99


def test_embedding_near_dup_cluster_path(spark, embeddings):
    from fabstir_vectordb_spark.operators.ivf import IVFIndex

    idx = IVFIndex.fit(embeddings, n_clusters=4, seed=42, id_col="vec_id", vector_col="embedding")
    brute = DD.embedding_near_dup(embeddings, threshold=0.4)
    clustered = DD.embedding_near_dup(embeddings, threshold=0.4, method="cluster", ivf_index=idx)
    b = {(r["a_id"], r["b_id"]) for r in brute.collect()}
    c = {(r["a_id"], r["b_id"]) for r in clustered.collect()}
    assert c <= b  # cluster path returns a subset (pruned candidates)
    assert len(c) >= len(b) * 0.3  # and a non-trivial fraction at 4 clusters


@pytest.mark.parametrize("string_ids", [False, True])
def test_one_cluster_path_equals_brute(spark, embeddings, string_ids):
    """With every vector in one cluster the cluster path compares every
    pair, so it returns exactly the brute path's rows and cosines, with
    numeric and with string ids."""
    import numpy as np

    from fabstir_vectordb_spark.operators.ivf import IVFIndex

    if string_ids:
        embeddings = embeddings.withColumn("vec_id", F.concat(F.lit("v"), "vec_id"))
    dim = len(embeddings.first()["embedding"])
    idx = IVFIndex(np.zeros((1, dim)), id_col="vec_id", vector_col="embedding")
    brute = DD.embedding_near_dup(embeddings, threshold=0.4, method="brute").collect()
    clustered = DD.embedding_near_dup(
        embeddings, threshold=0.4, method="cluster", ivf_index=idx
    ).collect()
    assert brute and sorted(map(tuple, clustered)) == sorted(map(tuple, brute))
    assert all(r["a_id"] < r["b_id"] for r in clustered)


def test_cluster_path_never_pairs_an_id_with_itself(spark):
    """An id repeated within a cluster is one document: the a_id < b_id
    contract holds, as on the brute path."""
    import numpy as np

    from fabstir_vectordb_spark.operators.ivf import IVFIndex

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (0, [1.0, 0.0]), (1, [1.0, 0.01])],
        "vec_id bigint, embedding array<float>",
    )
    idx = IVFIndex(np.zeros((1, 2)), id_col="vec_id", vector_col="embedding")
    got = DD.embedding_near_dup(df, threshold=0.9, method="cluster", ivf_index=idx).collect()
    assert sorted((r["a_id"], r["b_id"]) for r in got) == [(0, 1), (0, 1)]


def test_canonicalize_pairs(spark):
    nodes = spark.createDataFrame([(i,) for i in range(7)], "id bigint")
    # components: {0,1,2} (chain), {3,4}, singletons 5, 6
    pairs = spark.createDataFrame(
        [(1, 2), (0, 1), (3, 4)], "a_id bigint, b_id bigint"
    )
    out = {r["id"]: r for r in DD.canonicalize_pairs(nodes, pairs).collect()}
    assert [out[i]["canonical_id"] for i in range(7)] == [0, 0, 0, 3, 3, 5, 6]
    assert out[2]["group_size"] == 3 and out[2]["is_duplicate"]
    assert out[3]["group_size"] == 2 and not out[3]["is_duplicate"]
    assert out[5]["group_size"] == 1 and not out[5]["is_duplicate"]


def test_near_dup_auto_dispatch(spark, monkeypatch):
    import numpy as np

    rows = [(i, [float(i % 5), 1.0, float(i % 3)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    # under the limit: auto == brute (exact)
    auto = DD.embedding_near_dup(df, threshold=0.99, brute_force_limit=1000)
    brute = DD.embedding_near_dup(df, threshold=0.99, method="brute")
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, brute.collect()))

    # over the limit: the broadcast brute kernel must NEVER run
    def _boom(*a, **kw):
        raise AssertionError("brute kernel called above brute_force_limit")

    monkeypatch.setattr(DD, "_brute_pairs", _boom)
    clustered = DD.embedding_near_dup(df, threshold=0.99, brute_force_limit=10)
    got = {(r["a_id"], r["b_id"]) for r in clustered.collect()}
    exact = {(r["a_id"], r["b_id"]) for r in brute.collect()}
    assert got <= exact  # cluster pruning may lose recall, never precision


def test_hot_shingle_report(spark):
    """Guard observability: the report names exactly the shingles the
    cutoff drops, with the candidate-pair work each would have cost."""
    from fabstir_vectordb_spark.operators.dedup import hot_shingle_report

    docs = spark.createDataFrame(
        [(i, f"unique text {i} common footer here") for i in range(5)],
        "doc_id long, text string",
    )
    # 3-shingle "common footer here" appears in all 5 docs
    rep = {r["shingle"]: r for r in hot_shingle_report(docs, n=3, max_shingle_freq=4).collect()}
    assert list(rep) == ["common footer here"]
    assert rep["common footer here"]["n_docs"] == 5
    assert rep["common footer here"]["skipped_pairs"] == 10
    # cutoff above every frequency -> empty report -> guard is a no-op
    assert hot_shingle_report(docs, n=3, max_shingle_freq=5).count() == 0


# ---------------------------------------------------------------- boilerplate

def test_remove_boilerplate_lines(spark):
    from fabstir_vectordb_spark.operators.dedup import (
        line_frequencies,
        remove_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha\ncookie banner\nbeta"),
            (2, "cookie banner\ngamma"),
            (3, "delta\ncookie banner"),
            (4, "epsilon only"),
        ],
        "doc_id long, text string",
    )
    hot = {r["line"]: r["df"] for r in line_frequencies(docs, min_doc_freq=3).collect()}
    assert hot == {"cookie banner": 3}
    out = {
        r["id"]: r
        for r in remove_boilerplate_lines(docs, min_doc_freq=3).collect()
    }
    assert out[1]["clean_text"] == "alpha\nbeta"  # order preserved
    assert out[1]["removed_lines"] == 1 and out[1]["kept_lines"] == 2
    assert out[2]["clean_text"] == "gamma"
    assert out[3]["clean_text"] == "delta"
    assert out[4]["clean_text"] == "epsilon only"
    assert out[4]["removed_lines"] == 0


def test_remove_boilerplate_noop_when_no_hot_lines(spark):
    from fabstir_vectordb_spark.operators.dedup import remove_boilerplate_lines

    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, "c\nd")], "doc_id long, text string"
    )
    out = {r["id"]: r for r in remove_boilerplate_lines(docs, 2).collect()}
    assert out[1]["clean_text"] == "a\nb" and out[1]["removed_lines"] == 0


def test_remove_boilerplate_all_lines_hot(spark):
    from fabstir_vectordb_spark.operators.dedup import remove_boilerplate_lines

    docs = spark.createDataFrame(
        [(i, "same\nsame2") for i in range(5)], "doc_id long, text string"
    )
    out = remove_boilerplate_lines(docs, 2).collect()
    assert all(r["clean_text"] == "" and r["kept_lines"] == 0 for r in out)


def test_remove_boilerplate_plan_has_no_corpus_explode(spark):
    # the removal path must be a broadcast + HOF filter: the only
    # Generate (explode) in the plan belongs to the tiny hot-line
    # aggregation subtree, never to the per-document removal projection
    from fabstir_vectordb_spark.operators.dedup import remove_boilerplate_lines

    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, "a\nc")], "doc_id long, text string"
    )
    plan = (
        remove_boilerplate_lines(docs, 2)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "BroadcastHint" in plan or "broadcast" in plan.lower()


def test_remove_boilerplate_regex_metachar_separator(spark):
    # separator is treated literally, not as a regex
    from fabstir_vectordb_spark.operators.dedup import remove_boilerplate_lines

    docs = spark.createDataFrame(
        [(1, "keep.|.drop me"), (2, "drop me.|.other"), (3, "drop me.|.third")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in remove_boilerplate_lines(docs, 3, sep=".|.").collect()}
    assert out[1]["clean_text"] == "keep"
    assert out[2]["clean_text"] == "other"
    assert out[1]["removed_lines"] == 1


# ----------------------------------------------- benchmark decontamination


def test_decontaminate_flags_overlap(spark):
    from fabstir_vectordb_spark.operators.dedup import (
        decontaminate,
        remove_contaminated,
    )

    bench = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)], ["text"]
    )
    docs = spark.createDataFrame(
        [
            # contains the full benchmark 5-gram window
            (0, "prefix the quick brown fox jumps over suffix words here"),
            # shares 4-gram runs only -> clean at n=5
            (1, "quick brown fox jumps nowhere near the rest"),
            # verbatim benchmark text -> contaminated
            (2, "the quick brown fox jumps over the lazy dog"),
            # unrelated
            (3, "completely different content with many tokens in it"),
            # too short to shingle at n=5 -> clean, still emitted
            (4, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    out = {r["id"]: r for r in decontaminate(docs, bench, n=5).collect()}
    assert len(out) == 5
    assert out[0]["contaminated"] and out[0]["n_hits"] >= 1
    assert not out[1]["contaminated"] and out[1]["n_hits"] == 0
    assert out[2]["contaminated"] and out[2]["n_hits"] == 5  # all 5 windows
    assert not out[3]["contaminated"]
    assert not out[4]["contaminated"] and out[4]["n_hits"] == 0

    clean = remove_contaminated(docs, bench, n=5)
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 3, 4]
    assert clean.columns == docs.columns


def test_decontaminate_min_hits_threshold(spark):
    from fabstir_vectordb_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame([("a b c d e f",)], ["text"])
    docs = spark.createDataFrame(
        [(0, "x a b c d e f y"), (1, "z a b c d q w e r t")], ["doc_id", "text"]
    )
    out = {r["id"]: r for r in decontaminate(docs, bench, n=4, min_hits=2).collect()}
    # doc 0 shares windows 'a b c d','b c d e','c d e f' (3 hits)
    assert out[0]["n_hits"] == 3 and out[0]["contaminated"]
    # doc 1 shares only 'a b c d' (1 hit) -> below min_hits
    assert out[1]["n_hits"] == 1 and not out[1]["contaminated"]


def test_decontaminate_plan_broadcasts_benchmark(spark):
    from fabstir_vectordb_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame([("a b c d e f g h",)], ["text"])
    docs = spark.createDataFrame(
        [(i, f"w{i} a b c d e f g h tail") for i in range(50)], ["doc_id", "text"]
    )
    plan = (
        decontaminate(docs, bench, n=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_duplicated_spans_cross_doc(spark):
    from fabstir_vectordb_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [
            (0, "u0 u1 u2 c1 c2 c3 c4 c5 c6 v0"),
            (1, "c1 c2 c3 c4 c5 c6 z0 z1 z2 z3"),
            (2, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"),   # all unique
            (3, "r1 r2 r3 r4 r5 x r1 r2 r3 r4 r5"),  # internal repeat
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    got = {r["id"]: r for r in duplicated_spans(docs, span_tokens=5).collect()}
    # shared 6-token run: two overlapping hot windows merge to one span
    assert (got[0]["dup_tokens"], got[0]["n_dup_spans"]) == (6, 1)
    assert got[0]["dup_ratio"] == pytest.approx(0.6)
    assert (got[1]["dup_tokens"], got[1]["n_dup_spans"]) == (6, 1)
    # unique doc untouched
    assert (got[2]["dup_tokens"], got[2]["n_dup_spans"]) == (0, 0)
    # within-doc repetition also counts as >= 2 occurrences
    assert (got[3]["dup_tokens"], got[3]["n_dup_spans"]) == (10, 2)
    # below-window doc: no windows, nothing flagged
    assert (got[4]["dup_tokens"], got[4]["n_dup_spans"]) == (0, 0)


def test_remove_duplicated_spans_trims(spark):
    from fabstir_vectordb_spark.operators.dedup import remove_duplicated_spans

    docs = spark.createDataFrame(
        [
            (0, "u0 u1 u2 c1 c2 c3 c4 c5 c6 v0"),
            (1, "c1 c2 c3 c4 c5 c6 z0 z1 z2 z3"),
            (2, "w0 w1 w2 w3 w4"),
        ],
        "doc_id long, text string",
    )
    got = {r["id"]: r for r in remove_duplicated_spans(docs, span_tokens=5).collect()}
    assert got[0]["clean_text"] == "u0 u1 u2 v0"
    assert got[1]["clean_text"] == "z0 z1 z2 z3"
    assert got[2]["clean_text"] == "w0 w1 w2 w3 w4"
    assert got[0]["dup_tokens"] == 6 and got[2]["dup_tokens"] == 0


def test_duplicated_spans_rejects_bad_params(spark):
    from fabstir_vectordb_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        duplicated_spans(docs, span_tokens=0)
    with pytest.raises(ValueError):
        duplicated_spans(docs, min_occurrences=1)


def test_dedup_paragraphs_keep_first(spark):
    """Keep-first paragraph dedup: the first (doc, pos) occurrence of a
    normalized paragraph survives, every later occurrence — across docs
    AND within one doc — is removed; empty paragraphs are structure and
    always survive; normalization folds case/whitespace."""
    from fabstir_vectordb_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [
            (0, "unique zero\nSHARED PARA\nalso unique"),
            (1, "SHARED PARA\nown text one"),
            (2, "own two\nown two\nother"),
            (3, "a\n\n\nb"),
            (4, "shared   para"),  # normalized == doc 0's paragraph
        ],
        "doc_id long, text string",
    )
    got = {r["id"]: r for r in dedup_paragraphs(docs).collect()}
    assert got[0]["clean_text"] == "unique zero\nSHARED PARA\nalso unique"
    assert got[0]["removed_paras"] == 0
    assert got[1]["clean_text"] == "own text one"
    assert got[1]["removed_paras"] == 1
    assert got[2]["clean_text"] == "own two\nother"  # within-doc repeat
    assert got[3]["clean_text"] == "a\n\n\nb"        # empties untouched
    assert got[3]["kept_paras"] == 4
    assert got[4]["clean_text"] == "" and got[4]["removed_paras"] == 1
    # totals: kept + removed == paragraph count
    for r in got.values():
        assert r["kept_paras"] >= 0 and r["removed_paras"] >= 0


def test_dedup_paragraphs_noop_when_unique(spark):
    from fabstir_vectordb_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [(i, f"para {i} a\npara {i} b") for i in range(6)],
        "doc_id long, text string",
    )
    got = dedup_paragraphs(docs).collect()
    assert all(r["removed_paras"] == 0 for r in got)
    assert all(r["kept_paras"] == 2 for r in got)
