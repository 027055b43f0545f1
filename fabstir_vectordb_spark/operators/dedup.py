"""Deduplication operators for training-data pipelines (100 TB design).

Four families, each a different cost/recall point:

  exact_dedup          hash-groupBy on a content fingerprint — one shuffle
                       on the hash, map-side partial agg.
  ngram_jaccard_pairs  inverted-index self-join on word shingles: only
                       docs SHARING a shingle ever meet (no N^2), then
                       exact Jaccard on the candidate pairs.
  minhash_lsh_pairs    MinHash signatures (H seeded re-hashes of xxhash64
                       shingle hashes) -> LSH banding -> bucket join ->
                       exact-Jaccard verify.  The classic sub-quadratic
                       near-dup path.
  simhash64            64-bit SimHash per doc + banded Hamming-distance
                       pairing (bit_count(xor) <= radius).

Plus embedding_near_dup: cosine-similarity pairs over an embedding
column — brute against a broadcast matrix for exactness, or
cluster-bucketed (IVF assignment) so only same-cluster pairs are
compared at scale.

The Python kernels cross the Arrow boundary (``mapInArrow`` /
``applyInArrow``, no pandas): the MinHash signature and SimHash vote
kernels read their ``list<bigint>`` hash column through one parse,
``_hash_lists``, and the brute and cluster near-dup kernels emit pairs
through one body, ``_cosine_pairs``, reading vectors through
``_arrow.matrix`` (a null or ragged vector raises, naming the column).

Scale notes: every operator here shuffles on a *derived small key*
(hash, shingle, band, cluster) — never on raw text; skew from hot
shingles is capped with a frequency cutoff (`max_shingle_freq`), the
standard stop-shingle trick.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fabstir_vectordb_spark.functions.text import (
    fingerprint,
    whitespace_tokens,
    word_shingles,
    word_shingles_from,
)
from fabstir_vectordb_spark.operators import _arrow
from fabstir_vectordb_spark.operators.hnsw import _splitmix64


def _parallelize(df: DataFrame) -> DataFrame:
    """Spread a low-partition-count input across the cluster.

    Small single-file tables arrive as 1 scan partition, serializing the
    expensive per-row work (shingling, hashing) onto one core.  At real
    scale inputs arrive in many files/row-groups and this is a no-op; the
    repartition only fires when scan parallelism is clearly below the
    cluster's, so we never add a raw-text shuffle to an already-parallel
    plan."""
    from fabstir_vectordb_spark.operators._plan import scan_partitions

    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if scan_partitions(df) < max(2, target // 2):
        return df.repartition(target)
    return df


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, __shingles) with the token split materialized BEHIND an
    exchange: tokenize -> repartition -> shingle.  The barrier stops
    CollapseProject from re-inlining the regex split into every
    element_at of the shingle lambda (which costs O(tokens * n) splits
    per row), and simultaneously spreads single-file inputs across the
    cluster.

    Emits only rows with >= n tokens (exactly the rows whose shingle set
    is non-empty).  The filter is expressed on the token count, NOT on
    size(__shingles): a shingle-level filter gets predicate-pushed below
    the exchange, re-inlining the whole shingle expression into the
    narrow pre-shuffle stage — the exact pathology the barrier exists to
    prevent."""
    toks = (
        df.select(
            F.col(id_col).alias("id"), whitespace_tokens(text_col).alias("__toks")
        )
        .filter(F.size("__toks") >= n)
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    return toks.select("id", word_shingles_from("__toks", n).alias("__shingles"))


# ---------------------------------------------------------------- exact


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group by content fingerprint; keep min-id as canonical.

    Output: one row per input doc with (id, fingerprint, canonical_id,
    group_size, is_duplicate)."""
    w = Window.partitionBy("fingerprint")
    return (
        df.select(F.col(id_col).alias("id"), fingerprint(text_col).alias("fingerprint"))
        .withColumn("canonical_id", F.min("id").over(w))
        .withColumn("group_size", F.count("*").over(w))
        .withColumn("is_duplicate", F.col("id") != F.col("canonical_id"))
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per identical text."""
    w = Window.partitionBy(fingerprint(text_col)).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# -------------------------------------------------------- n-gram Jaccard


def _shingle_table(
    df: DataFrame, text_col: str, id_col: str, n: int, max_shingle_freq: int | None
) -> DataFrame:
    sh = _shingled(df, text_col, id_col, n).select(
        "id", F.explode("__shingles").alias("shingle")
    )
    if max_shingle_freq is not None:
        # stop-shingle cutoff: a shingle appearing in > max_shingle_freq docs
        # contributes candidate pairs quadratically — drop it (it cannot be
        # discriminative).  This is the skew guard at corpus scale.
        hot = (
            sh.groupBy("shingle").count()
            .filter(F.col("count") > max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    return sh


def hot_shingle_report(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Observability for the stop-shingle guard (no silent caps): one row
    per shingle the cutoff would drop — (shingle, n_docs, skipped_pairs),
    where skipped_pairs = n_docs*(n_docs-1)/2 is the candidate-join work
    the guard avoids.  Empty result = the guard is a no-op on this
    corpus and guarded results equal the exact all-pairs contract.
    Run this as a side audit; the guard itself stays count-free on the
    hot path."""
    sh = _shingled(df, text_col, id_col, n).select(
        "id", F.explode("__shingles").alias("shingle")
    )
    counts = sh.groupBy("shingle").agg(F.count("*").alias("n_docs"))
    if max_shingle_freq is not None:
        counts = counts.filter(F.col("n_docs") > max_shingle_freq)
    return counts.select(
        "shingle",
        "n_docs",
        (F.col("n_docs") * (F.col("n_docs") - 1) / 2).cast("long").alias(
            "skipped_pairs"
        ),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard >= threshold.

    `max_shingle_freq` defaults ON (1000): a shingle appearing in more
    docs than this (boilerplate) makes the candidate join quadratic and
    cannot be discriminative at a 0.8 threshold; the cutoff is the
    certified 100 TB configuration (q_dedup_guarded).  Pass None only
    for the strict all-pairs contract on small corpora.

    Inverted-index plan: explode shingles -> self-join on shingle ->
    count intersections per pair -> join per-doc set sizes ->
    |A∩B| / (|A|+|B|-|A∩B|).  Only candidate pairs (sharing >= 1
    shingle) are ever materialized.

    Output: (a_id, b_id, jaccard) with a_id < b_id, jaccard rounded 6.
    """
    sh = _shingle_table(df, text_col, id_col, n, max_shingle_freq).cache()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("a_id"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("id").alias("b_id"), F.col("n_shingles").alias("nb"))
    return (
        inter.join(sa, "a_id").join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ) + F.lit(0.0),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


# ---------------------------------------------------------- MinHash LSH


def _hash_lists(batch: pa.RecordBatch):
    """The one parse of the ``list<bigint>`` hash column ``__hs``, shared
    by the MinHash signature and SimHash vote kernels: ``(rows, hashes,
    starts, lens)``, where ``rows`` are the positions of the rows holding
    at least one hash (a null or empty list is dropped here, so it emits
    no row), ``hashes`` is their flat value buffer as ``uint64``, and row
    ``rows[i]``'s hashes are ``hashes[starts[i]:starts[i] + lens[i]]`` —
    the segments ``np.ufunc.reduceat`` folds per row."""
    col = batch.column("__hs")
    lens = col.value_lengths().fill_null(0).to_numpy().astype(np.int64)
    rows = np.flatnonzero(lens)
    lens = lens[rows]
    # flatten() skips null rows' backing values and honours slicing
    hashes = col.flatten().to_numpy().view(np.uint64)
    return rows, hashes, np.cumsum(lens) - lens, lens


def _keyed_batch(ids: pa.Array, rows: np.ndarray, name: str, values: pa.Array) -> pa.RecordBatch:
    """``(id, name)`` rows: the ids at ``rows`` taken from their Arrow
    column (so they keep its type), beside ``values``."""
    return pa.RecordBatch.from_arrays([ids.take(rows), values], names=["id", name])


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Sub-quadratic near-dup detection: band-bucket join on MinHash
    signatures, then EXACT Jaccard verification of candidates.

    `max_bucket_size` defaults ON (10k): one degenerate band bucket (all
    signatures agreeing on a band, e.g. a corpus-wide boilerplate
    template) would contribute size² candidate pairs; buckets past the
    cap are dropped.  Recall loss only touches pairs findable SOLELY via
    a >10k-member bucket — at b=16 bands a true near-dup pair almost
    surely shares several buckets.  Pass None for strict exhaustiveness
    on small corpora.

    With H=64, b=16 bands of r=4 rows, the S-curve midpoint is
    (1/16)^(1/4) ≈ 0.5 — pairs above `threshold` 0.8 are caught with
    probability >0.999; the exact-Jaccard verify then makes the OUTPUT
    (not just the candidates) deterministic: with `max_bucket_size=None`
    it equals ngram-Jaccard pairs at the same threshold whenever banding
    catches them (under the default cap, pairs findable ONLY via a
    >cap-member bucket may additionally be dropped).

    Plan shape (the scale path): each doc's shingles are hashed ONCE
    JVM-side (xxhash64), then one Arrow-batched kernel computes all H
    seeded min-hashes AND the band buckets per row — map-only, zero
    shuffle, no 64-column aggregate (which would blow the codegen method
    limit and fall back to interpreted aggregation).  Only the candidate
    join and verify join shuffle, and both on small derived keys.

    Output matches ngram_jaccard_pairs: (a_id, b_id, jaccard).
    """
    rows_per_band = num_hashes // bands
    base = _shingled(df, text_col, id_col, n)
    # hash each shingle string ONCE (JVM codegen), carry only fixed-width
    # 8-byte hashes into the kernel and the verify join — never raw text
    hashed = base.select(
        "id", F.transform("__shingles", lambda s: F.xxhash64(s)).alias("__hs")
    ).cache()

    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType, False),
            T.StructField("buckets", T.ArrayType(T.LongType(), False), False),
        ]
    )
    seeds = _splitmix64(np.arange(1, num_hashes + 1, dtype=np.uint64))

    def sig_kernel(batches):
        for batch in batches:
            rows, h, starts, _ = _hash_lists(batch)
            if not len(rows):
                continue
            # seeded re-hash + per-doc segmented min, one seed at a time:
            # the (total_shingles, H) matrix form allocates ~10 full-size
            # temporaries inside splitmix64 (hundreds of MB per batch);
            # the per-seed loop keeps the working set at one
            # shingle-count-sized column and is cache-resident
            sig = np.empty((len(rows), len(seeds)), dtype=np.uint64)
            for j, seed in enumerate(seeds):
                sig[:, j] = np.minimum.reduceat(_splitmix64(h ^ seed), starts)
            # fold r consecutive min-hashes into one bucket id per band
            buckets = np.empty((len(sig), bands), dtype=np.uint64)
            for b in range(bands):
                acc = _splitmix64(np.full(len(sig), b, dtype=np.uint64))
                for r in range(rows_per_band):
                    acc = _splitmix64(acc ^ sig[:, b * rows_per_band + r])
                buckets[:, b] = acc
            yield _keyed_batch(
                batch.column("id"), rows, "buckets", _arrow.lists(buckets.view(np.int64))
            )

    # cache: the self-join below reads `banded` TWICE — without the cache
    # each side re-runs the signature kernel over the whole corpus
    banded = (
        hashed.mapInArrow(sig_kernel, out_schema)
        .select("id", F.posexplode("buckets").alias("band", "bucket"))
        .cache()
    )
    banded = _prune_hot_buckets(banded, max_bucket_size)

    a = banded.alias("a")
    b_ = banded.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    # exact verify on the distinct-hash sets: Jaccard over 64-bit shingle
    # hashes equals Jaccard over shingles (collisions are ~2^-64).
    # Candidates are the tiny side post-LSH, so shuffle THEM (hash join
    # builds on cand) rather than re-shuffling the hash table twice.
    sa = hashed.select(F.col("id").alias("a_id"), F.col("__hs").alias("sa"))
    sb = hashed.select(F.col("id").alias("b_id"), F.col("__hs").alias("sb"))
    verified = cand.join(sa, "a_id").join(sb, "b_id")
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size(F.array_union("sa", "sb"))
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6) + F.lit(0.0))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


# -------------------------------------------------------------- SimHash


def simhash64(text: Column | str, n: int = 1) -> Column:
    """64-bit SimHash over token (or n-gram) hashes, as bigint.

    Per token: xxhash64 -> for each bit, +1/-1 vote; final bit = sign.
    Expressed as a single aggregate over a 64-wide counter array —
    all JVM-side."""
    sh = word_shingles(text, n) if n > 1 else F.array_distinct(
        F.split(F.trim(F.col(text) if isinstance(text, str) else text), r"\s+")
    )
    # hash each token once, then take 64 per-bit votes over the hash array
    hashes = F.transform(sh, lambda tok: F.xxhash64(tok))

    def _vote(bit: int):
        # closure factory: PySpark infers HOF arity from the lambda
        # signature, so the bit index must NOT be a lambda default arg
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    out = F.lit(0).cast("bigint")
    for b in range(64):
        vote = _vote(b)
        bit_value = (1 << b) if b < 63 else -(1 << 63)  # signed 64-bit top bit
        out = out.bitwiseOR(
            F.when(vote > 0, F.lit(bit_value).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        )
    return out


def simhash64_agg(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distributed SimHash, MAP-ONLY: tokenize + hash each distinct token
    once JVM-side (transform + xxhash64, whole-stage codegen), then one
    Arrow-batched kernel computes all 64 per-bit votes per doc.  For every
    non-null text the output equals the per-row `simhash64` expression
    (vote totals are order-independent); a null text has no tokens and
    gives no row (the expression gives 0 for it).  Zero shuffle — no
    explode/groupBy re-group of the token table, and no 64-aggregate
    column fan-out (which would blow the codegen method limit and fall
    back to interpreted aggregation).

    Output: (id, sim bigint)."""
    toks = F.array_distinct(
        F.split(F.trim(F.col(text_col)), r"\s+")
    )
    grouped = _parallelize(df.select(F.col(id_col).alias("id"), F.col(text_col))).select(
        "id", F.transform(toks, lambda t: F.xxhash64(t)).alias("__hs")
    )
    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType, False),
            T.StructField("sim", T.LongType(), False),
        ]
    )
    powers = np.uint64(1) << np.arange(64, dtype=np.uint64)

    def kernel(batches):
        # fully vectorized over the batch: per bit, a segmented sum
        # (reduceat) over the flat hashes — no per-doc Python loop
        for batch in batches:
            rows, h, starts, lens = _hash_lists(batch)
            if not len(rows):
                continue
            # per-bit column loop: the (hashes x 64) matrix form allocates
            # several hundred-MB temporaries per batch; one bit-column at
            # a time keeps the working set cache-resident (same fix as
            # the minhash signature kernel)
            ones = np.empty((len(rows), 64), dtype=np.int64)
            for b in range(64):
                col = (h >> np.uint64(b)) & np.uint64(1)
                ones[:, b] = np.add.reduceat(col.view(np.int64), starts)
            votes = 2 * ones - lens[:, None]  # (+1/-1 votes summed)
            sims = (powers[None, :] * (votes > 0)).sum(axis=1, dtype=np.uint64)
            yield _keyed_batch(batch.column("id"), rows, "sim", pa.array(sims.view(np.int64)))

    return grouped.mapInArrow(kernel, out_schema)


def _prune_hot_buckets(
    banded: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """Skew guard for band-bucket self-joins: a bucket of m members emits
    ~m^2/2 candidate pairs, so one degenerate bucket (mass-duplicated
    boilerplate, adversarial corpora) turns the sub-quadratic plan
    quadratic.  With a cutoff set, oversized buckets are dropped before
    the join — their members are better handled by exact_dedup first
    (identical texts) or remain catchable via their other bands.
    None (passthrough) preserves the exact all-pairs contract; the
    public entry point defaults the cutoff ON (minhash_lsh_pairs)."""
    if max_bucket_size is None:
        return banded
    # cache the (tiny, usually empty) oversized-bucket list: every caller
    # SELF-JOINS the pruned table, which physically duplicates this
    # subtree — without the cache the full bucket-count aggregate runs
    # once per join side (seen as two HashAggregate+Exchange pairs in the
    # simhash/minhash plans); with it the aggregate runs once and both
    # sides anti-join against the in-memory list.
    big = (
        banded.groupBy("band", "bucket")
        .count()
        .filter(F.col("count") > max_bucket_size)
        .select("band", "bucket")
        .cache()
    )
    return banded.join(F.broadcast(big), ["band", "bucket"], "left_anti")


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Hamming-near pairs via 4x16-bit band exact-match + bit_count verify.

    Any pair within Hamming distance 3 must agree exactly on at least one
    of four 16-bit bands (pigeonhole) — so the bucket join finds all of
    them without an N^2 compare.

    ``max_bucket_size`` defaults ON (10,000 — same as minhash_lsh_pairs):
    a degenerate corpus where one 16-bit band value is shared by m docs
    emits ~m^2/2 candidate pairs, so oversized band-buckets are dropped
    before the join (their members remain catchable via their other
    bands, and identical texts belong to exact_dedup first).  Pass None
    for the exact all-pairs contract on trusted-size inputs.
    """
    sh = simhash64_agg(df, text_col=text_col, id_col=id_col)
    bands = F.array(
        *[
            F.shiftright("sim", b * 16).bitwiseAND(F.lit(0xFFFF)).cast("bigint")
            for b in range(4)
        ]
    )
    # cache: the self-join reads this twice — without it each side re-runs
    # the simhash kernel over the whole corpus
    banded = sh.select(
        "id", "sim", F.posexplode(bands).alias("band", "bucket")
    ).cache()
    banded = _prune_hot_buckets(banded, max_bucket_size)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("a_id", "b_id", "hamming")


# ------------------------------------- canonicalization (connected comps)


def canonicalize_pairs(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph — the step that
    turns (a_id, b_id) pair output (MinHash/SimHash/Jaccard) into an
    actionable dedup verdict, mirroring exact_dedup's output shape
    (reference analogue: SearchResult dedup keeps min per id,
    src/core/types.rs:206-223; SURVEY §7.2 step 9).

    Iterative min-label propagation: label(v) starts as v, then each
    round takes the min label over v's neighborhood.  Pure joins + one
    small aggregate per round — no driver-side graph, no collect; the
    iteration count is bounded by the component diameter (near-dup
    groups are near-cliques, so 2-3 rounds in practice).  Lineage is
    truncated each round with localCheckpoint so plans don't grow
    exponentially.

    `nodes` is the full id universe (singletons included).
    Output: (id, canonical_id, group_size, is_duplicate).
    """
    ids = nodes.select(F.col(id_col).alias("id")).distinct()
    # symmetric closure in ONE pass over the pair graph: explode each
    # pair into both directions.  (The former union-of-two-selects read
    # the `pairs` subtree — the expensive LSH join+verify — once per
    # union branch; explode reads it once.)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
                    ),
                    F.struct(
                        F.col("b_id").alias("src"), F.col("a_id").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        # no distinct: min-label propagation is idempotent over duplicate
        # edges (min over a multiset), so deduplicating here bought
        # nothing but a full exchange + two hash aggregates inside the
        # first convergence job.  Duplicate-edge inputs only make the
        # per-round joins proportionally larger, never wrong; pair
        # producers in this package emit each (a < b) pair once anyway.
        # lazy: materialized by the first round's convergence count, so
        # the truncation costs no extra driver-blocking job
        .localCheckpoint(eager=False)
    )
    # iterate over EDGE-INVOLVED nodes only: a node with no pair edge can
    # never change its label, and near-dup pair sets are a small fraction
    # of the corpus — the per-round joins shrink from |corpus| to
    # |touched nodes|; singletons rejoin at the end via coalesce.
    #
    # Round 1 is UNROLLED into the initialization: with identity labels,
    # min-over-neighborhood is just least(min(src), dst) grouped by dst
    # (the graph is symmetric, so every edge-involved node appears as
    # dst) — one aggregate instead of a join + aggregate + left-join +
    # convergence count.  Near-dup components are near-cliques, so this
    # often leaves only the single verification round in the loop.
    labels = (
        edges.groupBy("dst")
        .agg(F.min("src").alias("__m"))
        .select(
            F.col("dst").alias("id"),
            F.least("__m", "dst").alias("label"),
        )
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        # the changed flag rides the update row itself, and the lineage-
        # truncating checkpoint is LAZY: one count() both materializes the
        # round's labels and answers the convergence question — the former
        # eager-checkpoint-then-join-old-vs-new shape ran two driver-
        # blocking jobs plus an extra join per round for the same answer.
        new_label = F.least(F.col("label"), F.coalesce("nlabel", "label"))
        updated = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                new_label.alias("label"),
                (new_label != F.col("label")).alias("__chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = updated.filter(F.col("__chg")).count()
        labels = updated.select("id", "label")
        if changed == 0:
            break
    w = Window.partitionBy("canonical_id")
    return (
        ids.join(labels, "id", "left")
        .select("id", F.coalesce("label", F.col("id")).alias("canonical_id"))
        .withColumn("group_size", F.count("*").over(w))
        .withColumn("is_duplicate", F.col("id") != F.col("canonical_id"))
    )


# ------------------------------------------------- embedding near-dup


def _pairs_schema(id_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("a_id", id_type, False),
            T.StructField("b_id", id_type, False),
            T.StructField("cosine", T.DoubleType(), False),
        ]
    )


def _cosine_pairs(
    A: np.ndarray, a_keys: np.ndarray, B: np.ndarray, b_keys: np.ndarray, threshold: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The one near-dup pair body of the brute and cluster kernels: every
    row of ``A`` against every row of ``B`` by cosine — raw GEMM /
    outer(norms), 0 where a norm is 0, rounded to 6 — keeping the pairs
    whose ``b_keys`` entry is above the ``a_keys`` one (each unordered
    pair once, never a row with itself) at a cosine of at least
    ``threshold``.  Row-chunked, so the largest temporary is a
    (chunk x len(B)) slab however many rows ``A`` holds.  Returns
    (A position, B position, cosine) arrays, one entry per pair."""
    na = np.linalg.norm(A, axis=1)
    nb = np.linalg.norm(B, axis=1)
    chunk = max(16, 4_000_000 // max(len(B), 1))
    out_a, out_b, out_c = [np.empty(0, np.int64)], [np.empty(0, np.int64)], [np.empty(0)]
    for s in range(0, len(A), chunk):
        e = min(s + chunk, len(A))
        denom = np.outer(na[s:e], nb)
        sims = np.divide(A[s:e] @ B.T, denom, out=np.zeros_like(denom), where=denom != 0.0)
        simr = np.round(sims, 6) + 0.0
        i, j = np.nonzero((b_keys[None, :] > a_keys[s:e, None]) & (simr >= threshold))
        out_a.append(i + s)
        out_b.append(j)
        out_c.append(simr[i, j])
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_c)


def _pairs_table(a_ids: pa.Array, b_ids: pa.Array, i, j, cos: np.ndarray) -> dict:
    """The ``(a_id, b_id, cosine)`` columns of ``_cosine_pairs``' output,
    the ids taken from their Arrow columns."""
    return {"a_id": a_ids.take(i), "b_id": b_ids.take(j), "cosine": pa.array(cos)}


def _brute_pairs(
    rows: DataFrame, pulled: pa.Table, threshold: float, id_col: str, vector_col: str
) -> DataFrame:
    """Map-only exact all-pairs over the ``(id_col, vector_col)`` frame
    ``rows``: ``pulled`` (``rows`` collected as one Arrow table, the small
    side) is broadcast, and each Arrow batch of ``rows`` runs
    ``_cosine_pairs`` against its whole matrix, emitting only pairs over
    threshold — zero shuffle, no N^2 row materialization.  Same
    small-side assumption as brute_force_knn; the cluster method is the
    unbounded-N path."""
    ids_all = pulled.column(0).combine_chunks()
    bc = rows.sparkSession.sparkContext.broadcast(
        (ids_all, _arrow.matrix(pulled.column(1), vector_col))
    )

    def kernel(batches):
        ids_l, M = bc.value
        keys_l = _arrow.sort_keys(ids_l)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(id_col)
            V = _arrow.matrix(batch.column(vector_col), vector_col)
            pairs = _cosine_pairs(V, _arrow.sort_keys(ids), M, keys_l, threshold)
            yield pa.RecordBatch.from_pydict(_pairs_table(ids, ids_l, *pairs))

    return _parallelize(rows).mapInArrow(kernel, _pairs_schema(rows.schema[id_col].dataType))


def _cluster_pairs(assigned: DataFrame, threshold: float, vector_col: str) -> DataFrame:
    """Same-cluster cosine pairs: one ``applyInArrow`` task per cluster
    runs ``_cosine_pairs`` of the cluster against itself.

    A declarative self-join would evaluate the cosine as an interpreted
    higher-order function per candidate pair (HOFs never enter
    whole-stage codegen) — measured ~300 s for 200k vectors / 45M
    within-cluster pairs where this kernel takes seconds.  The pair body
    is row-chunked, so a giant cluster's similarity matrix never
    materializes whole."""

    def cluster_pairs(group: pa.Table) -> pa.Table:
        ids = group.column("id").combine_chunks()
        V = _arrow.matrix(group.column(vector_col), vector_col)
        keys = _arrow.sort_keys(ids)
        return pa.table(_pairs_table(ids, ids, *_cosine_pairs(V, keys, V, keys, threshold)))

    return assigned.groupBy("cluster_id").applyInArrow(
        cluster_pairs, _pairs_schema(assigned.schema["id"].dataType)
    )


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    method: str = "auto",
    ivf_index=None,
    brute_force_limit: int = 100_000,
) -> DataFrame:
    """Cosine-similar pairs over an embedding column.

    method="auto" (default): decide with one capped pull of the
    ``(id, vector)`` rows, ``limit(brute_force_limit + 1).toArrow()`` —
    at most ``brute_force_limit`` rows run exact brute force on the
    pulled table, more run cluster-pruned (fitting an IVF index, sized
    by one count, if none is supplied).  The cap exists so the exact
    path's driver-side matrix broadcast can never be pointed at an
    unbounded table.
    method="brute": exact all-pairs via the broadcast numpy kernel (use
    under ~100k rows; within that regime it is map-only — no shuffle).
    method="cluster": prune with an IVFIndex — only same-cluster pairs
    are compared (the 100 TB path; recall depends on cluster
    granularity, measured by the recall harness).

    Both kernels read vectors through ``_arrow.matrix``: a null vector,
    a null element or a vector of another length raises ``ValueError``
    naming ``vector_col``.

    Output: (a_id, b_id, cosine) with a_id < b_id, rounded 6.
    """
    rows = df.select(id_col, vector_col)
    if method == "auto":
        pulled = rows.limit(brute_force_limit + 1).toArrow()
        if pulled.num_rows <= brute_force_limit:
            return _brute_pairs(rows, pulled, threshold, id_col, vector_col)
        method = "cluster"
        if ivf_index is None:
            import math

            from fabstir_vectordb_spark.operators.ivf import IVFIndex

            ivf_index = IVFIndex.fit(
                df,
                n_clusters=max(16, int(math.isqrt(df.count()))),
                seed=42,
                id_col=id_col,
                vector_col=vector_col,
            )
    if method == "brute":
        return _brute_pairs(rows, rows.toArrow(), threshold, id_col, vector_col)
    if method != "cluster":
        raise ValueError(f"unknown method {method!r}")
    if ivf_index is None:
        raise ValueError("method='cluster' requires ivf_index")
    assigned = ivf_index.assign(rows.withColumnRenamed(id_col, "id"))
    return _cluster_pairs(assigned, threshold, vector_col)


# ---------------------------------------------------------------------------
# line-level boilerplate removal (training-data curation)
# ---------------------------------------------------------------------------

def line_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_doc_freq: int = 2,
) -> DataFrame:
    """(line, df): distinct-document frequency of every line occurring in
    at least ``min_doc_freq`` documents.  One explode + one map-side-
    combined aggregation; the filter keeps only the hot tail, so the
    result is tiny by construction (a line with df >= F can contribute at
    most total_lines / F rows)."""
    lines = docs.select(
        F.col(id_col).alias("__id"),
        # \Q...\E quotes the separator: F.split takes a REGEX, and the
        # caller means a literal delimiter
        F.explode(
            F.split(F.col(text_col), F.lit("\\Q" + sep + "\\E"), -1)
        ).alias("line"),
    )
    return (
        lines.groupBy("line")
        .agg(F.countDistinct("__id").alias("df"))
        .filter(F.col("df") >= int(min_doc_freq))
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    min_doc_freq: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Line-level boilerplate removal — the curation pass LLM pipelines
    run before document-level dedup (C4's line filters, RefinedWeb;
    closest reference analogue: none — this is extension surface like
    the rest of the dedup family): a line appearing in >= ``min_doc_freq``
    DISTINCT documents (nav bars, cookie banners, footers) is dropped
    from every document; line order is otherwise preserved.

    100 TB shape: the hot-line table is computed with one exploded
    aggregation and is tiny by construction (df >= F bounds its size by
    total_lines / F), so it broadcasts; the removal itself is then a
    whole-stage-codegen HOF filter over each document's split array —
    NO explode of the corpus on the removal path, no reassembly shuffle,
    no Python.  Output: (id, clean_text, kept_lines, removed_lines).
    """
    hot = line_frequencies(
        docs, text_col=text_col, id_col=id_col, sep=sep, min_doc_freq=min_doc_freq
    )
    # single-row broadcast side: the hot lines as one sorted array
    hot_arr = F.broadcast(
        hot.agg(F.array_sort(F.collect_list("line")).alias("__hot"))
    )
    split_col = F.split(F.col(text_col), F.lit("\\Q" + sep + "\\E"), -1)
    return (
        docs.crossJoin(hot_arr)
        .select(
            F.col(id_col).alias("id"),
            split_col.alias("__lines"),
            F.col("__hot"),
        )
        .select(
            "id",
            F.filter(
                "__lines", lambda x: ~F.array_contains(F.col("__hot"), x)
            ).alias("__kept"),
            F.size("__lines").alias("__total"),
        )
        .select(
            "id",
            F.array_join("__kept", sep).alias("clean_text"),
            F.size("__kept").alias("kept_lines"),
            (F.col("__total") - F.size("__kept")).alias("removed_lines"),
        )
    )


def dedup_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Exact paragraph-level dedup with KEEP-FIRST semantics (the
    RefinedWeb / MassiveText granularity between line-level boilerplate
    and document-level dedup): a paragraph whose normalized fingerprint
    occurs more than once corpus-wide is kept only at its FIRST
    occurrence — min (doc id, position) — and removed everywhere else,
    including repeats inside one document.  Empty / whitespace-only
    paragraphs are structure, not content: never fingerprinted, never
    removed.  Paragraph order is otherwise preserved.

    Distinct from remove_boilerplate_lines (which drops a hot line from
    EVERY document once its doc-frequency crosses a threshold): here
    the first occurrence always survives, so unique content that later
    gets scraped into other pages is deduplicated without being lost.

    100 TB shape: the corpus TEXT never shuffles.  One explode carries
    only (id, pos, 16-byte fingerprint) into the keep-first aggregation
    (one exchange keyed on the fingerprint); losers collapse to per-doc
    drop-position arrays (bounded by each doc's paragraph count) that
    join back on id; the rebuild is an index-aware HOF filter over the
    document's own split array — whole-stage codegen, no Python.

    Output: (id, clean_text, kept_paras, removed_paras).
    """
    from fabstir_vectordb_spark.functions.text import normalized_text

    split_col = F.split(F.col(text_col), F.lit("\\Q" + sep + "\\E"), -1)
    base = docs.select(F.col(id_col).alias("id"), split_col.alias("__paras"))
    paras = (
        base.select(
            "id", F.posexplode("__paras").alias("pos", "__p")
        )
        # the content gate uses the SAME normalization as the
        # fingerprint (F.trim strips spaces only — a tab-only paragraph
        # would otherwise pass the gate yet fingerprint as md5("") and
        # get keep-first-deduped, violating the structure contract)
        .select("id", "pos", normalized_text("__p").alias("__norm"))
        .filter(F.length("__norm") > 0)
        .select("id", "pos", F.md5("__norm").alias("__fp"))
    )
    w = Window.partitionBy("__fp").orderBy("id", "pos")
    drops = (
        paras.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .groupBy("id")
        .agg(F.collect_set("pos").alias("__drop"))
    )
    return (
        base.join(drops, "id", "left")
        .select(
            "id",
            F.filter(
                "__paras",
                lambda x, i: F.when(
                    F.col("__drop").isNull(), F.lit(True)
                ).otherwise(~F.array_contains(F.col("__drop"), i)),
            ).alias("__kept"),
            F.size("__paras").alias("__total"),
        )
        .select(
            "id",
            F.array_join("__kept", sep).alias("clean_text"),
            F.size("__kept").alias("kept_paras"),
            (F.col("__total") - F.size("__kept")).alias("removed_paras"),
        )
    )


# ----------------------------------------------- benchmark decontamination


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Flag training documents that overlap a held-out evaluation set by
    word ``n``-gram collision — the standard pretraining decontamination
    gate (the n-gram test-set-overlap procedure described publicly for
    GPT-3 appendix C / Llama / PaLM data pipelines; n=13 is the
    customary window).  The reference engine has no text surface; this
    belongs to the LLM-pipeline extension axis (SURVEY §2.8).

    A doc is ``contaminated`` when >= ``min_hits`` DISTINCT of its
    n-grams appear anywhere in the benchmark.  Output: one row per input
    doc — (id, n_hits, contaminated) — so the gate composes with the
    corpus funnel like any other signal.

    100 TB shape: the benchmark side is the SMALL side by definition
    (eval sets are thousands of docs, the corpus is billions), so its
    distinct n-gram hash set broadcasts; corpus n-grams are map-only
    projections (tokenize-once barrier, xxhash64 — raw shingle strings
    never shuffle) that meet the broadcast in a hash join, and ONLY the
    matching (id, hash) rows — bounded by corpus_hits, not corpus size —
    enter the per-doc aggregation.  Clean docs never leave their scan
    stage except as the final left-join's id projection.
    """
    doc_sh = _shingled(docs, text_col, id_col, n).select(
        "id", F.explode("__shingles").alias("__sh")
    ).select("id", F.xxhash64("__sh").alias("__h"))
    # the benchmark needs no id column — only its n-gram set matters
    bench = benchmark.select(F.col(bench_text_col).alias("__btxt")).withColumn(
        "__bid", F.monotonically_increasing_id()
    )
    bench_sh = (
        _shingled(bench, "__btxt", "__bid", n)
        .select(F.explode("__shingles").alias("__sh"))
        .select(F.xxhash64("__sh").alias("__h"))
        .distinct()
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "__h")
        .groupBy("id")
        .agg(F.countDistinct("__h").alias("n_hits"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def remove_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Filter variant of :func:`decontaminate`: return only the clean
    rows of ``docs``, all columns intact."""
    flags = decontaminate(
        docs, benchmark, n=n, min_hits=min_hits,
        id_col=id_col, text_col=text_col, bench_text_col=bench_text_col,
    )
    keep = flags.filter(~F.col("contaminated")).select(F.col("id").alias(id_col))
    return docs.join(keep, id_col, "left_semi")


def _span_frames(
    docs: DataFrame,
    span_tokens: int,
    min_occurrences: int,
    id_col: str,
    text_col: str,
):
    """Shared core of the repeated-substring family: returns
    ``(toks, spans)`` where ``toks`` is (id, __t token array) behind the
    conditional parallelize spread and ``spans`` is one row per maximal
    duplicated span (id, s, e) — L-token window hashes, corpus-wide
    occurrence counting, hot-window rejoin, gaps-and-islands merge."""
    if span_tokens < 1:
        raise ValueError(f"span_tokens must be >= 1, got {span_tokens}")
    if min_occurrences < 2:
        raise ValueError(f"min_occurrences must be >= 2, got {min_occurrences}")
    L = int(span_tokens)
    toks = _parallelize(
        docs.select(
            F.col(id_col).alias("id"), whitespace_tokens(text_col).alias("__t")
        )
    )
    # whitespace-only text tokenizes to [''] (the engine-wide n_tokens=1
    # convention) — but an empty document shares no CONTENT with another
    # empty document, so window emission treats it as having no tokens;
    # without this, L=1 would cross-flag every pair of empty docs via
    # the shared md5('') window
    empty = (F.size("__t") == 1) & (F.element_at("__t", 1) == "")
    wins = toks.select(
        "id",
        F.explode(
            F.when(
                (F.size("__t") >= L) & ~empty,
                F.transform(
                    F.sequence(F.lit(0), F.size("__t") - L),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(
                            F.concat_ws(" ", F.slice("__t", i + 1, L))
                        ).alias("h"),
                    ),
                ),
            ).otherwise(F.array())
        ).alias("w"),
    ).select("id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    hot = (
        wins.groupBy("h")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= min_occurrences)
        .select("h")
    )
    dup = wins.join(hot, "h").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + L).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        dup.withColumn(
            "__new",
            (F.col("pos") > F.coalesce(prev_max_end, F.lit(-1))).cast("long"),
        )
        .withColumn("__island", F.sum("__new").over(w))
        .groupBy("id", "__island")
        .agg(F.min("pos").alias("s"), F.max(F.col("pos") + L).alias("e"))
        .select("id", "s", "e")
    )
    return toks, spans


def duplicated_spans(
    docs: DataFrame,
    span_tokens: int = 20,
    min_occurrences: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document repeated-substring detection — the public
    "deduplicating training data" procedure (Lee et al., ACL 2022) at
    token granularity: any ``span_tokens``-token window whose content
    occurs ``min_occurrences``+ times ANYWHERE in the corpus marks its
    tokens as duplicated, and overlapping duplicated windows merge into
    maximal spans.  This catches what document-level dedup cannot:
    boilerplate paragraphs, licence blocks, and quoted chunks embedded
    inside otherwise-unique documents.

    Output, one row per input document:
      (id, n_tokens, dup_tokens, n_dup_spans, dup_ratio)
    where ``dup_tokens`` is the size of the union of duplicated windows
    and ``n_dup_spans`` the count of maximal merged spans.  Feed
    ``dup_ratio`` to a gate, or use :func:`remove_duplicated_spans` to
    trim.

    Scale shape (all derived small keys, never raw text):
      1. one tokenize projection + window explode — each position emits
         a single md5 of its window (position list, not text, flows on);
      2. occurrence counting is a hash aggregation on the md5 (map-side
         partial; shuffled volume = distinct windows);
      3. hot windows rejoin the (id, pos, hash) stream on the hash —
         a plain hash join AQE can skew-split;
      4. span merging is gaps-and-islands per document: a window keyed
         by doc id over at most len-L+1 narrow rows — high-cardinality
         partition key, no global sort.
    The whole computation is SQL-replayable (certified as
    doc_fingerprint's dup columns).
    """
    toks, spans = _span_frames(
        docs, span_tokens, min_occurrences, id_col, text_col
    )
    per_doc = spans.groupBy("id").agg(
        F.sum(F.col("e") - F.col("s")).cast("long").alias("dup_tokens"),
        F.count("*").cast("long").alias("n_dup_spans"),
    )
    return (
        toks.select("id", F.size("__t").cast("long").alias("n_tokens"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.when(F.col("n_tokens") > 0,
                   F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"))
            .otherwise(F.lit(0.0)).alias("dup_ratio"),
        )
    )


def remove_duplicated_spans(
    docs: DataFrame,
    span_tokens: int = 20,
    min_occurrences: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """Trimming variant of :func:`duplicated_spans`: rebuild each
    document with its duplicated-span tokens removed (Lee et al.'s
    actual dedup step — one copy could be kept corpus-wide, but the
    simple every-occurrence trim is what bounds memorization).

    Output: (id, out_col, n_tokens, dup_tokens).  The rebuild filters
    each doc's token array through its own span list with a codegen HOF
    (no second explode of the corpus); span lists ride along as a small
    array column after a per-doc aggregation.
    """
    toks, spans = _span_frames(
        docs, span_tokens, min_occurrences, id_col, text_col
    )
    span_lists = spans.groupBy("id").agg(
        F.collect_list(F.struct("s", "e")).alias("__spans")
    )
    joined = toks.join(span_lists, "id", "left").withColumn(
        "__spans", F.coalesce("__spans", F.array())
    )
    covered = lambda i: F.exists(  # noqa: E731 — local plan builder
        F.col("__spans"), lambda sp: (i >= sp["s"]) & (i < sp["e"])
    )
    kept = F.filter(
        F.col("__t"), lambda t, i: ~covered(i)
    )
    return joined.select(
        "id",
        F.concat_ws(" ", kept).alias(out_col),
        F.size("__t").cast("long").alias("n_tokens"),
        F.aggregate(
            F.col("__spans"), F.lit(0).cast("long"),
            lambda acc, sp: acc + (sp["e"] - sp["s"]).cast("long"),
        ).alias("dup_tokens"),
        F.size("__spans").cast("long").alias("n_dup_spans"),
    )
