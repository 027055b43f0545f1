"""Distance / vector-math kernels as Catalyst column expressions.

Parity targets (reference, public repo Fabstir/fabstir-vectordb):
  dot product            src/core/vector_ops.rs:35-37
  cosine similarity      src/core/vector_ops.rs:39-49 (0-guard -> 0.0)
  euclidean (L2)         src/core/vector_ops.rs:51-57
  magnitude/normalize    src/core/types.rs:66-77
  angular distance       src/core/vector_ops.rs:592-596 (clamp cos to [-1,1])
  inner-product->cosine  src/core/vector_ops.rs:581-590
  scalar quantization u8 src/core/vector_ops.rs:349-387
  score = 1/(1+d)        bindings/node/src/session.rs:291,328

All functions return pure Column expressions built from higher-order
functions (zip_with / aggregate / transform) so they stay inside
whole-stage codegen — no Python in the hot path.  The reference's AVX2
SIMD kernels (vector_ops.rs:60-136) are intentionally not ported:
Tungsten codegen plus the Arrow-batched numpy kernel in operators/knn.py
are the Spark-idiomatic vectorization.

Elements are cast to double before arithmetic so results are stable
across engines (the storage type is float32).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product <a, b> as a sequential double fold."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def squared_l2(a: Column | str, b: Column | str) -> Column:
    diffs = F.zip_with(
        _c(a), _c(b),
        lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def l2_distance(a: Column | str, b: Column | str) -> Column:
    """Euclidean distance (the core HNSW/IVF metric)."""
    return F.sqrt(squared_l2(a, b))


def norm(a: Column | str) -> Column:
    """L2 magnitude (types.rs:66-69)."""
    return F.sqrt(dot(a, a))


def normalize(a: Column | str) -> Column:
    """Unit-normalize; zero vector maps to itself (types.rs:71-77)."""
    a = _c(a)
    n = norm(a)
    return F.when(n == 0.0, a.cast("array<double>")).otherwise(
        F.transform(a, lambda x: x.cast("double") / n)
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a,b); either norm zero => 0.0, not NaN (vector_ops.rs:39-49)."""
    a, b = _c(a), _c(b)
    denom = norm(a) * norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """1 - cosine similarity (the WASM index metric, bindings/wasm/src/index.rs:131-137)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def angular_distance(a: Column | str, b: Column | str) -> Column:
    """acos of cosine clamped into [-1, 1] (vector_ops.rs:592-596)."""
    cos = cosine_similarity(a, b)
    return F.acos(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), cos)))


def inner_product_to_cosine(ip: Column | str, norm_a: Column | str, norm_b: Column | str) -> Column:
    """Correct a raw inner product into cosine given the norms (vector_ops.rs:581-590)."""
    ip, na, nb = _c(ip), _c(norm_a), _c(norm_b)
    denom = na * nb
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(ip / denom)


def similarity_score(distance: Column | str) -> Column:
    """The session/REST API score: 1 / (1 + euclidean_distance)."""
    return F.lit(1.0) / (F.lit(1.0) + _c(distance))


# --- scalar quantization (optional feature, vector_ops.rs:349-387) -----------

def quantize_u8(a: Column | str, lo: Column | str, hi: Column | str) -> Column:
    """Affine min/max scalar quantization to u8 codes (stored as array<int>)."""
    a, lo, hi = _c(a), _c(lo), _c(hi)
    span = F.when(hi - lo == 0.0, F.lit(1.0)).otherwise(hi - lo)
    return F.transform(
        a,
        lambda x: F.round((x.cast("double") - lo) / span * 255.0).cast("int"),
    )


def dequantize_u8(codes: Column | str, lo: Column | str, hi: Column | str) -> Column:
    codes, lo, hi = _c(codes), _c(lo), _c(hi)
    span = F.when(hi - lo == 0.0, F.lit(1.0)).otherwise(hi - lo)
    return F.transform(codes, lambda c: c.cast("double") / 255.0 * span + lo)


def vector_min(a: Column | str) -> Column:
    return F.array_min(_c(a)).cast("double")


def vector_max(a: Column | str) -> Column:
    return F.array_max(_c(a)).cast("double")
